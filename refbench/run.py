"""Reference-pipeline benchmark: indexing a sheets folder and answering
semantic queries, with the sheet agent's tool calls traced per layer.

    python3 refbench/run.py --workload {ingest,search} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. One process, one client, one op in
flight (a closed loop) on local[nproc]. The inputs are generated from
the seed; every op's output is checked outside the timed region. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it records
the environment. All scratch files live under ``.refbench_work/`` in
the repository root and are removed at exit, except the span files
of traced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

#: the driver JVM heap, pinned (-Xms = -Xmx) so runs do not differ in
#: heap sizing
DRIVER_MEMORY = "1g"
#: no op, ladder or agent set-up starts after this many seconds of
#: wall clock, so a run on a slowed machine still ends within 180 s
WALL_LIMIT_S = 150
#: the traced agent part starts only with this much time left before
#: the wall limit (set-up of the store plus its untraced turn)
AGENT_START_S = 40
#: prefix-chain ladders timed per traced ingest run (per-layer medians)
LADDERS = 3
#: traced agent turns per traced ingest run, after one untraced turn
AGENT_TURNS = 2
AGENT_OP0 = 1_000_000


def pin_environment(run_dir: str, cpus: int, trace: bool) -> dict:
    """Environment of the program under test: SPARK_GRAFT_CPUS = nproc,
    no shuffle or advisory override, pinned driver memory, and every
    scratch path of Spark, the JVM and Python inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    for var in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_ADVISORY"):
        os.environ.pop(var, None)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    args = [
        "--conf", f"spark.local.dir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+AlwaysPreTouch -Xms{DRIVER_MEMORY}",
    ]
    log_dir = None
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir={log_dir}",
                 "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return {"log_dir": log_dir}


class Counts:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []


def run_ops(wl, spark, tracers, counts, first: int, deadline: float,
            seconds: float = 0, n_ops: int = 0):
    """Closed loop, one op in flight, from op index ``first``: runs
    ``n_ops`` ops, or until the timed ops add up to ``seconds`` (and
    every tracer has had an op). Op k of the loop runs under
    ``tracers[k % len(tracers)]``. Returns the
    latencies (ms) of the ops that succeeded, one list per tracer, the
    next op index and the timed ms; failed ops are counted and timed
    but give no latency."""
    sc = spark.sparkContext
    lats: list[list[float]] = [[] for _ in tracers]
    timed = 0.0
    i = first

    def more() -> bool:
        if n_ops:
            return i - first < n_ops
        return timed < 1000 * seconds or i - first < len(tracers)

    while time.time() < deadline and more():
        which = (i - first) % len(tracers)
        tr = tracers[which]
        with tr.op(sc, i, wl.name):
            t0 = time.perf_counter()
            try:
                result, err = wl.op(i, tr), None
            except Exception:  # any exception is a failed op
                result, err = None, traceback.format_exc()
            dt = 1000 * (time.perf_counter() - t0)
        counts.attempted += 1
        timed += dt
        if err:
            counts.failed += 1
            print(f"op {i} failed:\n{err}", file=sys.stderr)
        else:
            mismatch = wl.check(i, result)
            if mismatch:
                counts.mismatches.append(mismatch)
                print(f"check failed: {mismatch}", file=sys.stderr)
            lats[which].append(dt)
        i += 1
    return lats, i, timed


def percentile(xs: list[float], p: int) -> float:
    """The p-th percentile, interpolated between samples; one sample is
    its own percentile."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def end_to_end(lat: list[float], timed_ms: float, setup_s: float, rss_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "op_p50_ms": percentile(lat, 50),
        "op_p90_ms": percentile(lat, 90),
        "ops_per_s": len(lat) / (timed_ms / 1000) if timed_ms else 0.0,
        "peak_rss_mb": rss_mb,
    }


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(wl, tr, jvm, events, layers, session_ms, overhead):
    """Per-layer figures of the traced ops, by the names in metrics.PER_LAYER."""
    from tracing import job_group

    w = wl.name
    ops = sorted(tr.jobs)
    groups = [events.get(job_group(i), {}) for i in ops]
    out = {
        f"{w}.session.start_ms": session_ms,
        f"{w}.jvm.gc_ms": jvm["gc_ms"],
        f"{w}.jvm.heap_peak_mb": jvm["heap_peak_mb"],
        f"{w}.trace.overhead_ms": overhead,
    }
    out.update({f"{w}.{k}": v for k, v in wl.setup_layers.items()})
    jobs = [tr.jobs[i] for i in ops]
    if w == "ingest":
        for k in layers[0] if layers else ():
            out[f"ingest.{k}"] = _med([d[k] for d in layers])
        out["ingest.text.chunks_per_cell"] = len(wl.expected_ids) / wl.n_cells
        out["ingest.spark.jobs"] = _med([j["jobs"] for j in jobs])
        out["ingest.spark.tasks"] = _med([j["tasks"] for j in jobs])
        out["ingest.spark.executor_run_ms"] = _med([g.get("run_ms", 0) for g in groups])
        out["ingest.spark.executor_cpu_ms"] = _med([g.get("cpu_ms", 0) for g in groups])
    elif w == "search":
        out["search.vector.embed_query_ms"] = _med(tr.durations("vector.embed_text_local"))
        out["search.similarity.build_ms"] = _med(tr.durations("similarity.semantic_search"))
        out["search.similarity.exec_ms"] = _med(tr.durations("similarity.collect"))
        out["search.similarity.rows_scanned_per_row"] = _med(
            [tr.notes[i]["rows_scanned_per_row"] for i in ops])
        out["search.spark.jobs"] = _med([j["jobs"] for j in jobs])
        out["search.spark.sched_delay_ms"] = _med([g.get("sched_delay_ms", 0) for g in groups])
        out["search.spark.executor_run_ms"] = _med([g.get("run_ms", 0) for g in groups])
    return out


def trace_agent(spark, run_dir: str, seed: int, counts, deadline: float) -> tuple[dict, object]:
    """The agent's tool calls, traced inside the ingest run (they have no
    workload of their own, see STEADINESS.md): the agent store is set up
    on the ingest corpus, one untraced turn runs, then AGENT_TURNS traced
    turns. Returns the agent's per-layer figures and the tracer."""
    import gen
    from tracing import NoTrace, Tracer
    from workloads import Agent

    # a basename unique to the run: the program keys its fixture
    # directories on it
    ag = Agent(os.path.join(run_dir, f"agent-{os.path.basename(run_dir)}"), seed)
    ag.setup(spark, NoTrace())
    # op ids (and so job groups) apart from the ingest ops'; turn k of
    # the script is op AGENT_OP0 + k
    _, i, _ = run_ops(ag, spark, (NoTrace(),), counts, AGENT_OP0, deadline, n_ops=1)
    tr = Tracer()
    _, n, _ = run_ops(ag, spark, (tr,), counts, i, deadline, n_ops=AGENT_TURNS)
    out = {f"agent.{k}": v for k, v in ag.setup_layers.items()}
    for tool in gen.READ_TOOLS + gen.WRITE_TOOLS + ("search_cells",):
        out[f"agent.agent_tools.{tool}_ms"] = _med(tr.durations(f"agent_tools.{tool}"))
    calls = tr.calls.values()
    out["agent.spark.jobs_per_read"] = statistics.fmean(
        [c["jobs"] for c in calls if c["kind"] in gen.READ_TOOLS] or [0])
    out["agent.spark.jobs_per_write"] = statistics.fmean(
        [c["jobs"] for c in calls if c["kind"] in gen.WRITE_TOOLS] or [0])
    out["agent.range_reuse_ratio"] = ag.range_reuse_ratio(n - AGENT_OP0)
    return out, tr


def cpu_probe_ms() -> float:
    """Wall time of a fixed pure-Python loop: a record of how fast the
    machine ran at that moment, for reading the spread between runs."""
    t0 = time.perf_counter()
    acc = 0
    for k in range(1_000_000):
        acc += k * k % 7
    return 1000 * (time.perf_counter() - t0)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the VM from /proc/stat: steal is the
    time the hypervisor ran other guests on this VM's CPUs."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def environment(spark, cpus: int, args) -> dict:
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cpus, "master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(), "driver_memory": DRIVER_MEMORY,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
    }


def run(args, run_dir: str, cpus: int, log_dir: str | None) -> tuple[dict, dict]:
    from metrics import END_TO_END, PER_LAYER
    from tracing import JvmStats, NoTrace, Tracer, event_log_metrics, peak_rss_mb, stop_jvm
    from workloads import WORKLOADS
    from spec_search_spark.session import get_spark

    deadline = time.time() + WALL_LIMIT_S
    t_start = time.perf_counter()

    def phase(name: str) -> None:
        print(f"refbench-phase {name} at {time.perf_counter() - t_start:.2f}s", file=sys.stderr)

    wl = WORKLOADS[args.workload](run_dir, args.seed)  # inputs, before the session
    phase("inputs generated")
    probes = [cpu_probe_ms()]
    counts = Counts()
    t0 = time.perf_counter()
    spark = get_spark(f"refbench-{args.workload}")
    session_ms = 1000 * (time.perf_counter() - t0)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl.setup(spark, NoTrace())
        setup_s = time.perf_counter() - t0
        if wl.setup_check:
            counts.mismatches.append(wl.setup_check)
        phase("set up")
        wl.load_oracle()
        env = environment(spark, cpus, args)
        env["regime"] = wl.regime
        env["warmup_s"] = wl.warmup_s
        off = NoTrace()
        # the traced run compares traced with untraced ops, so it always
        # takes the cold first op out of that comparison
        i = 0
        if wl.warmup_s or args.trace:
            _, i, _ = run_ops(wl, spark, (off,), counts, 0, deadline, seconds=wl.warmup_s)
            phase("warmed up")
        steal0, total0 = cpu_jiffies()
        if not args.trace:
            (lat,), i, timed = run_ops(wl, spark, (off,), counts, i, deadline, seconds=args.seconds)
        else:
            # traced and untraced ops alternate, so their difference (the
            # tracing overhead) is taken at the same warmth
            tr, jvm = Tracer(), JvmStats(spark)
            undo = wl.instrument(tr)
            jvm.start()
            (lat, t_lat), _, _ = run_ops(
                wl, spark, (off, tr), counts, i, deadline, seconds=args.seconds)
            jvm_figs = jvm.stop()
            undo()
            layers, agent_figs, agent_tr = [], {}, None
            if wl.name == "ingest":
                for _ in range(LADDERS):
                    if time.time() < deadline:
                        layers.append(wl.layer_times(percentile(t_lat, 50)))
                if time.time() < deadline - AGENT_START_S:
                    agent_figs, agent_tr = trace_agent(spark, run_dir, args.seed, counts, deadline)
        phase("timed loop done")
        steal1, total1 = cpu_jiffies()
        probes.append(cpu_probe_ms())
        rss_mb = peak_rss_mb()
    finally:
        spark.stop()
        stop_jvm()
        phase("stopped")
    env["ops"] = len(lat)
    env["cpu_probe_ms"] = [round(p, 1) for p in probes]
    env["cpu_steal_pct"] = round(100 * (steal1 - steal0) / max(1, total1 - total0), 2)
    if not args.trace:
        e2e = end_to_end(lat, timed, setup_s, rss_mb)
        values = {name: e2e[name] for name, _, _ in END_TO_END}
        units = {name: unit for name, unit, _ in END_TO_END}
    else:
        overhead = percentile(t_lat, 50) - percentile(lat, 50)
        figs = per_layer(wl, tr, jvm_figs,
                         event_log_metrics(log_dir), layers, session_ms, overhead)
        figs.update(agent_figs)
        for t, part in ((tr, wl.name), (agent_tr, "agent")):
            if t:
                t.write(os.path.join(os.path.dirname(run_dir),
                                     f"spans-{os.path.basename(run_dir)}-{part}.json"))
        values = {name: float(figs.get(name, 0.0)) for name, _, _, _ in PER_LAYER}
        units = {name: unit for name, unit, _, _ in PER_LAYER}
        for name, unit, _, moves in PER_LAYER:
            print(f"per-layer {name} = {values[name]:.4f} {unit}  (moves: {moves})")
        env["traced_ops"] = len(t_lat)
    ok = counts.attempted > 0 and not counts.mismatches and counts.failed == 0
    result = {
        "correct": ok,
        "attempted": counts.attempted,
        "failed": counts.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    return env, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    import spec_search_spark  # noqa: F401  (the program under test must be present)

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".refbench_work")
    run_dir = os.path.join(
        work, f"{args.workload}-s{args.seed}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    try:
        log_dir = pin_environment(run_dir, cpus, bool(args.trace))["log_dir"]
        env, result = run(args, run_dir, cpus, log_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("refbench-env " + json.dumps(env, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
