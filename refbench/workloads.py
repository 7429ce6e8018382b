"""The two workloads, ``ingest`` and ``search``, and the agent's tool
calls, which the traced ``ingest`` run times per layer.

Each workload generates its inputs from the seed (``__init__``, before
any session exists), sets itself up on a session (``setup``), then
runs timed ops (``op``) whose outputs are checked outside the timed
region (``check``). Every op calls only public functions of
``sources.sheets_source``, ``operators.sheets_connector``,
``functions.text``, ``functions.vector``, ``operators.similarity`` and
``operators.agent_tools``.
"""

from __future__ import annotations

import decimal
import os
import random
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from spec_search_spark.functions import vector
from spec_search_spark.operators import agent_tools, sheets_connector, similarity
from spec_search_spark.operators.sheets_pipeline import CELLS_PER_FILE, COLS_PER_ROW
from spec_search_spark.sources import sheets_source


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return 1000 * (time.perf_counter() - t0)


class Workload:
    name = ""
    #: the cold or warm regime the timed ops run in
    regime = ""
    #: seconds of ops run after set-up and before timing, to let the JIT
    #: and the Python workers settle; checked, but in no metric
    warmup_s = 0.0
    #: a check failure found during set-up
    setup_check: str | None = None

    def __init__(self, run_dir: str, seed: int) -> None:
        self.run_dir = run_dir
        self.seed = seed
        self.rng = random.Random(seed)
        self.vocab = gen.vocabulary(self.rng)
        self.setup_layers: dict[str, float] = {}

    def load_oracle(self) -> None:
        """Collect what the checks need from the session, after set-up."""

    def instrument(self, tr):
        """Install traced wrappers inside the program; returns the undo."""
        return lambda: None

    def corpus(self, n_cells: int) -> tuple[str, list[str]]:
        """A documents corpus in a directory whose basename is unique to
        this run: the program keys its scratch sheet fixtures on the
        basename alone."""
        texts = gen.documents(self.rng, self.vocab, n_cells)
        sf_dir = os.path.join(self.run_dir, f"corpus-{os.path.basename(self.run_dir)}")
        gen.write_corpus(sf_dir, texts)
        return sf_dir, texts



# --------------------------------------------------------------- ingest


def cells_to_documents(cells):
    """The benchmark's projection of unpivoted cells into the documents
    shape: doc_id from the grid position, source = file name, text =
    cell text."""
    letter = F.col("col_letter")
    col_idx = F.when(F.length(letter) == 1, F.ascii(letter) - 65).otherwise(
        (F.ascii(letter) - 64) * 26 + F.ascii(F.substring(letter, 2, 1)) - 65
    )
    doc_id = (
        F.col("file_id") * CELLS_PER_FILE
        + (F.col("sheet_row") - 2) * COLS_PER_ROW
        + col_idx
    )
    return cells.select(
        doc_id.cast("bigint").alias("doc_id"),
        F.col("file_name").alias("source"),
        F.col("cell_text").alias("text"),
    )


class Ingest(Workload):
    """Sheets folder -> unpivot -> documents -> chunk -> embed -> index
    written as parquet; every op rebuilds all of it from the sheet
    files."""

    name = "ingest"
    regime = "warm process, after 2 s of unmeasured ops; every op rebuilds the index from the sheet files"
    warmup_s = 2.0
    n_samples = 8  # stored embeddings re-derived per check

    def __init__(self, run_dir: str, seed: int) -> None:
        super().__init__(run_dir, seed)
        self.sf_dir, self.texts = self.corpus(gen.INGEST_CELLS)
        self.expected_ids = gen.ingest_ids(self.texts)
        self.n_cells = sum(1 for t in self.texts if t)
        self.index_dir = os.path.join(run_dir, "index")

    def docs(self):
        return cells_to_documents(
            sheets_connector.sheets_source_unpivot(self.spark, self.sf_dir)
        )

    def _write(self, tr, out: str) -> None:
        with tr.span("sheets_connector.sheets_source_unpivot"):
            docs = self.docs()
        with tr.span("similarity.build_index_df"):
            index = similarity.build_index_df(docs)
        with tr.span("index.write_parquet"):
            index.write.mode("overwrite").parquet(out)

    def setup(self, spark, tr) -> None:
        self.spark = spark
        sheets_source.register(spark)
        # the first chain run is the cold program set-up: data source
        # resolution, Python worker start, first codegen
        self._write(tr, self.index_dir)
        self.setup_check = self.check(-1, None)

    def op(self, i: int, tr):
        self._write(tr, self.index_dir)

    def check(self, i: int, result) -> str | None:
        table = pq.read_table(self.index_dir, columns=["id", "chunk", "embedding"])
        ids = table.column("id").to_pylist()
        if len(ids) != len(self.expected_ids):
            return f"index has {len(ids)} rows, expected {len(self.expected_ids)}"
        if sorted(ids) != self.expected_ids:
            return "index ids differ from the chunk arithmetic"
        row_of = {id_: r for r, id_ in enumerate(ids)}
        sample = random.Random(f"{self.seed}-{i}").sample(self.expected_ids, self.n_samples)
        chunks = table.column("chunk").to_pylist()
        embs = table.column("embedding")
        for id_ in sample:
            parts = id_.split("_")
            doc, k = int(parts[2]), int(parts[4])
            want = gen.chunk_text(self.texts[doc], k)
            r = row_of[id_]
            if chunks[r] != want:
                return f"chunk of {id_} differs"
            got = np.asarray(embs[r].as_py(), dtype=np.float32)
            exp = np.asarray(vector.embed_text_local(want), dtype=np.float32)
            if not np.array_equal(got, exp):
                return f"embedding of {id_} differs from embed_text_local"
        return None

    def layer_times(self, op_ms: float) -> dict[str, float]:
        """The fused lazy layers timed as differences: the chain run to a
        noop sink up to each layer, minus the chain up to the layer
        before. The full chain with the parquet write is the op just
        run, which took ``op_ms``."""
        fixture = sheets_connector.fixture_dir_for(self.sf_dir)
        t_scan = _timed(lambda: _noop(sheets_connector.read_sheets(self.spark, fixture)))
        t_docs = _timed(lambda: _noop(self.docs()))
        t_chunk = _timed(lambda: _noop(similarity.chunked_docs_df(self.docs())))
        t_embed = _timed(lambda: _noop(similarity.build_index_df(self.docs())))
        return {
            "sheets_source.scan_ms": t_scan,
            "sheets_connector.unpivot_ms": t_docs - t_scan,
            "text.chunk_ms": t_chunk - t_docs,
            "vector.embed_ms": t_embed - t_chunk,
            "index.write_ms": op_ms - t_embed,
        }


# --------------------------------------------------------------- search


def _spark_round6(x: float) -> float:
    """Spark's round(double, 6): HALF_UP on the shortest decimal repr."""
    return float(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP))


class Search(Workload):
    """Seeded probes against an index built once in set-up."""

    name = "search"
    regime = "warm: index memo hit, after 10 s of unmeasured probes"
    warmup_s = 10.0

    def __init__(self, run_dir: str, seed: int) -> None:
        super().__init__(run_dir, seed)
        self.sf_dir, _ = self.corpus(gen.SEARCH_CELLS)
        self.queries = gen.queries(self.rng, self.vocab, 5000)

    def setup(self, spark, tr) -> None:
        self.spark = spark
        t0 = time.perf_counter()
        similarity.build_index(spark, self.sf_dir)  # eager localCheckpoint
        self.setup_layers["similarity.build_index_ms"] = 1000 * (time.perf_counter() - t0)

    def load_oracle(self) -> None:
        """Collect the built index once for the numpy exact scan."""
        pdf = similarity.build_index(self.spark, self.sf_dir).select(
            "id", "embedding").toPandas()
        self.ids = pdf["id"].tolist()
        self.emb = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)

    def op(self, i: int, tr):
        query, k = self.queries[i % len(self.queries)]
        with tr.span("similarity.semantic_search"):
            df = similarity.semantic_search(self.spark, self.sf_dir, query=query, k=k)
        with tr.span("similarity.collect"):
            rows = df.collect()
        if tr.enabled:
            tr.note("rows_scanned_per_row", scan_output_rows(df) / k)
        return rows

    def instrument(self, tr):
        """Spans around the calls semantic_search makes into the vector
        layer and the index memo; returns the undo."""
        originals = {n: getattr(similarity, n) for n in ("embed_text_local", "build_index")}
        names = {"embed_text_local": "vector.embed_text_local",
                 "build_index": "similarity.build_index"}

        def wrap(name, fn):
            def traced(*args, **kwargs):
                with tr.span(names[name]):
                    return fn(*args, **kwargs)
            return traced

        for n, fn in originals.items():
            setattr(similarity, n, wrap(n, fn))
        return lambda: [setattr(similarity, n, fn) for n, fn in originals.items()]

    def expected(self, query: str, k: int) -> list[tuple[str, float]]:
        """Exact scan with Spark's fold order: the squared differences
        summed left to right over the dimensions, in doubles."""
        q = np.asarray(vector.embed_text_local(query), dtype=np.float64)
        acc = np.zeros(len(self.ids))
        for d in range(q.shape[0]):
            diff = self.emb[:, d] - q[d]
            acc = acc + diff * diff
        kth = np.partition(acc, k - 1)[k - 1]
        cand = np.nonzero(acc <= kth + 2e-6)[0]
        ranked = sorted((_spark_round6(float(acc[j])), self.ids[j]) for j in cand)
        return [(id_, d2) for d2, id_ in ranked[:k]]

    def check(self, i: int, rows) -> str | None:
        query, k = self.queries[i % len(self.queries)]
        got = [(r["id"], r["dist2"]) for r in rows]
        want = self.expected(query, k)
        if got != want:
            return f"top-{k} for {query!r} differs from the exact scan"
        return None


def scan_output_rows(df) -> float:
    """Output rows of the executed plan's leaf scans, from SQL metrics."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    total = 0
    for j in range(leaves.length()):
        m = leaves.apply(j).metrics().get("numOutputRows")
        if m.isDefined():
            total += m.get().value()
    return float(total)


# ---------------------------------------------------------------- agent


class Agent(Workload):
    """Seeded agent turns over a store of AGENT_SHEETS sheets. One op is
    one turn: the ten tool calls of one script block (six ranged reads,
    three per-file sink writes, one corpus search), run back to back as
    an agent answering one request does. Every observation is checked
    against a shadow model of the store."""

    name = "agent"

    def __init__(self, run_dir: str, seed: int) -> None:
        super().__init__(run_dir, seed)
        self.sf_dir, self.texts = self.corpus(gen.INGEST_CELLS)
        self.fixture = sheets_connector.build_sheets_fixture(
            self.sf_dir, sheets_connector.fixture_dir_for(self.sf_dir))
        self.store = os.path.join(run_dir, "store")
        self.grids = {name: gen.sheet_grid(self.rng) for name in gen.sheet_names()}
        self.turns = gen.agent_script(self.rng, self.texts, 100)
        self.hits: dict[str, str] = {}

    def setup(self, spark, tr) -> None:
        self.spark = spark
        self.toolkit = agent_tools.SheetAgentToolkit(spark, self.store, self.fixture, self.sf_dir)
        creates = []
        for name, grid in self.grids.items():
            t0 = time.perf_counter()
            self.toolkit.create_sheet(name, grid[0])
            creates.append(1000 * (time.perf_counter() - t0))
            self.toolkit.write_values(name, f"A2:F{gen.AGENT_ROWS}", grid[1:])
        self.setup_layers["agent_tools.create_sheet_ms"] = statistics.median(creates)

    def _call(self, call: dict):
        tool, tk = call["tool"], self.toolkit
        if tool == "read_values":
            return tk.read_values(call["sheet"], call["range"])
        if tool == "read_cell":
            return tk.read_cell(call["sheet"], call["range"].split(":")[0])
        if tool == "aggregate_range":
            return tk.aggregate_range(call["sheet"], call["range"], "sum")
        if tool == "write_values":
            return tk.write_values(call["sheet"], call["range"], call["values"])
        if tool == "write_cell":
            return tk.write_cell(call["sheet"], call["range"].split(":")[0], call["values"][0][0])
        return tk.search_cells(call["term"])

    def op(self, i: int, tr):
        observed = []
        for j, call in enumerate(self.turns[i % len(self.turns)]):
            with tr.call(self.spark.sparkContext, f"{i}.{j}", call["tool"]):
                with tr.span(f"agent_tools.{call['tool']}"):
                    observed.append(self._call(call))
        return observed

    def _window(self, sheet: str, range_str: str) -> list[list[str]]:
        r_lo, r_hi, c_lo, c_hi = sheets_source._parse_range(range_str)
        return [row[c_lo : c_hi + 1] for row in self.grids[sheet][r_lo : r_hi + 1]]

    def _search(self, term: str) -> str:
        if term not in self.hits:
            docs = [d for d, t in enumerate(self.texts) if term in t]
            self.hits[term] = f"n={len(docs)} first={gen.cell_id(min(docs))}"
        return self.hits[term]

    def expected(self, call: dict):
        """The observation the shadow store predicts; applies writes."""
        tool = call["tool"]
        if tool == "read_values":
            return self._window(call["sheet"], call["range"])
        if tool == "read_cell":
            return self._window(call["sheet"], call["range"])[0][0]
        if tool == "aggregate_range":
            total = sum(int(row[0]) for row in self._window(call["sheet"], call["range"]))
            return f"sum({call['range']}) = {total}"
        if tool == "search_cells":
            return self._search(call["term"])
        r_lo, _, c_lo, _ = sheets_source._parse_range(call["range"])
        grid = self.grids[call["sheet"]]
        for di, vals in enumerate(call["values"]):
            grid[r_lo + di][c_lo : c_lo + len(vals)] = vals
        return f"wrote {len(call['values'])} rows to {call['sheet']}!{call['range']}"

    def check(self, i: int, observed) -> str | None:
        bad = None
        for call, got in zip(self.turns[i % len(self.turns)], observed):
            want = self.expected(call)
            if got != want and bad is None:
                bad = f"turn {i} {call['tool']}: observed {got!r}, expected {want!r}"
        return bad

    def range_reuse_ratio(self, n_turns: int) -> float:
        """Ranged calls whose range string was already used in this
        session (set-up included), over all ranged calls of the first
        ``n_turns`` turns."""
        seen = {f"A2:F{gen.AGENT_ROWS}"}
        reused = ranged = 0
        for turn in self.turns[:n_turns]:
            for call in turn:
                if "range" in call:
                    ranged += 1
                    reused += call["range"] in seen
                    seen.add(call["range"])
        return reused / ranged if ranged else 0.0


WORKLOADS = {w.name: w for w in (Ingest, Search)}
