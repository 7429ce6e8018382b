"""Metric names, units and the end-to-end metric each per-layer metric
should move. BENCHMARK.json lists the same names."""

from __future__ import annotations

#: (name, unit, better); printed by every untraced run of every workload
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_ms", "ms", "lower"),
    ("op_p90_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

_W = ("ingest", "search")
#: the agent's tool calls have no workload of their own; the traced
#: ingest run times them, see STEADINESS.md
_AGENT = "agent calls, traced in the ingest run; no end-to-end metric"

#: (name, unit, better, end-to-end metrics it should move); printed by
#: every traced run. A metric named for another workload reads 0 there;
#: the agent.* metrics come from the traced ingest run.
PER_LAYER = [
    ("ingest.sheets_source.scan_ms", "ms", "lower", "ingest op_p50_ms, ops_per_s; idle on search"),
    ("ingest.sheets_connector.unpivot_ms", "ms", "lower", "ingest op_p50_ms, ops_per_s; idle on search"),
    ("ingest.text.chunk_ms", "ms", "lower", "ingest op_p50_ms, ops_per_s; idle on search"),
    ("ingest.vector.embed_ms", "ms", "lower", "ingest op_p50_ms, ops_per_s; idle on search"),
    ("ingest.index.write_ms", "ms", "lower", "ingest op_p50_ms, ops_per_s; idle on search"),
    ("ingest.text.chunks_per_cell", "count", "lower", "ingest ops_per_s"),
    ("ingest.spark.jobs", "count", "lower", "ingest ops_per_s"),
    ("ingest.spark.tasks", "count", "lower", "ingest ops_per_s"),
    ("ingest.spark.executor_run_ms", "ms", "lower", "ingest ops_per_s"),
    ("ingest.spark.executor_cpu_ms", "ms", "lower", "ingest ops_per_s"),
    ("search.vector.embed_query_ms", "ms", "lower", "search op_p50_ms, op_p90_ms; ingest unmoved"),
    ("search.similarity.build_ms", "ms", "lower", "search op_p50_ms, op_p90_ms; ingest unmoved"),
    ("search.similarity.exec_ms", "ms", "lower", "search op_p50_ms, op_p90_ms; ingest unmoved"),
    ("search.similarity.rows_scanned_per_row", "count", "lower", "search op_p50_ms"),
    ("search.spark.jobs", "count", "lower", "search op_p50_ms"),
    ("search.spark.sched_delay_ms", "ms", "lower", "search op_p50_ms"),
    ("search.spark.executor_run_ms", "ms", "lower", "search op_p50_ms"),
    ("agent.agent_tools.read_values_ms", "ms", "lower", _AGENT),
    ("agent.agent_tools.read_cell_ms", "ms", "lower", _AGENT),
    ("agent.agent_tools.aggregate_range_ms", "ms", "lower", _AGENT),
    ("agent.spark.jobs_per_read", "count", "lower", _AGENT),
    ("agent.agent_tools.write_values_ms", "ms", "lower", _AGENT),
    ("agent.agent_tools.write_cell_ms", "ms", "lower", _AGENT),
    ("agent.agent_tools.search_cells_ms", "ms", "lower", _AGENT),
    ("agent.spark.jobs_per_write", "count", "lower", _AGENT),
    ("agent.range_reuse_ratio", "ratio", "higher", _AGENT),
    *[(f"{w}.session.start_ms", "ms", "lower", f"{w} setup_s") for w in _W],
    ("search.similarity.build_index_ms", "ms", "lower", "search setup_s"),
    ("agent.agent_tools.create_sheet_ms", "ms", "lower", _AGENT),
    *[(f"{w}.jvm.gc_ms", "ms", "lower", f"{w} peak_rss_mb, op_p90_ms") for w in _W],
    *[(f"{w}.jvm.heap_peak_mb", "MB", "lower", f"{w} peak_rss_mb, op_p90_ms") for w in _W],
    *[(f"{w}.trace.overhead_ms", "ms", "lower", f"{w} traced minus untraced op_p50_ms")
      for w in _W],
]
