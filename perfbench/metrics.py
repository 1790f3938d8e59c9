"""Every metric the benchmark reports, with its unit and the layer map.

BENCHMARK.json lists the same names and units; its key set is fixed, so
the map lives here. For each per-layer metric, ``moves`` names the
end-to-end metric it should move, ``on`` the workloads where it should,
and ``flat`` the workloads where the prediction is no change. A later
performance change cites these names.

End-to-end metrics are measured with tracing off, on every workload:

- ``setup_s``: session start, input generation and warm-up. The warm-up
  of ``xml_to_graph`` is one fused pipeline run; that of ``queries`` is
  one pass that collects every result. The reference outputs (the
  staged path's graph digest, DuckDB's query digests) are computed once
  per checkout and kept in ``.perfbench_cache/``; their time is reported
  beside the metrics as context (``verify_s``), not inside ``setup_s``.
- ``wall_s``: wall time of one operation-run, as the sum over the
  workload's operations of each one's median: one bulk pipeline run
  (``xml_to_graph``), or one pass over the query set, each query
  constructed and its result collected (``queries``).
- ``items_per_s``: input items over ``wall_s``: documents for
  ``xml_to_graph``, queries for ``queries``.
- ``peak_rss_mb``: peak RSS (VmHWM) of the driver Python process plus
  the JVM.

Failed operations are counted in the result's ``failed`` over
``attempted`` rather than as a metric, because a metric must never be 0.
"""

from __future__ import annotations

from workloads import ITERATIVE, SCAN

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

XML = ["xml_to_graph"]
QUERIES = ["queries"]
ALL = XML + QUERIES


def _layer(unit, moves, on, flat=()):
    return {"unit": unit, "moves": moves, "on": list(on), "flat": list(flat)}


PER_LAYER = {
    # sources: noop write of read_documents_xml's output
    "sources.xml_scan_s": _layer("s", "items_per_s", XML, QUERIES),
    # plans.pipeline: the lazy run_pipeline call, and stage self times
    "pipeline.construct_s": _layer("s", "wall_s", XML, QUERIES),
    "pipeline.extract_terms_s": _layer("s", "items_per_s", XML, QUERIES),
    "pipeline.known_entities_s": _layer("s", "items_per_s", XML, QUERIES),
    "pipeline.build_graph_s": _layer("s", "items_per_s", XML, QUERIES),
    # operators.classify; with a real LLM rows_in is the cost: it must not grow
    "classify.self_s": _layer("s", "items_per_s", XML, QUERIES),
    "classify.rows_in": _layer("count", "items_per_s", XML, QUERIES),
    "classify.distinct_ratio": _layer("ratio", "items_per_s", XML, QUERIES),
    "classify.known_hit_ratio": _layer("ratio", "items_per_s", XML, QUERIES),
    # sinks.graph_sink: write_graph_parquet self time and its output
    "sink.write_s": _layer("s", "wall_s", XML, QUERIES),
    "sink.rows_in": _layer("count", "wall_s", XML, QUERIES),
    "sink.rows_out": _layer("count", "wall_s", XML, QUERIES),
    "sink.bytes": _layer("bytes", "wall_s", XML, QUERIES),
    "sink.files": _layer("count", "wall_s", XML, QUERIES),
    "sink.bytes_per_input_byte": _layer("ratio", "wall_s", XML, QUERIES),
    # streaming.ingest, from each increment's StreamingQueryProgress in
    # the traced xml_to_graph run. Their end-to-end workload,
    # xml_increments, is not in the benchmark (see BENCHMARK.json's
    # workloads), so no end-to-end metric is predicted to move.
    "stream.start_s": _layer("s", None, [], ALL),
    "stream.trigger_s": _layer("s", None, [], ALL),
    "stream.add_batch_s": _layer("s", None, [], ALL),
    "stream.planning_s": _layer("s", None, [], ALL),
    "stream.offset_commit_s": _layer("s", None, [], ALL),
    "stream.batches_per_increment": _layer("count", None, [], ALL),
    "stream.jobs_per_increment": _layer("count", None, [], ALL),
    "stream.shuffle_bytes_per_increment": _layer("bytes", None, [], ALL),
    "stream.increment_s": _layer("s", None, [], ALL),
    "sink.files_per_increment": _layer("count", None, [], ALL),
    # spark: counters per operation-run; a session-wide change shows on both
    "spark.sql_executions": _layer("count", "wall_s", ALL),
    "spark.jobs": _layer("count", "wall_s", ALL),
    "spark.shuffle_bytes": _layer("bytes", "wall_s", ALL),
    # the tracer: the traced operation-run's wall time, whose difference
    # from the untraced runs' wall_s is the tracing overhead, and the
    # tracer's own bookkeeping time, which bounds that difference
    "trace.wall_s": _layer("s", "wall_s", ALL),
    "trace.overhead_s": _layer("s", "wall_s", ALL),
}

# queries: construction (with its eager jobs), SQL executions and jobs
# move wall_s through the iterative queries; execution and shuffle bytes
# through the scan queries. Each group is predicted flat on the other
# family and on xml_to_graph.
for _q in ITERATIVE + SCAN:
    _family = "iterative" if _q in ITERATIVE else "scan"
    for _m, _unit, _fam in (
        ("construct_s", "s", "iterative"),
        ("execute_s", "s", "scan"),
        ("sql_executions", "count", "iterative"),
        ("jobs", "count", "iterative"),
        ("shuffle_bytes", "bytes", "scan"),
    ):
        _moves = _family == _fam
        PER_LAYER[f"{_q}.{_m}"] = _layer(
            _unit, "wall_s" if _moves else None, QUERIES if _moves else [], XML if _moves else ALL
        )
