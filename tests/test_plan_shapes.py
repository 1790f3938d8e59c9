"""Plan-shape proof for the round-3 operators' scale claims:

- bucketed_range_join compiles to an equi-join (hash/sort-merge on the
  bucket key), NEVER BroadcastNestedLoopJoin/CartesianProduct — the
  whole point of the bucket-grid rewrite vs a naive BETWEEN theta join;
- PII detect+redact is a narrow map: zero Exchanges (scan-speed claim);
- int8 quantization never shuffles the vector column: the only
  exchanges belong to the 64-row calibration aggregate, and the vector
  side joins it via broadcast.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from oculus_data_pipeline_spark.sinks.layout import physical_plan
from oculus_data_pipeline_spark.sources.tables import load_table


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    from oculus_data_pipeline_spark.operators.rangejoin import bucketed_range_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    ranges = spark.createDataFrame(
        [("a", 0.0, 100.0), ("b", 100.0, 500.0)], "band string, lo double, hi double"
    )
    plan = physical_plan(bucketed_range_join(ev, ranges, "value", "lo", "hi", 32.0))
    assert "CartesianProduct" not in plan
    # the naive BETWEEN join would be BroadcastNestedLoopJoin here; the
    # bucket rewrite must produce a hash-partitioned/broadcast EQUI join
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_pii_redaction_has_no_exchange(spark, sf_dir):
    from oculus_data_pipeline_spark.operators.pii import detect_and_redact_pii

    docs = load_table(spark, sf_dir, "documents")
    plan = physical_plan(detect_and_redact_pii(docs))
    assert "Exchange" not in plan


def test_int8_quantize_never_shuffles_vectors(spark, sf_dir):
    from oculus_data_pipeline_spark.operators.quantize import int8_quantize

    emb = load_table(spark, sf_dir, "embeddings")
    plan = physical_plan(int8_quantize(emb))
    # vectors meet the calibration row via broadcast, never a shuffle
    assert "BroadcastExchange" in plan
    # every non-broadcast exchange belongs to the 64-row dim-stats
    # aggregate (posexplode side), not the vector projection: the
    # final select must sit directly on the scan + broadcast join
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            # hash exchanges may only partition the exploded (d, x)
            # calibration stream, whose key is the dimension index
            assert "d#" in line or "(d" in line, line


def test_bigram_topk_is_take_ordered(spark, sf_dir):
    from oculus_data_pipeline_spark.operators.textstats import bigram_merge_candidates

    docs = load_table(spark, sf_dir, "documents")
    plan = physical_plan(bigram_merge_candidates(docs))
    # top-k must compile to TakeOrderedAndProject, not a global Sort
    assert "TakeOrderedAndProject" in plan


def test_pq_encode_is_shuffle_free(spark, sf_dir):
    from oculus_data_pipeline_spark.operators.quantize import pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    plan = physical_plan(pq_encode(emb))
    # the codebook meets the vectors as ONE broadcast row; encoding is
    # a pure projection + narrow explode — no hash exchange may touch
    # the vector stream at any corpus size
    assert "BroadcastExchange" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            raise AssertionError(f"pq_encode shuffled: {line}")


def test_pq_adc_search_never_joins_raw_vectors(spark, sf_dir):
    from oculus_data_pipeline_spark.operators.quantize import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    plan = physical_plan(pq_adc_topk(emb))
    # the corpus side of the ADC join carries (m, code, id) only; the
    # embedding column may appear under broadcast exchanges (codebook,
    # query distance table) but never in a hash-partitioned shuffle
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "embedding" not in line and ", v#" not in line, line


def test_power_iteration_corpus_shuffle_is_dim_pairs_only(spark, sf_dir):
    from oculus_data_pipeline_spark.operators.quantize import power_iteration

    emb = load_table(spark, sf_dir, "embeddings")
    plan = physical_plan(power_iteration(emb))
    # the only corpus-sized stage is the _gram_int pass; every hash
    # exchange must key on dimension indices (i/j/vi), never vectors
    # or row ids — the iteration itself runs on the d×d matrix with
    # broadcast d-row vectors
    assert "BroadcastExchange" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert (
                "i#" in line or "j#" in line or "vi#" in line
            ) and "embedding" not in line, line


def test_ivf_pq_search_never_shuffles_vectors(spark, sf_dir):
    from oculus_data_pipeline_spark.operators.quantize import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    plan = physical_plan(ivf_pq_topk(emb))
    # coarse codebook, residual codebook, and the per-query distance
    # table all arrive via broadcast; hash exchanges may carry code /
    # aggregation keys but never an embedding or residual array column
    assert "BroadcastExchange" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "embedding" not in line and ", v#" not in line, line
            assert ", r#" not in line and ", rq#" not in line, line


def test_cms_grid_aggregates_map_side(spark, sf_dir):
    from oculus_data_pipeline_spark.operators.sketch import cms_counters

    li = load_table(spark, sf_dir, "lineitem")
    plan = physical_plan(cms_counters(li, "l_partkey"))
    # partial aggregation below the exchange bounds the shuffle at
    # depth·width rows per task; the exchange keys on (d, bucket)
    assert "HashAggregate" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "d#" in line and "bucket#" in line, line


def test_gram_matrix_shuffle_is_dim_pairs_only(spark, sf_dir):
    from oculus_data_pipeline_spark.operators.quantize import gram_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    plan = physical_plan(gram_matrix(emb))
    # partial aggregation must sit below the exchange so each task
    # emits at most d(d+1)/2 rows: the only hash exchange keys on the
    # (i, j) dimension-pair, never on vectors or row ids
    assert "partial" in plan.lower() or "HashAggregate" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert ("i#" in line and "j#" in line), line


def test_key_skew_profile_has_no_window(spark, sf_dir):
    from oculus_data_pipeline_spark.queries import get_queries

    plan = physical_plan(get_queries()["q180_key_skew_profile"](spark, sf_dir))
    # the cumulative distribution comes from a broadcast theta
    # self-join over the tiny count-of-counts histogram — the profile
    # must compile with NO window operator (a global running-sum
    # window would be one task over every distinct key at 100 TB)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_rolling_active_users_has_no_range_join(spark, sf_dir):
    from oculus_data_pipeline_spark.queries import get_queries

    plan = physical_plan(get_queries()["q183_rolling_active_users"](spark, sf_dir))
    # the 7-day sliding distinct is an explode onto window anchors +
    # one hash aggregate — never a range/theta join of the activity
    # table against the day spine, and never a window operator
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    # the only BroadcastNestedLoopJoin permitted would be the observed-
    # days semi-join, but that is an equi-join on wday — broadcast hash
    assert "BroadcastNestedLoopJoin" not in plan


def test_oov_rate_vocab_joins_broadcast(spark, sf_dir):
    from oculus_data_pipeline_spark.queries import get_queries

    plan = physical_plan(get_queries()["q175_oov_rate"](spark, sf_dir))
    # the top-K vocab must reach the per-source term frequencies as a
    # broadcast (map-side) join, and the top-K itself must compile to
    # TakeOrderedAndProject, not a global sort
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_code_is_computed_scan_side(spark, sf_dir):
    """q195's Morton code must be a pure projection fused over the
    scan + one broadcast: the only hash exchanges in the plan belong
    to the final file_id aggregation, never to row-level code
    construction (no shuffle carries the raw orders payload)."""
    from oculus_data_pipeline_spark.queries import QUERIES

    plan = physical_plan(QUERIES["q195_zorder_layout"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # the min/max scalar row
    # no shuffle may carry the raw orders payload: every hash
    # exchange partitions either the 16-bit code/file key or the
    # scalar aggregate, never o_custkey/o_orderdate columns
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "o_custkey" not in line and "o_orderdate" not in line, line


def test_segment_dedup_shuffles_hashes_not_arrays(spark, sf_dir):
    """q200 builds 8-token segments scan-side; nothing array-typed may
    cross an exchange — shuffles carry only (doc_id, md5) pairs."""
    from oculus_data_pipeline_spark.queries import QUERIES

    plan = physical_plan(QUERIES["q200_segment_dedup"](spark, sf_dir))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "toks" not in line, line


def test_interval_coverage_windows_are_keyed(spark, sf_dir):
    """q198's sweep line must never fall back to a global window —
    every Window operator in the plan is partitioned by user_id."""
    from oculus_data_pipeline_spark.queries import QUERIES

    plan = physical_plan(QUERIES["q198_interval_coverage"](spark, sf_dir))
    assert "Window" in plan
    for line in plan.splitlines():
        if "Window [" in line or "RunningWindowFunction" in line:
            assert "user_id" in line, line


def test_apportionment_rank_is_broadcast_theta_not_window(spark, sf_dir):
    """q205 ranks remainders by a broadcast theta self-join on the
    per-source dimension table — no Window operator at all."""
    from oculus_data_pipeline_spark.queries import QUERIES

    plan = physical_plan(QUERIES["q205_apportionment"](spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ngram_jaccard_default_plan_is_guarded(spark, sf_dir):
    """The r5 contract: calling ngram_jaccard_pairs with DEFAULTS must
    compile the stop-shingle-guarded plan (a df<=max_df filter between
    the shingle table and the pair join), while max_df=None compiles
    the unguarded all-pairs plan. Pins the q31/q133 role swap at the
    physical-plan level so a default regression can't ship silently."""
    from oculus_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    guarded = physical_plan(ngram_jaccard_pairs(docs, threshold=0.5))
    unguarded = physical_plan(
        ngram_jaccard_pairs(docs, threshold=0.5, max_df=None)
    )
    # the guard is a count-per-shingle aggregate + df filter feeding a
    # semi/inner join back on the shingle hash; the unguarded plan has
    # neither the df filter nor the extra aggregate
    assert "(df" in guarded or "df#" in guarded
    assert not ("(df" in unguarded or "df#" in unguarded)
    assert guarded.count("HashAggregate") > unguarded.count("HashAggregate")


def test_graph_tables_read_one_materialization(spark, tmp_path):
    """run_pipeline parses the XML and classifies the terms once; both
    graph tables read that one materialization. Neither table's plan
    scans the XML, and the edges still write after the input is gone,
    equal to an undisturbed run's graph."""
    import shutil

    from oculus_data_pipeline_spark.operators.classify import EchoClassifier
    from oculus_data_pipeline_spark.plans.pipeline import run_pipeline

    from .test_pipeline import XML

    def rows(df) -> set:
        return {tuple(r) for r in df.collect()}

    xml_dir = tmp_path / "xml"
    xml_dir.mkdir()
    (xml_dir / "corpus.xml").write_text(XML)
    want = [rows(t) for t in run_pipeline(spark, str(xml_dir), EchoClassifier())]

    nodes, edges = run_pipeline(spark, str(xml_dir), EchoClassifier())
    for table in (nodes, edges):
        assert "Scan xml" not in physical_plan(table)
    out = tmp_path / "graph"
    nodes.write.parquet(str(out / "nodes"))
    shutil.rmtree(xml_dir)
    edges.write.parquet(str(out / "edges"))
    got = [rows(spark.read.parquet(str(out / t))) for t in ("nodes", "edges")]
    assert got == want


def test_pipeline_builds_in_few_py4j_calls(spark, sf_dir, tmp_path, monkeypatch):
    """Wide expressions are built as SQL text, one parse per projection,
    not one py4j round trip per Column method: a warm run_pipeline plus
    write_graph_parquet stays within 1,000 client→JVM calls (about
    6,000 when the plan was composed Column by Column), and the simhash
    and minhash plans stay within 400 each whatever their width."""
    import gc

    from py4j.clientserver import ClientServerConnection

    from oculus_data_pipeline_spark.operators import dedup
    from oculus_data_pipeline_spark.operators.classify import EchoClassifier
    from oculus_data_pipeline_spark.plans.pipeline import run_pipeline
    from oculus_data_pipeline_spark.sinks.graph_sink import write_graph_parquet

    from .test_pipeline import XML

    send = ClientServerConnection.send_command
    calls = [0]

    def counting(self, command, *args, **kwargs):
        # 'm' commands release JVM objects from py4j's finalizers; they
        # depend on garbage collection, not on the plan being built
        if not command.startswith("m"):
            calls[0] += 1
        return send(self, command, *args, **kwargs)

    def py4j_calls(build) -> int:
        build()  # warm: first use of a JVM class costs extra lookups
        gc.collect()
        gc.disable()
        calls[0] = 0
        monkeypatch.setattr(ClientServerConnection, "send_command", counting)
        try:
            build()
        finally:
            monkeypatch.undo()
            gc.enable()
        return calls[0]

    xml_dir = tmp_path / "xml"
    xml_dir.mkdir()
    (xml_dir / "corpus.xml").write_text(XML)

    def pipeline():
        nodes, edges = run_pipeline(spark, str(xml_dir), EchoClassifier())
        write_graph_parquet(nodes, edges, str(tmp_path / "graph"))

    docs = load_table(spark, sf_dir, "documents")
    assert py4j_calls(pipeline) <= 1000
    assert py4j_calls(lambda: dedup.simhash(docs)) <= 400
    assert py4j_calls(lambda: dedup.minhash_signatures(docs)) <= 400
