"""Round-11 optimization equivalence pins.

Each optimization this round claims bit-identical results through a
faster plan; these tests pin the equivalences directly so a future
refactor cannot silently un-prove them:

- ``cosine_from_norms`` == ``cosine_similarity`` (including NULL /
  zero-norm / length-mismatch propagation) — the per-row-norm rewrite.
- The Arrow partial-sum Lloyd trainers reproduce the DECIMAL(38,0)
  SQL aggregation exactly (including empty clusters and argmin
  tie-breaks), and ``_div_trunc`` replicates Spark ``div`` on negative
  numerators.
- ``load_table``'s fanout repartition changes no rows, and its handle
  cache is invalidated when the file changes.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F


def test_cosine_from_norms_bit_identical(spark):
    from oculus_data_pipeline_spark.functions.vectors import (
        cosine_from_norms,
        cosine_similarity,
        l2_norm,
    )

    rows = [
        (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        (2, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),  # zero norm -> 0.0
        (3, None, [1.0, 2.0, 3.0]),  # NULL vector -> NULL
        (4, [1.0, 2.0], [1.0, 2.0, 3.0]),  # length mismatch -> NULL dot
        (5, [1e-154, 2e-154, -3e-154], [7.5, -0.25, 1.0]),
        (6, [1.0, float("inf"), 0.0], [1.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )
    got = df.select(
        "id",
        cosine_similarity("a", "b").alias("ref"),
        cosine_from_norms(
            "a", "b", l2_norm("a"), l2_norm("b")
        ).alias("opt"),
    ).collect()
    for r in got:
        # bit-identical, not approximately equal: same folds, same
        # products of the same doubles
        assert (r["ref"] is None) == (r["opt"] is None), r
        if r["ref"] is not None:
            import struct

            assert struct.pack("d", r["ref"]) == struct.pack(
                "d", r["opt"]
            ), r


def test_div_trunc_matches_spark_div(spark):
    from oculus_data_pipeline_spark.operators.quantize import _div_trunc

    cases = [(7, 2), (-7, 2), (6, 3), (-6, 3), (1, 5), (-1, 5), (0, 9)]
    df = spark.createDataFrame(cases, "num long, den long")
    got = {
        (r["num"], r["den"]): r["q"]
        for r in df.select(
            "num", "den", F.expr("num div den").alias("q")
        ).collect()
    }
    for num, den in cases:
        assert _div_trunc(num, den) == got[(num, den)], (num, den)


def test_coarse_partials_match_decimal_aggregation(spark):
    """The Arrow partial-sum trainer must reproduce the exact
    DECIMAL(38,0) per-cluster sums, counts, and first-occurrence
    argmin tie-break of the SQL form it replaced — here the coarse
    level, ONE subspace of the full width."""
    from oculus_data_pipeline_spark.operators.quantize import (
        _lloyd_partials,
        _merge_driver,
    )

    # include a tie: row (7) is equidistant to centroids 0 and 1 ->
    # must land in cluster 0 (lowest cid)
    rows = [
        (0, [0, 0, 0, 0]),
        (1, [10, 10, 10, 10]),
        (2, [1, 0, 0, 0]),
        (3, [9, 10, 10, 10]),
        (7, [5, 5, 5, 5]),
    ]
    e = spark.createDataFrame(rows, "id long, xs array<long>")
    cents = [(0, 0, [0, 0, 0, 0]), (0, 1, [10, 10, 10, 10])]
    stats = _merge_driver(_lloyd_partials(e, "xs", cents))
    # SQL reference: argmin + decimal sums; sse = Σ min squared distance
    assert stats[(0, 0)] == (3, 0 + 1 + 100, [6, 5, 5, 5])  # ids 0, 2, 7
    assert stats[(0, 1)] == (2, 0 + 1, [19, 20, 20, 20])  # ids 1, 3


def test_spark_merge_partials_bit_identical(spark):
    """The scale path (partials merged IN SPARK before the collect —
    r12, verdict item 5) must return exactly the driver-merge dict for
    the same partials frame: same keys, same counts, same objectives,
    same per-component integer sums — and both must drop a codebook
    cell no row maps to."""
    from oculus_data_pipeline_spark.operators.quantize import (
        _lloyd_partials,
        _merge_cells,
        _merge_driver,
    )

    rows = [(i, [int(x) for x in (i % 11, -i, 3 * i, 7 - i)]) for i in range(50)]
    e = spark.createDataFrame(rows, "id long, xs array<long>").repartition(7)
    # code 3 sits far from every row: an empty cell
    cents = [
        (0, 0, [0, 0, 0, 0]),
        (0, 1, [10, -40, 120, -30]),
        (0, 2, [5, -20, 60, -10]),
        (0, 3, [10**6, 10**6, 10**6, 10**6]),
    ]
    resid = spark.createDataFrame(
        [(i, 0, v + v) for i, v in rows], "id long, list_id long, r array<long>"
    ).repartition(5)
    cb = [
        (0, 0, [0, 0]),
        (0, 1, [8, -30]),
        (1, 0, [100, -40]),
        (1, 1, [2, 5]),
    ]
    for part in (_lloyd_partials(e, "xs", cents), _lloyd_partials(resid, "r", cb)):
        want = _merge_driver(part)
        got = _merge_cells(part)
        assert got == want
        assert sum(cnt for cnt, _, _ in want.values()) == len(rows) * (
            1 + max(m for m, _ in want)
        )
        assert any(sse > 0 for _, sse, _ in want.values())
        assert (0, 3) not in want  # the empty cell, dropped by both


def test_pq_partials_empty_cell_keeps_previous(spark):
    """A codebook cell no residual maps to must be absent from the
    partials (the trainer then keeps the previous centroid), exactly
    like the missing-group left join of the SQL form — here with TWO
    subspaces."""
    from oculus_data_pipeline_spark.operators.quantize import (
        _lloyd_partials,
        _merge_driver,
    )

    resid = spark.createDataFrame(
        [(1, 0, [0, 0, 5, 5]), (2, 0, [1, 1, 5, 5])],
        "id long, list_id long, r array<long>",
    )
    # subspace 0: codes at [0,0] and [100,100]; subspace 1: [5,5] and
    # [90,90] — nothing is near the second codes
    cb = [
        (0, 0, [0, 0]),
        (0, 1, [100, 100]),
        (1, 0, [5, 5]),
        (1, 1, [90, 90]),
    ]
    stats = _merge_driver(_lloyd_partials(resid, "r", cb))
    assert stats[(0, 0)] == (2, 0 + 2, [1, 1])
    assert stats[(1, 0)] == (2, 0, [10, 10])
    assert (0, 1) not in stats and (1, 1) not in stats


def test_fanout_changes_no_rows(spark, sf_dir, monkeypatch):
    from oculus_data_pipeline_spark.sources import tables

    # sf0.001's lineitem is below the fanout size floor, where _fanout
    # returns the bare scan; drop the floor and bypass the handle cache
    # so the re-spread really runs
    monkeypatch.setattr(tables, "_FANOUT_MIN_BYTES", 0)
    monkeypatch.setattr(tables, "_HANDLE_CACHE", {})
    cols = ["l_orderkey", "l_linenumber"]
    df = tables.load_table(spark, sf_dir, "lineitem", fanout=True).select(cols)
    raw = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(cols)
    assert "hashpartitioning(l_orderkey" in (
        df._jdf.queryExecution().executedPlan().toString()
    )
    # exact multiset equality on the key columns
    assert df.count() == raw.count()
    assert df.exceptAll(raw).count() == 0


def test_handle_cache_hits_and_invalidates(spark, sf_dir, tmp_path):
    from oculus_data_pipeline_spark.sources.tables import load_table

    a = load_table(spark, sf_dir, "region")
    b = load_table(spark, sf_dir, "region")
    assert a is b  # plan-handle cache hit

    # a rewritten file (different mtime/size) must not serve the old
    # handle
    tdir = tmp_path / "sf"
    tdir.mkdir()
    src = os.path.join(sf_dir, "region.parquet")
    dst = str(tdir / "region.parquet")
    shutil.copy(src, dst)
    first = load_table(spark, str(tdir), "region")
    n0 = first.count()
    spark.read.parquet(src).limit(1).write.mode("overwrite").parquet(dst)
    second = load_table(spark, str(tdir), "region")
    assert second is not first
    assert second.count() == 1 and n0 > 1
