"""Hypothesis property tests: the Spark scalar kernels must agree with
the independent pure-Python reference model on arbitrary inputs, not
just curated examples. One Spark job per property (inputs batched into
a single DataFrame) keeps runtime sane."""

from __future__ import annotations

import string

from hypothesis import given, settings, strategies as st

from oculus_data_pipeline_spark.functions.text import (
    convert_name,
    generate_uri,
    normalize_term,
    strip_parenthetical,
)

from . import ref_model

# printable-ascii text, plus the characters the kernels treat specially
TEXT = st.text(
    alphabet=string.ascii_letters + string.digits + " ,.()'\t-",
    min_size=0,
    max_size=40,
)

NAME_PARTS = st.text(
    alphabet=string.ascii_letters + " .", min_size=1, max_size=15
)


def _run_batch(spark, values, col_builder, out_col):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], ["i", "s"])
    out = col_builder(df)
    return [r[out_col] for r in out.orderBy("i").collect()]


def test_normalize_strip_uri_properties(spark):
    samples = []

    @settings(max_examples=60, deadline=None)
    @given(TEXT)
    def collect(s):
        samples.append(s)

    collect()
    values = [s for s in samples if s is not None]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], ["i", "s"]
    )
    rows = df.select(
        "i",
        "s",
        normalize_term("s").alias("norm"),
        strip_parenthetical("s").alias("strip"),
        generate_uri("s").alias("uri"),
    ).orderBy("i").collect()
    for r in rows:
        assert r["norm"] == ref_model.normalize(r["s"]), repr(r["s"])
        assert r["strip"] == ref_model.strip_paren(r["s"]), repr(r["s"])
        assert r["uri"] == ref_model.uri(r["s"]), repr(r["s"])
        # idempotence of normalize
        assert ref_model.normalize(r["norm"]) == r["norm"]


def test_convert_name_property(spark):
    samples = []

    @settings(max_examples=60, deadline=None)
    @given(NAME_PARTS, NAME_PARTS, st.booleans())
    def collect(last, first, with_comma):
        samples.append(f"{last}, {first}" if with_comma else f"{last} {first}")

    collect()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(samples)], ["i", "name"]
    )
    rows = df.select("i", "name", convert_name("name").alias("conv")).orderBy("i").collect()
    for r in rows:
        expected = ref_model.convert_name(r["name"])
        assert r["conv"] == expected, repr(r["name"])


def test_bucketed_range_join_equals_naive_theta_join(spark):
    """For arbitrary points and intervals, the bucket-grid rewrite
    returns EXACTLY the naive BETWEEN theta join's matches — at every
    bucket width, including widths misaligned with interval bounds."""
    from pyspark.sql import functions as F

    from oculus_data_pipeline_spark.operators.rangejoin import bucketed_range_join

    points_samples: list[float] = []
    bounds_samples: list[tuple[float, float]] = []

    @settings(max_examples=80, deadline=None)
    @given(
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
        st.floats(min_value=0.125, max_value=50, allow_nan=False, width=32),
    )
    def collect(p, lo, span):
        points_samples.append(float(p))
        bounds_samples.append((float(lo), float(lo + span)))

    collect()
    pts = spark.createDataFrame(
        [(i, v) for i, v in enumerate(points_samples)], "pid long, value double"
    )
    ranges = spark.createDataFrame(
        [(f"r{i}", lo, hi) for i, (lo, hi) in enumerate(bounds_samples[:25])],
        "band string, lo double, hi double",
    )
    for width in (1.0, 7.3, 64.0):
        got = {
            (r.pid, r.band)
            for r in bucketed_range_join(
                pts, ranges, "value", "lo", "hi", width
            ).collect()
        }
        naive = {
            (r.pid, r.band)
            for r in pts.join(
                ranges, (pts.value >= ranges.lo) & (pts.value < ranges.hi)
            ).collect()
        }
        assert got == naive, f"width={width}"


def test_int8_quantize_error_bound(spark):
    """Dequantizing any vector's codes reconstructs each element to
    within half a quantization step of the true value."""
    from pyspark.sql import functions as F

    from oculus_data_pipeline_spark.operators.quantize import dim_stats

    vec_samples: list[list[float]] = []

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(
            st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
            min_size=4,
            max_size=4,
        )
    )
    def collect(v):
        vec_samples.append([float(x) for x in v])

    collect()
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vec_samples)],
        "vec_id long, embedding array<double>",
    )
    stats = {r.d: (r.lo, r.hi) for r in dim_stats(emb).collect()}
    for _, v in enumerate(vec_samples):
        for d, x in enumerate(v):
            lo, hi = stats[d]
            if hi - lo <= 0:
                continue
            step = (hi - lo) / 254
            code = round((x - lo) / (hi - lo) * 254) - 127
            deq = lo + (code + 127) * step
            assert abs(deq - x) <= step / 2 + 1e-9


# ---------------------------------------------------------------------------
# Watermark replay-buffer helpers (streaming/stateful.py, round 5)
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(0, 1_000)), max_size=60
    ),
    st.integers(0, 10_000),
)
@settings(deadline=None)
def test_wm_split_partitions_and_orders(rows, wm):
    """released ∪ kept is exactly the input, released is every row
    strictly below the watermark (in sorted order), kept the rest —
    the invariant that makes buffered release order-deterministic."""
    from oculus_data_pipeline_spark.streaming.stateful import _wm_split

    released, kept = _wm_split(list(rows), wm)
    assert sorted(released + kept) == sorted(rows)
    assert released == sorted(released) and kept == sorted(kept)
    assert all(r[0] < wm for r in released)
    assert all(r[0] >= wm for r in kept)


@given(
    st.lists(st.integers(0, 500_000_000), min_size=1, max_size=80),
    st.integers(1, 100),
    st.lists(st.integers(1, 400_000_000), min_size=1, max_size=6),
)
@settings(deadline=None)
def test_debounce_fold_chunking_invariance(ts_us, gap_s, cuts):
    """Folding the stream in watermark-released chunks (state carried
    between releases) survives ANY chunk boundaries: identical
    survivors to one whole-stream fold. This is the algebraic property
    the out-of-order integration tests rely on."""
    from oculus_data_pipeline_spark.streaming.stateful import _debounce_fold

    ordered = sorted((us, i) for i, us in enumerate(ts_us))
    us_all = [r[0] for r in ordered]
    eid_all = [r[1] for r in ordered]
    _, keep_whole = _debounce_fold(None, us_all, eid_all, gap_s)
    whole = {eid_all[i] for i in keep_whole}

    bounds = sorted(set(cuts)) + [500_000_001]
    prev_sec, chunked, lo = None, set(), 0
    for b in bounds:
        hi = lo
        while hi < len(ordered) and ordered[hi][0] < b:
            hi += 1
        us = us_all[lo:hi]
        eid = eid_all[lo:hi]
        prev_sec, keep = _debounce_fold(prev_sec, us, eid, gap_s)
        chunked |= {eid[i] for i in keep}
        lo = hi
    assert chunked == whole
