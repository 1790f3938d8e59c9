"""Structured Streaming tests: the streaming window transforms must
produce exactly the batch results once the stream drains (memory sink,
availableNow), and the streaming XML→graph ingest must equal the batch
pipeline output."""

from __future__ import annotations

import pytest

from oculus_data_pipeline_spark.operators.classify import EchoClassifier
from oculus_data_pipeline_spark.plans.pipeline import run_pipeline
from oculus_data_pipeline_spark.sinks.graph_sink import write_graph_parquet
from oculus_data_pipeline_spark.sources.tables import load_table
from oculus_data_pipeline_spark.streaming.ingest import (
    read_events_stream,
    stream_pipeline_to_graph,
)
from oculus_data_pipeline_spark.streaming.windows import (
    session_window_agg,
    stream_dedup,
    tumbling_window_agg,
)

from .test_pipeline import XML


def _drain_to_memory(df, name: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    batch = {
        tuple(r)
        for r in tumbling_window_agg(
            load_table(spark, sf_dir, "events"), "1 hour"
        ).collect()
    }
    stream = tumbling_window_agg(
        read_events_stream(spark, f"{sf_dir}/events.parquet"),
        "1 hour",
        watermark="2 hours",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM tumbling_out").collect()}
    assert got == batch


def test_streaming_session_windows_run(spark, sf_dir):
    stream = session_window_agg(
        read_events_stream(spark, f"{sf_dir}/events.parquet"),
        gap="10 minutes",
        watermark="1 hour",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT count(*) AS n FROM sessions_out").collect()[0]["n"]
    batch_n = session_window_agg(
        load_table(spark, sf_dir, "events"), gap="10 minutes"
    ).count()
    assert n == batch_n > 0


def test_stream_dedup_bounded_state(spark, sf_dir):
    deduped = stream_dedup(
        read_events_stream(spark, f"{sf_dir}/events.parquet"),
        keys=["user_id", "event_type"],
        watermark="30 days",  # longer than the dataset span → global dedup
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM dedup_out").collect()[0]["n"]
    expected = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert got == expected


def test_streaming_xml_pipeline_equals_batch(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "corpus.xml").write_text(XML)
    out = tmp_path / "graph"
    ckpt = tmp_path / "ckpt"
    q = stream_pipeline_to_graph(
        spark, str(landing), str(out), EchoClassifier(), str(ckpt)
    )
    q.awaitTermination(180)
    batch = tmp_path / "batch"
    write_graph_parquet(*run_pipeline(spark, str(landing), EchoClassifier()), str(batch))

    # Multisets, not sets: one drained epoch must write exactly the rows
    # the batch sink writes, so a duplicate row in either table fails.
    def rows(root, table):
        df = spark.read.parquet(str(root / table))
        return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())

    for table in ("nodes", "edges"):
        assert rows(out, table) == rows(batch, table), table


def test_streaming_minute_level_feeds_rollup_lattice(spark, sf_dir):
    """The rollup lattice's finest level is exactly a tumbling 1-minute
    streaming aggregation: drained stream == batch minute slice, so a
    continuous pipeline can maintain the minute aggregate with
    Structured Streaming and derive hour/day from it in batch."""
    from pyspark.sql import functions as F

    from oculus_data_pipeline_spark.operators.rollup import multires_rollup

    batch = {
        tuple(r)
        for r in multires_rollup(
            load_table(spark, sf_dir, "events"), resolutions=("minute",)
        ).collect()
    }
    stream = (
        read_events_stream(spark, f"{sf_dir}/events.parquet")
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,6)")).alias("_tv"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.lit("minute").alias("resolution"),
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
            "event_type",
            "n_events",
            F.col("_tv").cast("double").alias("total_value"),
            "min_value",
            "max_value",
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("minute_rollup_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(r) for r in spark.sql("SELECT * FROM minute_rollup_out").collect()
    }
    assert got == batch


def test_streaming_pii_scrub_equals_batch(spark, sf_dir):
    """Round-3 curation operators are stream-valid narrow maps: the
    same detect_and_redact_pii expressions over a file-source stream
    of the documents table produce exactly the batch result."""
    import os

    from oculus_data_pipeline_spark.operators.pii import detect_and_redact_pii
    from oculus_data_pipeline_spark.sources.tables import load_table
    from oculus_data_pipeline_spark.streaming.ingest import read_documents_stream

    batch = {
        tuple(r)
        for r in detect_and_redact_pii(load_table(spark, sf_dir, "documents")).collect()
    }
    stream = detect_and_redact_pii(
        read_documents_stream(spark, os.path.join(sf_dir, "documents.parquet"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pii_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM pii_out").collect()}
    assert got == batch


def test_streaming_cdc_apply_equals_batch(spark, tmp_path):
    """Incremental SCD2 maintenance under streaming: applying two
    update micro-batches through foreachBatch, each with scd2_apply on
    the accumulated state, yields exactly the one-shot batch result —
    the MERGE-INTO-equivalent streaming upsert loop."""
    import os

    from oculus_data_pipeline_spark.operators.scd import scd2_apply

    current = spark.createDataFrame(
        [(1, 10.0, "1995-01-01", "9999-12-31"),
         (2, 20.0, "1995-01-01", "9999-12-31"),
         (3, 30.0, "1995-01-01", "9999-12-31")],
        "k long, bal double, valid_from string, valid_to string",
    )
    u1 = [(1, 11.0, "1997-01-01")]
    u2 = [(2, 22.0, "1998-06-01"), (1, 12.0, "1999-02-01")]
    schema = "k long, bal double, change_date string"

    # batch ground truth: apply both update sets in order
    expected = scd2_apply(
        scd2_apply(current, spark.createDataFrame(u1, schema), key="k"),
        spark.createDataFrame(u2, schema),
        key="k",
    )
    expected_rows = {tuple(r) for r in expected.collect()}

    # streaming: updates arrive as two files; foreachBatch folds each
    # micro-batch into the persisted state with the same operator
    upd_dir = tmp_path / "updates"
    state_dir = str(tmp_path / "state")
    upd_dir.mkdir()
    spark.createDataFrame(u1, schema).coalesce(1).write.mode("overwrite").parquet(
        str(upd_dir / "b1.parquet")
    )
    current.write.mode("overwrite").parquet(state_dir)

    def apply_batch(updates, epoch_id):
        if not updates.head(1):
            return
        state = spark.read.parquet(state_dir)
        new_state = scd2_apply(state, updates, key="k").collect()
        spark.createDataFrame(new_state, state.schema).write.mode(
            "overwrite"
        ).parquet(state_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(upd_dir) + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    spark.createDataFrame(u2, schema).coalesce(1).write.mode("overwrite").parquet(
        str(upd_dir / "b2.parquet")
    )
    q2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(upd_dir) + "/*")
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got = {tuple(r) for r in spark.read.parquet(state_dir).collect()}
    assert got == expected_rows


def test_streaming_incremental_fingerprint_equals_batch(spark, tmp_path):
    """Incremental table fingerprinting under streaming: each
    micro-batch's 256-bucket (n_rows, digest) partial folds into the
    persisted grid by merge_fingerprints (counts add, digests add mod
    2^61-1 — the mergeability the batch test pins algebraically), and
    after all batches the accumulated grid equals the one-shot batch
    fingerprint — replica validation that never rescans history."""
    from pyspark.sql import functions as F

    from oculus_data_pipeline_spark.operators.scd import (
        merge_fingerprints,
        table_fingerprint,
    )

    schema = "k long, val string"
    b1 = [(i, f"v{i}") for i in range(40)]
    b2 = [(i, f"w{i}") for i in range(40, 90)]
    cols = [F.col("k"), F.col("val")]

    whole = spark.createDataFrame(b1 + b2, schema)
    expected = {
        r.bucket: (r.n_rows, int(r.digest))
        for r in table_fingerprint(whole, "k", cols, n_buckets=16).collect()
    }

    src_dir = tmp_path / "rows"
    state_dir = str(tmp_path / "fp_state")
    src_dir.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        str(src_dir / "b1.parquet")
    )
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        str(src_dir / "b2.parquet")
    )

    def fold_batch(batch, epoch_id):
        if not batch.head(1):
            return
        import os

        part = table_fingerprint(batch, "k", cols, n_buckets=16)
        if os.path.exists(state_dir):
            state = spark.read.parquet(state_dir)
            merged = merge_fingerprints(state.unionByName(part)).collect()
            spark.createDataFrame(merged, part.schema).write.mode(
                "overwrite"
            ).parquet(state_dir)
        else:
            part.write.parquet(state_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir) + "/*")
        .writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", str(tmp_path / "fp_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.bucket: (r.n_rows, int(r.digest))
        for r in spark.read.parquet(state_dir).collect()
    }
    assert got == expected


def test_streaming_cms_grid_equals_batch(spark, tmp_path):
    """Incremental count-min maintenance under streaming: each
    micro-batch's depth×width grid folds into the persisted grid by
    entrywise addition; after all batches the accumulated grid equals
    the one-shot batch sketch — the streaming frequency structure that
    never rescans history (same merge law test_eigen_sketch pins
    algebraically)."""
    from pyspark.sql import functions as F

    from oculus_data_pipeline_spark.operators.sketch import cms_counters

    schema = "k string"
    b1 = [(f"k{i % 7}",) for i in range(50)]
    b2 = [(f"k{i % 11}",) for i in range(60)]

    whole = spark.createDataFrame(b1 + b2, schema)
    expected = {
        (r.d, r.bucket): r.cnt
        for r in cms_counters(whole, "k", depth=3, width=64).collect()
    }

    src_dir = tmp_path / "cms_rows"
    state_dir = str(tmp_path / "cms_state")
    src_dir.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        str(src_dir / "b1.parquet")
    )
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        str(src_dir / "b2.parquet")
    )

    def fold_batch(batch, epoch_id):
        if not batch.head(1):
            return
        import os

        part = cms_counters(batch, "k", depth=3, width=64)
        if os.path.exists(state_dir):
            state = spark.read.parquet(state_dir)
            merged = (
                state.unionByName(part)
                .groupBy("d", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
                .collect()
            )
            spark.createDataFrame(merged, part.schema).write.mode(
                "overwrite"
            ).parquet(state_dir)
        else:
            part.write.parquet(state_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir) + "/*")
        .writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.d, r.bucket): r.cnt
        for r in spark.read.parquet(state_dir).collect()
    }
    assert got == expected


def test_streaming_debounce_equals_batch(spark, sf_dir):
    """The stateful streaming debounce must emit exactly the batch
    q173 survivors when the whole table is replayed as a stream."""
    from oculus_data_pipeline_spark.queries import get_queries
    from oculus_data_pipeline_spark.streaming.stateful import debounce_stream

    out = debounce_stream(
        read_events_stream(spark, f"{sf_dir}/events.parquet"), gap_s=3600
    )
    q = (
        out.writeStream.format("memory")
        .queryName("debounce_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT event_id, user_id, event_type, value FROM debounce_out"
        ).collect()
    }
    batch = get_queries()["q173_event_debounce"](spark, sf_dir)
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_streaming_debounce_carries_state_across_batches(spark, sf_dir, tmp_path):
    """Replay the events table as TWO time-ordered micro-batches and
    assert the stateful debounce still emits exactly the batch q173
    survivors — proving the per-key last-seen state carries across
    micro-batch boundaries, not just within one batch."""
    import pyspark.sql.functions as F

    from oculus_data_pipeline_spark.queries import get_queries
    from oculus_data_pipeline_spark.streaming.ingest import read_events_stream
    from oculus_data_pipeline_spark.streaming.stateful import debounce_stream

    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(
        F.expr(
            "timestamp_micros(CAST(percentile_disc(0.5)"
            " WITHIN GROUP (ORDER BY unix_micros(ts)) AS BIGINT))"
        ).alias("c")
    ).collect()[0]["c"]
    landing = tmp_path / "ev_batches"
    landing.mkdir()
    # two strictly time-ordered single FILES (pathGlobFilter matches
    # leaf file names, so Spark's directory-style writer won't do);
    # lexicographic names match replay order
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i, part in enumerate(
        (ev.where(F.col("ts") < F.lit(cut)), ev.where(F.col("ts") >= F.lit(cut)))
    ):
        pq.write_table(
            pa.Table.from_pandas(part.toPandas()),
            str(landing / f"batch_{i}.parquet"),
        )
    out = debounce_stream(
        read_events_stream(spark, str(landing / "batch_*.parquet")), gap_s=3600
    )
    q = (
        out.writeStream.format("memory")
        .queryName("debounce_two_batches")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT event_id, user_id, event_type, value FROM debounce_two_batches"
        ).collect()
    }
    want = {
        tuple(r)
        for r in get_queries()["q173_event_debounce"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_kmv_sketch_merge_equals_batch(spark, tmp_path):
    """KMV mergeability under streaming (the property that makes q209
    shippable as a sketch): each micro-batch's per-source k-minimum
    hash set unions into the persisted sketch and is re-truncated to
    the k smallest — a semilattice fold — and after all batches the
    accumulated sketch is EXACTLY the one-shot batch sketch over the
    full corpus. No history rescan, state bounded at sources×k rows."""
    import os

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from oculus_data_pipeline_spark.functions.hashing import md5_int

    K = 16
    schema = "doc_id long, text string, source string"
    rows1 = [(i, f"tok{i} tok{i+1} tok{i+2} tok{i%7}", f"s{i % 3}") for i in range(30)]
    rows2 = [(i, f"tok{i%11} tok{i+3} tok{i} tok{i%5}", f"s{i % 3}") for i in range(30, 70)]

    def sketch(df):
        tok = (
            df.select("source", F.split("text", " ").alias("toks"))
            .where(F.size("toks") >= 2)
            .select(
                "source",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(toks) - 2),"
                        " i -> concat(toks[i], ' ', toks[i + 1]))"
                    )
                ).alias("tok"),
            )
            .distinct()
            .select("source", md5_int(F.col("tok")).alias("hv"))
            .distinct()
        )
        w = W.partitionBy("source").orderBy("hv")
        return (
            tok.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= K)
            .select("source", "hv")
        )

    whole = spark.createDataFrame(rows1 + rows2, schema)
    expected = {(r.source, r.hv) for r in sketch(whole).collect()}

    src_dir = tmp_path / "docs"
    state_dir = str(tmp_path / "kmv_state")
    src_dir.mkdir()
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(src_dir / "b1.parquet")
    )
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        str(src_dir / "b2.parquet")
    )

    def fold_batch(batch, epoch_id):
        if not batch.head(1):
            return
        part = sketch(batch)
        if os.path.exists(state_dir):
            state = spark.read.parquet(state_dir)
            w = W.partitionBy("source").orderBy("hv")
            merged = (
                state.unionByName(part)
                .distinct()
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= K)
                .select("source", "hv")
                .collect()
            )
            spark.createDataFrame(merged, part.schema).write.mode(
                "overwrite"
            ).parquet(state_dir)
        else:
            part.write.parquet(state_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir) + "/*")
        .writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", str(tmp_path / "kmv_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.source, r.hv) for r in spark.read.parquet(state_dir).collect()}
    assert got == expected


def test_streaming_interval_coverage_equals_batch(spark, sf_dir):
    """The stateful streaming interval-union coverage must converge to
    exactly the batch q198 report (same leases) when the events table
    is replayed as a stream: latest emission per key (max n_seen) ==
    batch row, for every user."""
    from pyspark.sql import functions as F

    from oculus_data_pipeline_spark.queries import get_queries
    from oculus_data_pipeline_spark.streaming.stateful import (
        interval_coverage_stream,
    )

    out = interval_coverage_stream(
        read_events_stream(spark, f"{sf_dir}/events.parquet")
    )
    q = (
        out.writeStream.format("memory")
        .queryName("cov_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    latest = spark.sql(
        """
        SELECT user_id, n_islands, covered_s, first_start_s, last_end_s
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY n_seen DESC) AS r
          FROM cov_out
        ) WHERE r = 1
        """
    )
    got = {r.user_id: tuple(r)[1:] for r in latest.collect()}
    batch = get_queries()["q198_interval_coverage"](spark, sf_dir)
    want = {
        r.user_id: (r.n_islands, r.covered_s, r.first_start_s, r.last_end_s)
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_streaming_interval_coverage_state_across_batches(spark, sf_dir, tmp_path):
    """Replay the events table as TWO time-ordered files and assert
    the streaming coverage still converges to the batch q198 report —
    open islands straddling the batch boundary must merge through the
    carried state, not reset."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from oculus_data_pipeline_spark.queries import get_queries
    from oculus_data_pipeline_spark.streaming.ingest import read_events_stream
    from oculus_data_pipeline_spark.streaming.stateful import (
        interval_coverage_stream,
    )

    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(
        F.expr(
            "timestamp_micros(CAST(percentile_disc(0.5)"
            " WITHIN GROUP (ORDER BY unix_micros(ts)) AS BIGINT))"
        ).alias("c")
    ).collect()[0]["c"]
    landing = tmp_path / "cov_batches"
    landing.mkdir()
    for i, part in enumerate(
        (ev.where(F.col("ts") < F.lit(cut)), ev.where(F.col("ts") >= F.lit(cut)))
    ):
        pq.write_table(
            pa.Table.from_pandas(part.toPandas()),
            str(landing / f"batch_{i}.parquet"),
        )
    out = interval_coverage_stream(
        read_events_stream(spark, str(landing / "batch_*.parquet"))
    )
    q = (
        out.writeStream.format("memory")
        .queryName("cov_two_batches")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    latest = spark.sql(
        """
        SELECT user_id, n_islands, covered_s, first_start_s, last_end_s
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY n_seen DESC) AS r
          FROM cov_two_batches
        ) WHERE r = 1
        """
    )
    got = {r.user_id: tuple(r)[1:] for r in latest.collect()}
    want = {
        r.user_id: (r.n_islands, r.covered_s, r.first_start_s, r.last_end_s)
        for r in get_queries()["q198_interval_coverage"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


# ---------------------------------------------------------------------------
# Out-of-order replay through the watermark buffer (round 5)
# ---------------------------------------------------------------------------

_JITTER_DELAY_S = 1800  # watermark bound for the permuted-replay tests


def _permuted_event_files(spark, sf_dir, landing, n_files: int = 6):
    """Write the events table as ``n_files`` parquet files ordered by a
    deterministically JITTERED arrival time (arrival = ts + (event_id
    mod 8)·delay/8, so arrival order ≠ event order but every row's
    lateness vs the running max stays strictly under the watermark
    bound), plus a far-future sentinel row (user_id −1) whose only job
    is to advance the watermark past everything and flush the buffers."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    arr = ev.withColumn(
        "arr_us",
        F.unix_micros("ts")
        + (F.col("event_id") % 8) * int(_JITTER_DELAY_S * 1_000_000 // 8),
    ).orderBy("arr_us", "event_id")
    pdf = arr.drop("arr_us").toPandas()
    # permutation sanity: arrival order must actually differ from
    # event-time order, else the test degenerates to the in-order one
    assert not pdf["ts"].is_monotonic_increasing
    chunk = (len(pdf) + n_files - 1) // n_files
    for i in range(n_files):
        part = pdf.iloc[i * chunk : (i + 1) * chunk]
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            str(landing / f"batch_{i:02d}.parquet"),
        )
    sentinel = pdf.iloc[:1].copy()
    sentinel["event_id"] = -1
    sentinel["user_id"] = -1
    sentinel["ts"] = pdf["ts"].max() + pd_timedelta_s(100 * _JITTER_DELAY_S)
    pq.write_table(
        pa.Table.from_pandas(sentinel, preserve_index=False),
        str(landing / f"batch_{n_files:02d}_sentinel.parquet"),
    )


def pd_timedelta_s(s: int):
    import pandas as pd

    return pd.Timedelta(seconds=s)


def test_streaming_debounce_out_of_order_equals_batch(spark, sf_dir, tmp_path):
    """Replay the events table with arrival order PERMUTED within the
    watermark bound and assert the buffered debounce still emits
    exactly the batch q173 survivors — the replay buffer must restore
    global (ts, event_id) fold order across micro-batches."""
    from oculus_data_pipeline_spark.queries import get_queries
    from oculus_data_pipeline_spark.streaming.stateful import debounce_stream

    landing = tmp_path / "ooo_debounce"
    landing.mkdir()
    _permuted_event_files(spark, sf_dir, landing)
    out = debounce_stream(
        read_events_stream(spark, str(landing / "batch_*.parquet")),
        gap_s=3600,
        max_lateness_s=_JITTER_DELAY_S,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("debounce_ooo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT event_id, user_id, event_type, value FROM debounce_ooo"
            " WHERE user_id >= 0"
        ).collect()
    }
    want = {
        tuple(r)
        for r in get_queries()["q173_event_debounce"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_interval_coverage_out_of_order_equals_batch(
    spark, sf_dir, tmp_path
):
    """Permuted-arrival replay of the events table through the buffered
    interval-coverage operator converges to exactly the batch q198
    report (latest emission per key), proving out-of-order exact parity
    — the r4 in-order-only limitation is closed, not just documented."""
    from oculus_data_pipeline_spark.queries import get_queries
    from oculus_data_pipeline_spark.streaming.stateful import (
        interval_coverage_stream,
    )

    landing = tmp_path / "ooo_coverage"
    landing.mkdir()
    _permuted_event_files(spark, sf_dir, landing)
    out = interval_coverage_stream(
        read_events_stream(spark, str(landing / "batch_*.parquet")),
        max_lateness_s=_JITTER_DELAY_S,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("cov_ooo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    latest = spark.sql(
        """
        SELECT user_id, n_islands, covered_s, first_start_s, last_end_s
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY n_seen DESC) AS r
          FROM cov_ooo
        ) WHERE r = 1 AND user_id >= 0
        """
    )
    got = {r.user_id: tuple(r)[1:] for r in latest.collect()}
    want = {
        r.user_id: (r.n_islands, r.covered_s, r.first_start_s, r.last_end_s)
        for r in get_queries()["q198_interval_coverage"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_interval_coverage_rejects_out_of_order(spark, sf_dir, tmp_path):
    """The PLAIN (no-buffer) coverage stream claims exact parity only
    for time-ordered replay — feeding it reversed files must fail the
    query loudly with a pointer at max_lateness_s, not silently emit
    wrong coverage (r4 advisor note, now enforced in state)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from oculus_data_pipeline_spark.streaming.stateful import (
        interval_coverage_stream,
    )

    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(
        F.expr(
            "timestamp_micros(CAST(percentile_disc(0.5)"
            " WITHIN GROUP (ORDER BY unix_micros(ts)) AS BIGINT))"
        ).alias("c")
    ).collect()[0]["c"]
    landing = tmp_path / "cov_reversed"
    landing.mkdir()
    # LATER half lands first (batch_0), earlier half second — reversed
    for i, part in enumerate(
        (ev.where(F.col("ts") >= F.lit(cut)), ev.where(F.col("ts") < F.lit(cut)))
    ):
        pq.write_table(
            pa.Table.from_pandas(part.toPandas()),
            str(landing / f"batch_{i}.parquet"),
        )
    out = interval_coverage_stream(
        read_events_stream(spark, str(landing / "batch_*.parquet"))
    )
    q = (
        out.writeStream.format("memory")
        .queryName("cov_reversed_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException) as exc:
        q.awaitTermination(180)
        raise AssertionError("reversed replay did not fail the query")
    assert "out-of-order" in str(exc.value)


def test_streaming_debounce_rejects_out_of_order(spark, sf_dir, tmp_path):
    """Mirror of the coverage rejection test: the PLAIN debounce must
    fail loudly on unordered replay (second-granularity guard on
    prev_sec), pointing at max_lateness_s."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from oculus_data_pipeline_spark.streaming.stateful import debounce_stream

    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(
        F.expr(
            "timestamp_micros(CAST(percentile_disc(0.5)"
            " WITHIN GROUP (ORDER BY unix_micros(ts)) AS BIGINT))"
        ).alias("c")
    ).collect()[0]["c"]
    landing = tmp_path / "deb_reversed"
    landing.mkdir()
    for i, part in enumerate(
        (ev.where(F.col("ts") >= F.lit(cut)), ev.where(F.col("ts") < F.lit(cut)))
    ):
        pq.write_table(
            pa.Table.from_pandas(part.toPandas()),
            str(landing / f"batch_{i}.parquet"),
        )
    out = debounce_stream(
        read_events_stream(spark, str(landing / "batch_*.parquet")), gap_s=3600
    )
    q = (
        out.writeStream.format("memory")
        .queryName("deb_reversed_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException) as exc:
        q.awaitTermination(180)
        raise AssertionError("reversed replay did not fail the query")
    assert "out-of-order" in str(exc.value)
