"""Corpus-curation operators: unigram-LM rarity scoring, canonical
document selection over near-dup clusters, and per-source (domain)
reputation filtering.

These are the C4/Dolma/RefinedWeb-style corpus stages the reference
has no instance of (its corpus is small historical documents) —
north-star additions per the training-pipeline brief:

- ``unigram_rarity``: a perplexity proxy from a corpus unigram LM.
  All arithmetic is BIGINT (counts and integer-scaled rarity), so the
  score is bit-identical cross-engine — no float log-probs to drift.
- ``canonical_docs``: the "which duplicate survives" decision —
  near-dup pairs → connected components → highest-quality member per
  cluster (deterministic tie-break) becomes the canonical doc.
- ``source_reputation``: domain-level curation — per-source volume,
  mean quality, exact-dup ratio, and a keep/drop verdict; the
  corpus-scale analog of C4's domain blocklists.

Scale notes (100 TB): the unigram LM is one explode + two hash
aggregations (map-side partials on both); the token→rarity join keys
on the token string with AQE free to broadcast the vocabulary when it
fits. canonical_docs rides the sub-quadratic LSH pair path and a
per-cluster window whose partitions are near-dup clusters (bounded,
shallow). source_reputation is a single hash aggregation on source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from . import dedup
from .graph_algo import connected_components
from .textstats import _toks, quality_score_col


def unigram_rarity(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-document corpus-rarity score — an integer-exact perplexity
    proxy. Token rarity = (total_tokens · scale) DIV ctf (collection
    term frequency); doc score = Σ tf·rarity DIV n_tokens. Rare-token-
    heavy documents score high, boilerplate scores low.

    Per-token rarity and the final score are BIGINT (score ≤ max
    rarity ≤ total·scale: safe to ~9e12 total tokens at scale=1e6).
    The intermediate Σ tf·rarity is summed in DECIMAL(38,0) — its
    bound is n_tokens·total·scale, which would wrap BIGINT ~1000×
    earlier for a 1000-token doc of hapaxes (and DuckDB's HUGEINT
    oracle sums would diverge from a silently-wrapping non-ANSI
    Spark).  Returns (id, n_tokens, rarity_score).
    """
    tok = docs.select(
        F.col(id_col).alias("id"), F.explode(_toks(text_col)).alias("token")
    )
    tf = tok.groupBy("id", "token").agg(F.count("*").alias("tf"))
    ctf = tf.groupBy("token").agg(F.sum("tf").alias("ctf"))
    total = ctf.agg(F.sum("ctf").alias("total_tokens"))
    rarity = ctf.crossJoin(F.broadcast(total)).select(
        "token",
        F.expr(f"total_tokens * {scale} div ctf").alias("rarity"),
    )
    return (
        tf.join(rarity, "token")
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum((F.col("tf") * F.col("rarity")).cast("decimal(38,0)")).alias(
                "rarity_mass"
            ),
        )
        .select(
            "id",
            "n_tokens",
            F.expr("CAST(rarity_mass div n_tokens AS BIGINT)").alias(
                "rarity_score"
            ),
        )
    )


def canonical_docs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Canonical-representative selection over near-dup clusters: LSH
    candidates + exact-Jaccard pairs (dedup.lsh_verified_near_dups) →
    connected components → per cluster, the member with the highest
    quality score (ties broken by min id) is canonical. Returns one
    row per clustered doc: (id, comp, quality_score, canonical_id,
    cluster_size, is_canonical) — the dedup *decision*, not just the
    pair list; downstream keeps ``is_canonical`` rows.
    """
    pairs = dedup.lsh_verified_near_dups(
        docs, text_col=text_col, id_col=id_col, threshold=threshold
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    qual = docs.select(
        F.col(id_col).alias("id"), quality_score_col(text_col).alias("quality_score")
    )
    members = comp.join(qual, "id")
    w = W.partitionBy("comp")
    rnk = F.row_number().over(
        w.orderBy(F.desc("quality_score"), F.asc("id"))
    )
    return (
        members.withColumn("rn", rnk)
        .withColumn("cluster_size", F.count("*").over(w))
        .withColumn(
            "canonical_id",
            F.first(F.when(F.col("rn") == 1, F.col("id")), ignorenulls=True).over(w),
        )
        .select(
            F.col("id").cast("long").alias("id"),
            F.col("comp").cast("long").alias("comp"),
            "quality_score",
            F.col("canonical_id").cast("long").alias("canonical_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            (F.col("id") == F.col("canonical_id")).alias("is_canonical"),
        )
    )


def source_reputation(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    min_docs: int = 5,
    quality_floor: float = 0.5,
) -> DataFrame:
    """Domain-level curation verdicts: per source, document volume,
    decimal-exact mean quality, exact-duplicate ratio (md5 canonical),
    and keep = (mean_quality ≥ floor AND n_docs ≥ min_docs). One hash
    aggregation on source; at web scale sources are the natural unit
    for crawl filtering (C4-style blocklisting by domain statistics).

    Null-aware denominators (late r9): mean_quality averages over the
    docs that HAVE a quality score (null q — empty/degenerate text —
    previously deflated the mean toward zero, wrongly blocklisting a
    source whose real docs are fine), and dup_ratio is computed over
    the docs with a hashable text (null-text docs previously counted
    as "duplicates" — an all-null source read dup_ratio 1.0 with zero
    comparable content). A source with NO scorable/hashable docs gets
    NULL mean_quality / dup_ratio and keep = false, never a fabricated
    number.
    """
    per_doc = docs.select(
        F.col(source_col).alias("source"),
        quality_score_col(text_col).alias("q"),
        F.md5(F.col(text_col)).alias("h"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count("q").alias("n_q"),
        F.count("h").alias("n_h"),
        F.countDistinct("h").alias("n_unique"),
        F.sum(F.col("q").cast("decimal(22,6)")).alias("qsum"),
    )
    mean_q = F.when(
        F.col("n_q") == 0, F.lit(None).cast("double")
    ).otherwise(F.round(F.col("qsum").cast("double") / F.col("n_q"), 6))
    dup_ratio = F.when(
        F.col("n_h") == 0, F.lit(None).cast("double")
    ).otherwise(
        F.round((1 - F.col("n_unique") / F.col("n_h")).cast("double"), 6)
    )
    return agg.select(
        "source",
        "n_docs",
        dup_ratio.alias("dup_ratio"),
        mean_q.alias("mean_quality"),
        (
            F.coalesce(mean_q >= F.lit(quality_floor), F.lit(False))
            & (F.col("n_docs") >= F.lit(min_docs))
        ).alias("keep"),
    )


def source_mixture_plan(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Training-mixture planning across sources — the sqrt-temperature
    reweighting used to flatten source-size imbalance when mixing
    corpora (α=0.5 sampling à la multilingual/LLM data recipes), plus
    a deterministic hash sampler that realizes the plan.

    Per source: exact token volume, mixture share ∝ √tokens, and the
    count of documents the REALIZE-RATE actually samples. The rate is
    r_s = √(T_min/T_s) (the smallest source keeps everything, bigger
    sources are downsampled), so sampled tokens per source are
    T_s·√(T_min/T_s) = √(T_min·T_s) ∝ √T_s — i.e. the sample's
    per-source token share IS the √-temperature ``share`` column.
    (The pre-r9 form used the mixture share itself as the keep-rate,
    which samples tokens ∝ T_s^1.5 — AMPLIFYING source imbalance
    ~1000:1 for a 100:1 corpus, the opposite of the stated α=0.5
    goal; r9 review.) A doc is kept iff md5(doc_id) % 1e6 < r_s·1e6 —
    reproducible across runs/engines, no RNG. Cross-engine exactness:
    token counts are BIGINT; the share denominator is a DECIMAL sum
    of per-source √tokens rounded to 6 places (order-independent);
    the rate is a 6-place-rounded double sqrt of a BIGINT ratio, so
    both engines divide identical doubles.

    T_min sensitivity (inherent to the r_s = √(T_min/T_s) anchor): the
    keep-rate is keyed to the single SMALLEST source, so one degenerate
    near-empty source (a 1-doc source in a dirty corpus) collapses
    retained volume for every source s to ≈ √(T_min·T_s) tokens. That
    is the stated design (the smallest source is kept whole and
    everything flattens toward it), but on an uncurated corpus callers
    should pre-filter trivially small sources before planning the
    mixture — the cliff is data-dependent and sharp (r9 advice).

    Scale shape: two scans of the corpus (one aggregation pass, one
    sampling pass), both reduced per-source map-side; the per-source
    rate table is tiny and broadcast — no shuffle ever carries doc
    text."""
    from ..functions.hashing import md5_int
    from .textstats import _toks

    per_doc = docs.select(
        F.col(source_col).alias("source"),
        # the shared empty-safe tokenizer: blank docs contribute 0
        # tokens to their source's volume, not 1 (r10, with _toks)
        F.size(_toks(text_col)).cast("long").alias("n_tokens"),
        (md5_int(F.col(id_col).cast("string")) % 1000000).alias("u"),
    )
    per_src = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    w = per_src.withColumn(
        "w", F.round(F.sqrt(F.col("total_tokens")), 6).cast("decimal(28,6)")
    )
    tot = w.groupBy().agg(
        F.sum("w").alias("tw"), F.min("total_tokens").alias("tmin")
    )
    # try_divide: an all-blank corpus (tw = 0) or a 0-token source now
    # yields NULL share/rate (nothing sampled) instead of an ANSI
    # DIVIDE_BY_ZERO — DuckDB's x/0 is NULL, so the oracle agrees
    share = F.round(
        F.try_divide(F.col("w").cast("double"), F.col("tw").cast("double")), 6
    )
    rate = F.round(
        F.sqrt(
            F.try_divide(
                F.col("tmin").cast("double"), F.col("total_tokens").cast("double")
            )
        ),
        6,
    )
    rates = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total_tokens",
        share.alias("share"),
        F.round(rate * 1000000).cast("long").alias("thr"),
    )
    sampled = (
        per_doc.join(F.broadcast(rates.select("source", "thr")), "source")
        .where(F.col("u") < F.col("thr"))
        .groupBy("source")
        .agg(F.count("*").alias("n_s"))
    )
    return (
        rates.join(sampled, "source", "left")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "share",
            F.coalesce(F.col("n_s"), F.lit(0).cast("long")).alias("n_sampled"),
        )
    )


def scrub_duplicate_segments(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 16,
    max_df: int = 2,
) -> DataFrame:
    """Sub-document exact dedup (the CCNet/RefinedWeb line-dedup stage,
    on token windows since this corpus has no line structure): chunk
    each doc into ``seg_tokens``-token segments, count each segment
    text's document frequency corpus-wide, drop segments that occur in
    more than ``max_df`` chunks (boilerplate / template spans), and
    reassemble the surviving text in original order.

    Returns (id, n_segments, n_kept, kept_tokens, kept_text).

    Scale shape: chunking is a narrow map (textstats.chunk_documents);
    the corpus-wide segment df is ONE window shuffle keyed on the FULL
    md5 of the segment text (uniform by construction — hot boilerplate
    hashes are exactly the rows the filter then drops, and the window
    only counts, so a hot key costs a count not a blow-up); reassembly
    is one groupBy on doc id. Segment text never moves twice: the
    hash rides the df shuffle, the text rides only the per-doc
    reassembly. The df key was a 48-bit ``md5_int`` prefix pre-r10;
    at ~1e11 corpus chunks that expects ~2e7 colliding pairs, each of
    which could scrub an INNOCENT segment that merely hash-collided
    with boilerplate — the full 128-bit digest makes a false scrub
    astronomically unlikely, for the same single shuffle (a 32-char
    key instead of a long; r9 review triage, fixed r10)."""
    from .textstats import chunk_documents

    segs = chunk_documents(
        docs, text_col=text_col, id_col=id_col, chunk_tokens=seg_tokens
    ).withColumn("sh", F.md5(F.col("chunk_text")))
    cnt = F.count("*").over(W.partitionBy("sh"))
    flagged = segs.withColumn("keep", cnt <= max_df)
    kept_struct = F.when(
        F.col("keep"), F.struct("chunk_id", "chunk_text")
    )  # collect_list drops the nulls for scrubbed segments
    return flagged.groupBy("id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        F.sum(
            F.when(F.col("keep"), F.col("n_chunk_tokens")).otherwise(0)
        ).alias("kept_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s.chunk_text
            ),
            " ",
        ).alias("kept_text"),
    )
