"""Text analysis operators for training-data curation.

All pure Column expressions (codegen'd, pushdown-friendly): token
counting, quality scoring, n-gram/stopword language ID, content
fingerprinting. North-star additions (SURVEY.md §2.13); the only
reference-text precedent is the normalize kernel they build on
(xml_to_json.py:7-14).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_term, normalize_term_sql

# Small, fixed stopword inventories — enough signal for a heuristic
# language vote; deliberately tiny so the same lists embed in the SQL
# oracle verbatim.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "los", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "les", "des", "est"],
    "de": ["der", "die", "das", "und", "ein", "ist", "von", "mit"],
    "zh": ["de", "le", "shi", "bu", "wo", "ni", "ta", "men"],
}

EN_STOPWORDS = LANG_STOPWORDS["en"]

# BPE-ish word/number/symbol segmentation — plain char classes so the
# same pattern runs under Java regex (Spark) and RE2 (DuckDB).
BPE_TOKEN_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def _toks(expr: str) -> Column:
    """Whitespace tokens of the normalized text, EMPTY-SAFE: a blank or
    whitespace-only doc tokenizes to ``[]``, not ``['']``.

    ``split('', ' ')`` yields ``['']`` in both Spark and DuckDB, so the
    pre-r10 form counted one phantom token per blank doc across every
    token consumer (token_stats, rarity, OOV, inverted index, ...).
    ``normalize_term`` collapses internal whitespace first, so for any
    non-blank doc the ``array_remove`` is a no-op — only the
    whole-string-empty case changes (r9 review triage, fixed r10).
    Form chosen by measurement: ``array_remove`` over the split ties
    the unfiltered baseline exactly (0.274 s for a sf0.1
    tokenize+explode+count; the JVM array pass is free next to the
    regexp), while the tempting ``CASE WHEN length(normalized)=0``
    guard is 2x SLOWER — Spark's subexpression elimination does not
    share the normalize regexp across when-branches, so it runs twice.
    Oracle twin: :func:`toks_oracle_sql`.
    """
    return F.expr(f"array_remove(split({normalize_term_sql(expr)}, ' '), '')")


def toks_oracle_sql(expr: str) -> str:
    """DuckDB equivalent of :func:`_toks` (empty tokens filtered)."""
    from ..functions.text import normalize_term_oracle_sql

    return (
        f"list_filter(string_split({normalize_term_oracle_sql(expr)}, ' '),"
        f" t -> t <> '')"
    )


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, n_chars, n_tokens, n_distinct_tokens, n_bpe_tokens, avg_token_len)."""
    toks = _toks(text_col)
    return docs.select(
        F.col(id_col).alias("id"),
        F.length(text_col).cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_PATTERN), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        # try_divide: a blank doc now has 0 tokens, and ANSI ÷0 must be
        # NULL (DuckDB's x/0 is NULL — lockstep), not a runtime error
        F.round(
            F.try_divide(F.length(F.array_join(toks, "")), F.size(toks)).cast(
                "double"
            ),
            6,
        ).alias("avg_token_len"),
    )


def _quality_cols(text_col: str) -> dict[str, Column]:
    """The quality feature expressions keyed by output name — exposed
    so composed pipelines (q70) can inline them on an existing scan
    instead of self-joining the ``quality_score`` projection back."""
    toks = _toks(text_col)
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
    punct = F.length(F.regexp_replace(F.col(text_col), "[a-zA-Z0-9 ]", ""))
    # try_divide throughout: 0-token (blank) and 0-char docs get NULL
    # ratios under ANSI instead of a DIVIDE_BY_ZERO error; DuckDB's
    # x/0 is NULL, so the oracles agree without any CASE scaffolding
    distinct_ratio = F.try_divide(F.size(F.array_distinct(toks)), n_tokens)
    stop_ratio = F.try_divide(stop_hits, n_tokens)
    punct_ratio = F.try_divide(punct, F.length(text_col))
    length_ok = F.when((n_tokens >= 10) & (n_tokens <= 1000), 1.0).otherwise(0.0)
    score = (
        F.lit(0.4) * length_ok
        + F.lit(0.3) * distinct_ratio
        + F.lit(0.2) * (1 - punct_ratio)
        + F.lit(0.1) * F.least(stop_ratio * 5, F.lit(1.0))
    )
    return {
        "stopword_ratio": F.round(stop_ratio.cast("double"), 6),
        "punct_ratio": F.round(punct_ratio.cast("double"), 6),
        "distinct_ratio": F.round(distinct_ratio.cast("double"), 6),
        "quality_score": F.round(score.cast("double"), 6),
    }


def quality_score_col(text_col: str = "text") -> Column:
    """The composite quality score as a single Column expression."""
    return _quality_cols(text_col)["quality_score"]


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features + a composite score in [0, 1]-ish.

    Features: punctuation ratio, stopword ratio, distinct-token ratio,
    length band. Deterministic, fully SQL-expressible.
    """
    cols = _quality_cols(text_col)
    return docs.select(
        F.col(id_col).alias("id"), *[c.alias(n) for n, c in cols.items()]
    )


def _lang_votes(text_col: str) -> dict[str, Column]:
    toks = _toks(text_col)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(words)))
        for lang, words in LANG_STOPWORDS.items()
    }


def pred_lang_col(text_col: str = "text") -> Column:
    """The predicted-language expression alone — inlineable on an
    existing scan (see _quality_cols rationale)."""
    votes = _lang_votes(text_col)
    langs = list(LANG_STOPWORDS)
    best = F.greatest(*[votes[lang] for lang in langs])
    pred = F.lit(None).cast("string")
    for lang in reversed(langs):
        pred = F.when(votes[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit("und"))


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language ID. Ties break by fixed language order
    (en, es, fr, de, zh) — deterministic, matching the SQL oracle."""
    votes = _lang_votes(text_col)
    return docs.select(
        F.col(id_col).alias("id"),
        *[votes[lang].cast("long").alias(f"votes_{lang}") for lang in LANG_STOPWORDS],
        pred_lang_col(text_col).alias("pred_lang"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Two content fingerprints per doc:

    - ``content_fp``: first 16 hex of sha256 of normalized text
      (order-sensitive exact-content key).
    - ``bow_fp``: md5 of the sorted distinct token bag (order-
      insensitive bag-of-words key; catches shuffled duplicates).
    """
    toks = _toks(text_col)
    return docs.select(
        F.col(id_col).alias("id"),
        F.substring(F.sha2(normalize_term(text_col), 256), 1, 16).alias("content_fp"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias("bow_fp"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    idf_scale: int = 1_000_000,
) -> DataFrame:
    """Top-k most-characteristic terms per document by a tf·idf rank,
    computed in exact integer arithmetic so the ranking is bit-identical
    cross-engine: score = tf · ((N · idf_scale) DIV df) as BIGINT
    (rational idf N/df, fixed-point; monotone in true tf·idf for fixed
    tf). Log-damped idf would drift in float; the *ranking* — which is
    what top-k consumes — is preserved for the dominant single-doc-
    frequency case and the tie-break (score desc, term asc) is total.

    Shape: one shuffle for tf (groupBy doc,term on exploded tokens);
    df never re-touches the corpus — it is tf's row count per term
    (tf has exactly one row per document containing the term), so the
    df branch hangs off tf's exchange (Catalyst reuses it) instead of
    a second scan + explode + distinct. A single-row N broadcasts in;
    one window for top-k. The df join keys on term — vocabulary-sized,
    AQE picks broadcast only when it fits.
    """
    from pyspark.sql import Window

    terms = docs.select(
        F.col(id_col).alias("id"), F.explode(_toks(text_col)).alias("term")
    ).where(F.col("term") != "")
    tf = terms.groupBy("id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "term",
            "tf",
            "df",
            (F.col("tf") * F.expr(f"(n_docs * {idf_scale}L) DIV df")).alias("score"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("id", "term", "tf", "df", "score", "rnk")
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
) -> DataFrame:
    """Token-bounded document chunking for sequence prep: each doc
    becomes ⌈n_tokens / chunk_tokens⌉ rows of (id, chunk_id,
    chunk_text, n_chunk_tokens), chunk boundaries on whitespace-token
    offsets. Pure Column expressions — sequence + explode + slice —
    so chunking is a narrow map stage: no shuffle, parallel in the
    scan partitions, and the text column never moves except sliced.
    """
    n = chunk_tokens
    t = docs.select(F.col(id_col).alias("id"), _toks(text_col).alias("toks")).where(
        F.size("toks") > 0
    )
    c = t.select(
        "id",
        "toks",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.expr(f"(size(toks) + {n - 1}) DIV {n} - 1"),
            )
        ).alias("chunk_id"),
    )
    sl = F.slice(F.col("toks"), (F.col("chunk_id") * n + 1).cast("int"), F.lit(n))
    return c.select(
        "id",
        "chunk_id",
        F.array_join(sl, " ").alias("chunk_text"),
        F.size(sl).cast("long").alias("n_chunk_tokens"),
    )


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Intra-document repetition signal (the Gopher-rules style
    duplicate-n-gram filter): per doc, total vs distinct n-gram counts
    and dup_ngram_ratio = 1 − distinct/total. High ratios flag looping
    / boilerplate-stuffed documents that length and stopword heuristics
    miss. Pure Column expressions on one scan — the n-gram array never
    leaves the row (no explode, no shuffle beyond none at all).
    """
    toks = _toks(text_col)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return (
        docs.where(F.size(_toks(text_col)) >= n)
        .select(
            F.col(id_col).alias("id"),
            total.cast("long").alias("n_ngrams"),
            distinct.cast("long").alias("n_distinct_ngrams"),
            F.round((F.lit(1.0) - distinct / total).cast("double"), 6).alias(
                "dup_ngram_ratio"
            ),
        )
    )


def inverted_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Token → postings-list construction (the retrieval-index build
    step): per token, document frequency, collection term frequency,
    and an id-sorted ``docid:tf`` postings string.

    Two hash aggregations — (token, doc) term frequencies with map-side
    partials, then per-token assembly. The postings string is built
    from an array_sort'd struct list so output is deterministic and
    order-insensitive to partitioning; at web scale the per-token
    postings for stopword-class tokens are the skew risk — cap or
    shard them upstream (df cutoffs) as classic IR systems do.
    Returns (token, df, ctf, postings).
    """
    tok = docs.select(
        F.col(id_col).alias("id"), F.explode(_toks(text_col)).alias("token")
    )
    per_doc = tok.groupBy("token", "id").agg(F.count("*").alias("tf"))
    postings = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("id", "tf"))),
            lambda s: F.concat_ws(":", s.id.cast("string"), s.tf.cast("string")),
        ),
        ",",
    )
    return per_doc.groupBy("token").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("ctf"),
        postings.alias("postings"),
    )


def bigram_merge_candidates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 20
) -> DataFrame:
    """Top-k most frequent adjacent token pairs — the candidate-scoring
    step of one BPE/WordPiece merge round, over the whole corpus.

    The pair stream is built per document with zip_with over two
    shifted slices of the token array (no self-join, no positional
    explode+rejoin), then one hash aggregation; top-k is a
    TakeOrderedAndProject with a total (count desc, bigram asc)
    ordering — never a single-partition global sort. At 100 TB this is
    exactly the map-reduce shape BPE trainers run per merge iteration.
    Returns (bigram, n).
    """
    toks = _toks(text_col)
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        docs.where(F.size(toks) >= 2)
        .select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(k)
    )
