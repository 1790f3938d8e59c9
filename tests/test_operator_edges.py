"""Edge-semantics pins for the late-r9 operator-hardening review.

Each test here pins one of the review's findings — NULL handling,
multi-row preconditions, encoding ambiguity, working-column
collisions — on tiny hand-built frames where the expected output is
computable by eye. The registry oracles cover the well-formed-data
paths; these cover the paths a dirty 100 TB table actually exercises.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --- scd2_apply -----------------------------------------------------------


def test_scd2_multi_update_per_key_builds_a_version_chain(spark):
    """Two updates for one key = one closed old row (at the FIRST
    change date) + a chained version per update (valid_to = next
    change date, last open). The pre-r9 single-shot form emitted TWO
    closed copies of the old row and TWO simultaneously-open
    versions."""
    from oculus_data_pipeline_spark.operators.scd import OPEN_END, scd2_apply

    current = spark.createDataFrame(
        [(1, "a", "2020-01-01", OPEN_END)],
        "k int, v string, valid_from string, valid_to string",
    )
    updates = spark.createDataFrame(
        [(1, "b", "2021-01-01"), (1, "c", "2022-01-01")],
        "k int, v string, change_date string",
    )
    got = _rows(scd2_apply(current, updates, key="k"))
    assert got == sorted(
        [
            (1, "a", "2020-01-01", "2021-01-01"),  # closed ONCE, at first
            (1, "b", "2021-01-01", "2022-01-01"),  # chained to next
            (1, "c", "2022-01-01", OPEN_END),      # last stays open
        ]
    )


def test_scd2_null_valid_to_is_open_not_dropped(spark):
    """NULL valid_to rows matched NEITHER the == OPEN_END nor the
    != OPEN_END branch pre-r9 and vanished from the returned history.
    Now NULL means open: closable when updated, passed through (NULL
    intact) when not."""
    from oculus_data_pipeline_spark.operators.scd import OPEN_END, scd2_apply

    current = spark.createDataFrame(
        [(1, "a", "2020-01-01", None), (2, "x", "2020-01-01", None)],
        "k int, v string, valid_from string, valid_to string",
    )
    updates = spark.createDataFrame(
        [(1, "b", "2021-01-01")], "k int, v string, change_date string"
    )
    got = _rows(scd2_apply(current, updates, key="k"))
    assert got == sorted(
        [
            (1, "a", "2020-01-01", "2021-01-01"),
            (1, "b", "2021-01-01", OPEN_END),
            (2, "x", "2020-01-01", None),  # untouched, NULL preserved
        ]
    )


def test_scd2_single_update_semantics_unchanged(spark):
    """The chain generalization must reduce to the pre-r9 output for
    single-update-per-key input (q74's oracle shape)."""
    from oculus_data_pipeline_spark.operators.scd import OPEN_END, scd2_apply

    current = spark.createDataFrame(
        [
            (1, "a", "2019-01-01", "2020-01-01"),  # history row
            (1, "b", "2020-01-01", OPEN_END),
            (2, "z", "2020-01-01", OPEN_END),
        ],
        "k int, v string, valid_from string, valid_to string",
    )
    updates = spark.createDataFrame(
        [(1, "c", "2021-06-15")], "k int, v string, change_date string"
    )
    got = _rows(scd2_apply(current, updates, key="k"))
    assert got == sorted(
        [
            (1, "a", "2019-01-01", "2020-01-01"),
            (1, "b", "2020-01-01", "2021-06-15"),
            (1, "c", "2021-06-15", OPEN_END),
            (2, "z", "2020-01-01", OPEN_END),
        ]
    )


# --- cdc_apply ------------------------------------------------------------


def test_cdc_null_op_is_not_a_delete(spark):
    """Keys whose winning row carries op=NULL (feeds that only tag
    deletes) must appear in the snapshot — the pre-r9 plain != made
    the filter NULL and silently dropped them."""
    from oculus_data_pipeline_spark.operators.scd import cdc_apply

    chg = spark.createDataFrame(
        [(1, 10, None, "v1"), (2, 20, "D", "v2"), (3, 30, "U", "v3")],
        "k int, seq int, op string, v string",
    )
    got = _rows(cdc_apply(chg, key_cols=["k"], seq_col="seq"))
    assert got == sorted([(1, 10, None, "v1"), (3, 30, "U", "v3")])


# --- snapshot_diff --------------------------------------------------------


def test_snapshot_diff_empty_compare_cols(spark):
    """An added/removed-only diff is legitimate; pre-r9 it raised
    TypeError at plan build (F.when(None, ...))."""
    from oculus_data_pipeline_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame([(1,), (2,)], "k int")
    new = spark.createDataFrame([(2,), (3,)], "k int")
    got = _rows(snapshot_diff(old, new, ["k"], []))
    assert got == sorted([(1, "removed"), (3, "added")])


# --- table_fingerprint ----------------------------------------------------


def test_fingerprint_column_boundaries_are_unambiguous(spark):
    """('a|b','c') and ('a','b|c') serialized identically under the
    old bare '|' join — a real divergence hashed clean. The
    length-prefix encoding must give the buckets different digests.
    Same for NULL vs the literal strings '<NULL>' and 'N'."""
    from oculus_data_pipeline_spark.operators.scd import table_fingerprint

    def fp(rows):
        df = spark.createDataFrame(rows, "k int, a string, b string")
        return _rows(table_fingerprint(df, "k", ["a", "b"], n_buckets=1))

    assert fp([(1, "a|b", "c")]) != fp([(1, "a", "b|c")])
    assert fp([(1, None, "x")]) != fp([(1, "<NULL>", "x")])
    assert fp([(1, None, "x")]) != fp([(1, "N", "x")])
    # identical rows still agree (the whole point of the fingerprint)
    assert fp([(1, "a", "b")]) == fp([(1, "a", "b")])


# --- sketches: NULL is a real key ----------------------------------------


def test_cms_heavy_hitters_reports_a_null_modal_key(spark):
    """NULL as the most frequent key must appear in the top-k with a
    sound estimate — pre-r9 its probe rows had NULL buckets that fell
    out of the grid equi-join and the heaviest hitter went missing."""
    from oculus_data_pipeline_spark.operators.sketch import cms_heavy_hitters

    df = spark.createDataFrame(
        [(None,)] * 5 + [("a",)] * 2 + [("b",)], "k string"
    )
    got = {r["key"]: r for r in cms_heavy_hitters(df, "k", topk=3).collect()}
    assert None in got
    assert got[None]["exact_n"] == 5
    assert got[None]["sound"] and got[None]["est_n"] >= 5


def test_count_sketch_estimates_include_null_key(spark):
    from oculus_data_pipeline_spark.operators.sketch import (
        count_sketch_estimates,
    )

    df = spark.createDataFrame(
        [(None,)] * 4 + [("a",)] * 2, "k string"
    )
    got = {r["key"]: r for r in count_sketch_estimates(df, "k", topk=2).collect()}
    assert None in got and got[None]["exact_n"] == 4


def test_bloom_no_false_negative_on_null_key(spark):
    """Build side contains NULL, probe side probes NULL: the
    no-false-negatives contract must hold — pre-r9 the NULL probe key
    hashed to NULL positions and the present-join missed it, so a
    false negative was miscounted as a true negative."""
    from oculus_data_pipeline_spark.operators.sketch import (
        bloom_membership_report,
    )

    build = spark.createDataFrame([("x",), (None,)], "k string")
    probe = spark.createDataFrame([("x",), (None,), ("absent",)], "k string")
    row = bloom_membership_report(build, probe, "k", "k").collect()[0]
    assert row["n_probed"] == 3
    assert row["n_present"] == 2
    assert row["false_negatives"] == 0


def test_null_key_digest_distinct_from_sentinel_lookalikes(spark):
    """The 'V'/'N' prefix code: NULL's digest differs from the digests
    of the literal keys 'N', '<NULL>', and '' (a bare coalesce
    sentinel would collide with one of these)."""
    from oculus_data_pipeline_spark.functions.hashing import key_digest

    df = spark.createDataFrame(
        [(None,), ("N",), ("<NULL>",), ("",)], "k string"
    )
    digs = [
        r[0] for r in df.select(key_digest(F.col("k"))).collect()
    ]
    assert len(set(digs)) == 4


# --- group_aware_split ----------------------------------------------------


def test_group_aware_split_assigns_null_text_docs(spark):
    """NULL-text docs hashed to a NULL content key pre-r9 and fell out
    of the equi-join — no split assignment, silently missing from the
    corpus. They now form one dedup group with one assignment."""
    from oculus_data_pipeline_spark.operators.split import group_aware_split

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, None), (4, "hello world")],
        "doc_id int, text string",
    )
    got = group_aware_split(docs).collect()
    assert len(got) == 4  # nobody dropped
    by_id = {r["doc_id"]: r for r in got}
    # NULL-text docs share a canonical and therefore a split
    assert by_id[2]["canonical_id"] == by_id[3]["canonical_id"] == 2
    assert by_id[2]["split"] == by_id[3]["split"]
    # exact dups still share a group
    assert by_id[1]["canonical_id"] == by_id[4]["canonical_id"] == 1


def test_group_aware_split_matches_exact_dedup_canonicals(spark, sf_dir):
    """The single-scan (hash → canonical) derivation must produce the
    identical map exact_dedup builds (the pre-r9 two-scan source) on
    real data."""
    from oculus_data_pipeline_spark.operators.dedup import exact_dedup
    from oculus_data_pipeline_spark.operators.split import group_aware_split
    from oculus_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    via_split = _rows(
        group_aware_split(docs).select("doc_id", "canonical_id")
    )
    ed = exact_dedup(docs).select("content_hash", "canonical_id")
    hashed = docs.select(
        F.col("doc_id"),
        F.md5(
            __import__(
                "oculus_data_pipeline_spark.functions.text",
                fromlist=["normalize_term"],
            ).normalize_term("text")
        ).alias("content_hash"),
    )
    via_dedup = _rows(hashed.join(ed, "content_hash").select("doc_id", "canonical_id"))
    assert via_split == via_dedup


# --- working-column collision guards -------------------------------------


def test_grouped_prefix_sum_rejects_colliding_columns(spark):
    from oculus_data_pipeline_spark.operators.prefixsum import (
        grouped_prefix_sum,
    )

    df = spark.createDataFrame([(1, 1, 1)], "g int, o int, _pid int")
    with pytest.raises(ValueError, match="_pid"):
        grouped_prefix_sum(df, "g", ["o"], "o")
    df2 = spark.createDataFrame([(1, 1, 1)], "g int, o int, cum_before int")
    with pytest.raises(ValueError, match="cum_before"):
        grouped_prefix_sum(df2, "g", ["o"], "o")


def test_stratified_split_rejects_colliding_columns(spark):
    from oculus_data_pipeline_spark.operators.split import stratified_split

    df = spark.createDataFrame([(1, "s", 0)], "id int, src string, _h int")
    with pytest.raises(ValueError, match="_h"):
        stratified_split(df, "src", "id")


# --- late-r9 second review batch ------------------------------------------


def test_source_mixture_sampler_flattens_not_amplifies(spark):
    """The realize-rate must sample tokens ∝ √T (the α=0.5 plan), not
    ∝ T^1.5 (the pre-r9 share-as-rate bug, which turned a 100:1 corpus
    into ~1000:1). With uniform doc sizes per source, sampled doc
    counts are ∝ rate·n_docs = n·√(T_min/T) — the BIG source must be
    sampled at a LOWER rate, and the smallest source kept ~whole."""
    from oculus_data_pipeline_spark.operators.curation import (
        source_mixture_plan,
    )

    rows = []
    did = 0
    for src, n in (("big", 400), ("small", 4)):
        for _ in range(n):
            rows.append((did, src, "tok " * 10))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in source_mixture_plan(docs).collect()}
    rate_big = out["big"]["n_sampled"] / out["big"]["n_docs"]
    rate_small = out["small"]["n_sampled"] / out["small"]["n_docs"]
    # rates: big = sqrt(T_small/T_big) = sqrt(4/400) = 0.1, small = 1.0
    assert rate_small > 0.8, (rate_small, out)
    assert 0.02 < rate_big < 0.25, (rate_big, out)
    # sampled token share ≈ the √-temperature plan share (±hash noise)
    tot = out["big"]["n_sampled"] + out["small"]["n_sampled"]
    assert abs(out["big"]["n_sampled"] / tot - out["big"]["share"]) < 0.15


def test_blocked_levenshtein_accepts_caller_column_block_key(spark):
    """The documented usage — a block_key built on the caller's own
    text_col (soundex, prefix) — failed with UNRESOLVED_COLUMN pre-r9
    because the key was resolved after the frame was projected to the
    internal alias 'v'."""
    from pyspark.sql import functions as F

    from oculus_data_pipeline_spark.operators.stringsim import (
        blocked_levenshtein_pairs,
    )

    df = spark.createDataFrame(
        [("smith",), ("smyth",), ("jones",)], "name string"
    )
    got = _rows(
        blocked_levenshtein_pairs(
            df, "name", max_dist=2, block_key=F.soundex(F.col("name"))
        )
    )
    assert got == [("smith", "smyth", 1)]


def test_train_kmeans_infers_dim_and_validates_mismatch(spark):
    """dim defaults to the data's vector length; an explicit mismatch
    raises immediately instead of a confusing None-in-centroid
    TypeError mid-training (pre-r9: hardcoded dim=64 silently
    truncated or null-padded non-64-dim corpora)."""
    import numpy as np

    from oculus_data_pipeline_spark.operators.ivf import train_kmeans

    rows = [(i, [float(i), float(i % 3), 1.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    cents = train_kmeans(df, k=3, n_iters=2)
    assert cents.shape == (3, 3)
    assert not np.isnan(cents).any()
    with pytest.raises(ValueError, match="dim=64"):
        train_kmeans(df, k=3, n_iters=1, dim=64)


def test_ivf_ann_string_query_ids(spark):
    """The probe stage hardcoded 'query_id long' pre-r9 while the
    corpus stage derived its schema generically — string ids broke
    only the probe path."""
    from oculus_data_pipeline_spark.operators.ivf import ivf_kmeans_ann

    rows = [(f"id{i}", [float(i % 5), float(i % 7), 1.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = ivf_kmeans_ann(
        df.limit(3), df, topk=2, k_centroids=4, n_iters=1
    ).collect()
    assert len(out) > 0
    assert all(isinstance(r["query_id"], str) for r in out)


def test_source_reputation_null_aware_denominators(spark):
    """mean_quality must average the SCORED docs and dup_ratio the
    HASHABLE docs: pre-r9, null quality scores (empty/degenerate
    text) deflated the mean toward zero — wrongly blocklisting a
    source whose real docs are fine — and an all-null-text source
    read dup_ratio 1.0 with zero comparable content."""
    from oculus_data_pipeline_spark.operators.curation import (
        source_reputation,
    )

    rows = (
        # 'good': 5 real docs (identical → scored), 5 null-text docs
        [(i, "good", "a decent document with enough words to score")
         for i in range(5)]
        + [(10 + i, "good", None) for i in range(5)]
        # 'empty': all null text
        + [(20 + i, "empty", None) for i in range(5)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in source_reputation(docs).collect()}
    g = got["good"]
    # mean over the 5 scored docs only — NOT diluted by the 5 nulls
    assert g["n_docs"] == 10
    assert g["mean_quality"] is not None and g["mean_quality"] > 0.3
    # 5 identical hashable docs -> 1 unique -> dup_ratio 0.8 (of 5, not 10)
    assert abs(g["dup_ratio"] - 0.8) < 1e-9
    e = got["empty"]
    assert e["mean_quality"] is None and e["dup_ratio"] is None
    assert e["keep"] is False  # never a fabricated keep on no content


# --- round-10 fixes: blank-doc tokenizer / scrub hash / graph labels ------


def test_toks_blank_docs_tokenize_to_empty_array(spark):
    """split('', ' ') yields [''] in both engines, so blank and
    whitespace-only docs counted ONE phantom token in every token
    consumer pre-r10. _toks now filters empties; non-blank docs are
    unchanged (normalize_term collapses internal runs first)."""
    from oculus_data_pipeline_spark.operators.textstats import token_stats

    docs = spark.createDataFrame(
        [(1, "two words"), (2, ""), (3, "   \t  "), (4, None), (5, "one")],
        "doc_id long, text string",
    )
    got = {r["id"]: r for r in token_stats(docs).collect()}
    assert got[1]["n_tokens"] == 2
    assert got[2]["n_tokens"] == 0  # pre-r10: 1
    assert got[3]["n_tokens"] == 0  # pre-r10: 1
    assert got[4]["n_tokens"] is None  # NULL text stays NULL, not 0
    assert got[5]["n_tokens"] == 1
    # avg_token_len over zero tokens is NULL, not a 0/0 artifact
    assert got[2]["avg_token_len"] is None


def test_toks_shared_by_dedup_and_mixture(spark):
    """dedup.tokens and source_mixture_plan must ride the SAME
    empty-safe tokenizer: a source of blank docs contributes zero
    token volume (pre-r10: one phantom token per blank doc)."""
    from oculus_data_pipeline_spark.operators import dedup
    from oculus_data_pipeline_spark.operators.curation import (
        source_mixture_plan,
    )

    docs = spark.createDataFrame(
        [(1, "a", "three tokens here"), (2, "a", "two more"),
         (3, "b", ""), (4, "b", "   ")],
        "doc_id long, source string, text string",
    )
    toks = docs.select(F.explode(dedup.tokens("text")).alias("t")).collect()
    assert sorted(r["t"] for r in toks) == ["here", "more", "three", "tokens", "two"]
    plan = {r["source"]: r for r in source_mixture_plan(docs).collect()}
    assert plan["a"]["total_tokens"] == 5
    assert plan["b"]["total_tokens"] == 0  # pre-r10: 2 phantom tokens


def test_segment_scrub_full_md5_and_blank_docs(spark):
    """scrub_duplicate_segments keys the corpus-wide segment df on the
    FULL md5 (pre-r10: a 48-bit prefix whose collisions could scrub
    innocent text at ~1e11 chunks). Boilerplate above max_df is
    dropped, unique text survives in order, blank docs produce no
    segments at all."""
    from oculus_data_pipeline_spark.operators.curation import (
        scrub_duplicate_segments,
    )

    boiler = "subscribe to our newsletter now"
    rows = [(i, f"{boiler} unique body number {i}") for i in range(4)]
    rows.append((99, ""))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in
           scrub_duplicate_segments(docs, seg_tokens=5, max_df=2).collect()}
    assert 99 not in got  # blank doc: zero segments, zero rows
    for i in range(4):
        r = got[i]
        assert r["n_segments"] == 2
        assert r["n_kept"] == 1  # the boilerplate 5-gram occurs 4x > max_df
        assert r["kept_text"] == f"unique body number {i}"


def test_build_edges_null_and_unknown_labels_are_index_terms(spark):
    """The reference's type dispatch (json_to_db.py:104-119) is an
    if/elif over person/place/organization with an ``else`` that files
    the entity as a plain index term. Pre-r10, a NULL label slipping
    past classify's coalesce produced a NULL rel_type edge pointing
    entity->doc keyed by term text; unknown labels got Term nodes but
    HAS_<LABEL> edges. Through the shared term_node/has_edge mapping
    both are HAS_TERM doc->term Term nodes keyed by text."""
    from oculus_data_pipeline_spark.functions.text import generate_uri_sql
    from oculus_data_pipeline_spark.operators.graph import (
        canonical_label,
        has_edge,
        term_node,
    )

    terms = spark.createDataFrame(
        [(1, "alice smith", "person"), (1, "widgets", None),
         (1, "gadgetry", "animal"), (2, "acme corp", "organization")],
        "doc_id long, norm_term string, label string",
    )
    mapped = terms.selectExpr(
        "doc_id", f"{canonical_label('label')} AS canon", "norm_term"
    ).selectExpr(
        "doc_id", "canon", *term_node("canon", "norm_term", generate_uri_sql("norm_term"))
    )
    edges = {
        (r["src"], r["dst"]): r["rel_type"]
        for r in mapped.selectExpr(
            *has_edge("canon", "key", "CAST(doc_id AS STRING)")
        ).collect()
    }
    assert edges[("1", "widgets")] == "HAS_TERM"   # NULL label -> index term
    assert edges[("1", "gadgetry")] == "HAS_TERM"  # unknown label -> index term
    assert None not in edges.values()  # pre-r10: HAS_ || upper(NULL) = NULL
    # typed entities keep the reference direction: entity URI -> doc
    typed = {(src, dst): rel for (src, dst), rel in edges.items() if rel != "HAS_TERM"}
    assert sorted(typed.values()) == ["HAS_ORGANIZATION", "HAS_PERSON"]
    assert {dst for (_, dst) in typed} == {"1", "2"}
    assert all(src.startswith("r") for (src, _) in typed)
    by_name = {(r["label"], r["name"]): r["key"] for r in mapped.collect()}
    # NULL/unknown-label entities are Term nodes keyed by the term text
    assert by_name[("Term", "widgets")] == "widgets"
    assert by_name[("Term", "gadgetry")] == "gadgetry"
    assert by_name[("Person", "alice smith")].startswith("r")


def test_blocked_levenshtein_multi_block_pair_emitted_once(spark):
    """A caller block_key depending on columns beyond text_col can
    place one value in several blocks; a pair sharing two blocks was
    emitted once PER shared block pre-r10 (duplicate rows inflating
    downstream edge counts). Now deduped on the pair."""
    from oculus_data_pipeline_spark.operators.stringsim import (
        blocked_levenshtein_pairs,
    )

    df = spark.createDataFrame(
        [("abc", "k1"), ("abc", "k2"), ("abd", "k1"), ("abd", "k2")],
        "name string, region string",
    )
    out = blocked_levenshtein_pairs(
        df, "name", max_dist=2, block_key=F.col("region")
    ).collect()
    assert len(out) == 1  # pre-r10: 2 (once per shared block)
    assert (out[0]["name_a"], out[0]["name_b"], out[0]["dist"]) == ("abc", "abd", 1)


def test_train_kmeans_empty_corpus_raises(spark):
    """An empty corpus raised IndexError from cents.shape[1] pre-r10 —
    now an explicit ValueError (r9 advice)."""
    from oculus_data_pipeline_spark.operators.ivf import train_kmeans

    empty = spark.createDataFrame([], "id long, v array<double>")
    with pytest.raises(ValueError, match="corpus is empty"):
        train_kmeans(empty, k=3, n_iters=1)


def _graph_fixture(spark, items):
    """Minimal (docs, classified) pair for build_document_graph with
    the given indexing item structs."""
    docs = spark.createDataFrame(
        [("d1", "Title One", [], [], None, None, None)],
        "doc_id string, title string, authors array<string>, "
        "recipients array<string>, date_from string, date_to string, "
        "location_name string",
    )
    classified = spark.createDataFrame(
        items,
        "doc_id string, pos int, "
        "main struct<term string, type string, uri string>, "
        "midsub struct<term string, type string, uri string>, "
        "sub struct<term string, type string, uri string>",
    )
    return docs, classified


def test_sub_edges_only_under_term_parents(spark):
    """Reference quirk (json_to_db.py:63-69): relate_sub_term MATCHes
    the parent as (p:<ParentType> {term: ...}) but typed nodes carry
    only name/uri (create_person/place/organization, :16-32) — the
    MATCH yields zero rows, so MIDSUB/SUB edges exist ONLY under Term
    parents; the sub term NODES always exist (create_term at :122,:126
    runs unconditionally). Reproduced bug-for-bug."""
    from oculus_data_pipeline_spark.plans.pipeline import build_document_graph

    docs, classified = _graph_fixture(
        spark,
        [
            ("d1", 0, ("farming", "term", None), ("crops", "term", None), None),
            ("d1", 1, ("alice smith", "person", "r123"), ("letters", "term", None),
             ("drafts", "term", None)),
        ],
    )
    nodes, edges = build_document_graph(docs, classified)
    edge_set = {(r["src"], r["dst"], r["rel_type"]) for r in edges.collect()}
    node_set = {(r["label"], r["key"]) for r in nodes.collect()}
    # Term parent: MIDSUB edge materializes, text-keyed src
    assert ("farming", "crops", "MIDSUB") in edge_set
    # typed parent: sub NODES exist but NO MIDSUB/SUB edge (the quirk)
    assert ("Term", "letters") in node_set
    assert ("Term", "drafts") in node_set
    assert not [e for e in edge_set if e[2] in ("MIDSUB", "SUB") and e[0] == "r123"]


def test_document_graph_null_unknown_types_are_index_terms(spark):
    """build_document_graph's dispatch rides operators/graph.py's
    canonical-label policy (r10): NULL/unknown item types
    are else-branch index terms (json_to_db.py:118-119) — HAS_TERM,
    doc->term, keyed by TERM TEXT even when the staged JSON stored a
    uri for them (add_uri_if_needed writes one for every non-'term'
    type but relate_index_term keys by text). Pre-fix: NULL rel_type +
    entity->doc direction for NULL types, uri-keyed HAS_BANANA edges
    for unknown types."""
    from oculus_data_pipeline_spark.plans.pipeline import build_document_graph

    docs, classified = _graph_fixture(
        spark,
        [
            ("d1", 0, ("widgets", None, "r777"), None, None),
            ("d1", 1, ("gadgetry", "banana", "r888"), None, None),
            ("d1", 2, ("acme corp", "organization", "r999"), None, None),
        ],
    )
    nodes, edges = build_document_graph(docs, classified)
    edge_map = {(r["src"], r["dst"]): r["rel_type"] for r in edges.collect()}
    assert edge_map[("d1", "widgets")] == "HAS_TERM"
    assert edge_map[("d1", "gadgetry")] == "HAS_TERM"
    assert None not in edge_map.values()
    assert edge_map[("r999", "d1")] == "HAS_ORGANIZATION"
    node_map = {(r["label"], r["name"]): r["key"] for r in nodes.collect()}
    assert node_map[("Term", "widgets")] == "widgets"      # not r777
    assert node_map[("Term", "gadgetry")] == "gadgetry"    # not r888
    assert node_map[("Organization", "acme corp")] == "r999"


def test_uri_stage_null_type_gets_uri(spark):
    """add_uri_if_needed (generate_uri.py:36-45) compares
    term_obj.get('type') != 'term' in PYTHON — None != 'term' is True,
    so NULL-typed items DO get a uri in the reference. Pre-r10 the
    Spark `col != 'term'` three-valued logic yielded NULL instead."""
    from oculus_data_pipeline_spark.functions.text import generate_uri
    from oculus_data_pipeline_spark.plans import stages

    enriched = spark.createDataFrame(
        [("d1", "T", [], [], None, None, None,
          [("widgets", None, None, None, None)])],
        stages.ENRICHED_DOCUMENT_SCHEMA,
    )
    out = stages.uri_stage(enriched).collect()[0]
    item = out["indexing"][0]
    expected = spark.range(1).select(
        generate_uri("'widgets'").alias("u")
    ).collect()[0]["u"]
    assert item["uri"] == expected


# --- classify_terms / MockReplayClassifier --------------------------------


def test_classify_terms_null_terms_never_reach_the_classifier(spark):
    """A NULL term's label can never surface (the join-back is a
    null-unsafe equi-join → 'term' coalesce), but pre-r10 the NULL
    row still flowed into the classifier — wasted rows at scale, and
    a NULL user-message content fails a whole OpenAI batch job. The
    classifier must see only real terms; the NULL row still comes out
    labeled 'term'."""
    from oculus_data_pipeline_spark.operators.classify import (
        EchoClassifier,
        classify_terms,
    )

    seen = []

    class Recording:
        def classify(self, terms):
            seen.extend(r["norm_term"] for r in terms.collect())
            return EchoClassifier().classify(terms)

    df = spark.createDataFrame(
        [("Virginia",), (None,), ("  ",)], "term string"
    )
    out = classify_terms(df, Recording())
    assert None not in seen
    by_term = {r["term"]: r["label"] for r in out.collect()}
    assert by_term[None] == "term"  # NULL falls to the default label
    assert len(by_term) == 3  # no rows dropped, no fan-out


def test_mock_replay_duplicate_normalized_terms_last_task_wins(spark, tmp_path):
    """Two custom_ids whose raw terms NORMALIZE to the same term: the
    reference's term_to_label_dict is a dict comprehension in task
    order (json_classification.py:341-344), so the last task wins —
    and the join-back must not fan out corpus rows (r10 review)."""
    import json as _json

    from oculus_data_pipeline_spark.operators.classify import (
        MockReplayClassifier,
    )

    def task(i, term):
        return {
            "custom_id": f"task-{i}",
            "body": {"messages": [{"role": "system", "content": "x"},
                                  {"role": "user", "content": term}]},
        }

    def result(i, label):
        return {
            "custom_id": f"task-{i}",
            "response": {"body": {"choices": [{"message": {
                "content": _json.dumps({"classification": label})}}]}},
        }

    # task-2 and task-10 both normalize to 'virginia'; 10 > 2 so the
    # task-10 label must win (numeric task order, not lexicographic)
    reqs = tmp_path / "reqs.jsonl"
    resps = tmp_path / "resps.jsonl"
    reqs.write_text("\n".join(_json.dumps(t) for t in [
        task(2, "Virginia"), task(10, "  VIRGINIA  ")]))
    resps.write_text("\n".join(_json.dumps(r) for r in [
        result(2, "PLACE"), result(10, "ORGANIZATION")]))

    terms = spark.createDataFrame([("virginia",)], "norm_term string")
    got = MockReplayClassifier(str(reqs), str(resps)).classify(terms).collect()
    assert len(got) == 1  # no fan-out
    assert got[0]["label"] == "organization"


def test_mock_replay_non_numeric_custom_ids_deterministic(spark, tmp_path):
    """Fixtures whose custom_ids carry NO trailing integer (non-
    reference format) used to dedup arbitrarily: regexp_extract
    yields '' → cast NULL, and max_by over all-NULL ordering picks
    whatever partial arrives last (r10 advice). The fallback orders
    by custom_id, so the lexicographically last id wins —
    deterministically, run after run."""
    import json as _json

    from oculus_data_pipeline_spark.operators.classify import (
        MockReplayClassifier,
    )

    def task(cid, term):
        return {
            "custom_id": cid,
            "body": {"messages": [{"role": "system", "content": "x"},
                                  {"role": "user", "content": term}]},
        }

    def result(cid, label):
        return {
            "custom_id": cid,
            "response": {"body": {"choices": [{"message": {
                "content": _json.dumps({"classification": label})}}]}},
        }

    reqs = tmp_path / "reqs.jsonl"
    resps = tmp_path / "resps.jsonl"
    # 'zz-last' > 'aa-first' lexicographically → its label must win;
    # and a numeric-suffix id must still beat any suffix-less id
    # regardless of lexicographic order ('task-3' vs 'zzz').
    reqs.write_text("\n".join(_json.dumps(t) for t in [
        task("aa-first", "Virginia"), task("zz-last", "VIRGINIA"),
        task("task-3", "Hamilton"), task("zzz", "HAMILTON")]))
    resps.write_text("\n".join(_json.dumps(r) for r in [
        result("aa-first", "PLACE"), result("zz-last", "ORGANIZATION"),
        result("task-3", "PERSON"), result("zzz", "TERM")]))

    terms = spark.createDataFrame(
        [("virginia",), ("hamilton",)], "norm_term string"
    )
    for _ in range(3):  # deterministic across runs
        by_term = {
            r["norm_term"]: r["label"]
            for r in MockReplayClassifier(str(reqs), str(resps))
            .classify(terms)
            .collect()
        }
        assert by_term["virginia"] == "organization"  # zz-last wins
        assert by_term["hamilton"] == "person"  # numeric beats NULL


# --- similarity broadcast top-k tiers -------------------------------------


def test_brute_force_topk_drops_null_cosine_rows(spark):
    """A NULL query vector used to emit k all-NULL rows, and a NULL
    corpus vector could enter the top-k of a query with < k real
    neighbors (desc-nulls-last still assigns row_numbers). NULL
    cosines now drop before ranking — consistent with the pair tiers'
    threshold filter and the LSH tiers' NULL-bucket equi-join."""
    from oculus_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        hard_negative_mining,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, None),          # NULL corpus vector
            (3, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = brute_force_topk(
        emb.where(F.col("vec_id").isin(0, 2)), emb, k=5
    ).collect()
    # NULL query 2 emits nothing; query 0 ranks only real vectors
    assert {r["query_id"] for r in out} == {0}
    assert all(r["cos_sim"] is not None for r in out)
    assert {r["neighbor_id"] for r in out} == {1, 3}  # never the NULL vec

    lab = spark.createDataFrame(
        [
            (0, [1.0, 0.0], "a"),
            (1, [0.9, 0.1], "b"),
            (2, None, "b"),
        ],
        "vec_id long, embedding array<double>, label string",
    )
    hn = hard_negative_mining(lab, n_queries=1, k=5).collect()
    assert {r["neighbor_id"] for r in hn} == {1}
    assert all(r["cos_sim"] is not None for r in hn)
