"""Semantic tests for operators whose driver check is rows-only
(no SQL oracle), plus the classifier implementations."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from oculus_data_pipeline_spark.operators.classify import (
    EchoClassifier,
    MockReplayClassifier,
    OpenAIBatchClassifier,
    classify_terms,
)
from oculus_data_pipeline_spark.operators.dedup import (
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from oculus_data_pipeline_spark.queries import get_queries
from oculus_data_pipeline_spark.sources.tables import load_table

from . import ref_model


def test_approx_distinct_error_bound(spark, sf_dir):
    rows = get_queries()["q46_approx_distinct"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        rel_err = abs(r["approx_parts"] - r["exact_parts"]) / max(r["exact_parts"], 1)
        assert rel_err < 0.1, (r["l_returnflag"], rel_err)


def test_ivf_matches_label_partition_model(spark, sf_dir):
    """The testdata embeddings do NOT cluster by label (verified: mean
    same-label cosine ≈ mean cross-label cosine ≈ 0), so recall vs the
    exact baseline is capped by the data, not the algorithm. Instead,
    verify IVF's own semantics exactly against an independent NumPy
    model: probe = argmax-cosine centroid, neighbors = top-5 by cosine
    within the probed label."""
    import numpy as np

    rows = load_table(spark, sf_dir, "embeddings").collect()
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    L = np.array([r["label"] for r in rows])
    ids = np.array([r["vec_id"] for r in rows])
    norm = np.linalg.norm(V, axis=1, keepdims=True)
    Vn = V / norm
    labels_sorted = sorted(set(L.tolist()))
    cents = np.array([V[L == lab].mean(axis=0) for lab in labels_sorted])
    cents_n = cents / np.linalg.norm(cents, axis=1, keepdims=True)

    expected = set()
    for qi in np.where(ids < 10)[0]:
        probe = labels_sorted[int(np.argmax(Vn[qi] @ cents_n.T))]
        mask = (L == probe) & (ids != ids[qi])
        sims = np.round(Vn[qi] @ Vn[mask].T, 6)
        cand = sorted(zip(-sims, ids[mask]))[:5]
        for rank, (negs, nid) in enumerate(cand, 1):
            expected.add((int(ids[qi]), int(nid), rank))

    got = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in get_queries()["q47_ivf_ann"](spark, sf_dir).collect()
    }
    assert got == expected, (
        f"missing={sorted(expected - got)[:5]} extra={sorted(got - expected)[:5]}"
    )


def test_minhash_finds_planted_near_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    true_pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.8, max_df=None).collect()
    }
    assert true_pairs, "generator plants near-dups; none found"
    cand = {
        (r["id_a"], r["id_b"]) for r in minhash_candidate_pairs(docs).collect()
    }
    found = len(true_pairs & cand) / len(true_pairs)
    assert found >= 0.9, f"LSH recall {found} on jaccard>=0.8 pairs"


def test_lsh_near_dup_pairs_auto_planes(spark, sf_dir):
    """Auto-sized plane count: results are exact-verified (every
    returned pair really clears the cosine threshold — a subset of the
    all-pairs truth regardless of P), and P grows with the corpus so
    bucket occupancy — and with it candidate volume per vector — stays
    bounded instead of going quadratic."""
    from oculus_data_pipeline_spark.operators.similarity import (
        cosine_pairs,
        lsh_near_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in cosine_pairs(emb, threshold=0.4).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in lsh_near_dup_pairs(emb, threshold=0.4).collect()
    }
    assert set(got) <= set(exact)
    for pair, sim in got.items():
        assert sim == exact[pair]

    # the P policy itself: doubling N adds a plane (halves buckets)
    def auto_p(n, target=32):
        return max(4, (max(n, 1) // max(target, 1)).bit_length())

    assert auto_p(2_000) == 6
    assert auto_p(16_000) == 9
    assert auto_p(2_000_000_000) == 26  # 100TB-ish: 2^26 buckets/table
    assert auto_p(10) == 4  # floor


def test_simhash_near_dups_close_in_hamming(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.9, max_df=None).collect()
    fps = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    assert pairs

    def hamming(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    import random

    rnd = random.Random(7)
    ids = sorted(fps)
    rand_pairs = [(rnd.choice(ids), rnd.choice(ids)) for _ in range(200)]
    avg_near = sum(hamming(fps[p["id_a"]], fps[p["id_b"]]) for p in pairs) / len(pairs)
    avg_rand = sum(hamming(fps[a], fps[b]) for a, b in rand_pairs if a != b) / len(
        [1 for a, b in rand_pairs if a != b]
    )
    assert avg_near < avg_rand / 2, (avg_near, avg_rand)


def test_simhash_near_dups_banding_is_complete(spark, sf_dir):
    """The banded candidate join must lose NO pair within the Hamming
    budget (pigeonhole: hamming <= n_bands-1 => one band identical) —
    banded output == brute-force all-pairs, values included."""
    from oculus_data_pipeline_spark.operators.dedup import simhash_near_dups

    docs = load_table(spark, sf_dir, "documents")
    bits, n_bands, max_h = 48, 2, 1
    fps = {r["id"]: r["simhash"] for r in simhash(docs, bits=bits).collect()}
    brute = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a in fps
        for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= max_h
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(
            docs, bits=bits, n_bands=n_bands, max_hamming=max_h
        ).collect()
    }
    assert brute, "fixture must produce at least one near pair"
    assert got == brute

    import pytest

    with pytest.raises(ValueError):
        simhash_near_dups(docs, n_bands=2, max_hamming=2)


def test_mock_replay_classifier(spark, tmp_path):
    # fixtures in the reference's batch JSONL format
    # (json_classification.py:126-149 request; :207-212 response path)
    reqs = [
        {
            "custom_id": f"task-{i}",
            "method": "POST",
            "url": "/v1/chat/completions",
            "body": {
                "model": "gpt-4o-mini",
                "temperature": 0.1,
                "response_format": {"type": "json_object"},
                "messages": [
                    {"role": "system", "content": "classify"},
                    {"role": "user", "content": term},
                ],
            },
        }
        for i, term in enumerate(["George Washington", "Mount Vernon", "Continental Army"])
    ]
    resps = [
        {
            "custom_id": f"task-{i}",
            "response": {
                "body": {
                    "choices": [
                        {"message": {"content": json.dumps({"classification": label})}}
                    ]
                }
            },
        }
        for i, label in enumerate(["PERSON", "PLACE", "ORGANIZATION"])
    ]
    req_path, resp_path = tmp_path / "reqs.jsonl", tmp_path / "resps.jsonl"
    req_path.write_text("\n".join(json.dumps(r) for r in reqs))
    resp_path.write_text("\n".join(json.dumps(r) for r in resps))

    terms = spark.createDataFrame(
        [("George  Washington",), ("mount vernon",), ("Continental Army",), ("unseen thing",)],
        ["term"],
    )
    clf = MockReplayClassifier(str(req_path), str(resp_path))
    got = {
        r["norm_term"]: r["label"]
        for r in classify_terms(terms, clf).collect()
    }
    assert got["george washington"] == "person"
    assert got["mount vernon"] == "place"
    assert got["continental army"] == "organization"
    assert got["unseen thing"] == "term"  # unknown → default


def test_known_entity_precedence_over_classifier(spark):
    terms = spark.createDataFrame([("Virginia",), ("novel term",)], ["term"])
    known = spark.createDataFrame([("virginia", "place")], ["norm_term", "label"])
    got = {
        r["norm_term"]: r["label"]
        for r in classify_terms(terms, EchoClassifier(), known_entities=known).collect()
    }
    assert got["virginia"] == "place"  # known wins over echo hash
    assert got["novel term"] == ref_model.echo_label("novel term")


def test_openai_classifier_gated(spark):
    terms = spark.createDataFrame([("x",)], ["term"]).withColumn(
        "norm_term", F.col("term")
    )
    try:
        import openai  # noqa: F401

        pytest.skip("openai installed; gating not applicable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        OpenAIBatchClassifier().classify(terms.select("norm_term"))


def test_scd2_preserves_history(spark):
    from oculus_data_pipeline_spark.operators.scd import scd2_apply

    current = spark.createDataFrame(
        [
            (1, "a-v1", "2020-01-01", "2021-01-01"),   # closed history
            (1, "a-v2", "2021-01-01", "9999-12-31"),   # open
            (2, "b-v1", "2020-05-01", "9999-12-31"),   # open, untouched
        ],
        ["k", "attr", "valid_from", "valid_to"],
    )
    updates = spark.createDataFrame(
        [(1, "a-v3", "2022-06-01")], ["k", "attr", "change_date"]
    )
    got = sorted(
        tuple(r) for r in scd2_apply(current, updates, key="k").collect()
    )
    assert got == sorted(
        [
            (1, "a-v1", "2020-01-01", "2021-01-01"),
            (1, "a-v2", "2021-01-01", "2022-06-01"),
            (1, "a-v3", "2022-06-01", "9999-12-31"),
            (2, "b-v1", "2020-05-01", "9999-12-31"),
        ]
    )


def test_multires_rollup_lattice_equals_direct(spark, sf_dir):
    """Aggregate-of-aggregate must be exactly the direct aggregation
    at every resolution — the invariant that licenses computing hour
    from minute instead of from raw data."""
    from oculus_data_pipeline_spark.operators.rollup import multires_rollup

    ev = load_table(spark, sf_dir, "events")
    cascaded = multires_rollup(ev, resolutions=("minute", "hour", "day"))
    for res in ("hour", "day"):
        direct = (
            ev.groupBy(
                F.date_format(F.date_trunc(res, "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                    "bucket_ts"
                ),
                "event_type",
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(22,6)"))
                .cast("double")
                .alias("total_value"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
        )
        got = sorted(
            map(
                tuple,
                cascaded.where(F.col("resolution") == res)
                .drop("resolution")
                .collect(),
            )
        )
        want = sorted(map(tuple, direct.collect()))
        assert got == want, res


def test_multires_rollup_month_never_cascades_from_week(spark):
    """Weeks do NOT nest into months: a week bucket starting Jan 29
    2024 spans Jan and Feb, so truncating that week's bucket to month
    would dump its Feb rows into Jan (r11 review). month must cascade
    from day (exact) and (week, month) alone must raise."""
    import pytest as _pytest

    from oculus_data_pipeline_spark.operators.rollup import multires_rollup

    ev = spark.createDataFrame(
        [  # Mon 2024-01-29 week: 3 Jan days + 4 Feb days
            ("2024-01-29 10:00:00", "e", 1.0),
            ("2024-01-31 10:00:00", "e", 2.0),
            ("2024-02-01 10:00:00", "e", 4.0),
            ("2024-02-04 10:00:00", "e", 8.0),
        ],
        "ts string, event_type string, value double",
    ).select(F.col("ts").cast("timestamp"), "event_type", "value")

    out = multires_rollup(ev, resolutions=("day", "week", "month"))
    months = {
        r["bucket_ts"][:7]: r["total_value"]
        for r in out.where(F.col("resolution") == "month").collect()
    }
    # wrong cascade (month from week) would report Jan=15.0, no Feb
    assert months == {"2024-01": 3.0, "2024-02": 12.0}
    weeks = {
        r["bucket_ts"][:10]: r["n_events"]
        for r in out.where(F.col("resolution") == "week").collect()
    }
    assert weeks == {"2024-01-29": 4}  # week level itself is exact

    with _pytest.raises(ValueError, match="do not nest"):
        multires_rollup(ev, resolutions=("week", "month"))
    with _pytest.raises(ValueError, match="finest"):
        multires_rollup(ev, resolutions=())

    # scale contract: exactly ONE aggregation reads raw events; hour
    # and day re-aggregate the persisted minute/hour aggregates
    fresh = multires_rollup(ev, resolutions=("minute", "hour", "day"))
    fresh.write.format("noop").mode("overwrite").save()
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    # every union branch reads a persisted level (raw parquet is only
    # inside the cached-plan printouts, executed once at cache build)
    assert plan.count("InMemoryTableScan") >= 3, plan


def test_blocked_levenshtein_matches_naive_within_block(spark):
    from oculus_data_pipeline_spark.operators.stringsim import (
        blocked_levenshtein_pairs,
    )

    names = [
        "red widget", "red widgets", "red wodget",   # cluster, dist 1-2
        "blue bolt", "blue bolts",                    # cluster, dist 1
        "green gear",                                 # singleton
        "red completely different thing",             # same block, far
    ]
    df = spark.createDataFrame([(n,) for n in names], ["p_name"])
    got = {
        (r["name_a"], r["name_b"]): r["dist"]
        for r in blocked_levenshtein_pairs(df, "p_name", max_dist=3).collect()
    }
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    want = {}
    for a, b in itertools.combinations(sorted(names), 2):
        if a.split(" ")[0] == b.split(" ")[0] and lev(a, b) <= 3:
            want[(a, b)] = lev(a, b)
    assert got == want and len(got) == 4


def test_cdc_apply_latest_wins_and_deletes_drop(spark):
    from oculus_data_pipeline_spark.operators.scd import cdc_apply

    chg = spark.createDataFrame(
        [
            (1, 10, "I", "v1"),
            (1, 20, "U", "v2"),   # latest for key 1 → survives
            (2, 11, "I", "w1"),
            (2, 30, "D", None),   # latest for key 2 is a delete → gone
            (3, 5, "D", None),
            (3, 6, "I", "x1"),    # insert AFTER delete → resurrected
        ],
        ["k", "seq", "op", "val"],
    )
    out = cdc_apply(chg, key_cols=["k"], seq_col="seq")
    got = {r["k"]: (r["seq"], r["op"], r["val"]) for r in out.collect()}
    assert got == {1: (20, "U", "v2"), 3: (6, "I", "x1")}

    # scale contract: the snapshot comes from a partial (map-side)
    # aggregate, not a window sort over the whole changelog
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in plan or "HashAggregate" in plan, plan
    assert "Window" not in plan, plan


def test_classify_join_back_not_force_broadcast(spark):
    """The join-back label table is ALL distinct terms — at 100 TB a
    mandatory broadcast hint would OOM. Only the (small by
    construction) known-entities anti-join may carry a hint; the
    join-back must leave the strategy to AQE."""
    terms = spark.createDataFrame([("Virginia",), ("novel term",)], ["term"])
    known = spark.createDataFrame([("virginia", "place")], ["norm_term", "label"])
    out = classify_terms(terms, EchoClassifier(), known_entities=known)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed


def test_funnel_gap_bounds_and_first_qualifying(spark):
    from oculus_data_pipeline_spark.operators.sequence import funnel

    rows = [
        # user 1: completes signup → view (+1h) → purchase (+2h after view)
        (1, "signup", "2024-01-01 00:00:00"),
        (1, "view", "2024-01-01 01:00:00"),
        (1, "view", "2024-01-01 02:00:00"),      # later view ignored (first wins)
        (1, "purchase", "2024-01-01 03:00:00"),
        # user 2: view arrives AFTER the 1-day gap → stage 1 null, and
        # stage 2 must be null too even though a purchase follows the view
        (2, "signup", "2024-01-01 00:00:00"),
        (2, "view", "2024-01-03 00:00:00"),
        (2, "purchase", "2024-01-03 01:00:00"),
        # user 3: view BEFORE signup never counts
        (3, "view", "2023-12-31 23:00:00"),
        (3, "signup", "2024-01-01 00:00:00"),
        # user 4: never signed up → no row at all
        (4, "view", "2024-01-01 00:00:00"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_type", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = funnel(ev, [("signup", None), ("view", "1 DAY"), ("purchase", "1 DAY")])
    got = {
        r["user_id"]: (
            r["ts_1"] and str(r["ts_1"]),
            r["ts_2"] and str(r["ts_2"]),
        )
        for r in out.collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == ("2024-01-01 01:00:00", "2024-01-01 03:00:00")
    assert got[2] == (None, None)
    assert got[3] == (None, None)


def test_two_hop_candidates_excludes_direct_and_dedups_middles(spark):
    from oculus_data_pipeline_spark.operators.graph_algo import two_hop_candidates

    # path a-b-c-d plus direct a-c: two-hop pairs are (a,c) via b
    # [excluded: direct], (b,d) via c, (a,d)? three hops — no.
    # two middles between b and d? add b-e, e-d → (b,d) via c AND e:
    # must appear once.
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("b", "e"), ("e", "d")],
        ["src", "dst"],
    )
    got = {
        (r["src"], r["dst"]) for r in two_hop_candidates(edges).collect()
    }
    assert got == {("b", "d"), ("a", "e"), ("c", "e"), ("a", "d")}


def test_pagerank_matches_python_recurrence_exactly(spark):
    from oculus_data_pipeline_spark.operators.pagerank import pagerank

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["pr"] for r in pagerank(df, iterations=4).collect()}

    one = 10**9
    nodes = sorted({n for e in edges for n in e})
    out = {n: [d for s, d in edges if s == n] for n in nodes}
    pr = {n: one for n in nodes}
    for _ in range(4):
        in_sum = {n: 0 for n in nodes}
        for u in nodes:
            if out[u]:
                c = pr[u] // len(out[u])
                for v in out[u]:
                    in_sum[v] += c
        pr = {n: 150 * one // 1000 + (850 * in_sum[n]) // 1000 for n in nodes}
    assert got == pr
    # dangling node d keeps exactly the teleport share
    assert got["d"] == 150 * one // 1000


def test_hash_split_matches_python_md5_buckets(spark):
    import hashlib
    from oculus_data_pipeline_spark.operators.split import hash_split

    df = spark.createDataFrame([(str(i),) for i in range(200)], ["k"])
    got = {r["k"]: r["split"] for r in hash_split(df, "k").collect()}
    names = ["train", "val", "test"]
    for k, split in got.items():
        b = int(hashlib.md5(k.encode()).hexdigest()[:12], 16) % 10
        expect = names[0] if b < 8 else names[1] if b < 9 else names[2]
        assert split == expect, (k, b, split, expect)
    # all three splits occupied at n=200
    assert set(got.values()) == set(names)


def test_containment_is_directed(spark):
    from oculus_data_pipeline_spark.operators.dedup import containment_pairs

    small = "alpha beta gamma delta epsilon"
    big = small + " zeta eta theta iota kappa lam mu nu xi omicron pi rho"
    df = spark.createDataFrame([(1, small), (2, big)], ["doc_id", "text"])
    rows = {(r["id_a"], r["id_b"]): r["containment"]
            for r in containment_pairs(df, threshold_pct=90).collect()}
    # every shingle of the small doc occurs in the big doc, not vice versa
    assert rows == {(1, 2): 1.0}


def test_tfidf_rank_prefers_rare_terms(spark):
    from oculus_data_pipeline_spark.operators.textstats import tfidf_top_terms

    docs = [
        (1, "common common rare"),
        (2, "common common common"),
        (3, "common filler words"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    top1 = {
        r["id"]: r["term"]
        for r in tfidf_top_terms(df, k=1).collect()
    }
    # 'rare' (df=1) outranks 'common' (df=3) in doc 1 despite lower tf
    assert top1[1] == "rare"
    assert top1[2] == "common"


def test_exact_outlier_rule_matches_integer_math(spark):
    from oculus_data_pipeline_spark import queries as Q

    vals = [10.0, 10.5, 9.5, 10.25, 9.75, 50.0]  # 50.0 is the outlier
    df = spark.createDataFrame(
        [(i, "t", v) for i, v in enumerate(vals)],
        ["event_id", "event_type", "value"],
    )
    from pyspark.sql import functions as F

    xc = F.expr("CAST(ROUND(value * 100) AS DECIMAL(38,0))")
    ev = df.select("event_id", "event_type", "value", xc.alias("xc"))
    st = ev.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("xc").alias("s"),
        F.sum(F.col("xc") * F.col("xc")).alias("q"),
    )
    j = ev.join(st, "event_type")
    lhs = F.col("xc") * F.col("n") - F.col("s")
    got = sorted(
        r["event_id"]
        for r in j.where(
            lhs * lhs > F.lit(4) * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
        ).collect()
    )
    cents = [round(v * 100) for v in vals]
    n, s, q2 = len(cents), sum(cents), sum(c * c for c in cents)
    expect = sorted(
        i for i, c in enumerate(cents) if (c * n - s) ** 2 > 4 * (n * q2 - s * s)
    )
    assert got == expect == [5]


def test_chunk_documents_covers_text_exactly(spark):
    from oculus_data_pipeline_spark.operators.textstats import chunk_documents

    words = " ".join(f"w{i}" for i in range(150))  # 150 tokens, 64-chunks
    df = spark.createDataFrame([(1, words)], ["doc_id", "text"])
    rows = sorted(
        (r["chunk_id"], r["chunk_text"], r["n_chunk_tokens"])
        for r in chunk_documents(df, chunk_tokens=64).collect()
    )
    assert [r[0] for r in rows] == [0, 1, 2]
    assert [r[2] for r in rows] == [64, 64, 22]
    # concatenating the chunks reconstructs the token stream exactly
    assert " ".join(r[1] for r in rows) == words


def test_cross_overlap_pairs_counts_shared_shingles(spark):
    from oculus_data_pipeline_spark.operators.dedup import (
        cross_overlap_pairs,
        hashed_shingle_table,
    )

    base = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [(1, base + " extra tail"), (2, "totally different words here now")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, base)], ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in cross_overlap_pairs(
            hashed_shingle_table(corpus), hashed_shingle_table(bench), min_shared=8
        ).collect()
    }
    # doc 1 shares all 8 3-gram shingles of the 10-token base text
    assert got == {(1, 100): 8}


def test_repetition_stats_flags_looping_text(spark):
    from oculus_data_pipeline_spark.operators.textstats import repetition_stats

    looped = "spam ham eggs " * 10  # 30 tokens, heavy 3-gram repeats
    clean = " ".join(f"u{i}" for i in range(30))
    df = spark.createDataFrame([(1, looped), (2, clean)], ["doc_id", "text"])
    got = {r["id"]: r for r in repetition_stats(df).collect()}
    assert got[1]["n_ngrams"] == 28 and got[1]["n_distinct_ngrams"] == 3
    assert got[1]["dup_ngram_ratio"] > 0.85
    assert got[2]["dup_ngram_ratio"] == 0.0


def test_triangle_counts_oriented_enumeration(spark):
    from oculus_data_pipeline_spark.operators.graph_algo import triangle_counts

    # K4 on {1,2,3,4} oriented a<b: every node is in C(3,2)=3 triangles
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # a plain path has no triangles
    path = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    assert triangle_counts(path).count() == 0


def _zipf_docs(spark, n_docs=120, vocab=400, doc_len=24, exponent=1.1):
    """Deterministic Zipfian corpus: token ranks drawn with p ∝ 1/rank^s
    — the skewed-frequency distribution of real text. A handful of
    near-duplicate pairs are planted by copying a doc and perturbing
    one token."""
    import bisect
    import hashlib
    import itertools

    weights = [1.0 / (r**exponent) for r in range(1, vocab + 1)]
    cum = list(itertools.accumulate(weights))
    total = cum[-1]

    def tok(doc, i):
        h = int.from_bytes(
            hashlib.sha256(f"{doc}:{i}".encode()).digest()[:8], "big"
        )
        return f"w{bisect.bisect_left(cum, (h / 2**64) * total)}"

    rows = [
        (d, " ".join(tok(d, i) for i in range(doc_len))) for d in range(n_docs)
    ]
    # planted near-dups: copy with one token changed (jaccard well > 0.5)
    for j, src in enumerate((3, 17, 42)):
        toks = rows[src][1].split()
        toks[5] = "perturbed"
        rows.append((n_docs + j, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_jaccard_finds_planted_pairs_on_zipfian_corpus(spark):
    """The exact inverted-index join finds the planted near-duplicates
    on a Zipfian vocabulary, where rare shingles carry the overlap (the
    documents table's vocabulary is uniform)."""
    docs = _zipf_docs(spark)
    found = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5, max_df=None).collect()
    }
    assert {(3, 120), (17, 121), (42, 122)} <= found


def test_stop_shingle_guard_parity_and_semantics(spark, sf_dir):
    """max_df well above the duplicate-cluster size reproduces the
    exact result on the documents table; an aggressive cap changes
    (documented) semantics but never invents pairs above threshold."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5, max_df=None).collect()
    }
    guarded = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    # same pairs survive; dropping a df>max_df shingle from a
    # near-identical pair can shift its jaccard by at most a few
    # shingles' worth (filtered-set semantics, documented)
    assert set(exact) == set(guarded)
    for pair, j in exact.items():
        assert abs(j - guarded[pair]) < 0.05


def test_apportionment_sums_exactly_to_budget(spark, sf_dir):
    """Hamilton apportionment's defining invariant — Σ final_alloc is
    EXACTLY the budget (100000), every extra is 0/1, and extras go to
    the largest remainders — holds beyond mere oracle agreement (both
    engines implementing the same wrong spec would still agree)."""
    rows = get_queries()["q205_apportionment"](spark, sf_dir).collect()
    assert rows
    assert sum(r["final_alloc"] for r in rows) == 100000
    assert all(r["extra"] in (0, 1) for r in rows)
    got_extra = min(
        (r["remainder"] for r in rows if r["extra"] == 1), default=2**63
    )
    no_extra = max((r["remainder"] for r in rows if r["extra"] == 0), default=-1)
    # ties broken by source name, so only assert the strict ordering
    assert got_extra >= no_extra


def test_split_leakage_accounts_for_every_near_dup_pair(spark, sf_dir):
    """q208's per-combination counts must partition q66's verified
    pair set exactly: Σ n_pairs == |pairs|, shares sum to ≤10000 bp
    (floor division), and every leak flag matches its labels."""
    from oculus_data_pipeline_spark.operators.dedup import lsh_verified_near_dups

    docs = load_table(spark, sf_dir, "documents")
    n_pairs = lsh_verified_near_dups(docs).count()
    rows = get_queries()["q208_split_leakage"](spark, sf_dir).collect()
    assert rows and sum(r["n_pairs"] for r in rows) == n_pairs
    assert sum(r["share_bp"] for r in rows) <= 10000
    for r in rows:
        assert r["is_leak"] == (0 if r["split_lo"] == r["split_hi"] else 1)


def test_interval_coverage_never_exceeds_span(spark, sf_dir):
    """Union coverage is bounded by the hull span and by the sum of
    raw lease lengths — both would catch a sweep-line island bug that
    a cross-engine-identical implementation could share."""
    rows = get_queries()["q198_interval_coverage"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["covered_s"] <= r["last_end_s"] - r["first_start_s"]
        assert r["n_islands"] >= 1


def test_morton_interleave_is_bijective(spark):
    """q195's generated Z-order expression is a true bijection on
    16-bit inputs: all 2^16 (x, y) pairs map to 2^16 distinct codes,
    and the inverse (odd/even bit extraction) recovers both inputs."""
    from oculus_data_pipeline_spark.queries import _morton_expr

    pairs = spark.range(0, 1 << 16).select(
        (F.col("id") % 256).alias("cust_b"),
        (F.col("id") / 256).cast("long").alias("day_b"),
    )
    z = pairs.select(
        "cust_b",
        "day_b",
        F.expr(_morton_expr("cust_b", "day_b", 8, spark=True)).alias("z"),
    )
    inv_x = " + ".join(
        f"shiftleft((shiftright(z, {2 * i + 1}) & 1), {i})" for i in range(8)
    )
    inv_y = " + ".join(
        f"shiftleft((shiftright(z, {2 * i}) & 1), {i})" for i in range(8)
    )
    chk = z.select(
        F.count("*").alias("n"),
        F.countDistinct("z").alias("nz"),
        F.sum(
            (
                (F.expr(inv_x) == F.col("cust_b"))
                & (F.expr(inv_y) == F.col("day_b"))
            ).cast("long")
        ).alias("ok"),
    ).collect()[0]
    assert chk.n == chk.nz == chk.ok == 1 << 16


def test_interval_union_matches_per_second_bruteforce(spark):
    """q198's sweep-line island coverage equals the brute-force
    second-by-second union on a small adversarial fixture (touching,
    nested, identical, and disjoint intervals)."""
    rows = [
        (1, 0, 10), (1, 5, 7), (1, 10, 12), (1, 20, 25), (1, 20, 25),
        (2, 0, 3), (2, 100, 101), (2, 50, 60), (2, 55, 80),
    ]
    iv = spark.createDataFrame(rows, "user_id long, s long, e long")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("s", "e")
    marked = iv.withColumn(
        "new_island",
        F.when(
            F.col("s")
            > F.coalesce(
                F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1)),
                F.lit(-(2**63)),
            ),
            1,
        ).otherwise(0),
    )
    islands = marked.withColumn(
        "island", F.sum("new_island").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    got = {
        r.user_id: r.covered
        for r in islands.groupBy("user_id", "island")
        .agg(F.min("s").alias("a"), F.max("e").alias("b"))
        .groupBy("user_id")
        .agg(F.sum(F.col("b") - F.col("a")).alias("covered"))
        .collect()
    }
    brute = {
        r.user_id: r.covered
        for r in iv.select(
            "user_id", F.explode(F.sequence("s", F.col("e") - 1)).alias("t")
        )
        .distinct()
        .groupBy("user_id")
        .agg(F.count("*").alias("covered"))
        .collect()
    }
    assert got == brute


def test_kmv_emits_row_for_disjoint_sources(spark, monkeypatch):
    """Regression (review finding): two sources with DISJOINT bigram
    vocabularies must still produce a pair row with exact_inter = 0 —
    the Spark side's intersection joins are LEFT joins precisely so
    the oracle's always-emit semantics hold on such corpora."""
    import oculus_data_pipeline_spark.queries as Q

    docs = spark.createDataFrame(
        [
            (1, "aa bb cc dd aa bb", "en", "srcA", 17),
            (2, "ee ff gg hh ee ff", "en", "srcB", 17),
            (3, "aa bb cc dd ee", "en", "srcC", 14),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(Q, "load_table", lambda sp, sf, name: docs)
    rows = {
        (r.source_a, r.source_b): r
        for r in Q.QUERIES["q209_kmv_set_ops"](spark, "ignored").collect()
    }
    assert set(rows) == {("srcA", "srcB"), ("srcA", "srcC"), ("srcB", "srcC")}
    assert rows[("srcA", "srcB")].exact_inter == 0
    assert rows[("srcA", "srcC")].exact_inter > 0
