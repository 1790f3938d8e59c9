"""IVF ANN with distributed k-means centroids — the index-scale path.

The label-mean IVF (queries.py q47) partitions by a FIXED set of
labels, so each inverted list grows linearly with the corpus — the
same masked-linear-term flaw as a fixed LSH plane count. Real IVF
sizes the codebook with the corpus: k ≈ sqrt(N) centroids keeps both
the probe fan-out (k) and the per-list scan (N/k) at ~sqrt(N).

All public Spark patterns:
- **Assignment** is a vectorized Arrow batch: the centroid matrix is
  a numpy broadcast variable, each mapInPandas batch does ONE matmul
  for its rows (never a per-row loop, never a k-way row explosion).
- **Update** is one groupBy with ``dim`` decimal-sum aggregates over
  the array elements — element-wise, map-side combined, one shuffle,
  no posexplode row blowup. Decimal sums make every iteration
  order-independent, so the trained codebook is bit-reproducible
  across partitionings/cluster sizes.
- **Between iterations** only the k×dim codebook returns to the
  driver (k ≈ sqrt(N) — ~30k×64 doubles at N=1e9, trivially
  broadcastable); the corpus never moves.
- **Search** probes the ``n_probes`` nearest lists per query and
  re-ranks exactly within them.

Iterative training has no closed-form SQL, so this operator is
test-verified (independent NumPy replica + invariants) rather than
DuckDB-oracled — the same evidence tier as HLL (q46).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine_from_norms, l2_norm


def _normalized(m: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def _assign(
    df: DataFrame,
    vec_col: str,
    cents: np.ndarray,
    out_col: str,
    bc_out: list | None = None,
) -> DataFrame:
    """Nearest-centroid id per row (max cosine, lowest id tie-break) —
    one numpy matmul per Arrow batch against the broadcast codebook.
    ``bc_out`` (if given) receives the broadcast handle so callers
    that fully consume the result (the training loop's per-iteration
    collect) can destroy it — otherwise one k×dim broadcast leaked
    per iteration (r9 review)."""
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(_normalized(cents))
    if bc_out is not None:
        bc_out.append(bc)
    fields = df.schema.fieldNames()
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    out_schema += f", {out_col} int"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cn = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            v = _normalized(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            # argmax breaks ties toward the lowest centroid id
            pdf = pdf.copy()
            pdf[out_col] = np.argmax(v @ cn.T, axis=1).astype("int32")
            yield pdf[fields + [out_col]]

    return df.mapInPandas(batches, schema=out_schema)


def train_kmeans(
    corpus: DataFrame,
    k: int,
    vec_col: str = "v",
    id_col: str = "id",
    n_iters: int = 5,
    dim: int | None = None,
) -> np.ndarray:
    """Lloyd's algorithm, Spark-distributed, deterministic.

    Init = the k lowest-id vectors (reproducible; k-means++ would
    improve codebook quality but needs a sequential sampling pass —
    documented trade-off). Each iteration: vectorized assignment +
    ONE groupBy computing all ``dim`` decimal-exact means. Empty
    clusters keep their previous centroid. ``dim`` defaults to the
    data's actual vector length (inferred from the init collect); an
    explicit mismatching ``dim`` raises immediately instead of
    surfacing as a confusing None-in-centroid TypeError mid-training
    (r9 review). Per-iteration codebook broadcasts are destroyed
    after their aggregate lands.
    """
    cents = np.array(
        [r[0] for r in corpus.orderBy(id_col).limit(k).select(vec_col).collect()],
        dtype=np.float64,
    )
    if cents.size == 0 or cents.ndim < 2:
        # an empty corpus (or all-NULL vectors) otherwise surfaces as
        # IndexError on cents.shape[1] — the clear-early-error goal of
        # the dim validation applies here too (r9 advice)
        raise ValueError("train_kmeans: corpus is empty (no vectors to init from)")
    if dim is None:
        dim = cents.shape[1]
    elif dim != cents.shape[1]:
        raise ValueError(
            f"train_kmeans: dim={dim} but {vec_col!r} vectors have "
            f"{cents.shape[1]} components"
        )
    means = F.expr(
        "array("
        + ", ".join(
            f"CAST(sum(CAST(element_at({vec_col}, {d + 1}) AS DECIMAL(30,15))) AS DOUBLE) / count(1)"
            for d in range(dim)
        )
        + ") AS m"
    )
    for _ in range(n_iters):
        sink: list = []
        assigned = _assign(corpus, vec_col, cents, "cluster", bc_out=sink)
        rows = assigned.groupBy("cluster").agg(means).collect()
        sink[0].destroy()
        new = cents.copy()
        for r in rows:
            new[r["cluster"]] = r["m"]
        if np.array_equal(new, cents):
            break
        cents = new
    return cents


def ivf_kmeans_ann(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk: int = 5,
    k_centroids: int | None = None,
    n_probes: int = 2,
    n_iters: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k via a k-means IVF index: build the codebook
    (k ≈ sqrt(N) by default), assign the corpus to inverted lists,
    probe the ``n_probes`` nearest lists per query, exact-cosine
    re-rank inside them. Returns (query_id, neighbor_id, cos_sim,
    rank) like the exact q50 baseline — recall < 1 by design, bounded
    by the probe budget."""
    from pyspark.sql import Window as W

    # persist the projected corpus: it is read ~n_iters+3 times
    # (count, init collect, one assignment+aggregate per iteration,
    # the final inverted-list build) — without this an expensive
    # upstream lineage would be recomputed every pass (r9 review)
    c = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).persist()
    if k_centroids is None:
        n = c.count()
        k_centroids = max(2, int(math.isqrt(n)))
    cents = train_kmeans(c, k_centroids, n_iters=n_iters, dim=dim)

    # L2 norm once per corpus row (cosine_from_norms below is
    # bit-identical to inlining both norms in the re-rank's cosine)
    lists = _assign(c, "v", cents, "cluster").select(
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        l2_norm(F.col("v")).alias("cnrm"),
        "cluster",
    )

    # per-query probe set: n_probes nearest centroids, via the same
    # normalized codebook (numpy on the driver is fine: |queries| rows
    # never transit — the probe assignment is a mapInPandas too)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    sc = q.sparkSession.sparkContext
    bc = sc.broadcast(_normalized(cents))

    def probe_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cn = bc.value
        p = min(n_probes, cn.shape[0])
        for pdf in it:
            if len(pdf) == 0:
                continue
            v = _normalized(np.array(pdf["qv"].tolist(), dtype=np.float64))
            sims = v @ cn.T
            order = np.argsort(-sims, axis=1, kind="stable")[:, :p]
            out = pdf.loc[pdf.index.repeat(p)].copy()
            out["cluster"] = order.reshape(-1).astype("int32")
            yield out[["query_id", "qv", "cluster"]]

    # the probe schema is derived from the projected frame, like the
    # corpus path in _assign — a hardcoded "query_id long" broke any
    # non-long id column in the probe stage only (r9 review)
    qid_type = q.schema["query_id"].dataType.simpleString()
    probed = q.mapInPandas(
        probe_batches,
        schema=f"query_id {qid_type}, qv array<double>, cluster int",
    )

    scored = (
        lists.join(
            F.broadcast(probed.withColumn("qnrm", l2_norm(F.col("qv")))), "cluster"
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_from_norms(
                    F.col("qv"), F.col("cv"), F.col("qnrm"), F.col("cnrm")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
    # release the projected-corpus cache NOW, not never: every EAGER
    # pass (count, init collect, the per-iteration train aggregates)
    # has already read it; the returned one-pass lazy plan just
    # recomputes the cheap projection at action time instead of
    # leaving cached blocks in executor storage for the session's
    # lifetime (r9 advice). The probe-side codebook broadcast ``bc``
    # CANNOT be destroyed here — the returned plan's mapInPandas
    # closure reads it at materialization; it is GC'd with the plan
    # (Spark destroys unreferenced broadcasts via the cleaner), unlike
    # a persist which pins blocks until explicit unpersist.
    c.unpersist(blocking=False)
    return out
