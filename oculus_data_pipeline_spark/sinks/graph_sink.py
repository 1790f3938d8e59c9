"""Graph sinks (reference json_to_db.py re-expressed).

Default: parquet tables — correctness never depends on an external DB
(SURVEY.md §7 step 8). The per-document ~13-transaction loop
(json_to_db.py:78-127) becomes two bulk writes after set-wise dedup,
which reproduces Cypher MERGE idempotency.

Neo4j: available when the Neo4j Spark Connector jar is on the
classpath (it is not in this environment); gated behind a runtime
check, same two-DataFrame interface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Endpoint labels per relationship type, exactly the labels the
# reference's Cypher hardcodes at each call site (json_to_db.py:
# create_relationship callers at :94-116 bind Person/Place/
# Organization → Document; relate_index_term :54-60 binds
# (d:Document)-[:HAS_TERM]->(t:Term); date edges :84-92 bind
# (d:Document)→(:Date)). MIDSUB/SUB (relate_sub_term :63-69) are
# Term → Term: the reference's MATCH on the parent's ``term`` property
# finds only Term parents, and build_document_graph reproduces that.
REL_ENDPOINT_LABELS: dict[str, tuple[str, str]] = {
    "AUTHOR": ("Person", "Document"),
    "RECIPIENT": ("Person", "Document"),
    "LOCATION": ("Place", "Document"),
    "DATE_FROM": ("Document", "Date"),
    "DATE_TO": ("Document", "Date"),
    "HAS_TERM": ("Document", "Term"),
    "HAS_PERSON": ("Person", "Document"),
    "HAS_PLACE": ("Place", "Document"),
    "HAS_ORGANIZATION": ("Organization", "Document"),
    "MIDSUB": ("Term", "Term"),
    "SUB": ("Term", "Term"),
}


def node_write_options(label: str) -> dict[str, str]:
    """The exact per-label option map write_graph_neo4j hands the
    Neo4j Spark Connector for a node write (MERGE on (label, key) —
    json_to_db.py:7-44). Split out so tests can golden-pin the
    rendered contract even though the connector jar is absent here."""
    return {"labels": f":{label}", "node.keys": "key"}


def relationship_write_options(
    src_label: str, dst_label: str, rel_type: str
) -> dict[str, str]:
    """The exact per-group option map write_graph_neo4j hands the
    Neo4j Spark Connector for one relationship_groups() group: MERGE
    the relationship by keys, Match (never create) the typed
    endpoints written by the node pass (json_to_db.py:46-76). Keys
    and save modes here ARE the writer contract — golden-pinned by
    tests so a jar-present environment is plug-in."""
    return {
        "relationship": rel_type,
        "relationship.save.strategy": "keys",
        "relationship.source.labels": f":{src_label}",
        "relationship.source.node.keys": "src:key",
        "relationship.source.save.mode": "Match",
        "relationship.target.labels": f":{dst_label}",
        "relationship.target.node.keys": "dst:key",
        "relationship.target.save.mode": "Match",
    }


def relationship_groups(
    edges: DataFrame,
    persisted: list[DataFrame] | None = None,
) -> list[tuple[str, str, str, DataFrame]]:
    """Split the edge table into label-homogeneous groups
    (src_label, dst_label, rel_type, edges_subset) — the unit a
    label-aware bulk writer (Neo4j connector) needs, since its
    relationship MERGE matches endpoints BY LABEL + key.

    rel_types outside the reference set raise (an edge written with
    wrong endpoint labels would silently MERGE orphan nodes — the
    failure mode this function exists to prevent). Duplicate edge ROWS
    (streaming-append output keeps rows repeated across epochs) pass
    through.

    ``edges`` is persisted for the duration of the write so the
    rel_type discovery and the per-group scans at write time recompute
    the edge lineage once, not once per Spark action (r10 advice).
    Pass a list as ``persisted`` to receive the persisted handle; the
    caller unpersists it after consuming the groups (write_graph_neo4j
    does). Without it the cache ages out under Spark's LRU.
    """
    edges = edges.persist()
    if persisted is not None:
        persisted.append(edges)
    present = {
        r["rel_type"] for r in edges.select("rel_type").distinct().collect()
    }
    unknown = present - set(REL_ENDPOINT_LABELS)
    if unknown:
        edges.unpersist()
        raise ValueError(
            f"relationship_groups: no endpoint-label mapping for "
            f"rel_type(s) {sorted(unknown)!r}; extend "
            f"REL_ENDPOINT_LABELS (labels must match the node writes "
            f"or the connector MERGEs orphan endpoints)"
        )
    return [
        (*REL_ENDPOINT_LABELS[rel], rel, edges.where(F.col("rel_type") == rel))
        for rel in sorted(present)
    ]


def merge_graph(nodes: DataFrame, edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The graph as Cypher MERGE leaves it: one node row per (label,
    key) and one edge row per (src, dst, rel_type). Two spellings can
    share a key (generate_uri folds case and spacing, so 'Jonor' and
    'JONOR' are one Person); the node keeps the least of its names, so
    the kept name is independent of partitioning and row order."""
    return (
        nodes.groupBy("label", "key").agg(F.min("name").alias("name")),
        edges.dropDuplicates(["src", "dst", "rel_type"]),
    )


def write_graph_parquet(nodes: DataFrame, edges: DataFrame, out_dir: str) -> None:
    nodes, edges = merge_graph(nodes, edges)
    nodes.write.mode("overwrite").parquet(f"{out_dir}/nodes")
    edges.write.mode("overwrite").parquet(f"{out_dir}/edges")


def write_graph_delta_merge(
    nodes: DataFrame, edges: DataFrame, out_dir: str
) -> None:
    """Transactional graph upsert via Delta Lake ``MERGE INTO`` — the
    reference's Cypher MERGE (json_to_db.py:7-76) as an ACID table
    operation: nodes keyed on (label, key), edges on (src, dst,
    rel_type), matched rows updated in place, new rows inserted, all
    under one optimistic-concurrency commit per table. Unlike the
    parquet overwrite (write_graph_parquet — set-wise MERGE semantics
    but last-writer-wins at the file level), concurrent pipelines and
    incremental re-ingest stay consistent.

    Gated on the Delta jars. Probe note (2026-08-15, round 7 — same
    result as the 2026-08-14 round-5 probe): this
    container has no delta-spark package, no io.delta jars under the
    pyspark distribution, and no network to resolve
    spark.jars.packages, so the gate is the honest default here —
    re-probe on an image with io.delta:delta-spark_2.13 available.
    The MERGE path below is real and exercised wherever the jars
    exist; in this environment tests pin the gate's behavior.
    """
    spark = nodes.sparkSession
    try:
        from delta.tables import DeltaTable  # noqa: PLC0415

        # py4j resolves classes lazily; Class.forName is a real probe
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.spark.sql.delta.catalog.DeltaCatalog"
        )
    except Exception as e:
        raise NotImplementedError(
            "Delta Lake is not on the classpath (probed 2026-08-15: no "
            "delta-spark package, no io.delta jars, no network in this "
            "container); use write_graph_parquet (default sink) or add "
            "io.delta:delta-spark_2.13 to spark.jars.packages and set "
            "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension"
        ) from e

    nodes, edges = merge_graph(nodes, edges)  # pragma: no cover - needs delta jars
    for name, df, keys in (  # pragma: no cover
        ("nodes", nodes, ["label", "key"]),
        ("edges", edges, ["src", "dst", "rel_type"]),
    ):
        path = f"{out_dir}/{name}"
        if DeltaTable.isDeltaTable(spark, path):
            cond = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
            (
                DeltaTable.forPath(spark, path)
                .alias("t")
                .merge(df.alias("s"), cond)
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
        else:
            df.write.format("delta").save(path)


def write_graph_neo4j(
    nodes: DataFrame,
    edges: DataFrame,
    url: str,
    user: str,
    password: str,
    database: str = "neo4j",
) -> None:
    """Bulk upsert via the Neo4j Spark Connector (node keys = (label,
    key) — MERGE semantics like json_to_db.py:7-44; relationships
    keyed on (src, dst, rel_type) like :46-76).

    Relationship writes go per (src_label, dst_label, rel_type) group
    with the ACTUAL endpoint labels (r10 review: the connector MERGEs
    endpoints by label + key, so the previous hardcoded ':Node'
    source/target labels would have MERGEd orphan :Node endpoints
    instead of linking the typed nodes written above — the grouping
    logic is connector-independent and pinned by tests)."""
    spark = nodes.sparkSession
    try:
        # py4j resolves packages lazily; Class.forName is a real probe
        spark._jvm.java.lang.Class.forName("org.neo4j.spark.DataSource")  # noqa: SLF001
    except Exception as e:  # pragma: no cover - connector not in this env
        raise NotImplementedError(
            "Neo4j Spark Connector jar not on the classpath; use "
            "write_graph_parquet (default sink) or add "
            "org.neo4j:neo4j-connector-apache-spark to spark.jars.packages"
        ) from e

    nodes, edges = merge_graph(nodes, edges)
    common = {
        "url": url,
        "authentication.basic.username": user,
        "authentication.basic.password": password,
        "database": database,
    }
    for label_row in nodes.select("label").distinct().collect():  # pragma: no cover
        label = label_row["label"]
        (
            nodes.where(nodes.label == label)
            .drop("label")
            .write.format("org.neo4j.spark.DataSource")
            .mode("Overwrite")
            .options(**common)
            .options(**node_write_options(label))
            .save()
        )
    held: list[DataFrame] = []  # pragma: no cover
    try:  # pragma: no cover
        for src_l, dst_l, rel, sub in relationship_groups(edges, persisted=held):
            (
                sub.write.format("org.neo4j.spark.DataSource")
                .mode("Overwrite")
                .options(**common)
                .options(**relationship_write_options(src_l, dst_l, rel))
                .save()
            )
    finally:  # pragma: no cover
        for df in held:
            df.unpersist()
