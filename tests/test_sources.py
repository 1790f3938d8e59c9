"""Source/sink round-trips: JSONL documents, multiline legacy JSON,
CSV/ORC/parquet equivalence, graph parquet sink idempotency."""

from __future__ import annotations

import json

import pytest

from oculus_data_pipeline_spark.operators.classify import EchoClassifier
from oculus_data_pipeline_spark.plans.pipeline import read_documents_xml, run_pipeline
from oculus_data_pipeline_spark.sinks.graph_sink import (
    write_graph_neo4j,
    write_graph_parquet,
)
from oculus_data_pipeline_spark.sources.json_docs import (
    read_documents_json,
    read_documents_multiline_json,
    write_documents_json,
)
from oculus_data_pipeline_spark.sources.tables import load_table

from .test_pipeline import XML


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("xml_src")
    (d / "corpus.xml").write_text(XML)
    return read_documents_xml(spark, str(d)).cache()


def _doc_key(rows):
    return sorted((r["doc_id"], r["title"], tuple(r["authors"]), len(r["indexing"])) for r in rows)


def test_jsonl_roundtrip(spark, docs, tmp_path):
    out = str(tmp_path / "docs_json")
    write_documents_json(docs, out)
    back = read_documents_json(spark, out)
    assert _doc_key(back.collect()) == _doc_key(docs.collect())


def test_multiline_legacy_json(spark, docs, tmp_path):
    # the reference's indented whole-array layout
    payload = [
        {
            "doc_id": r["doc_id"],
            "title": r["title"],
            "authors": list(r["authors"]),
            "recipients": list(r["recipients"]),
            "indexing": [
                {"main": t["main"], "midsub": t["midsub"], "sub": t["sub"]}
                for t in r["indexing"]
            ],
        }
        for r in docs.collect()
    ]
    p = tmp_path / "legacy.json"
    p.write_text(json.dumps(payload, indent=4))
    back = read_documents_multiline_json(spark, str(p))
    assert {r["doc_id"] for r in back.collect()} == {r["doc_id"] for r in docs.collect()}


def test_flat_format_equivalence(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "customer")
    expected = sorted(tuple(r) for r in src.collect())
    for fmt in ("parquet", "orc", "json", "csv"):
        out = str(tmp_path / f"cust_{fmt}")
        w = src.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", True)
        getattr(w, "format")(fmt).save(out)
        r = spark.read.format(fmt)
        if fmt == "csv":
            r = r.option("header", True).schema(src.schema)
        elif fmt == "json":
            r = r.schema(src.schema)
        got = sorted(tuple(x) for x in r.load(out).collect())
        assert got == expected, fmt


def test_graph_sink_idempotent(spark, docs, tmp_path):
    from oculus_data_pipeline_spark.plans.pipeline import (
        build_document_graph,
        classify_document_terms,
        extract_terms,
        known_entities_from_docs,
    )

    terms = extract_terms(docs)
    known = known_entities_from_docs(docs)
    classified = classify_document_terms(terms, known, EchoClassifier())
    nodes, edges = build_document_graph(docs, classified)

    out = str(tmp_path / "graph")
    write_graph_parquet(nodes, edges, out)
    first_nodes = sorted(tuple(r) for r in spark.read.parquet(out + "/nodes").collect())
    # writing the same graph again (MERGE semantics) must be a no-op set-wise
    write_graph_parquet(nodes, edges, out)
    second_nodes = sorted(tuple(r) for r in spark.read.parquet(out + "/nodes").collect())
    assert first_nodes == second_nodes
    keys = [(r[0], r[1]) for r in first_nodes]
    assert len(keys) == len(set(keys)), "duplicate (label,key) after MERGE-style write"


def test_graph_sink_node_names_independent_of_row_order(spark, tmp_path):
    """Spellings that share a (label, key) — generate_uri folds case and
    spacing — collapse to the least name whatever the partitioning and
    row order, so two writes of the same nodes are identical."""
    rows = [
        ("Person", "r1", "Jonor"),
        ("Person", "r1", "JONOR"),
        ("Place", "r2", "Mount   Vernon"),
        ("Place", "r2", "Mount Vernon"),
        ("Term", "trade", "trade"),
    ]
    schema = "label string, key string, name string"
    edges = spark.createDataFrame(
        [("r1", "d1", "AUTHOR")], "src string, dst string, rel_type string"
    )
    written = []
    for i, nodes in enumerate(
        [
            spark.createDataFrame(rows, schema).coalesce(1),
            spark.createDataFrame(rows[::-1], schema).coalesce(1),
            spark.createDataFrame(rows, schema).repartition(3, "name"),
        ]
    ):
        out = str(tmp_path / f"g{i}")
        write_graph_parquet(nodes, edges, out)
        written.append(sorted(tuple(r) for r in spark.read.parquet(out + "/nodes").collect()))
    assert written[0] == written[1] == written[2] == [
        ("Person", "r1", "JONOR"),
        ("Place", "r2", "Mount   Vernon"),
        ("Term", "trade", "trade"),
    ]


def test_neo4j_sink_gated(spark, docs):
    from oculus_data_pipeline_spark.plans.pipeline import (
        build_document_graph,
        classify_document_terms,
        extract_terms,
        known_entities_from_docs,
    )

    terms = extract_terms(docs)
    classified = classify_document_terms(
        terms, known_entities_from_docs(docs), EchoClassifier()
    )
    nodes, edges = build_document_graph(docs, classified)
    with pytest.raises(NotImplementedError):
        write_graph_neo4j(nodes, edges, "bolt://localhost:7687", "neo4j", "pw")


def test_delta_merge_sink_gated(spark, docs, tmp_path):
    """Transactional MERGE INTO graph sink: in this container (no
    delta jars, probed 2026-08-14) the gate must raise with a
    jar-pointing message and must NOT leave partial output behind;
    where the jars exist the same call is a real per-table MERGE."""
    from oculus_data_pipeline_spark.plans.pipeline import (
        build_document_graph,
        classify_document_terms,
        extract_terms,
        known_entities_from_docs,
    )
    from oculus_data_pipeline_spark.sinks.graph_sink import (
        write_graph_delta_merge,
    )

    terms = extract_terms(docs)
    classified = classify_document_terms(
        terms, known_entities_from_docs(docs), EchoClassifier()
    )
    nodes, edges = build_document_graph(docs, classified)
    out = tmp_path / "delta_graph"
    with pytest.raises(NotImplementedError, match="delta-spark"):
        write_graph_delta_merge(nodes, edges, str(out))
    assert not out.exists()


def test_python_datasource_matches_native_xml_scan(spark, tmp_path):
    """The Spark-4 Python DataSource connector (sources/py_datasource
    .py: one InputPartition per file, executor-side document splitting,
    JVM-side from_xml field extraction) yields row-for-row the same
    documents as the native splittable XML scan — the custom-connector
    escape hatch is semantics-preserving."""
    from oculus_data_pipeline_spark.sources.py_datasource import (
        read_documents_xml_pyds,
    )

    d = tmp_path / "xml_pyds"
    d.mkdir()
    (d / "corpus.xml").write_text(XML)
    native = [
        r.asDict(recursive=True)
        for r in read_documents_xml(spark, str(d)).orderBy("doc_id").collect()
    ]
    custom = [
        r.asDict(recursive=True)
        for r in read_documents_xml_pyds(spark, str(d))
        .orderBy("doc_id")
        .collect()
    ]
    assert native == custom and len(native) == 2
    # split planning: one partition per input file
    assert (
        read_documents_xml_pyds(spark, str(d)).rdd.getNumPartitions() == 1
    )


def test_python_datasource_recursive_and_streaming_parse(spark, tmp_path):
    """Nested corpus layouts (year/month dirs) are one logical dataset
    — the connector lists recursively; and the executor-side split
    uses iterparse (constant memory per <document>), which must yield
    exactly what whole-tree parsing did."""
    from oculus_data_pipeline_spark.sources.py_datasource import (
        read_documents_xml_pyds,
    )

    d = tmp_path / "xml_nested"
    (d / "1800" / "07").mkdir(parents=True)
    (d / "1801").mkdir()
    (d / "1800" / "07" / "a.xml").write_text(XML)
    (d / "1801" / "b.xml").write_text(
        XML.replace("doc1", "doc9a").replace("doc2", "doc9b")
    )
    got = read_documents_xml_pyds(spark, str(d))
    assert got.rdd.getNumPartitions() == 2  # one per discovered file
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    assert ids == ["doc1", "doc2", "doc9a", "doc9b"]


def test_pyds_empty_dir_raises_not_silent_empty(spark, tmp_path):
    """A typo'd/unmounted path must fail loudly, not read as an empty
    dataset; a direct single-file path is accepted (r10 review)."""
    import pytest

    from oculus_data_pipeline_spark.sources.py_datasource import (
        read_documents_xml_pyds,
    )

    d = tmp_path / "no_xml_here"
    d.mkdir()
    with pytest.raises(Exception, match="no .xml files"):
        read_documents_xml_pyds(spark, str(d)).collect()
    f = tmp_path / "one.xml"
    f.write_text(
        "<root><document><documentID>d1</documentID>"
        "<documentTitle>t</documentTitle></document></root>"
    )
    got = read_documents_xml_pyds(spark, str(f)).collect()
    assert len(got) == 1 and got[0]["doc_id"] == "d1"


def test_relationship_groups_labels(spark):
    """The Neo4j writer MERGEs relationship endpoints BY LABEL + key
    (r10 review: hardcoded ':Node' labels would MERGE orphan
    endpoints), so the grouping must carry the reference's Cypher
    label pairs, MIDSUB/SUB included (Term → Term)."""
    from oculus_data_pipeline_spark.sinks.graph_sink import (
        relationship_groups,
    )

    edges = spark.createDataFrame(
        [
            ("r1", "d1", "AUTHOR"),
            ("d1", "trade", "HAS_TERM"),
            ("trade", "fisheries", "MIDSUB"),
        ],
        ["src", "dst", "rel_type"],
    )
    groups = relationship_groups(edges)
    by_rel = {rel: (s, d, sub) for s, d, rel, sub in groups}
    assert by_rel["AUTHOR"][:2] == ("Person", "Document")
    assert by_rel["HAS_TERM"][:2] == ("Document", "Term")
    assert by_rel["MIDSUB"][:2] == ("Term", "Term")
    # groups partition the edge set exactly
    got = sorted(
        tuple(r)
        for _, _, _, sub in groups
        for r in sub.select("src", "dst", "rel_type").collect()
    )
    assert got == sorted(tuple(r) for r in edges.collect())


def test_relationship_groups_unknown_rel_type_raises(spark):
    from oculus_data_pipeline_spark.sinks.graph_sink import (
        relationship_groups,
    )

    # unknown rel_type: loud error, not orphan-label writes
    bad = spark.createDataFrame(
        [("a", "b", "MYSTERY")], ["src", "dst", "rel_type"]
    )
    with pytest.raises(ValueError, match="MYSTERY"):
        relationship_groups(bad)


def test_relationship_groups_duplicate_rows_not_ambiguous(spark):
    """Duplicate (src,dst,rel_type) edge ROWS — legitimate in
    streaming-append output, whose contract defers dedup to read
    time — pass through to their one group (r10 advice: an older
    check counted raw rows per edge key and misreported them)."""
    from oculus_data_pipeline_spark.sinks.graph_sink import (
        relationship_groups,
    )

    dup_edges = spark.createDataFrame(
        [("trade", "fish", "MIDSUB")] * 3,  # same edge appended thrice
        ["src", "dst", "rel_type"],
    )
    groups = relationship_groups(dup_edges)
    assert [(s, d, r) for s, d, r, _ in groups] == [("Term", "Term", "MIDSUB")]
    # all three rows survive (dedup is the writer/reader's call)
    assert groups[0][3].count() == 3


def test_neo4j_write_options_golden(spark):
    """Golden-pin the EXACT option maps write_graph_neo4j hands the
    Neo4j Spark Connector (r10 verdict item 4): the connector jar is
    absent in this image, so the rendered contract — labels, keys,
    save strategy/modes per relationship group — is what a
    jar-present round plugs in against. Rendered over a graph that
    exercises every group shape (typed endpoints + Term → Term SUB)."""
    from oculus_data_pipeline_spark.sinks.graph_sink import (
        node_write_options,
        relationship_groups,
        relationship_write_options,
    )

    assert node_write_options("Person") == {
        "labels": ":Person",
        "node.keys": "key",
    }

    edges = spark.createDataFrame(
        [
            ("r1", "d1", "AUTHOR"),
            ("r1", "d1", "RECIPIENT"),
            ("p1", "d1", "LOCATION"),
            ("d1", "1790-01-01", "DATE_FROM"),
            ("d1", "1790-01-01", "DATE_TO"),
            ("d1", "trade", "HAS_TERM"),
            ("trade", "fish", "MIDSUB"),
            ("trade", "fish", "SUB"),
        ],
        ["src", "dst", "rel_type"],
    )
    rendered = {
        rel: relationship_write_options(s, d, rel)
        for s, d, rel, _ in relationship_groups(edges)
    }
    golden = {
        "AUTHOR": ("Person", "Document"),
        "RECIPIENT": ("Person", "Document"),
        "LOCATION": ("Place", "Document"),
        "DATE_FROM": ("Document", "Date"),
        "DATE_TO": ("Document", "Date"),
        "HAS_TERM": ("Document", "Term"),
        "MIDSUB": ("Term", "Term"),
        "SUB": ("Term", "Term"),
    }
    assert set(rendered) == set(golden)
    for rel, (src_l, dst_l) in golden.items():
        assert rendered[rel] == {
            "relationship": rel,
            "relationship.save.strategy": "keys",
            "relationship.source.labels": f":{src_l}",
            "relationship.source.node.keys": "src:key",
            "relationship.source.save.mode": "Match",
            "relationship.target.labels": f":{dst_l}",
            "relationship.target.node.keys": "dst:key",
            "relationship.target.save.mode": "Match",
        }, rel


def test_relationship_groups_persisted_handles(spark):
    """persisted=[] receives the cached edge frame so the writer can
    unpersist after the write — the rel_type discovery and per-group
    scans must not recompute the edge lineage once per action (r10
    advice)."""
    from oculus_data_pipeline_spark.sinks.graph_sink import (
        relationship_groups,
    )

    edges = spark.createDataFrame(
        [("d", "a", "HAS_TERM"), ("a", "b", "SUB")],
        ["src", "dst", "rel_type"],
    )
    held = []
    groups = relationship_groups(edges, persisted=held)
    assert len(held) == 1  # the edges
    assert all(df.storageLevel.useMemory for df in held)
    assert len(groups) == 2
    for df in held:
        df.unpersist()
