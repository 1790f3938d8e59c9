"""Golden end-to-end test: tiny XML corpus → graph tables, compared
against the independent pure-Python reference model (ref_model.py)."""

from __future__ import annotations

import os

import pytest

from oculus_data_pipeline_spark.operators.classify import EchoClassifier
from oculus_data_pipeline_spark.plans.pipeline import (
    extract_terms,
    known_entities_from_docs,
    read_documents_xml,
    run_pipeline,
)

from .ref_model import run_reference_model

XML = """<root>
  <document>
    <documentID>doc1</documentID>
    <documentTitle>Letter to Adams</documentTitle>
    <projectInfo><publicationName>Papers</publicationName><seriesName>S1</seriesName>
      <volumeInfo>V1</volumeInfo><publisher>UVA</publisher>
      <formats><type>print</type><type>web</type></formats></projectInfo>
    <authors><author>Washington, George</author></authors>
    <recipients><recipient>Adams, John</recipient></recipients>
    <dates><date-from>1790-01-01</date-from><date-to>1790-01-05</date-to></dates>
    <location><placeName>Mount Vernon</placeName></location>
    <repositories><repository>LOC</repository></repositories>
    <indexing>
      <indexTerm><main>Continental Army (military)</main></indexTerm>
      <indexTerm><main>Virginia</main><midsub>politics</midsub><sub>elections</sub></indexTerm>
      <indexTerm><main>Continental Army (duplicate paren)</main></indexTerm>
      <indexTerm><main>Washington, George</main></indexTerm>
      <indexTerm><main>Steuben, Friedrich Baron von</main></indexTerm>
    </indexing>
  </document>
  <document>
    <documentID>doc2</documentID>
    <documentTitle>Memo</documentTitle>
    <projectInfo><publicationName>Papers</publicationName><seriesName>S1</seriesName>
      <volumeInfo>V2</volumeInfo><publisher>UVA</publisher>
      <formats><type>print</type></formats></projectInfo>
    <authors><author>Adams, John</author><author>Jay, John</author></authors>
    <recipients></recipients>
    <dates><date-from>1791-06-01</date-from><date-to></date-to></dates>
    <repositories></repositories>
    <indexing>
      <indexTerm><main>Virginia</main><midsub>politics</midsub></indexTerm>
      <indexTerm><main>trade</main><midsub>fisheries</midsub><sub>exports</sub></indexTerm>
      <indexTerm><main>treaty negotiations</main></indexTerm>
      <indexTerm><main>Mount   Vernon</main></indexTerm>
    </indexing>
  </document>
</root>"""

DOCS_MODEL = [
    {
        "doc_id": "doc1",
        "title": "Letter to Adams",
        "authors": ["Washington, George"],
        "recipients": ["Adams, John"],
        "location_name": "Mount Vernon",
        "date_from": "1790-01-01",
        "date_to": "1790-01-05",
        "indexing": [
            ("Continental Army (military)", "", ""),
            ("Virginia", "politics", "elections"),
            ("Continental Army (duplicate paren)", "", ""),
            ("Washington, George", "", ""),
            ("Steuben, Friedrich Baron von", "", ""),
        ],
    },
    {
        "doc_id": "doc2",
        "title": "Memo",
        "authors": ["Adams, John", "Jay, John"],
        "recipients": [],
        "location_name": None,
        "date_from": "1791-06-01",
        "date_to": None,
        "indexing": [
            ("Virginia", "politics", ""),
            # echo_label('trade') == 'term': a Term PARENT, so this is
            # the positive golden coverage for the relate_sub_term
            # quirk — its MIDSUB/SUB edges DO materialize (typed
            # parents like Virginia keep sub nodes but lose the edges)
            ("trade", "fisheries", "exports"),
            ("treaty negotiations", "", ""),
            ("Mount   Vernon", "", ""),
        ],
    },
]


@pytest.fixture(scope="module")
def xml_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("xml_corpus")
    (d / "corpus.xml").write_text(XML)
    return str(d)


def test_read_documents_xml(spark, xml_dir):
    docs = read_documents_xml(spark, xml_dir).orderBy("doc_id").collect()
    assert [d["doc_id"] for d in docs] == ["doc1", "doc2"]
    d1 = docs[0]
    assert d1["title"] == "Letter to Adams"
    assert d1["authors"] == ["Washington, George"]
    assert d1["project_info"]["formats"] == ["print", "web"]
    assert d1["location_name"] == "Mount Vernon"
    assert len(d1["indexing"]) == 5
    d2 = docs[1]
    assert d2["recipients"] == []
    assert d2["location_name"] is None


def test_extract_terms_dedup_and_paren(spark, xml_dir):
    docs = read_documents_xml(spark, xml_dir)
    terms = extract_terms(docs).orderBy("doc_id", "pos").collect()
    doc1_terms = [(t["main"], t["midsub"], t["sub"]) for t in terms if t["doc_id"] == "doc1"]
    # paren stripped, first-wins dedup: the second "Continental Army (…)"
    # normalizes to the same triple and is dropped
    assert ("Continental Army", "", "") in doc1_terms
    assert len([t for t in doc1_terms if t[0] == "Continental Army"]) == 1
    assert ("Virginia", "politics", "elections") in doc1_terms


def test_known_entities(spark, xml_dir):
    docs = read_documents_xml(spark, xml_dir)
    known = {
        r["norm_term"]: r["label"]
        for r in known_entities_from_docs(docs).collect()
    }
    assert known["washington, george"] == "person"
    assert known["adams, john"] == "person"
    assert known["mount vernon"] == "place"


def test_pipeline_matches_reference_model(spark, xml_dir):
    nodes_df, edges_df = run_pipeline(spark, xml_dir, EchoClassifier())
    got_nodes = {(r["label"], r["key"], r["name"]) for r in nodes_df.collect()}
    got_edges = {(r["src"], r["dst"], r["rel_type"]) for r in edges_df.collect()}
    exp_nodes, exp_edges = run_reference_model(DOCS_MODEL)
    assert got_nodes == exp_nodes, (
        f"missing={sorted(exp_nodes - got_nodes)[:5]} "
        f"extra={sorted(got_nodes - exp_nodes)[:5]}"
    )
    assert got_edges == exp_edges, (
        f"missing={sorted(exp_edges - got_edges)[:5]} "
        f"extra={sorted(got_edges - exp_edges)[:5]}"
    )


def test_classifier_runs_once_per_run(spark, xml_dir, tmp_path):
    """Both graph tables read one classification: over a run and its
    write, the classifier labels each distinct non-known term exactly
    once (json_classification.py:322-335), not once per table."""
    from pyspark.sql import functions as F

    from oculus_data_pipeline_spark.sinks.graph_sink import write_graph_parquet

    from .ref_model import normalize, strip_paren

    calls = spark.sparkContext.accumulator(0)

    def label(term):
        calls.add(1)
        return "term"

    class CountingUdfClassifier:
        def classify(self, terms):
            udf = F.udf(label, "string").asNondeterministic()
            return terms.select("norm_term", udf("norm_term").alias("label"))

    write_graph_parquet(
        *run_pipeline(spark, xml_dir, CountingUdfClassifier()), str(tmp_path / "graph")
    )
    known = {
        normalize(n)
        for d in DOCS_MODEL
        for n in [*d["authors"], *d["recipients"], d["location_name"]]
        if n is not None
    }
    terms = {
        normalize(strip_paren(part))
        for d in DOCS_MODEL
        for triple in d["indexing"]
        for part in triple
        if strip_paren(part)
    }
    assert calls.value == len(terms - known) > 0


def test_relationship_groups_endpoints_exist_under_group_labels(spark, xml_dir):
    """Every edge of the pipeline's own graph has both endpoints in the
    nodes table under the labels its relationship_groups group names
    — the Neo4j writer MATCHes endpoints by label + key, so a wrong
    label would MERGE orphans. MIDSUB/SUB are Term → Term because the
    graph reproduces the reference's Term-parent-only sub edges."""
    from pyspark.sql import functions as F

    from oculus_data_pipeline_spark.sinks.graph_sink import relationship_groups

    nodes, edges = run_pipeline(spark, xml_dir, EchoClassifier())
    held = []
    groups = relationship_groups(edges, persisted=held)
    try:
        assert {"AUTHOR", "HAS_TERM", "MIDSUB", "SUB"} <= {rel for _, _, rel, _ in groups}
        assert sum(sub.count() for *_, sub in groups) == edges.count()
        for src_l, dst_l, rel, sub in groups:
            for side, label in (("src", src_l), ("dst", dst_l)):
                keys = nodes.where(F.col("label") == label).select(F.col("key").alias(side))
                orphans = sub.join(keys, side, "left_anti").collect()
                assert not orphans, (rel, side, label, orphans)
    finally:
        for df in held:
            df.unpersist()


def test_quarantine_isolates_corrupt_files(spark, tmp_path):
    from oculus_data_pipeline_spark.plans.pipeline import (
        read_documents_xml_with_quarantine,
    )

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "good.xml").write_text(XML)
    (d / "bad.xml").write_text(
        "<root><document><documentID>broken</documentID><unclosed></root>"
    )
    docs, bad = read_documents_xml_with_quarantine(spark, str(d))
    got_ids = sorted(r["doc_id"] for r in docs.collect())
    assert got_ids == ["doc1", "doc2"]  # good file fully parsed
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert "broken" in bad_rows[0]["raw_payload"]
    assert bad_rows[0]["source_file"].endswith("bad.xml")


def test_compact_small_files(spark, tmp_path):
    import os

    from oculus_data_pipeline_spark.plans.pipeline import compact_small_files
    from oculus_data_pipeline_spark.sources.tables import load_table

    src = str(tmp_path / "many")
    load_table(spark, "/root/testdata/sf0.001", "orders").repartition(16).write.parquet(src)
    n_src = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_src >= 16
    dst = str(tmp_path / "few")
    compact_small_files(spark, src, dst, target_files=2)
    n_dst = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    assert n_dst <= 2
    assert spark.read.parquet(dst).count() == spark.read.parquet(src).count()
