"""Resumable stage boundaries — the reference's per-stage CLI surface.

The reference pipeline runs as four separately-invocable scripts with
JSON files between them (README.md:54-75; argparse blocks at
xml_to_json.py:107-112, json_classification.py:299-305,
generate_uri.py:71-75, json_to_db.py:131-138) so a failed run resumes
from the last completed stage. In-engine the fused plan
(plans/pipeline.py) stays the fast path; this module re-exposes the
same four checkpoints over Spark-native JSONL directories:

    ingest    XML             → canonical documents        (xml_to_json)
    classify  documents       → enriched documents         (json_classification)
    uri       enriched        → enriched + uris            (generate_uri)
    graph     enriched + uris → nodes/edges parquet tables (json_to_db)

The enriched layout mirrors the reference's updated JSON: authors /
recipients / location become {name, uri} objects and indexing items
become term objects {term, type, uri, midsub, sub} — classification
fills term/type (and converts person names, json_classification.py:
80-92, :233-237), the uri stage fills uri for non-'term' entities
(generate_uri.py:29-67), and the graph stage consumes the stored
names/uris rather than re-deriving them.

Every boundary is a splittable JSONL directory, not the reference's
one-indented-file-per-document layout — at 100 TB each stage is a
distributed scan → transform → write with no driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import convert_name_sql, generate_uri_sql
from ..operators.classify import Classifier
from .pipeline import (
    build_document_graph,
    classify_document_terms,
    extract_terms,
    known_entities_from_docs,
    read_documents_xml,
)

NO_URI = "CAST(NULL AS STRING)"

# The reference's updated-JSON document shape (json_classification.py
# update_json output; generate_uri.py add_uri output).
ENRICHED_DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField(
            "authors",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("uri", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "recipients",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("uri", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("date_from", T.StringType()),
        T.StructField("date_to", T.StringType()),
        T.StructField(
            "location",
            T.StructType(
                [
                    T.StructField("name", T.StringType()),
                    T.StructField("uri", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "indexing",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("term", T.StringType()),
                        T.StructField("type", T.StringType()),
                        T.StructField("uri", T.StringType()),
                        T.StructField(
                            "midsub",
                            T.StructType(
                                [
                                    T.StructField("term", T.StringType()),
                                    T.StructField("type", T.StringType()),
                                    T.StructField("uri", T.StringType()),
                                ]
                            ),
                        ),
                        T.StructField(
                            "sub",
                            T.StructType(
                                [
                                    T.StructField("term", T.StringType()),
                                    T.StructField("type", T.StringType()),
                                    T.StructField("uri", T.StringType()),
                                ]
                            ),
                        ),
                    ]
                )
            ),
        ),
    ]
)


def classify_stage(docs: DataFrame, classifier: Classifier) -> DataFrame:
    """Canonical documents → enriched documents (no uris yet): the
    json_classification stage. Terms get {term, type} objects with
    known-entity precedence and person-name conversion; author /
    recipient names are converted in place (update_json,
    json_classification.py:233-237)."""
    terms = extract_terms(docs)
    known = known_entities_from_docs(docs)
    classified = classify_document_terms(terms, known, classifier)

    def drop_uri(obj: str) -> str:
        return (
            f"CASE WHEN {obj} IS NOT NULL THEN "
            f"struct({obj}.term AS term, {obj}.type AS type, {NO_URI} AS uri) END"
        )

    item = (
        f"struct(main.term AS term, main.type AS type, {NO_URI} AS uri, "
        f"{drop_uri('midsub')} AS midsub, {drop_uri('sub')} AS sub)"
    )
    items = classified.groupBy("doc_id").agg(
        F.expr(f"transform(array_sort(collect_list(struct(pos, {item} AS item))), s -> s.item)")
        .alias("indexing")
    )

    # convert author/recipient names in place (arrays stay ordered).
    # NULL name ELEMENTS (JSON ingest only — from_xml yields '' for
    # empty tags) are dropped, the same policy as the fused
    # build_document_graph: the reference crashes on a None name
    # (convert_name, json_classification.py:51), so there is no
    # reference output to match and both engine paths agree on drop.
    def converted_names(col: str) -> str:
        return (
            f"transform(filter({col}, n -> n IS NOT NULL), "
            f"n -> struct({convert_name_sql('n')} AS name, {NO_URI} AS uri)) AS {col}"
        )

    def or_empty(col: str) -> str:
        array_type = ENRICHED_DOCUMENT_SCHEMA[col].dataType.simpleString()
        return f"coalesce({col}, CAST(array() AS {array_type})) AS {col}"

    return (
        docs.selectExpr(
            "doc_id",
            "title",
            "date_from",
            "date_to",
            "CASE WHEN location_name IS NOT NULL THEN "
            f"struct(location_name AS name, {NO_URI} AS uri) END AS location",
            converted_names("authors"),
            converted_names("recipients"),
        )
        .join(items, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "title",
            or_empty("authors"),
            or_empty("recipients"),
            "date_from",
            "date_to",
            "location",
            or_empty("indexing"),
        )
    )


def uri_stage(enriched: DataFrame) -> DataFrame:
    """Enriched documents → enriched documents with uris: the
    generate_uri stage. Authors, recipients and location get uris
    unconditionally; term objects (and their midsub/sub children) only
    when type != 'term' (generate_uri.py:29-67 add_uri_if_needed).
    Each object is rebuilt field by field; a NULL object stays NULL."""

    def named(obj: str) -> str:
        return (
            f"CASE WHEN {obj} IS NOT NULL THEN "
            f"struct({obj}.name AS name, {generate_uri_sql(f'{obj}.name')} AS uri) END"
        )

    def term_uri(obj: str, children: str = "") -> str:
        # add_uri_if_needed (generate_uri.py:36-45) reads
        # term_obj.get('type') and compares with Python `!=` — a
        # missing/None type is `None != 'term'` → True, so NULL types
        # DO get a uri there; plain `col != 'term'` three-valued logic
        # would silently yield NULL instead (r10 review). Downstream
        # json_to_db then ignores that uri anyway (else-branch keys by
        # term text — see build_document_graph's canonical dispatch).
        uri = (
            f"CASE WHEN {obj}.type IS NULL OR {obj}.type != 'term' "
            f"THEN {generate_uri_sql(f'{obj}.term')} END"
        )
        return (
            f"CASE WHEN {obj} IS NOT NULL THEN "
            f"struct({obj}.term AS term, {obj}.type AS type, {uri} AS uri{children}) END"
        )

    children = "".join(f", {term_uri(f'item.{c}')} AS {c}" for c in ("midsub", "sub"))
    return enriched.selectExpr(
        "doc_id",
        "title",
        f"transform(authors, o -> {named('o')}) AS authors",
        f"transform(recipients, o -> {named('o')}) AS recipients",
        "date_from",
        "date_to",
        f"{named('location')} AS location",
        f"transform(indexing, item -> {term_uri('item', children)}) AS indexing",
    )


def graph_stage(enriched: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Enriched documents with uris → (nodes, edges): the json_to_db
    stage. Reshapes the stored names/uris into the fused builder's
    input shapes and reuses build_document_graph — one graph
    definition, two entry points. (convert_name is a no-op on already-
    converted names — they no longer contain ', ' — and generate_uri
    is deterministic, so re-derivation equals the stored values.)"""
    docs_like = enriched.selectExpr(
        "doc_id",
        "title",
        "transform(authors, a -> a.name) AS authors",
        "transform(recipients, r -> r.name) AS recipients",
        "date_from",
        "date_to",
        "location.name AS location_name",
    )
    classified_like = enriched.selectExpr(
        "doc_id", "posexplode_outer(indexing) AS (pos, item)"
    ).selectExpr(
        "doc_id",
        "pos",
        "CASE WHEN item IS NOT NULL THEN "
        "struct(item.term AS term, item.type AS type, item.uri AS uri) END AS main",
        "item.midsub AS midsub",
        "item.sub AS sub",
    )
    return build_document_graph(docs_like, classified_like)


def ingest_stage(spark: SparkSession, xml_path: str) -> DataFrame:
    """XML → canonical documents (the xml_to_json stage)."""
    return read_documents_xml(spark, xml_path)
