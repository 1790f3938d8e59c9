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

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import convert_name, generate_uri
from ..operators.classify import Classifier
from .pipeline import (
    build_document_graph,
    classify_document_terms,
    extract_terms,
    known_entities_from_docs,
    read_documents_xml,
)

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

    def drop_uri(obj: Column) -> Column:
        return F.when(
            obj.isNotNull(),
            F.struct(
                obj["term"].alias("term"),
                obj["type"].alias("type"),
                F.lit(None).cast("string").alias("uri"),
            ),
        )

    items = classified.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos"),
                        F.struct(
                            F.col("main.term").alias("term"),
                            F.col("main.type").alias("type"),
                            F.lit(None).cast("string").alias("uri"),
                            drop_uri(F.col("midsub")).alias("midsub"),
                            drop_uri(F.col("sub")).alias("sub"),
                        ).alias("item"),
                    )
                )
            ),
            lambda s: s["item"],
        ).alias("indexing")
    )

    # convert author/recipient names in place (arrays stay ordered).
    # NULL name ELEMENTS (JSON ingest only — from_xml yields '' for
    # empty tags) are dropped, the same policy as the fused
    # build_document_graph: the reference crashes on a None name
    # (convert_name, json_classification.py:51), so there is no
    # reference output to match and both engine paths agree on drop.
    def converted_names(col: str) -> Column:
        return F.transform(
            F.filter(col, lambda n: n.isNotNull()),
            lambda n: F.struct(
                convert_name(n).alias("name"), F.lit(None).cast("string").alias("uri")
            ),
        ).alias(col)

    return (
        docs.select(
            "doc_id",
            "title",
            "date_from",
            "date_to",
            F.when(
                F.col("location_name").isNotNull(),
                F.struct(
                    F.col("location_name").alias("name"),
                    F.lit(None).cast("string").alias("uri"),
                ),
            ).alias("location"),
            converted_names("authors"),
            converted_names("recipients"),
        )
        .join(items, "doc_id", "left")
        .select(
            "doc_id",
            "title",
            F.coalesce("authors", F.array().cast("array<struct<name string, uri string>>")).alias("authors"),
            F.coalesce("recipients", F.array().cast("array<struct<name string, uri string>>")).alias("recipients"),
            "date_from",
            "date_to",
            "location",
            F.coalesce(
                "indexing", F.array().cast(f"array<{_enriched_item_ddl()}>")
            ).alias("indexing"),
        )
    )


def _enriched_item_ddl() -> str:
    return (
        "struct<term string, type string, uri string, "
        "midsub struct<term string, type string, uri string>, "
        "sub struct<term string, type string, uri string>>"
    )


def uri_stage(enriched: DataFrame) -> DataFrame:
    """Enriched documents → enriched documents with uris: the
    generate_uri stage. Authors, recipients and location get uris
    unconditionally; term objects (and their midsub/sub children) only
    when type != 'term' (generate_uri.py:29-67 add_uri_if_needed)."""

    def with_name_uri(objs: Column) -> Column:
        return F.transform(objs, lambda o: o.withField("uri", generate_uri(o["name"])))

    def term_uri(obj: Column) -> Column:
        # add_uri_if_needed (generate_uri.py:36-45) reads
        # term_obj.get('type') and compares with Python `!=` — a
        # missing/None type is `None != 'term'` → True, so NULL types
        # DO get a uri there; plain `col != 'term'` three-valued logic
        # would silently yield NULL instead (r10 review). Downstream
        # json_to_db then ignores that uri anyway (else-branch keys by
        # term text — see build_document_graph's canonical dispatch).
        not_plain_term = obj["type"].isNull() | (obj["type"] != "term")
        return F.when(
            obj.isNotNull(),
            obj.withField(
                "uri",
                F.when(not_plain_term, generate_uri(obj["term"])),
            ),
        )

    return enriched.select(
        "doc_id",
        "title",
        with_name_uri(F.col("authors")).alias("authors"),
        with_name_uri(F.col("recipients")).alias("recipients"),
        "date_from",
        "date_to",
        F.when(
            F.col("location").isNotNull(),
            F.col("location").withField("uri", generate_uri(F.col("location.name"))),
        ).alias("location"),
        F.transform(
            F.col("indexing"),
            lambda item: term_uri(item)
            .withField("midsub", term_uri(item["midsub"]))
            .withField("sub", term_uri(item["sub"])),
        ).alias("indexing"),
    )


def graph_stage(enriched: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Enriched documents with uris → (nodes, edges): the json_to_db
    stage. Reshapes the stored names/uris into the fused builder's
    input shapes and reuses build_document_graph — one graph
    definition, two entry points. (convert_name is a no-op on already-
    converted names — they no longer contain ', ' — and generate_uri
    is deterministic, so re-derivation equals the stored values.)"""
    docs_like = enriched.select(
        "doc_id",
        "title",
        F.transform("authors", lambda a: a["name"]).alias("authors"),
        F.transform("recipients", lambda r: r["name"]).alias("recipients"),
        "date_from",
        "date_to",
        F.col("location.name").alias("location_name"),
    )
    classified_like = enriched.select(
        "doc_id", F.posexplode_outer("indexing").alias("pos", "item")
    ).select(
        "doc_id",
        "pos",
        F.when(
            F.col("item").isNotNull(),
            F.struct(
                F.col("item.term").alias("term"),
                F.col("item.type").alias("type"),
                F.col("item.uri").alias("uri"),
            ),
        ).alias("main"),
        F.col("item.midsub").alias("midsub"),
        F.col("item.sub").alias("sub"),
    )
    return build_document_graph(docs_like, classified_like)


def ingest_stage(spark: SparkSession, xml_path: str) -> DataFrame:
    """XML → canonical documents (the xml_to_json stage)."""
    return read_documents_xml(spark, xml_path)
