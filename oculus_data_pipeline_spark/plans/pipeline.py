"""The reference pipeline as one DataFrame DAG.

Reference (/root/reference/run_pipeline.py:34-77): four subprocess
stages with JSON files on disk between them —
xml_to_json → json_classification → generate_uri → json_to_db.

Here the whole thing is a declarative plan over the native XML source
with two in-memory materialization points: the parsed documents and
the classified terms, each computed once and read by both graph-table
writes (graph_from_documents). Stage boundaries become named
DataFrame→DataFrame functions (individually testable, composable —
the reference's "resumable checkpoints" semantics, SURVEY.md §3.2),
and the per-file ProcessPoolExecutor (run_pipeline.py:104-109) is
replaced by Spark's own partition parallelism: at 100 TB the XML scan
fans out across the cluster with no user-level scheduling.

Every wide projection is one ``selectExpr`` of SQL text spliced from
the ``*_sql`` text kernels, with SQL lambdas (``n -> ...``) inside the
higher-order functions. Building the plan then costs a few py4j round
trips per projection instead of several per Column method, which is
most of a warm run's fixed cost (a micro-batch pays it again per
trigger).

Semantic parity notes (each cites the reference behavior it preserves):
- term triples are collected with parentheticals stripped per part and
  first-wins per-document dedup (xml_to_json.py:24-44);
- authors/recipients/location form the known-entity table with
  precedence over the classifier (json_classification.py:313-320,
  :258-262), and only terms NOT in it reach the classifier
  (:121-123) — after global distinct (:322-335);
- classified 'person' terms are rendered with convert_name
  (:80-92), other labels keep the raw term;
- URIs go on authors, recipients, location, and non-'term' index
  terms (generate_uri.py:29-67);
- the graph gets Document/Person/Place/Organization/Term/Date nodes
  and AUTHOR/RECIPIENT/LOCATION/DATE_FROM/DATE_TO/HAS_*/MIDSUB/SUB
  edges (json_to_db.py:7-127), built set-wise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import (
    convert_name_sql,
    generate_uri_sql,
    normalize_term_sql,
    strip_parenthetical_sql,
)
from ..operators.classify import Classifier, classify_terms
from ..operators.graph import canonical_label, has_edge, term_node

# The three parts of an index term (xml_to_json.py:24-44).
PARTS = ("main", "midsub", "sub")
NO_NAMES = "CAST(array() AS ARRAY<STRING>)"

# Explicit schema (SURVEY.md §1.4): inference would collapse
# single-element arrays to scalars and parse dates; the reference keeps
# every scalar a string and every repeated element an array.
DOCUMENT_XML_SCHEMA = T.StructType(
    [
        T.StructField("documentID", T.StringType()),
        T.StructField("documentTitle", T.StringType()),
        T.StructField(
            "projectInfo",
            T.StructType(
                [
                    T.StructField("publicationName", T.StringType()),
                    T.StructField("seriesName", T.StringType()),
                    T.StructField("volumeInfo", T.StringType()),
                    T.StructField("publisher", T.StringType()),
                    T.StructField(
                        "formats",
                        T.StructType(
                            [T.StructField("type", T.ArrayType(T.StringType()))]
                        ),
                    ),
                ]
            ),
        ),
        T.StructField(
            "authors",
            T.StructType([T.StructField("author", T.ArrayType(T.StringType()))]),
        ),
        T.StructField(
            "recipients",
            T.StructType([T.StructField("recipient", T.ArrayType(T.StringType()))]),
        ),
        T.StructField(
            "dates",
            T.StructType(
                [
                    T.StructField("date-from", T.StringType()),
                    T.StructField("date-to", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "location", T.StructType([T.StructField("placeName", T.StringType())])
        ),
        T.StructField(
            "repositories",
            T.StructType([T.StructField("repository", T.ArrayType(T.StringType()))]),
        ),
        T.StructField(
            "indexing",
            T.StructType(
                [
                    T.StructField(
                        "indexTerm",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("main", T.StringType()),
                                    T.StructField("midsub", T.StringType()),
                                    T.StructField("sub", T.StringType()),
                                ]
                            )
                        ),
                    )
                ]
            ),
        ),
    ]
)


def _canonical_documents(raw: DataFrame) -> DataFrame:
    """Project a DOCUMENT_XML_SCHEMA scan to the canonical nested shape
    shared by every XML reader (native, quarantine, streaming and the
    Python data source)."""
    return raw.selectExpr(
        "documentID AS doc_id",
        "documentTitle AS title",
        "struct(projectInfo.publicationName AS publication_name,"
        " projectInfo.seriesName AS series_name, projectInfo.volumeInfo AS volume_info,"
        " projectInfo.publisher AS publisher,"
        " coalesce(projectInfo.formats.type, array()) AS formats) AS project_info",
        "coalesce(authors.author, array()) AS authors",
        "coalesce(recipients.recipient, array()) AS recipients",
        "dates.`date-from` AS date_from",
        "dates.`date-to` AS date_to",
        "location.placeName AS location_name",
        "coalesce(repositories.repository, array()) AS repositories",
        "coalesce(indexing.indexTerm, array()) AS indexing",
    )


def read_documents_xml(spark: SparkSession, path: str) -> DataFrame:
    """S1/S2: native XML scan (xml_to_json.py:47-103 / run_pipeline.py:
    97-102). At scale: splittable scan, column pruning into the parser.

    Normalizes to the canonical nested shape (xml_to_json.py:77-96):
    flat scalars + arrays-of-strings + indexing array of term structs.
    """
    raw = (
        spark.read.format("xml")
        .option("rowTag", "document")
        .schema(DOCUMENT_XML_SCHEMA)
        .load(path)
    )
    return _canonical_documents(raw)


def read_documents_xml_with_quarantine(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Failure-isolating ingest: malformed XML never aborts the job.

    The reference aborts only the failing file and continues
    (run_pipeline.py:55-75); the engine equivalent is PERMISSIVE
    parsing with a corrupt-record column — good documents flow on, bad
    payloads land in a quarantine DataFrame (raw text + source file)
    for reprocessing. Returns (documents, quarantine).
    """
    schema_with_corrupt = T.StructType(
        [*DOCUMENT_XML_SCHEMA.fields, T.StructField("_corrupt_record", T.StringType())]
    )
    raw = (
        spark.read.format("xml")
        .option("rowTag", "document")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema_with_corrupt)
        .load(path)
        # input_file_name() is only defined while the scan is live —
        # capture it before the cache boundary or it comes back ''
        .withColumn("__source_file", F.input_file_name())
    ).cache()
    bad = raw.where(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_payload"),
        F.col("__source_file").alias("source_file"),
    )
    good = raw.where(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record", "__source_file"
    )
    return _canonical_documents(good), bad


def compact_small_files(
    spark: SparkSession, src: str, dst: str, target_files: int
) -> None:
    """Small-file compaction for ingest landing zones (SURVEY §4 risk
    c: many tiny XML/JSON files make scan planning the bottleneck).
    Reads, coalesces without a shuffle, rewrites as ``target_files``
    parquet files."""
    spark.read.parquet(src).coalesce(target_files).write.mode("overwrite").parquet(dst)


def extract_terms(docs: DataFrame) -> DataFrame:
    """P4/D1: flatten term triples with parenthetical-strip per part and
    first-occurrence-wins per-document dedup (xml_to_json.py:24-44).

    Returns (doc_id, pos, main, midsub, sub) — pos preserves document
    order so downstream output is deterministic.
    """
    stripped = [strip_parenthetical_sql(f"coalesce(t.{p}, '')") + f" AS {p}" for p in PARTS]
    return (
        docs.selectExpr("doc_id", "posexplode_outer(indexing) AS (pos, t)")
        .where("t IS NOT NULL")
        .selectExpr("doc_id", "pos", *stripped)
        .selectExpr(
            "*",
            "row_number() OVER (PARTITION BY doc_id, main, midsub, sub ORDER BY pos) AS rn",
        )
        .where("rn = 1")
        .drop("rn")
    )


def known_entities_from_docs(docs: DataFrame) -> DataFrame:
    """J1: authors/recipients → 'person', location → 'place', keyed by
    the normalized name (json_classification.py:313-320). Small by
    construction → broadcast at the probe site.

    Null-safe on the JSON ingest surface (r10 review): a NULL
    authors/recipients ARRAY no longer nulls out `concat` (losing the
    other side's names from the known set), and NULL name ELEMENTS are
    dropped instead of emitting a junk NULL norm_term row — the
    reference crashes on both (normalize_term does re.sub on None,
    json_classification.py:70-78)."""
    persons = (
        docs.selectExpr(
            f"explode(concat(coalesce(authors, {NO_NAMES}), coalesce(recipients, {NO_NAMES})))"
            " AS name"
        )
        .where("name IS NOT NULL")
        .selectExpr(f"{normalize_term_sql('name')} AS norm_term", "'person' AS label")
    )
    places = docs.where("location_name IS NOT NULL").selectExpr(
        f"{normalize_term_sql('location_name')} AS norm_term", "'place' AS label"
    )
    return persons.unionByName(places).dropDuplicates(["norm_term"])


def classify_document_terms(
    terms: DataFrame, known: DataFrame, classifier: Classifier
) -> DataFrame:
    """U1/J2/J3: classify each of main/midsub/sub with known-entity
    precedence; empty parts label 'term' (json_classification.py:
    258-277 — empty midsub/sub default to TERM at :263-264).

    Unpivots the 3 parts into rows so the classifier sees ONE distinct
    term column (the reference's global distinct set, :322-335), then
    repivots back to columns.
    """
    parts = (
        terms.unpivot(["doc_id", "pos", *PARTS], list(PARTS), "part", "term")
        .where("length(term) > 0")
        # pivot output columns are named after the part VALUES; prefix
        # them so they don't collide with the main/midsub/sub key cols
        .withColumn("part", F.expr("concat('p_', part)"))
    )
    labeled = classify_terms(parts, classifier, known_entities=known).withColumn(
        # person terms render via convert_name (json_classification.py:80-92)
        "term_display",
        F.expr(f"CASE WHEN label = 'person' THEN {convert_name_sql('term')} ELSE term END"),
    )
    pivoted = (
        labeled.groupBy("doc_id", "pos", *PARTS)
        .pivot("part", [f"p_{p}" for p in PARTS])
        .agg(F.expr("first(struct(term_display AS term, label AS type))"))
    )

    # empty part → {term: '', type: 'term'} placeholder; NULL obj only
    # happens for empty raws (filtered above)
    def term_obj(part: str) -> str:
        obj = f"p_{part}"
        uri = f"CASE WHEN {obj}.type != 'term' THEN {generate_uri_sql(f'{obj}.term')} END"
        return (
            f"CASE WHEN length({part}) > 0 THEN "
            f"struct({obj}.term AS term, {obj}.type AS type, {uri} AS uri) END AS {part}"
        )

    return pivoted.selectExpr("doc_id", "pos", *[term_obj(p) for p in PARTS])


def build_document_graph(docs: DataFrame, classified: DataFrame):
    """K5/K6/K7: nodes + edges DataFrames (json_to_db.py:78-127
    re-expressed set-wise; ~13 serial txns/doc → 2 bulk writes).

    nodes(label, key, name); edges(src, dst, rel_type) where Document
    src/dst keys are doc ids and entity keys are URIs / term text.

    Each classified main term maps to its node and ``HAS_*`` edge
    through operators/graph.py's ``term_node``/``has_edge``, the one
    copy of the reference's dispatch: any type outside person/place/
    organization — including NULL and unknown strings — is the
    else-branch plain index term (json_to_db.py:118-119), keyed by TERM
    TEXT with a (d)-[:HAS_TERM]->(t) edge, even when the staged JSON
    carries a stored uri for it.

    Reference quirk, reproduced bug-for-bug: relate_sub_term
    (json_to_db.py:63-69) MATCHes the parent as
    ``(p:<ParentType> {term: $parent_term})``, but typed nodes are
    MERGEd with only ``name``/``uri`` properties (create_person/place/
    organization, :16-32) — the MATCH yields zero rows for any typed
    parent, so the Cypher MERGEs after it never run: midsub/sub EDGES
    exist only under Term parents, and every MIDSUB/SUB edge is
    Term → Term. The sub term NODES always exist (the separate
    create_term call at :122,:126 runs unconditionally).

    Each table is two generator passes: one ``inline`` over ``docs``
    (Document, Person, Place and Date rows) and one over ``classified``
    (the main term and its midsub/sub children), unioned and deduped.
    """
    def row(label: str, key: str, name: str, rel: str | None) -> str:
        rel = f"'{rel}'" if rel else "CAST(NULL AS STRING)"
        return f"struct('{label}' AS label, {key} AS key, {name} AS name, {rel} AS rel)"

    def present(rows: list[str]) -> str:
        # conditional rows are NULL when their condition fails
        return f"filter(array({', '.join(rows)}), r -> r IS NOT NULL)"

    # convert_name runs in the classification stage (json_classification
    # .py:233-237), BEFORE the URI stage hashes the name (generate_uri
    # .py:50-53) — so reference Person nodes carry the converted
    # 'First Last' name and the URI hashes the converted string.
    # A NULL array (JSON ingest surface) contributes no names, and NULL
    # name ELEMENTS (possible only on the JSON ingest surface — from_xml
    # yields '' for empty <author/> tags) are dropped: the reference
    # crashes there (convert_name does `',' in None`,
    # json_classification.py:51), and the staged path's classify stage
    # drops them too — emitting a NULL-key Person node would diverge
    # from both (r10 review). Empty-STRING names pass through: the
    # reference MERGEs a Person with name '' and uri hash('').
    def people(col: str, rel: str) -> str:
        names = (
            f"transform(filter(coalesce({col}, {NO_NAMES}), n -> n IS NOT NULL), "
            f"n -> {convert_name_sql('n')})"
        )
        return f"transform({names}, n -> {row('Person', generate_uri_sql('n'), 'n', rel)})"

    def dated(col: str, rel: str) -> str:
        return f"CASE WHEN {col} IS NOT NULL AND length({col}) > 0 THEN {row('Date', col, col, rel)} END"

    loc = "location_name"
    place = row("Place", generate_uri_sql(loc), loc, "LOCATION")
    # Pass 1: one row per Document, Person, Place and Date node of each
    # document; every row but the Document's also carries its edge.
    fixed = present(
        [
            row("Document", "doc_id", "coalesce(title, doc_id)", None),
            f"CASE WHEN {loc} IS NOT NULL THEN {place} END",
            dated("date_from", "DATE_FROM"),
            dated("date_to", "DATE_TO"),
        ]
    )
    doc_rows = docs.selectExpr(
        "doc_id",
        f"inline(concat({fixed}, {people('authors', 'AUTHOR')}, {people('recipients', 'RECIPIENT')}))",
    )
    # AUTHOR/RECIPIENT and create_relationship's LOCATION (json_to_db.py:
    # 46-52) MERGE (e)-[:REL]->(d), entity → document; DATE_FROM/DATE_TO
    # point document → date.
    doc_edges = doc_rows.where("rel IS NOT NULL").selectExpr(
        "CASE WHEN label = 'Date' THEN doc_id ELSE key END AS src",
        "CASE WHEN label = 'Date' THEN key ELSE doc_id END AS dst",
        "rel AS rel_type",
    )

    # Pass 2: one row per classified term. The main entity's canonical
    # label, node label and key are computed once, before the inlines.
    mains = (
        classified.where("main IS NOT NULL")
        .selectExpr("doc_id", "main", "midsub", "sub", f"{canonical_label('main.type')} AS canon")
        .selectExpr(
            "doc_id",
            "midsub",
            "sub",
            "canon",
            # typed entities' stored uri, re-derived when the staged JSON
            # lacks one (generate_uri is deterministic, so coalesce == stored)
            *term_node("canon", "main.term", f"coalesce(main.uri, {generate_uri_sql('main.term')})"),
        )
    )
    children = ("midsub", "sub")
    child_nodes = [
        f"CASE WHEN {c} IS NOT NULL THEN struct('Term' AS label, {c}.term AS key, {c}.term AS name) END"
        for c in children
    ]
    term_nodes = mains.selectExpr(f"inline({present(['struct(label, key, name)', *child_nodes])})")
    # relate_sub_term (json_to_db.py:63-69, :121-127): sub term NODES
    # are always MERGEd (create_term, keyed by term text) but the
    # MIDSUB/SUB EDGES only materialize under Term parents — see the
    # quirk note in the docstring. Both edges hang off the MAIN term
    # (relate_sub_term gets term['term'] as the parent for midsub and
    # sub alike), matched by term text.
    main_edge = f"struct({', '.join(has_edge('canon', 'key', 'doc_id'))})"
    child_edges = [
        f"CASE WHEN {c} IS NOT NULL AND canon = 'term' THEN "
        f"struct(key AS src, {c}.term AS dst, '{c.upper()}' AS rel_type) END"
        for c in children
    ]
    term_edges = mains.selectExpr(f"inline({present([main_edge, *child_edges])})")

    nodes = doc_rows.select("label", "key", "name").unionByName(term_nodes)
    edges = doc_edges.unionByName(term_edges)
    return nodes.distinct(), edges.distinct()


def graph_from_documents(
    docs: DataFrame, classifier: Classifier
) -> tuple[DataFrame, DataFrame]:
    """Canonical documents → graph tables: term extraction, known
    entities, classification and graph construction.

    The documents and the classified terms are each materialized once
    (lazy local checkpoints) and both tables read them, so each distinct
    term is classified once (json_classification.py:322-335). Under AQE
    classification runs here, when this is called; the table writes
    only project and dedup."""
    docs = docs.localCheckpoint(eager=False)
    terms = extract_terms(docs)
    known = known_entities_from_docs(docs)
    classified = classify_document_terms(terms, known, classifier).localCheckpoint(
        eager=False
    )
    return build_document_graph(docs, classified)


def run_pipeline(
    spark: SparkSession, xml_path: str, classifier: Classifier
) -> tuple[DataFrame, DataFrame]:
    """The whole reference pipeline: XML → graph tables, parsed and
    classified once, when this is called (see graph_from_documents)."""
    return graph_from_documents(read_documents_xml(spark, xml_path), classifier)
