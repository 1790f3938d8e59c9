"""The term → graph mapping — the reference's Neo4j sink re-expressed as
Column expressions.

Reference parity (json_to_db.py:104-127): each
classified term is dispatched by ONE rule. Person, place and
organization become typed nodes keyed by URI with an entity → document
``HAS_*`` edge; everything else becomes a ``Term`` keyed by its text
with a document → term ``HAS_TERM`` edge. The helpers below are that
rule and its only copy: ``plans/pipeline.py build_document_graph`` and
the graph-sink queries (q61/q62/q77) select them over their own rows,
then deduplicate set-wise, which reproduces MERGE idempotency
(SURVEY.md §3.3). The dynamic f-string edge labels (:47-51, :63-67)
become a fixed rel_type column.

Node labels: Document/Person/Place/Organization/Term (json_to_db.py:
7-44); edge types HAS_PERSON/HAS_PLACE/HAS_ORGANIZATION/HAS_TERM
(:104-119).
"""

from __future__ import annotations

from pyspark.sql import functions as F

# The reference's type dispatch (json_to_db.py:104-119) is an
# if/elif over person/place/organization with an unconditional
# ``else`` that files the entity as a plain index term — so NULL and
# unknown labels are INDEX TERMS there, never a typed entity. The
# classify operator coalesces its output onto the four known labels,
# but rows reaching the graph from elsewhere (staged JSON, direct
# callers) used to leak NULL labels through ``label == 'term'``
# three-valued logic: NULL rel_type edges pointing entity→doc with a
# term-text key (r9 review triage, fixed r10). canonical_label pins
# the reference policy AT this boundary: anything outside the three
# typed labels — 'term', an unknown string, or NULL — is 'term'.
TYPED_LABELS = ("person", "place", "organization")


def canonical_label(label_col: F.Column) -> F.Column:
    """NULL-safe label canonicalization to the reference's dispatch
    domain: person/place/organization pass through, everything else
    (including NULL and unknown labels) is a plain index 'term' —
    json_to_db.py:104-119's ``else`` branch."""
    return F.when(label_col.isin(*TYPED_LABELS), label_col).otherwise(
        F.lit("term")
    )


def term_node(canon: F.Column, term: F.Column, uri: F.Column) -> list[F.Column]:
    """``label, name, key`` of a term's node, given its canonical label
    and the URI the URI stage gives it (generate_uri.py:43-45).

    Typed entities are keyed by that URI. Plain terms are keyed by
    their text, even when a URI exists: create_term and
    relate_index_term key by text alone (json_to_db.py:34-38, 54-60)."""
    return [
        F.when(canon == "person", "Person")
        .when(canon == "place", "Place")
        .when(canon == "organization", "Organization")
        .otherwise("Term")
        .alias("label"),
        term.alias("name"),
        F.when(canon == "term", term).otherwise(uri).alias("key"),
    ]


def has_edge(canon: F.Column, key: F.Column, doc: F.Column) -> list[F.Column]:
    """``src, dst, rel_type`` of a term's ``HAS_*`` edge, given its
    canonical label and node key. Typed entities point AT the document
    — (e)-[:HAS_PERSON|HAS_PLACE|HAS_ORGANIZATION]->(d) via
    create_relationship (json_to_db.py:46-52) — while plain terms hang
    off it — (d)-[:HAS_TERM]->(t) via relate_index_term (:54-60)."""
    is_term = canon == "term"
    return [
        F.when(is_term, doc).otherwise(key).alias("src"),
        F.when(is_term, key).otherwise(doc).alias("dst"),
        F.concat(F.lit("HAS_"), F.upper(canon)).alias("rel_type"),
    ]
