"""The term → graph mapping — the reference's Neo4j sink re-expressed as
Spark SQL expression text.

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

Each helper takes the SQL text of its inputs and returns SQL text, so
callers splice the rule into one ``selectExpr`` or ``struct(...)``;
the returned ``expr AS name`` items work in both.
"""

from __future__ import annotations

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


def canonical_label(label: str) -> str:
    """NULL-safe label canonicalization to the reference's dispatch
    domain: person/place/organization pass through, everything else
    (including NULL and unknown labels) is a plain index 'term' —
    json_to_db.py:104-119's ``else`` branch."""
    typed = ", ".join(f"'{t}'" for t in TYPED_LABELS)
    return f"CASE WHEN {label} IN ({typed}) THEN {label} ELSE 'term' END"


def term_node(canon: str, term: str, uri: str) -> list[str]:
    """``label, name, key`` of a term's node, given its canonical label
    and the URI the URI stage gives it (generate_uri.py:43-45).

    Typed entities are keyed by that URI. Plain terms are keyed by
    their text, even when a URI exists: create_term and
    relate_index_term key by text alone (json_to_db.py:34-38, 54-60)."""
    labels = " ".join(f"WHEN {canon} = '{t}' THEN '{t.title()}'" for t in TYPED_LABELS)
    return [
        f"CASE {labels} ELSE 'Term' END AS label",
        f"{term} AS name",
        f"CASE WHEN {canon} = 'term' THEN {term} ELSE {uri} END AS key",
    ]


def has_edge(canon: str, key: str, doc: str) -> list[str]:
    """``src, dst, rel_type`` of a term's ``HAS_*`` edge, given its
    canonical label and node key. Typed entities point AT the document
    — (e)-[:HAS_PERSON|HAS_PLACE|HAS_ORGANIZATION]->(d) via
    create_relationship (json_to_db.py:46-52) — while plain terms hang
    off it — (d)-[:HAS_TERM]->(t) via relate_index_term (:54-60)."""
    is_term = f"{canon} = 'term'"
    return [
        f"CASE WHEN {is_term} THEN {doc} ELSE {key} END AS src",
        f"CASE WHEN {is_term} THEN {key} ELSE {doc} END AS dst",
        f"concat('HAS_', upper({canon})) AS rel_type",
    ]
