"""Seeded, single-process generator for the TEI-style XML corpus.

Shape follows FIXTURES.md §1 (one ``<root>`` of repeated ``<document>``
elements per file). The properties the pipeline's behaviour depends on
are produced on purpose:

- index terms are drawn from a Zipf vocabulary, so distinct terms are a
  small share of term occurrences;
- some main terms normalize-collide with an author, recipient or place
  (the known-entity skip and precedence paths);
- parenthetical parts, and empty or absent midsub/sub values;
- duplicate triples within one document (first-wins dedup);
- ``Last, First`` names, some with title keywords, some without comma;
- about 20% of documents have no location.

Everything is a pure function of the seed: the same seed writes
byte-identical files. ``Corpus.expected`` holds the counts the graph must
show (Document nodes and AUTHOR/RECIPIENT/LOCATION/DATE_* edges).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

SYLLABLES = [
    "ba", "ben", "car", "dal", "der", "fen", "gar", "hol", "ist", "jon",
    "kel", "lan", "mor", "nel", "or", "pen", "quin", "ros", "san", "ter",
    "ul", "van", "wil", "yor", "zel", "ash", "bro", "cla", "dun", "eve",
]
FIRST_NAMES = [
    "Thomas", "John", "Abigail", "Martha", "James", "Alexander", "Mercy",
    "Benjamin", "Samuel", "Dolley", "Henry", "Elizabeth", "Patrick", "Anne",
]
TITLES = ["Sir", "Baron", "Dr.", "Count", "Lord", "Duchess", "Marquis de"]
PUBLICATIONS = ["Founders Papers", "Colonial Letters", "State Records"]
PUBLISHERS = ["University Press", "Historical Society", "National Archives"]
FORMATS = ["letter", "manuscript", "transcript", "print"]
SUFFIXES = ["(1776)", "(ed.)", "(draft)", "(see also)"]

VOCAB_SIZE = 1500
ZIPF_S = 1.1
PERSONS = 240
PLACES = 60


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 3)))


def _unique_words(rng: random.Random, n: int, build) -> list[str]:
    seen: dict[str, None] = {}
    while len(seen) < n:
        seen.setdefault(build(rng), None)
    return list(seen)


@dataclass
class Pools:
    vocab: list[str]
    cum_weights: list[float]
    persons: list[str]
    places: list[str]

    @classmethod
    def make(cls, rng: random.Random) -> "Pools":
        vocab = _unique_words(
            rng,
            VOCAB_SIZE,
            lambda r: " ".join(_word(r).capitalize() for _ in range(r.randint(1, 3))),
        )
        cum, acc = [], 0.0
        for rank in range(1, VOCAB_SIZE + 1):
            acc += 1.0 / rank**ZIPF_S
            cum.append(acc)
        lasts = _unique_words(rng, PERSONS, lambda r: _word(r).capitalize())
        persons = []
        for i, last in enumerate(lasts):
            first = f"{FIRST_NAMES[i % len(FIRST_NAMES)]} {chr(65 + i // len(FIRST_NAMES) % 26)}."
            if i % 10 == 3:
                persons.append(f"{last}, {TITLES[i // 10 % len(TITLES)]} {first}")
            elif i % 10 == 7:
                persons.append(last)  # mononym, no comma: convert_name passthrough
            else:
                persons.append(f"{last}, {first}")
        places = _unique_words(rng, PLACES, lambda r: f"{_word(r).capitalize()} {rng.choice(['Hall', 'Town', 'Harbor', 'Hill'])}")
        return cls(vocab, cum, persons, places)

    def term(self, rng: random.Random) -> str:
        return rng.choices(self.vocab, cum_weights=self.cum_weights)[0]


@dataclass
class Expected:
    documents: int = 0
    AUTHOR: int = 0
    RECIPIENT: int = 0
    LOCATION: int = 0
    DATE_FROM: int = 0
    DATE_TO: int = 0
    duplicate_triples: int = 0
    collisions: int = 0

    def edge_counts(self) -> dict[str, int]:
        return {k: getattr(self, k) for k in ("AUTHOR", "RECIPIENT", "LOCATION", "DATE_FROM", "DATE_TO")}


def _collide(rng: random.Random, names: list[str]) -> str:
    """A main term whose normalized form equals one of the document's own
    authors, recipients or place: same name, other case and spacing."""
    return "  ".join(rng.choice(names).upper().split(" "))


def _part(rng: random.Random, pools: Pools) -> str | None:
    """A midsub/sub value: empty, absent, or a vocabulary term."""
    r = rng.random()
    if r < 0.35:
        return ""
    if r < 0.55:
        return None
    return pools.term(rng)


def _document(rng: random.Random, pools: Pools, doc_id: str, exp: Expected) -> str:
    exp.documents += 1
    authors = rng.sample(pools.persons, rng.randint(1, 2))
    recipients = rng.sample(pools.persons, rng.randint(0, 2))
    exp.AUTHOR += len(authors)
    exp.RECIPIENT += len(recipients)
    year = rng.randint(1760, 1830)
    date_from = f"{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    date_to = "" if rng.random() < 0.3 else f"{year + rng.randint(0, 2)}-{rng.randint(1, 12):02d}-01"
    exp.DATE_FROM += 1
    exp.DATE_TO += bool(date_to)
    place = rng.choice(pools.places) if rng.random() >= 0.2 else None
    exp.LOCATION += place is not None
    entities = authors + recipients + ([place] if place else [])

    triples: list[tuple[str, str | None, str | None]] = []
    for _ in range(rng.randint(3, 12)):
        if triples and rng.random() < 0.1:
            triples.append(rng.choice(triples))
            exp.duplicate_triples += 1
            continue
        if rng.random() < 0.08:
            main = _collide(rng, entities)
            exp.collisions += 1
        else:
            main = pools.term(rng)
        if rng.random() < 0.15:
            main = f"{main} {rng.choice(SUFFIXES)}"
        triples.append((main, _part(rng, pools), _part(rng, pools)))

    def el(tag: str, value: str | None) -> str:
        return "" if value is None else f"<{tag}>{escape(value)}</{tag}>"

    terms = "".join(
        f"<indexTerm>{el('main', m)}{el('midsub', ms)}{el('sub', s)}</indexTerm>"
        for m, ms, s in triples
    )
    formats = "".join(el("type", f) for f in rng.sample(FORMATS, rng.randint(1, 2)))
    title = f"{pools.term(rng)} to {recipients[0]}" if recipients else pools.term(rng)
    return (
        "<document>"
        f"{el('documentID', doc_id)}{el('documentTitle', title)}"
        "<projectInfo>"
        f"{el('publicationName', rng.choice(PUBLICATIONS))}"
        f"{el('seriesName', 'Series ' + str(rng.randint(1, 9)))}"
        f"{el('volumeInfo', 'Vol. ' + str(rng.randint(1, 40)))}"
        f"{el('publisher', rng.choice(PUBLISHERS))}"
        f"<formats>{formats}</formats>"
        "</projectInfo>"
        f"<authors>{''.join(el('author', a) for a in authors)}</authors>"
        f"<recipients>{''.join(el('recipient', r) for r in recipients)}</recipients>"
        f"<dates>{el('date-from', date_from)}{el('date-to', date_to)}</dates>"
        + (f"<location>{el('placeName', place)}</location>" if place else "")
        + f"<repositories>{el('repository', 'Repository ' + str(rng.randint(1, 5)))}</repositories>"
        f"<indexing>{terms}</indexing>"
        "</document>\n"
    )


@dataclass
class Batch:
    """One set of XML files: the bulk corpus or one increment."""

    files: dict[str, bytes]
    expected: Expected

    @property
    def input_bytes(self) -> int:
        return sum(len(b) for b in self.files.values())

    def write(self, directory: str) -> None:
        os.makedirs(directory, exist_ok=True)
        for name, data in self.files.items():
            with open(os.path.join(directory, name), "wb") as f:
                f.write(data)


@dataclass
class Corpus:
    """The bulk corpus plus the increments, all from one seed."""

    bulk: Batch
    increments: list[Batch] = field(default_factory=list)


def _batch(rng: random.Random, pools: Pools, prefix: str, files: int, docs_per_file: int) -> Batch:
    exp = Expected()
    out = {}
    for f in range(files):
        docs = "".join(
            _document(rng, pools, f"{prefix}-{f:03d}-{d:03d}", exp) for d in range(docs_per_file)
        )
        out[f"{prefix}-{f:03d}.xml"] = f"<root>\n{docs}</root>\n".encode()
    return Batch(out, exp)


def generate(seed: int, files: int, docs_per_file: int, increments: int = 0) -> Corpus:
    """``files`` bulk files and ``increments`` one-file increments, each
    file holding ``docs_per_file`` documents."""
    rng = random.Random(seed)
    pools = Pools.make(rng)
    bulk = _batch(rng, pools, "doc", files, docs_per_file)
    incs = [_batch(rng, pools, f"inc{i:03d}", 1, docs_per_file) for i in range(increments)]
    return Corpus(bulk, incs)
