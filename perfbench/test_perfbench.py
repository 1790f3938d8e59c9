"""The benchmark's own checks: seeded inputs are reproducible and have
the properties the workloads rely on, and BENCHMARK.json names exactly
the metrics the benchmark reports.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import xml.etree.ElementTree as ET

import corpus
import metrics
import tables
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _norm(s: str) -> str:
    # normalize_term: collapse whitespace, trim, lowercase
    return re.sub(r"\s+", " ", s).strip().lower()


def _docs(batch):
    for data in batch.files.values():
        yield from ET.fromstring(data).iter("document")


def test_same_seed_same_bytes():
    a = corpus.generate(7, 3, 20, increments=2)
    b = corpus.generate(7, 3, 20, increments=2)
    assert a.bulk.files == b.bulk.files
    assert [i.files for i in a.increments] == [i.files for i in b.increments]
    assert corpus.generate(8, 3, 20).bulk.files != a.bulk.files


def test_corpus_properties():
    c = corpus.generate(workloads.CORPUS_SEED, workloads.FILES, workloads.DOCS_PER_FILE)
    docs = list(_docs(c.bulk))
    exp = c.bulk.expected
    assert len(docs) == exp.documents == workloads.FILES * workloads.DOCS_PER_FILE

    mains = [t.findtext("main") for d in docs for t in d.iter("indexTerm")]
    # Zipf vocabulary: distinct terms are a small share of occurrences
    assert len(set(mains)) < 0.5 * len(mains)
    # parentheticals, and empty midsub/sub values
    assert any(re.search(r"\(.*?\)", m) for m in mains)
    assert any(t.text is None for d in docs for t in d.iter("midsub"))
    assert any(t.text is None for d in docs for t in d.iter("sub"))
    # duplicate triples within one document
    dup = 0
    for d in docs:
        triples = [
            (t.findtext("main"), t.findtext("midsub"), t.findtext("sub"))
            for t in d.iter("indexTerm")
        ]
        dup += len(triples) - len(set(triples))
    assert dup >= exp.duplicate_triples > 0

    people = {p.text for d in docs for tag in ("author", "recipient") for p in d.iter(tag)}
    places = {p.text for d in docs for p in d.iter("placeName")}
    # `Last, First` names, with title keywords, and some without comma
    assert any(", " in p for p in people)
    assert any("," not in p for p in people)
    assert any(re.search(r", (Sir|Baron|Dr\.|Count|Lord|Duchess|Marquis de) ", p) for p in people)
    # main terms that normalize-collide with a known entity
    known = {_norm(p) for p in people | places}
    stripped = [re.sub(r"\(.*?\)", "", m) for m in mains]
    assert sum(_norm(m) in known for m in stripped) >= exp.collisions > 0
    # about 20% of documents have no location
    no_loc = sum(d.find("location") is None for d in docs) / len(docs)
    assert 0.1 < no_loc < 0.3
    assert exp.LOCATION == sum(d.find("location") is not None for d in docs)


def test_tables_reproducible():
    a = tables.make_tables(5, 300)
    b = tables.make_tables(5, 300)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)


def test_benchmark_json_matches_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: v["unit"] for k, v in metrics.PER_LAYER.items()
    }
