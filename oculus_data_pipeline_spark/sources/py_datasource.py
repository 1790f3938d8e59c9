"""Custom Python DataSource for the reference's XML corpus layout.

Spark 4's Python DataSource API (pyspark.sql.datasource) is the
engine-native way to build the connector the reference implements as a
driver script loop (run_pipeline.py:34-77 walks a directory, parses
each file, schedules per-file work on a ProcessPoolExecutor). Here the
same layout becomes a first-class `spark.read.format(...)` source:

- **Split planning**: `partitions()` lists the XML files ONCE on the
  driver and emits one `InputPartition` per file — exactly the
  reference's unit of work, but scheduled by Spark across executors
  (locality, retries, speculative execution come free).
- **Executor-side reads**: each partition re-opens only its own file
  and yields one row per `<document>` element: (path, doc_xml). The
  per-document XML is re-serialized verbatim; ALL field extraction is
  delegated to Spark's built-in `from_xml` downstream, so parsing
  stays in the JVM and the Python source is pure I/O + splitting.
- **No pushdown** (documented): `pushFilters` keeps every filter in
  Spark; file pruning would go in `partitions()` if a path predicate
  were ever needed.

`read_documents_xml_pyds` composes the source with `from_xml` +
the same normalization projection as the native reader
(plans/pipeline.py:read_documents_xml) — the golden test pins
row-for-row parity between the two ingest paths.

At 100 TB: one partition per file matches the reference's layout of
many medium files; for huge single files the native splittable XML
scan (plans/pipeline.py) is the right tool — this source is the
custom-connector escape hatch for layouts Spark has no reader for.

Deployment contract (explicit, r4 advisor note): ``partitions()``
lists files on the DRIVER with ``os.scandir`` and executors re-open
the same paths with plain ``open()`` — so driver and executors must
share a POSIX view of the directory (local disk in local mode, NFS /
fuse-mounted object store on a cluster). For object stores without a
mount, the native XML scan path (Hadoop FS) is the right reader.
Listing is RECURSIVE (``**/*.xml``); per-file memory on the executor
is bounded by ``ET.iterparse`` with element eviction — one
``<document>`` subtree at a time, not the whole file, so a 10 GB file
of small documents streams through a constant-memory partition.
(Eviction clears BOTH the yielded subtree and the root's child list —
``elem.clear()`` alone leaves a shell per document reachable from the
root, O(#documents) growth, r5 advisor note. Constant memory holds
for the flat root/<document> layout this source targets; documents
nested under deeper intermediate containers would still accumulate
shells on that container for the file's duration.)
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

RAW_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("doc_xml", T.StringType()),
    ]
)


class _XmlFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class XmlDirReader(DataSourceReader):
    def __init__(self, options: dict):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("oculus_xmldir requires a path option")

    def partitions(self) -> Sequence[InputPartition]:
        # recursive: nested corpus layouts (year/month/… dirs) are one
        # logical dataset, same as the native reader's glob. A single
        # .xml file path is accepted directly (parity with handing the
        # native reader one file).
        if os.path.isfile(self.dir):
            return [_XmlFilePartition(self.dir)]
        files: list[str] = []
        for cur, _dirs, names in os.walk(self.dir):
            files.extend(
                os.path.join(cur, f) for f in names if f.endswith(".xml")
            )
        if not files:
            # a typo'd/unmounted path otherwise reads as a silently
            # EMPTY dataset — the worst failure mode for an ingest
            # connector (the native glob reader raises too) (r10 review)
            raise ValueError(
                f"oculus_xmldir: no .xml files under {self.dir!r} "
                f"(path missing, unmounted, or empty)"
            )
        return [_XmlFilePartition(p) for p in sorted(files)]

    def read(self, partition: _XmlFilePartition) -> Iterator[tuple]:
        # executor-side: split the file into per-document XML snippets;
        # no field extraction here (that stays in JVM from_xml).
        # iterparse + clear() keeps memory at one <document> subtree,
        # not the whole file: once a document's end-tag is seen the
        # subtree is serialized, yielded, then evicted — the depth
        # counter yields only TOP-LEVEL documents, so eviction never
        # drops a document that is still being parsed. Clearing the
        # yielded element alone is not enough: the ROOT keeps a child
        # reference to every cleared element shell (and to any
        # non-document top-level subtrees), growing O(#documents) per
        # file (r5 advisor note) — so the root is captured on its
        # start event and its children are dropped after each yielded
        # document, which releases shells AND interleaved non-document
        # siblings already behind the parse cursor.
        depth = 0
        root = None
        for event, elem in ET.iterparse(partition.path, events=("start", "end")):
            if event == "start":
                if root is None:
                    root = elem
                if elem.tag == "document" and depth == 0:
                    depth = 1
                elif depth:
                    # (the root can never reach this arm: its start
                    # event is the only one at depth 0 with root unset,
                    # handled above — no identity guard needed)
                    depth += 1
            else:
                if depth:
                    depth -= 1
                    if depth == 0 and elem.tag == "document":
                        yield (
                            partition.path,
                            ET.tostring(elem, encoding="unicode"),
                        )
                        elem.clear()
                        del root[:]


class XmlDirDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "oculus_xmldir"

    def schema(self) -> str:
        return "path string, doc_xml string"

    def reader(self, schema) -> DataSourceReader:
        return XmlDirReader(self.options)


def register(spark: SparkSession) -> None:
    spark.dataSource.register(XmlDirDataSource)


def read_documents_xml_pyds(spark: SparkSession, path: str) -> DataFrame:
    """The custom-source ingest path: oculus_xmldir → from_xml →
    the SAME normalization as plans/pipeline.py:read_documents_xml
    (``_canonical_documents``).
    Golden-pinned to match the native XML scan row for row."""
    from ..plans.pipeline import DOCUMENT_XML_SCHEMA, _canonical_documents

    register(spark)
    raw = spark.read.format("oculus_xmldir").option("path", path).load()
    parsed = raw.select(
        F.from_xml("doc_xml", DOCUMENT_XML_SCHEMA).alias("d")
    ).select("d.*")
    return _canonical_documents(parsed)
