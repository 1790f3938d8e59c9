"""Term classification — the reference's LLM NER stage, productionized.

Reference parity (/root/reference/json_classification.py):
- distinct-before-enrichment (:322-335) and known-entity skip
  (:121-123, 258-262) are preserved as *library structure*: the public
  operator hard-codes ``distinct → left-anti known → classify → union
  known → broadcast join back``. Catalyst will never insert a dedup
  around an expensive/nondeterministic stage, so the shape lives here
  (SURVEY.md §4).
- the classifier itself is pluggable (reference ``test_mode``,
  :106-110): Echo (deterministic rule — used by all correctness
  checks), MockReplay (saved JSONL request/response fixtures, the
  reference's replay format :11-37, :195-212), OpenAIBatch (real API,
  gated behind an import-try; never in the correctness path).

At 100 TB the expensive stage sees only |distinct terms − known|
rows — the whole point of the shape.
"""

from __future__ import annotations

import json
from typing import Iterator, Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..functions.text import normalize_term

LABELS = ["person", "place", "organization", "term"]


class Classifier(Protocol):
    """Maps a DataFrame of (norm_term) to (norm_term, label)."""

    def classify(self, terms: DataFrame) -> DataFrame: ...


class EchoClassifier:
    """Deterministic rule-based classifier: label = LABELS[md5(term) % 4].

    Pure JVM expression — used for every oracle-checked query (the
    SQL equivalent embeds the same md5 arithmetic).
    """

    def classify(self, terms: DataFrame) -> DataFrame:
        hit = " ".join(f"WHEN idx = {i} THEN '{lab}'" for i, lab in enumerate(LABELS) if i)
        return terms.select("norm_term", (md5_int("norm_term") % 4).alias("idx")).selectExpr(
            "norm_term", f"CASE {hit} ELSE '{LABELS[0]}' END AS label"
        )


class MockReplayClassifier:
    """Replays saved request/response JSONL (the reference's test_mode
    fixture format: requests keyed by custom_id with the term in the
    user message; responses at response.body.choices[0].message.content
    → JSON {"classification": label})."""

    def __init__(self, requests_path: str, responses_path: str):
        self.requests_path = requests_path
        self.responses_path = responses_path

    def classify(self, terms: DataFrame) -> DataFrame:
        spark = terms.sparkSession
        reqs = spark.read.json(self.requests_path)
        resps = spark.read.json(self.responses_path)
        req_terms = reqs.select(
            F.col("custom_id"),
            normalize_term("element_at(body.messages, -1).content").alias("norm_term"),
        )
        resp_labels = resps.select(
            F.col("custom_id"),
            F.lower(
                F.get_json_object(
                    F.col("response.body.choices")[0]["message"]["content"],
                    "$.classification",
                )
            ).alias("label"),
        )
        # Two custom_ids can carry the SAME normalized term (the
        # reference enumerates raw terms; distinct raw spellings can
        # normalize together). The reference's term_to_label_dict is a
        # dict comprehension in task order (json_classification.py:
        # 341-344 over the insertion-ordered input_dict), so the LAST
        # task wins — reproduced here via max_by on the task index;
        # without the dedup the broadcast join would fan out every
        # matching corpus row (r10 review). Non-reference custom_ids
        # without a trailing integer yield NULL task_n (regexp_extract
        # '' → try_cast NULL — plain cast CRASHES under ANSI mode,
        # Spark 4 default; NULL sorts lowest inside the struct), so
        # the tie-break falls back to the lexicographically last
        # custom_id instead of an arbitrary pick (r10 advice).
        task_n = F.regexp_extract("custom_id", r"(\d+)$", 1).try_cast("long")
        labels = (
            req_terms.join(resp_labels, "custom_id")
            .groupBy("norm_term")
            .agg(
                F.max_by(
                    "label",
                    F.struct(task_n.alias("t"), F.col("custom_id").alias("c")),
                ).alias("label")
            )
        )
        return (
            terms.join(F.broadcast(labels), "norm_term", "left")
            .select("norm_term", F.coalesce("label", F.lit("term")).alias("label"))
        )


class BatchTransport(Protocol):
    """The four remote calls of the reference's Batch API flow
    (json_classification.py:160-192), isolated so tests inject a fake
    and production uses the OpenAI client. All methods may raise;
    the classifier retries with bounded backoff."""

    def upload_file(self, content: bytes) -> str:
        """files.create(purpose='batch') → file id."""
        ...

    def create_batch(self, input_file_id: str) -> str:
        """batches.create(endpoint='/v1/chat/completions',
        completion_window='24h') → batch id."""
        ...

    def get_batch(self, batch_id: str) -> tuple[str, str | None]:
        """batches.retrieve → (status, output_file_id or None)."""
        ...

    def download_file(self, file_id: str) -> bytes:
        """files.content → raw result JSONL bytes."""
        ...


class OpenAITransport:
    """Production transport; requires the ``openai`` package."""

    def __init__(self, api_key: str | None = None):  # pragma: no cover
        try:
            from openai import OpenAI
        except ImportError as e:
            raise NotImplementedError(
                "OpenAITransport requires the 'openai' package; "
                "use EchoClassifier or MockReplayClassifier instead"
            ) from e
        self._client = OpenAI(api_key=api_key)

    def upload_file(self, content: bytes) -> str:  # pragma: no cover
        import io

        return self._client.files.create(
            file=io.BytesIO(content), purpose="batch"
        ).id

    def create_batch(self, input_file_id: str) -> str:  # pragma: no cover
        return self._client.batches.create(
            input_file_id=input_file_id,
            endpoint="/v1/chat/completions",
            completion_window="24h",
        ).id

    def get_batch(self, batch_id: str) -> tuple[str, str | None]:  # pragma: no cover
        b = self._client.batches.retrieve(batch_id)
        return b.status, getattr(b, "output_file_id", None)

    def download_file(self, file_id: str) -> bytes:  # pragma: no cover
        return self._client.files.content(file_id).content


#: Compact restatement of the reference's NER instruction
#: (json_classification.py:289-298): classify one term per request as
#: PERSON / PLACE / ORGANIZATION / TERM, JSON object out.
BATCH_SYSTEM_PROMPT = (
    "You are an NER system that classifies terms into PERSON, PLACE, "
    "ORGANIZATION, or TERM. Return a json object of the form "
    '{"classification": string} for the provided term.'
)


class OpenAIBatchClassifier:
    """The reference's actual Batch API flow (json_classification.py:
    95-217), productionized: build request JSONL → (K3) audit-write →
    upload → batches.create(completion_window='24h') → poll → download
    → (K4) audit-write raw results → parse → labels.

    Faithfulness + scale notes:
    - custom_id is ``task-{index}`` over the enumerated term list,
      exactly the reference's scheme (:128), and the audit files use
      the reference's ``batch_tasks_*/batch_results_*`` JSONL shapes —
      so a run with ``audit_dir`` set produces fixtures that
      MockReplayClassifier (the reference's ``test_mode``) replays
      directly.
    - The Batch API is a file-upload API (one JSONL ≤ 50k requests per
      job), so orchestration is inherently driver-side; terms stream
      through ``toLocalIterator`` in bounded chunks (never a full
      ``collect``), one batch job per chunk, all jobs polled together.
      By the distinct→anti-known shape of :func:`classify_terms`, the
      rows reaching this stage are |distinct unknown terms|, not
      corpus rows.
    - Transient transport errors retry with bounded exponential
      backoff; a terminally failed batch raises rather than silently
      dropping labels.

    Never used in correctness checks (Echo/MockReplay are).
    """

    def __init__(
        self,
        model: str = "gpt-4o-mini",
        temperature: float = 0.1,
        api_key: str | None = None,
        transport: BatchTransport | None = None,
        audit_dir: str | None = None,
        audit_name: str = "batch",
        max_requests_per_batch: int = 50_000,
        poll_interval: float = 5.0,
        max_retries: int = 3,
        sleep=None,
    ):
        self.model = model
        self.temperature = temperature
        self.api_key = api_key
        self.transport = transport
        self.audit_dir = audit_dir
        self.audit_name = audit_name
        self.max_requests_per_batch = max_requests_per_batch
        self.poll_interval = poll_interval
        self.max_retries = max_retries
        if sleep is None:
            import time

            sleep = time.sleep
        self.sleep = sleep

    # -- request building (reference task shape, json_classification.py:126-148)

    def _task(self, index: int, term: str) -> dict:
        return {
            "custom_id": f"task-{index}",
            "method": "POST",
            "url": "/v1/chat/completions",
            "body": {
                "model": self.model,
                "temperature": self.temperature,
                "response_format": {"type": "json_object"},
                "messages": [
                    {"role": "system", "content": BATCH_SYSTEM_PROMPT},
                    {"role": "user", "content": term},
                ],
            },
        }

    def _with_retries(self, fn, *args):
        delay = 1.0
        for attempt in range(self.max_retries + 1):
            try:
                return fn(*args)
            except Exception:
                if attempt == self.max_retries:
                    raise
                self.sleep(delay)
                delay *= 2

    def _audit_write(self, suffix: str, content: bytes) -> None:
        if self.audit_dir is None:
            return
        import os

        os.makedirs(self.audit_dir, exist_ok=True)
        path = os.path.join(self.audit_dir, f"{suffix}_{self.audit_name}.jsonl")
        mode = "ab" if os.path.exists(path) else "wb"
        with open(path, mode) as f:
            f.write(content)

    def classify(self, terms: DataFrame) -> DataFrame:
        transport = self.transport or OpenAITransport(self.api_key)
        spark = terms.sparkSession

        # 1. stream distinct terms driver-side in bounded chunks and
        #    submit one batch job per <=50k-request JSONL file
        jobs: list[tuple[str, dict[str, str]]] = []  # (batch_id, custom_id→term)
        chunk: list[str] = []
        index = 0

        def submit(chunk_terms: list[str], start: int) -> None:
            tasks = [
                self._task(start + i, t) for i, t in enumerate(chunk_terms)
            ]
            payload = ("\n".join(json.dumps(t) for t in tasks) + "\n").encode()
            self._audit_write("batch_tasks", payload)  # K3: request audit
            file_id = self._with_retries(transport.upload_file, payload)
            batch_id = self._with_retries(transport.create_batch, file_id)
            jobs.append(
                (batch_id, {t["custom_id"]: c for t, c in zip(tasks, chunk_terms)})
            )

        for row in terms.select("norm_term").toLocalIterator():
            chunk.append(row["norm_term"])
            if len(chunk) >= self.max_requests_per_batch:
                submit(chunk, index)
                index += len(chunk)
                chunk = []
        if chunk:
            submit(chunk, index)

        # 2. poll every job to a terminal state (reference loop :178-186)
        results: list[tuple[str, str]] = []
        for batch_id, id_to_term in jobs:
            while True:
                status, output_file_id = self._with_retries(
                    transport.get_batch, batch_id
                )
                if status in ("completed", "failed", "expired", "cancelled"):
                    break
                self.sleep(self.poll_interval)
            if status != "completed" or output_file_id is None:
                raise RuntimeError(f"batch {batch_id} ended in status {status!r}")
            raw = self._with_retries(transport.download_file, output_file_id)
            self._audit_write("batch_results", raw)  # K4: raw result audit
            for line in raw.decode().splitlines():
                if not line.strip():
                    continue
                entry = json.loads(line)
                term = id_to_term.get(entry["custom_id"])
                if term is None:
                    continue
                content = entry["response"]["body"]["choices"][0]["message"][
                    "content"
                ]
                label = str(
                    json.loads(content).get("classification", "term")
                ).lower()
                results.append((term, label))

        # 3. back to a DataFrame; unlabeled terms default to 'term' via
        #    the left join in classify_terms
        labels = spark.createDataFrame(results, "norm_term string, label string")
        return (
            terms.join(labels, "norm_term", "left")
            .select(
                "norm_term", F.coalesce("label", F.lit("term")).alias("label")
            )
        )


def classify_terms(
    terms: DataFrame,
    classifier: Classifier,
    known_entities: DataFrame | None = None,
    term_col: str = "term",
) -> DataFrame:
    """The reference pipeline shape as one lazy plan.

    ``terms``: any DataFrame with a ``term_col`` string column.
    ``known_entities``: optional (norm_term, label) — precedence over
    the classifier (json_classification.py:258-262).

    Returns the input plus (norm_term, label) — unknown → 'term'.
    """
    with_norm = terms.withColumn("norm_term", normalize_term(term_col))
    # NULL terms never reach the classifier: their label could never
    # surface anyway (the join-back below is a null-UNSAFE equi-join,
    # so a NULL row always falls to the 'term' coalesce), and shipping
    # them costs real money/failures in the expensive stage — a NULL
    # user-message content in a Batch API request fails the whole
    # batch job, and on a dirty 100 TB table NULL is often the modal
    # key (r10 review; same policy as the reference, which never
    # enumerates None into terms_to_classify — its isinstance(str)
    # guards at json_classification.py:330-335 skip non-strings).
    distinct_terms = with_norm.select("norm_term").where("norm_term IS NOT NULL").distinct()
    if known_entities is not None:
        known = known_entities.select("norm_term", "label")
        to_classify = distinct_terms.join(F.broadcast(known), "norm_term", "left_anti")
        labels = known.unionByName(classifier.classify(to_classify))
    else:
        labels = classifier.classify(distinct_terms)
    # No broadcast hint on the join-back: ``labels`` is ALL distinct
    # terms (with labels) — at 100 TB that's billions of rows, so a
    # mandatory broadcast would OOM the executors. AQE picks broadcast
    # at runtime whenever the distinct-term set is actually small
    # (the known-entities anti-join above stays hinted because the
    # reference's known set is small by construction).
    return with_norm.join(labels, "norm_term", "left").withColumn(
        "label", F.expr("coalesce(label, 'term')")
    )
