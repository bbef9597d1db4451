"""Extraction frontier (SURVEY.md §2.1 S1-S3): binary document scan +
pluggable text extraction + pluggable LLM structuring.

The reference's extract stage is two external services — a PDF-to-text
API polled per file and an LLM that structures text into JSON
(reference: src/etl/extract.py:111-202), fanned out over a thread
pool. The Spark shape:

- S1: ``spark.read.format("binaryFile")`` scan (one row per PDF:
  path, modificationTime, length, content);
- S2/S3: ``mapInPandas`` stages with a pluggable extractor/structurer
  so tests run hermetically (deterministic fakes) and production swaps
  in real clients without touching the plan. Retries/backoff live
  INSIDE the UDF (Spark task retries handle machine faults; the
  backoff handles service rate limits — same split as the reference).

Rate-limited external services at scale: bound in-flight calls by
partition count (``df.repartition(max_concurrency)``) — one partition
is one serial client loop; do NOT thread inside the UDF.
"""

from __future__ import annotations

import json
import re
import zlib
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TextExtractor = Callable[[bytes], str]
JsonStructurer = Callable[[str], str]


def read_binary_documents(spark: SparkSession, path: str, glob: str = "*.pdf") -> DataFrame:
    """S1: binary folder scan with glob + F5 path validation for free
    (non-matching and non-file paths never enter the DataFrame)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select(
            F.col("path"),
            F.element_at(F.split("path", "/"), -1).alias("filename"),
            F.col("length").alias("n_bytes"),
            F.col("content"),
        )
    )


def fake_text_extractor(content: bytes) -> str:
    """Hermetic S2 stand-in: deterministic pseudo-text derived from the
    payload (real deployments plug pdfplumber/PyPDF2 or an external
    OCR service here; those libs are not in this environment)."""
    return f"FAKE_TEXT len={len(content)} head={content[:16].hex()}"


def _pdf_literal_string(data: bytes, i: int) -> tuple[bytes, int]:
    """Parse a PDF literal string starting at the '(' at ``data[i]``;
    returns (decoded bytes, index past the closing ')'). Handles
    nested parens, the \\-escapes of ISO 32000 §7.3.4.2 (named, octal,
    line-continuation)."""
    assert data[i : i + 1] == b"("
    out = bytearray()
    depth, i = 1, i + 1
    esc = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
           b"(": b"(", b")": b")", b"\\": b"\\"}
    while i < len(data) and depth:
        c = data[i : i + 1]
        if c == b"\\":
            nxt = data[i + 1 : i + 2]
            if nxt in esc:
                out += esc[nxt]
                i += 2
            elif nxt.isdigit():
                j = i + 1
                while j < min(i + 4, len(data)) and data[j : j + 1].isdigit():
                    j += 1
                out.append(int(data[i + 1 : j], 8) & 0xFF)
                i = j
            elif nxt in (b"\n", b"\r"):  # line continuation
                i += 2
                if nxt == b"\r" and data[i : i + 1] == b"\n":
                    i += 1
            else:
                i += 1
        elif c == b"(":
            depth += 1
            out += c
            i += 1
        elif c == b")":
            depth -= 1
            if depth:
                out += c
            i += 1
        else:
            out += c
            i += 1
    return bytes(out), i


def _pdf_content_text(stream: bytes) -> list[str]:
    """Scan one decoded content stream for text-show operators.

    Supports Tj / TJ / ' / \" shows, newlines on Td/TD/T*/ET, literal
    ``(...)`` and hex ``<...>`` strings. Glyph bytes are decoded as
    cp1252 (WinAnsi — the common single-byte encoding); CMap/Type0
    composite fonts are out of scope and simply yield their raw bytes.
    """
    lines: list[str] = [""]
    pending: list[bytes] = []  # string operands since the last operator
    i, n = 0, len(stream)
    token = bytearray()

    def flush_token() -> None:
        nonlocal token
        op = bytes(token)
        token = bytearray()
        if op in (b"Tj", b"'", b'"'):
            if op in (b"'", b'"') and lines[-1]:  # ' and " move to the next line first
                lines.append("")
            if pending:
                lines[-1] += pending[-1].decode("cp1252", errors="replace")
            del pending[:]
        elif op == b"TJ":
            lines[-1] += b"".join(pending).decode("cp1252", errors="replace")
            del pending[:]
        elif op in (b"Td", b"TD", b"T*", b"ET"):
            if lines[-1]:
                lines.append("")
            del pending[:]

    while i < n:
        c = stream[i : i + 1]
        if c == b"(":
            s, i = _pdf_literal_string(stream, i)
            pending.append(s)
        elif c == b"<" and stream[i + 1 : i + 2] != b"<":
            j = stream.find(b">", i)
            j = j if j != -1 else n
            hexs = re.sub(rb"\s", b"", stream[i + 1 : j])
            if len(hexs) % 2:
                hexs += b"0"
            try:
                pending.append(bytes.fromhex(hexs.decode("ascii")))
            except ValueError:
                pass
            i = j + 1
        elif c.isspace() or c in (b"[", b"]", b"/"):
            flush_token()
            i += 1
        else:
            token += c
            i += 1
    flush_token()
    return [ln for ln in lines if ln]


def pdf_text_extractor(content: bytes) -> str:
    """REAL S2 extractor for digitally-born PDFs — pure stdlib (zlib +
    a content-stream scanner), so it is hermetic in this environment.

    The reference extracts text through an external PDF API
    (src/etl/extract.py:111-166) with an offline pdfplumber path in
    notebooks/pdfPlumber.ipynb; this is the equivalent offline path.
    Scope: unencrypted PDFs whose page content streams are plain or
    FlateDecode, with simple (single-byte) fonts — i.e. machine-
    generated fact sheets. Scanned/encrypted/Type0-CMap PDFs raise
    ``ValueError`` (→ retry/quarantine in ``extract_text``, exactly
    like an API failure).
    """
    if not content.startswith(b"%PDF"):
        raise ValueError("not a PDF (missing %PDF header)")
    if b"/Encrypt" in content:
        raise ValueError("encrypted PDF not supported")
    lines: list[str] = []
    for m in re.finditer(rb"<<(.*?)>>\s*stream\r?\n", content, re.S):
        meta = m.group(1)
        start = m.end()
        end = content.find(b"endstream", start)
        if end == -1:
            continue
        # unstripped: compressed bytes may themselves end in CR/LF
        # (zlib ignores the EOL after the stream's end, and the content
        # scanner treats CR/LF as separators)
        raw = content[start:end]
        if b"/FlateDecode" in meta:
            try:
                raw = zlib.decompress(raw)
            except zlib.error:
                continue
        elif b"/Filter" in meta:
            continue  # unsupported filter (DCT images etc.)
        if b"BT" in raw:
            lines.extend(_pdf_content_text(raw))
    if not lines:
        raise ValueError("no extractable text (scanned or unsupported PDF)")
    return "\n".join(lines)


class ServiceError(Exception):
    """The extraction service reported a terminal error for a job
    (the reference's ``status == 'error'`` branch) or rejected a
    submission (rate limiting). One attempt's failure — the adapter
    retries with exponential backoff before quarantining."""


class PollingServiceExtractor:
    """Rate-limited ASYNC-SERVICE text extractor — the engine twin of
    the reference's LLMWhisperer loop (src/etl/extract.py:111-166):
    submit a document, poll its status every ``poll_interval`` seconds
    (5 s there) up to ``max_wait`` (300 s), retrieve on ``processed``,
    raise on ``error``/timeout/empty text, and retry the whole attempt
    up to ``max_retries`` (3) times with ``backoff_base * 2**attempt``
    sleeps between attempts (``time.sleep(2 ** attempt)`` there).

    On top of the reference's per-document semantics it adds the piece
    a Spark task needs: **bounded in-flight pipelining**. The
    reference fans out one thread per file (ThreadPoolExecutor(3));
    inside a Spark task threads would multiply by task parallelism
    and stampede the service, so :meth:`extract_many` instead keeps at
    most ``max_in_flight`` jobs submitted at once and multiplexes
    their polls on ONE clock — global concurrency is then exactly
    ``tasks × max_in_flight``, set by repartitioning upstream.

    ``service`` is duck-typed (hermetic fakes in tests, a real client
    in production):

    * ``submit(content: bytes) -> str`` — returns a job id; may raise
      (e.g. HTTP 429) — counted as an attempt failure with backoff.
    * ``status(job: str) -> dict`` — ``{"state": "processing" |
      "processed" | "error", "error": "..."}``.
    * ``retrieve(job: str) -> str`` — the extracted text.

    ``sleep`` is injectable so the backoff/poll schedule is law-tested
    hermetically (tests record the exact sleep sequence)."""

    def __init__(
        self,
        service,
        poll_interval: float = 5.0,
        max_wait: float = 300.0,
        max_retries: int = 3,
        backoff_base: float = 1.0,
        max_in_flight: int = 3,
        sleep=None,
    ):
        import time as _time

        if max_in_flight < 1:
            raise ValueError("max_in_flight must be >= 1")
        self.service = service
        self.poll_interval = float(poll_interval)
        self.max_wait = float(max_wait)
        self.max_retries = int(max_retries)
        self.backoff_base = float(backoff_base)
        self.max_in_flight = int(max_in_flight)
        self._sleep = sleep if sleep is not None else _time.sleep

    def extract_one(self, content: bytes) -> str:
        """One document, reference semantics exactly; raises on final
        failure (the quarantine wrapper lives in extract_many)."""
        text, err = self.extract_many([content])[0]
        if err is not None:
            raise ServiceError(err)
        return text

    def extract_many(self, contents) -> list[tuple[str | None, str | None]]:
        """Extract a sequence of documents with at most
        ``max_in_flight`` concurrently submitted jobs. Returns one
        ``(text, error)`` pair per input, in order — a document that
        exhausts its retries yields ``(None, message)`` instead of
        raising (bad records must not kill a 100 TB job; quarantine
        downstream, same contract as ``extract_text``).

        Scheduling: each loop turn tops up free slots with eligible
        documents (a failed attempt becomes eligible again only after
        its backoff expires), polls every in-flight job once, then
        sleeps one ``poll_interval`` if anything is still running —
        so a single document's status-check/sleep schedule is exactly
        the reference loop's, and a full batch costs ~one document's
        wall time per ``max_in_flight`` documents rather than being
        serial."""
        from collections import deque

        n = len(contents)
        results: list[tuple[str | None, str | None]] = [(None, None)] * n
        #: (doc index, attempt number, eligible-at virtual time)
        pending = deque((i, 0, 0.0) for i in range(n))
        in_flight: dict[str, tuple[int, int, float]] = {}  # job -> (idx, attempt, elapsed)
        now = 0.0  # virtual clock: sum of sleeps this call
        done = 0

        def fail_attempt(idx: int, attempt: int, msg: str) -> None:
            nonlocal done
            if attempt + 1 >= self.max_retries:
                results[idx] = (None, msg)
                done += 1
            else:
                backoff = self.backoff_base * (2**attempt)
                pending.append((idx, attempt + 1, now + backoff))

        while done < n:
            # top up free slots with documents whose backoff expired
            requeue = []
            while pending and len(in_flight) < self.max_in_flight:
                idx, attempt, eligible_at = pending.popleft()
                if eligible_at > now:
                    requeue.append((idx, attempt, eligible_at))
                    continue
                try:
                    job = self.service.submit(bytes(contents[idx]))
                    in_flight[job] = (idx, attempt, 0.0)
                except Exception as e:  # noqa: BLE001 — 429s etc. retry
                    fail_attempt(idx, attempt, f"submit failed: {e}")
            pending.extendleft(reversed(requeue))

            # poll every in-flight job once (status first, sleep after —
            # the reference's loop order, so an instantly-processed job
            # costs zero poll sleeps)
            for job in list(in_flight):
                idx, attempt, elapsed = in_flight[job]
                if elapsed >= self.max_wait:
                    del in_flight[job]
                    fail_attempt(idx, attempt, f"timeout after {self.max_wait}s waiting for extraction")
                    continue
                try:
                    st = self.service.status(job)
                    state = st.get("state")
                    if state == "processed":
                        text = self.service.retrieve(job)
                        del in_flight[job]
                        if text is None or not text.strip():
                            fail_attempt(idx, attempt, "extracted text is empty")
                        else:
                            results[idx] = (text, None)
                            done += 1
                    elif state == "error":
                        del in_flight[job]
                        fail_attempt(idx, attempt, f"service error: {st.get('error', 'unknown')}")
                except Exception as e:  # noqa: BLE001 — poll/retrieve faults retry too
                    in_flight.pop(job, None)
                    fail_attempt(idx, attempt, f"poll failed: {e}")

            if done >= n:
                break
            if in_flight:
                # poll_interval=0 is a hermetic-test convenience (no
                # real sleeping); timeout accounting then advances a
                # 1-second virtual quantum per poll tick so a hanging
                # job still times out instead of spinning forever
                quantum = self.poll_interval if self.poll_interval > 0 else 1.0
                self._sleep(self.poll_interval)
                now += quantum
                in_flight = {
                    job: (idx, attempt, elapsed + quantum)
                    for job, (idx, attempt, elapsed) in in_flight.items()
                }
            elif pending:
                # everything is backing off: sleep exactly to the next
                # eligibility instead of spinning
                wait = max(min(e for _, _, e in pending) - now, 0.0)
                if wait > 0:
                    self._sleep(wait)
                    now += wait
        return results


def extract_text_service(
    df: DataFrame,
    service_factory,
    poll_interval: float = 5.0,
    max_wait: float = 300.0,
    max_retries: int = 3,
    backoff_base: float = 1.0,
    max_in_flight: int = 3,
) -> DataFrame:
    """S2 via an EXTERNAL polling service: the mapInPandas stage that
    runs :class:`PollingServiceExtractor` inside each task —
    ``service_factory`` is a zero-arg picklable callable constructing
    the client ON THE WORKER (clients hold sockets; never close over
    a live one). Output schema and quarantine semantics match
    ``extract_text``. Global service concurrency = partitions ×
    ``max_in_flight``: repartition upstream to the service's rate
    budget (reference parity: ThreadPoolExecutor(3) over one process
    ≙ one partition with the default max_in_flight=3)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        extractor = PollingServiceExtractor(
            service_factory(),
            poll_interval=poll_interval,
            max_wait=max_wait,
            max_retries=max_retries,
            backoff_base=backoff_base,
            max_in_flight=max_in_flight,
        )
        for pdf in batches:
            pairs = extractor.extract_many(list(pdf["content"]))
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "filename": pdf["filename"],
                    "extracted_text": [t for t, _ in pairs],
                    "extract_error": [e for _, e in pairs],
                }
            )

    return df.mapInPandas(
        fn, schema="path string, filename string, extracted_text string, extract_error string"
    )


def fake_json_structurer(text: str) -> str:
    """Hermetic S3 stand-in: wraps the text into the FIC document shape
    the way the LLM prompt enforces it (fence-stripping included in the
    real client; the fake emits clean JSON directly)."""
    return json.dumps({"fic": {"nombre_fic": text[:24], "gestor": None, "custodio": None,
                               "fecha_corte": None, "politica_de_inversion": text}})


def extract_text(
    df: DataFrame,
    extractor: TextExtractor = fake_text_extractor,
    max_retries: int = 3,
) -> DataFrame:
    """S2: content → extracted_text via Arrow-batched mapInPandas.

    Exponential backoff on extractor exceptions, per the reference's
    retry policy (2^n backoff, 3 retries — src/etl/extract.py:122-164);
    a row that exhausts retries gets null text + the error message in
    ``extract_error`` instead of failing the task (bad records must not
    kill a 100 TB job — quarantine downstream).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time

        for pdf in batches:
            texts, errors = [], []
            for content in pdf["content"]:
                err, text = None, None
                for attempt in range(max_retries):
                    try:
                        text = extractor(bytes(content))
                        err = None
                        break
                    except Exception as e:  # noqa: BLE001 — quarantine, don't kill the job
                        err = str(e)
                        time.sleep(min(2**attempt * 0.01, 1.0))
                texts.append(text)
                errors.append(err)
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "filename": pdf["filename"],
                    "extracted_text": texts,
                    "extract_error": errors,
                }
            )

    return df.mapInPandas(
        fn, schema="path string, filename string, extracted_text string, extract_error string"
    )


def structure_json(
    df: DataFrame,
    structurer: JsonStructurer = fake_json_structurer,
    schema=None,
) -> DataFrame:
    """S3: extracted_text → parsed document struct. The structurer
    returns a JSON string (LLM output with fences stripped); parsing
    into the typed schema happens JVM-side via ``from_json``."""
    from owl_etl_spark.schemas import FIC_RAW_SCHEMA

    schema = schema or FIC_RAW_SCHEMA

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for t in pdf["extracted_text"]:
                if t is None:
                    out.append(None)
                    continue
                raw = structurer(t)
                # strip ```json fences the way the reference does
                # (src/etl/extract.py:192-195)
                raw = raw.strip()
                if raw.startswith("```"):
                    raw = raw.strip("`")
                    raw = raw[4:] if raw.startswith("json") else raw
                out.append(raw)
            yield pd.DataFrame({"filename": pdf["filename"], "doc_json": out})

    parsed = df.mapInPandas(fn, schema="filename string, doc_json string")
    return parsed.withColumn("doc", F.from_json("doc_json", schema)).select(
        "filename", "doc.*"
    )
