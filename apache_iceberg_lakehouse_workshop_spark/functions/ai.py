"""AI column functions — the reference's custom-function surface (SURVEY §2.10).

Re-expresses Dremio's ``AI_GENERATE / AI_CLASSIFY / AI_COMPLETE``
(`/root/reference/industry-examples/logistics_AI.sql:126-141,188-198,220-240`,
``ai_generate.sql:5-23``, ``media_ai.sql:94-178``) as Arrow-batched pandas
UDFs with a pluggable backend:

- ``MockBackend`` — deterministic keyword rules, reproducible in plain SQL,
  used by tests and the correctness oracle (the default).
- ``HttpBackend`` — the production path: JSON-over-HTTP requests batched per
  Arrow batch with bounded concurrency, optional rate pacing, retry with
  exponential backoff, and NULL-on-failure outputs (rate limiting lives in
  the backend, not the plan).

Design constraints carried over from the reference: AI functions run in the
silver layer and their outputs are materialized once (CTAS), never recomputed
per downstream query (``logistics_AI.sql:253-256``); ``ai_generate`` coerces
output into a typed struct exactly like ``WITH SCHEMA ROW(...)``
(``logistics_AI.sql:135-140``) and returns NULL fields on parse failure
rather than raising.

Scale: pandas_udf => one Python worker per core per executor, Arrow transfer,
vectorized batches. The UDFs are stateless and map-only — they scale linearly
and never shuffle.
"""

from __future__ import annotations

import base64
import json
import re
import threading
import time
import urllib.error
import urllib.request
from typing import Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import dialect

# --------------------------------------------------------------- tokenizer
# Must stay in lockstep with operators/textstats.normalized_text so SQL
# oracles can replicate mock outputs exactly.

_NONALPHA = re.compile(r"[^a-z ]")
_SPACES = re.compile(r" +")


def _norm_tokens(text: str) -> list[str]:
    t = _SPACES.sub(" ", _NONALPHA.sub(" ", (text or "").lower())).strip()
    return [w for w in t.split(" ") if w] if t else []


# --------------------------------------------------------------- backends


class MockBackend:
    """Deterministic keyword-rule 'LLM' (SURVEY §5: mock backend so AI
    functions are reproducible; rules chosen to be SQL-expressible)."""

    def classify(self, texts: pd.Series, labels: list[str]) -> pd.Series:
        def one(t: str) -> str:
            toks = _norm_tokens(t)
            best, best_n = "Unknown", 0
            for lab in labels:  # first label wins ties
                n = sum(1 for w in toks if w == lab.lower())
                if n > best_n:
                    best, best_n = lab, n
            return best

        return texts.map(one)

    def complete(self, prompts: pd.Series) -> pd.Series:
        return prompts.map(lambda p: f"echo[{len(p or '')}]:" + (p or "").strip()[:16].upper())

    def embed(self, texts: pd.Series, dim: int = 32) -> pd.Series:
        """Deterministic feature-hashing embedding (signed token counts):
        token w lands in bucket md5('emb:'||w)[:8] % dim with sign from the
        9th hex digit's parity. Integer-valued components — exact in
        float32, exact under the similarity family's x*1000 quantization,
        and replicable in plain SQL (the ai4 oracle recomputes it in
        DuckDB), which is the whole point of a mock embedding model."""
        import hashlib

        def one(t):
            if t is None:
                return None
            v = [0.0] * dim
            for w in _norm_tokens(t):
                h = hashlib.md5(f"emb:{w}".encode()).hexdigest()
                bucket = int(h[:8], 16) % dim
                v[bucket] += 1.0 if int(h[8], 16) % 2 == 0 else -1.0
            return v

        return texts.map(one)

    def generate(self, prompts: pd.Series, fields: list[tuple[str, str]]) -> pd.DataFrame:
        """Typed-struct extraction. Field rules (deterministic, chosen to be
        replicable in plain SQL for oracle/golden tests):
        - summary: first 5 normalized tokens joined by ' '
        - n_words: token count
        - sentiment: 'positive'/'negative'/'neutral' by fast-vs-slow counts
        - primary_issue: first of Traffic/Weather/Access/Mechanical/Customer
          whose keyword appears in the text, else 'None'
          (logistics_AI.sql:131 closed set)
        - issue_category: Delay / Damage / 'Delay and Damage' / None from
          delay|late and damage|damaged keyword hits (logistics_AI.sql:132)
        - estimated_delay_minutes: first integer literal in the text, else 0
        - requires_apology: upset or damage mentioned, or delay > 30 min
          (logistics_AI.sql:134 rule, mock-deterministic)
        """
        out: dict[str, list] = {name: [] for name, _ in fields}
        for p in prompts:
            # instruction/payload split: when the prompt embeds its document
            # after a 'NOTES:' marker (logistics_AI.sql:126-134 prompt
            # shape), analyze only the document — otherwise the instruction
            # text's own keywords would dominate every row
            low = (p or "").lower()
            body = p[low.rindex("notes:") + 6 :] if "notes:" in low else p
            toks = _norm_tokens(body)
            tokset = set(toks)
            delay = bool({"delay", "delayed", "late"} & tokset)
            damage = bool({"damage", "damaged"} & tokset)
            delay_min_m = re.search(r"\d+", body or "")
            delay_min = int(delay_min_m.group(0)) if delay_min_m else 0
            for name, _typ in fields:
                if name == "summary":
                    out[name].append(" ".join(toks[:5]))
                elif name == "n_words":
                    out[name].append(len(toks))
                elif name == "sentiment":
                    pos = sum(1 for w in toks if w == "fast")
                    neg = sum(1 for w in toks if w == "slow")
                    out[name].append(
                        "positive" if pos > neg else ("negative" if neg > pos else "neutral")
                    )
                elif name == "primary_issue":
                    hit = next(
                        (
                            lab
                            for lab in ("Traffic", "Weather", "Access", "Mechanical", "Customer")
                            if lab.lower() in tokset
                        ),
                        "None",
                    )
                    out[name].append(hit)
                elif name == "issue_category":
                    out[name].append(
                        "Delay and Damage"
                        if delay and damage
                        else ("Delay" if delay else ("Damage" if damage else "None"))
                    )
                elif name == "estimated_delay_minutes":
                    out[name].append(delay_min if delay else 0)
                elif name == "requires_apology":
                    out[name].append(
                        ("upset" in tokset) or damage or (delay and delay_min > 30)
                    )
                else:  # unknown field -> NULL (schema-coercion failure contract)
                    out[name].append(None)
        return pd.DataFrame(out)

    def generate_file(
        self, prompts: pd.Series, payloads: pd.Series, fields: list[tuple[str, str]]
    ) -> pd.DataFrame:
        """Multimodal extraction (AI2). Deterministic field rules over the
        raw bytes so outputs are test-pinnable without real decoders:
        - content_bytes: payload length
        - digest: first 8 hex chars of the payload's md5
        - summary: same rule as generate(), over the prompt text
        """
        import hashlib

        out: dict[str, list] = {name: [] for name, _ in fields}
        for p, payload in zip(prompts, payloads):
            raw = bytes(payload) if payload is not None else b""
            toks = _norm_tokens(p)
            for name, _typ in fields:
                if name == "content_bytes":
                    out[name].append(len(raw))
                elif name == "digest":
                    out[name].append(hashlib.md5(raw).hexdigest()[:8])
                elif name == "summary":
                    out[name].append(" ".join(toks[:5]))
                else:
                    out[name].append(None)
        return pd.DataFrame(out)


class _RateLimiter:
    """Thread-safe pacing: each acquire() reserves the next send slot at
    1/rps spacing and sleeps until it. Per Python worker process — with W
    workers per executor and E executors, configure
    requests_per_second = cluster_budget / (W * E)."""

    def __init__(self, rps: float):
        self.interval = 1.0 / rps
        self._next = 0.0
        self._lock = threading.Lock()

    def acquire(self) -> None:
        with self._lock:
            now = time.monotonic()
            slot = max(self._next, now)
            self._next = slot + self.interval
        if slot > now:
            time.sleep(slot - now)


# WITH SCHEMA ROW(...) type spelling -> python-side coercion; anything that
# does not coerce becomes NULL (the mock's NULL-on-parse-failure contract).
def _coerce_field(val, typ: str):
    if val is None:
        return None
    try:
        if typ in ("int", "integer", "bigint"):
            if isinstance(val, bool):
                return None
            return int(val)
        if typ == "double":
            if isinstance(val, bool):
                return None
            return float(val)
        if typ == "boolean":
            if isinstance(val, bool):
                return val
            if isinstance(val, str):
                return {"true": True, "false": False}.get(val.strip().lower())
            return None
        # string/varchar: scalars stringify; structured values are a schema
        # violation -> NULL
        if isinstance(val, str):
            return val
        if isinstance(val, (int, float)) and not isinstance(val, bool):
            return str(val)
        return None
    except (ValueError, TypeError, OverflowError):
        return None


class HttpBackend:
    """Production LLM backend: JSON-over-HTTP, batched per Arrow batch.

    The missing half of the AI surface the reference exercises against live
    models (logistics_AI.sql:126-141, media_ai.sql:229-257): the plan stays
    identical to the mock's (stateless map-only pandas UDFs), only the
    backend object swaps via ``set_backend``. Wire protocol is a single
    batch endpoint the serving side implements:

        POST <url>   {"task": "classify"|"complete"|"generate"|"generate_file",
                      "items": [...],            # one entry per row
                      "labels": [...],           # classify only
                      "schema": [{"name": n, "type": t}, ...]}  # generate*
        -> 200       {"results": [...]}          # len == len(items)

    For ``generate*`` each result must be a JSON object; the client coerces
    fields to the WITH SCHEMA ROW types and NULLs anything that does not
    coerce — the server is asked for schema-constrained output, but the
    contract survives a server that ignores the ask.

    Scale/robustness design (the parts that matter on a 1000-executor run):

    - **Batching**: rows are chunked ``batch_size`` per request, chunks sent
      by a bounded thread pool (``max_concurrency``) — many small HTTP
      round-trips, not one giant payload, and never a request per row.
    - **Rate limiting**: optional ``requests_per_second`` token pacing,
      per worker process (divide the cluster budget by worker count).
    - **Retry + null-on-failure**: transient failures (HTTP 5xx/429,
      timeouts, malformed or length-mismatched responses) retry with
      exponential backoff; a chunk that still fails resolves to NULL
      outputs for its rows. An AI column never fails the job — identical
      to the mock's NULL-on-parse-failure contract, and the only sane
      behavior when row 7 billion of a backfill hits a flaky gateway.
    - **Picklable**: instances ship inside UDF closures to executors;
      locks/limiters are rebuilt lazily per worker process.

    NULL prompts never reach the wire: they produce NULL outputs directly.
    """

    def __init__(
        self,
        url: str,
        *,
        batch_size: int = 32,
        max_concurrency: int = 4,
        requests_per_second: float | None = None,
        timeout: float = 30.0,
        retries: int = 2,
        backoff: float = 0.25,
        headers: dict[str, str] | None = None,
        deadline: float | None = None,
        breaker_threshold: int | None = 8,
        breaker_cooldown: float = 30.0,
    ):
        if batch_size < 1:
            raise ValueError(f"batch_size must be >= 1, got {batch_size}")
        if max_concurrency < 1:
            raise ValueError(f"max_concurrency must be >= 1, got {max_concurrency}")
        self.url = url
        self.batch_size = batch_size
        self.max_concurrency = max_concurrency
        self.requests_per_second = requests_per_second
        self.timeout = timeout
        self.retries = retries
        self.backoff = backoff
        self.headers = dict(headers or {})
        # total wall-clock budget per CHUNK including retries+backoff: a
        # slow-dying gateway costs at most `deadline` seconds per chunk,
        # not retries × timeout
        self.deadline = deadline
        # circuit breaker (per worker process): after `breaker_threshold`
        # CONSECUTIVE chunk failures, fail fast to NULL for
        # `breaker_cooldown` seconds instead of paying retries × chunks
        # against a dead endpoint; one success closes the circuit. None
        # disables.
        self.breaker_threshold = breaker_threshold
        self.breaker_cooldown = breaker_cooldown
        self._limiter = None
        self._limiter_lock = threading.Lock()
        self._breaker_lock = threading.Lock()
        self._fail_streak = 0
        self._breaker_open_until = 0.0

    # -- pickling: executors rebuild runtime-only state lazily
    def __getstate__(self):
        state = self.__dict__.copy()
        state["_limiter"] = None
        state["_limiter_lock"] = None
        state["_breaker_lock"] = None
        state["_fail_streak"] = 0
        state["_breaker_open_until"] = 0.0
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._limiter_lock = threading.Lock()
        self._breaker_lock = threading.Lock()

    # -- circuit breaker
    def _breaker_is_open(self) -> bool:
        if self.breaker_threshold is None:
            return False
        with self._breaker_lock:
            return time.monotonic() < self._breaker_open_until

    def _breaker_record(self, ok: bool) -> None:
        if self.breaker_threshold is None:
            return
        with self._breaker_lock:
            if ok:
                self._fail_streak = 0
            else:
                self._fail_streak += 1
                if self._fail_streak >= self.breaker_threshold:
                    self._breaker_open_until = (
                        time.monotonic() + self.breaker_cooldown
                    )
                    self._fail_streak = 0

    def _get_limiter(self):
        if self.requests_per_second is None:
            return None
        with self._limiter_lock:
            if self._limiter is None:
                self._limiter = _RateLimiter(self.requests_per_second)
            return self._limiter

    # -- one HTTP round-trip with retry; None on final failure
    def _post(self, payload: dict, n_items: int):
        import random

        body = json.dumps(payload).encode()
        limiter = self._get_limiter()
        stop = None if self.deadline is None else time.monotonic() + self.deadline
        for attempt in range(self.retries + 1):
            if stop is not None and time.monotonic() >= stop:
                return None  # chunk budget exhausted: NULL, don't keep paying
            if limiter is not None:
                limiter.acquire()
            timeout = self.timeout
            if stop is not None:
                timeout = max(0.01, min(timeout, stop - time.monotonic()))
            try:
                req = urllib.request.Request(
                    self.url,
                    data=body,
                    headers={"Content-Type": "application/json", **self.headers},
                    method="POST",
                )
                with urllib.request.urlopen(req, timeout=timeout) as resp:
                    results = json.loads(resp.read()).get("results")
                if isinstance(results, list) and len(results) == n_items:
                    return results
            except (urllib.error.URLError, OSError, ValueError):
                pass  # transient or malformed -> retry below
            if attempt < self.retries:
                # jittered exponential backoff: a fleet of workers retrying
                # a flapped gateway must not re-synchronize into waves
                sleep = self.backoff * (2**attempt) * random.uniform(0.5, 1.5)
                if stop is not None:
                    sleep = min(sleep, max(0.0, stop - time.monotonic()))
                time.sleep(sleep)
        return None

    def _run_chunks(self, items: list, build_payload):
        """Chunk items, POST concurrently, return per-item results
        (None-filled for failed chunks), order preserved."""
        chunks = [
            items[i : i + self.batch_size] for i in range(0, len(items), self.batch_size)
        ]
        if not chunks:
            return []

        def one(chunk):
            if self._breaker_is_open():
                return [None] * len(chunk)  # fail fast: endpoint known dead
            got = self._post(build_payload(chunk), len(chunk))
            self._breaker_record(got is not None)
            return got if got is not None else [None] * len(chunk)

        if len(chunks) == 1:
            parts = [one(chunks[0])]
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(self.max_concurrency, len(chunks))
            ) as pool:
                parts = list(pool.map(one, chunks))
        return [r for part in parts for r in part]

    # -- the backend interface (mirrors MockBackend)
    def classify(self, texts: pd.Series, labels: list[str]) -> pd.Series:
        idx = [i for i, t in enumerate(texts) if t is not None]
        got = self._run_chunks(
            [texts.iloc[i] for i in idx],
            lambda chunk: {"task": "classify", "items": chunk, "labels": labels},
        )
        out = [None] * len(texts)
        allowed = set(labels)
        for i, r in zip(idx, got):
            # closed label set is enforced client-side: an answered-but-
            # out-of-set response is 'Unknown'; a failed chunk stays NULL
            out[i] = r if r in allowed else ("Unknown" if r is not None else None)
        return pd.Series(out, index=texts.index, dtype=object)

    def complete(self, prompts: pd.Series) -> pd.Series:
        idx = [i for i, p in enumerate(prompts) if p is not None]
        got = self._run_chunks(
            [prompts.iloc[i] for i in idx],
            lambda chunk: {"task": "complete", "items": chunk},
        )
        out = [None] * len(prompts)
        for i, r in zip(idx, got):
            out[i] = r if isinstance(r, str) else None
        return pd.Series(out, index=prompts.index, dtype=object)

    def _generate_rows(self, task, items, idx, n, fields, extra=None):
        schema_payload = [{"name": name, "type": typ} for name, typ in fields]
        got = self._run_chunks(
            items,
            lambda chunk: {"task": task, "items": chunk, "schema": schema_payload,
                           **(extra or {})},
        )
        out: dict[str, list] = {name: [None] * n for name, _ in fields}
        for i, r in zip(idx, got):
            if not isinstance(r, dict):
                continue  # failed chunk or non-object response -> NULL row
            for name, typ in fields:
                out[name][i] = _coerce_field(r.get(name), typ)
        return pd.DataFrame(out)

    def generate(self, prompts: pd.Series, fields: list[tuple[str, str]]) -> pd.DataFrame:
        idx = [i for i, p in enumerate(prompts) if p is not None]
        return self._generate_rows(
            "generate", [prompts.iloc[i] for i in idx], idx, len(prompts), fields
        )

    def embed(self, texts: pd.Series, dim: int = 32) -> pd.Series:
        idx = [i for i, t in enumerate(texts) if t is not None]
        got = self._run_chunks(
            [texts.iloc[i] for i in idx],
            lambda chunk: {"task": "embed", "items": chunk, "dim": dim},
        )
        out = [None] * len(texts)
        for i, r in zip(idx, got):
            # malformed/failed responses (wrong length, non-numeric) -> NULL
            if (
                isinstance(r, list)
                and len(r) == dim
                and all(isinstance(x, (int, float)) for x in r)
            ):
                out[i] = [float(x) for x in r]
        return pd.Series(out, index=texts.index, dtype=object)

    def generate_file(
        self, prompts: pd.Series, payloads: pd.Series, fields: list[tuple[str, str]]
    ) -> pd.DataFrame:
        idx = [i for i in range(len(prompts)) if prompts.iloc[i] is not None]
        items = [
            {
                "prompt": prompts.iloc[i],
                "file_b64": base64.b64encode(
                    bytes(payloads.iloc[i]) if payloads.iloc[i] is not None else b""
                ).decode(),
            }
            for i in idx
        ]
        return self._generate_rows("generate_file", items, idx, len(prompts), fields)


_BACKEND: object = MockBackend()


def set_backend(backend) -> None:
    """Swap the LLM backend (default: MockBackend; prod: HttpBackend or any
    object with the same four methods). The backend is captured into each AI
    column/UDF at construction time and shipped to executors by value, so
    swap it BEFORE building columns or translating SQL; already-registered
    SQL UDFs are re-registered on next use."""
    global _BACKEND
    _BACKEND = backend
    # force SQL-surface re-registration so named UDFs capture the new backend
    _REGISTERED_SESSIONS.clear()
    _GENERATE_UDFS.clear()


# --------------------------------------------------------------- columns


def ai_classify(text: Column, labels: list[str]) -> Column:
    """AI_CLASSIFY(text, ARRAY[...]) -> closed-label StringType column
    (recipes.sql:18; ai_classify_examples.sql:31-35; logistics_AI.sql:188-198).
    The label set is enforced: output is one of ``labels`` or 'Unknown'."""
    backend = _BACKEND  # captured by value -> ships to executors in the closure

    @F.pandas_udf(StringType())
    def _udf(s: pd.Series) -> pd.Series:
        return backend.classify(s, labels)

    return _udf(text)


def ai_complete(prompt: Column) -> Column:
    """AI_COMPLETE(prompt) -> free-text VARCHAR ('intentionally simple',
    logistics_AI.sql:213,220-240)."""
    backend = _BACKEND

    @F.pandas_udf(StringType())
    def _udf(s: pd.Series) -> pd.Series:
        return backend.complete(s)

    return _udf(prompt)


def ai_embed(text: Column, dim: int = 32) -> Column:
    """AI_EMBED(text) -> array<float> embedding column (engine extension:
    the reference's AI family lacks an embedding function, but it is the
    feature that joins the AI surface to the similarity-search family —
    ai_embed -> knn_* / embedding near-dup is semantic dedup end-to-end).
    Backend-pluggable like the other AI functions: MockBackend is a
    deterministic SQL-replicable feature-hash model, HttpBackend POSTs
    {"task": "embed", "items": [...], "dim": N} batches."""
    backend = _BACKEND

    @F.pandas_udf(ArrayType(FloatType()))
    def _udf(s: pd.Series) -> pd.Series:
        return backend.embed(s, dim)

    return _udf(text)


_TYPE_MAP = {"string": StringType(), "int": IntegerType()}

# SQL-side type spellings for WITH SCHEMA ROW(...) (logistics_AI.sql:135-140)
_SQL_TYPE_MAP = {
    "varchar": StringType(),
    "string": StringType(),
    "int": IntegerType(),
    "integer": IntegerType(),
    "boolean": BooleanType(),
    "bigint": LongType(),
    "double": DoubleType(),
}


def ai_generate(prompt: Column, schema: list[tuple[str, str]]) -> Column:
    """AI_GENERATE(prompt WITH SCHEMA ROW(f1 T1, ...)) -> StructType column
    (logistics_AI.sql:126-141; ai_generate.sql:5-23). ``schema`` is a list of
    (field_name, 'string'|'int') pairs; unparseable fields come back NULL."""
    spark_schema = StructType([StructField(n, _TYPE_MAP[t]) for n, t in schema])
    backend = _BACKEND

    @F.pandas_udf(spark_schema)
    def _udf(s: pd.Series) -> pd.DataFrame:
        return backend.generate(s, schema)

    return _udf(prompt)


# ------------------------------------------------------------- SQL surface
#
# The reference calls the AI functions from SQL (recipes.sql:18
# AI_CLASSIFY(text, ARRAY[...]); logistics_AI.sql:126-141 AI_GENERATE(...
# WITH SCHEMA ROW(...)); logistics_AI.sql:220-240 AI_COMPLETE). AI_CLASSIFY
# and AI_COMPLETE register directly as named pandas UDFs; AI_GENERATE's
# return type depends on its ROW schema, so the dialect layer calls
# rewrite_ai_generate() to register a per-schema UDF on the fly and rewrite
# the call site to it.

_REGISTERED_SESSIONS: set[int] = set()
_GENERATE_UDFS: set[str] = set()


def register_sql_udfs(spark) -> None:
    """Register AI_CLASSIFY / AI_COMPLETE for SQL use (idempotent)."""
    key = id(spark)
    if key in _REGISTERED_SESSIONS:
        return
    _REGISTERED_SESSIONS.add(key)
    backend = _BACKEND

    @F.pandas_udf(StringType())
    def _classify_sql(text: pd.Series, labels: pd.Series) -> pd.Series:
        # labels arrive PER ROW on the SQL path (almost always one ARRAY
        # literal per query): group the Arrow batch by distinct label-set
        # and classify each group in ONE backend call, so the HTTP backend
        # keeps its batching instead of degrading to a POST per row
        groups: dict[tuple | None, list[int]] = {}
        vals = list(labels)
        for i in range(len(vals)):
            labs = vals[i]
            key = None if labs is None else tuple(str(x) for x in labs)
            groups.setdefault(key, []).append(i)
        out: list = [None] * len(vals)
        texts = list(text)
        for key, positions in groups.items():
            label_list = [] if key is None else list(key)
            res = backend.classify(
                pd.Series([texts[p] for p in positions]), label_list
            )
            for j, p in enumerate(positions):
                out[p] = res.iloc[j]
        return pd.Series(out)

    @F.pandas_udf(StringType())
    def _complete_sql(prompt: pd.Series) -> pd.Series:
        return backend.complete(prompt)

    @F.pandas_udf(ArrayType(FloatType()))
    def _embed_sql(text: pd.Series, dim: pd.Series) -> pd.Series:
        # dim is contractually a literal; take the first non-null value
        d = next((int(x) for x in dim if x is not None), 32)
        return backend.embed(text, d)

    spark.udf.register("AI_CLASSIFY", _classify_sql)
    spark.udf.register("AI_COMPLETE", _complete_sql)
    spark.udf.register("AI_EMBED", _embed_sql)


_WITH_SCHEMA_ROW = re.compile(r"\bWITH\s+SCHEMA\s+ROW\s*\(", re.I)
_AI_GENERATE_CALL = re.compile(r"\bAI_GENERATE\s*\(", re.I)


_MODEL_ARG = re.compile(r"^'[^']*'\s*,\s*")


def rewrite_ai_generate(spark, sql: str) -> str:
    """Rewrite every ``AI_GENERATE(prompt WITH SCHEMA ROW(f T, ...))`` call
    to a per-schema registered struct UDF call ``ai_generate_<digest>
    (prompt)``. Schema-less AI_GENERATE calls pass through untouched (they
    are plain text generation — treated as AI_COMPLETE semantics).

    Two multimodal shapes route to the 2-arg file UDF (prompt, bytes):
    ``AI_GENERATE((prompt, file) WITH SCHEMA ...)`` (ai_generate.sql:7-17)
    and ``AI_GENERATE('model', (prompt, file) WITH SCHEMA ...)``
    (media_ai.sql:233-245; the model-name argument selects a backend in
    Dremio — our backend is process-global, so it is accepted and
    dropped)."""
    import hashlib

    out = sql
    pos = 0
    while True:
        m = _AI_GENERATE_CALL.search(out, pos)
        if m is None:
            return out
        open_idx = m.end() - 1
        close_idx = dialect.matching_close(out, open_idx)
        call_body = out[open_idx + 1 : close_idx]
        sm = _WITH_SCHEMA_ROW.search(call_body)
        if sm is None:
            pos = close_idx + 1
            continue
        prompt_expr = call_body[: sm.start()].strip()
        row_open = sm.end() - 1
        row_close = dialect.matching_close(call_body, row_open)
        fields = []
        for item in dialect.split_top(call_body[row_open + 1 : row_close], ","):
            name, _, typ = item.strip().partition(" ")
            typ = typ.strip().lower()
            if typ not in _SQL_TYPE_MAP:
                raise ValueError(f"WITH SCHEMA ROW: unsupported type {typ!r}")
            fields.append((name, typ))
        digest = hashlib.md5(repr(fields).encode()).hexdigest()[:8]
        schema = StructType([StructField(n, _SQL_TYPE_MAP[t]) for n, t in fields])

        # multimodal tuple form: [optional 'model',] (prompt, file)
        mm2 = _MODEL_ARG.match(prompt_expr)
        body_expr = prompt_expr[mm2.end() :].strip() if mm2 else prompt_expr
        file_args = None
        if (
            body_expr.startswith("(")
            and dialect.matching_close(body_expr, 0) == len(body_expr) - 1
        ):
            items = dialect.split_top(body_expr[1:-1], ",")
            if len(items) == 2:
                file_args = items

        if file_args is not None:
            udf_name = f"ai_generate_file_{digest}"
            if udf_name not in _GENERATE_UDFS:

                def _make_file(fields_t: tuple, backend=None):
                    backend = backend if backend is not None else _BACKEND

                    @F.pandas_udf(schema)
                    def _generate_file_sql(
                        prompts: pd.Series, payloads: pd.Series
                    ) -> pd.DataFrame:
                        return backend.generate_file(prompts, payloads, list(fields_t))

                    return _generate_file_sql

                spark.udf.register(udf_name, _make_file(tuple(fields)))
                _GENERATE_UDFS.add(udf_name)
            fexpr = file_args[1]
            if not re.fullmatch(r"[\w.]+", fexpr):
                fexpr = f"({fexpr})"
            call = f"{udf_name}({file_args[0]}, {fexpr}.content)"
        else:
            udf_name = f"ai_generate_{digest}"
            if udf_name not in _GENERATE_UDFS:

                def _make(fields_t: tuple, backend=None):
                    # closure factory: pandas_udf requires type hints on every
                    # parameter, so the field list cannot ride as a default arg
                    backend = backend if backend is not None else _BACKEND

                    @F.pandas_udf(schema)
                    def _generate_sql(prompts: pd.Series) -> pd.DataFrame:
                        return backend.generate(prompts, list(fields_t))

                    return _generate_sql

                spark.udf.register(udf_name, _make(tuple(fields)))
                _GENERATE_UDFS.add(udf_name)
            call = f"{udf_name}({prompt_expr})"
        out = out[: m.start()] + call + out[close_idx + 1 :]
        pos = m.start() + len(udf_name)


def ai_generate_file(prompt: Column, content: Column, schema: list[tuple[str, str]]) -> Column:
    """AI_GENERATE('model', (prompt, file) WITH SCHEMA ROW(...)) — the
    multimodal variant: prompt + file bytes → typed struct
    (ai_generate.sql:5-23; logistics_AI.sql:328-358; media_ai.sql:229-257).

    Runs over ``LIST_FILES``/binaryFile rows (``sources.list_files``): the
    ``content`` column is the file payload Dremio passes as the ``file``
    handle (SURVEY §1.2). The mock backend derives deterministic fields from
    the bytes (length/digest prefix) so tests pin exact outputs; a real
    backend uploads the bytes alongside the JSON-schema-constrained prompt.
    Arrow-batched and map-only like every AI function — the bytes never
    shuffle."""
    spark_schema = StructType([StructField(n, _TYPE_MAP[t]) for n, t in schema])
    backend = _BACKEND

    @F.pandas_udf(spark_schema)
    def _udf(prompts: pd.Series, payloads: pd.Series) -> pd.DataFrame:
        return backend.generate_file(prompts, payloads, schema)

    return _udf(prompt, content)
