"""E1 — text -> embedding, Arrow-batched.

The reference embeds ROW-AT-A-TIME over HTTP: one POST to Ollama
(nomic-embed-text, 768-d) per message (``get_embeddings_from_ollama``,
src/rag/dataframes.rs:113-151), the N+1 pattern that defines its throughput
ceiling (BASELINE.md).  Here embedding is a ``mapInPandas`` stage: Arrow
batches of texts per partition, client/model initialized once per executor,
so at 100 TB the embed cost is (rows / batch) round-trips spread over every
executor instead of rows serial round-trips on one thread.

Two embedders:

- ``HashEmbedder`` — deterministic, dependency-free mock (seeded from
  sha256 of the normalized text) used for tests/goldens, mirroring SURVEY
  §5's 'deterministic mock embedder' strategy.
- ``HttpEmbedder`` — the real client (Ollama-compatible endpoint):
  request build, response parse, dim validation, and exponential-backoff
  retry are live code over an injectable ``transport`` seam (default
  urllib POST); offline tests drive it with recorded responses.

Both normalize newlines to spaces first, exactly like the reference
(``text.replace("\\n", " ")``, src/rag/dataframes.rs:120 — P5).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, FloatType, StructField, StructType


def _scrub(text: str | None) -> str:
    return ("" if text is None else text).replace("\n", " ")


class HashEmbedder:
    """Deterministic unit-norm vector derived from the text bytes.

    One shake_256 XOF call per row (dim*4 bytes), bytes -> uint32 ->
    [-1, 1) floats -> L2-normalize.  ~micro-seconds per row; no RNG-object
    construction in the loop."""

    def __init__(self, dim: int = 64):
        self.dim = dim

    def embed_batch(self, texts: list[str]) -> np.ndarray:
        nbytes = self.dim * 4
        raw = np.empty((len(texts), self.dim), dtype=np.uint32)
        for i, t in enumerate(texts):
            digest = hashlib.shake_256(_scrub(t).encode("utf-8")).digest(nbytes)
            raw[i] = np.frombuffer(digest, dtype=np.uint32)
        v = (raw.astype(np.float64) / 2147483648.0) - 1.0
        norms = np.linalg.norm(v, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        return (v / norms).astype(np.float32)


class DyadicEmbedder:
    """Deterministic md5 featurizer on the 1/2^16 dyadic grid — the
    ORACLE-PAIRABLE Python embedder (r10; the stream_ingest_index trick
    generalized to the batch path): dim i of a text is
    ``int(md5(scrub(text) + ':' + str(i)).hexdigest()[:4], 16) / 2**16``.

    Every feature is a 16-bit integer / 2^16: exact in float32 (16 <= 24
    mantissa bits), exact in the doubles downstream arithmetic widens
    to, and sums of squares of up to 2^21 such values stay under 2^53 —
    so a DuckDB twin replays any polynomial of the features
    bit-identically and the mapInPandas crossing itself becomes
    hash-checkable (HashEmbedder's float32 normalize has no such twin;
    it remains the golden-test embedder).  Runs ~64 md5 calls per row —
    the point is parity, not throughput; the Arrow-batch plumbing it
    exercises is identical to the production embedder's."""

    def __init__(self, dim: int = 64):
        self.dim = dim

    def embed_batch(self, texts: list[str]) -> np.ndarray:
        out = np.empty((len(texts), self.dim), dtype=np.float32)
        for r, t in enumerate(texts):
            s = _scrub(t)
            for i in range(self.dim):
                h = hashlib.md5(f"{s}:{i}".encode("utf-8")).hexdigest()
                out[r, i] = int(h[:4], 16) / 65536.0
        return out


class HttpEmbedder:
    """Ollama-compatible HTTP embedder (reference endpoint shape:
    POST {url} with {"model": ..., "prompt": ...} per prompt, response
    {"embedding": [...]} — src/rag/dataframes.rs:114-128).

    The request build / response parse / retry loop is REAL code;
    ``transport`` is the seam: a callable ``payload-dict -> response-dict``
    that defaults to a urllib POST.  Offline tests inject a
    recorded-response transport (tests/test_embed.py) so the whole path
    short of the socket is exercised; no service runs in this container.

    Unlike the reference — which opens a fresh connection per ROW of the
    whole table — one HttpEmbedder instance exists per Python worker
    (see ``with_embeddings``), so at scale the per-prompt loop below runs
    Arrow-batch-at-a-time on every executor in parallel."""

    def __init__(self, url: str = "http://localhost:11434/api/embeddings",
                 model: str = "nomic-embed-text", dim: int = 768,
                 transport=None, max_retries: int = 3, backoff_s: float = 0.5,
                 sleep=None):
        import time

        self.url, self.model, self.dim = url, model, dim
        self.transport = transport or self._http_transport
        self.max_retries = max_retries
        self.backoff_s = backoff_s
        self._sleep = sleep or time.sleep

    def _http_transport(self, payload: dict) -> dict:
        import json
        import urllib.request

        req = urllib.request.Request(
            self.url,
            data=json.dumps(payload).encode("utf-8"),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read().decode("utf-8"))

    def _embed_one(self, text: str) -> list[float]:
        payload = {"model": self.model, "prompt": _scrub(text)}
        last_err: Exception | None = None
        for attempt in range(self.max_retries):
            try:
                resp = self.transport(payload)
                vec = resp["embedding"]
                if len(vec) != self.dim:
                    raise ValueError(
                        f"embedding dim {len(vec)} != expected {self.dim}"
                    )
                return vec
            except Exception as e:  # noqa: BLE001 — retry any transport fault
                last_err = e
                if attempt < self.max_retries - 1:
                    self._sleep(self.backoff_s * (2**attempt))
        raise RuntimeError(
            f"embedding request failed after {self.max_retries} attempts"
        ) from last_err

    def embed_batch(self, texts: list[str]) -> np.ndarray:
        return np.asarray(
            [self._embed_one(t) for t in texts], dtype=np.float32
        ).reshape(len(texts), self.dim)


def with_embeddings(
    df: DataFrame,
    text_col: str = "body",
    out_col: str = "embedding",
    dim: int = 64,
    embedder_factory=None,
    batch_rows: int = 1024,
) -> DataFrame:
    """Append ``out_col: array<float>`` computed in Arrow batches.

    ``embedder_factory`` is constructed ONCE PER PYTHON WORKER (init-once
    per executor — contrast the reference rebuilding its BPE per call,
    src/rag/dataframes.rs:37, and opening per-row HTTP connections).
    """
    factory = embedder_factory or (lambda: HashEmbedder(dim))
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(FloatType()), True)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        embedder = factory()
        for pdf in batches:
            for start in range(0, len(pdf), batch_rows):
                part = pdf.iloc[start : start + batch_rows].copy()
                vecs = embedder.embed_batch(part[text_col].tolist())
                part[out_col] = list(vecs)
                yield part

    return df.mapInPandas(run, schema=out_schema)

