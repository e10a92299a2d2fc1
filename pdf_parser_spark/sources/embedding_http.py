"""A9/U2 — embedding source: batched HTTP client as an Arrow-batched map.

The reference embeds text through a remote model endpoint, one RPC per call
site (/root/reference/routes/ai.py:13-32 — OpenAI embeddings via a
synchronous client). At table scale that shape becomes: one ``mapInPandas``
pass where each executor POSTs *batches* of texts to the endpoint and emits
an ``array<float>`` column — requests are amortized ``batch_size`` texts at
a time, executor-parallel, with bounded retries. No driver round-trips.

Determinism: round 1 scoped this out because a live endpoint is
nondeterministic. The rebuild keeps that guarantee by splitting the
operator in two:

- ``fake=True`` (default) computes a deterministic pseudo-embedding (a
  blake2b-seeded unit vector — a pure function of the text and dim) with
  the exact same batching/plumbing, so schema, partitioning and downstream
  similarity operators are tested end to end;
- ``fake=False`` runs the real HTTP client (stdlib urllib — no external
  dependency). The pytest suite exercises it against a local in-process
  HTTP server, so the client code path is REAL and tested, while nothing
  ever leaves the machine.

The fake mode stays on purpose: it is the only path that runs without an
endpoint.

At 100 TB the knobs that matter: ``batch_size`` bounds request payloads,
input partition count bounds endpoint concurrency (repartition upstream to
match the service's rate limit), and failures raise after ``retries``
attempts so the task (not the job) retries — idempotent because the row
set of a task is deterministic.
"""

from __future__ import annotations

import json
import time
import urllib.request
from hashlib import blake2b
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def fake_embedding(text: str | None, dim: int = 64) -> list[float]:
    """Deterministic unit vector from the text bytes (pure function)."""
    seed = int.from_bytes(
        blake2b((text or "").encode("utf-8"), digest_size=8).digest(), "big"
    )
    rng = np.random.default_rng(seed)
    v = rng.standard_normal(dim)
    n = float(np.linalg.norm(v))
    if n == 0.0:
        v = np.ones(dim)
        n = float(np.linalg.norm(v))
    return [round(float(x), 6) for x in v / n]


def _post_batch(endpoint: str, model: str, texts: list[str], timeout: float,
                retries: int) -> list[list[float]]:
    """One POST per batch; OpenAI-style request/response shape."""
    payload = json.dumps({"model": model, "input": texts}).encode("utf-8")
    last: Exception | None = None
    for attempt in range(retries + 1):
        try:
            req = urllib.request.Request(
                endpoint, data=payload,
                headers={"Content-Type": "application/json"}, method="POST",
            )
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                body = json.loads(resp.read().decode("utf-8"))
            data = sorted(body["data"], key=lambda d: d.get("index", 0))
            if len(data) != len(texts):
                raise ValueError(
                    f"endpoint returned {len(data)} embeddings for {len(texts)} inputs"
                )
            return [[float(x) for x in d["embedding"]] for d in data]
        except Exception as e:  # noqa: BLE001 — retried, then re-raised
            last = e
            if attempt < retries:
                time.sleep(min(2.0 ** attempt * 0.1, 2.0))
    raise RuntimeError(f"embedding endpoint failed after {retries + 1} attempts: {last}")


def embed_documents(
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "embedding",
    endpoint: str | None = None,
    model: str = "emb-1",
    dim: int = 64,
    batch_size: int = 64,
    timeout: float = 10.0,
    retries: int = 2,
    fake: bool = True,
) -> DataFrame:
    """docs + ``array<float>`` embedding column via batched requests.

    ``fake=True`` → deterministic local embeddings (same batching path);
    ``fake=False`` requires ``endpoint``.
    """
    if not fake and not endpoint:
        raise ValueError("fake=False requires an endpoint URL")
    in_cols = docs.columns
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in docs.schema.fields
    ) + f", `{out_col}` array<float>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = ["" if t is None else str(t) for t in pdf[text_col]]
            vecs: list[list[float]] = []
            for i in range(0, len(texts), batch_size):
                chunk = texts[i : i + batch_size]
                if fake:
                    vecs.extend(fake_embedding(t, dim) for t in chunk)
                else:
                    vecs.extend(_post_batch(endpoint, model, chunk, timeout, retries))
            out = pdf[in_cols].copy()
            out[out_col] = vecs
            yield out

    return docs.mapInPandas(run, schema=out_schema)
