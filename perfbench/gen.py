"""Inputs of the workloads. Every workload draws its data from the sf0.1
test tables that ``bench.py`` reads (``$SPARK_GRAFT_SF_DIR``); the seed
chooses only how that data arrives (epochs, order, windows, replays) and
the JSON encoding's malformed extras. The same seed gives the same inputs,
byte for byte.

- :func:`table` — one sf0.1 table as a DataFrame (``events``: event_id, ts,
  user_id, event_type, value, props over 30 days; ``documents``: doc_id,
  text, lang, source, n_chars).
- :func:`github_lines` — the events of one ingest epoch as GitHub-event JSON
  lines (the streaming sink's input), plus malformed lines and lines missing
  ``created_at``, which the ingest pipeline must drop.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pandas as pd

T0 = dt.datetime(2024, 1, 1)
DAYS = 30
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
VALUE_HI = 600.0


def data_dir() -> str:
    """The sf0.1 test tables: the directory ``bench.py`` measures on."""
    from bench import SF_DIR

    return SF_DIR


def table(name: str) -> pd.DataFrame:
    path = os.path.join(data_dir(), f"{name}.parquet")
    if not os.path.isfile(path):
        raise FileNotFoundError(f"sf0.1 test table {path} is missing")
    return pd.read_parquet(path)


def _iso(ts: pd.Timestamp) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def github_lines(batch: pd.DataFrame, seed: int, epoch: int) -> list[str]:
    """The events in ``batch`` as GitHub-event JSON lines, shuffled, with
    about 3% malformed lines and 2% lines missing ``created_at`` mixed in
    (their ids lie outside the events' id range, so no valid row is lost)."""
    rng = np.random.default_rng([seed, 2, epoch])
    lines = []
    for r in batch.itertuples(index=False):
        lines.append(
            json.dumps(
                {
                    "id": str(r.event_id),
                    "type": r.event_type,
                    "actor": {"id": int(r.user_id), "login": f"user{r.user_id}"},
                    "repo": {"id": int(r.user_id) % 97, "name": f"org/repo{int(r.user_id) % 97}"},
                    "payload": {"value": float(r.value), "k": int(r.event_id) % 100},
                    "public": True,
                    "created_at": _iso(r.ts),
                    "processed_at": _iso(r.ts),
                }
            )
        )
    n_bad = max(1, len(batch) // 33)
    n_nots = max(1, len(batch) // 50)
    base = 10_000_000 + epoch * 10_000
    for i in range(n_bad):
        cut = int(rng.integers(5, 40))
        lines.append(json.dumps({"id": str(base + i), "type": "click"})[:cut])
    for i in range(n_nots):
        lines.append(
            json.dumps({"id": str(base + 5_000 + i), "type": "view", "public": True})
        )
    order = rng.permutation(len(lines))
    return [lines[i] for i in order]


def digest(*parts) -> str:
    """Short SHA-256 of generated inputs (DataFrames and line lists), so a
    run records which inputs it saw."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pd.DataFrame):
            h.update(pd.util.hash_pandas_object(p, index=False).values.tobytes())
        else:
            h.update("\n".join(p).encode())
    return h.hexdigest()[:16]
