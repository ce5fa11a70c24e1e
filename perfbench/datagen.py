"""Seeded input generation for the benchmark.

The engine's synthetic tables (events, documents, embeddings) are
regenerated here from the benchmark seed with the schemas and value
distributions of the sf0.1 test data: 100k events over January 2024
(as at sf0.1), and 30% of sf0.1's corpus, to keep a run inside its
time budget: 1,500 documents over a 30-word vocabulary with
near-duplicate and exact-duplicate copies, 600 unit-norm 64-d
embeddings. The same seed always writes byte-identical parquet.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

JAN1_MS = 1704067200000
DAY_MS = 86_400_000
HOUR_MS = 3_600_000
DAYS = 30
N_EVENTS = 100_000
N_USERS = 1_500
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
N_DOCS = 1_500
N_VECS = 600
DIM = 64
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "fr", "zh", "de", "es")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _events_table(rng: np.random.Generator, first_id: int, ts_us: np.ndarray) -> pa.Table:
    n = len(ts_us)
    etype = np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(ts_us.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
            "event_type": pa.array(etype.tolist(), pa.string()),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in k], pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )


def events(seed: int, n: int = N_EVENTS) -> pa.Table:
    """``n`` events, sorted by time, uniform over 30 days from Jan 1,
    no two in the same millisecond (so point-wise series merges never
    have to break ties)."""
    rng = np.random.default_rng([seed, 1])
    ms = np.sort(rng.integers(JAN1_MS, JAN1_MS + DAYS * DAY_MS - n, n)) + np.arange(n)
    return _events_table(rng, 0, ms * 1000 + rng.integers(0, 1000, n))


def ingest_batch(seed: int, cycle: int, first_id: int, n: int = 2_000) -> tuple[int, pa.Table]:
    """One late batch of ``n`` events inside an existing hour of the
    30-day range. Returns (hour start in ms, rows)."""
    rng = np.random.default_rng([seed, 2, cycle])
    hour = JAN1_MS + int(rng.integers(0, DAYS * 24)) * HOUR_MS
    ts = np.sort(rng.integers(hour * 1000, (hour + HOUR_MS) * 1000, n))
    return hour, _events_table(rng, first_id, ts)


def documents(seed: int, n: int = N_DOCS) -> pa.Table:
    """Token soup over VOCAB, 10-100 tokens; 5% of documents are a
    copy of another plus a trailing " dup" token and 16 are verbatim
    copies, so every dedup operator has work to find."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(n)]
    slots = rng.permutation(n)
    near, exact = slots[: n // 20], slots[n // 20 : n // 20 + 8]
    originals = slots[n // 20 + 8 :]
    for i in near:
        texts[i] = texts[int(rng.choice(originals))] + " dup"
    for i in exact:
        texts[i] = texts[int(rng.choice(originals))]
    lang = np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n: int = N_VECS) -> pa.Table:
    rng = np.random.default_rng([seed, 4])
    x = rng.standard_normal((n, DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)


def replicate_events(root: Path, src_dir: Path, dst_dir: Path) -> None:
    """The 10x events table, derived from ``src_dir/events.parquet``
    by the repository's own ``scripts/make_sf1.replicate`` (disjoint
    user and event-id spaces, per-copy millisecond jitter)."""
    spec = importlib.util.spec_from_file_location(
        "make_sf1", root / "scripts" / "make_sf1.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.SRC, mod.DST = src_dir, dst_dir
    dst_dir.mkdir(parents=True, exist_ok=True)
    with contextlib.redirect_stdout(io.StringIO()):
        mod.replicate("events", {"event_id": N_EVENTS, "user_id": N_USERS}, ts_jitter_col="ts")

