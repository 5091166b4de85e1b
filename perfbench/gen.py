"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical parquet, and the program under test only ever sees the
generated files. Schemas follow the engine's input tables (events,
documents, embeddings); sizes are chosen by the caller.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
MINUTE_US = 60_000_000

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data vector join customer"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


@dataclasses.dataclass(frozen=True)
class BatchSize:
    events: int
    users: int
    documents: int
    embeddings: int


#: sf0.01-sized tables: per-query time on a 4-core local master is
#: already dominated by the fixed per-job cost at this size (measured:
#: the 17 event rows take ~10 s warm at both sf0.001 and sf0.01).
BATCH_FULL = BatchSize(events=10_000, users=150, documents=500, embeddings=500)
BATCH_TINY = BatchSize(events=1_000, users=15, documents=120, embeddings=120)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # independent child stream per table, so changing one table's
    # generator never shifts another table's draws
    tag = int.from_bytes(stream.encode(), "little") % (2**32)
    return np.random.default_rng([seed, tag])


def events_table(seed: int, size: BatchSize) -> pa.Table:
    """Event log over 30 days: unique micro-aligned timestamps stored as
    TIMESTAMP(NANOS), uniform users and event types, JSON props."""
    rng = _rng(seed, "events")
    n = size.events
    span_us = 30 * DAY_US
    # distinct sorted offsets, micro-aligned (the loader floors nanos
    # to micros; sub-micro digits would make oracle and engine differ)
    offs = np.sort(rng.choice(span_us // 1000, size=n, replace=False)) * 1000
    ts_ns = (T0_US + offs) * 1000
    value = np.round(rng.exponential(50.0, size=n), 2)
    k = rng.integers(0, 100, size=n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_ns, type=pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, size.users, size=n), type=pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n)),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {int(v)}}}' for v in k]),
    })


def _soup(rng: np.random.Generator, n_words: int) -> list[str]:
    return list(rng.choice(VOCAB, size=n_words))


def documents_table(seed: int, size: BatchSize) -> pa.Table:
    """Word-soup documents with the planted structure of the engine's
    fixture corpus: ~10% near-copies of an earlier document of at least
    40 words (one word dropped or appended at an end, or one word
    substituted: shingle Jaccard 0.8-0.99, each source copied at most
    once), ~2% exact copies differing only in case and surrounding
    whitespace, and a shared 12-word boilerplate span appended to ~6%
    of the long documents."""
    rng = _rng(seed, "documents")
    boiler = _soup(rng, 12)
    texts: list[str] = []
    used: set[int] = set()
    for i in range(size.documents):
        r = rng.random()
        long_free = [j for j in range(i) if j not in used and len(texts[j].split()) >= 40]
        if r < 0.10 and long_free:
            j = long_free[int(rng.integers(0, len(long_free)))]
            used.add(j)
            w = texts[j].split()
            edit = rng.random()
            if edit < 0.35:
                w = w[:-1]
            elif edit < 0.7:
                w = w + [str(rng.choice(VOCAB))]
            else:
                w[int(rng.integers(0, len(w)))] = str(rng.choice(VOCAB))
            text = " ".join(w)
        elif r < 0.12 and i > 0:
            text = "  " + texts[int(rng.integers(0, i))].upper() + " "
        else:
            w = _soup(rng, int(rng.integers(10, 100)))
            if len(w) >= 40 and rng.random() < 0.06:
                w += boiler
            text = " ".join(w)
        texts.append(text)
    n = size.documents
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(seed: int, size: BatchSize) -> pa.Table:
    """Unit 64-d float32 vectors, random directions plus ~8% noisy
    copies of an earlier vector (cosine ~0.5-0.95), labels 0-9."""
    rng = _rng(seed, "embeddings")
    n = size.embeddings
    x = rng.standard_normal((n, 64))
    for i in range(10, n):
        if rng.random() < 0.08:
            j = int(rng.integers(0, i))
            noise = float(rng.uniform(0.3, 1.6))
            x[i] = x[j] / np.linalg.norm(x[j]) * 8.0 + rng.standard_normal(64) * noise
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), type=pa.int32()),
    })


def write_batch_tables(seed: int, size: BatchSize, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, fn in (
        ("events", events_table),
        ("documents", documents_table),
        ("embeddings", embeddings_table),
    ):
        pq.write_table(fn(seed, size), os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Stream events


@dataclasses.dataclass(frozen=True)
class StreamSpec:
    """Make-up of the generated event stream (see README)."""

    users: int = 400
    zipf_s: float = 1.1
    #: fixed event-type mix
    types: tuple[str, ...] = ("view", "click", "purchase", "signup", "error")
    type_p: tuple[float, ...] = (0.35, 0.30, 0.15, 0.10, 0.10)
    #: event time advances one step per event, in arrival order
    step_us: int = MINUTE_US
    #: each event is shifted up to this far EARLIER than its slot, so
    #: arrival is out of order by at most this much
    disorder_us: int = 5 * MINUTE_US
    #: watermark delay given to the engine; > disorder_us, so no event
    #: is ever late
    watermark_us: int = 10 * MINUTE_US
    within: str = "7 days"
    within_us: int = 7 * DAY_US
    rows_per_file: int = 100


SENTINEL_USER = -1
SENTINEL_TYPE = "sentinel"


def stream_events(seed: int, spec: StreamSpec, n_events: int,
                  tag: str = "stream") -> dict[str, np.ndarray]:
    """Columns of ``n_events`` stream events in ARRIVAL order.

    Users are Zipf(``zipf_s``)-ranked over ``spec.users`` keys (the
    rank→id map is a seeded permutation). Timestamps are globally
    unique: slot ``i`` sits at ``T0 + i·step``, minus a whole-millisecond
    disorder below ``disorder_us``, plus ``i mod 1000`` microseconds —
    two events can only collide if their slots are ≥1000 apart, which
    ``1000·step > disorder`` rules out."""
    if 1000 * spec.step_us <= spec.disorder_us:
        raise ValueError("disorder bound must stay below 1000 steps")
    if spec.disorder_us >= spec.watermark_us:
        raise ValueError("disorder must stay inside the watermark delay")
    rng = _rng(seed, tag)
    ranks = np.arange(1, spec.users + 1, dtype=np.float64)
    p = ranks ** -spec.zipf_s
    p /= p.sum()
    perm = rng.permutation(spec.users)
    users = perm[rng.choice(spec.users, size=n_events, p=p)].astype(np.int64)
    types = rng.choice(np.array(spec.types), size=n_events, p=np.array(spec.type_p))
    i = np.arange(n_events, dtype=np.int64)
    jitter_ms = rng.integers(0, spec.disorder_us // 1000, size=n_events)
    ts = T0_US + i * spec.step_us - jitter_ms * 1000 + (i % 1000)
    value = np.round(rng.exponential(50.0, size=n_events), 2)
    return {"event_id": i, "user_id": users, "ts_us": ts, "event_type": types,
            "value": value}


def sentinel_event(spec: StreamSpec, last_ts_us: int, event_id: int) -> dict[str, np.ndarray]:
    """One event past every horizon: its watermark exceeds the last real
    event by more than ``within``, so every pending match turns final."""
    ts = last_ts_us + spec.within_us + spec.watermark_us + DAY_US
    return {
        "event_id": np.array([event_id], dtype=np.int64),
        "user_id": np.array([SENTINEL_USER], dtype=np.int64),
        "ts_us": np.array([ts], dtype=np.int64),
        "event_type": np.array([SENTINEL_TYPE]),
        "value": np.array([0.0]),
    }


STREAM_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("user_id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("event_type", pa.string()),
    ("value", pa.float64()),
])
STREAM_DDL = "event_id long, user_id long, ts timestamp, event_type string, value double"


def stream_file_table(cols: dict[str, np.ndarray], lo: int, hi: int) -> pa.Table:
    return pa.table({
        "event_id": cols["event_id"][lo:hi],
        "user_id": cols["user_id"][lo:hi],
        "ts": pa.array(cols["ts_us"][lo:hi], type=pa.timestamp("us", tz="UTC")),
        "event_type": cols["event_type"][lo:hi],
        "value": cols["value"][lo:hi],
    }, schema=STREAM_SCHEMA)


def write_file_atomic(table: pa.Table, directory: str, name: str, stage: str) -> None:
    """Write into ``stage`` (outside the watched paths), then rename in,
    so the file source never lists a half-written file."""
    tmp = os.path.join(stage, f"{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(directory, name))
