"""Reference computations, made apart from the engine.

Every check takes the engine's output as a pandas frame (or a set of
tuples) and returns a list of problems; an empty list means the output
passed. Nothing here compares against a stored copy of an earlier run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

JACCARD_THRESHOLD = 0.4  # q31's threshold (queries/llm.py)
EMBED_THRESHOLD = 0.4    # q52's threshold (queries/llm.py)
SIMHASH_MAX_HAMMING = 3  # q32's bound
RECALL_MIN = 0.9
#: cosine values within this of the threshold may fall either side
#: between float32 engine arithmetic and float64 numpy
COS_EPS = 1e-6
#: float64 columns compare within this relative tolerance (sums may
#: accumulate in another order on each side)
FLOAT_RTOL = 1e-9


def duck_views(con, table_dir: str, names=("events", "documents", "embeddings")) -> None:
    for t in names:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_dir}/{t}.parquet')"
        )


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sorted columns, sorted rows, widened numerics — the repository's
    oracle-comparison rule."""
    out = df.copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_integer_dtype(s) or (
            pd.api.types.is_object_dtype(s)
            and len(s.dropna())
            and s.dropna().map(lambda v: isinstance(v, int)).all()
        ):
            out[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            out[c] = s.astype("datetime64[us]").astype(str)
    out = out[sorted(out.columns)]
    return out.sort_values(
        by=list(out.columns), ignore_index=True, na_position="first"
    )


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    a, b = normalize(got), normalize(want)
    if list(a.columns) != list(b.columns):
        return [f"columns {list(a.columns)} != {list(b.columns)}"]
    if len(a) != len(b):
        return [f"rows {len(a)} != {len(b)}"]
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) and pd.api.types.is_float_dtype(y):
            xv, yv = x.to_numpy(), y.to_numpy()
            ok = np.isclose(xv, yv, rtol=FLOAT_RTOL, atol=0.0, equal_nan=True)
        else:
            ok = (x.astype(object).where(x.notna(), None).to_numpy()
                  == y.astype(object).where(y.notna(), None).to_numpy())
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            return [f"column {c} row {i}: {x.iloc[i]!r} != {y.iloc[i]!r}"]
    return []


def oracle_check(con, sql: str, got: pd.DataFrame) -> list[str]:
    return frames_match(got, con.execute(sql).df())


def pair_set(df: pd.DataFrame) -> set[tuple[int, int]]:
    return {(int(a), int(b)) for a, b in zip(df["d1"], df["d2"])}


def precision_recall(got: set, exact: set, what: str) -> list[str]:
    if not exact:
        return [f"{what}: reference has no pairs"]
    out = []
    extra = got - exact
    if extra:
        out.append(f"{what}: {len(extra)} pairs outside the exact set, e.g. {sorted(extra)[:3]}")
    recall = len(got & exact) / len(exact)
    if recall < RECALL_MIN:
        out.append(f"{what}: recall {recall:.3f} < {RECALL_MIN}")
    return out


def jaccard_exact(con) -> set[tuple[int, int]]:
    """Exact 3-word-shingle Jaccard pairs at q31's threshold, in DuckDB."""
    rows = con.execute(f"""
        WITH w AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(range(0, len(t) - 2),
                        i -> array_to_string(t[i+1:i+3], ' '))) AS g
          FROM w WHERE len(t) >= 3),
        sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS k
          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT d1, d2 FROM inter
        JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2
        WHERE k / (s1.n + s2.n - k) >= {JACCARD_THRESHOLD}
    """).fetchall()
    return {(int(a), int(b)) for a, b in rows}


def cosine_pairs(ids: np.ndarray, vecs: np.ndarray, threshold: float,
                 eps: float) -> set[tuple[int, int]]:
    """All pairs with cosine ≥ threshold − eps, brute force in float64."""
    x = vecs.astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    sim = x @ x.T
    iu = np.triu_indices(len(ids), k=1)
    keep = sim[iu] >= threshold - eps
    a, b = ids[iu[0][keep]], ids[iu[1][keep]]
    return {(int(min(p, q)), int(max(p, q))) for p, q in zip(a, b)}


def check_cosine_pairs(got: set, ids: np.ndarray, vecs: np.ndarray) -> list[str]:
    """q52: precision 1.0 (every pair is a true ≥ threshold pair, up to
    float32 rounding) and recall ≥ 0.9 against brute force."""
    exact = cosine_pairs(ids, vecs, EMBED_THRESHOLD, 0.0)
    loose = cosine_pairs(ids, vecs, EMBED_THRESHOLD, COS_EPS)
    out = []
    extra = got - loose
    if extra:
        out.append(f"q52: {len(extra)} pairs below the cosine threshold, e.g. {sorted(extra)[:3]}")
    if not exact:
        out.append("q52: reference has no pairs")
    else:
        recall = len(got & exact) / len(exact)
        if recall < RECALL_MIN:
            out.append(f"q52: recall {recall:.3f} < {RECALL_MIN}")
    return out


def simhash64(texts) -> np.ndarray:
    """64-bit SimHash, one document at a time: whitespace tokens, token
    hash = pandas' fixed-key SipHash (``hash_array``), bit set where
    more tokens have it set than not."""
    out = np.zeros(len(texts), dtype=np.uint64)
    for i, text in enumerate(texts):
        toks = text.split() if text else []
        if not toks:
            continue
        h = pd.util.hash_array(np.array(toks, dtype=object), categorize=False)
        fp = 0
        for j in range(64):
            ones = int(((h >> np.uint64(j)) & np.uint64(1)).sum())
            if 2 * ones - len(toks) > 0:
                fp |= 1 << j
        out[i] = np.uint64(fp)
    return out


def check_simhash_pairs(got: set, ids: np.ndarray, texts) -> list[str]:
    """q32 pigeonhole property: every pair within the Hamming bound is
    found, and no pair beyond it."""
    fp = simhash64(texts)
    xor = fp[:, None] ^ fp[None, :]
    ham = np.zeros(xor.shape, dtype=np.int64)
    for j in range(64):
        ham += ((xor >> np.uint64(j)) & np.uint64(1)).astype(np.int64)
    iu = np.triu_indices(len(ids), k=1)
    keep = ham[iu] <= SIMHASH_MAX_HAMMING
    want = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[0][keep]], ids[iu[1][keep]])
    }
    out = []
    if not want:
        out.append("q32: reference has no pairs within the bound")
    missing, extra = want - got, got - want
    if missing:
        out.append(f"q32: {len(missing)} pairs within the bound missing, e.g. {sorted(missing)[:3]}")
    if extra:
        out.append(f"q32: {len(extra)} pairs beyond the bound, e.g. {sorted(extra)[:3]}")
    return out


def grams(text: str, n: int) -> set[str]:
    t = text.split()
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def check_corpus(out: pd.DataFrame, docs: pd.DataFrame, bench_texts,
                 n: int, splits) -> list[str]:
    """``prepare_training_corpus`` properties: ids are a subset of the
    input, unique, no two rows share normalized text, every row sits in
    exactly one named split, and no kept row shares a word n-gram with
    the benchmark set."""
    probs = []
    ids = out["doc_id"].astype(int)
    if not set(ids) <= set(docs["doc_id"].astype(int)):
        probs.append("corpus: output ids not a subset of the input")
    if ids.duplicated().any():
        probs.append("corpus: an id appears in more than one row or split")
    norm = out["text"].str.strip().str.lower()
    if norm.duplicated().any():
        probs.append("corpus: two kept rows share normalized text")
    if not out["split"].isin(list(splits)).all():
        probs.append(f"corpus: split outside {sorted(splits)}")
    bench = set().union(*(grams(t, n) for t in bench_texts)) if len(bench_texts) else set()
    leaked = [i for i, t in zip(ids, out["text"]) if grams(t, n) & bench]
    if leaked:
        probs.append(f"corpus: {len(leaked)} kept rows share a {n}-gram with the benchmark")
    if len(out) == 0:
        probs.append("corpus: empty output")
    return probs


# ---------------------------------------------------------------------------
# streams


def stream_oracle(con, sql: str, cols: list[str]) -> list[tuple]:
    """The batch oracle SQL over the generated stream events (the
    ``events`` view must already hold them, sentinel excluded), with
    timestamp columns as epoch microseconds."""
    df = con.execute(sql).df()
    rows = []
    for rec in df[cols].itertuples(index=False):
        rows.append(tuple(_us(v) for v in rec))
    return rows


def _us(v):
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return int(v.value // 1000)
    return int(v)


def check_stream(emitted: list[tuple[int, tuple]], want: list[tuple],
                 epoch_wm_us: dict[int, int], end_idx: int) -> list[str]:
    """Emitted ``(epoch, match)`` pairs against the oracle's matches:
    equal as multisets, each emitted once, and each in an epoch whose
    watermark is already above the match's last event."""
    from collections import Counter

    probs = []
    got = Counter(m for _, m in emitted)
    dup = [m for m, c in got.items() if c > 1]
    if dup:
        probs.append(f"stream: {len(dup)} matches emitted more than once, e.g. {dup[:2]}")
    exp = Counter(want)
    missing = exp - got
    extra = got - exp
    if missing:
        probs.append(f"stream: {sum(missing.values())} oracle matches never emitted, e.g. {list(missing)[:2]}")
    if extra:
        probs.append(f"stream: {sum(extra.values())} emitted matches not in the oracle, e.g. {list(extra)[:2]}")
    early = [
        (e, m) for e, m in emitted
        if e not in epoch_wm_us or not m[end_idx] < epoch_wm_us[e]
    ]
    if early:
        probs.append(f"stream: {len(early)} matches emitted before the watermark passed their end, e.g. {early[:2]}")
    if not want:
        probs.append("stream: oracle has no matches")
    return probs
