"""Document deduplication operators: exact, n-gram Jaccard, MinHash-LSH,
SimHash.

North-star LLM-pipeline operators (SURVEY.md §2.2). Design constraints at
100 TB (SURVEY.md §7.3):

- **never** a cross join — every pairwise comparison goes through a
  bucket/band equi-join so only colliding documents meet;
- hot buckets (boilerplate shingles, spam clusters) are dropped by a
  document-frequency / bucket-size cap instead of being allowed to
  produce O(n²) pairs;
- all shingling/hashing is Catalyst expressions (JVM, codegen); the one
  pandas UDF (SimHash bit-voting) is Arrow-batched.
"""

from __future__ import annotations


import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from flink_note_spark.functions.scalar import words

# Prime modulus for the universal hash family (fits in 31 bits so
# a*h+b stays inside signed-64 arithmetic with no overflow).
_MERSENNE31 = (1 << 31) - 1


def _one_row_per_id(
    df: DataFrame, id_col: str, text_col: str, ids_unique: bool
) -> DataFrame:
    """Enforce the one-row-per-id precondition the pairwise operators
    rest on (ADVICE r2 #2: duplicate ids silently corrupt shingle sets
    and pair counts). Default is a defensive ``dropDuplicates`` — one
    extra keyed shuffle, projected down to the two columns the operators
    read so the shuffle never carries unrelated payload columns; callers
    that KNOW ids are unique (e.g. they ran :func:`exact_dedup` upstream,
    or the id is the table's primary key) pass ``ids_unique=True`` to
    skip it. Which row survives a duplicate id is arbitrary — resolve
    duplicates content-aware with :func:`exact_dedup` first if that
    matters."""
    df = df.select(id_col, text_col)
    return df if ids_unique else df.dropDuplicates([id_col])


# Shared execution-shape helpers grew up in this module; they now live
# in operators/runtime.py — re-exported here so existing import sites
# (similarity, tests) keep working.
from flink_note_spark.operators.runtime import (  # noqa: F401,E402
    _computed_once,
    _spread_for_python_stage,
)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Exact duplicate clustering on a content hash.

    Normalization = lower + trim (configurable off). Output: one row per
    distinct content (``keep`` = smallest id), with ``n_copies``. One
    hash-shuffle on the 256-bit digest; group-by combines map-side, so at
    100 TB the shuffle carries one row per *distinct* document per
    partition, not per input row.
    """
    txt = F.col(text_col)
    if normalize:
        txt = F.lower(F.trim(txt))
    h = F.sha2(txt, 256)
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_" + id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Row-preserving exact dedup: keep the FULL row with the smallest
    ``id_col`` per distinct (normalized) content — the payload-keeping
    twin of :func:`exact_dedup`, which returns only the cluster summary
    (hash, keep-id, count) and makes the caller join survivors back.

    One keyed window shuffle on the 256-bit content digest. The window
    carries the whole row, so at 100 TB prefer :func:`exact_dedup` +
    an id semi-join when rows are wide and duplication is rare — this
    operator is the right shape when the output IS the surviving corpus
    (the curation-pipeline case, ``pipelines/curate.py``).

    NULL ``text_col`` rows are absent content, not duplicate content:
    they all pass through untouched (``sha2(NULL)`` is NULL, which
    would otherwise gather every NULL-text row into one window
    partition and drop all but one). Deterministic — same input set →
    same output set, independent of partitioning — PROVIDED ids are
    unique; with repeated ids the id tie-break is vacuous and which
    duplicate-id row survives is shuffle-order-dependent (run
    ``dropDuplicates([id_col])`` or :func:`exact_dedup` first).
    """
    from pyspark.sql import Window

    txt = F.col(text_col)
    if normalize:
        txt = F.lower(F.trim(txt))
    keep = Window.partitionBy(F.sha2(txt, 256)).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(keep))
        .filter((F.col("__rn") == 1) | F.col(text_col).isNull())
        .drop("__rn")
    )


def _shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int, max_df: int | None
) -> DataFrame:
    """(id, shingle) rows, distinct per doc, where ``shingle`` is the
    64-bit ``xxhash64`` of the n-gram; optionally drop shingles with
    document frequency > max_df (boilerplate guard — the 100 TB skew
    mitigation, SURVEY.md §7.3).

    Every consumer (MinHash signatures, LSH verification, exact Jaccard)
    needs only equality / set-intersection / counting over shingles, so
    the string n-gram is hashed to a LONG in the same stage that
    produces it (a JVM projection right after the Arrow batch — the
    strings never reach a shuffle, a checkpoint, or a collect_set).
    8-byte keys instead of ~n-word strings shrink every downstream
    exchange and make the self-joins long-equality instead of string
    comparison. Set semantics are exact up to 64-bit hash collisions
    (expected collisions ≈ m²/2⁶⁴ over m distinct shingles — negligible
    below ~10⁸ shingles; the MinHash signature path is bit-identical to
    before, which already keyed off ``xxhash64(shingle)``).

    PRECONDITION: one input row per ``id_col`` value. Per-doc set-dedup
    inside the generator replaces the old global ``distinct()`` SHUFFLE
    with an O(doc) hash set; that is only equivalent when (id, shingle)
    duplicates cannot span rows — run :func:`exact_dedup` (or
    ``dropDuplicates``) first if the corpus may contain repeated ids.

    Implementation is an Arrow-batched ``mapInPandas`` shingler rather
    than ``explode(word_shingles(...))``: Catalyst *interprets* the
    transform/slice/concat_ws lambda per element (no codegen), measured
    ~3× slower than even the old Python batch loop. The kernel itself is
    numpy-vectorized (r5, the same treatment that bought 20× on the
    SimHash kernel): one flat token array per batch, n-gram positions
    built with ``repeat``/``cumsum`` index arithmetic, string assembly
    as C-looped object-array concatenation, and per-doc set-dedup via
    ``DataFrame.drop_duplicates`` (hash-table in C) instead of a Python
    ``set`` per document. Output rows — and therefore every downstream
    hash/signature — are bit-identical to the loop version. Stays in
    the scan stage: no shuffle at any scale. The frequency cap is a
    groupBy + anti-join of the (small-in-expectation) hot set — see
    inline comment."""
    id_type = dict(df.dtypes)[id_col]

    def shingler(batches):
        import numpy as np

        for pdf in batches:
            n_docs = len(pdf)
            if not n_docs:
                continue
            # Whitespace-RUN tokenization (str.split() == \s+ with empty
            # drop) — the ONE tokenization shared by every hygiene
            # operator (tfidf/repetition/frequent_tokens use \s+ too),
            # so tabs/newlines produce identical token streams across
            # all stages of prepare_training_corpus (ADVICE r5 fix).
            toks_per_doc = [t.split() if t else [] for t in pdf[text_col]]
            lengths = np.fromiter(
                (len(t) for t in toks_per_doc), dtype=np.int64, count=n_docs
            )
            counts = np.maximum(lengths - (n - 1), 0)
            total = int(counts.sum())
            if not total:
                continue
            all_toks = np.array(
                [tok for toks in toks_per_doc for tok in toks], dtype=object
            )
            # Global flat position of each shingle's first token: doc
            # start offset + within-doc shingle index.
            doc_starts = np.concatenate(([0], np.cumsum(lengths)))[:-1]
            sh_csum = np.concatenate(([0], np.cumsum(counts)))
            offset = np.arange(total) - np.repeat(sh_csum[:-1], counts)
            pos = np.repeat(doc_starts, counts) + offset
            sh = all_toks[pos]
            for j in range(1, n):
                sh = sh + " " + all_toks[pos + j]
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy().repeat(counts),
                    "shingle": sh,
                }
            )
            # Per-doc first-occurrence dedup (ids are unique per row by
            # the operator precondition, so (id, shingle) dedup == the
            # old per-document `seen` set).
            yield out.drop_duplicates(ignore_index=True)

    sh = _spread_for_python_stage(df.select(id_col, text_col)).mapInPandas(
        shingler, f"{id_col} {id_type}, shingle string"
    ).select(id_col, F.xxhash64("shingle").alias("shingle"))
    if max_df is not None:
        # Materialize the raw (id, hash) rows so the hot-set groupBy and
        # the anti-join left side read blocks instead of each re-running
        # the Python shingler. Only worthwhile BECAUSE the rows are
        # 8-byte longs: the same checkpoint over string shingles was
        # measured SLOWER at 32× data than the second Arrow pass, while
        # the long version is the fastest variant at both sf0.1 and 32×.
        sh = _computed_once(sh)
        # The hot set (df > max_df) is SMALL in the expected case — it
        # exists to kill boilerplate floods — so materialize it with one
        # map-side-combinable groupBy and drop its members with an
        # anti-join. No forced broadcast hint: a pathological corpus
        # could make the hot set itself large, and AQE already converts
        # the anti-join to broadcast at runtime when the measured size
        # allows (degrading to a shuffle join instead of OOMing when
        # it doesn't).
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    return sh


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    ids_unique: bool = False,
) -> DataFrame:
    """Exact n-gram (word shingle) Jaccard similarity pairs ≥ threshold.

    Relational plan: shingle-explode → self equi-join **on the shingle**
    (only docs sharing ≥1 shingle ever meet) → per-pair intersection count
    → |A∪B| from per-doc sizes. Output columns: d1, d2, jaccard.

    This is the exact (verification) path; at 100 TB run
    :func:`minhash_lsh_pairs` to pre-filter candidates and only verify
    those. ``max_df`` drops ultra-common shingles, bounding the join
    fan-out per shingle.
    """
    # Shingles feed three plan branches (sizes + both self-join sides) —
    # compute once so the shingler runs once, not three times. Lazy
    # checkpoint: the first consuming stage materializes the blocks
    # (with max_df set the raw hash rows are already eagerly
    # materialized inside _shingle_rows — an eager checkpoint here
    # would be a redundant extra job barrier).
    df = _one_row_per_id(df, id_col, text_col, ids_unique)
    sh = _shingle_rows(df, id_col, text_col, n, max_df).localCheckpoint(
        eager=False
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col(id_col).alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col(id_col).alias("d2"), F.col("sz").alias("sz2"))
    out = (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    ids_unique: bool = False,
) -> DataFrame:
    """Benchmark decontamination: drop every document sharing at least
    one word ``n``-gram with the benchmark/eval set — the standard
    train-set hygiene pass of LLM data pipelines (13-gram overlap in
    the GPT-3/PaLM writeups; ``n`` is a knob because the right value is
    tokenizer- and corpus-dependent).

    Plan shape (the 100 TB posture): both sides shingle in the scan
    stage via the shared vectorized kernel (:func:`_shingle_rows`,
    64-bit hashed n-grams — the join key is an 8-byte long, never a
    string), the benchmark side collapses to DISTINCT shingles (small
    by nature: eval sets are orders of magnitude smaller than the
    corpus), contaminated ids are found with a shingle equi-SEMI-join
    (no fan-out: the semi-join short-circuits per shingle) and removed
    with an id ANTI-join. No cross join, no Python in the join path,
    and AQE broadcasts the benchmark shingle set when its measured size
    allows — on a 1000-executor cluster the corpus never shuffles: both
    joins stream map-side against the broadcast benchmark.

    Returns the surviving ``docs`` rows (schema unchanged).
    """
    bid = bench_id_col or id_col
    btx = bench_text_col or text_col
    docs1 = _one_row_per_id(docs, id_col, text_col, ids_unique)
    bench_sh = (
        _shingle_rows(benchmark.select(bid, btx), bid, btx, n, None)
        .select("shingle")
        .distinct()
    )
    doc_sh = _shingle_rows(docs1, id_col, text_col, n, None)
    contaminated = (
        doc_sh.join(bench_sh, "shingle", "left_semi").select(id_col).distinct()
    )
    return docs.join(contaminated, id_col, "left_anti")


def decontaminate_splits(
    df: DataFrame,
    split_col: str = "split",
    protect: tuple[str, ...] = ("val", "test"),
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    ids_unique: bool = False,
) -> DataFrame:
    """In-corpus split decontamination: after train/val/test assignment
    (e.g. ``operators/sampling.hash_split``), drop every NON-protected
    (train) row that shares a word ``n``-gram with any PROTECTED row —
    the "don't train on your own eval set" hygiene pass. Protected rows
    pass through unchanged.

    Pure composition of :func:`decontaminate` over the split predicate:
    the two sides are DISJOINT row sets of one table, so the total
    shingle-kernel work is a single pass over the corpus (unlike
    decontaminating a table against a benchmark that is also a subset
    of it, which shingles the overlap twice), and Catalyst pushes the
    split predicate into both scans.

    A NULL ``split_col`` value counts as NON-protected (the row is
    treated as train and decontaminated normally) — without the
    coalesce, three-valued logic would make such rows fail BOTH side
    predicates and vanish silently.
    """
    prot = F.coalesce(F.col(split_col).isin(*protect), F.lit(False))
    kept_train = decontaminate(
        df.filter(~prot),
        df.filter(prot),
        n=n,
        id_col=id_col,
        text_col=text_col,
        ids_unique=ids_unique,
    )
    return kept_train.unionByName(df.filter(prot))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures: (id, signature array<int>).

    Universal hash family h_i(x) = (a_i·xxhash64(x) + b_i) mod (2^31-1)
    with deterministic (seed-derived) a_i, b_i — all JVM expressions.
    ``num_hashes`` min-aggregates are one map-side-combinable groupBy.

    ``shingles`` lets the caller pass precomputed (persisted)
    ``_shingle_rows`` output so LSH + verification share one scan.
    """
    rnd = _lcg(seed)
    params = [(next(rnd) % (_MERSENNE31 - 1) + 1, next(rnd) % _MERSENNE31)
              for _ in range(num_hashes)]

    sh = shingles if shingles is not None else _shingle_rows(
        df, id_col, text_col, n, max_df
    )
    # ``shingle`` is already the xxhash64 long (see _shingle_rows) —
    # identical signature values to the old hash-the-string formulation.
    base = F.pmod(F.col("shingle"), F.lit(_MERSENNE31))
    hashed = sh.select(
        id_col,
        *[
            F.pmod(F.lit(a) * base + F.lit(b), F.lit(_MERSENNE31))
            .cast("int")
            .alias(f"h{i}")
            for i, (a, b) in enumerate(params)
        ],
    )
    agg = hashed.groupBy(id_col).agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )
    return agg.select(
        id_col, F.array(*[f"h{i}" for i in range(num_hashes)]).alias("signature")
    )


def _band_rows(
    sig: DataFrame, bands: int, r: int, id_col: str
) -> DataFrame:
    """Explode signatures into LSH band rows ``(id, signature,
    band_id, band_key)`` — ``band_key`` is the xxhash64 of the band's
    ``r`` signature slots, so docs meet only when a WHOLE band
    matches. Shared by the one-shot pair pipeline and the persisted
    index (identical keys are what make an increment joinable against
    an index built in an earlier session)."""
    return sig.select(
        id_col,
        "signature",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("signature", i * r + j + 1).cast("string")
                                    for j in range(r)
                                ],
                            )
                        ).alias("band_key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "signature", "band.band_id", "band.band_key")


class MinhashFrames:
    """Precomputed per-document MinHash frames shared across the
    operators of ONE logical pass over ONE corpus snapshot (r13
    optimization round). The streaming ingest pipeline runs
    :func:`minhash_lsh_pairs` (in-batch pairs), then
    :func:`dedup_against_index` (probe of the survivors), then
    :func:`minhash_index_build` (increment) over nested subsets of the
    same micro-batch — without sharing, the batch's text is shingled,
    32-way min-hashed and set-aggregated THREE times per epoch, and
    that work is the pipeline's only batch-proportional stage.

    ``shingles`` (id, shingle long), ``signatures`` (id, signature),
    ``sets`` (id, S, sz) are lazily localCheckpointed: the first job
    that touches them materializes the blocks, every later operator
    reads blocks. Per-document values are independent of the rest of
    the corpus (``max_df`` MUST be None — document frequency is
    corpus-dependent, and consumers refuse otherwise), so an operator
    running on a SUBSET of the frames' corpus semi-joins down to its
    own ids and gets bit-identical frames to a recompute.

    Contract: every consumer's input must be a subset (by ``id_col``)
    of the frame corpus with the same text values, and must hash with
    the same (n, num_hashes, seed) — consumers validate the params and
    refuse loudly on mismatch.
    """

    def __init__(
        self, shingles: DataFrame, signatures: DataFrame,
        sets: DataFrame, params: dict, id_col: str,
    ) -> None:
        self.shingles = shingles
        self.signatures = signatures
        self.sets = sets
        self.params = params
        self.id_col = id_col

    def check(self, n: int, num_hashes: int, seed: int,
              max_df: "int | None", caller: str,
              id_col: "str | None" = None,
              text_col: "str | None" = None,
              max_df_from_index: bool = False) -> None:
        if max_df is not None:
            if max_df_from_index:
                # the max_df came from persisted index meta, not a
                # caller argument — "pass max_df=None" would be
                # unactionable advice here (ADVICE r13 #4)
                raise ValueError(
                    f"{caller}: this index was built with max_df set; "
                    "the shared-frames fast path cannot honor it "
                    "(document frequency is corpus-dependent) — pass "
                    "frames=None"
                )
            raise ValueError(
                f"{caller}: precomputed MinhashFrames cannot honor "
                "max_df (document frequency is corpus-dependent) — "
                "pass frames=None or max_df=None"
            )
        want = {"n": n, "num_hashes": num_hashes, "seed": seed}
        # column identity is part of the signature contract (ADVICE r13
        # #1): frames built over a different text column — or keyed by a
        # different id column — would silently emit signatures for the
        # wrong values
        if id_col is not None:
            want["id_col"] = id_col
        if text_col is not None:
            want["text_col"] = text_col
        # .get: frames built with a pre-r14 params dict (no column keys)
        # must surface as the mismatch below, not as a KeyError
        have = {k: self.params.get(k) for k in want}
        if want != have:
            raise ValueError(
                f"{caller}: MinhashFrames built with {have}, "
                f"operator called with {want} — signatures would not "
                "correspond"
            )

    def for_ids(self, ids: DataFrame, id_col: str):
        """(shingles, signatures, sets) semi-joined to ``ids``."""
        return (
            self.shingles.join(ids, id_col, "semi"),
            self.signatures.join(ids, id_col, "semi"),
            self.sets.join(ids, id_col, "semi"),
        )


def minhash_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    ids_unique: bool = False,
) -> MinhashFrames:
    """Build :class:`MinhashFrames` for a corpus snapshot (one Python
    shingle pass, one 32-way min-hash aggregation, one set
    aggregation — everything the pair/probe/build trio needs, computed
    once). All three frames are lazy localCheckpoints: no job runs
    here; the first consuming action materializes them."""
    dfr = _one_row_per_id(df, id_col, text_col, ids_unique)
    sh = _shingle_rows(dfr, id_col, text_col, n, None).localCheckpoint(
        eager=False
    )
    sig = minhash_signatures(
        dfr, id_col, text_col, n, num_hashes, seed, None, shingles=sh
    ).localCheckpoint(eager=False)
    sets = sh.groupBy(id_col).agg(
        F.collect_set("shingle").alias("S"), F.count(F.lit(1)).alias("sz")
    ).localCheckpoint(eager=False)
    return MinhashFrames(
        sh, sig, sets,
        {
            "n": n, "num_hashes": num_hashes, "seed": seed,
            "id_col": id_col, "text_col": text_col,
        },
        id_col,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    max_df: int | None = None,
    max_bucket: int = 1000,
    verify: bool = True,
    ids_unique: bool = False,
    frames: "MinhashFrames | None" = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH.

    Pipeline: signature → split into ``bands`` bands of r = num_hashes/bands
    rows → band-key equi-join (docs meet only when a whole band matches) →
    candidate pairs → (optionally) verify exact shingle Jaccard and keep
    pairs ≥ threshold. Buckets larger than ``max_bucket`` are discarded
    (near-identical boilerplate floods; the cap converts O(n²) blowup into
    an explicit, logged policy). Output: d1, d2, est_jaccard[, jaccard].

    ``frames`` (r13): precomputed :class:`MinhashFrames` over a
    superset of ``df`` — skips this operator's shingle/signature/set
    passes entirely (the streaming-ingest sharing story; see the class
    docstring for the contract).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    df = _one_row_per_id(df, id_col, text_col, ids_unique)
    if frames is not None:
        frames.check(n, num_hashes, seed, max_df, "minhash_lsh_pairs",
                     id_col=id_col, text_col=text_col)
        # verify reads pre_sets, never the shingle rows — unpack the
        # unused frame as ``_`` so the data flow is explicit (ADVICE
        # r13 #2; the lazy frame costs nothing unread)
        _, sig, pre_sets = frames.for_ids(df.select(id_col), id_col)
        sh = None
    else:
        pre_sets = None
        # One shingle scan for the whole operator: signatures, doc sizes and
        # the verification join all read this materialized frame (previously
        # the explode+distinct ran twice — ~2× of q31's wall time). LAZY
        # checkpoint (r5): with max_df set, _shingle_rows has already
        # materialized the raw hash rows eagerly, so these anti-joined rows
        # persist as a side effect of the band-rows materialization job
        # that first reads them — an eager checkpoint here was a third
        # sequential job barrier for the same blocks.
        sh = _shingle_rows(df, id_col, text_col, n, max_df)
        if verify:
            sh = sh.localCheckpoint(eager=False)
        sig = minhash_signatures(
            df, id_col, text_col, n, num_hashes, seed, max_df, shingles=sh
        )

    # Materialize the RAW band rows BEFORE the hot-bucket cap (r14,
    # VERDICT r13 #3 — the _shingle_rows max_df doctrine applied at the
    # band level): the cap needs bucket counts OF these rows, so an
    # anti-join built over the unmaterialized frame evaluates the whole
    # signature pipeline twice inside the checkpoint job — once under
    # the hot side's aggregation, once on the left side (verified in
    # the executed plan: 8 HashAggregates, 0 ReusedExchange — AQE does
    # not dedupe the identical subtrees). With the blocks first, the
    # 32-min-agg signature groupBy + band explode run ONCE; the count
    # and the anti-join read blocks. Hot rows are stored too, but hot
    # buckets are rare by construction (that is the point of the cap).
    band_rows = _computed_once(_band_rows(sig, bands, r, id_col))

    # Hot-bucket cap: anti-join away the flooded buckets (no window sort
    # over all band rows; AQE broadcasts the hot set at runtime when it
    # is actually small — no forced hint, so a flood of floods degrades
    # to a shuffle join instead of an OOM). Left LAZY on top of the
    # blocks: both self-join sides re-run only a block scan + the
    # combine-shrunk count + the broadcast anti-join.
    hot = (
        band_rows.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("__bsz"))
        .filter(F.col("__bsz") > max_bucket)
        .select("band_id", "band_key")
    )
    band_rows = band_rows.join(hot, ["band_id", "band_key"], "left_anti")

    a = band_rows.alias("a")
    b = band_rows.alias("b")
    # Score BEFORE the pair dedup: est_jaccard is a pure function of the
    # two signatures, so every duplicate (d1, d2) collision row (one per
    # matching band, ≤ ``bands``) carries the identical value, and the
    # dedup can run on (d1, d2, est) — 24 fixed-width bytes — instead of
    # dragging both 8·num_hashes-byte signature arrays through it. The
    # old shape's ``first(sig)`` buffers are non-fixed-width, which
    # forces SortAggregate (full sort of the wide collision rows on BOTH
    # sides of the exchange); with only primitive columns the dedup is a
    # map-side-combining HashAggregate and the exchange shuffles ~5% of
    # the bytes (guide §2.3/§2.4 — measured in OPTIMIZATION_r13.md).
    est = F.aggregate(
        F.zip_with("sig1", "sig2", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(num_hashes))
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            F.col("a.signature").alias("sig1"),
            F.col("b.signature").alias("sig2"),
        )
        .select("d1", "d2", F.round(est, 6).alias("est_jaccard"))
        .dropDuplicates(["d1", "d2"])
    )

    if not verify:
        return cand

    # Verify candidates with exact shingle Jaccard (only candidate pairs
    # are scored — the LSH join has already bounded the pair count).
    # Each doc's shingles collapse to ONE set row (groupBy over the
    # persisted ``sh``), and the intersection is a JVM array_intersect
    # per candidate pair — two candidate-sized joins instead of the old
    # candidates × shingles explode-join + re-aggregate (two shuffles
    # whose fan-out grows with document length; this shape's verify cost
    # is O(|candidates| · doc_len) flat).
    sets = pre_sets if pre_sets is not None else sh.groupBy(id_col).agg(
        F.collect_set("shingle").alias("S"), F.count(F.lit(1)).alias("sz")
    )
    s1 = sets.select(
        F.col(id_col).alias("d1"), F.col("S").alias("S1"), F.col("sz").alias("sz1")
    )
    s2 = sets.select(
        F.col(id_col).alias("d2"), F.col("S").alias("S2"), F.col("sz").alias("sz2")
    )
    inter = F.size(F.array_intersect("S1", "S2"))
    out = (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard", F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "est_jaccard", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


class MinHashIndex:
    """A built (optionally persisted) MinHash-LSH index — the
    operational 100 TB dedup shape (r10, VERDICT r9 #5): compute the
    corpus's signatures/band keys ONCE, persist them band-bucket-keyed,
    and dedup every future INCREMENT against the index without ever
    recomputing or reshuffling the corpus.

    ``bands``: ``(id, band_id, band_key)`` — flooded buckets already
    dropped at build time (every increment benefits from the cap).
    ``docs``: ``(id, signature, S, sz)`` — per-doc signature + hashed
    shingle set, what the estimate and exact-verify stages read.
    ``params``: the signature family (n, num_hashes, bands, seed,
    max_df, max_bucket) — an increment MUST hash with identical
    parameters or its band keys are meaningless against the index;
    :func:`dedup_against_index` therefore takes them from here, never
    from the caller.
    """

    def __init__(
        self, bands: DataFrame, docs: DataFrame, params: dict,
        id_col: str,
    ) -> None:
        self.bands = bands
        self.docs = docs
        self.params = params
        self.id_col = id_col


def minhash_index_build(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    max_df: int | None = None,
    max_bucket: int = 1000,
    ids_unique: bool = False,
    frames: "MinhashFrames | None" = None,
) -> MinHashIndex:
    """Build a :class:`MinHashIndex` from a corpus: one shingle scan
    feeds the signature aggregation, the band explode, and the per-doc
    shingle sets (the shared-scan doctrine of
    :func:`minhash_lsh_pairs`). Buckets larger than ``max_bucket`` are
    dropped HERE — the flood policy is a property of the index, so a
    later increment can't accidentally join a boilerplate bucket the
    one-shot pipeline would have refused.

    Note on ``max_df``: document frequency is computed over THIS
    corpus; an increment's df is computed over the increment alone
    (the index does not rescan on ingest). With ``max_df=None``
    (default) increment-vs-index pairs are bit-identical to the
    one-shot pipeline's cross-set pairs (pinned in pytest).

    ``frames`` (r13): precomputed :class:`MinhashFrames` over a
    superset of ``corpus`` — skips the shingle/signature/set passes
    (see the class docstring for the contract)."""
    dfr = _one_row_per_id(corpus, id_col, text_col, ids_unique)
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    if frames is not None:
        frames.check(n, num_hashes, seed, max_df, "minhash_index_build",
                     id_col=id_col, text_col=text_col)
        _, sig, pre_sets = frames.for_ids(dfr.select(id_col), id_col)
        sh = None
    else:
        pre_sets = None
        sh = _shingle_rows(dfr, id_col, text_col, n, max_df)
        sh = sh.localCheckpoint(eager=False)
        sig = minhash_signatures(
            dfr, id_col, text_col, n, num_hashes, seed, max_df, shingles=sh
        )
    band_rows = _band_rows(sig, bands, r, id_col)
    hot = (
        band_rows.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("__bsz"))
        .filter(F.col("__bsz") > max_bucket)
        .select("band_id", "band_key")
    )
    band_rows = band_rows.join(
        hot, ["band_id", "band_key"], "left_anti"
    ).select(id_col, "band_id", "band_key")
    sets = pre_sets if pre_sets is not None else sh.groupBy(id_col).agg(
        F.collect_set("shingle").alias("S"),
        F.count(F.lit(1)).alias("sz"),
    )
    # docs shorter than n words have no shingles, hence no signature
    # row either — they are absent from the index entirely (they can
    # never near-dup-match), same as the one-shot pipeline
    docs = sig.join(sets, id_col).select(id_col, "signature", "S", "sz")
    params = {
        "n": n, "num_hashes": num_hashes, "bands": bands, "seed": seed,
        "max_df": max_df, "max_bucket": max_bucket,
    }
    return MinHashIndex(band_rows, docs, params, id_col)


def minhash_index_save(
    index: MinHashIndex, table: str, buckets: int = 16,
    path: str | None = None,
) -> None:
    """Persist a :class:`MinHashIndex`: band rows go to a table
    BUCKETED on ``(band_id, band_key)`` and the doc side to
    ``<table>__docs`` bucketed on the id (the ``ivf_save`` pattern,
    ``operators/similarity.py``). Bucketing is the 100 TB move: the
    corpus's band rows are hash-laid-out by their join key ONCE at
    write time, so every future increment's probe join shuffles ONLY
    the increment — the index side reads co-located buckets with no
    exchange (asserted in tests/test_scale.py). ``<table>__meta``
    records the signature family so a later session reproduces the
    exact hashes. ``path`` keeps all three tables external; always
    overwrites (the append story is rebuild — signatures are
    corpus-independent, so rebuilding only re-hashes the new rows'
    text, never revisits old pair decisions)."""
    from flink_note_spark.operators.scale import write_bucketed

    spark = index.bands.sparkSession
    write_bucketed(
        index.bands, table, buckets, ["band_id", "band_key"],
        path=path, mode="overwrite",
    )
    write_bucketed(
        index.docs, f"{table}__docs", buckets, [index.id_col],
        path=f"{path}__docs" if path else None, mode="overwrite",
    )
    p = index.params
    meta = spark.createDataFrame(
        [(index.id_col, p["n"], p["num_hashes"], p["bands"], p["seed"],
          p["max_df"], p["max_bucket"], buckets)],
        "id_col string, n int, num_hashes int, bands int, seed int, "
        "max_df int, max_bucket int, table_buckets int",
    ).write.mode("overwrite")
    if path:
        meta = meta.option("path", f"{path}__meta")
    meta.saveAsTable(f"{table}__meta")


def minhash_index_register(
    spark, table: str, path: str, buckets: int | None = None
) -> MinHashIndex:
    """Re-register a persisted :func:`minhash_index_save` layout in a
    FRESH session's catalog (r12): ``saveAsTable`` records the bucket
    spec in the session catalog, which an in-memory metastore loses on
    restart — without re-registration the bucketed files still read,
    but every probe join pays the index-side exchange the layout
    exists to avoid. This reads the signature family from the
    ``{path}__meta`` parquet, issues ``CREATE TABLE ... USING PARQUET
    CLUSTERED BY ... INTO n BUCKETS LOCATION ...`` for the band and
    doc tables (Spark's bucketed file names carry their bucket ids, so
    declared metadata over existing files is exact), and returns the
    loaded index. ``buckets`` overrides for pre-r12 saves whose meta
    lacks ``table_buckets`` — passing a WRONG count would silently
    mis-bucket every future co-located join, so absent both it refuses.

    Idempotent per session: already-registered tables are left alone
    (the existing registration wins — re-declaring a live table would
    drop nothing but confuse readers mid-query)."""
    meta_df = spark.read.parquet(f"{path}__meta")
    rows = meta_df.collect()
    if len(rows) != 1:
        raise ValueError(
            f"minhash_index_register: {path}__meta has {len(rows)} "
            "rows — not a minhash_index_save layout"
        )
    m = rows[0].asDict()
    b = m.get("table_buckets") or buckets
    if not b:
        raise ValueError(
            "minhash_index_register: the meta predates r12 (no "
            "table_buckets column) — pass buckets= with the ORIGINAL "
            "save-time count (a wrong count silently mis-buckets "
            "every future co-located join)"
        )

    def _ddl_cols(p: str) -> str:
        return ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in spark.read.parquet(p).schema.fields
        )

    if not spark.catalog.tableExists(table):
        spark.sql(
            f"CREATE TABLE {table} ({_ddl_cols(path)}) USING PARQUET "
            f"CLUSTERED BY (band_id, band_key) INTO {int(b)} BUCKETS "
            f"LOCATION '{path}'"
        )
    if not spark.catalog.tableExists(f"{table}__docs"):
        spark.sql(
            f"CREATE TABLE {table}__docs ({_ddl_cols(f'{path}__docs')}) "
            f"USING PARQUET CLUSTERED BY ({m['id_col']}) INTO {int(b)} "
            f"BUCKETS LOCATION '{path}__docs'"
        )
    if not spark.catalog.tableExists(f"{table}__meta"):
        spark.sql(
            f"CREATE TABLE {table}__meta USING PARQUET "
            f"LOCATION '{path}__meta'"
        )
    return minhash_index_load(spark, table)


def minhash_index_load(spark, table: str) -> MinHashIndex:
    """Rebuild a :class:`MinHashIndex` from :func:`minhash_index_save`
    output — no text rescan, no signature recompute; both frames are
    the bucketed table scans. Refreshes the catalog's cached file
    listings first (r13 — the ``similarity._refresh_tables`` guard):
    appends from another session — the corpus stream's cloned
    micro-batch session, a concurrent ingest — invalidate only the
    writer's own relation cache, so a session that read the index
    BEFORE the append would otherwise silently probe the stale
    listing."""
    from flink_note_spark.operators.similarity import _refresh_tables

    _refresh_tables(spark, table, f"{table}__docs", f"{table}__meta")
    rows = spark.table(f"{table}__meta").collect()
    if len(rows) != 1:
        raise ValueError(
            f"minhash_index_load: meta table {table}__meta has "
            f"{len(rows)} rows — not a minhash_index_save output"
        )
    m = rows[0]
    params = {
        "n": m["n"], "num_hashes": m["num_hashes"], "bands": m["bands"],
        "seed": m["seed"], "max_df": m["max_df"],
        "max_bucket": m["max_bucket"],
    }
    return MinHashIndex(
        spark.table(table), spark.table(f"{table}__docs"), params,
        m["id_col"],
    )


def _table_buckets(spark, table: str) -> int:
    for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect():
        if (r["col_name"] or "").strip() == "Num Buckets":
            return int(r["data_type"])
    raise ValueError(f"{table} is not a bucketed table")


def minhash_index_append(
    increment: DataFrame,
    table: str,
    text_col: str = "text",
    ids_unique: bool = False,
) -> None:
    """Accrete an increment into a PERSISTED index IN PLACE (r10 — the
    100 TB operational loop closed: ``dedup_against_index(increment)``
    → drop the duplicates → ``minhash_index_append(survivors)``; no
    corpus rescan, no index rebuild, every existing byte untouched).

    The increment hashes with the INDEX's signature family (from the
    meta table — never the caller's parameters) and its band/doc rows
    write as ADDITIONAL bucketed files into the same tables — Spark's
    bucket layout is per-file, so the co-located probe-join property
    survives appends. Ids already present in the index refuse loudly
    (an appended duplicate id would double its band rows); the check
    reads only the bucketed doc-id column semi-joined to the
    (broadcastable) increment ids.

    Honest cap caveat: ``max_bucket`` flood-drops apply WITHIN each
    build — a bucket that becomes hot only through accretion keeps all
    its rows until the next full rebuild (the compaction story; the
    probe side still pays at most increment × bucket rows)."""
    spark = increment.sparkSession
    idx = minhash_index_load(spark, table)
    p = idx.params
    clash = (
        spark.table(f"{table}__docs")
        .select(idx.id_col)
        .join(
            F.broadcast(increment.select(idx.id_col).distinct()),
            idx.id_col,
            "semi",
        )
        .limit(5)
        .collect()
    )
    if clash:
        raise ValueError(
            "minhash_index_append: increment ids already in the index "
            f"(e.g. {[r[0] for r in clash]}) — appending them would "
            "double their band rows; dedup or re-key the increment"
        )
    inc = minhash_index_build(
        increment, idx.id_col, text_col,
        n=p["n"], num_hashes=p["num_hashes"], bands=p["bands"],
        seed=p["seed"], max_df=p["max_df"], max_bucket=p["max_bucket"],
        ids_unique=ids_unique,
    )
    from flink_note_spark.operators.scale import write_bucketed

    write_bucketed(
        inc.bands, table, _table_buckets(spark, table),
        ["band_id", "band_key"], mode="append",
    )
    write_bucketed(
        inc.docs, f"{table}__docs",
        _table_buckets(spark, f"{table}__docs"), [idx.id_col],
        mode="append",
    )


def dedup_against_index(
    increment: DataFrame,
    index: MinHashIndex,
    threshold: float = 0.5,
    text_col: str = "text",
    verify: bool = True,
    max_bucket: int | None = None,
    ids_unique: bool = False,
    frames: "MinhashFrames | None" = None,
) -> DataFrame:
    """Near-duplicate pairs between an INCREMENT and a persisted
    corpus index — the operational ingest-time shape: the corpus never
    recomputes. Output: ``d1`` (index id), ``d2`` (increment id),
    ``est_jaccard`` [, ``jaccard`` when ``verify``, filtered to
    ``>= threshold``]. Rows whose ids appear on BOTH sides (re-ingest
    of an already-indexed document) are excluded — they are exact
    re-registrations, not near-dup discoveries.

    Work per increment of m docs: one shingle+signature scan of the
    increment, ONE shuffle of its band rows onto the index's bucket
    layout (the index side reads co-located buckets, zero exchange —
    the bucketed-join contract), a candidate join bounded by the
    index's build-time bucket cap plus this call's ``max_bucket``
    (defaults to the index's), and two candidate-sized id joins for
    the estimate/verify columns. Signature parameters come from the
    index's meta — never from the caller."""
    p = index.params
    id_col = index.id_col
    n_h, bands = p["num_hashes"], p["bands"]
    r = n_h // bands
    cap = max_bucket if max_bucket is not None else p["max_bucket"]

    inc = _one_row_per_id(increment, id_col, text_col, ids_unique)
    if frames is not None:
        frames.check(
            p["n"], n_h, p["seed"], p["max_df"], "dedup_against_index",
            id_col=id_col, text_col=text_col, max_df_from_index=True,
        )
        _, sig, pre_sets2 = frames.for_ids(inc.select(id_col), id_col)
        sh = None
    else:
        pre_sets2 = None
        sh = _shingle_rows(inc, id_col, text_col, p["n"], p["max_df"])
        if verify:
            sh = sh.localCheckpoint(eager=False)
        sig = minhash_signatures(
            inc, id_col, text_col, p["n"], n_h, p["seed"], p["max_df"],
            shingles=sh,
        )
    inc_bands = _band_rows(sig, bands, r, id_col)
    hot = (
        inc_bands.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("__bsz"))
        .filter(F.col("__bsz") > cap)
        .select("band_id", "band_key")
    )
    inc_bands = inc_bands.join(
        hot, ["band_id", "band_key"], "left_anti"
    ).select(F.col(id_col).alias("d2"), "band_id", "band_key")

    ib = index.bands.select(
        F.col(id_col).alias("d1"), "band_id", "band_key"
    )
    cand = (
        ib.join(inc_bands, ["band_id", "band_key"])
        .filter(F.col("d1") != F.col("d2"))
        .select("d1", "d2")
        .dropDuplicates(["d1", "d2"])
    )

    docs1 = index.docs.select(
        F.col(id_col).alias("d1"),
        F.col("signature").alias("sig1"),
        F.col("S").alias("S1"),
        F.col("sz").alias("sz1"),
    )
    sets2 = (
        pre_sets2.select(
            id_col, F.col("S").alias("S2"), F.col("sz").alias("sz2")
        )
        if pre_sets2 is not None
        else sh.groupBy(id_col).agg(
            F.collect_set("shingle").alias("S2"),
            F.count(F.lit(1)).alias("sz2"),
        )
    )
    docs2 = sig.join(sets2, id_col).select(
        F.col(id_col).alias("d2"),
        F.col("signature").alias("sig2"),
        "S2",
        "sz2",
    )
    est = F.aggregate(
        F.zip_with("sig1", "sig2", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(n_h))
    out = (
        cand.join(docs1, "d1")
        .join(docs2, "d2")
        .withColumn("est_jaccard", F.round(est, 6))
    )
    if not verify:
        return out.select("d1", "d2", "est_jaccard")
    inter = F.size(F.array_intersect("S1", "S2"))
    return (
        out.withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("sz1") + F.col("sz2") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "d1", "d2", "est_jaccard", F.round("jaccard", 6).alias("jaccard")
        )
    )


def _simhash64_impl(texts: pd.Series) -> pd.Series:
    """64-bit SimHash of whitespace-tokenized text (Arrow-batched,
    numpy-vectorized bit voting).

    Token hash = pandas ``hash_array`` (SipHash-1-3 with pandas' fixed
    default key — deterministic across processes and workers,
    C-vectorized over the batch's DISTINCT tokens; repeated vocabulary
    is hashed once via ``np.unique``). Bit-voting per document is
    genuinely non-relational, so this is the sanctioned pandas-UDF
    escape hatch (SURVEY.md §2.1 M6 ``transform()`` analogue).

    Hot-path structure (r4 rewrite, ~20× on the sf0.1 batch): per-bit
    vote sums come from 64 ``np.bincount(doc_idx, weights=bit_j)``
    passes — O(tokens) memory per pass, never materializing the old
    (tokens × 64) int64 vote matrix whose allocation dominated the
    kernel (measured 2.7 s → 0.11 s on 270 k tokens). Votes are ±1 via
    the identity ``sum(2·bit−1) = 2·sum(bit) − n_tokens``; bit set iff
    votes > 0 — same contract as before, only the token-hash family
    changed (SimHash is defined up to the hash family).
    """
    import numpy as np

    n_docs = len(texts)
    # whitespace-run tokenization, shared with _shingle_rows and the
    # \s+-splitting text operators (ADVICE r5 consistency fix)
    toks_per_doc = [t.split() if t else [] for t in texts]
    lengths = np.fromiter(
        (len(t) for t in toks_per_doc), dtype=np.int64, count=n_docs
    )
    fp = np.zeros(n_docs, dtype=np.uint64)
    nonempty = lengths > 0

    if nonempty.any():
        all_toks = np.array(
            [tok for toks in toks_per_doc for tok in toks], dtype=object
        )
        uniq, inverse = np.unique(all_toks, return_inverse=True)
        uniq_h = pd.util.hash_array(uniq, categorize=False)   # uint64 (U,)
        docs_ne = np.flatnonzero(nonempty)
        remap = np.empty(n_docs, dtype=np.int64)
        remap[docs_ne] = np.arange(len(docs_ne))
        di = remap[np.repeat(np.arange(n_docs), lengths)]     # (T,) dense doc idx
        arange64 = np.arange(64, dtype=np.uint64)
        bits_small = (
            (uniq_h[:, None] >> arange64[None, :]) & np.uint64(1)
        ).astype(np.float64)                                  # (U, 64)
        sums = np.empty((len(docs_ne), 64), dtype=np.int64)
        for j in range(64):
            sums[:, j] = np.bincount(
                di, weights=bits_small[inverse, j], minlength=len(docs_ne)
            ).astype(np.int64)
        votes = 2 * sums - lengths[nonempty][:, None]         # (D+, 64)
        fp[nonempty] = (
            (votes > 0).astype(np.uint64) << arange64[None, :]
        ).sum(axis=1, dtype=np.uint64)

    return pd.Series(fp.view(np.int64), dtype="int64")


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash int64) per document."""
    # pandas_udf registration requires an active session → wrap lazily.
    udf = pandas_udf(_simhash64_impl, "long")
    df = _spread_for_python_stage(df.select(id_col, text_col))
    return df.select(F.col(id_col), udf(F.col(text_col)).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 1000,
    ids_unique: bool = False,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ max_hamming.

    Banding: split the 64-bit fingerprint into ``max_hamming + 1`` chunks —
    by pigeonhole, any pair within the distance agrees exactly on ≥1 chunk,
    so a chunk-key equi-join finds all such pairs with no cross join.
    Hamming distance is JVM ``bit_count(a XOR b)``.
    """
    # Fingerprints are one (id, int64) row per doc; the pair finder
    # checkpoints them lazily and its hot-bucket probe action doubles as
    # the materialization job, so the pandas-UDF voting stage runs ONCE
    # with no extra job (see simhash_pairs_from_fingerprints).
    fp = simhash_fingerprints(
        _one_row_per_id(df, id_col, text_col, ids_unique), id_col, text_col
    )
    return simhash_pairs_from_fingerprints(
        fp, id_col=id_col, max_hamming=max_hamming, max_bucket=max_bucket
    )


def simhash_pairs_from_fingerprints(
    fp: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Pair discovery half of :func:`simhash_pairs`, over a
    (id, 64-bit fingerprint) frame — exposed separately so flood-cap
    semantics are testable against constructed fingerprints, and so a
    precomputed/persisted fingerprint table can be re-paired cheaply.

    EAGERNESS NOTE: unlike the package's other operators this function
    runs bounded Spark jobs AT CONSTRUCTION (the lazy-checkpoint
    materialization + the hot-bucket probe below) — the returned frame
    reads a snapshot of the input taken now, and the plan shape is
    data-dependent (runtime adaptivity, same trade AQE makes). Callers
    wanting a fully lazy pipeline should not construct it until they
    mean to run it.

    Flood handling (r5, ADVICE r4 #1): each doc carries a bitmask of
    its SURVIVING (non-flood-capped) chunks, built from ``chunks``
    left joins of the one-row-per-doc frame against the small hot set
    (AQE broadcasts it; the joins replace the old band anti-join at
    the same cost shape). A pair is kept exactly where the FIRST chunk
    that (a) agrees and (b) survived the cap IN BOTH docs equals the
    current join chunk — a row-local predicate, so multi-chunk
    agreement needs no dedup shuffle, and a pair whose first agreeing
    chunk was flooded is still found through its first surviving one
    (the old code attributed such pairs to the flood and lost them —
    a recall hole under boilerplate floods). Pairs agreeing ONLY on
    capped chunks remain dropped: that is the cap's job.
    """
    chunks = max_hamming + 1
    width = 64 // chunks

    # LAZY localCheckpoint: the hot-bucket probe below is the first
    # action, so ONE job both materializes the (id, int64) fingerprint
    # blocks (pandas-UDF voting runs once) and answers the probe —
    # an eager checkpoint + separate probe was two sequential jobs,
    # measured +7% on q32 (BENCH_PAIRED r5). Every later branch (mask
    # joins, band explode, both self-join sides) reads the blocks.
    fp = fp.localCheckpoint(eager=False)

    def chunk_key(i: int):
        return F.shiftright(fp_col, i * width).bitwiseAND(F.lit((1 << width) - 1))

    raw_bands = fp.select(
        id_col,
        fp_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        chunk_key(i).alias("chunk_key"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("c"),
    ).select(id_col, fp_col, "c.chunk_id", "c.chunk_key")

    hot = (
        raw_bands.groupBy("chunk_id", "chunk_key")
        .agg(F.count(F.lit(1)).alias("__bsz"))
        .filter(F.col("__bsz") > max_bucket)
        .select("chunk_id", "chunk_key")
    )

    # Common case first: NO bucket is flooded (the cap exists for
    # pathological boilerplate, not the steady state). One bounded
    # action over the checkpointed fingerprint blocks (explode +
    # map-side-combinable count, short-circuited by the limit) decides
    # it; when empty, the whole cap apparatus — anti-join OR mask
    # joins — vanishes from the plan, which is FASTER than the old
    # unconditional anti-join (paired A/B: q32 0.77→0.65 s median).
    # This is the same runtime-adaptivity trade AQE makes: one cheap
    # probe buys the right plan.
    has_hot = hot.limit(1).count() > 0

    if not has_hot:
        bands = raw_bands
        survive_a = survive_b = None
    else:
        # Per-chunk hot membership on the ONE-ROW-PER-DOC frame:
        # `chunks` left joins against the (small in expectation,
        # unhinted — AQE broadcasts when measured size allows) hot set.
        # The big side never shuffles; the null-ness of each marker is
        # both the per-chunk survival filter AND the doc's
        # surviving-chunk bitmask.
        masked = fp
        for i in range(chunks):
            hot_i = hot.filter(F.col("chunk_id") == i).select(
                F.col("chunk_key").alias(f"__hk{i}"),
                F.lit(True).alias(f"__hot{i}"),
            )
            masked = masked.join(
                hot_i, chunk_key(i) == F.col(f"__hk{i}"), "left"
            ).drop(f"__hk{i}")
        mask = None
        for i in range(chunks):
            bit = F.when(
                F.col(f"__hot{i}").isNull(), F.lit(1 << i)
            ).otherwise(F.lit(0))
            mask = bit if mask is None else mask + bit

        bands = (
            masked.select(
                id_col,
                fp_col,
                mask.alias("__mask"),
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(i).alias("chunk_id"),
                                chunk_key(i).alias("chunk_key"),
                                F.col(f"__hot{i}").isNull().alias("keep"),
                            )
                            for i in range(chunks)
                        ]
                    )
                ).alias("c"),
            )
            .filter(F.col("c.keep"))
            .select(id_col, fp_col, "__mask", "c.chunk_id", "c.chunk_key")
        )
        survive_a = [
            F.col("a.__mask").bitwiseAND(F.lit(1 << i)) != 0
            for i in range(chunks)
        ]
        survive_b = [
            F.col("b.__mask").bitwiseAND(F.lit(1 << i)) != 0
            for i in range(chunks)
        ]

    a, b = bands.alias("a"), bands.alias("b")
    xor = F.col(f"a.{fp_col}").bitwiseXOR(F.col(f"b.{fp_col}"))
    # First agreeing chunk that SURVIVED in both docs (array_min skips
    # the NULLs of chunks that disagree or were capped on either side);
    # with no hot buckets every chunk survives and the predicate is the
    # pure xor-window test.
    def eligible(i: int):
        agree = (
            F.shiftright(xor, i * width).bitwiseAND(F.lit((1 << width) - 1))
            == 0
        )
        if survive_a is not None:
            agree = agree & survive_a[i] & survive_b[i]
        return F.when(agree, F.lit(i))

    first_agree = F.array_min(F.array(*[eligible(i) for i in range(chunks)]))
    out = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_key") == F.col("b.chunk_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(first_agree == F.col("a.chunk_id"))
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return out


def _lcg(seed: int):
    """Deterministic 63-bit LCG (no ``random`` module → reproducible
    across Python versions/processes)."""
    state = seed & ((1 << 63) - 1)
    while True:
        state = (6364136223846793005 * state + 1442695040888963407) & ((1 << 63) - 1)
        yield state


def dup_span_stats(
    docs: DataFrame,
    n: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level duplication statistics (r8): for every document,
    how much of it is covered by word ``n``-grams that occur at least
    ``min_count`` times ANYWHERE in the corpus (including elsewhere in
    the same document). This is the scalable approximation of
    suffix-array substring dedup ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022): a long duplicated
    passage is exactly a run of duplicated n-grams, so the covered-
    token fraction ranks boilerplate/templated docs for removal or
    down-weighting without building a distributed suffix array.

    Plan shape (the 100 TB posture): one POSITIONAL shingle scan (the
    ``_shingle_rows`` numpy kernel with positions kept and per-doc
    dedup dropped — occurrences, not sets), one map-side-combinable
    count over 8-byte hashed n-grams, one hash-keyed semi-ish join
    back (inner join against the ``count >= min_count`` survivors),
    then per-doc interval-union via ONE window pass: a duplicated gram
    at position ``p`` covers tokens ``[p, p+n)``; the union length is
    ``sum(max(0, p+n - max(p, prev_end)))`` where ``prev_end`` is the
    running max end over earlier dup positions — no per-token
    explosion, state is one long per row. Shuffles: gram-hash count,
    join, doc-keyed window — all well-distributed keys (the hot-gram
    skew lands on the COUNT side, which combines map-side; the join
    side fans out only to ``min(count, positions-in-doc)`` rows).

    Output: ``id_col, n_tokens, n_dup_grams, dup_tokens,
    dup_fraction`` (rounded 6; 0.0 for docs with no duplicated gram,
    NULL for empty docs). Tokenization is the engine-wide whitespace-
    run split (``functions.scalar.words`` doctrine).
    """
    if n < 1 or min_count < 2:
        raise ValueError(
            f"need n >= 1 and min_count >= 2, got n={n} "
            f"min_count={min_count}"
        )
    dup = _positional_dup_rows(docs, n, min_count, id_col, text_col)
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per = (
        dup.withColumn("__prev_end", F.max(F.col("pos") + n).over(w_prev))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_grams"),
            F.sum(
                F.greatest(
                    F.lit(0).cast("long"),
                    F.col("pos") + n - F.greatest(
                        F.col("pos"),
                        F.coalesce(F.col("__prev_end"), F.col("pos")),
                    ),
                )
            ).alias("dup_tokens"),
        )
    )
    n_tok = F.size(
        F.filter(words(text_col), lambda x: x != F.lit(""))
    ).cast("long")
    return (
        docs.select(id_col, n_tok.alias("n_tokens"))
        .join(per, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_dup_grams", F.lit(0).cast("long")).alias(
                "n_dup_grams"
            ),
            F.coalesce("dup_tokens", F.lit(0).cast("long")).alias(
                "dup_tokens"
            ),
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.coalesce("dup_tokens", F.lit(0).cast("long"))
                    / F.col("n_tokens"),
                    6,
                ),
            ).alias("dup_fraction"),
        )
    )


def _positional_dup_rows(
    docs: DataFrame,
    n: int,
    min_count: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The shared positional-duplication kernel (factored r10 — serves
    :func:`dup_span_stats` and :func:`remove_dup_spans`): one
    positional shingle scan, one map-side-combinable count over 8-byte
    hashed n-grams, one inner join against the ``count >= min_count``
    survivors. Returns ``(id_col, pos)`` — every n-gram start position
    whose gram is duplicated corpus-wide."""
    id_type = dict(docs.dtypes)[id_col]

    def shingler(batches):
        import numpy as np

        for pdf in batches:
            n_docs = len(pdf)
            if not n_docs:
                continue
            toks_per_doc = [t.split() if t else [] for t in pdf[text_col]]
            lengths = np.fromiter(
                (len(t) for t in toks_per_doc), dtype=np.int64,
                count=n_docs,
            )
            counts = np.maximum(lengths - (n - 1), 0)
            total = int(counts.sum())
            if not total:
                continue
            all_toks = np.array(
                [tok for toks in toks_per_doc for tok in toks],
                dtype=object,
            )
            doc_starts = np.concatenate(([0], np.cumsum(lengths)))[:-1]
            sh_csum = np.concatenate(([0], np.cumsum(counts)))
            offset = np.arange(total) - np.repeat(sh_csum[:-1], counts)
            pos = np.repeat(doc_starts, counts) + offset
            sh = all_toks[pos]
            for j in range(1, n):
                sh = sh + " " + all_toks[pos + j]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy().repeat(counts),
                    "pos": offset,
                    "shingle": sh,
                }
            )

    pg = (
        _spread_for_python_stage(docs.select(id_col, text_col))
        .mapInPandas(
            shingler, f"{id_col} {id_type}, pos long, shingle string"
        )
        .select(id_col, "pos", F.xxhash64("shingle").alias("shingle"))
    )
    # Both the corpus-wide count and the join's left side read these
    # rows — materialize once (24-byte longs) so the Python shingler
    # runs ONCE, not once per plan branch (r13 optimization round: the
    # unshared plan carried two identical MapInPandas nodes over the
    # same scan — the exact shape the r5 q31 fix removed there; paired
    # A/B in OPTIMIZATION_r13.md).
    pg = _computed_once(pg)
    cnt = pg.groupBy("shingle").agg(F.count(F.lit(1)).alias("__c"))
    return pg.join(
        cnt.filter(F.col("__c") >= min_count).select("shingle"),
        "shingle",
    ).select(id_col, "pos")


def remove_dup_spans(
    docs: DataFrame,
    n: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """Cross-document duplicated-substring REMOVAL (r10) — the
    transform half of the Lee et al. 2022 ExactSubstr result that
    :func:`dup_span_stats` only measures: every token covered by a
    word ``n``-gram occurring at least ``min_count`` times corpus-wide
    is DROPPED from every document (the aggressive boilerplate strip:
    no canonical-occurrence election, which would need a global
    occurrence ordering; rank-and-keep pipelines use
    :func:`dup_span_stats` + a threshold instead).

    Plan shape: the shared :func:`_positional_dup_rows` kernel (one
    positional shingle scan + one combinable gram count + one join),
    then per-doc reconstruction WITHOUT a per-token shuffle: dup
    positions collect per doc (bounded by doc length), merge into
    disjoint intervals with one Catalyst array fold, and the token
    filter is a two-arg lambda (``exists`` over MERGED intervals — a
    boilerplate-heavy doc has few merged intervals even when it has
    many duplicated grams). One groupBy(doc) shuffle carrying (doc,
    pos) longs, one doc-keyed join back to the text; text itself
    shuffles once in that join, never per token.

    Output: input columns plus ``out_col`` (tokens joined by one
    space; token-boundary whitespace is NOT preserved — the engine
    tokenization doctrine), ``n_tokens``, ``n_kept_tokens``. Documents
    with nothing duplicated pass through with ``out_col`` = the
    space-normalized token join.
    """
    if n < 1 or min_count < 2:
        raise ValueError(
            f"need n >= 1 and min_count >= 2, got n={n} "
            f"min_count={min_count}"
        )
    dup = _positional_dup_rows(docs, n, min_count, id_col, text_col)
    dps = dup.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("__dps")
    )
    toks = F.filter(words(text_col), lambda x: x != F.lit(""))
    # merge sorted start positions into disjoint [s, e) intervals:
    # one array fold, extending the last interval when p <= its end
    ivs = F.expr(
        f"""aggregate(
              __dps,
              cast(array() as array<struct<s: bigint, e: bigint>>),
              (acc, p) -> CASE
                WHEN size(acc) > 0 AND p <= element_at(acc, -1).e THEN
                  concat(
                    slice(acc, 1, size(acc) - 1),
                    array(named_struct(
                      's', element_at(acc, -1).s,
                      'e', greatest(element_at(acc, -1).e,
                                    p + {n}))))
                ELSE concat(acc, array(named_struct(
                       's', cast(p as bigint),
                       'e', cast(p + {n} as bigint))))
              END)"""
    )
    joined = (
        docs.join(dps, id_col, "left")
        .withColumn("__toks", toks)
        .withColumn(
            "__ivs",
            F.when(F.col("__dps").isNotNull(), ivs).otherwise(
                F.expr(
                    "cast(array() as array<struct<s: bigint, e: bigint>>)"
                )
            ),
        )
    )
    kept = F.filter(
        F.col("__toks"),
        lambda _x, i: ~F.exists(
            F.col("__ivs"),
            lambda iv: (i.cast("long") >= iv["s"])
            & (i.cast("long") < iv["e"]),
        ),
    )
    return (
        joined.withColumn("__kept", kept)
        .select(
            *[c for c in docs.columns],
            F.array_join("__kept", " ").alias(out_col),
            F.size("__toks").cast("long").alias("n_tokens"),
            F.size("__kept").cast("long").alias("n_kept_tokens"),
        )
    )


def split_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Explode documents into ordered paragraphs — the input shape
    :func:`paragraph_dedup` consumes: ``id_col, pos (0-based), para``.
    Pure Catalyst (one ``split`` + ``posexplode``), empty paragraphs
    dropped, positions keep the ORIGINAL order so reassembly is exact.
    Zero shuffles — a flatMap at scan speed."""
    paras = F.filter(
        F.split(F.col(text_col), F.lit(sep), -1),
        lambda p: F.trim(p) != "",
    )
    return docs.select(
        F.col(id_col),
        F.posexplode(paras).alias("pos", "para"),
    )


def paragraph_dedup(
    paras: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    para_col: str = "para",
    sep: str = "\n\n",
    normalize: bool = True,
    min_len: int = 0,
) -> DataFrame:
    """Paragraph-level exact deduplication across the WHOLE corpus —
    the RefinedWeb/FineWeb boilerplate-removal pass (late-r10): a
    paragraph that occurs anywhere else in the corpus (headers,
    footers, cookie banners, license blurbs — or repeated inside one
    document) survives only at its FIRST occurrence in ``(id, pos)``
    order; every later copy is dropped and the documents are
    reassembled from their surviving paragraphs in original order.

    Input is the exploded shape :func:`split_paragraphs` produces
    (``id_col, pos_col, para_col``) so callers can source paragraphs
    from any splitter — separator-based, the token-window chunker
    (:func:`operators.text.chunk_documents`), or a sentence model.

    Semantics:

    - the duplicate KEY is ``md5(normalized paragraph)`` —
      ``normalize=True`` lowers, trims, and collapses internal
      whitespace (formatting noise must not hide boilerplate);
    - paragraphs shorter than ``min_len`` NORMALIZED characters are
      exempt (never dropped, never claim a first-occurrence slot) —
      one-word paragraphs repeat by chance, not by boilerplate;
    - documents whose every paragraph was dropped disappear from the
      output (the empty document is useless downstream — count them
      as ``n_docs_in − n_docs_out``).

    Output: ``id_col, text (reassembled with sep), n_kept,
    n_dropped``.

    Scale shape: one keyed window shuffle on the 128-bit paragraph
    digest (first-occurrence choice; map-side nothing to combine, but
    the key space is bounded by distinct paragraphs) + one groupBy
    shuffle on ``id_col`` for reassembly. Paragraph text rides both
    shuffles — at 100 TB, when rows are wide and duplication is rare,
    dedup the (digest, id, pos) projection first and semi-join
    survivors back instead (the :func:`exact_dedup` doctrine); this
    operator is the right shape when the output IS the surviving
    corpus. Never a cross join; hot boilerplate keys concentrate on
    ONE reducer only for the window pass, bounded by that paragraph's
    corpus frequency — salt-and-pick-min twice if a single paragraph
    dominates a partition."""
    norm = F.col(para_col)
    if normalize:
        norm = F.regexp_replace(F.trim(F.lower(norm)), r"\s+", " ")
    keyed = paras.select(
        F.col(id_col), F.col(pos_col), F.col(para_col),
        F.md5(norm).alias("__pkey"),
        F.length(norm).alias("__plen"),
    )
    w = Window.partitionBy("__pkey").orderBy(id_col, pos_col)
    flagged = keyed.select(
        id_col, pos_col, para_col,
        (
            (F.row_number().over(w) == 1)
            | (F.col("__plen") < min_len)
        ).alias("__keep"),
    )
    # the keep flag rides into ONE reassembly groupBy (dropped rows
    # filter inside the collected array) — two keyed shuffles total,
    # no join back to the input
    kept_structs = F.filter(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(pos_col).alias("p"),
                    F.col(para_col).alias("t"),
                    F.col("__keep").alias("k"),
                )
            )
        ),
        lambda s: s["k"],
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(kept_structs, lambda s: s["t"]), sep
            ).alias("text"),
            F.sum(F.col("__keep").cast("long")).alias("n_kept"),
            F.sum(
                (~F.col("__keep")).cast("long")
            ).alias("n_dropped"),
        )
        .filter(F.col("n_kept") > 0)
    )
