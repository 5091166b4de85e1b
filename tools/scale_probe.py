#!/usr/bin/env python
"""Scale probe: measure how the headline operators scale with input size.

Replicates the sf0.1 corpus K× (fresh ids, multi-file parquet so scans
parallelize across cores — unlike the single-row-group driver fixtures)
and times representative operators at 1× and K×. A time ratio well below
K demonstrates that the per-query scheduling floor (BASELINE.md) and
single-file scan serialization dominate the sf0.1 bench numbers — i.e.
the plans are compute-efficient and the overhead amortizes with scale,
which is the 100 TB posture claim made concrete.

Usage: python tools/scale_probe.py [K]   (default K=8; prints one JSON line)
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from flink_note_spark.operators.dedup import (  # noqa: E402
    exact_dedup,
    minhash_lsh_pairs,
    simhash_pairs,
)
from flink_note_spark.operators.cogroup import cogroup_apply  # noqa: E402
from flink_note_spark.operators.components import connected_components  # noqa: E402
from flink_note_spark.operators.joins import asof_join  # noqa: E402
from flink_note_spark.operators.packing import pack_sequences  # noqa: E402
from flink_note_spark.operators.scale import salted_join  # noqa: E402
from flink_note_spark.operators.similarity import (  # noqa: E402
    cosine_topk,
    ivf_topk,
)
from flink_note_spark.operators.text import language_id  # noqa: E402
from flink_note_spark.session import get_spark, load_table  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def _latency_enrich_fn(pdf):
    """Deterministic fake service: 50 ms latency per batch call, then a
    trivial projection (module-level for executor pickling)."""
    import time as _time

    import pandas as pd

    _time.sleep(0.05)
    return pd.DataFrame({"text_len": pdf["text"].str.len().astype("int32")})


def replicate(df, k: int, shifts: dict[str, int], out_path: str,
              salt_text: bool = False):
    """K copies with disjoint ids, written as 32 files (parallel scans).

    ``shifts`` maps each key column to its per-replica stride; shifting
    every key column of every table by the SAME per-replica offsets keeps
    foreign keys consistent WITHIN a replica and disjoint ACROSS replicas,
    so join outputs grow linearly with K (the real-corpus-growth model).

    ``salt_text`` suffixes every WORD with ``_`` and the replica index
    (the non-digit separator keeps 'x'+'10' and 'x1'+'0' apart): documents
    inside one replica keep their near-dup relationships, documents
    across replicas share no shingles — so the near-dup PAIR count grows
    linearly with K, modeling real corpus growth. (Naive replication
    makes every doc an exact duplicate of its K−1 copies, growing pairs
    quadratically — that measures the workload explosion, not the plan.)
    """
    reps = df.crossJoin(
        F.broadcast(
            df.sparkSession.range(k).withColumnRenamed("id", "__rep")
        )
    )
    for col, stride in shifts.items():
        reps = reps.withColumn(
            col, (F.col(col) + F.col("__rep") * stride).cast(dict(df.dtypes)[col])
        )
    if salt_text:
        reps = reps.withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split("text", " "),
                    lambda w: F.concat(w, F.lit("_"), F.col("__rep").cast("string")),
                ),
                " ",
            ),
        )
    reps = reps.drop("__rep")
    reps.repartition(32).write.mode("overwrite").parquet(out_path)
    return out_path


_SPARK = None  # set in main(); lets bench() reach the JVM for GC


def _drop_dead_blocks():
    """Free executor blocks owned by already-GC'd localCheckpoint frames
    (ContextCleaner only releases them after a GC notices the dead
    references): without this, ops benched later in the run inherit the
    earlier ops' block-manager pressure and measure slower — observed as
    up to ±45% drift on the last probes of a run."""
    import gc

    gc.collect()
    if _SPARK is not None:
        _SPARK.sparkContext._jvm.System.gc()


#: ``--only op1,op2`` restricts the run to matching shape prefixes —
#: the per-round re-probe discipline (re-measure only the shapes whose
#: code changed; BASELINE.md carries the full-sweep history)
ONLY: set | None = None


def bench(label, fn, timings, runs=2):
    if ONLY is not None and not any(
        label == o or label.startswith(f"{o}_") for o in ONLY
    ):
        return
    _drop_dead_blocks()
    fn()  # warm
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    timings[label] = round(best, 3)


def main() -> None:
    global _SPARK, ONLY
    argv = list(sys.argv[1:])
    if "--only" in argv:
        i = argv.index("--only")
        ONLY = set(argv[i + 1].split(","))
        del argv[i:i + 2]
    k = int(argv[0]) if argv else 8
    spark = _SPARK = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="scale_probe_")

    def _selected(*ops) -> bool:
        return ONLY is None or bool(ONLY & set(ops))

    _DOC_OPS = (
        "exact_dedup", "minhash_lsh", "simhash", "components",
        "packing", "language_id", "cosine_topk", "ivf_topk",
        "ivf_lifecycle", "pq_lifecycle", "ivfpq_lifecycle", "pq_topk",
        "corpus", "decontaminate", "tfidf", "corpus_full", "dup_span",
        "enrich",
        "remove_spans", "ccnet_exact", "ccnet_thresholds", "sdecon",
    )
    _REL_OPS = ("join", "window", "agg", "salted", "cogroup", "zorder")

    docs1 = load_table(spark, SF_DIR, "documents")
    emb1 = load_table(spark, SF_DIR, "embeddings")
    docs_k = emb_k = None
    if _selected(*_DOC_OPS):
        docs_k = spark.read.parquet(
            replicate(docs1, k, {"doc_id": 10_000_000}, f"{tmp}/docs_k", salt_text=True)
        )
        emb_k = spark.read.parquet(
            replicate(emb1, k, {"vec_id": 10_000_000}, f"{tmp}/emb_k")
        )
    # TPC-H relational trio for the join/window/agg probes — key columns
    # shift together so FKs stay intra-replica (join output grows ~K×).
    STRIDE = 10_000_000
    cust1 = load_table(spark, SF_DIR, "customer")
    ord1 = load_table(spark, SF_DIR, "orders")
    li1 = load_table(spark, SF_DIR, "lineitem")
    cust_k = ord_k = li_k = None
    if _selected(*_REL_OPS):
        cust_k = spark.read.parquet(
            replicate(cust1, k, {"c_custkey": STRIDE}, f"{tmp}/cust_k")
        )
        ord_k = spark.read.parquet(
            replicate(
                ord1, k, {"o_orderkey": STRIDE, "o_custkey": STRIDE}, f"{tmp}/ord_k"
            )
        )
        li_k = spark.read.parquet(
            replicate(li1, k, {"l_orderkey": STRIDE}, f"{tmp}/li_k")
        )

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def join_probe(cust, orders, li):
        """q03-shaped: filtered dim → two FK equi-joins → grouped agg.
        No broadcast hint — AQE decides from measured sizes (the same
        contract queries/relational.py q03 follows since round 4)."""
        return (
            cust.filter(F.col("c_mktsegment") == "BUILDING")
            .join(orders, F.col("c_custkey") == F.col("o_custkey"))
            .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(
                F.sum(
                    F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
                ).alias("revenue")
            )
        )

    def window_probe(li):
        """q42-shaped: six analytic functions sharing one
        partitionBy(l_orderkey) sort."""
        from pyspark.sql.window import Window

        w = Window.partitionBy("l_orderkey").orderBy(
            F.col("l_extendedprice").desc(), F.col("l_linenumber")
        )
        return li.select(
            "l_orderkey",
            "l_linenumber",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.lead("l_extendedprice", 1).over(w).alias("next_price"),
            F.percent_rank().over(w).alias("prank"),
            F.cume_dist().over(w).alias("cdist"),
        )

    def agg_probe(li):
        """q01-shaped: full-scan groupBy with map-side-combinable aggs."""
        return li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("n"),
        )

    def salted_probe(li, orders):
        """Skew-mitigation shape: force EVERY lineitem row onto one hot
        orderkey (worst case even AQE splitting can't fix when the key
        is hot on both shuffle sides), then salt it across 16 sub-keys.
        Output size = |li| × matches for the hot key — bounded by taking
        one orders row per key on the small side."""
        hot = li.withColumn("l_orderkey", F.lit(1).cast("long"))
        one = (
            orders.orderBy("o_orderkey")
            .limit(1)
            .withColumn("l_orderkey", F.lit(1).cast("long"))
            .drop("o_orderkey")
        )
        return (
            salted_join(hot, one, "l_orderkey", salt_buckets=16)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )

    def ivf_probe(emb):
        q = emb.filter(F.col("vec_id") < 10)
        return ivf_topk(q, emb, k=5, n_cells=16, n_probe=4, iters=1)

    def ivf_lifecycle_probe(emb, tag):
        """r13 persisted-index loop end-to-end: build on half the
        corpus, save bucketed, append the other half against the saved
        centroids, load, partial-probe query. The append's work is
        increment-proportional (one Arrow assignment pass + bucketed
        file append — no corpus rescan), so the e2e ratio at K× should
        track the build+save cost, not K× the append."""
        from flink_note_spark.operators.similarity import (
            ivf_build, ivf_index_append, ivf_load, ivf_query, ivf_save,
        )

        table = f"probe_ivf_{tag}"
        for t_ in (table, f"{table}__centroids", f"{table}__meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t_}")
        idx = ivf_build(
            emb.filter(F.col("vec_id") % 2 == 0), n_cells=16, iters=1
        )
        ivf_save(idx, table, buckets=8, path=f"{tmp}/ivf_{tag}_{time.monotonic_ns()}")
        ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1), table)
        q = emb.filter(F.col("vec_id") < 10)
        return ivf_query(ivf_load(spark, table), q, k=5, n_probe=4)

    def pq_lifecycle_probe(emb, tag):
        """r13 PQ persisted-index loop end-to-end (the ivf_lifecycle
        shape for the ADC family): build codebooks on half, save,
        encode+append the other half, load, partial-shortlist query."""
        from flink_note_spark.operators.similarity import (
            pq_build, pq_index_append, pq_load, pq_query, pq_save,
        )

        table = f"probe_pq_{tag}"
        for t_ in (table, f"{table}__codebooks"):
            spark.sql(f"DROP TABLE IF EXISTS {t_}")
        idx = pq_build(
            emb.filter(F.col("vec_id") % 2 == 0), m=8, n_codes=16, iters=1
        )
        pq_save(idx, table, path=f"{tmp}/pq_{tag}_{time.monotonic_ns()}")
        pq_index_append(emb.filter(F.col("vec_id") % 2 == 1), table)
        q = emb.filter(F.col("vec_id") < 10)
        return pq_query(pq_load(spark, table), q, k=5, shortlist=50)

    def ivfpq_lifecycle_probe(emb, tag):
        """r13 IVF-PQ persisted-index loop end-to-end: build on half,
        save bucketed, assign+encode+append the other half, load,
        partial-probe partial-shortlist query."""
        from flink_note_spark.operators.similarity import (
            ivfpq_build, ivfpq_index_append, ivfpq_load, ivfpq_query,
            ivfpq_save,
        )

        table = f"probe_ivfpq_{tag}"
        for t_ in (table, f"{table}__centroids", f"{table}__codebooks",
                   f"{table}__meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t_}")
        idx = ivfpq_build(
            emb.filter(F.col("vec_id") % 2 == 0), n_cells=16, m=8,
            n_codes=16, iters=1,
        )
        ivfpq_save(idx, table, buckets=8,
                   path=f"{tmp}/ivfpq_{tag}_{time.monotonic_ns()}")
        ivfpq_index_append(emb.filter(F.col("vec_id") % 2 == 1), table)
        q = emb.filter(F.col("vec_id") < 10)
        return ivfpq_query(ivfpq_load(spark, table), q, k=5, n_probe=4,
                           shortlist=50)

    def pq_probe(emb):
        """PQ/ADC shape: codebook training (1 iter) + encode + ADC
        scoring of the code column + exact shortlist re-rank."""
        from flink_note_spark.operators.similarity import pq_topk

        q = emb.filter(F.col("vec_id") < 10)
        return pq_topk(
            q, emb, k=5, m=8, n_codes=16, shortlist=50, iters=1,
        )

    def components_probe(d):
        """Pure clustering cost, decoupled from pair generation: a
        synthetic edge list with 8-node chains (so the star rounds do
        real transitive work) plus cross-replica islands — edge count
        scales linearly with the corpus."""
        ids = d.select(F.col("doc_id").alias("d1"))
        edges = ids.withColumn(
            "d2",
            F.when(F.pmod("d1", F.lit(8)) != 0, F.col("d1") - 1).otherwise(
                F.col("d1")
            ),
        ).filter(F.col("d1") != F.col("d2"))
        return connected_components(edges)

    def packing_probe(d):
        return pack_sequences(
            d.withColumn("n_tokens", F.size(F.split("text", " "))),
            tokens_col="n_tokens",
            budget=2048,
        )

    def asof_probe(ev):
        """q27-shape at probe scale: every event picks up the latest
        'reference' event (every 10th) for its user — one keyed window,
        no join explosion."""
        left = ev.select("user_id", "ts", "event_id", "value")
        right = (
            ev.filter(F.pmod("event_id", F.lit(10)) == 0)
            .select("user_id", "ts", F.col("value").alias("ref_value"))
        )
        return asof_join(
            left, right, on="user_id", left_time="ts", right_time="ts"
        )

    def decontaminate_probe(d):
        """q73-shape: every 50th doc plays the eval set; the corpus is
        scrubbed of any 5-gram overlap. Both shingle kernels and the
        semi/anti joins scale with the corpus; the benchmark side stays
        2% of it (the realistic regime — eval sets don't grow with the
        training corpus)."""
        from flink_note_spark.operators.dedup import decontaminate

        bench_docs = d.filter(F.pmod("doc_id", F.lit(50)) == 0).select(
            "doc_id", "text"
        )
        return decontaminate(d, bench_docs, n=5).select("doc_id")

    def cep_group_probe(ev):
        """r11 group-pattern shape: (view next click){1,2} strict — the
        block-variant UNION (2- and 4-step lead chains realigned); cost
        should track the sum of the per-variant engines, each a single
        lead() window pass, so the ratio mirrors cep_strict."""
        from flink_note_spark.operators.cep import match_pattern

        return match_pattern(
            ev,
            [{
                "group": [
                    {"type": "view"}, {"type": "click", "mode": "strict"},
                ],
                "times": 1, "times_max": 2, "mode": "strict",
            }],
            within="7 days", contiguity="strict", tiebreak=["event_id"],
        )

    def cep_group_loop_probe(ev):
        """r12 group one_or_more shape: (view next click)+ strict within
        — the OUTPUT-PROPORTIONAL fast path (pair-start predicate at
        the scan, gaps-and-islands runs, bounded sequence explode, one
        co-partitioned join for last-iteration timestamps); the ratio
        should track the scan + the genuine match count, never the
        bound × engines the union path pays."""
        from flink_note_spark.operators.cep import match_pattern

        return match_pattern(
            ev,
            [{
                "group": [
                    {"type": "view"}, {"type": "click", "mode": "strict"},
                ],
                "loop": True, "mode": "strict",
            }],
            within="7 days", contiguity="strict", tiebreak=["event_id"],
        )

    def retention_probe(ev):
        """q148-shape weekly cohort retention: distinct (user, week)
        agg → per-user min (cohort) → one join + count-distinct matrix
        — three combine-shrunk exchanges, output O(cohorts × weeks)."""
        from flink_note_spark.operators.timeseries import retention_cohorts

        return retention_cohorts(ev, "user_id", "ts", "1 week")

    def cep_probe(ev):
        """q68-shape strict-contiguity CEP over the events stream: one
        lead() window pass per key."""
        from flink_note_spark.operators.cep import match_pattern

        return match_pattern(
            ev, ["view", "click", "purchase"], within="7 days",
            contiguity="strict", tiebreak=["event_id"],
        )

    def cep_relaxed_probe(ev):
        """q69-shape RELAXED CEP (followedBy): k−1 union + running-min
        window passes, every pass shuffling on the same key — the probe
        verifies the exchange-reuse claim holds as data grows (cost
        should track the sort passes, not k× full rescans)."""
        from flink_note_spark.operators.cep import match_pattern

        return match_pattern(
            ev, ["view", "click", "purchase"], within="7 days",
            contiguity="relaxed",
        )

    def cep_noskip_probe(ev):
        """q100-shape NO_SKIP prefix emission (r7): the relaxed loop's
        ordered-window pass instead of the group-agg — output fan-out
        is every prefix, so time should track the (honest) output
        size, never a cross join."""
        from flink_note_spark.operators.cep import Pattern, match_pattern

        pat = (
            Pattern.begin("view")
            .followed_by("click").one_or_more()
            .within("7 days")
            .skip("no_skip")
        )
        return match_pattern(ev, pat)

    def mr_probe(ev):
        """q114-shape MATCH_RECOGNIZE V-pattern (r8): disjoint defines
        take the probed greedy fast path (no every-prefix explosion),
        so cost should track the strict-segments engine's window
        passes + the two payload joins, all key-partitioned."""
        from flink_note_spark.operators.match_recognize import (
            match_recognize,
        )

        return match_recognize(
            ev.select("user_id", "ts", "value", "event_id"),
            partition_by="user_id", order_by="ts",
            pattern="STRT DOWN+ UP",
            define={"STRT": "value >= 100", "DOWN": "value < 80",
                    "UP": "value >= 150"},
            measures={"s": "STRT.ts", "n": "COUNT(DOWN.*)",
                      "u": "UP.value"},
            after_match="skip to next row", within="7 days",
            tiebreak=["event_id"],
        )

    def wtopn_probe(ev):
        """q115-shape Window Top-N (r8): one row_number pass over
        (window, type) — the shuffle key cardinality grows with the
        window count, so partitions stay balanced as data grows."""
        from flink_note_spark.operators.windows import window_top_n

        return window_top_n(
            ev, "ts", "1 day",
            [F.col("value").desc(), F.col("event_id").asc()],
            n=3, partition_cols=["event_type"],
        )

    def dspan_probe(d):
        """q117-shape duplicated-span stats (r8): positional gram scan
        + hashed count + join-back + one interval-union window — cost
        should track the gram volume (~tokens), never pairs."""
        from flink_note_spark.operators.dedup import dup_span_stats

        return dup_span_stats(d, n=5, min_count=2)

    def temporal_probe(ev):
        """q103-shape temporal/versioned join (r7): clicks against the
        per-user purchase-version dimension via the union_window asof
        kernel — one keyed shuffle, cost should track the sort, not a
        versions-per-key fan-out."""
        from flink_note_spark.operators.joins import temporal_join

        fact = ev.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("click_ts")
        )
        dim = ev.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("vfrom"),
            F.col("value").alias("price"),
        )
        return temporal_join(
            fact, dim, on="user_id", fact_time="click_ts",
            valid_from="vfrom", how="inner", strategy="union_window",
        )

    def enrich_probe(d, concurrency):
        """AsyncDataStream analogue on a LATENCY-INJECTED service (50 ms
        per batch call, the I/O-bound regime the thread pool exists
        for): same data, concurrency 1 vs 4 — the speedup, not a data
        ratio, is the probe's claim (Flink unorderedWait capacity)."""
        from flink_note_spark.operators.enrich import batched_enrich

        # 4 partitions × ~13 batches each (5 k docs / 4 / 100): enough
        # in-flight batches per partition for the pool to overlap —
        # 32 partitions × 1000-row batches left ~2 batches each,
        # nothing to pipeline, and measured only 1.25–1.45×
        return batched_enrich(
            d.select("doc_id", "text").coalesce(4),
            _latency_enrich_fn,
            "text_len int",
            max_concurrency=concurrency,
            ordered=False,
            batch_rows=100,
        )

    def route_probe(events_dir):
        """route_to_sinks end-to-end: one availableNow streaming pass of
        the events parquet fanned to three sinks with ONE upstream
        materialization per batch — scaling should track the single
        read, not 3× it."""
        import uuid

        from flink_note_spark.streaming.ops import route_to_sinks

        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string"
            ).parquet(events_dir)
        )
        sink = lambda df, bid: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        writer = route_to_sinks(
            stream,
            {
                "errors": F.col("event_type") == "error",
                "whales": F.col("value") > 300,
            },
            {"errors": sink, "whales": sink, "main": sink},
            checkpoint=f"{tmp}/route_ckpt_{uuid.uuid4().hex[:8]}",
        )
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()

    def cep_mixed_probe(ev):
        """q93-shape MIXED contiguity on the positional engine: one
        row_number pass + a (key,pos) equi-join for the strict step +
        one struct-min window pass for the relaxed step."""
        from flink_note_spark.operators.cep import Pattern, match_pattern

        p = (
            Pattern.begin("view").next("click").followed_by("purchase")
            .within("7 days")
        )
        return match_pattern(ev, p, tiebreak=["event_id"])

    def upsert_probe(ev):
        """q135-shape changelog compaction (r10): ONE max_by aggregate
        per key — map-side combine shrinks the exchange to one
        candidate per (partition, key), so the ratio should track the
        scan, never a per-key history sort."""
        from flink_note_spark.operators.changelog import upsert_latest

        return upsert_latest(
            ev, ["user_id"], version_col="ts", tiebreak="event_id"
        )

    def gapfill_probe(ev):
        """q144-shape dense resample (late-r10): one map-side-combinable
        bucket agg + one keyed window/explode — spine rows are emitted,
        never joined, so the ratio should track the scan + one keyed
        sort of O(buckets) rows (buckets grow with the time span, which
        replication keeps FIXED — the gap explode is scale-free here)."""
        from flink_note_spark.operators.timeseries import gapfill

        return gapfill(
            ev, ["event_type"], "ts", "30 minutes",
            aggs={"n": F.count(F.lit(1)), "s": F.sum("value")},
            fills={"n": "zero", "s": "locf"},
        )

    def rollup_probe(ev):
        """q146-shape continuous-aggregate cascade (late-r10): three
        keyed re-aggs, the first map-side-combinable over raw events
        and the other two over O(buckets) partial rows — the ratio
        should track the first agg alone."""
        from flink_note_spark.operators.timeseries import (
            rollup_finalize, rollup_partials, rollup_up,
        )

        m = {
            "n": ("*", "count"), "s": ("value", "sum"),
            "mn": ("value", "min"), "mx": ("value", "max"),
            "du": ("user_id", "approx_distinct"),
        }
        fine = rollup_partials(ev, ["event_type"], "ts", "15 minutes", m)
        return rollup_finalize(
            rollup_up(rollup_up(fine, ["event_type"], "1 hour", m),
                      ["event_type"], "1 day", m),
            ["event_type"], m,
        )

    def concurrency_probe(ev):
        """q147-shape bucketed sweep-line (late-r10): explode to 2n
        boundary rows, per-(key, time-bucket) offset aggregate, then
        running sums per bounded partition — worst task is the bucket
        span regardless of key skew, so the ratio should track the
        boundary sort."""
        from flink_note_spark.functions.scalar import epoch_us
        from flink_note_spark.operators.timeseries import max_concurrency

        start = epoch_us("ts")
        end = epoch_us("ts") + F.floor(F.col("value") * F.lit(1e6)).cast("long")
        return max_concurrency(
            ev, ["event_type"], start, end,
            tiebreak="event_id", time_buckets=32,
        )

    def lttb_probe(ev):
        """q149-shape LTTB downsample (late-r10): bucket-centroid agg +
        tiny lag/lead window + one keyed join back + per-(key, bucket)
        row_number — the join's small side is O(buckets), so the ratio
        should track the centroid agg + the pick window sort."""
        from flink_note_spark.operators.timeseries import lttb_downsample

        return lttb_downsample(
            ev, ["event_type"], "ts", "value", "1 day", tiebreak="event_id"
        )

    def zorder_probe(orders):
        """q137-shape Z-order clustering (r10): one O(cols) min/max
        agg + one range exchange on the Morton value — the cost of any
        global sort, growing with the data, not with the bit math."""
        from flink_note_spark.operators.layout import zorder_repartition

        o = orders.select(
            F.col("o_custkey").cast("long").alias("c1"),
            F.col("o_orderkey").cast("long").alias("c2"),
        )
        return zorder_repartition(o, ["c1", "c2"], num_partitions=32)

    def remove_spans_probe(d):
        """q139-shape ExactSubstr strip (r10): the q117 positional
        kernel + one per-doc collect_list + the interval-merge fold —
        cost should track gram volume like dup_span, plus one
        doc-keyed shuffle of positions (longs, never text twice)."""
        from flink_note_spark.operators.dedup import remove_dup_spans

        return remove_dup_spans(d, n=5, min_count=2).select(
            "doc_id", "n_kept_tokens"
        )

    def ccnet_probe(d, mode):
        """q133-shape CCNet bucketing (r10): the unigram-logprob aggs
        plus either the per-language ntile window (exact — the mode
        whose dominant-language sort is the documented scale risk) or
        the percentile-threshold broadcast (the production shape)."""
        from flink_note_spark.operators.text import perplexity_buckets

        return perplexity_buckets(
            d, "text", "doc_id", "lang", 3, mode=mode
        ).groupBy("lang", "bucket").count()

    def sdecon_probe(e):
        """q141-shape embedding decontamination (r10): benchmark
        broadcast + ONE mapInPandas matmul over the corpus — zero
        shuffles, the ratio should be pure scan/matmul."""
        from flink_note_spark.operators.similarity import (
            semantic_decontaminate,
        )

        bench_df = e.filter(F.pmod("vec_id", F.lit(50)) == 0)
        corp = e.filter(F.pmod("vec_id", F.lit(50)) != 0)
        return semantic_decontaminate(
            corp, bench_df, threshold=0.35, keep_contaminated=True
        ).select("vec_id", "bench_max_sim")

    def cogroup_probe(cust, orders):
        """CoGroupFunction shape: whole per-key groups from both sides
        meet in one pandas call (outer groups included). Key cardinality
        is FIXED at 1024 buckets so the probe scales the axis that
        matters at 100 TB — rows per group crossing the Arrow boundary —
        not the per-call Python overhead (which is linear in key count
        by construction: 15 k raw keys measured 23 s at x1, pure
        function-call mass)."""
        import pandas as pd

        left = cust.select(
            F.pmod("c_custkey", F.lit(1024)).alias("k"), "c_acctbal"
        )
        right = orders.select(
            F.pmod("o_custkey", F.lit(1024)).alias("k"), "o_totalprice"
        )

        def summarize(lg: pd.DataFrame, rg: pd.DataFrame) -> pd.DataFrame:
            key = lg["k"].iloc[0] if len(lg) else rg["k"].iloc[0]
            return pd.DataFrame(
                {
                    "k": [key],
                    "n_orders": [len(rg)],
                    "acctbal": [float(lg["c_acctbal"].sum())],
                    "spend": [float(rg["o_totalprice"].sum())],
                }
            )

        return cogroup_apply(
            left, right, ["k"], summarize,
            "k long, n_orders long, acctbal double, spend double",
        )

    def sessionize_probe(events_dir):
        """Streaming stateful sessionization (applyInPandasWithState)
        end-to-end: availableNow over the replicated events parquet,
        fresh checkpoint per run so every invocation re-processes the
        corpus; timed to sink-drain."""
        import uuid

        from flink_note_spark.streaming.ops import stateful_sessionize

        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string"
            ).parquet(events_dir)
        )
        sess = stateful_sessionize(
            stream, key="user_id", ts_col="ts", gap="6 minutes",
            watermark="5 minutes",
        )
        q = (
            sess.writeStream.format("noop")
            .option(
                "checkpointLocation",
                f"{tmp}/sess_ckpt_{uuid.uuid4().hex[:8]}",
            )
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def sessionize_jvm_probe(events_dir):
        """The pure-JVM twin for the plain gap-only case (r10, VERDICT
        r9 #9): builtin ``session_window`` aggregation — same sessions
        (start/end/count per key) with NO Python state dispatch. The
        ratio vs ``sessionize`` isolates the applyInPandasWithState
        framework constants; custom per-key logic still needs the
        stateful operator."""
        import uuid

        from flink_note_spark.streaming.ops import session_window_agg

        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string"
            ).parquet(events_dir)
        )
        sess = session_window_agg(
            stream, "ts", "6 minutes", "5 minutes", ["user_id"],
            [F.count(F.lit(1)).alias("n_events"),
             F.max("ts").alias("last_ts")],
        )
        q = (
            sess.writeStream.format("noop")
            .option(
                "checkpointLocation",
                f"{tmp}/sessjvm_ckpt_{uuid.uuid4().hex[:8]}",
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def corpus_probe(d):
        """The composed prepare_training_corpus pipeline: curate →
        MinHash-LSH near-dup collapse (connected components) → hash
        split — the full multi-stage flow, not one operator."""
        from flink_note_spark.pipelines.curate import (
            CurationConfig,
            prepare_training_corpus,
        )

        return prepare_training_corpus(
            d, "text", "doc_id",
            CurationConfig(min_words=5, max_stop_ratio=0.9),
            near_dup_threshold=0.4,
        )

    def corpus_full_probe(d):
        """The r5 five-stage flow: PII redaction → curate → repetition
        gate → LSH collapse → 5-gram decontamination vs a 2% eval
        subset → hash split (the q84 composition plus LSH)."""
        from flink_note_spark.pipelines.curate import (
            CurationConfig,
            prepare_training_corpus,
        )

        bench_docs = d.filter(F.pmod("doc_id", F.lit(50)) == 0).select(
            "doc_id", "text"
        )
        return prepare_training_corpus(
            d, "text", "doc_id",
            CurationConfig(min_words=5, max_stop_ratio=0.9),
            near_dup_threshold=0.4,
            pii_redact=True,
            max_dup_word_ratio=0.9,
            benchmark=bench_docs,
        )

    def tfidf_probe(d):
        """Corpus-statistics join shape: per-doc TF-IDF top terms — two
        map-side-combinable aggs + a token-keyed join + per-doc
        window."""
        from flink_note_spark.operators.text import tfidf_top_terms

        return tfidf_top_terms(d, "text", "doc_id", k=3)

    # Events for the asof/sessionize probes: the x1 side is ALSO written
    # through replicate (k=1) so both scales stream probe-written parquet
    # with identical (micro-truncated) timestamp encoding and multi-file
    # layout.
    ev = load_table(spark, SF_DIR, "events")
    ev1_dir = replicate(
        ev, 1, {"event_id": STRIDE, "user_id": STRIDE}, f"{tmp}/ev_1"
    )
    ev_k_dir = replicate(
        ev, k, {"event_id": STRIDE, "user_id": STRIDE}, f"{tmp}/ev_k"
    )
    ev1x = spark.read.parquet(ev1_dir)
    ev_kx = spark.read.parquet(ev_k_dir)

    t: dict[str, float] = {}
    for tag, c, o, l in (("x1", cust1, ord1, li1), (f"x{k}", cust_k, ord_k, li_k)):
        if c is None:
            continue  # relational group not replicated under --only
        bench(f"join_{tag}", lambda c=c, o=o, l=l: noop(join_probe(c, o, l)), t)
        bench(f"window_{tag}", lambda l=l: noop(window_probe(l)), t)
        bench(f"agg_{tag}", lambda l=l: noop(agg_probe(l)), t)
        bench(f"salted_{tag}", lambda l=l, o=o: noop(salted_probe(l, o)), t)
        bench(f"cogroup_{tag}", lambda c=c, o=o: noop(cogroup_probe(c, o)), t)
        bench(f"zorder_{tag}", lambda o=o: noop(zorder_probe(o)), t)
    for tag, evdf, evdir in (("x1", ev1x, ev1_dir), (f"x{k}", ev_kx, ev_k_dir)):
        bench(f"asof_{tag}", lambda e=evdf: noop(asof_probe(e)), t)
        bench(f"sessionize_{tag}", lambda d=evdir: sessionize_probe(d), t)
        bench(
            f"sessionize_jvm_{tag}",
            lambda d=evdir: sessionize_jvm_probe(d), t,
        )
    for tag, d, e in (("x1", docs1, emb1), (f"x{k}", docs_k, emb_k)):
        if d is None:
            continue  # documents group not replicated under --only
        bench(f"exact_dedup_{tag}", lambda d=d: noop(exact_dedup(d, "text", "doc_id")), t)
        bench(
            f"minhash_lsh_{tag}",
            lambda d=d: noop(
                minhash_lsh_pairs(
                    d, "doc_id", "text", n=3, num_hashes=32, bands=8,
                    threshold=0.4, max_df=5000, verify=True,
                )
            ),
            t,
        )
        bench(f"simhash_{tag}", lambda d=d: noop(simhash_pairs(d, "doc_id", "text")), t)
        bench(f"components_{tag}", lambda d=d: noop(components_probe(d)), t)
        bench(f"packing_{tag}", lambda d=d: noop(packing_probe(d)), t)
        bench(f"language_id_{tag}", lambda d=d: noop(
            language_id(d, "text").groupBy("lang_pred").count()
        ), t)
        q = e.filter(F.col("vec_id") < 10)
        bench(
            f"cosine_topk_{tag}",
            lambda q=q, e=e: noop(cosine_topk(q, e, k=5)),
            t,
        )
        bench(f"ivf_topk_{tag}", lambda e=e: noop(ivf_probe(e)), t)
        bench(
            f"ivf_lifecycle_{tag}",
            lambda e=e, tag=tag: noop(ivf_lifecycle_probe(e, tag)), t,
        )
        bench(
            f"pq_lifecycle_{tag}",
            lambda e=e, tag=tag: noop(pq_lifecycle_probe(e, tag)), t,
        )
        bench(
            f"ivfpq_lifecycle_{tag}",
            lambda e=e, tag=tag: noop(ivfpq_lifecycle_probe(e, tag)), t,
        )
        bench(f"pq_topk_{tag}", lambda e=e: noop(pq_probe(e)), t)
        bench(f"corpus_{tag}", lambda d=d: noop(corpus_probe(d)), t)
        bench(f"decontaminate_{tag}", lambda d=d: noop(decontaminate_probe(d)), t)
        bench(f"tfidf_{tag}", lambda d=d: noop(tfidf_probe(d)), t)
        bench(f"corpus_full_{tag}", lambda d=d: noop(corpus_full_probe(d)), t)
        bench(f"dup_span_{tag}", lambda d=d: noop(dspan_probe(d)), t)
        bench(f"remove_spans_{tag}", lambda d=d: noop(remove_spans_probe(d)), t)
        bench(f"ccnet_exact_{tag}", lambda d=d: noop(ccnet_probe(d, "exact")), t)
        bench(f"ccnet_thresholds_{tag}", lambda d=d: noop(ccnet_probe(d, "thresholds")), t)
        bench(f"sdecon_{tag}", lambda e=e: noop(sdecon_probe(e)), t)
    for tag, evdf in (("x1", ev1x), (f"x{k}", ev_kx)):
        bench(f"cep_strict_{tag}", lambda e=evdf: noop(cep_probe(e)), t)
        bench(f"cep_group_{tag}", lambda e=evdf: noop(cep_group_probe(e)), t)
        bench(
            f"cep_group_loop_{tag}",
            lambda e=evdf: noop(cep_group_loop_probe(e)), t,
        )
        bench(f"retention_{tag}", lambda e=evdf: noop(retention_probe(e)), t)
        bench(f"cep_relaxed_{tag}", lambda e=evdf: noop(cep_relaxed_probe(e)), t)
        bench(f"cep_mixed_{tag}", lambda e=evdf: noop(cep_mixed_probe(e)), t)
        bench(f"cep_noskip_{tag}", lambda e=evdf: noop(cep_noskip_probe(e)), t)
        bench(f"temporal_{tag}", lambda e=evdf: noop(temporal_probe(e)), t)
        bench(f"upsert_{tag}", lambda e=evdf: noop(upsert_probe(e)), t)
        bench(f"match_recognize_{tag}", lambda e=evdf: noop(mr_probe(e)), t)
        bench(f"window_topn_{tag}", lambda e=evdf: noop(wtopn_probe(e)), t)
        bench(f"gapfill_{tag}", lambda e=evdf: noop(gapfill_probe(e)), t)
        bench(f"rollup_{tag}", lambda e=evdf: noop(rollup_probe(e)), t)
        bench(f"concurrency_{tag}", lambda e=evdf: noop(concurrency_probe(e)), t)
        bench(f"lttb_{tag}", lambda e=evdf: noop(lttb_probe(e)), t)
    for tag, evdir in (("x1", ev1_dir), (f"x{k}", ev_k_dir)):
        bench(f"route_{tag}", lambda d=evdir: route_probe(d), t)
    # concurrency axis (same x1 data, 1 vs 4 in-flight batches): the
    # claim is SPEEDUP on a latency-injected service, not a data ratio
    bench("enrich_c1", lambda: noop(enrich_probe(docs1, 1)), t)
    bench("enrich_c4", lambda: noop(enrich_probe(docs1, 4)), t)

    ratios = {
        op: round(t[f"{op}_x{k}"] / t[f"{op}_x1"], 2)
        for op in (
            "join", "window", "agg", "salted", "cogroup",
            "asof", "sessionize", "sessionize_jvm",
            "exact_dedup", "minhash_lsh", "simhash", "components",
            "packing", "language_id", "cosine_topk", "ivf_topk",
        "ivf_lifecycle", "pq_lifecycle", "ivfpq_lifecycle", "pq_topk",
            "corpus",
            "decontaminate", "cep_strict", "cep_relaxed", "cep_mixed",
            "cep_noskip", "cep_group", "temporal",
            "match_recognize", "window_topn", "dup_span",
            "route", "tfidf", "corpus_full",
            "upsert", "zorder", "remove_spans",
            "ccnet_exact", "ccnet_thresholds", "sdecon",
            "gapfill", "rollup", "concurrency", "lttb",
            "cep_group_loop", "retention",
        )
        if f"{op}_x1" in t and f"{op}_x{k}" in t
    }
    out = {
        "k": k,
        "timings_sec": t,
        "time_ratio_at_kx_data": ratios,
    }
    if "enrich_c1" in t and "enrich_c4" in t:
        out["enrich_concurrency_speedup"] = round(
            t["enrich_c1"] / t["enrich_c4"], 2
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
