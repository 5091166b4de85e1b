#!/usr/bin/env python
"""Scale probe for the five heavy r13 headline rows (VERDICT r13 #6).

At sf0.1 those rows are barrier-bound — their 8c/32c bench ratios sit
at 0.42–0.69 (8 cores beats 32), so the driver bench cannot rank
further work on them. This probe stages a K×-replicated corpus as a
REAL sf directory (``documents.parquet/`` and ``embeddings.parquet/``
table directories, 32 files each so scans parallelize) and times the
UNMODIFIED registry queries against it — q52/q77/q96/q117/q139 run
exactly as the driver runs them, just over K× the data.

Replication preserves the workload model (linear output growth):

- documents: ids shift per replica; every word is suffixed with ``_``
  and the replica index (``scale_probe.replicate`` salt_text rationale — docs
  inside one replica keep their near-dup/ngram relationships, docs
  across replicas share no grams, so pair counts grow K×, not K²×).
- embeddings: ids shift per replica; every replica applies its own
  deterministic ±1 sign pattern elementwise (``xxhash64(rep, i)``
  parity). Within a replica both pair vectors flip the same signs, so
  their cosine — and the SRP bucket co-occurrence structure — is
  PRESERVED; across replicas the sign products are random ±1, driving
  cosine to ≈N(0, 1/√dim) ≪ the 0.9 near-dup threshold, so q52's pair
  set grows K× (naive copies would near-dup-match their own twins,
  K²× — the workload explosion, not the plan).

Run it twice to get the scaling ratio the bench cannot see::

    SPARK_GRAFT_CPUS=32 python tools/heavy_scale_probe.py 10
    SPARK_GRAFT_CPUS=8  python tools/heavy_scale_probe.py 10

Prints one JSON line: {"k": K, "cpus": N, "stage_sec": ..,
"queries": {name: best_sec, ...}}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from flink_note_spark.queries import QUERIES  # noqa: E402
from flink_note_spark.session import get_spark, load_table  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
HEAVY = [
    "q96_ngram_novelty",
    "q77_split_decontaminate",
    "q117_dup_spans",
    "q139_remove_dup_spans",
    "q52_lsh_embedding_near_dup",
]
STRIDE = 10_000_000


def _replicated(df, k: int, id_col: str):
    reps = df.crossJoin(
        F.broadcast(df.sparkSession.range(k).withColumnRenamed("id", "__rep"))
    )
    return reps.withColumn(
        id_col,
        (F.col(id_col) + F.col("__rep") * STRIDE).cast(dict(df.dtypes)[id_col]),
    )


def stage(spark, k: int, out_dir: str) -> None:
    docs = _replicated(load_table(spark, SF_DIR, "documents"), k, "doc_id")
    docs = docs.withColumn(
        "text",
        F.array_join(
            F.transform(
                F.split("text", " "),
                # non-digit separator: a bare index would let 'x'+'10'
                # and 'x1'+'0' collide, sharing shingles across replicas
                lambda w: F.concat(w, F.lit("_"), F.col("__rep").cast("string")),
            ),
            " ",
        ),
    ).drop("__rep")
    docs.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )

    emb = _replicated(load_table(spark, SF_DIR, "embeddings"), k, "vec_id")
    # per-replica elementwise sign flip; CASE keeps the element type
    flip = F.transform(
        "embedding",
        lambda x, i: F.when(
            F.pmod(F.xxhash64(F.col("__rep"), i), F.lit(2)) == 0, x
        ).otherwise(-x),
    )
    emb = emb.withColumn("embedding", flip).drop("__rep")
    emb.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("heavy-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="heavy_scale_")
    try:
        t0 = time.perf_counter()
        stage(spark, k, tmp)
        stage_sec = round(time.perf_counter() - t0, 1)

        timings: dict[str, float] = {}
        for name in HEAVY:
            spark.sparkContext.setJobDescription(f"heavy_probe:{name}")
            fn = QUERIES[name]
            fn(spark, tmp).write.format("noop").mode("overwrite").save()  # warm
            best = float("inf")
            for _ in range(2):
                import gc

                gc.collect()
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                fn(spark, tmp).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 2)
            spark.sparkContext.setJobDescription(None)
        print(json.dumps({
            "k": k,
            "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
            "stage_sec": stage_sec,
            "queries": timings,
        }), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
