"""Closed-loop batch workloads: a fixed mix of registry rows, one untimed
warm-up pass whose outputs are kept for the reference checks, then a
fixed number of whole timed passes that fill about the run length."""

from __future__ import annotations

import gc
import math
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from flink_note_spark.pipelines.curate import prepare_training_corpus
from flink_note_spark.queries import ORACLES, QUERIES
from flink_note_spark.session import load_table

import cpu
import oracles

EVENTS_ROWS = (
    "q22 q23 q26 q27 q45 q68 q88 q93 q100 q103 q108 q110 q114 q123 q135 "
    "q144 q146"
).split()
CORPUS_ROWS = "q29 q31 q32 q33 q35 q39 q52 q73 q77 q96 q117 q139".split()
CURATE = "prepare_training_corpus"
#: the curate op's benchmark set and decontamination n-gram length
CURATE_BENCH_MOD = 50
CURATE_N = 5
CURATE_SPLITS = {"train": 0.98, "val": 0.01, "test": 0.01}
#: a run makes one timed pass per this many seconds of ``--seconds``,
#: rounded up: 2 at 20 s (an ``events_batch`` pass takes 8-14 s on a
#: 4-core machine, a ``corpus_batch`` pass about twice that). The count
#: is the same on every commit and host: a count that followed the
#: clock would flip between runs when the host slows, and the first
#: timed pass still runs 10-40% slower than the second as the JIT warms.
SECONDS_PER_PASS = 10.0


def _full_name(prefix: str) -> str:
    (name,) = [n for n in QUERIES if n.startswith(prefix + "_")]
    return name


def _curate(spark, table_dir):
    d = load_table(spark, table_dir, "documents")
    bench = d.filter(F.pmod("doc_id", F.lit(CURATE_BENCH_MOD)) == 0).select(
        "doc_id", "text"
    )
    return prepare_training_corpus(
        d, near_dup_threshold=0.7, benchmark=bench,
        decontaminate_n=CURATE_N, splits=CURATE_SPLITS,
    )


def ops_for(workload: str, size) -> list[tuple[str, object, int]]:
    """``(name, build(spark, table_dir) -> DataFrame, input rows)``."""
    if workload == "events_batch":
        return [(_full_name(p), QUERIES[_full_name(p)], size.events) for p in EVENTS_ROWS]
    ops = []
    for p in CORPUS_ROWS:
        name = _full_name(p)
        rows = size.embeddings if p in ("q33", "q52") else size.documents
        ops.append((name, QUERIES[name], rows))
    ops.append((CURATE, _curate, size.documents))
    return ops


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def check_output(name: str, pdf, con, tables) -> list[str]:
    """Reference check for one op's output (see oracles.py)."""
    if name in ORACLES:
        return oracles.oracle_check(con, ORACLES[name], pdf)
    if name.startswith("q31_"):
        return oracles.precision_recall(
            oracles.pair_set(pdf), oracles.jaccard_exact(con), "q31")
    if name.startswith("q32_"):
        docs = tables["documents"]
        return oracles.check_simhash_pairs(
            oracles.pair_set(pdf), docs["doc_id"].to_numpy(), list(docs["text"]))
    if name.startswith("q52_"):
        emb = tables["embeddings"]
        vecs = np.stack(emb["embedding"].to_numpy())
        return oracles.check_cosine_pairs(
            oracles.pair_set(pdf), emb["vec_id"].to_numpy(), vecs)
    if name == CURATE:
        docs = tables["documents"]
        bench = docs[docs["doc_id"] % CURATE_BENCH_MOD == 0]["text"].tolist()
        return oracles.check_corpus(pdf, docs, bench, CURATE_N, CURATE_SPLITS)
    return [f"{name}: no reference check"]


def run(ctx, workload: str) -> dict:
    spark, table_dir = ctx.spark, ctx.table_dir
    ops = ops_for(workload, ctx.size)

    # warm-up pass: untimed, outputs kept for the checks
    t0 = time.perf_counter()
    outputs, raised = {}, {}
    for name, build, _ in ops:
        try:
            outputs[name] = build(spark, table_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — counted as a failed op
            raised[name] = f"{type(e).__name__}: {e}"
    ctx.outputs = outputs
    gc.collect()
    ctx.layers["session.warmup_s"] = time.perf_counter() - t0
    ctx.mark_setup_done()

    tracer = ctx.tracer
    modules = {name: tracer.modules_of(build) for name, build, _ in ops} if tracer else {}
    samples: dict[str, list[float]] = {name: [] for name, _, _ in ops}
    pass_s: list[float] = []
    pass_cpu: list[float] = []
    per_pass_layers: list[dict[str, float]] = []
    n_passes = max(1, math.ceil(ctx.seconds / SECONDS_PER_PASS))
    probe = cpu.SpeedProbe().start()
    try:
        for i_pass in range(n_passes):
            layer = {}
            op_s = op_cpu = 0.0
            for name, build, _ in ops:
                if tracer:
                    tracer.begin_op(f"{name}#{i_pass}")
                c = cpu.tree_cpu_s()
                t = time.perf_counter()
                try:
                    df = build(spark, table_dir)
                    t_built = time.perf_counter()
                    _force(df)
                except Exception as e:  # noqa: BLE001 — counted as a failed op
                    raised.setdefault(name, f"{type(e).__name__}: {e}")
                    continue
                dt = time.perf_counter() - t
                dc = cpu.tree_cpu_s() - c
                samples[name].append(dt)
                op_s += dt
                op_cpu += dc
                if tracer:
                    tracer.end_op(layer, dt, t_built - t, modules[name])
                del df
            # a pass is the sum of its executions, so the traced run's
            # bookkeeping between them is not counted
            pass_s.append(op_s)
            pass_cpu.append(op_cpu)
            per_pass_layers.append(layer)
            gc.collect()
    finally:
        probe.stop()

    # reference checks, outside the timed region
    problems: dict[str, list[str]] = {}
    tables = ctx.tables_pandas()
    con = ctx.duck()
    for name, pdf in outputs.items():
        p = check_output(name, pdf, con, tables)
        if p:
            problems[name] = p
    wrong = set(problems)
    for name, err in raised.items():
        problems.setdefault(name, []).append(f"raised {err}")
    # every execution of an op whose output is wrong or that raised
    # counts as failed, so the failed share is the same in every run
    attempted = len(ops) * n_passes
    failed = n_passes * len(problems)

    all_ms = [s * 1e3 for v in samples.values() for s in v]
    med_ms = [statistics.median(v) * 1e3 for v in samples.values() if v]
    rows_per_pass = sum(r for _, _, r in ops)
    # CPU and wall times at the reference host's speed (cpu.SpeedProbe)
    metrics = {
        "cpu_us_per_row": sum(pass_cpu) / (rows_per_pass * n_passes) * 1e6 * probe.cpu_scale,
        "op_ms_geomean": (math.exp(sum(math.log(m) for m in med_ms) / len(med_ms)) * probe.wall_scale
                          if med_ms else math.nan),
    }
    if tracer:
        ctx.layers.update(_median_layers(per_pass_layers))
    info = {
        "passes": n_passes,
        # wall-clock figures, not rescaled: recorded, not gated (they
        # follow the host's speed)
        "wall_rows_per_s": round(rows_per_pass / statistics.median(pass_s), 1),
        "wall_op_ms_p50": round(statistics.median(all_ms), 1) if all_ms else None,
        "wall_op_ms_p90": round(_p90(all_ms), 1) if all_ms else None,
        "wall_op_ms_geomean": (round(math.exp(sum(math.log(m) for m in med_ms) / len(med_ms)), 1)
                               if med_ms else None),
        "pass_s": sorted(round(p, 4) for p in pass_s),
        "pass_cpu_s": [round(p, 3) for p in pass_cpu],
        "speed_scale_cpu": round(probe.cpu_scale, 4),
        "speed_scale_wall": round(probe.wall_scale, 4),
        "probe_steal_share": round(probe.steal_share, 4),
        "probe_wall_ms": round(statistics.mean(probe.wall_ms), 3),
        "probe_loops": len(probe.cpu_ms),
        "cpu_s": round(sum(pass_cpu), 3),
        "samples": len(all_ms),
        "per_op_median_ms": {n: round(statistics.median(v) * 1e3, 1) for n, v in samples.items() if v},
        "problems": problems,
    }
    return {
        "attempted": attempted, "failed": failed,
        "correct": not wrong,
        "metrics": metrics, "info": info,
    }


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else math.nan
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _median_layers(per_pass: list[dict[str, float]]) -> dict[str, float]:
    keys = set().union(*per_pass) if per_pass else set()
    return {k: float(statistics.median(p.get(k, 0.0) for p in per_pass)) for k in keys}
