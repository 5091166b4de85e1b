"""Stream workloads: a CEP pattern through ``pattern_stream_start`` over a
file stream of generated events, in two phases.

0. Warm-up: the first ``FILES_PER_TRIGGER`` files, one micro-batch;
   set-up ends when it is done.
1. Closed-loop drain: the rest of ``DRAIN_FILES`` files appear at once
   and are read ``FILES_PER_TRIGGER`` at a time as fast as the engine
   goes.
2. Open loop: one generator thread writes a file of ``OPEN_FILE_ROWS``
   events every ``OPEN_INTERVAL_S`` on a fixed schedule, whatever the
   engine does; the schedule is a constant, never derived from a
   measurement.

CPU time and the host's speed are measured from the drain's start to
the sentinel's slot; emit latency over the open loop.

A final sentinel event pushes the watermark past every match, so the
emitted set must equal the batch oracle over all generated events.
"""

from __future__ import annotations

import bisect
import datetime as dt
import math
import os
import statistics
import threading
import time

import numpy as np

import cpu
import gen
import oracles

SPEC = gen.StreamSpec()
DRAIN_FILES = 80
FILES_PER_TRIGGER = 10
#: open loop: one file of OPEN_FILE_ROWS events every OPEN_INTERVAL_S
#: (200 rows/s) for OPEN_SHARE of ``--seconds``. A file costs a
#: micro-batch plus the no-data micro-batch that emits its matches,
#: about half the interval on a 4-core machine, so the engine idles
#: between files. Files every 0.5 s kept it busy over 90% of the time,
#: where latency grew twice as fast as the host slowed.
OPEN_INTERVAL_S = 5.0
OPEN_FILE_ROWS = 1000
OPEN_SHARE = 0.9
TINY_DRAIN_FILES = 20
FINAL_TIMEOUT_S = 60.0


def _relaxed():
    return ["view", "click", "purchase"]


def _loop():
    from flink_note_spark.operators.cep import Pattern

    return (
        Pattern.begin("view")
        .followed_by("click").one_or_more().until("purchase")
        .followed_by("purchase")
        .within(SPEC.within)
    )


#: workload → (pattern factory, pattern_stream_start kwargs, oracle row,
#: stream output columns, oracle columns in the same order)
PATTERNS = {
    "cep_stream": (
        _relaxed, {"contiguity": "relaxed"}, "q69_event_pattern_relaxed",
        ["user_id", "ts_1", "ts_2", "ts_3"],
        ["user_id", "start_ts", "click_ts", "end_ts"],
    ),
    "cep_stream_loop": (
        _loop, {}, "q88_cep_one_or_more",
        ["user_id", "ts_1", "ts_2", "ts_2_last", "n_2", "ts_3"],
        ["user_id", "start_ts", "first_click", "last_click", "n_clicks", "end_ts"],
    ),
}


def _iso_us(text: str) -> int:
    t = dt.datetime.strptime(text.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
    return int(t.timestamp()) * 1_000_000 + t.microsecond


class Progress:
    """Merges ``recentProgress`` snapshots by batch id (the query keeps
    only the most recent ones)."""

    def __init__(self):
        self.by_batch: dict[int, dict] = {}

    def poll(self, q) -> None:
        for p in q.recentProgress:
            self.by_batch[int(p["batchId"])] = p

    def batches(self, lo: int = 0, hi: int | None = None) -> list[dict]:
        return [
            self.by_batch[b] for b in sorted(self.by_batch)
            if b >= lo and (hi is None or b < hi)
        ]

    def next_id(self) -> int:
        return max(self.by_batch, default=-1) + 1

    def watermark_us(self, batch: int) -> int | None:
        p = self.by_batch.get(batch)
        wm = ((p or {}).get("eventTime") or {}).get("watermark")
        return _iso_us(wm) if wm else None


class Sink:
    """``foreachBatch`` sink: collects each epoch's matches with the
    wall-clock time the rows reached the sink."""

    def __init__(self, cols: list[str]):
        self.cols = cols
        self.epochs: list[tuple[int, float, list[tuple]]] = []
        self.lock = threading.Lock()

    def __call__(self, df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        sel = [
            F.col(c) if c in ("user_id", "n_2") else F.unix_micros(F.col(c)).alias(c)
            for c in self.cols
        ]
        rows = [tuple(int(v) for v in r) for r in df.select(*sel).collect()]
        t = time.time()
        with self.lock:
            self.epochs.append((int(epoch_id), t, rows))


def _start(ctx, workload: str, src: str, name: str, sink):
    from flink_note_spark.streaming.dispatch import pattern_stream_start

    make, kw, _, _, _ = PATTERNS[workload]
    stream = (
        ctx.spark.readStream.schema(gen.STREAM_DDL)
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .parquet(src)
    )
    return pattern_stream_start(
        stream, make(),
        log_path=os.path.join(ctx.work, name, "log"),
        checkpoint=os.path.join(ctx.work, name, "ckpt"),
        within=SPEC.within,
        watermark=f"{SPEC.watermark_us // 60_000_000} minutes",
        sink=sink,
        **kw,
    )


def _wait_watermark(q, prog: Progress, target_us: int, timeout: float) -> bool:
    """Poll until a finished micro-batch ran with watermark ≥ target."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        prog.poll(q)
        for b in sorted(prog.by_batch, reverse=True):
            wm = prog.watermark_us(b)
            if wm is not None and wm >= target_us:
                return True
        if q.exception() is not None:
            raise q.exception()
        time.sleep(0.05)
    return False


def _write_file(cols, directory: str, stage: str, k: int, lo: int, hi: int) -> None:
    """File ``k`` holds events ``lo .. hi - 1``."""
    gen.write_file_atomic(
        gen.stream_file_table(cols, lo, hi), directory, f"part-{k:05d}.parquet", stage)


def _sentinel_file(cols, directory: str, stage: str, n_events: int, k: int) -> int:
    s = gen.sentinel_event(SPEC, int(cols["ts_us"][:n_events].max()), n_events)
    gen.write_file_atomic(
        gen.stream_file_table(s, 0, 1), directory, f"part-{k:05d}.parquet", stage)
    return int(s["ts_us"][0])


def _wm_after(ts_us: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Watermark (µs) after each file (first events at ``starts``), as
    Spark computes it: the running max event time in whole milliseconds
    minus the delay."""
    per_file = np.maximum.reduceat(ts_us, starts)
    cummax = np.maximum.accumulate(per_file)
    return ((cummax // 1000) - SPEC.watermark_us // 1000) * 1000


def _duck_events(cols, n: int):
    """DuckDB connection whose ``events`` table holds the first ``n``
    generated events (the sentinel is never among them)."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.register("generated", pd.DataFrame({
        "event_id": cols["event_id"][:n],
        "user_id": cols["user_id"][:n],
        "ts": pd.to_datetime(cols["ts_us"][:n], unit="us"),
        "event_type": cols["event_type"][:n],
        "value": cols["value"][:n],
    }))
    con.execute("CREATE TABLE events AS SELECT * FROM generated")
    return con


def run(ctx, workload: str) -> dict:
    _, _, oracle_name, out_cols, oracle_cols = PATTERNS[workload]
    end_idx = out_cols.index("ts_3")
    rpf = SPEC.rows_per_file
    drain_files = TINY_DRAIN_FILES if ctx.tiny else DRAIN_FILES
    n_open = max(1, math.ceil(ctx.seconds * OPEN_SHARE / OPEN_INTERVAL_S))
    n_files = drain_files + n_open
    # first event of every data file, and one past the last event
    starts = np.concatenate([
        np.arange(drain_files) * rpf,
        drain_files * rpf + np.arange(n_open + 1) * OPEN_FILE_ROWS,
    ])
    n_events = int(starts[-1])
    cols = gen.stream_events(ctx.seed, SPEC, n_events)

    # the stream reads every directory under src/: the warm-up files sit
    # in src/warm at start, the backlog is written to stage/drain and
    # renamed in whole (so no micro-batch sees part of it), and the open
    # loop writes into src/open one file at a time
    src = os.path.join(ctx.work, workload, "src")
    stage = os.path.join(ctx.work, workload, "stage")
    warm, open_dir = os.path.join(src, "warm"), os.path.join(src, "open")
    backlog = os.path.join(stage, "drain")
    for d in (warm, open_dir, backlog):
        os.makedirs(d)
    for k in range(drain_files):
        _write_file(cols, warm if k < FILES_PER_TRIGGER else backlog, stage,
                    k, starts[k], starts[k + 1])

    ckpt_counter = None
    if ctx.tracer:
        ckpt_counter = ctx.tracer.ckpt
        ctx.tracer.sql.take()
        ckpt_counter.take()
    sink = Sink(out_cols)
    prog = Progress()
    t_start = time.perf_counter()
    q = _start(ctx, workload, os.path.join(src, "*"), workload, sink)
    ctx.layers["streaming.dispatch.start_ms"] = (time.perf_counter() - t_start) * 1e3
    routed = getattr(q, "routed", None)
    write_time: dict[int, float] = {}
    sched_time: dict[int, float] = {}
    probe = cpu.SpeedProbe()
    try:
        # warm-up: the first FILES_PER_TRIGGER files; set-up ends with it
        t_warm = time.perf_counter()
        q.processAllAvailable()
        ctx.layers["session.warmup_s"] = time.perf_counter() - t_warm
        ctx.mark_setup_done()
        prog.poll(q)
        drain_first_batch = prog.next_id()

        # phase 1: closed-loop drain of the backlog, renamed in at once.
        # CPU is metered from here to the sentinel's slot.
        meter = cpu.Meter().start()
        probe.start()
        cpu0, t0 = cpu.tree_cpu_s(), time.perf_counter()
        os.rename(backlog, os.path.join(src, "drain"))
        q.processAllAvailable()
        drain_wall_s = time.perf_counter() - t0
        drain_cpu_s = cpu.tree_cpu_s() - cpu0
        prog.poll(q)
        open_first_batch = prog.next_id()

        # phase 2: open loop on a fixed schedule; the sentinel takes the
        # slot after the last data file
        def generate():
            t_base = time.time()
            for i in range(n_open + 1):
                k = drain_files + i
                sched = t_base + i * OPEN_INTERVAL_S
                delay = sched - time.time()
                if delay > 0:
                    time.sleep(delay)
                if k < n_files:
                    _write_file(cols, open_dir, stage, k, starts[k], starts[k + 1])
                else:
                    meter.stop()
                    meter_end.append(time.time())
                    sentinel_ts.append(_sentinel_file(cols, open_dir, stage, n_events, k))
                write_time[k] = time.time()
                sched_time[k] = sched

        sentinel_ts: list[int] = []
        meter_end: list[float] = []
        gen_thread = threading.Thread(target=generate, name="open-loop-generator")
        t_open = time.time()
        gen_thread.start()
        while gen_thread.is_alive():
            gen_thread.join(timeout=0.25)
            prog.poll(q)
            if q.exception() is not None:
                raise q.exception()
        open_wall_s = time.time() - t_open
        probe.stop()
        prog.poll(q)
        open_rows_done = sum(
            int(p.get("numInputRows") or 0) for p in prog.batches(open_first_batch)
        )
        backlog_files = n_open - open_rows_done / OPEN_FILE_ROWS
        open_last_batch = prog.next_id()
        done = _wait_watermark(
            q, prog, sentinel_ts[0] - SPEC.watermark_us - 1000, FINAL_TIMEOUT_S)
        prog.poll(q)
    finally:
        q.stop()
        probe.stop()
    if ctx.tracer:
        import tracing

        for k, v in ctx.tracer.sql.take().items():
            ctx.layers[k] = v
        n, ms = ckpt_counter.take()
        ctx.layers["operators.runtime.materializations"] = n
        ctx.layers["operators.runtime.materialize_ms"] = ms
        flat = [tracing.flatten_progress(p) for p in prog.batches()]
        open_flat = [b for b in flat if open_first_batch <= b["batch"] < open_last_batch]
        ctx.layers.update(tracing.stream_layers(flat, open_flat, open_wall_s))

    # drain throughput: micro-batches 2..n of phase 1 that read data, each
    # at its own rate; their median resists a host stall during a few
    drain = [
        p for p in prog.batches(drain_first_batch, open_first_batch)
        if int(p.get("numInputRows") or 0)
    ]
    drain_rows = sum(int(p["numInputRows"]) for p in drain)
    drain_rates = [
        int(p["numInputRows"]) / (p["durationMs"]["triggerExecution"] / 1e3)
        for p in drain
    ]

    # emit latency: sink receipt minus the write time of the file that
    # made the match final (open-loop files only)
    wm_after = _wm_after(cols["ts_us"], starts[:-1]).tolist()
    emitted = [(e, m) for e, _, rows in sink.epochs for m in rows]
    recv = {e: t for e, t, _ in sink.epochs}
    lat_ms = []
    for e, m in emitted:
        k = bisect.bisect_right(wm_after, m[end_idx])
        if k in write_time and k < n_files:
            lat_ms.append((recv[e] - write_time[k]) * 1e3)

    # checks, outside the measured phases
    from flink_note_spark.queries import ORACLES

    want = oracles.stream_oracle(
        _duck_events(cols, n_events), ORACLES[oracle_name], oracle_cols)
    epoch_wm = {
        b: prog.watermark_us(b) for b in prog.by_batch
        if prog.watermark_us(b) is not None
    }
    problems = oracles.check_stream(emitted, want, epoch_wm, end_idx)
    if not done:
        problems.append("stream: the sentinel's watermark never arrived")
    ctx.stream_result = (emitted, want, epoch_wm, end_idx)
    if len(lat_ms) < (1 if ctx.tiny else 10):
        problems.append(f"stream: only {len(lat_ms)} open-loop latency samples")

    # CPU cost: metered from the backlog's rename to the sentinel's slot,
    # over the rows of the micro-batches that finished inside that span
    # (a batch still running at the end adds CPU without its rows)
    open_rows_metered = sum(
        int(p.get("numInputRows") or 0) for p in prog.batches(open_first_batch)
        if _iso_us(p["timestamp"]) / 1e6 + p["durationMs"]["triggerExecution"] / 1e3
        <= meter_end[0]
    )
    metered_rows = drain_rows + open_rows_metered

    late = [write_time[k] - sched_time[k] for k in write_time]
    # CPU and wall times at the reference host's speed (cpu.SpeedProbe)
    metrics = {
        "cpu_us_per_row": meter.cpu_s / metered_rows * 1e6 * probe.cpu_scale,
        "op_ms_geomean": (math.exp(sum(math.log(max(x, 1e-3)) for x in lat_ms) / len(lat_ms))
                          * probe.wall_scale if lat_ms else math.nan),
    }
    info = {
        "routed": routed,
        "metered_cpu_s": round(meter.cpu_s, 3),
        "metered_rows": metered_rows,
        "speed_scale_cpu": round(probe.cpu_scale, 4),
        "speed_scale_wall": round(probe.wall_scale, 4),
        "probe_steal_share": round(probe.steal_share, 4),
        "probe_wall_ms": round(statistics.mean(probe.wall_ms), 3),
        "probe_loops": len(probe.cpu_ms),
        "metered_processes_ended": meter.ended,
        # wall-clock figures, not rescaled: recorded, not gated (they
        # follow the host's speed)
        "wall_drain_rows_per_s": round(statistics.median(drain_rates), 1) if drain_rates else None,
        "wall_emit_ms_p50": round(statistics.median(lat_ms), 1) if lat_ms else None,
        "wall_emit_ms_p90": (round(statistics.quantiles(lat_ms, n=10, method="inclusive")[8], 1)
                             if len(lat_ms) >= 2 else None),
        "wall_emit_ms_geomean": (round(math.exp(sum(math.log(max(x, 1e-3)) for x in lat_ms)
                                                / len(lat_ms)), 1) if lat_ms else None),
        "matches": len(emitted),
        "oracle_matches": len(want),
        "latency_samples": len(lat_ms),
        "drain_batches": len(prog.batches(drain_first_batch, open_first_batch)),
        "drain_wall_s": round(drain_wall_s, 3),
        "drain_cpu_s": round(drain_cpu_s, 3),
        "drain_rows": drain_rows,
        "drain_rates": sorted(round(r, 1) for r in drain_rates),
        "open_files": n_open,
        "open_interval_s": OPEN_INTERVAL_S,
        "open_file_rows": OPEN_FILE_ROWS,
        "generator_max_late_ms": round(max(late) * 1e3, 2) if late else 0.0,
        "backlog_files_at_schedule_end": round(backlog_files, 2),
        "batches_total": len(prog.by_batch),
        "problems": problems,
    }
    return {
        "attempted": 1, "failed": 1 if problems else 0,
        "correct": not problems, "metrics": metrics, "info": info,
    }
