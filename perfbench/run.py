"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

Run from the repository root. One run = one fresh process: generate the
inputs from ``--seed``, start the session, warm up, measure for
``--seconds``, check every output against a reference computed apart
from the engine, and print one JSON object as the last stdout line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README).
All scratch files live under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()
T_PROCESS_WALL = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import cpu  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("events_batch", "corpus_batch", "cep_stream", "cep_stream_loop")
END_TO_END = {
    "setup_s": "s",
    "cpu_us_per_row": "ref_us",
    "op_ms_geomean": "ref_ms",
}


T_TICKS = cpu.cpu_ticks()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Context:
    """What one run shares between its phases."""

    def __init__(self, args, work: str, tiny: bool = False):
        self.args = args
        #: sf0.001-sized tables and a short stream (the self-check only)
        self.tiny = tiny
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.table_dir = os.path.join(work, "tables")
        self.size = gen.BATCH_TINY if tiny else gen.BATCH_FULL
        self.layers: dict[str, float] = {}
        self.setup_s: float | None = None
        self.spark = None
        self.tracer = None
        self._duck = None
        self._tables = None

    def mark_setup_done(self, wall: float | None = None) -> None:
        """Set-up ends now, or at wall-clock time ``wall``."""
        if wall is None:
            self.setup_s = time.perf_counter() - T_PROCESS
        else:
            self.setup_s = wall - T_PROCESS_WALL

    def start_spark(self) -> None:
        from flink_note_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            cpus=self.args.cpus,
            extra_conf={
                # keep the JVM's scratch files inside the checkout
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.start_s"] = time.perf_counter() - t0

    def tables_pandas(self):
        if self._tables is None:
            import pyarrow.parquet as pq

            self._tables = {
                t: pq.read_table(os.path.join(self.table_dir, f"{t}.parquet")).to_pandas()
                for t in ("documents", "embeddings")
            }
        return self._tables

    def duck(self):
        if self._duck is None:
            import duckdb

            import oracles

            self._duck = duckdb.connect()
            self._duck.execute("SET threads TO 2")
            oracles.duck_views(self._duck, self.table_dir)
        return self._duck

    def peak_rss_mb(self) -> float:
        jvm_pid = int(
            self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )
        return _vm_hwm_mb(jvm_pid) + _vm_hwm_mb(os.getpid())

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
        if self.tracer is not None:
            self.tracer.close()
        if self.spark is not None:
            self.spark.stop()
            # stop the py4j gateway's JVM process and wait for it
            from pyspark import SparkContext

            gw = getattr(SparkContext, "_gateway", None)
            proc = getattr(gw, "proc", None) if gw else None
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None


def run_workload(args) -> dict:
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    ctx = Context(args, work)
    try:
        if args.workload in ("events_batch", "corpus_batch"):
            gen.write_batch_tables(args.seed, ctx.size, ctx.table_dir)
        ctx.start_spark()
        if args.trace:
            import tracing as tr

            ctx.tracer = tr.Tracer(ctx.spark)
        if args.workload in ("events_batch", "corpus_batch"):
            import batch

            res = batch.run(ctx, args.workload)
        else:
            import stream

            res = stream.run(ctx, args.workload)
        res["metrics"]["setup_s"] = ctx.setup_s
        # peak RSS varies by a third between runs (the JVM heap grows
        # as GC decides), so it is recorded, not gated
        res["info"]["peak_rss_mb"] = round(ctx.peak_rss_mb(), 1)
        res["info"]["host_steal_share"] = round(cpu.steal_share(T_TICKS), 4)
        res["layers"] = ctx.layers
        return res
    finally:
        ctx.close()
        shutil.rmtree(work, ignore_errors=True)


def emit(args, res: dict) -> None:
    if args.trace:
        import tracing as tr

        metrics = {
            k: {"value": float(res["layers"].get(k, 0.0)), "unit": u}
            for k, u in tr.PER_LAYER.items()
        }
    else:
        metrics = {
            k: {"value": float(res["metrics"][k]), "unit": u}
            for k, u in END_TO_END.items()
        }
    out = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": args.cpus,
        "stock_daemon": bool(os.environ.get("SPARK_GRAFT_STOCK_DAEMON")),
        "end_to_end": res["metrics"], "layers": res["layers"],
        "info": res["info"], **out,
    }
    rdir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(rdir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(rdir, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print("# info " + json.dumps(res["info"], sort_keys=True))
    if args.trace:
        _print_overhead(rdir, args, res["metrics"])
    sys.stdout.flush()
    print(json.dumps(out), flush=True)


def _print_overhead(rdir: str, args, traced: dict) -> None:
    """Tracing overhead: traced minus untraced end-to-end values, read
    from the untraced result of the same workload and seed."""
    path = os.path.join(rdir, f"{args.workload}-seed{args.seed}-trace0.json")
    if not os.path.exists(path):
        print("# overhead: no untraced result for this workload and seed yet")
        return
    with open(path) as f:
        base = json.load(f)["end_to_end"]
    diff = {
        k: {"untraced": base[k], "traced": traced[k],
            "delta_pct": (traced[k] - base[k]) / base[k] * 100.0}
        for k in END_TO_END if k in base and k in traced and base[k]
    }
    print("# overhead " + json.dumps(diff, sort_keys=True))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    try:
        ncpu = len(os.sched_getaffinity(0))
    except AttributeError:
        ncpu = os.cpu_count() or 1
    p.add_argument("--cpus", type=int, default=min(ncpu, 4),
                   help="local[N] master (default: min(nproc, 4))")
    p.add_argument("--selfcheck", action="store_true",
                   help="tiny end-to-end run of every workload's checks, "
                        "plus negative cases")
    args = p.parse_args(argv)
    if not args.selfcheck and not args.workload:
        p.error("--workload is required")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "flink_note_spark")):
        print("run from the repository root (flink_note_spark/ not found)",
              file=sys.stderr)
        return 2
    if args.selfcheck:
        import selfcheck

        return selfcheck.main(args, Context)
    res = run_workload(args)
    emit(args, res)
    return 0


if __name__ == "__main__":
    sys.exit(main())
