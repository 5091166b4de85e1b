"""Fast self-check: every workload's reference checks end to end at tiny
size (sf0.001-sized tables, a short stream) in one session, then
negative cases proving that each check catches a corrupted result.

    python3 perfbench/run.py --selfcheck

Exit code 0 only if every workload passes and every negative case is
caught.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd

import gen
import oracles


def _negative_cases(ctx, batch_outputs: dict, stream_res: dict) -> list[tuple[str, list[str]]]:
    """Each case corrupts a copy of a real output and returns the
    problems the matching check reports (empty = not caught)."""
    import batch

    con, tables = ctx.duck(), ctx.tables_pandas()
    cases = []

    # a perturbed aggregate: +1 on the first numeric cell of q23
    name = next(n for n in batch_outputs if n.startswith("q23_"))
    df = batch_outputs[name].copy()
    col = next(c for c in df.columns if df[c].dtype.kind in "if")
    df.loc[df.index[0], col] = df[col].iloc[0] + 1
    cases.append(("perturbed aggregate (q23)", batch.check_output(name, df, con, tables)))

    # an extra LSH pair: a pair of ids far below the Jaccard threshold
    name = next(n for n in batch_outputs if n.startswith("q31_"))
    df = batch_outputs[name]
    exact = oracles.jaccard_exact(con)
    ids = sorted(tables["documents"]["doc_id"].astype(int))
    extra = next((a, b) for a in ids for b in ids if a < b and (a, b) not in exact)
    bad = pd.DataFrame({"d1": [extra[0]], "d2": [extra[1]],
                        "est_jaccard": [1.0], "jaccard": [1.0]})
    cases.append(("extra LSH pair (q31)", batch.check_output(
        name, pd.concat([df, bad], ignore_index=True), con, tables)))

    # a duplicated row in the curated corpus
    df = batch_outputs[batch.CURATE]
    cases.append(("duplicated corpus row", batch.check_output(
        batch.CURATE, pd.concat([df, df.iloc[:1]], ignore_index=True), con, tables)))

    emitted, want, epoch_wm, end_idx = stream_res["cep_stream"]
    # a dropped stream match
    cases.append(("dropped stream match", oracles.check_stream(
        emitted[1:], want, epoch_wm, end_idx)))
    # a duplicated emission
    cases.append(("duplicated emission", oracles.check_stream(
        emitted + emitted[:1], want, epoch_wm, end_idx)))
    # an emission in an epoch whose watermark had not passed the match
    _, m0 = emitted[0]
    early = min(epoch_wm)
    cases.append(("emitted before final", oracles.check_stream(
        [(early, m0)] + emitted[1:], want, {**epoch_wm, early: m0[end_idx]}, end_idx)))
    return cases


def main(args, context_cls) -> int:
    import batch
    import stream

    args.seconds = 3.0
    args.trace = 0
    root = os.getcwd()
    work = os.path.join(root, ".perfbench", f"selfcheck-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    ctx = context_cls(args, work, tiny=True)
    failures = []
    try:
        gen.write_batch_tables(args.seed, ctx.size, ctx.table_dir)
        ctx.start_spark()
        batch_outputs: dict = {}
        stream_res: dict = {}
        for w in ("events_batch", "corpus_batch", "cep_stream", "cep_stream_loop"):
            mod = batch if w.endswith("_batch") else stream
            res = mod.run(ctx, w)
            ok = res["correct"] and res["failed"] == 0
            print(f"selfcheck {w}: {'ok' if ok else 'FAIL'} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  f"problems={res['info']['problems']}", flush=True)
            if not ok:
                failures.append(w)
            batch_outputs.update(ctx.outputs if mod is batch else {})
            if mod is stream:
                stream_res[w] = ctx.stream_result
        for label, problems in _negative_cases(ctx, batch_outputs, stream_res):
            caught = bool(problems)
            print(f"selfcheck negative {label}: {'caught' if caught else 'MISSED'} "
                  f"{problems[:1]}", flush=True)
            if not caught:
                failures.append(label)
    finally:
        ctx.close()
        shutil.rmtree(work, ignore_errors=True)
    print("selfcheck: " + ("PASS" if not failures else f"FAIL {failures}"), flush=True)
    return 0 if not failures else 1
