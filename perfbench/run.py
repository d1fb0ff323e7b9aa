"""ondine_spark benchmark: one seeded workload, end-to-end metrics or a
traced per-layer run, with every output checked against a reference.

Run from the repository root:

    python3 perfbench/run.py --workload enrich_stream --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` runs the timed pass once with op spans only, then replays it
one layer call at a time under spans (Spark UI on, jobs labelled per span)
and reports the per-layer metrics; spans go to
``perfbench/out/spans/<workload>-seed<seed>.jsonl``. ``--plant-error``
corrupts one output before checking (the harness self-test).

A human-readable report goes to standard output first; the last line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``. The
full record (inputs' measured properties, environment, Spark confs, every
metric) goes to ``perfbench/out/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-error", action="store_true",
                    help="corrupt one output before checking (self-test)")
    return ap.parse_args(argv)


def _fmt(v):
    if v is None:
        return "n/a"
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def end_to_end(w, res, setup_s, peak_mb, attempted, failed) -> tuple[dict, dict]:
    from perfbench.harness import median, tail

    ops = res["ops"]
    pct, tail_v = tail(ops)
    out = {
        "setup_s": setup_s,
        "rows_per_s": res["rows"] / res["wall_s"],
        "op_p50_s": median(ops),
        "op_tail_s": tail_v,
        "api_calls_per_row": None,
        "cost_per_1k_rows": None,
        "failed_frac": failed / attempted,
        "peak_rss_mb": peak_mb,
        "resume_s": None,
    }
    out.update(w.e2e(res))
    notes = {
        "op_samples": len(ops),
        "ops_s": ops,
        "op_tail_percentile": pct,
        "timed_pass_s": res["wall_s"],
        "rows": res["rows"],
    }
    return out, notes


def per_layer(w, tr, res, extra, replay_lo, replay_hi) -> dict:
    from perfbench.harness import median
    from perfbench.metrics import PER_LAYER

    names = [n for n, *_ in PER_LAYER]
    m = {n: 0.0 for n in names}
    for n in names:
        base, _, key = n.rpartition(".")
        if n.endswith("_s") and tr.named(n[:-2], "replay"):
            m[n] = tr.total(n[:-2], "replay")
        elif key in ("jobs", "shuffle_write_bytes", "spill_bytes") and tr.named(base, "replay"):
            m[n] = tr.spark_total(base, key, "replay")
    m.update(extra)
    invoke = m["llm.invoke_s"]
    m["llm.inflight_mean"] = m["llm.provider_wait_s"] / invoke if invoke else 0.0
    ops = tr.named("op", "real")
    if ops:
        m["plans.jobs_per_op"] = sum(tr.jobs_in(s) for s in ops) / len(ops)
        m["plans.driver_gap_s"] = median([tr.driver_gap(s) for s in ops])
    replay_wall = replay_hi - replay_lo
    m["trace.overhead_s"] = replay_wall - res["replayed_s"]
    m["trace.unattributed_frac"] = 1.0 - tr.covered(replay_lo, replay_hi, "replay") / replay_wall
    return {n: float(m[n]) for n in names}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "ondine_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: ondine_spark/ and __spark_entry__.py not found next to "
              "perfbench/; run it from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import (
        RssSampler, environment, fresh_dir, prepare_environment, process_start_epoch,
        start_spark, stop_spark,
    )
    from perfbench.metrics import END_TO_END, PER_LAYER, gated_layers

    t_process = process_start_epoch()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    out_dir = os.path.join(HERE, "out")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = fresh_dir(os.path.join(out_dir, "work", f"{tag}-{os.getpid()}"))
    prepare_environment(ROOT, work)
    phases = {"imports_s": time.time() - t_process}
    t = time.time()
    spark = start_spark(work, ui=bool(args.trace))
    phases["session_s"] = time.time() - t
    try:
        w = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, args.plant_error)
        t = time.time()
        props = w.generate()
        phases["generate_s"] = time.time() - t
        t = time.time()
        w.warmup()
        spark.catalog.clearCache()
        phases["warmup_s"] = time.time() - t
        setup_s = time.time() - t_process
        if not args.trace:
            with RssSampler() as rss:
                res = w.run()
            t = time.time()
            attempted, failed, detail = w.check(res)
            phases["check_s"] = time.time() - t
            e2e, notes = end_to_end(w, res, setup_s, rss.peak_mb, attempted, failed)
            notes["peak_rss_parts_mb"] = {
                k: (v if k.endswith("_procs") else v / (1 << 20)) for k, v in rss.peak_parts.items()
            }
            metrics = {n: {"value": e2e[n], "unit": u}
                       for n, u, _, _, gated in END_TO_END if gated}
            layers = None
        else:
            from perfbench.trace import Tracer

            tr = Tracer(spark)
            tr.pass_ = "real"
            res = w.run(tr)
            attempted, failed, detail = w.check(res)
            spark.catalog.clearCache()
            tr.pass_ = "replay"
            lo = time.time()
            extra = w.replay(tr)
            hi = time.time()
            tr.scrape()
            layers = per_layer(w, tr, res, extra, lo, hi)
            e2e, notes = end_to_end(w, res, setup_s, None, attempted, failed)
            os.makedirs(os.path.join(out_dir, "spans"), exist_ok=True)
            spans_path = os.path.join(out_dir, "spans", f"{args.workload}-seed{args.seed}.jsonl")
            tr.write(spans_path, lo)
            notes["spans"] = os.path.relpath(spans_path, ROOT)
            metrics = {n: {"value": layers[n], "unit": u} for n, u, *_ in gated_layers()}
        env = environment(spark)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = {n: u for n, u, *_ in END_TO_END}
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} nproc={env['nproc']} pyspark={env['pyspark']} jvm={env['jvm']}")
    print("inputs: " + ", ".join(f"{k}={_fmt(v)}" for k, v in props.items()))
    print("checks: " + ", ".join(f"{k}={_fmt(v)}" for k, v in detail.items()))
    print(f"ops: n={notes['op_samples']} tail percentile={_fmt(notes['op_tail_percentile'])}")
    for n, v in e2e.items():
        print(f"  {n:<20} {_fmt(v):>14} {units[n]}")
    if layers:
        for n, u, _, moves, on, idle in PER_LAYER:
            state = "idle" if args.workload not in on else "on"
            print(f"  {n:<44} {_fmt(layers[n]):>14} {u:<8} {state:<4} moves {moves}")
    os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
    record = {
        "args": vars(args), "inputs": props, "checks": detail, "notes": notes,
        "setup_phases": phases, "end_to_end": e2e, "per_layer": layers, "environment": env,
        "attempted": attempted, "failed": failed,
    }
    with open(os.path.join(out_dir, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
