"""Engine benchmark: one seeded workload, timed end to end on the
engine's default session, every output checked.

    python3 perfbench/run.py --workload batch|rag_serving --seed N \
        --seconds S --trace 0|1

Run from the repository root. The seed generates the input tables under
``perfbench/.work``; the engine only ever sees those tables. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer metrics read from a Spark event log). See
``perfbench/README.md`` for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "request_p50_s": "s",
}


def _workload(name: str, spark, data_dir: str, seed: int, tracer):
    if name == "batch":
        from batch import Batch

        return Batch(spark, data_dir, tracer)
    from rag import RagServing

    return RagServing(spark, data_dir, seed, tracer)


def per_layer_units() -> dict[str, str]:
    from batch import QUERIES

    units = {
        "memory.peak_rss_mb": "MB",
        "session.start_s": "s",
        "entry.build_s": "s",
        "entry.build_jobs": "count",
        "exec.action_s": "s",
        "exec.jobs": "count",
        "exec.stages": "count",
        "exec.tasks": "count",
        "exec.executor_run_s": "s",
        "exec.executor_cpu_s": "s",
        "exec.gc_s": "s",
        "exec.core_busy_frac": "ratio",
        "io.scan_bytes": "B",
        "io.scan_rows": "count",
        "io.write_bytes": "B",
        "shuffle.write_bytes": "B",
        "shuffle.read_bytes": "B",
        "shuffle.fetch_wait_s": "s",
        "spill.bytes": "B",
        "python.eval_s": "s",
        "python.bytes_sent": "B",
        "python.bytes_returned": "B",
        "similarity.index_build_s": "s",
        "similarity.build_jobs_per_request": "count",
        "similarity.probe_s": "s",
        "retrieval.build_s": "s",
        "retrieval.build_jobs": "count",
        "retrieval.action_s": "s",
        "streaming.batches": "count",
        "streaming.input_rows": "count",
        "streaming.batch_ms": "ms",
        "trace.untraced_op_s": "s",
        "trace.traced_op_s": "s",
        "trace.overhead_s": "s",
        "trace.unaccounted_s": "s",
    }
    for q in QUERIES:
        units[f"query.{q}.build_s"] = "s"
        units[f"query.{q}.action_s"] = "s"
    return units


def measure(wl, seconds: float, op_ids, results: list, min_passes: int) -> list[dict]:
    """Closed loop: whole passes until ``seconds`` have elapsed and at
    least ``min_passes`` are done. Each operation is timed, then checked
    after the timer stops. Returns one record per pass."""
    passes = []
    t_end = time.perf_counter() + seconds
    for ops in wl.passes():
        rec = {"ops": [], "wall": 0.0}
        for spec in ops:
            op_id = next(op_ids)
            label = spec if isinstance(spec, str) else spec["label"]
            t0 = time.perf_counter()
            try:
                out, why = wl.run_op(spec, op_id), None
            except Exception as e:  # noqa: BLE001 — counted as a failure
                out, why = None, f"raised {type(e).__name__}: {str(e)[:200]}"
            dt = time.perf_counter() - t0
            if why is None:
                wl.after_op(op_id)
                try:
                    why = wl.check(spec, out)
                except Exception as e:  # noqa: BLE001 — counted as a failure
                    why = f"check raised {type(e).__name__}: {str(e)[:200]}"
            rec["ops"].append({"id": op_id, "label": label, "s": dt})
            rec["wall"] += dt
            results.append((label, why))
        passes.append(rec)
        if time.perf_counter() >= t_end and len(passes) >= min_passes:
            return passes


def layer_metrics(tracer, log, passes, setup, kind, cores, untraced) -> dict[str, float]:
    """Per-layer figures for the traced passes: one value per pass
    (batch) or per request (rag_serving), reported as the median."""
    from trace import median

    by_op: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if "op" in s:
            by_op.setdefault(s["op"], []).append(s)

    def op_figures(op_id: int) -> dict[str, float]:
        spans = by_op[op_id]
        build = [s for s in spans if s["name"] == "build"][0]
        action = [s for s in spans if s["name"] == "action"][0]
        w = log.window(build["t0"], action["t1"])
        f = {k: v for k, v in w.items() if k not in ("jobs", "stages", "tasks")}
        f.update({
            "entry.build_s": build["dur"],
            "entry.build_jobs": log.window(build["t0"], build["t1"])["jobs"],
            "exec.action_s": action["dur"],
            "exec.jobs": w["jobs"], "exec.stages": w["stages"], "exec.tasks": w["tasks"],
        })
        for s in spans:
            if s["name"] == "similarity.build":
                f["similarity.build_jobs_per_request"] = log.window(s["t0"], s["t1"])["jobs"]
            elif s["name"] == "similarity.probe":
                f["similarity.probe_s"] = s["dur"]
            elif s["name"] == "retrieval.build":
                f["retrieval.build_s"] = f.get("retrieval.build_s", 0.0) + s["dur"]
                f["retrieval.build_jobs"] = (
                    f.get("retrieval.build_jobs", 0) + log.window(s["t0"], s["t1"])["jobs"]
                )
        if kind == "rag_serving":
            f["retrieval.action_s"] = action["dur"]
        return f

    units = per_layer_units()
    groups = []  # one summed figure set per pass (batch) or request (rag)
    per_query: dict[str, list[tuple[float, float]]] = {}
    unaccounted = []
    for p in passes:
        figs = []
        for op in p["ops"]:
            f = op_figures(op["id"])
            figs.append(f)
            per_query.setdefault(op["label"], []).append(
                (f["entry.build_s"], f["exec.action_s"])
            )
            unaccounted.append(op["s"] - f["entry.build_s"] - f["exec.action_s"])
        if kind == "batch":
            total: dict[str, float] = {}
            for f in figs:
                for k, v in f.items():
                    total[k] = total.get(k, 0.0) + v
            total["wall"] = p["wall"]
            groups.append(total)
        else:
            for f, op in zip(figs, p["ops"]):
                groups.append({**f, "wall": op["s"]})
    out = {k: 0.0 for k in units}
    for k in units:
        vals = [g[k] for g in groups if k in g]
        if vals:
            out[k] = median(vals)
    out["exec.core_busy_frac"] = median(
        [g.get("exec.executor_run_s", 0.0) / (g["wall"] * cores) for g in groups]
    )
    for q, samples in per_query.items():
        if f"query.{q}.build_s" in out:
            out[f"query.{q}.build_s"] = median([b for b, _ in samples])
            out[f"query.{q}.action_s"] = median([a for _, a in samples])
    traced = median([g["wall"] for g in groups])
    out.update({
        "session.start_s": setup["start_s"],
        "similarity.index_build_s": setup["index_build_s"],
        "trace.untraced_op_s": untraced,
        "trace.traced_op_s": traced,
        "trace.overhead_s": traced - untraced,
        "trace.unaccounted_s": median(unaccounted),
    })
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("batch", "rag_serving"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import engine
    import gen

    dirs = engine.prepare_env()
    phases, t_phase = {}, time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name], t_phase = now - t_phase, now

    # rag_serving reads only the chunks' text and their embeddings
    inputs = gen.TABLES if args.workload == "batch" else ("documents", "embeddings")
    gen.write_tables(args.seed, dirs["data"], inputs)
    phase("generate")

    from trace import EventLog, Tracer, median

    tracer = Tracer()
    # set-up: the session start (JVM launch included), the workload's
    # inputs bound to it, then the first operations with cold caches
    # and JIT: a cold and a warm pass (batch), the first request served
    # cold, building the index, and again warm (rag_serving)
    t0 = time.perf_counter()
    spark = engine.start_session()
    start_s = time.perf_counter() - t0
    wl = _workload(args.workload, spark, dirs["data"], args.seed, tracer)
    bind_s = time.perf_counter() - t0 - start_s
    warm_s = wl.warm_up()
    setup_s = start_s + bind_s + warm_s
    phase("set-up")

    results: list[tuple[str, str | None]] = list(wl.warm_results)
    op_ids = iter(range(10**9))
    # a median needs two samples; each traced half takes one at least
    passes = measure(wl, args.seconds / (2 if args.trace else 1), op_ids, results,
                     1 if args.trace else 2)
    phase("measure")
    if args.trace:
        untraced = median([p["wall"] for p in passes] if args.workload == "batch"
                          else [op["s"] for p in passes for op in p["ops"]])
        spark = engine.restart_session(spark, dirs["events"])
        wl.bind(spark)
        wl.settle()
        passes = measure(wl, args.seconds / 2, op_ids, results, 1)
        phase("traced measure")
    rss = engine.peak_rss_mb()
    engine.shutdown(spark)
    phase("shutdown")
    layers = None
    if args.trace:
        index = [s["dur"] for s in tracer.spans
                 if s["name"] == "similarity.build" and s.get("op") == -1]
        setup = {"start_s": start_s, "index_build_s": median(index)}
        layers = layer_metrics(tracer, EventLog(dirs["events"]), passes, setup,
                               args.workload, engine.cores(), untraced)
        layers["memory.peak_rss_mb"] = rss

    ops = [op for p in passes for op in p["ops"]]
    failed = [(label, why) for label, why in results if why is not None]
    e2e = {
        "setup_s": setup_s,
        "pass_s": median([p["wall"] for p in passes]),
        "request_p50_s": median([op["s"] for op in ops]),
    }
    print(f"workload {args.workload}  seed {args.seed}  cores {engine.cores()}"
          f"  trace {args.trace}")
    print(f"setup_s        {e2e['setup_s']:.4f} s   (session start {start_s:.3f} s"
          f" + inputs {bind_s:.3f} s + warm-up {warm_s:.3f} s)")
    print(f"pass_s         {e2e['pass_s']:.4f} s   (median of {len(passes)} passes)")
    print(f"request_p50_s  {e2e['request_p50_s']:.4f} s   (median of {len(ops)} operations)")
    print(f"peak_rss_mb    {rss:.1f} MB   (driver JVM + Python; not gated, see README)")
    print("phases " + "  ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    print("operations " + "  ".join(f"{op['label']} {op['s']:.2f} s" for op in ops))
    print(f"failed_frac    {len(failed) / max(len(results), 1):.4f}"
          f"   ({len(failed)} of {len(results)} operations)")
    by_label: dict[str, list[str]] = {}
    for label, why in failed:
        by_label.setdefault(label, []).append(why)
    for label, whys in by_label.items():
        print(f"  FAILED {label} x{len(whys)}: {whys[0]}")
    if layers is not None:
        for k, v in layers.items():
            print(f"  {k:<42} {v:.6g}")

    units = per_layer_units() if args.trace else END_TO_END
    values = layers if args.trace else e2e
    print(json.dumps({
        "correct": not failed,
        "attempted": len(results),
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
