"""Feature-store benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones. The line before it names every
end-to-end number with its unit, sample count and percentile. Every sample
of every run is kept in ``.perfbench/runs/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = os.path.join(ROOT, ".perfbench")


def _dump_json(path: str, obj) -> None:
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, default=float)
    os.replace(tmp, path)


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(out_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the engine wherever the run was started from."""
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    sys.path.insert(0, ROOT)


def _e2e_metrics(run, e2e: dict) -> tuple[dict, list[str]]:
    from stats import summarize

    setup = summarize(run.record["setup"]["total_s"])
    passes = summarize(e2e["pass_s"])
    fresh = summarize(e2e["freshness_ms"])
    lat = summarize(e2e["latency_ms"])
    metrics = {
        "setup_s": (setup.median, "s"),
        "pass_s": (passes.median, "s"),
        "pass_cpu_s": (e2e["pass_cpu_s"], "s"),
    }
    lines = [
        f"setup_s={setup.median:.4f} s (median of n={setup.n} set-ups)",
        f"pass_s={passes.median:.4f} s (median of n={passes.n} passes)",
        f"pass_cpu_s={e2e['pass_cpu_s']:.4f} s (process tree CPU per pass)",
        f"freshness_p50_ms={fresh.median:.2f} ms, freshness_tail_ms={fresh.tail:.2f} ms "
        f"(p{fresh.tail_pct:g}, n={fresh.n}, {fresh.beyond_tail} beyond)",
        f"latency_p50_ms={lat.median:.2f} ms, latency_tail_ms={lat.tail:.2f} ms "
        f"(p{lat.tail_pct:g}, n={lat.n}, {lat.beyond_tail} beyond)",
        f"fail_ratio={run.failed / run.attempted:.4f} ({run.failed} of {run.attempted} operations)",
    ]
    run.record["e2e_samples"] = e2e
    return {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}, lines


def _layer_names() -> list[tuple[str, str]]:
    from workloads import BATCH

    names = [
        ("session.start_s", "s"), ("sources.generate_s", "s"),
        ("queries.build_s", "s"), ("queries.build_jobs", "count"),
        ("catalyst.plan_s", "s"),
        ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
        ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
        ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
        ("exec.spill_bytes", "bytes"),
    ]
    for wl in BATCH.values():
        for q in wl.queries:
            names += [
                (f"q.{q}.build_s", "s"), (f"q.{q}.build_jobs", "count"),
                (f"q.{q}.exec_s", "s"), (f"q.{q}.shuffle_bytes", "bytes"),
            ]
    names += [
        ("stream.queue_ms", "ms"), ("stream.batch_ms", "ms"),
        ("stream.state_update_ms", "ms"), ("stream.state_commit_ms", "ms"),
        ("stream.state_rows", "count"), ("stream.state_bytes", "bytes"),
        ("stream.backlog_files", "count"),
        ("online_store.merge_ms", "ms"), ("online_store.merge_jobs", "count"),
        ("online_store.write_amp", "ratio"),
        ("online_store.lookup_ms", "ms"), ("online_store.lookup_jobs", "count"),
        ("stream.freshness_p50_ms", "ms"), ("online_store.lookup_latency_p50_ms", "ms"),
        ("bench.peak_rss_mb", "MB"),
        ("bench.gen_late_ms", "ms"), ("bench.trace_overhead_pct", "%"),
        ("bench.span_coverage_pct", "%"),
    ]
    return names


def _span_coverage_pct(tracer) -> float:
    """Lowest share, over query spans, of the query's wall time that its
    build, plan and exec spans cover."""
    kids: dict[int, float] = {}
    for s in tracer.spans:
        if s.name in ("build", "plan", "exec") and s.parent is not None:
            kids[s.parent] = kids.get(s.parent, 0.0) + s.duration
    shares = [100.0 * kids[s.span_id] / s.duration for s in tracer.spans if s.span_id in kids]
    return min(shares) if shares else 0.0


def _trace_overhead_pct(workload: str, seed: int, traced_pass_s: float) -> tuple[float, str]:
    """Traced pass time against the untraced run of the same workload in
    this checkout: the same seed if there is one, else the latest."""
    d = os.path.join(STATE_DIR, "untraced")
    same = os.path.join(d, f"{workload}-seed{seed}.json")
    cands = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(d, f"{workload}-seed*.json")), key=os.path.getmtime
    )[-1:]
    if not cands:
        return 0.0, "no untraced run of this workload in this checkout yet"
    with open(cands[0]) as f:
        base = json.load(f)["pass_s"]
    return 100.0 * (traced_pass_s / base - 1.0), f"against {os.path.basename(cands[0])}"


def main(argv=None) -> int:
    args = _parse_args(argv)
    # a termination request unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_id = f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}-t{args.trace}"
    out_dir = os.path.join(STATE_DIR, "work", f"{run_id}-{uuid.uuid4().hex[:6]}")
    _prepare_env(out_dir)
    try:
        import aml_feature_store_spark  # noqa: F401
        import workloads as W
        from procmon import stop_all
        from spans import Tracer, parse_event_logs
    except ImportError as e:
        shutil.rmtree(out_dir, ignore_errors=True)
        print(f"perfbench: cannot import the engine or its checker: {e}", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        shutil.rmtree(out_dir, ignore_errors=True)
        print(f"perfbench: unknown workload {args.workload!r}; one of {W.WORKLOADS}", file=sys.stderr)
        return 2

    run = W.Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), out_dir=out_dir, state_dir=STATE_DIR,
    )
    run.tracer = Tracer(run.trace, run_id)
    runs_dir = os.path.join(STATE_DIR, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    try:
        e2e = W.run_batch(run) if args.workload in W.BATCH else W.run_stream(run)
        metrics, lines = _e2e_metrics(run, e2e)
        if run.trace:
            run.spark.stop()  # flushes and closes the event log
            run.spark = None
            groups = parse_event_logs(run.path("eventlog"))
            layers = {name: 0.0 for name, _ in _layer_names()}
            setup = run.record["setup"]
            layers["session.start_s"] = W._median(setup["session_s"])
            layers["sources.generate_s"] = W._median(setup["generate_s"])
            layers["bench.peak_rss_mb"] = run.record["window"]["peak_rss_bytes"] / 2**20
            if args.workload in W.BATCH:
                layers.update(W.batch_layers(run, groups))
                layers["bench.span_coverage_pct"] = _span_coverage_pct(run.tracer)
            else:
                layers.update(W.stream_layers(run, groups))
                layers["stream.freshness_p50_ms"] = W._median(e2e["freshness_ms"])
                layers["online_store.lookup_latency_p50_ms"] = W._median(e2e["latency_ms"])
            pct, how = _trace_overhead_pct(args.workload, args.seed, metrics["pass_s"]["value"])
            layers["bench.trace_overhead_pct"] = pct
            lines.append(f"bench.trace_overhead_pct={pct:.2f} % ({how})")
            units = dict(_layer_names())
            out_metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layers.items()}
            run.tracer.dump(os.path.join(runs_dir, f"{run_id}-spans.json"))
            run.record["groups"] = {
                str(k): vars(v) for k, v in groups.items()
            }
        else:
            out_metrics = metrics
            os.makedirs(os.path.join(STATE_DIR, "untraced"), exist_ok=True)
            _dump_json(
                os.path.join(STATE_DIR, "untraced", f"{args.workload}-seed{args.seed}.json"),
                {"pass_s": metrics["pass_s"]["value"], "run": run_id},
            )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_all(run.spark)
        run.spark = None
        shutil.rmtree(out_dir, ignore_errors=True)

    run.record.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        correct=run.correct, attempted=run.attempted, failed=run.failed,
        notes=run.notes, metrics=out_metrics, e2e_metrics=metrics,
    )
    run.mark("end")
    _dump_json(os.path.join(runs_dir, f"{run_id}.json"), run.record)
    for note in run.notes:
        print(f"note: {note}")
    print(f"{args.workload} seed={args.seed}: " + "; ".join(lines))
    print(json.dumps({
        "correct": run.correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
