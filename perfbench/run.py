#!/usr/bin/env python3
"""Benchmark entry point: one seeded workload, measured for a fixed time.

    python3 perfbench/run.py --workload {ingest,search,dedup} \\
        --seed N --seconds S --trace {0,1}

Run from any directory; the checkout under test is the parent of this
directory. Human-readable metrics go to stdout first; the last stdout line
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics untraced, per-layer metrics traced).
Results and traced spans are also kept under ``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import env  # noqa: E402

WORKLOADS = ("ingest", "search", "dedup")

#: end-to-end metric -> unit; every workload reports all of them
END_TO_END = {
    "setup_s": "s",
    "peak_worker_rss_mb": "MB",
    "op_p50_ms": "ms",
    "throughput_per_s": "1/s",
}


def _log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def _import_package_under_test() -> str | None:
    """Import ocr_search_spark from this checkout; None if it cannot be."""
    sys.path.insert(0, str(env.ROOT))
    try:
        import ocr_search_spark
    except ImportError as e:
        _log(f"perfbench: cannot import ocr_search_spark from {env.ROOT}: {e}")
        return None
    where = Path(ocr_search_spark.__file__).resolve()
    if not where.is_relative_to(env.ROOT.resolve()):
        _log(f"perfbench: ocr_search_spark resolves to {where}, outside {env.ROOT}")
        return None
    return str(where)


def _untraced_match(workload: str, seed: int, host: dict) -> dict | None:
    """Latest untraced result of the same workload, seed, host size and
    code (program and benchmark)."""
    same = ("nproc", "source_sha", "bench_sha")
    for path in sorted(env.RESULTS.glob(f"{workload}-seed{seed}-trace0-*.json"), reverse=True):
        res = json.loads(path.read_text())
        if all(res["host"].get(k) == host[k] for k in same):
            return res
    return None


def _print_report(res: dict) -> None:
    h = res["host"]
    print(
        f"perfbench {res['workload']} seed={res['seed']} trace={res['trace']} "
        f"{h['master']} nproc={h['nproc']} SPARK_GRAFT_CPUS={h['SPARK_GRAFT_CPUS']} "
        f"git={h['git_sha']} dirty={h['git_dirty']} source={h['source_sha']} bench={h['bench_sha']} "
        f"spark={h['spark']} pyarrow={h['pyarrow']} pandas={h['pandas']} "
        f"local_dir={h['local_dir']} cpu_ref_s={h['cpu_ref_s']:.3f} "
        f"steal={h['steal_share']:.1%}"
    )
    for name, m in res["report"].items():
        note = f"  [{m['note']}]" if m.get("note") else ""
        print(f"  {name:<22} {m['value']:>14.6g} {m['unit']:<7} n={m['n']}{note}")
    if res["trace"]:
        for name, v in res["per_layer"].items():
            print(f"  {name:<52} {v:>14.6g}")
        for name, v in sorted(res["self_time_s"].items()):
            print(f"  self_time {name:<42} {v:>10.3f} s")
        print(f"  tracing_overhead       {res['tracing_overhead']}")
    for p in res["problems"]:
        print(f"  PROBLEM {p}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    if _import_package_under_test() is None:
        return 2

    import inputs
    from workloads import PER_LAYER, Run

    t0 = time.perf_counter()
    docs_path, meta = inputs.load_or_build(args.workload, args.seed, log=_log)
    _log(f"inputs ready in {time.perf_counter() - t0:.1f}s: {docs_path.parent.name}")

    work = env.WorkDir()
    env.confine_process_env(work)
    host_ref = env.HostRef()
    run = Run(args.workload, args.seed, args.seconds, trace, docs_path, meta, work, _log)
    try:
        host_ref.measure()
        ticks0 = env.cpu_ticks()
        with env.RssSampler() as rss:
            try:
                jvm_s = run.start()
                _log(f"[{time.perf_counter() - t0:6.1f}s] jvm started")
                run.setup()
                _log(f"[{time.perf_counter() - t0:6.1f}s] set-up done {run.setup_s}")
                run.warm_up()
                _log(f"[{time.perf_counter() - t0:6.1f}s] warm-up done")
                run.run()
                _log(f"[{time.perf_counter() - t0:6.1f}s] workload done, {len(run.op_s)} ops")
                if trace:
                    run.probe_layers()
                    _log(f"[{time.perf_counter() - t0:6.1f}s] layer probes done")
            finally:
                if run.spark is not None:
                    env.stop_jvm(run.spark)
        if trace:
            # one SparkContext per run, so exactly one event log
            (event_log,) = (work.path / "eventlog").iterdir()
            run.engine_layers(event_log)
        ticks1 = env.cpu_ticks()
        host_ref.measure()
        host = env.host_record(str(work.path / "spark-local"))
        host["cpu_ref_s"] = host_ref.cpu_ref_s
        host["cpu_ref_rounds"] = host_ref.rounds
        host["steal_share"] = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
        e2e = {
            "setup_s": statistics.median(run.setup_s),
            "peak_worker_rss_mb": rss.peak_worker_bytes / 2**20,
            "op_p50_ms": statistics.median(run.op_s) * 1e3,
            "throughput_per_s": run.throughput,
        }
        report = {
            "setup_s": (e2e["setup_s"], "s", len(run.setup_s), f"jvm start {jvm_s:.2f}s not included"),
            "peak_rss_mb": (rss.peak_bytes / 2**20, "MB", rss.samples, "driver + JVM + Python workers"),
            "peak_jvm_rss_mb": (rss.peak_jvm_bytes / 2**20, "MB", rss.samples, "JVM alone"),
            "peak_worker_rss_mb": (e2e["peak_worker_rss_mb"], "MB", rss.samples, "largest Python worker"),
            "error_rate": (
                run.failed / max(1, run.attempted), "ratio", run.attempted,
                f"{run.failed} failed of {run.attempted} attempted",
            ),
            **run.report,
        }
        stamp = time.strftime("%Y%m%dT%H%M%S")
        base = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
        res = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": host,
            "inputs": {k: meta[k] for k in ("window_start", "n_docs", "n_docs_total", "n_spans", "failed_spans")},
            "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
            "report": {k: dict(zip(("value", "unit", "n", "note"), v)) for k, v in report.items()},
            "samples": {"setup_s": run.setup_s, "op_s": run.op_s, "jvm_start_s": jvm_s},
            "attempted": run.attempted,
            "failed": run.failed,
            "problems": run.problems,
        }
        if trace:
            missing = sorted(set(PER_LAYER) - set(run.layers))
            if missing:
                raise RuntimeError(f"traced run produced no value for {missing}")
            res["per_layer"] = {k: run.layers[k] for k in PER_LAYER}
            res["self_time_s"] = run.tracer.self_times()
            untraced = _untraced_match(args.workload, args.seed, host)
            res["tracing_overhead"] = (
                f"op_p50_ms {e2e['op_p50_ms'] / untraced['end_to_end']['op_p50_ms']['value'] - 1:+.1%} "
                "against the untraced run of the same seed"
                if untraced
                else "absent: no untraced result of this workload, seed and code yet"
            )
        env.RESULTS.mkdir(parents=True, exist_ok=True)
        if trace:
            res["spans_file"] = f"{base}-spans.json"
            run.tracer.write(env.RESULTS / res["spans_file"])
        (env.RESULTS / f"{base}.json").write_text(json.dumps(res, indent=1))
    finally:
        host_ref.close()
        work.remove()

    _print_report(res)
    if trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in res["per_layer"].items()}
    else:
        metrics = res["end_to_end"]
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    env.become_subreaper()
    try:
        code = main()
    finally:
        env.reap_children()
    sys.exit(code)
