#!/usr/bin/env python3
"""Curation benchmark.

One workload, one process:

    python3 curbench/run.py --workload bulk_crawl --seed 1 --seconds 5 --trace 0

Every workload, one process each, with a table of the results:

    python3 curbench/run.py --all --seed 1 [--trace 1]

Run from the root of a checkout. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics untraced (``--trace 0``), the per-layer metrics traced
(``--trace 1``). The line before it is the run record: host and
configuration stamp, set-up parts, per-call times and checks,
workload-specific figures and Spark WARN counts by logger. Both, with
the Spark log and the spans, are also kept under
``.curbench_out/<run>/``. The exit code is 0 only when every output
check passed; without the package next to this directory the run exits
2 before measuring anything.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import harness as H  # noqa: E402

END_TO_END = {
    "setup_s": "s", "run_s": "s", "spark_jobs": "count", "peak_rss_mb": "MB",
}
TINY = dict(CRAWL_PAGES=300, ORACLE_PAGES=200, NEAR_SLICE=60, REGISTRY_SF=0.001,
            TEXTCORE_SAMPLE=200, EVAL_DOCS=20, FIXTURE_BUILDS=1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test input sizes (not comparable with normal runs)")
    args = ap.parse_args(argv)
    missing = [p for p in (H.PACKAGE, "bench.py") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"curbench: {missing} not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    if args.all:
        return run_all(args)
    if not args.workload:
        ap.error("--workload or --all is required")
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny)


def run_all(args) -> int:
    import workloads as W

    ok = True
    for name in W.WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--tiny"] if args.tiny else [])
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode not in (0, 1) or len(lines) < 2:
            print(f"{name}: exit {proc.returncode}\n{proc.stderr[-4000:]}", file=sys.stderr)
            ok = False
            continue
        record, result = json.loads(lines[-2]), json.loads(lines[-1])
        ok &= result["correct"]
        print(f"== {name}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} failed_ops_ratio={record['failed_ops_ratio']:.4f}")
        shown = dict(result["metrics"], **({} if args.trace else record["extra"]))
        for key, m in shown.items():
            n = f"  (n={m['n']})" if "n" in m else ""
            print(f"  {key:40s} {m['value']:14.4f} {m['unit']}{n}")
        if record["warn_lines"]:
            print(f"  warn_lines {record['warn_lines']}")
    return 0 if ok else 1


def run_one(name: str, seed: int, seconds: float, trace: bool, tiny: bool) -> int:
    import workloads as W

    if name not in W.WORKLOADS:
        print(f"curbench: unknown workload {name!r}; choose from {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2
    if tiny:
        for k, v in TINY.items():
            setattr(W, k, v)
    tag = f"{name}-s{seed}-t{int(trace)}-{os.getpid()}"
    env = H.Env(tag, seed)
    try:
        record, result = measure(env, W, W.WORKLOADS[name](), seconds, trace)
    except Exception:
        env.restore_stderr()
        print(traceback.format_exc(), file=sys.stderr)
        print(f"curbench: {name} failed; Spark log in {env.log_path}", file=sys.stderr)
        return 3
    finally:
        env.restore_stderr()
        shutil.rmtree(env.data, ignore_errors=True)
        shutil.rmtree(os.path.join(env.dir, "tmp"), ignore_errors=True)
    with open(os.path.join(env.dir, "result.json"), "w") as f:
        json.dump({"record": record, "result": result}, f, indent=1)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def measure(env: H.Env, W, wl, seconds: float, trace: bool) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    spark = env.spark_session(f"curbench-{wl.name}")
    session_s = time.perf_counter() - t0
    try:
        tracer = H.Tracer(spark, run_id=os.path.basename(env.dir)) if trace else None
        ctx = W.Ctx(spark, env, tracer)
        parts = wl.setup(ctx)
        # start every timed section from a collected heap, whatever set-up left
        t0 = time.perf_counter()
        spark.sparkContext._jvm.System.gc()
        parts["gc_s"] = time.perf_counter() - t0
        setup_s = session_s + sum(
            statistics.median(v) if isinstance(v, list) else v for v in parts.values())

        rounds: list[list[dict]] = []
        with H.RssSampler(spark) as rss:
            e2e = tracer.span("e2e") if tracer else contextlib.nullcontext()
            over0 = tracer.overhead_s if tracer else 0.0
            cpu0 = H.cpu_times()
            start = time.perf_counter()
            with e2e:
                while True:
                    rounds.append(wl.round(ctx, len(rounds)))
                    if trace or time.perf_counter() - start >= seconds:
                        break
            overhead_s = tracer.overhead_s - over0 if tracer else 0.0
            steal = H.steal_pct(cpu0, H.cpu_times())
        round_s = [sum(c["s"] for c in r) for r in rounds]
        run_s = statistics.median(round_s)

        if trace:
            layer: dict = {}
            wl.trace(ctx, layer)
            warns = H.warn_lines(env.log_path)
            metrics = layer_metrics(W, wl, tracer, layer, overhead_s, sum(warns.values()))
            tracer.write(os.path.join(env.dir, "spans.json"))
        else:
            warns = H.warn_lines(env.log_path)
            values = {
                "setup_s": setup_s,
                "run_s": run_s,
                "spark_jobs": statistics.median(sum(c["jobs"] for c in r) for r in rounds),
                "peak_rss_mb": rss.peak_mb,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        attempted = len(ctx.calls)
        failed = sum(1 for c in ctx.calls if c["problems"])
        record = env.stamp(spark, wl.name, trace)
        record.update(
            setup=dict(session_s=session_s, **parts),
            rounds_s=round_s,
            steal_pct=steal,
            peak_jvm_mb=rss.peak_jvm_mb,
            peak_workers_mb=rss.peak_workers_mb,
            calls=[{"name": c["name"], "s": round(c["s"], 4), "jobs": c["jobs"],
                    "problems": c["problems"],
                    **({"counters": c["counters"]} if "counters" in c else {})}
                   for c in ctx.calls],
            extra={} if trace else wl.extra(rounds),
            failed_ops_ratio=failed / max(attempted, 1),
            warn_lines=warns,
        )
    finally:
        stop(spark)
    result = {"correct": attempted > 0 and failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return record, result


def layer_metrics(W, wl, tracer: H.Tracer, layer: dict, overhead_s: float,
                  warn_total: int) -> dict:
    names = W.layer_names()
    values = dict.fromkeys(names, 0.0)
    layer_spans = []
    for sp in tracer.spans:
        key = sp["name"].removeprefix("call:")
        key = f"{key}_s" if key.startswith("near.") else f"{key}.s"
        if key in values:
            values[key] = sp["end"] - sp["start"]
            layer_spans.append(sp)
    by_name = {sp["name"]: sp for sp in tracer.spans}
    for key, span, field in (
        ("scan.read_mb", "scan", "read_mb"),
        ("dedup_exact.shuffle_mb", "dedup_exact", "shuffle_mb"),
        ("repartition.shuffle_mb", "repartition", "shuffle_mb"),
        ("repartition.task_skew", "repartition", "task_skew"),
        ("reports.jobs", "reports", "jobs"),
        ("normalize.jobs", "normalize", "jobs"),
    ):
        values[key] = by_name.get(span, {}).get(field, 0.0)
    for lname in W.COUNTER_LAYERS:
        spans = [sp for sp in tracer.spans
                 if sp["name"] == lname or sp["name"].startswith(lname + ".")]
        for c in W.COUNTERS:
            values[f"{lname}.{c}"] = sum(sp[c] for sp in spans)
    values.update(layer)
    covered, base = wl.coverage(tracer, layer_spans)
    values["trace.coverage"] = covered / base if base else 0.0
    values["trace.overhead_pct"] = 100.0 * overhead_s / tracer.duration("e2e")
    values["log.warn_lines"] = warn_total
    return {k: {"value": values[k], "unit": W.unit_of(k)} for k in names}


def stop(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Py4JError, OSError):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):  # the JVM may already have closed it
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


if __name__ == "__main__":
    raise SystemExit(main())
