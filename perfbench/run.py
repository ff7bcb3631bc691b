"""Lake benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload daily_batch --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The run sets up once, cold: it
launches the JVM with a fresh SparkSession at ``local[nproc]``, makes
a fresh scratch root, the seeded inputs and the fixture tables. Then
come the warm-up, the timed phase and the correctness checks.
Everything it writes lives under ``perfbench/.work/`` (removed at
exit) and ``perfbench/out/``.

The last line of standard output is the result object. With
``--trace 0`` its metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics, and the run's own
end-to-end numbers (with tracing on) go to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORKLOADS = ("daily_batch", "query_mix")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("aws_datalake_spark/__init__.py", "tools/gen_sf.py"):
        if not os.path.isfile(os.path.join(CHECKOUT, need)):
            print(f"perfbench: {need} not found; run from a checkout of the program", file=sys.stderr)
            return 2
    sys.path.insert(0, CHECKOUT)
    from perfbench.harness import RssSampler, fresh_dir

    work = fresh_dir(os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    tmp = fresh_dir(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived JVM spark-submit starts to build its command line
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        [os.environ.get("SPARK_LAUNCHER_OPTS", ""), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    ).strip()
    tempfile.tempdir = None
    rss = RssSampler().start()
    try:
        report = run(args, work, rss)
    finally:
        rss.stop()
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    report["info"]["run_wall_s"] = round(time.monotonic() - T_START, 3)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    for k, v in sorted(report["info"].items()):
        print(f"# {k}: {v}")
    from perfbench.metrics import UNITS

    metrics = report["per_layer"] if args.trace else report["e2e"]

    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


def run(args, work: str, rss) -> dict:
    from perfbench.harness import OpLog, closed_loop, dir_files, fresh_dir, start_session
    from perfbench.metrics import per_layer
    from perfbench.trace import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    lake_s = 0.0
    if args.workload == "daily_batch":
        from perfbench.daily_batch import DailyBatch

        wl = DailyBatch(args.seed, tracer)
    else:
        from perfbench.query_mix import QueryMix

        t0 = time.monotonic()
        lake = make_lake(os.path.join(HERE, ".cache", "lake-sf0.1"))
        lake_s = time.monotonic() - t0
        wl = QueryMix(args.seed, tracer, lake)

    root = fresh_dir(os.path.join(work, "root"))
    t0 = time.monotonic()
    spark = start_session(root, tracer)
    session_s = time.monotonic() - t0
    wl.setup(spark, root)
    setup_s = time.monotonic() - t0

    log = OpLog()
    tracer.phase = "warmup"
    t0 = time.monotonic()
    wl.warmup()
    log.warmup_s = time.monotonic() - t0
    tracer.phase = "timed"
    closed_loop(wl.op, args.seconds, wl.block, tracer, log)
    # the checks' own memory (DuckDB, Arrow copies) is left out
    peak_rss_mb = rss.stop() / 1024
    tracer.phase = "check"
    t0 = time.monotonic()
    checked = wl.check()
    failed = checked.ops | {i + wl.n_warmup for i in log.raised}
    check_s = time.monotonic() - t0
    attempted = wl.n_warmup + log.attempted

    lat = log.summary()
    elapsed = log.elapsed or float("nan")
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": log.rows / elapsed,
        "queries_per_s": len(log.latencies) / elapsed,
        "latency_p50_s": lat["p50"],
        "latency_tail_s": lat["tail"],
        "storage_amp": sum(dir_files(*wl.table_roots()).values()) / wl.input_bytes(),
        "peak_rss_mb": peak_rss_mb,
    }
    info = {
        "workload": f"{wl.name} (closed loop, one client)",
        "session_start_s": round(session_s, 3),
        "lake_s": round(lake_s, 3),
        "warmup": f"{wl.n_warmup} ops in {log.warmup_s:.3f} s",
        "timed": f"{log.attempted} ops in {elapsed:.3f} s",
        "latency": f"p50 {lat['p50']:.4f} s, tail p{lat['tail_pct']:.1f} {lat['tail']:.4f} s over n={lat['n']}",
        "latencies_s": [round(x, 3) for x in log.latencies],
        "fail_rate": f"{len(failed)}/{attempted} = {len(failed) / attempted:.4f}",
        "failed_ops": sorted(failed),
        "failed_checks": checked.reasons,
        "check_s": round(check_s, 3),
    }
    report = {"e2e": e2e, "info": info, "attempted": attempted, "failed": len(failed)}
    if tracer.enabled:
        report["per_layer"] = per_layer(wl, tracer, log)
        tracer.write(os.path.join(HERE, "out", f"{wl.name}-seed{args.seed}-spans.jsonl"))
    return report


def make_lake(out: str) -> str:
    """The sf0.1 lake, written by the repository's fixture generator
    (deterministic) on the first run in a checkout and reused after."""
    import importlib.util

    if os.path.isdir(out):
        return out
    spec = importlib.util.spec_from_file_location("gen_sf", os.path.join(CHECKOUT, "tools", "gen_sf.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    partial = f"{out}.partial-{os.getpid()}"
    with contextlib.redirect_stdout(sys.stderr):
        mod.gen(0.1, partial)
    os.replace(partial, out)
    return out


def stop_spark() -> None:
    """Stop the session, shut the JVM down and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    from perfbench.harness import wait_children

    wait_children(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
