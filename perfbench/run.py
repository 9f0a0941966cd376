"""Benchmark of the local_data_pipeline_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload tpch3_sf0.1 --seed 1 --seconds 20 --trace 0

One process, one client, closed loop: each operation starts when the
previous one has finished. The run sets up a session with
``session.get_spark`` and warms it with ``bench._warmup``, then runs two
full passes over the workload's operations in a seeded order: a warm pass
(the operations' own first-use costs), checked but not measured, then the
measured pass.
Outputs are checked after the timed passes. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Everything the run writes stays under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
CORES = 4
#: Passes per run: a warm pass, then the measured one. The count is fixed
#: rather than filled to ``--seconds`` because walls keep falling from pass
#: to pass as the JIT warms, so a run on a faster moment of the host would
#: fit more passes and report a lower figure.
PASSES = 2



def metric_units() -> dict:
    """Units of the end-to-end and per-layer metrics in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="time budget; a run measures one fixed pass (README.md)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", help="data scale override, e.g. sf0.01 (smoke test)")
    ap.add_argument("--ops", type=int, help="run only the first N operations of a pass")
    ap.add_argument("--plant-wrong", metavar="QUERY",
                    help="self-test: corrupt this query's output so its check fails")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "local_data_pipeline_spark"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(WORK, "runs"))
    for sub in ("local", "tmp", "cwd", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    env = {"SPARK_GRAFT_CPUS": str(CORES), "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local")}
    os.environ.update(env)
    tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.chdir(os.path.join(run_dir, "cwd"))
    sys.path.insert(0, ROOT)
    try:
        return run(args, run_dir, env)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: str, env: dict) -> int:
    import bench
    from local_data_pipeline_spark.queries import QUERIES
    from local_data_pipeline_spark.session import get_spark

    from workloads import (
        clear_persisted, make_workload, prepare_inputs, run_query, run_registry,
    )
    from tracing import Tracer, layer_metrics, peak_rss_mb

    wl = make_workload(args.workload, args.seed, args.scale)
    data = prepare_inputs(wl, WORK, ROOT)
    ops = wl.order(args.seed)[: args.ops]

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", warehouse_dir=os.path.join(run_dir, "warehouse"))
    t1 = time.perf_counter()
    bench._warmup(spark)
    t2 = time.perf_counter()
    setup = {"start_s": t1 - t0, "warmup_s": t2 - t1}
    gateway = spark.sparkContext._gateway
    try:
        tracer = Tracer(spark, bool(args.trace))
        fns = {op.name: QUERIES[op.name].fn for op in ops if op.kind == "query"}
        if args.plant_wrong:
            good = fns[args.plant_wrong]
            fns[args.plant_wrong] = lambda s, d: (lambda df: df.union(df.limit(1)))(good(s, d))

        latencies: list[float] = []
        pass_walls: list[float] = []
        outputs: list[tuple] = []  # (pass, op, result or exception)
        for p in range(PASSES):
            db = f"pass{p}"
            if any(op.kind == "registry" for op in ops):
                spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
            ps = time.perf_counter()
            for i, op in enumerate(ops):
                with tracer.operation(f"p{p}.{i}.{op.name}", op.name, op.kind, p):
                    os0 = time.perf_counter()
                    try:
                        if op.kind == "query":
                            result = run_query(spark, fns[op.name], data, tracer.phase)
                        else:
                            result = run_registry(spark, op.name, data, wl.swell_rows, db)
                    except Exception as exc:  # a raising operation counts as failed
                        result = exc
                    latencies.append(time.perf_counter() - os0)
                if tracer.enabled and isinstance(result, dict):
                    tracer.records[-1]["rows_written"] = sum(result.values())
                outputs.append((p, op, result))
                clear_persisted(spark)
            pass_walls.append(time.perf_counter() - ps)
        rss = peak_rss_mb(spark)
        tracer.close()

        failures = check_outputs(spark, outputs, wl, data)
        for msg in failures:
            print(f"perfbench: check failed: {msg}", file=sys.stderr)
    finally:
        proc = gateway.proc
        spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    attempted = len(outputs)
    failed = len(failures)
    measured = [lat for (p, _, _), lat in zip(outputs, latencies) if p == PASSES - 1]
    units = metric_units()
    e2e = {
        "setup_s": setup["start_s"] + setup["warmup_s"],
        "pass_s": pass_walls[-1],
        "op_p50_s": statistics.median(measured),
    }
    print(f"perfbench {args.workload} seed={args.seed} data={data} passes={PASSES} "
          f"(the first warm, not measured) ops/pass={len(ops)} latency samples={len(measured)}")
    print("pass walls s: " + " ".join(f"{w:.3f}" for w in pass_walls))
    print("op latency s: " + " ".join(
        f"{op.name}={lat:.3f}" for (_, op, _), lat in zip(outputs, latencies)))
    print(f"peak RSS (driver JVM + Python): {rss:.1f} MiB")
    print("env set: " + " ".join(f"{k}={v}" for k, v in env.items()))
    print(f"error_rate = {failed / attempted:.4f} ({failed}/{attempted})")
    for k, v in e2e.items():
        print(f"  {k} = {v:.4f} {units['end_to_end'][k]}")
    if args.trace:
        metrics = layer_metrics(
            [r for r in tracer.records if r["pass"] == PASSES - 1], CORES, setup
        )
        metrics["session.peak_rss_mb"] = rss
        metrics["trace.overhead_s"] = tracer.overhead_s / len(pass_walls)
        mean_pass = sum(pass_walls) / len(pass_walls)
        print(f"trace overhead: {metrics['trace.overhead_s']:.4f} s per pass "
              f"({100 * metrics['trace.overhead_s'] / mean_pass:.2f}% of the pass)")
        write_trace(args, tracer.records, setup, pass_walls)
        kind = "per_layer"
    else:
        metrics, kind = e2e, "end_to_end"
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[kind][k]} for k, v in metrics.items()},
    }
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


def check_outputs(spark, outputs, wl, data) -> list[str]:
    """Check every operation's output; one message per failed operation."""
    from workloads import check_registry, expected_queries, expected_registry_rows

    failures = []
    observed: dict[str, list] = {}
    for _, op, res in outputs:
        if op.kind == "query" and not isinstance(res, Exception):
            observed.setdefault(op.name, []).append(fingerprint(res))
    exp_q = expected_queries(spark, observed, data, WORK) if observed else {}
    exp_r = None
    for p, op, res in outputs:
        tag = f"pass {p} {op.name}"
        if isinstance(res, Exception):
            failures.append(f"{tag}: raised {type(res).__name__}: {str(res)[:300]}")
        elif op.kind == "query":
            want = exp_q.get(op.name)
            got = fingerprint(res)
            if want != got:
                failures.append(f"{tag}: output {got} != expected {want}")
        else:
            if exp_r is None:
                models = {m for _, o, r in outputs if isinstance(r, dict) for m in r}
                exp_r = expected_registry_rows(data, wl.swell_rows, models)
            back = {m: spark.table(f"pass{p}.{m}").count() for m in res}
            msg = check_registry(res, back, exp_r)
            if msg:
                failures.append(f"{tag}: {msg}")
    return failures


def fingerprint(res: tuple) -> list:
    """A query operation's (rows, hash, columns) in its cached JSON form."""
    return [res[0], str(res[1]), list(res[2])]


def write_trace(args, records, setup, pass_walls) -> None:
    """Write the traced run's spans and per-operation counts."""
    d = os.path.join(WORK, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "setup": setup,
                   "pass_walls": pass_walls, "ops": records}, fh, indent=1)
    print(f"trace written: {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
