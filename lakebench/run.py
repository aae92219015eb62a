#!/usr/bin/env python3
"""lakebench: graft's end-to-end and per-layer benchmark.

Usage (from the repository root):
  python3 lakebench/run.py --workload point_reads --seed 1 --seconds 12 --trace 0

Builds graft and the benchmark's JVM runner from source when needed,
generates the workload's inputs from the seed, runs the workload on Spark
local[k] (k = the number of CPUs), checks every output, and prints the
metrics. The last line of standard output is one JSON object with keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics of the traced run with --trace 1.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
# wall-clock limit of one run, set-up and checks included; large_log_reads
# writes ~12 000 files in its set-up
RUN_LIMIT_S = {"large_log_reads": 600}
DEFAULT_RUN_LIMIT_S = 170

# Workload parameters at scale 1 (sf0.1 row counts). Sizes that set the
# per-run time (commits, files, documents) are fixed so that a run stays
# within its time budget; `--scale` shrinks the row counts for the smoke
# test.
WORKLOADS = {
    "point_reads": {
        "commits": 15, "keys_per_batch": 2000, "max_records_per_file": 0,
        "tt_min_version": 1, "warmup_ops": 16, "ops": 4000, "setup_repeats": 2,
    },
    # no checkpoint (10 commits): the JSON commits of every version read,
    # time travel included, exceed the 8 MiB driver-replay bound
    "large_log_reads": {
        "commits": 10, "keys_per_batch": 15000, "max_records_per_file": 50,
        "tt_min_version": 8, "warmup_ops": 4, "ops": 4000, "setup_repeats": 1,
    },
    "ingest_mix": {
        "rows": 150000, "initial_files": 8, "append_rows": 500,
        "append_batches": 256, "merge_updates": 150,
        "merge_inserts": 50, "merge_batches": 32, "delete_width": 100,
        "optimize_every": 4, "writer_b_ops": 64, "reads": 4000, "retries": 20,
        "optimize_target_bytes": 1 << 20, "checkpoint_interval": 4,
        "setup_repeats": 2,
    },
    "dedup_pipeline": {
        "documents": 1000, "embeddings": 1000, "setup_repeats": 3,
    },
}
SCALED = {
    "point_reads": ("keys_per_batch",),
    "large_log_reads": ("keys_per_batch",),
    "ingest_mix": ("rows",),
    "dedup_pipeline": ("documents", "embeddings"),
}

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def params_for(workload, scale):
    p = dict(WORKLOADS[workload])
    for k in SCALED[workload]:
        p[k] = max(1, int(p[k] * scale))
    if workload == "ingest_mix":
        p["rows"] = max(p["rows"], 8000)
    return p


_children = []


def _stop_children(signum, _frame):
    """Kill the JVM runner's process group and wait for it, then exit."""
    for proc in _children:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    sys.exit(128 + signum)


def run_jvm(classpath, plan_path, result_path, log_path, deadline):
    java = build.java()
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.1",
           f"-Djava.io.tmpdir={os.path.dirname(plan_path)}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK17_OPENS]
    cmd += ["-cp", classpath, "graft.bench.Main", plan_path, result_path]
    os.makedirs(os.path.join(os.path.dirname(plan_path), "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        _children.append(proc)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError("the JVM runner exceeded the run's time limit")
        finally:
            _children.remove(proc)
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"the JVM runner failed (exit {rc}):\n{tail}")


def dedup_checks(res, inputs):
    """Pass 0 against the declared DuckDB oracle SQL; every timed pass
    against pass 0. Returns the number of checks and the failures."""
    import duckdb
    stage_dir = res["info"]["stage_dir"]
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs[t]}')")

    def spark_out(p, q):
        df = con.execute(
            f"SELECT * FROM read_parquet('{stage_dir}/pass_{p}/{q}/*.parquet')").df()
        return df.reindex(sorted(df.columns), axis=1)

    failures = []
    first = {}
    for q, sql in res["stage_sql"].items():
        got = spark_out(0, q)
        want = con.execute(sql).df()
        want = want.reindex(sorted(want.columns), axis=1)
        if not frames_equal(got, want):
            failures.append(f"{q}: pass 0 differs from the DuckDB oracle "
                            f"({len(got)} vs {len(want)} rows)")
        first[q] = got
    for p in range(1, res["passes"] + 1):
        for q in res["stage_sql"]:
            if not frames_equal(spark_out(p, q), first[q]):
                failures.append(f"{q}: pass {p} differs from pass 0")
    return len(first) * (res["passes"] + 1), failures


def frames_equal(a, b):
    """Exact equality of two row-ordered frames, NaN equal to NaN."""
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c].reset_index(drop=True), b[c].reset_index(drop=True)
        try:
            eq = (x.isna() & y.isna()) | (x == y)
        except (TypeError, ValueError):
            eq = x.astype(str) == y.astype(str)
        if not bool(eq.all()):
            return False
    return True


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="row-count scale (1.0 = sf0.1); smaller for smoke runs")
    args = ap.parse_args(argv)
    deadline = time.time() + RUN_LIMIT_S.get(args.workload, DEFAULT_RUN_LIMIT_S)
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _stop_children)

    try:
        classpath = build.build(quiet=True)
    except build.BuildError as e:
        print(f"lakebench: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(BENCH, "out", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        params = params_for(args.workload, args.scale)
        inputs, ops = gen.make_plan(args.workload, args.seed, work, params)
        plan = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "cores": len(os.sched_getaffinity(0)), "work": work,
                "params": params, "inputs": inputs, "ops": ops}
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        result_path = os.path.join(work, "result.json")
        run_jvm(classpath, plan_path, result_path, os.path.join(work, "jvm.log"), deadline)
        with open(result_path) as f:
            res = json.load(f)

        run_failures = list(res["checks"]["failures"][:res["checks"]["run_failed"]])
        run_checks = res["checks"]["run_checks"]
        if args.workload == "dedup_pipeline":
            n, failures = dedup_checks(res, inputs)
            run_checks += n
            run_failures += failures
        op_failed = report.failed_ops(res)
        attempted = len(res["ops"])
        correct = not run_failures and res["checks"]["op_failed"] == 0 and attempted > 0

        print(f"lakebench {args.workload} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace} cores={plan['cores']}")
        print("params " + json.dumps(params, sort_keys=True))
        print("spark " + json.dumps(res["info"]["spark_conf"], sort_keys=True))
        info = {k: v for k, v in res["info"].items() if k not in ("spark_conf", "params")}
        print("inputs " + json.dumps(info, sort_keys=True))
        print(f"checks: {res['checks']['op_checks']} op checks, "
              f"{run_checks} run checks, "
              f"{len(run_failures) + res['checks']['op_failed']} failed")
        for msg in (run_failures + res["checks"]["failures"])[:10]:
            print(f"  check failed: {msg}")
        for name, (value, unit) in report.named_metrics(args.workload, res, params).items():
            print(f"  {name} = {value:.6g} {unit}")

        if args.trace:
            layer = report.per_layer(args.workload, res, gen.DEDUP_STAGES)
            self_total = sum(v for k, v in layer.items()
                             if k.startswith("self.") and k != "self.op_wall_ms")
            print(f"  layer self times (ms/op): "
                  + ", ".join(f"{k[5:-3]}={v:.3f}" for k, v in layer.items()
                              if k.startswith("self.") and k != "self.op_wall_ms")
                  + f"; sum {self_total:.3f} = op wall {layer['self.op_wall_ms']:.3f}")
            print(f"  tracing overhead: {layer['trace.overhead_ms']:.3f} ms per op "
                  f"({100 * layer['trace.overhead_ratio']:.1f}%)")
            metrics = {k: {"value": v, "unit": LAYER_UNITS.get(k, unit_of(k))}
                       for k, v in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in report.end_to_end(args.workload, res).items()}
        print(json.dumps({"correct": bool(correct), "attempted": attempted,
                          "failed": min(attempted, op_failed + len(run_failures)),
                          "metrics": metrics}))
        return 0 if correct else 1
    except Exception as e:  # the run produced no result
        print(f"lakebench: {e}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)


LAYER_UNITS = {"trace.overhead_ratio": "ratio", "replay.cache_hit_ratio": "ratio",
               "skipping.kept_ratio": "ratio", "skipping.useful_ratio": "ratio",
               "write.bytes_per_user_byte": "ratio", "fs.bytes_read": "B",
               "fs.bytes_written": "B", "replay.log_bytes": "B",
               "spark.input_bytes": "B", "spark.shuffle_bytes": "B",
               "spark.spill_bytes": "B", "checkpoint.count": "count"}


def unit_of(name):
    return "ms" if name.endswith("ms") or name.endswith("_ms") else "count"


if __name__ == "__main__":
    sys.exit(main())
