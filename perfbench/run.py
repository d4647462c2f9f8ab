#!/usr/bin/env python3
"""sparkgraft benchmark: seeded, oracle-checked workloads on local[nproc].

Run from the repository root:

    python3 perfbench/run.py --workload headline --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --smoke

One run builds its input tables from the seed (``gen.py``), starts the
session, runs the workload's keys in passes (``workloads.json``) from one
client in a closed loop, checks every key's first result against its
DuckDB oracle, and prints one JSON line last: ``correct``, ``attempted``,
``failed`` and ``metrics``.

With ``--trace 0`` the metrics are the end-to-end ones: ``setup_s`` (import
sparkgraft, ``get_session`` and the first ``QUERIES`` access) and ``pass_s``
(wall time of a pass in which every key takes its median time over the
timed passes, every result landed in the driver as a pandas frame). With
``--trace 1`` Spark's event log is switched on and the metrics are the
per-layer ones (``layers.py``).
Everything the run writes stays under ``.perfbench/`` in the working
directory and is removed when the run ends; the sample counts and per-key
times go to stderr.

``bench.py``'s graded line is a separate contract and is not produced here.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import gen
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC_PATH = os.path.join(HERE, "workloads.json")
END_TO_END = {"setup_s": "s", "pass_s": "s"}
CORES = len(os.sched_getaffinity(0))  # what nproc counts: local[CORES] task slots
# Driver heap (the only executor in local mode): ample for the workloads'
# inputs, small beside the 15 GB, 4-core host the benchmark was sized on.
DRIVER_MEM = "2g"
# JVM settings that let a run settle before its window:
# - the heap starts at its maximum; a growing G1 heap made the first
#   passes after the cold one slower by amounts that varied run to run;
# - the JIT stops at C1. With the default tiered C2 compiler the compiler
#   threads still take ~0.6 core through the first minute, pass times fall
#   by a third over that minute, and two busy processes beside the
#   benchmark made a pass 36% slower (C1: 3%): the window sat in that
#   slope and measured how fast the host let C2 compile.
JVM_OPTS = f"-Xms{DRIVER_MEM} -XX:TieredStopAtLevel=1"


def _load_spec() -> dict:
    with open(SPEC_PATH, encoding="utf-8") as fh:
        return json.load(fh)


def _isolate(rundir: str, trace: bool) -> None:
    """Point every writer at the run directory before the JVM starts:
    sparkgraft's table logs and stream staging (``tempfile``), Spark's
    block manager, the JVM's temp files and the SQL warehouse."""
    tmp = os.path.join(rundir, "tmp")
    local = os.path.join(rundir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    conf = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} {JVM_OPTS}",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(rundir, 'warehouse')}"]
    if trace:
        evdir = os.path.join(rundir, "eventlog")
        os.makedirs(evdir)
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{evdir}"]
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_SUBMIT_ARGS": shlex.join(conf + ["pyspark-shell"]),
    })
    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _stop_jvm(spark) -> float:
    """Stop the session and its JVM; return the JVM's peak RSS in MB as
    the OS accounted it when the process exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0


def median_pass_s(spans: list[dict]) -> float:
    """Wall time of a pass in which every key takes its median time over
    the timed passes: a stall in one key of one pass moves one sample of
    that key, not a whole pass total."""
    per_key: dict[str, list[float]] = {}
    for s in spans:
        if s["timed"]:
            per_key.setdefault(s["key"], []).append(s["end"] - s["start"])
    return sum(statistics.median(v) for v in per_key.values())


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            if os.path.isfile(p) and not os.path.islink(p):
                files += 1
                size += os.path.getsize(p)
    return files, size


def _add_faults(queries: dict, oracle: dict, base: str) -> list[str]:
    """Register the self-test's two faulty keys: one returns a result its
    oracle (``base``'s) does not match, one raises."""
    queries["selftest_wrong_result"] = lambda spark, sf: queries[base](spark, sf).limit(0)
    oracle["selftest_wrong_result"] = oracle[base]

    def raising(spark, sf):
        raise RuntimeError("selftest: deliberate failure")

    queries["selftest_raises"] = raising
    return ["selftest_wrong_result", "selftest_raises"]


def run(workload: str, seed: int, seconds: float, trace: bool,
        sf: float | None = None, inject_faults: bool = False) -> dict:
    """One benchmark run; returns the result object that is printed."""
    spec = _load_spec()["workloads"][workload]
    sf = spec["sf"] if sf is None else sf
    base = os.path.join(os.getcwd(), ".perfbench")
    os.makedirs(base, exist_ok=True)
    rundir = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=base)
    spark = None
    try:
        data = os.path.join(rundir, "data")
        input_bytes = sum(gen.write_corpus(data, sf, seed).values())
        _isolate(rundir, trace)

        t0 = time.perf_counter()
        import sparkgraft

        spark = sparkgraft.get_session("perfbench")
        t1 = time.perf_counter()
        queries = dict(sparkgraft.QUERIES)
        oracle = dict(sparkgraft.ORACLE)
        t2 = time.perf_counter()
        keys = list(spec["keys"])
        # untimed passes before the window; the first is the oracle-checked one
        warmup = spec["warmup_passes"]
        if inject_faults:
            keys += _add_faults(queries, oracle, keys[0])
        missing = [k for k in keys if k not in queries]
        if missing:
            raise SystemExit(f"perfbench: unknown keys {missing}")

        rng = random.Random(seed)
        clock = time.time() - time.perf_counter()  # perf_counter -> epoch seconds
        spans: list[dict] = []
        first: dict[str, object] = {}  # key -> pandas result of the first pass
        failures: list[tuple[str, str]] = []  # (key, why) per failed execution
        attempted = 0
        timed_pass_s: list[float] = []

        def one_pass(index: int) -> float:
            nonlocal attempted
            timed = index >= warmup
            order = keys[:]
            rng.shuffle(order)
            p0 = time.perf_counter()
            for key in order:
                attempted += 1
                fn = queries[key]
                if trace:
                    spark.sparkContext.setJobGroup(key, key)
                k0 = time.perf_counter()
                try:
                    df = fn(spark, data)
                    k1 = time.perf_counter()
                    pdf = df.toPandas()
                except Exception:  # a failing key is counted, never fatal
                    failures.append((key, traceback.format_exc(limit=2)))
                    continue
                k2 = time.perf_counter()
                if index == 0:
                    first[key] = pdf
                elif len(pdf) != len(first.get(key, pdf)):
                    failures.append((key, f"{len(pdf)} rows, first pass had {len(first[key])}"))
                    continue
                spans.append({"pass": index, "timed": timed, "key": key,
                              "module": layers.module_of(fn), "start": k0 + clock,
                              "call_end": k1 + clock, "end": k2 + clock, "rows": len(pdf)})
            return time.perf_counter() - p0

        warm_s = sum(one_pass(i) for i in range(warmup))
        window0 = time.perf_counter()
        while True:
            timed_pass_s.append(one_pass(warmup + len(timed_pass_s)))
            if time.perf_counter() - window0 + timed_pass_s[-1] > seconds:
                break

        from sparkgraft.oracle import compare_frames, duckdb_connect

        con = duckdb_connect(data)
        wrong: dict[str, str] = {}
        for key, pdf in first.items():
            if key in oracle:
                problems = compare_frames(pdf, con.execute(oracle[key]).fetchdf())
                if problems:
                    wrong[key] = "oracle mismatch: " + "; ".join(problems)
        con.close()
        # a key whose checked result is wrong counts as failed on every execution
        failures += [(s["key"], wrong[s["key"]]) for s in spans if s["key"] in wrong]
        reported = set()
        for key, why in failures:
            if key not in reported:
                reported.add(key)
                print(f"perfbench: FAILED {key}: {why.strip()}", file=sys.stderr)
        n_failed = len(failures)

        peak_rss_mb = _stop_jvm(spark)
        spark = None
        failed_frac = n_failed / attempted
        print(f"perfbench: {workload} seed={seed} sf={sf} input_bytes={input_bytes} "
              f"failed={n_failed}/{attempted} warmup_s={warm_s:.2f} "
              f"timed_pass_s={[round(p, 2) for p in timed_pass_s]}", file=sys.stderr)
        print("perfbench: first pass " + " ".join(
            f"{s['key']}={s['end'] - s['start']:.2f}s" for s in spans if s["pass"] == 0),
            file=sys.stderr)
        print("perfbench: timed " + " ".join(
            f"{s['key']}={s['end'] - s['start']:.2f}s" for s in spans if s["timed"]),
            file=sys.stderr)
        if trace:
            stored = _dir_usage(os.path.join(rundir, "tmp"))
            metrics = layers.compute(
                os.path.join(rundir, "eventlog"), spans, timed_pass_s, CORES,
                {"session.start_s": t1 - t0, "registry.load_s": t2 - t1,
                 "scans.files_stored": stored[0], "scans.bytes_stored": stored[1],
                 "scans.space_amp": stored[1] / input_bytes, "bench.failed_frac": failed_frac,
                 "jvm.peak_rss_mb": peak_rss_mb, "trace.pass_s": median_pass_s(spans)})
            unit = layers.units()
        else:
            metrics = {"setup_s": t2 - t0, "pass_s": median_pass_s(spans)}
            unit = END_TO_END
        return {"correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
                "metrics": {k: {"value": metrics[k], "unit": unit[k]} for k in unit}}
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(rundir, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)


def smoke() -> int:
    """Self-test: every workload at sf0.001 with one timed pass, traced and not.
    Asserts that every metric BENCHMARK.json names is printed with its
    unit, and that a wrong result and a raising key both count as failed."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    names = set(_load_spec()["workloads"])
    problems = []
    if {w["name"] for w in bench["workloads"]} != names:
        problems.append("BENCHMARK.json workloads differ from workloads.json")
    for workload in sorted(names):
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace),
                   "--sf", "0.001", "--inject-faults"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            if proc.returncode != 0:
                problems.append(f"{workload} trace={trace}: exit {proc.returncode}\n"
                                f"{proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            got = {name: m["unit"] for name, m in result["metrics"].items()}
            want = {m["name"]: m["unit"] for m in declared}
            if got != want:
                problems.append(f"{workload} trace={trace}: metrics/units differ: "
                                f"{sorted(set(got.items()) ^ set(want.items()))}")
            # each fault key fails once per pass: the warm-up passes and one timed pass
            expected = 2 * (_load_spec()["workloads"][workload]["warmup_passes"] + 1)
            if result["failed"] != expected or result["correct"]:
                problems.append(f"{workload} trace={trace}: expected {expected} failed "
                                f"executions from the two fault keys, got {result['failed']}")
            print(f"smoke {workload} trace={trace}: attempted={result['attempted']} "
                  f"failed={result['failed']}", flush=True)
    for p in problems:
        print(f"SMOKE FAIL: {p}")
    return 1 if problems else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="run the self-test")
    ap.add_argument("--sf", type=float, help=argparse.SUPPRESS)
    ap.add_argument("--inject-faults", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if importlib.util.find_spec("pyspark") is None or \
            not os.path.isfile(os.path.join(ROOT, "sparkgraft", "__init__.py")):
        print("perfbench: pyspark or the sparkgraft package is missing", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    workloads = _load_spec()["workloads"]
    if args.workload not in workloads:
        print(f"perfbench: --workload must be one of {sorted(workloads)}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 args.sf, args.inject_faults)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
