"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl|curation|dialect --seed N \
        --seconds S --trace 0|1 [--pair-ops]

Run from the repository root. Builds the program from source (see
build.py), generates the workload's inputs from the seed (gen.py), and runs
the workload in one JVM as a closed loop with one client on local[nproc]:
set-up (input generation, timed three times, then the session start and a
warm-up read, timed from JVM start), one cold pass, at least three warm
passes and S seconds of them, then an untimed verification pass whose
outputs are checked against the DuckDB oracles
(scripts/check_correctness.py). Every timed result must match the verified
row count and hash. --pair-ops adds to curation the two all-pairs dedup
ops, whose oracles take minutes; it is for runs by hand.

With --trace 0 the result line carries the end-to-end metrics; with
--trace 1 the per-layer ones, from passes traced by a SparkListener and a
QueryExecutionListener, including the tracing overhead. perfbench/METRICS.md
says which end-to-end metric each layer metric should move on which
workload. The last stdout line is the result JSON, also written to
.bench_out/<workload>[-pairs]-<seed>-t<trace>/result.json with the run's
provenance, failures and spans.
"""
import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

GENERATIONS = 3  # input generation is timed this many times
RUN_LIMIT_S = 170  # the run, build excluded, must end within this
# module opens Spark needs on JDK 17 outside spark-submit (as in build.sbt)
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def box_cpu():
    """(all, steal) CPU time of the box in clock ticks, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def declared_metrics(kind):
    """Name -> unit of the `end_to_end` or `per_layer` metrics in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def oracle_failures(input_dir, dump_dir, out_dir):
    """Names whose dumped output fails its DuckDB oracle (or, with no
    oracle, is empty or missing), using the repository's checker."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "scripts", "check_correctness.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    report = os.path.join(out_dir, "oracle.json")
    with open(os.path.join(out_dir, "oracle.log"), "w") as log, contextlib.redirect_stdout(log):
        check.main(input_dir, dump_dir, json_out=report)
    with open(report) as f:
        results = json.load(f)
    bad = {}
    for name, r in results.items():
        err = r.get("err")
        if err == "no_oracle":
            if not r.get("spark_rows"):
                bad[name] = "empty or unreadable output"
        elif err or r.get("schema_match") is False or r.get("rows_match") is False \
                or r.get("hash_match") is not True:
            bad[name] = err or "mismatch against the DuckDB oracle"
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pair-ops", action="store_true",
                    help="curation only: add d04 and d06, whose all-pairs oracles take minutes")
    a = ap.parse_args()
    if a.pair_ops and a.workload != "curation":
        ap.error("--pair-ops applies to the curation workload only")

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("run: no program sources next to perfbench/ -- run from a repository checkout")
    t_build = time.monotonic()
    classpath = build.build()

    started = time.monotonic()
    build_s = started - t_build
    load_start, cpu_start = os.getloadavg(), box_cpu()
    cores = len(os.sched_getaffinity(0))
    tag = f"{a.workload}{'-pairs' if a.pair_ops else ''}-{a.seed}-t{a.trace}"
    out = os.path.join(ROOT, ".bench_out", tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))

    # set-up part 1: input generation, timed each time it is repeated
    gen_s, record = [], None
    for i in range(GENERATIONS):
        t0 = time.perf_counter()
        rec = gen.generate(a.workload, a.seed, os.path.join(out, f"input{i}"))
        gen_s.append(time.perf_counter() - t0)
        if record is not None and rec != record:
            sys.exit("run: input generation is not deterministic")
        record = rec
    input_dir = os.path.join(out, f"input{GENERATIONS - 1}")
    for i in range(GENERATIONS - 1):
        shutil.rmtree(os.path.join(out, f"input{i}"))

    # set-up part 2 and the passes, in one JVM with a fixed 1 GB heap (the
    # size Spark gives a local session by default): a heap resized on the
    # fly made the pass times of one seed differ more from run to run. The heap's pages are
    # touched as the program first uses them.
    cmd = (["java", "-Xms1g", "-Xmx1g", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main", a.workload, str(a.seed),
              str(a.seconds), str(a.trace), input_dir, out, str(cores), str(int(a.pair_ops))])
    # Spark takes its scratch directories from SPARK_LOCAL_DIRS in local mode
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"))
    jvm_log = os.path.join(out, "jvm.log")
    t_jvm = time.monotonic()
    with open(jvm_log, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT, env=env,
                                timeout=RUN_LIMIT_S - (time.monotonic() - started)).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(jvm_log) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"run: benchmark JVM failed ({rc}); log in {jvm_log}")
    with open(os.path.join(out, "jvm_result.json")) as f:
        res = json.load(f)
    jvm_wall_s = time.monotonic() - t_jvm

    # correctness: oracle check of the dumps, then every timed result
    # against its verified row count and hash
    t_oracle = time.monotonic()
    bad_oracle = oracle_failures(input_dir, os.path.join(out, "dump"), out)
    oracle_s = time.monotonic() - t_oracle
    verified = res["verified"]
    attempted, failures = 0, []
    for p in res["passes"]:
        for r in p["ops"]:
            attempted += 1
            v = verified.get(r["name"], {})
            why = (r["error"] or v.get("error")
                   or bad_oracle.get(r["name"])
                   or (None if (r["rows"], r["hash"]) == (v.get("rows"), v.get("hash"))
                       else f"result {r['rows']} rows/{r['hash']} differs from verified "
                            f"{v.get('rows')} rows/{v.get('hash')}"))
            if why:
                failures.append({"pass": p["index"], "op": r["name"], "why": why})

    passes = res["passes"]
    warm = [p for p in passes[1:] if not p["traced"]]
    traced_warm = [p for p in passes[1:] if p["traced"]]
    # a script's latency is its median over the untraced warm passes; with a
    # handful of scripts no percentile has ten samples beyond it, so the
    # tail is the slowest script
    script_ms = {r["name"]: statistics.median(q["seconds"] * 1e3 for p in warm
                                              for q in p["ops"] if q["name"] == r["name"])
                 for r in passes[0]["ops"]}
    if a.trace == 0:
        values = {
            "setup_s": statistics.median(gen_s) + res["setup_s"],
            "cold_pass_s": passes[0]["seconds"],
            "warm_pass_s": statistics.median(p["seconds"] for p in warm),
            "script_p50_ms": statistics.median(script_ms.values()),
            "script_tail_ms": max(script_ms.values()),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in declared_metrics("end_to_end").items()}
    else:
        values = {}
        for k in traced_warm[0]["layers"]:
            values[k] = statistics.median(p["layers"][k] for p in traced_warm)
        for name, ms in script_ms.items():
            values[f"op.{name}_s"] = ms / 1e3
        values["failed_ops"] = len(failures) / attempted
        values["mem.heap_after_gc_mb"] = res["heap_after_gc_mb"]
        traced_s = statistics.median(p["seconds"] for p in traced_warm)
        values["trace.warm_pass_s"] = traced_s
        values["trace.overhead_s"] = traced_s - statistics.median(p["seconds"] for p in warm)
        # layers and ops of other workloads did no work in this one
        metrics = {k: {"value": values.get(k, 0.0), "unit": u}
                   for k, u in declared_metrics("per_layer").items()}

    line = {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": metrics}
    load_end, cpu_end = os.getloadavg(), box_cpu()
    # the share of the box's CPU time the hypervisor gave to other guests
    # during the run: runs with a high share were slow throughout
    steal = (cpu_end[1] - cpu_start[1]) / max(1, cpu_end[0] - cpu_start[0])
    provenance = {"nproc": cores, "loadavg_start": load_start, "loadavg_end": load_end,
                  "cpu_steal_share": steal,
                  "java_version": res["java_version"], "spark_version": res["spark_version"],
                  "inputs": record, "setup_gen_s": gen_s,
                  "setup_jvm_s": res["setup_s"], "heap_after_gc_mb": res["heap_after_gc_mb"],
                  "wall_s": {"build": build_s, "jvm": jvm_wall_s, "jvm_verify": res["verify_s"],
                             "oracle": oracle_s, "total": time.monotonic() - t_build},
                  "passes": [{"index": p["index"], "traced": p["traced"],
                              "seconds": p["seconds"]} for p in passes],
                  "script_ms": script_ms}
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump({"result": line, "provenance": provenance, "failures": failures},
                  f, indent=1, sort_keys=True)
    print(f"# {a.workload} seed {a.seed}: nproc {cores}, loadavg {load_start[0]:.2f} -> "
          f"{load_end[0]:.2f}, cpu steal {steal:.1%}, java {res['java_version']}, spark {res['spark_version']}, "
          f"{len(passes)} passes; script_tail_ms is the slowest of {len(script_ms)} scripts, "
          f"each at its median over {len(warm)} warm passes; wall build {build_s:.1f} s, "
          f"jvm {jvm_wall_s:.1f} s (verify {res['verify_s']:.1f} s), oracle {oracle_s:.1f} s")
    for fl in failures[:20]:
        print(f"# FAILED pass {fl['pass']} {fl['op']}: {fl['why'][:300]}")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
