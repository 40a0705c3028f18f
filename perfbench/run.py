#!/usr/bin/env python3
"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness
from source on first use (perfbench/build.py), generates the workload's
inputs from the seed (perfbench/gen.py), runs the workload in one JVM
with Spark local[nproc] through the program's public functions
(perfbench/src), checks every output (in the JVM, or against DuckDB in
perfbench/check.py), and prints one JSON result as the last line of
standard output. Untraced runs report the end-to-end metrics, traced
runs the per-layer metrics, by the names and units BENCHMARK.json lists;
perfbench/metrics.json describes each one.
Everything the benchmark writes stays under <checkout>/.bench_build.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("airline_etl", "airline_serving")
XMX = "3g"
JVM_TIMEOUT_S = 165
# build.sbt's forked-run --add-opens list: Spark on JDK 17 outside spark-submit
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def mem_total_kb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def provenance(args, jvm, meta, in_bytes):
    git = None
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        git = r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "git_sha": git, "source_sha": build.source_sha(),
        "nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem_total_kb(),
        "xmx": XMX, "spark_version": jvm.get("spark_version"),
        "jvm_version": jvm.get("jvm_version"), "workload": args.workload,
        "seed": args.seed, "input_rows": meta["rows"], "input_bytes": in_bytes,
    }


def same_source_and_host(a, b):
    return all(a.get(k) == b.get(k) for k in
               ("source_sha", "nproc", "mem_total_kb", "xmx", "spark_version", "jvm_version"))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    build_s = build.ensure()
    cores = len(os.sched_getaffinity(0))
    run = os.path.join(build.OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    in_dir, work = os.path.join(run, "in"), os.path.join(run, "work")
    meta = gen.generate(args.workload, args.seed, in_dir)
    in_bytes = gen.input_bytes(in_dir)
    traces = os.path.join(build.OUT, "traces")
    os.makedirs(traces, exist_ok=True)
    os.makedirs(os.path.join(run, "tmp"), exist_ok=True)
    spans = os.path.join(traces, f"{args.workload}-{args.seed}.jsonl")
    result_path = os.path.join(run, "result.json")
    cmd = (["java", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run}/tmp"] +
           [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS] +
           ["-cp", os.path.join(build.classes_dir()) + os.pathsep +
            os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--in", in_dir, "--work", work,
            "--result", result_path, "--spans", spans])
    log_path = os.path.join(run, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"JVM {'timed out' if rc is None else f'exited {rc}'}")
    with open(result_path) as f:
        res = json.load(f)

    # untimed output checks that run outside the JVM
    import check
    chk = res["checks"]
    verdict = {}
    if chk["kind"] == "airline_etl":
        verdict = {f"airline.{q}": v for q, v in
                   check.airline(in_dir, chk["dir"], os.path.join(run, "tmp")).items()}
    for name, err in verdict.items():
        if err:
            sys.stderr.write(f"perfbench: check {name} failed: {err}\n")
    ops = res["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"] or verdict.get(o["name"]))
    for o in ops:
        if not o["ok"]:
            sys.stderr.write(f"perfbench: op {o['name']} failed: {o['err']}\n")
    checks_ok = all(v is None for v in verdict.values())

    prov = provenance(args, res["provenance"], meta, in_bytes)
    passes = res["passes"]

    def med(key):
        return statistics.median(p[key] for p in passes)

    launch_to_session = res["session_ready_ms"] / 1e3 - T0 - build_s
    setup_s = launch_to_session + res["warmup_s"] + res["setup_s"]
    wall_s = med("wall_s")
    record = os.path.join(build.OUT, "records", f"{args.workload}-{args.seed}.json")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        catalog = json.load(f)
    if args.trace == 0:
        values = {"setup_s": setup_s, "wall_s": wall_s, "cpu_s": med("cpu_s"),
                  "stored_mb": med("stored_mb"), "query_ms": med("query_ms"),
                  "write_ms": med("write_ms")}
        metrics = {m["name"]: (values[m["name"]], m["unit"]) for m in catalog["end_to_end"]}
        os.makedirs(os.path.dirname(record), exist_ok=True)
        with open(record, "w") as f:
            json.dump({"provenance": prov, "wall_s": wall_s}, f)
    else:
        layer = dict(res["layer"], **{"jvm.heap_peak_mb": med("heap_peak_mb")})
        metrics = {m["name"]: (float(layer.get(m["name"], 0.0)), m["unit"])
                   for m in catalog["per_layer"]}
        covered = res["op_spans_ms"] / 1e3
        timed = sum(p["wall_s"] for p in passes)
        overhead = None
        if os.path.exists(record):
            with open(record) as f:
                base = json.load(f)
            if same_source_and_host(base["provenance"], prov):
                overhead = wall_s - base["wall_s"]
        print(json.dumps({"trace": {
            "spans": spans if os.path.exists(spans) else None,
            "timed_s": timed, "covered_by_op_spans_s": covered,
            "uncovered_s": timed - covered,
            "untimed_checks_between_ops_s": res["pass_spans_ms"] / 1e3 - covered,
            "tracing_overhead_s": overhead,
            "overhead_basis": "traced wall_s minus the untraced wall_s of the same "
                              "workload, seed and source on the same host shape"
                              if overhead is not None else
                              "no untraced run of this workload, seed and source "
                              "on this host shape",
            "notes": res["notes"]}}))

    print(json.dumps({"provenance": prov, "build_s": build_s,
                      "setup_parts_s": {"launch_to_session": launch_to_session,
                                        "warmup": res["warmup_s"], "per_table": res["setup_s"]},
                      "pass_wall_s": [p["wall_s"] for p in passes], "checks": verdict or "in-jvm model"}))
    shutil.rmtree(run, ignore_errors=True)
    print(json.dumps({
        "correct": bool(checks_ok and failed == 0),
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
