#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload query_board --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the repository's main sources and the
harness under perfbench/src with the Scala compiler shipped in Spark's jars
(cached by content hash in .bench_build, or $CARGO_TARGET_DIR), generates the
seeded inputs, runs the workload in one JVM, checks the results, prints each
metric by name and unit, and prints one JSON object as the last line. With
--trace 0 it reports the end-to-end metrics of BENCHMARK.json; with --trace 1
the per-layer ones. Exits nonzero if a correctness check fails.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_board", "lake_ingest")
BOARD_SF = 0.01
TIME_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_scala(files, out, classpath):
    """Compiles into a temporary directory, then renames it into place."""
    if os.path.isdir(out):
        return
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed:\n" + r.stdout[-4000:])
    os.rename(tmp, out)


def build():
    """Returns the classpath of the compiled program plus harness."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail(f"no program sources at {main_src}; run from the repository root")
    jars = os.path.join(spark_jars(), "*")
    main_files = sources(main_src)
    bench_files = sources(os.path.join(HERE, "src"))
    base = build_dir()
    main_out = os.path.join(base, "main-" + digest(main_files))
    os.makedirs(base, exist_ok=True)
    compile_scala(main_files, main_out, jars)
    bench_out = os.path.join(base, "bench-" + digest(bench_files, main_out))
    compile_scala(bench_files, bench_out, os.pathsep.join([main_out, jars]))
    return os.pathsep.join([bench_out, main_out, jars])


def oracle_check(inputs, results):
    """DuckDB oracle compare with the repository's own normalization."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_correctness
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = check_correctness.main(inputs, results)
    bad = [ln for ln in buf.getvalue().splitlines() if ln.startswith("FAIL")]
    return rc == 0 and not bad, bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("no BENCHMARK.json at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    t_build = time.time()
    classpath = build()
    started = time.time()
    phases = {"build_s": started - t_build}

    base = build_dir()
    work = os.path.join(base, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = ""
        if a.workload == "query_board":
            sys.path.insert(0, HERE)
            import gen
            data = os.path.join(work, "data")
            gen.generate(data, a.seed, BOARD_SF)
        phases["inputs_s"] = time.time() - started
        out = os.path.join(work, "result.json")
        heap = "3g"
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               # no hsperfdata files under /tmp: the run writes only in its checkout
               ["-XX:-UsePerfData", f"-Xmx{heap}", f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.ui.enabled=false",
                "-cp", classpath, "graftbench.Main",
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--data", data, "--out", out])
        log_path = os.path.join(base, "results", f"{a.workload}-{a.seed}-{a.trace}.log")
        os.makedirs(os.path.dirname(log_path), exist_ok=True)
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                rc = proc.wait(timeout=max(10, TIME_LIMIT_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"workload timed out; log in {log_path}")
        if rc != 0 or not os.path.isfile(out):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-3000:])
            fail(f"workload exited with {rc}; log in {log_path}")
        with open(out) as f:
            res = json.load(f)

        phases["jvm_s"] = res["extra"]["jvm_s"]
        t_check = time.time()
        mismatches = list(res["mismatches"])
        if a.workload == "query_board":
            ok, bad = oracle_check(res["extra"]["inputs_dir"], res["extra"]["results_dir"])
            mismatches += bad if bad or ok else ["oracle compare failed"]
        phases["check_s"] = time.time() - t_check
        shutil.copy(out, os.path.join(base, "results", f"{a.workload}-{a.seed}-{a.trace}.json"))
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            shutil.copy(spans, os.path.join(base, "results",
                                            f"{a.workload}-{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    for name, m in metrics.items():
        print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")
    for k in ("read_samples", "commit_samples", "freshness_samples"):
        if k in res["extra"]:
            print(f"{a.workload} {k} = {res['extra'][k]}")
    print(f"{a.workload} phases: " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()) +
          f", setup reps {res['extra']['setup_reps_s']}")
    for m in mismatches:
        print(f"MISMATCH {m}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [w["name"] for w in wanted if w["name"] not in metrics]
    if a.trace:
        # layers a workload does not exercise, or cannot attribute, read 0
        for name in missing:
            print(f"{a.workload} {name} = 0 (not measured on this workload)")
            metrics[name] = {"value": 0}
    elif missing:
        fail("metrics not reported: " + ", ".join(missing))
    out = {
        "correct": not mismatches,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {w["name"]: {"value": metrics[w["name"]]["value"], "unit": w["unit"]}
                    for w in wanted},
    }
    print(json.dumps(out))
    sys.exit(0 if not mismatches else 1)


if __name__ == "__main__":
    main()
