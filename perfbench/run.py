#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload seis_build --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt (offline); later runs reuse that build while no source
changed. Each run generates its inputs from the seed, starts one harness
JVM on them, checks every output against computations made here, and prints
as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer ones (`--trace 1`)
listed in BENCHMARK.json. All files it makes live under one temporary
directory inside the checkout, removed at exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM = os.path.join(HERE, "jvm")
BUILD_DIR = os.path.join(JVM, "target", "perfbench")
WORKLOADS = ("seis_build", "corpus_curation", "vector_serving")
HEAP = "3g"
JVM_LIMIT_S = 150          # the harness JVM's deadline; a whole run stays under 180 s
# Few JIT and GC threads, so that they keep cores of their own beside
# Spark's task threads (see cores()).
JVM_THREADS = ["-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2"]
# JVM flags Spark needs on JDK 17 when started outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads (path, size, mtime)."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(JVM, "build.sbt"),
            os.path.join(JVM, "project"), os.path.join(JVM, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if not os.path.relpath(d, top).startswith("target") for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.insert(1, f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the program and the harness; return the harness classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=JVM, env=sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and os.pathsep in l
             and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def cores():
    """Spark's task threads: half the CPUs this process may use, at most two."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n // 2, 2))


def run_jvm(cp, args, tmp):
    """Start the harness JVM and wait for it; kill it after JVM_LIMIT_S.
    Returns (seconds from start to the end of its set-up, result)."""
    jtmp = os.path.join(tmp, "jvm-tmp")
    os.makedirs(jtmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"] + JVM_THREADS
           + [f"-Djava.io.tmpdir={jtmp}", "-Dspark.ui.enabled=false"]
           + ADD_OPENS + ["-cp", cp, "graftbench.Main"] + args)
    log_path = os.path.join(tmp, "jvm.log")
    with open(log_path, "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_LIMIT_S)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    result_path = os.path.join(args[args.index("--out") + 1], "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as f:
            lines = [l for l in f if not l.lstrip().startswith(("at ", "..."))]
        sys.stderr.write("".join(lines[-60:]))
        fail(f"harness exited with code {rc}")
    with open(result_path) as f:
        res = json.load(f)
    return res["setup_end_ms"] / 1e3 - t0, res


def end_to_end(res, setup_s):
    return {
        "setup_s": setup_s,
        "warm_cpu_s": res["warm_cpu_s"],
        "op_cpu_ms": res["op_cpu_ms"],
    }


def traced_only(res):
    """The cold unit and the wall times, which the traced run reports beside
    the end-to-end figures (see README)."""
    return {
        "cold_s": res["cold_s"],
        "cold_cpu_s": res["cold_cpu_s"],
        "warm_s": res["warm_s"],
        "op_ms": res["op_ms"],
    }


E2E_UNITS = {"setup_s": "s", "warm_cpu_s": "s", "op_cpu_ms": "ms"}
WALL_UNITS = {"cold_s": "s", "cold_cpu_s": "s", "warm_s": "s", "op_ms": "ms"}
CURATION_KEYS = ("q_minhash_dedup_reps", "q_exact_dedup", "q_lang_id", "q_bpe_tokenize")
# every per-layer metric, reported by every traced run (0 where the workload
# does not exercise that layer)
LAYER_UNITS = dict(
    [(f"spark.{m}", "count") for m in ("jobs", "stages", "tasks")]
    + [(f"spark.{m}", "bytes") for m in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")]
    + [("spark.executor_cpu_s", "s"), ("spark.gc_s", "s")]
    + [("operators.construct_s", "s"), ("operators.construct_jobs", "count"),
       ("operators.plan_s", "s"), ("operators.exec_s", "s")]
    + [(f"op.{k}_s", "s") for k in CURATION_KEYS]
    + [(f"sources.{m}_s", "s") for m in (
        "sgt_build", "dgf_build", "db_scan", "strain_scan", "disp_scan", "subsample")]
    + [("sources.meta_read_ms", "ms"), ("sources.db_files", "count")]
    + [("seis.build_mb_per_s", "MB/s"), ("seis.scan_msamples_per_s", "Msamples/s"),
       ("seis.db_bytes_per_sample", "bytes"), ("seis.point_read_ms", "ms")]
    + [("index.build_s", "s"), ("index.append_s", "s"), ("index.query_ms", "ms")]
    + [(f"index.{m}.{k}", u) for k in ("ivf", "pq") for m, u in (
        ("build_s", "s"), ("append_s", "s"), ("query_ms", "ms"), ("bytes", "bytes"),
        ("files", "count"))]
    + [(f"functions.{m}", "ns") for m in (
        "encode_ns_per_sample", "decode_ns_per_sample", "tokenize_ns_per_doc",
        "minhash_ns_per_doc", "simhash_ns_per_doc")]
    + [("jvm.session_s", "s"), ("jvm.heap_peak_mb", "MB")]
    + [(f"traced.{k}", u) for k, u in {**E2E_UNITS, **WALL_UNITS}.items() if k != "setup_s"])


def per_layer(res, setup_s, session_s):
    unknown = set(res["layer"]) - set(LAYER_UNITS)
    if unknown:
        fail(f"harness reported metrics missing from the per-layer table: {sorted(unknown)}")
    values = dict(res["layer"], **{"jvm.session_s": session_s,
                                   "jvm.heap_peak_mb": res["heap_peak_mb"]}, **{
        f"traced.{k}": v for k, v in {**end_to_end(res, setup_s), **traced_only(res)}.items()
        if k != "setup_s"})
    return {k: values.get(k, 0.0) for k in LAYER_UNITS}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}: run from a full checkout of the repository")

    cp = build()
    # the checks need numpy, pyarrow and duckdb; import them after the build
    sys.path.insert(0, HERE)
    import checks
    import inputs

    scratch = os.path.join(ROOT, ".perfbench-tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=scratch)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    try:
        data, out, spark_tmp = (os.path.join(tmp, d) for d in ("data", "out", "spark"))
        for d in (data, out, spark_tmp):
            os.makedirs(d)
        t_gen = time.monotonic()
        truth = inputs.make(a.workload, a.seed, data)
        t_jvm = time.monotonic()
        setup_s, res = run_jvm(cp, [
            "--workload", a.workload, "--data", data, "--out", out, "--tmp", spark_tmp,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores())],
            tmp)
        t_chk = time.monotonic()
        problems = checks.check(a.workload, truth, data, out, res)
        print(f"perfbench: inputs {t_jvm - t_gen:.1f} s, jvm {t_chk - t_jvm:.1f} s, "
              f"checks {time.monotonic() - t_chk:.1f} s", file=sys.stderr)
        for p in problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        if a.trace:
            session_s = res["session_ready_ms"] / 1e3 - (res["setup_end_ms"] / 1e3 - setup_s)
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                       for k, v in per_layer(res, setup_s, session_s).items()}
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                       for k, v in end_to_end(res, setup_s).items()}
        print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass


if __name__ == "__main__":
    main()
