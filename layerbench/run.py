#!/usr/bin/env python3
"""Layered benchmark for graft.

    python3 layerbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
harness from source with sbt (offline) into ``layerbench/target``; inputs
are generated per seed and cached under ``.bench_build/``. One JVM then
drives one closed-loop client against Spark ``local[nproc]``:

* set-up, timed from process start (session, tables, one warm-up action);
* an untimed warm-up that also dumps results for the DuckDB oracle;
* timed passes: ``--seconds`` over the workload's nominal pass time,
  at least one, fixed before the run starts (doubled when traced).

Every result is checked: query results against their registered oracle
SQL (``tools/check.py``, unchanged) and then by hash on every timed run;
the registries' final state against the one-shot oracle over every landed
batch. The last stdout line is the JSON result; the exit code is non-zero
when any operation failed or a result was wrong. ``--trace 1`` reports
the per-layer metrics instead of the end-to-end ones, writes the span
file, and prints the tracing overhead.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840

sys.path.insert(0, HERE)
import metrics  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness (sbt, offline) unless the sources
    are unchanged since the last build; returns the runtime classpath and
    whether it built."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_LIMIT_S)
    lines = [ln for ln in p.stdout.splitlines()
             if not ln.startswith("[") and "scala-2.13" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1], True


def inputs(workload, seed, cfg):
    """Generated inputs for (workload, seed), cached across runs."""
    import gen
    d = os.path.join(WORK, "inputs", f"{workload}-{seed}")
    if os.path.exists(os.path.join(d, ".done")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    spec = cfg["inputs"]
    if workload == "registry_ingest":
        gen.write_stream(os.path.join(tmp, "stream"), seed,
                         spec["stream_docs"], spec["batch_docs"])
    else:
        gen.write_tables(tmp, seed, corpus=spec["corpus"])
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


def passes(seconds, cfg):
    """Timed passes of a run: ``seconds`` over the nominal pass time. The
    count depends on the arguments only, never on how fast the host runs,
    so every run of a workload measures the same work."""
    return max(1, round(seconds / cfg["nominal_pass_s"]))


def run_jvm(cp, args, out, deadline, jvm_flags):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # a fixed set of JIT compiler threads: their CPU is read per thread and
    # kept out of the work CPU figures, so none may exit mid-run
    cmd += ["-Xmx3g", "-XX:-UseDynamicNumberOfCompilerThreads"] + jvm_flags + [
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "layerbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=out, env=env, stdin=subprocess.DEVNULL,
                             stdout=log, stderr=log)

        def stop(signum, _frame):
            # a terminated benchmark leaves no JVM behind
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, stop)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("time limit exceeded", 4)
    if p.returncode != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"benchmark JVM exited with {p.returncode}", 5)
    with open(os.path.join(out, "run.json")) as f:
        return json.load(f)


def oracle_check(data_dir, verify_dir, names, deadline):
    """Runs the DuckDB oracle compare on the dumped results of ``names``;
    returns {name: passed}."""
    if not names:
        return {}
    path = os.path.join(verify_dir, "oracle_sql.json")
    with open(path) as f:
        oracle = json.load(f)
    with open(path, "w") as f:
        json.dump({n: oracle[n] for n in names}, f)
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"), data_dir,
         verify_dir], stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=max(1.0, deadline - time.time()))
    verdicts = metrics.parse_check(p.stdout)
    return {n: verdicts.get(n, False) for n in names}


def landed_documents(stream_dir, n_files, out_dir):
    """The one-shot oracle's input: every landed batch as one table."""
    import pyarrow.parquet as pq
    import pyarrow as pa
    files = sorted(f for f in os.listdir(stream_dir) if f.endswith(".parquet"))
    t = pa.concat_tables(pq.read_table(os.path.join(stream_dir, f))
                         for f in files[:n_files])
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(t, os.path.join(out_dir, "documents.parquet"))
    return {f: pq.ParquetFile(os.path.join(stream_dir, f)).metadata.num_rows
            for f in files[:n_files]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    for need in (bench_file, os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "tools", "check.py")):
        if not os.path.exists(need):
            die(f"not a graft checkout: {os.path.relpath(need, ROOT)} missing")
    with open(os.path.join(HERE, "workloads.json")) as f:
        config = json.load(f)
    with open(bench_file) as f:
        bench = json.load(f)
    if a.workload not in config["workloads"]:
        die(f"unknown workload {a.workload}")
    cfg = config["workloads"][a.workload]
    os.makedirs(WORK, exist_ok=True)

    phase, t_lap = {}, [t_start]

    def lap(name):
        """Records the wall time since the previous phase ended."""
        phase[name] = time.time() - t_lap[0]
        t_lap[0] = time.time()

    cp, built = build()
    lap("build")
    # 180 s per run; a run that had to build first may take 900 s in all
    deadline = min(t_start + BUILD_LIMIT_S + 50, time.time() + RUN_LIMIT_S) \
        if built else t_start + RUN_LIMIT_S
    data = inputs(a.workload, a.seed, cfg)
    lap("inputs")
    out = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cpus = str(os.cpu_count() or 1)
    if hasattr(os, "sched_getaffinity"):
        cpus = str(len(os.sched_getaffinity(0)))
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--passes", str(passes(a.seconds, cfg)), "--trace", str(a.trace),
            "--cpus", cpus, "--data", data, "--out", out]
    if "queries" in cfg:
        args += ["--queries", ",".join(cfg["queries"])]
    if a.workload == "registry_ingest":
        args += ["--preland", str(cfg["inputs"]["preland_files"])]
    run = run_jvm(cp, args, out, deadline, cfg["jvm_flags"])
    lap("jvm")

    # correctness: oracle verdicts, cached per seed for query results
    verify_dir = os.path.join(out, "verify")
    if a.workload == "registry_ingest":
        rows = landed_documents(os.path.join(data, "stream"),
                                run["landed_files"],
                                os.path.join(out, "landed"))
        for p in run["passes"]:
            p["docs"] = rows.get(p.get("file"), 0)
        verdicts = oracle_check(os.path.join(out, "landed"), verify_dir,
                                sorted(run["registry_oracles"].values()),
                                deadline)
    else:
        cache = os.path.join(WORK, "verified", f"{a.workload}-{a.seed}.json")
        cached = {}
        if os.path.exists(cache):
            with open(cache) as f:
                cached = json.load(f)
        verdicts, todo = metrics.reuse_verdicts(run["warmup"], cached)
        verdicts.update(oracle_check(data, verify_dir, todo, deadline))
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as f:
            json.dump({w["name"]: w["hash"] for w in run["warmup"]
                       if verdicts.get(w["name"])}, f)
    lap("oracle")
    print("phases " + " ".join(f"{k}={v:.1f}s" for k, v in phase.items()))
    spans = []
    span_file = os.path.join(out, "spans.jsonl")
    if a.trace and os.path.exists(span_file):
        with open(span_file) as f:
            spans = [json.loads(ln) for ln in f if ln.strip()]
        keep = os.path.join(WORK, "traces", f"{a.workload}-{a.seed}.spans.jsonl")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        shutil.copyfile(span_file, keep)
        print(f"spans {len(spans)} written to {os.path.relpath(keep, ROOT)}")
    print(f"layerbench workload={a.workload} seed={a.seed} cpus={cpus} "
          f"loop=closed clients=1 trace={a.trace} passes={len(run['passes'])}")
    lines, code = metrics.report(run, verdicts, bench, a.workload,
                                 cfg["primary_op"], a.trace, spans)
    print("\n".join(lines))
    sys.exit(code)


if __name__ == "__main__":
    main()
