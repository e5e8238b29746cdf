#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload etl_jdbc --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft and the
benchmark's JVM program from source with sbt (offline) into `.bench_build/`
(or `$CARGO_TARGET_DIR`); later runs reuse that build while the sources are
unchanged. Each run generates its inputs from the seed into a fresh
directory under `.bench_out/runs/`, starts one JVM, checks the outputs, and
removes the directory on exit. Traced runs (`--trace 1`) also leave a span
file in `.bench_out/traces/` for `perfbench/report.py`.

The last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import secrets
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("etl_jdbc", "curation", "vector_search", "query_mix")
HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840

# end-to-end metrics (untraced runs) and their units
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "result_quality": "ratio",
}

# per-layer metrics (traced runs); a layer a workload does not touch reads 0
PER_LAYER = {
    "sources.catalog_s": "s",
    "sources.scan_s": "s",
    "sources.scan_partitions": "count",
    "sources.scan_task_skew": "ratio",
    "sources.source_rows_read_per_row": "ratio",
    "sources.schema_inference_jobs": "count",
    "operators.chunk_plan_s": "s",
    "operators.chunk_plan_jobs": "count",
    "operators.stringify_s": "s",
    "operators.quality_lang_s": "s",
    "operators.exact_dedup_s": "s",
    "operators.near_dup_s": "s",
    "operators.near_dup_pairs": "count",
    "operators.ivf_train_s": "s",
    "operators.ivf_search_s": "s",
    "operators.ivf_candidates_per_query": "count",
    "functions.cosine_pairs_per_s": "1/s",
    "plans.native_nodes": "count",
    "engine.construct_s": "s",
    "engine.construct_jobs": "count",
    "engine.plan_s": "s",
    "engine.exec_s": "s",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks_per_stage": "count",
    "engine.task_run_s": "s",
    "engine.task_cpu_s": "s",
    "engine.gc_s": "s",
    "engine.slot_busy": "ratio",
    "engine.shuffle_bytes": "B",
    "engine.spill_bytes": "B",
    "engine.peak_task_mem_mb": "MB",
    "sinks.append_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "B",
    "sinks.bytes_per_row": "B/row",
    "bench.input_gen_s": "s",
    "bench.trace_overhead": "ratio",
}

# Spark 4 on JDK 17 needs these outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build -----------------------------------------------------------------

def source_stamp(root):
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = []
    for pattern in ("build.sbt", "project/*.sbt", "project/*.properties",
                    "src/main/**/*", "perfbench/build.sbt",
                    "perfbench/project/*.properties", "perfbench/src/**/*"):
        files += [f for f in glob.glob(os.path.join(root, pattern), recursive=True)
                  if os.path.isfile(f)]
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root):
    """Compile graft and the benchmark JVM; return the runtime classpath."""
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    stamp = source_stamp(root)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)   # concurrent runs build once
        if (os.path.isfile(cp_file) and os.path.isfile(stamp_file)
                and open(stamp_file).read().strip() == stamp):
            return open(cp_file).read().strip()
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
               "-Dsbt.server.autostart=false",
               "compile", "export Runtime/fullClasspath"]
        p = subprocess.Popen(cmd, cwd=os.path.join(root, "perfbench"),
                             env=sbt_env(), stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                             text=True, start_new_session=True)
        try:
            stdout, stderr = p.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)   # sbt's launcher and its JVM
            p.communicate()
            fail("build timed out")
        log = stdout + stderr
        with open(os.path.join(out, "build.log"), "w") as f:
            f.write(log)
        lines = [l for l in stdout.splitlines()
                 if "scala-2.13/classes" in l and not l.startswith("[")]
        if p.returncode != 0 or not lines:
            fail("build failed:\n" + "\n".join(log.splitlines()[-30:]))
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


# ---- one run ---------------------------------------------------------------

def slots():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def run_jvm(cp, args, run_dir):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}",
            f"-Dderby.stream.error.file={run_dir}/derby.log",
            "-cp", cp, "graftbench.Main"] + args
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(f"{run_dir}/jvm.out", "w") as so, open(f"{run_dir}/jvm.err", "w") as se:
        p = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                             stdout=so, stderr=se, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0:
        err = open(f"{run_dir}/jvm.err").read().splitlines()
        fail(f"benchmark JVM exited with {code}:\n" + "\n".join(err[-40:]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} not found")
    cp = build(root)

    import check
    import gen

    out_root = os.path.join(root, ".bench_out")
    run_id = f"{a.workload}-s{a.seed}-{os.getpid()}-{secrets.token_hex(4)}"
    run_dir = os.path.join(out_root, "runs", run_id)
    os.makedirs(run_dir)
    try:
        inputs = os.path.join(run_dir, "inputs")
        outputs = os.path.join(run_dir, "out")
        os.makedirs(inputs)
        os.makedirs(outputs)
        g0 = time.time()
        gen.GENERATORS[a.workload](a.seed, inputs)
        if a.trace and a.workload == "vector_search":
            # its traced run also times the curation kernel's stages, so the
            # text operators are measured on a workload BENCHMARK.json names
            gen.gen_corpus(a.seed, os.path.join(inputs, "text"))
        gen_s = time.time() - g0

        trace_out = ""
        if a.trace:
            os.makedirs(os.path.join(out_root, "traces"), exist_ok=True)
            trace_out = os.path.join(out_root, "traces", run_id + ".json")
        args = ["--workload", a.workload, "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--run-dir", run_dir,
                "--inputs", inputs, "--out", outputs, "--slots", str(slots()),
                "--trace-out", trace_out or "-"]
        args += ["--launch-ms", str(int(time.time() * 1000))]
        run_jvm(cp, args, run_dir)

        res = json.load(open(os.path.join(outputs, "result.json")))
        print(f"perfbench: inputs {gen_s:.2f}s + load {res['load_s']:.2f}s, "
              f"setup {res['setup_s']:.2f}s, warm-up rounds "
              f"{[round(x, 2) for x in res['warmup_round_s']]}, "
              f"timed {json.dumps(res['op_seconds'])[:1500]}", file=sys.stderr)
        c0 = time.time()
        verdict = check.CHECKERS[a.workload](inputs, outputs)
        print(f"perfbench: check {time.time() - c0:.2f}s", file=sys.stderr)
        for m in verdict.messages:
            print(f"check: {m}", file=sys.stderr)

        if a.trace:
            layers = {k: 0.0 for k in PER_LAYER}
            layers.update(res.get("layers", {}))
            layers["bench.input_gen_s"] = gen_s + res["load_s"]
            layers["engine.peak_task_mem_mb"] = res["peak_task_mem_mb"]
            metrics = {k: {"value": float(layers[k]), "unit": u}
                       for k, u in PER_LAYER.items()}
            with open(trace_out) as f:
                trace = json.load(f)
            trace.update(workload=a.workload, seed=a.seed, layers=layers)
            with open(trace_out, "w") as f:
                json.dump(trace, f)
            print(f"trace written to {os.path.relpath(trace_out, root)}",
                  file=sys.stderr)
        else:
            values = {
                "setup_s": res["setup_s"],
                "items_per_s": res["rate_per_s"],
                "result_quality": verdict.quality,
            }
            metrics = {k: {"value": float(values[k]), "unit": u}
                       for k, u in END_TO_END.items()}
        print(json.dumps({"correct": bool(verdict.ok),
                          "attempted": int(res["attempted"]),
                          "failed": int(res["failed"]),
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
