#!/usr/bin/env python3
"""graft's end-to-end benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest_fanout, queue_state, evt_batch, and ingest_selective,
which BENCHMARK.json does not list (see perfbench/NOTES.md). The first
run builds graft and the benchmark from source with sbt (offline) into
.bench_build/ and perfbench/target/; later runs reuse the build while
the sources are unchanged. The last line of standard output is one
JSON object with the keys correct, attempted, failed and metrics.
--trace 1 also writes the per-layer record, spans included, to
.bench_build/trace/.

--cores N (default 4) runs Spark at local[N]; it is for the one-off
single-core scaling baseline and is not part of the timed runs.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
RUN_TIMEOUT_S = 170
INVALID_RUN = 3

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    fp = fingerprint()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as fh:
            cached_fp, cp = fh.read().split("\n", 1)
        if cached_fp == fp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    print("perfbench: building graft and the benchmark (sbt, offline)", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(fp + "\n" + lines[-1].strip())
    return lines[-1].strip()


WORK = os.path.join(BUILD, "work")
EVT_DATA = os.path.join(BUILD, "evt_data")


def run_jvm(cp, args):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args + ["--dir", WORK]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft's sources (build.sbt, src/main/scala/graft) are not next to perfbench/")
    cp = build()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(a.cores)]
    oracle = None
    if a.workload == "evt_batch":
        import evtbatch
        shutil.rmtree(EVT_DATA, ignore_errors=True)
        evtbatch.gen(a.seed, EVT_DATA)
        args += ["--data", EVT_DATA]
    try:
        # A run whose generator fell behind its schedule is invalid, not
        # slow: it is discarded and made once more.
        for attempt in range(2):
            shutil.rmtree(WORK, ignore_errors=True)
            if a.workload == "evt_batch":
                oracle = evtbatch.Oracle(os.path.join(WORK, "evt_out"), EVT_DATA)
            code, out = run_jvm(cp, args)
            if code != INVALID_RUN:
                break
            print("perfbench: invalid run discarded", file=sys.stderr)
        lines = [ln for ln in out.splitlines() if ln.strip()]
        if code != 0 or not lines:
            sys.stderr.write(out[-2000:])
            fail(f"benchmark exited with code {code}")
        res = json.loads(lines[-1])
        if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
            fail("malformed result line")
        if oracle:
            wrong = oracle.wrong()
            for name in wrong:
                print(f"perfbench: evt_batch: {name} differs from its DuckDB oracle",
                      file=sys.stderr)
            res["failed"] = min(res["attempted"], res["failed"] + len(wrong))
            res["correct"] = res["correct"] and not wrong
    finally:
        if oracle:
            oracle.close()
        shutil.rmtree(WORK, ignore_errors=True)
        shutil.rmtree(EVT_DATA, ignore_errors=True)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
