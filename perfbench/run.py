#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the engine from the
checkout's sources together with the harness in perfbench/ (sbt, offline)
and caches the classpath under .bench_build/; later calls reuse it until a
source file changes. The run itself is one JVM (perfbench.Main); its last
stdout line, one JSON object, is checked against BENCHMARK.json and printed
as this script's last line. Scratch data goes under .bench_tmp/.

Exit code 0 with a result line, anything else without one.
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
TMP = os.path.join(ROOT, ".bench_tmp")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    with open(os.path.join(HERE, "build.sbt"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build if any input changed; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest_file = os.path.join(BUILD, "classpath.digest")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(digest_file):
        with open(digest_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        log("sbt not found on PATH")
        sys.exit(2)
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness (sbt compile)")
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    proc = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in proc.stdout.splitlines()
             if os.path.join(".bench_build", "sbt") in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-8000:])
        log("build failed")
        sys.exit(2)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(digest_file, "w") as f:
        f.write(digest + "\n")
    return cp


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: tamper with the expected outputs")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        log(f"no engine sources under {ENGINE_SRC}; run from a checkout root")
        return 2
    cp = classpath()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    run_dir = os.path.join(TMP, f"{a.workload}-seed{a.seed}")
    scratch = run_dir + ".scratch"
    for d in (scratch,):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.join(d, "jtmp"))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(scratch, 'jtmp')}", *opens,
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--root", TMP, "--faces", os.path.join(HERE, "faces.tsv")]
    if a.corrupt_expected:
        cmd.append("--corrupt-expected")
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(scratch, "graft"))
    os.makedirs(env["SPARK_GRAFT_SCRATCH"])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s; killed")
        return 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        log(f"run failed with exit code {proc.returncode}")
        return 1
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        log("last line of the run is not JSON")
        return 1
    want = expected_metrics(a.trace == 1)
    if not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        log("result line does not have the four result keys")
        return 1
    if set(result["metrics"]) != want:
        log(f"metrics differ from BENCHMARK.json: {sorted(set(result['metrics']) ^ want)}")
        return 1
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
