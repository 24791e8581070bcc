#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (`perfbench/build.sbt` compiles
`src/main/scala` together with `perfbench/src`); later runs reuse the build
while the sources are unchanged. Each run generates its inputs from the
seed, runs one workload in a fresh JVM on `local[4]`, checks the outputs
against DuckDB and prints, as its last stdout line,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (`--trace 0`) or its
per-layer metrics (`--trace 1`). Everything it writes stays under
`.bench_build/` and `.bench_work/` in the checkout; a lock file there makes
a second concurrent benchmark fail fast.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = ("quant_panel", "corpus_serve")
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
RUN_LIMIT_S = 150      # JVM time limit of a run; checks follow it
BUILD_LIMIT_S = 600


class BenchError(Exception):
    pass


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files(root: str):
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        p = os.path.join(root, top)
        if os.path.isfile(p):
            yield top
        for d, dirs, files in os.walk(p):
            dirs.sort()
            for f in sorted(files):
                yield os.path.relpath(os.path.join(d, f), root)


def fingerprint(root: str) -> str:
    h = hashlib.sha256()
    for rel in source_files(root):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def foreign_jvms(root: str):
    """Other sbt or benchmark JVMs working in this checkout."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            cwd = os.readlink(f"/proc/{pid}/cwd")
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "java" not in cmd or not (cwd == root or cwd.startswith(root + os.sep)):
            continue
        if any(k in cmd for k in ("sbt", "perfbench.Main", "ForkMain", "graft.")):
            out.append(f"{pid}: {cmd[:120]}")
    return out


def build(root: str, build_dir: str) -> list:
    """Compiles when the sources changed; returns the runtime classpath."""
    stamp = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    fp = fingerprint(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == fp:
                with open(cp_file) as g:
                    return g.read().strip().split(os.pathsep)
    log("building (sbt compile)")
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = env.get("SBT_OPTS") or " ".join(opts)
    with open(os.path.join(build_dir, "build.log"), "w") as out:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=out, stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError("build timed out")
        out.write(stdout)
    lines = [l for l in stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise BenchError(f"build failed (see {build_dir}/build.log)")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(fp)
    return lines[-1].strip().split(os.pathsep)


def run_jvm(classpath, args, work: str, deadline: float) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join(classpath)]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    result = os.path.join(work, "result.json")
    with open(os.path.join(work, "jvm.out"), "w") as out, \
            open(os.path.join(work, "jvm.err"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=out, stderr=err, stdin=subprocess.DEVNULL,
                                env=env, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError("workload timed out")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(result):
        raise BenchError(f"workload JVM exited {proc.returncode} (see {work}/jvm.err)")
    with open(result) as f:
        return json.load(f)


def prepare(workload: str, seed: int, root: str, work_root: str):
    """Fresh work dir and generated inputs; returns (work dir, input dir, info)."""
    work = os.path.join(work_root, workload)
    info = {}
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if workload == "quant_panel":
        import snapshot
        inp = os.path.join(work, "snapshot")
        info["snapshot_rows"] = snapshot.generate(inp, seed)
    else:
        inp = corpus_dir(root)
    return work, inp, info


def corpus_dir(root: str) -> str:
    return os.path.join(root, "perfbench", "corpus", "sf0.01")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    for need in ("BENCHMARK.json", "perfbench/build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(root, need)):
            log(f"not a checkout root: {need} is missing")
            return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work_root = os.path.join(root, ".bench_work")
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(work_root, exist_ok=True)
    lock = open(os.path.join(work_root, "bench.lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        log("another benchmark run holds .bench_work/bench.lock")
        return 3
    others = foreign_jvms(root)
    if others:
        log("refusing to share this checkout with running JVMs:\n  " + "\n  ".join(others))
        return 3
    try:
        classpath = build(root, build_dir)
        built_s = time.time() - started
        work, inp, info = prepare(a.workload, a.seed, root, work_root)
        res = run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                                  "--work", work, "--input", inp],
                      work, started + built_s + RUN_LIMIT_S)
        import checks
        problems = list(res["problems"])
        tmp = os.path.join(work, "duckdb_tmp")
        if "oracle" in res["checks"]:
            problems += checks.check_oracles(
                res["checks"]["oracle"], corpus_dir(root),
                os.path.join(work_root, "oracle_cache"), tmp)
        if "handler" in res["checks"]:
            store = res["checks"]["store"]
            problems += checks.check_handler(
                [dict(s, store=store) for s in res["checks"]["handler"]], tmp)
    except BenchError as e:
        log(str(e))
        return 4
    for p in problems:
        log(f"CHECK FAILED {p}")
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        got = res["metrics"].get(m["name"])
        if got is None and not a.trace:
            log(f"workload did not report {m['name']}")
            return 5
        # a layer the workload does not exercise reads 0
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    view = {k: v["value"] for k, v in res["view"].items()}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "view": view,
                      "checks_failed": len(problems), **info}))
    print(json.dumps({"correct": not problems, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
