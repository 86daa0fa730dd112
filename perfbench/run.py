#!/usr/bin/env python3
"""The etliospark benchmark: one workload run, one JVM.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl_reference --seed 1 --seconds 12 --trace 0

Builds the program and the benchmark from source on first use (sbt,
offline), runs the workload in a fresh JVM, checks its outputs, and prints
as the last stdout line one JSON object with the keys correct, attempted,
failed and metrics. --trace 0 reports the end-to-end metrics, --trace 1
the per-layer ones. --out FILE also saves the full result, with the
workload's properties, as JSON.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_reference", "corpus_release")
HEAP = "2g"
YOUNG = "768m"
# the JVM must end in time for the oracle check and the 180 s run limit
RUN_LIMIT_S = 160

# Spark on JDK 17 outside spark-submit needs these (the program's build.sbt
# passes the same set to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, program and benchmark."""
    files = []
    for base in (ROOT, HERE):
        files += [os.path.join(base, "build.sbt")]
        proj = os.path.join(base, "project")
        files += [os.path.join(proj, n) for n in os.listdir(proj)
                  if n.endswith((".sbt", ".scala", ".properties"))]
        for d, subdirs, names in os.walk(os.path.join(base, "src", "main")):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the last build; return the
    runtime classpath."""
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} under {ROOT}: run from the root of an etliospark checkout")
    fp = fingerprint(sources())
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    # resolve through the user's repositories file, where the offline
    # dependency cache was filled from
    repos = os.path.expanduser("~/.sbt/repositories")
    if "-Dsbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, work, limit):
    # The heap is reserved at its full size but not pre-touched, so the
    # peak RSS counts only the heap pages G1 has handed out. The young
    # generation has a fixed size: G1 would otherwise size it, and grow the
    # heap, from measured pause times, and the peak RSS would follow the
    # box's load more than the program. At 256 MiB its survivor spaces
    # overflowed and promoted short-lived data, so the old generation's peak,
    # and with it the peak RSS, varied by a tenth between runs.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
    try:
        code = proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = None
    finally:
        log.close()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("the workload JVM " + ("timed out" if code is None else f"exited with {code}"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    cp = classpath()
    work = os.path.join(BUILD, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    try:
        run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
                     str(cores())], work, RUN_LIMIT_S)
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
        res["info"]["jvm_s"] = time.time() - t0
        if a.workload == "etl_reference":
            t0 = time.time()
            failed_ops = oracle.check(os.path.join(work, "etl_calls.json"),
                                      res["info"]["input_dir"])
            res["failed"] += len(failed_ops)
            res["correct"] = res["correct"] and not failed_ops
            res["info"]["oracle_failed_ops"] = len(failed_ops)
            res["info"]["oracle_check_s"] = time.time() - t0
            res["info"]["failed_share"] = res["failed"] / max(res["attempted"], 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info = res.pop("info")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(dict(res, info=info), fh, indent=1)
    for k, m in res["metrics"].items():
        print(f"{k:40s} {m['value']:.6g} {m['unit']}")
    print(f"{'failed_share':40s} {info['failed_share']:.6g} ({res['failed']} of "
          f"{res['attempted']} ops)")
    if not a.trace:
        print(f"op_tail_s is the p{info['op_tail_percentile']:g} of {info['op_samples']} "
              f"ops, {info['op_tail_samples_beyond']} beyond it")
    print(f"inputs {info['input_bytes']} bytes; Spark storage pool "
          f"{info['spark_storage_pool_bytes']} bytes")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
