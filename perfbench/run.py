#!/usr/bin/env python3
"""Seeded benchmark for the graft library.

Usage (from the repository root):

    python3 perfbench/run.py --workload spatial_read --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark main from source with sbt (once per
source state), runs one workload in one JVM on ``local[N]`` (N = the CPUs this
process may use), checks every result, prints each metric as
``name value unit`` and, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with ``--trace 1``.
Exits non-zero when any operation failed or any result was wrong.
"""
import argparse
import fnmatch
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
OUT = os.path.join(HERE, "out")
WORKLOADS = ("spatial_read", "ingest_commit", "curate_corpus")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"
# what Spark's launcher passes to a JDK 17 driver
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath stamp matches the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no graft sources next to the benchmark; nothing to build")
    stamp = os.path.join(HERE, "target", "perfbench-classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("digest") == digest:
            return s["classpath"]
    log("perfbench: building with sbt ...")
    t0 = time.time()
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    # its own process group, so a timeout or a SIGTERM stops sbt's JVM too
    p = subprocess.Popen(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    lines = out.splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"perfbench: sbt build failed ({p.returncode})")
    cp = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln and os.pathsep in ln]
    if not cp:
        raise SystemExit("perfbench: sbt printed no classpath")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1]}, fh)
    log(f"perfbench: built in {time.time() - t0:.1f}s")
    return cp[-1]


def run_jvm(classpath, workload, seed, seconds, trace, cores):
    """Run one workload in its own JVM; returns (result dict, peak RSS in MB)."""
    work = os.path.join(HERE, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
              "--work", work, "--out", OUT])
    shutil.rmtree(os.path.join(OUT, f"corpus-{seed}"), ignore_errors=True)
    stem = os.path.join(OUT, f"{workload}-{seed}-trace{trace}")
    env = dict(os.environ, LC_ALL="C.utf8")
    with open(stem + ".out", "w") as out, open(stem + ".log", "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                             stdout=out, stderr=err)
        deadline = time.time() + RUN_TIMEOUT_S
        status, usage = 0, None
        try:
            while usage is None:
                pid, status, ru = os.wait4(p.pid, os.WNOHANG)
                if pid:
                    usage = ru
                elif time.time() > deadline:
                    raise SystemExit(f"perfbench: {workload} did not finish in {RUN_TIMEOUT_S}s")
                else:
                    time.sleep(0.05)
        finally:
            # also on a timeout or a SIGTERM of this script: stop the JVM
            if usage is None:
                p.kill()
                os.waitpid(p.pid, 0)
            p.returncode = 0  # reaped above; keeps Popen from waiting again
    shutil.rmtree(work, ignore_errors=True)
    result = None
    with open(stem + ".out") as fh:
        for line in fh:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
    if result is None:
        raise SystemExit(f"perfbench: {workload} printed no result "
                         f"(wait status {status}); see {stem}.log")
    return result, usage.ru_maxrss / 1024.0


def declared(kind):
    """Name -> unit of the BENCHMARK.json metrics of one kind."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def predictions(metrics):
    """Per metric, the end-to-end metrics and workload it should move."""
    with open(os.path.join(HERE, "choices.json")) as fh:
        table = json.load(fh)["predictions"]
    return {m: next(({k: p[k] for k in ("moves", "on", "bypassed_by")} for p in table
                     if any(fnmatch.fnmatchcase(m, pat) for pat in p["metrics"])), None)
            for m in metrics}


def run_workload(classpath, workload, seed, seconds, trace, cores):
    """One workload end to end; prints its metric lines, returns the summary."""
    res, rss_mb = run_jvm(classpath, workload, seed, seconds, trace, cores)
    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])
    if workload == "curate_corpus":
        import check_corpus
        try:
            n, bad = check_corpus.check(os.path.join(OUT, f"corpus-{seed}"))
        except OSError as e:  # the JVM wrote no results to check
            n, bad = 1, [f"corpus check: {e}"]
        attempted += n
        failed += len(bad)
        failures += bad
    def m(v, u):
        return {"value": v, "unit": u}
    if trace:
        # a layer the workload does not exercise reports 0
        metrics = {k: res["layer"].get(k, m(0.0, u)) for k, u in declared("per_layer").items()}
        extra = {k: v for k, v in res["layer"].items() if k not in metrics}
    else:
        metrics = {k: res["e2e"][k] for k in declared("end_to_end") if k in res["e2e"]}
        extra = {k: v for k, v in res["e2e"].items() if k not in metrics}
    named = dict(res["named"], **extra)
    if not trace:
        if "setup_s" in res["e2e"]:
            named["setup_s"] = res["e2e"]["setup_s"]
        named["peak_rss_mb"] = m(rss_mb, "MB")
        named["failed_frac"] = m(failed / max(1, attempted), "ratio")
    for k, v in list(metrics.items()) + [(k, v) for k, v in named.items() if k not in metrics]:
        print(f"{k} {v['value']} {v['unit']}")
    for f in failures:
        print(f"FAILED {f}")
    summary = {"workload": workload, "seed": seed, "trace": trace, "correct": failed == 0,
               "attempted": attempted, "failed": failed, "failures": failures,
               "metrics": metrics, "named": named, "info": res["info"]}
    if trace:
        summary["predictions"] = predictions(metrics)
    with open(os.path.join(OUT, f"result-{workload}-{seed}-trace{trace}.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    return summary


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    cores = len(os.sched_getaffinity(0))
    classpath = build()
    if a.workload == "all":
        runs = [run_workload(classpath, w, a.seed, a.seconds, a.trace, cores)
                for w in WORKLOADS]
        line = {"correct": all(r["correct"] for r in runs),
                "attempted": sum(r["attempted"] for r in runs),
                "failed": sum(r["failed"] for r in runs),
                "metrics": {f"{r['workload']}.{k}": v for r in runs
                            for k, v in (r["named"] if not a.trace else r["metrics"]).items()}}
    else:
        r = run_workload(classpath, a.workload, a.seed, a.seconds, a.trace, cores)
        line = {k: r[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
