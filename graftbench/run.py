#!/usr/bin/env python3
"""Benchmark of the graft engine: backfill and curate.

Run from the repository root:

    python3 graftbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0
    python3 graftbench/run.py --workload all            # every workload, one table

The first run builds the engine and the harness from source with sbt:
the class files go where sbt puts them (target/ at the root and under
graftbench/); jar snapshots of them, the recorded classpath and the build
log go to .bench_build/. It then makes one untimed run that writes a class
data sharing archive, which every later JVM maps. Later runs skip sbt
while the sources are unchanged since that build. Each run starts one JVM for
one workload, in a fresh run directory that is removed at exit, and
prints the result as one JSON object on the last line of stdout: every
end-to-end metric with `--trace 0`, every per-layer metric with
`--trace 1`. A traced run also writes
.bench_build/graftbench/results/<workload>-trace.json: the per-layer
metrics, the spans, and the tracing overhead against the last untraced
run of the same workload. Exit code 0 only when every output was
correct.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
RESULTS = os.path.join(BUILD, "results")
# class data sharing archive of the engine's and Spark's classes
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ["backfill", "curate"]
BUILD_TIMEOUT_S = 840
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the engine's own
# build.sbt passes the same list to forked runs).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar"]]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def walk(root):
    """Every file under `root`, in a stable order."""
    files = []
    for d, dirs, names in os.walk(root):
        dirs.sort()
        files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_files():
    """Every file the build reads, in a stable order."""
    return [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties"),
            *walk(os.path.join(ROOT, "src", "main")),
            *walk(os.path.join(HERE, "src"))]


def tree_hash(files, base):
    """sha256 over the names (relative to `base`) and contents of `files`."""
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, base).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath_hash(cp):
    """Every jar on the classpath `cp` by name, size and mtime."""
    h = hashlib.sha256()
    for entry in cp.split(os.pathsep):
        h.update(entry.encode())
        if os.path.isfile(entry):
            st = os.stat(entry)
            h.update(f"{st.st_size} {st.st_mtime_ns}".encode())
        else:
            h.update(b"missing")
    return h.hexdigest()


def snapshot(cp):
    """Copy each class directory on `cp` into a jar under .bench_build and
    return the classpath with the jars in their place. Runs load these
    snapshots, so a later build into the same directories (a root
    `sbt compile` of other sources, an `sbt clean`) does not change what
    they run, and the JVM can share their classes between runs (class data
    sharing reads classes from jars only)."""
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, dirs, names in os.walk(entry):
                    dirs.sort()
                    rel = os.path.relpath(d, entry)
                    if rel != ".":
                        z.write(d, rel + "/")
                    for n in sorted(names):
                        z.write(os.path.join(d, n), os.path.normpath(os.path.join(rel, n)))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def build():
    """Compile with sbt unless the last build saw the same sources; returns
    the runtime classpath, with the class directories snapshotted."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources (build.sbt, src/main/scala) are not here; "
             "run from the root of a full checkout")
    sources = tree_hash(source_files(), ROOT)
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(cp_file) as fh:
            cp = fh.read().strip()
        with open(stamp_file) as fh:
            if fh.read().split() == [sources, classpath_hash(cp)]:
                return cp
    for f in (stamp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_process(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "compile", "export graftbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "[" in cp[:1] or os.pathsep not in cp:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (exit {rc}); log in {log}")
    cp = snapshot(cp)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(f"{sources}\n{classpath_hash(cp)}\n")
    return cp


def run_process(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group.
    Always waits for the process to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def run_one(cp, workload, seed, seconds, trace):
    """One JVM, one workload; returns (exit code, result dict or None)."""
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    result = os.path.join(run_dir, "result.json")
    trace_out = os.path.join(RESULTS, f"{workload}-trace.json")
    if trace and os.path.exists(trace_out):
        os.remove(trace_out)
    # class data sharing: a run without an archive writes one of the
    # classes it loaded; later runs map it instead of loading them again
    own_archive = os.path.join(run_dir, "classes.jsa")
    cds = (f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.isfile(ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={own_archive}")
    cmd = [java, cds, "-Xmx4g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "graftbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--run-dir", run_dir,
           "--data", os.path.join(HERE, "data", "sf0.1"),
           "--digests", os.path.join(HERE, "curate_digests.tsv"),
           "--result", result, "--trace-out", trace_out]
    try:
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            rc = run_process(cmd, JVM_TIMEOUT_S, cwd=run_dir,
                             stdout=log, stderr=subprocess.STDOUT)
        if rc == 0 and os.path.isfile(own_archive):
            os.replace(own_archive, ARCHIVE)
        res = details = None
        if os.path.isfile(result):
            with open(result) as fh:
                res = json.load(fh)
            details = res.pop("details", None)
        if rc != 0 or res is None or not res["correct"]:
            with open(os.path.join(run_dir, "jvm.log"), errors="replace") as fh:
                tail = [l for l in fh.readlines() if "graftbench" in l or "Exception" in l]
            sys.stderr.write("".join(tail[-40:]))
            sys.stderr.write(f"graftbench: {workload} run exited {rc}\n")
        if res is not None:
            record(workload, trace, res, details, trace_out)
        return rc, res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def record(workload, trace, res, details, trace_out):
    """Keep the last untraced end-to-end result per workload, with the
    run's details (each cycle or pass); give the traced record its
    overhead against it."""
    plain = os.path.join(RESULTS, f"{workload}-untraced.json")
    if not trace:
        with open(plain, "w") as fh:
            json.dump({**res, "details": details}, fh, indent=1)
        return
    if not os.path.isfile(trace_out):
        return
    with open(trace_out) as fh:
        rec = json.load(fh)
    over = None
    if os.path.isfile(plain):
        with open(plain) as fh:
            base = json.load(fh)["metrics"]
        over = {k: {"untraced": base[k]["value"], "traced": v,
                    "overhead_frac": v / base[k]["value"] - 1}
                for k, v in rec["end_to_end_traced"].items()
                if k in base and base[k]["value"]}
    rec["tracing_overhead"] = over
    with open(trace_out, "w") as fh:
        json.dump(rec, fh, indent=1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a SIGTERM goes through run_process's cleanup like an exception, so
    # the build or the JVM in flight is killed and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = build()
    if not os.path.isfile(ARCHIVE):
        # one untimed run writes the class archive, so that every measured
        # run maps it: the run that writes it starts twice as slowly
        run_one(cp, "backfill", a.seed, 1, 0)
    if a.workload != "all":
        rc, res = run_one(cp, a.workload, a.seed, a.seconds, a.trace)
        if res is None:
            sys.exit(rc or 1)
        print(json.dumps(res))
        sys.exit(0 if rc == 0 and res["correct"] else 1)
    ok = True
    for w in WORKLOADS:
        rc, res = run_one(cp, w, a.seed, a.seconds, a.trace)
        ok = ok and rc == 0 and res is not None and res["correct"]
        if res is None:
            print(f"{w:9s} FAILED (exit {rc})")
            continue
        print(f"{w:9s} correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}")
        for k, m in res["metrics"].items():
            print(f"{w:9s} {k:52s} {m['value']:>16.4f} {m['unit']}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
