#!/usr/bin/env python3
"""Run one workload of the engine benchmark, or re-pin its expected values.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload tail_sf01 --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --pin

A run builds the benchmark and the engine from source when the sources changed
(sbt, offline), generates the input rungs once, then starts a fresh JVM from
the exported classpath in a fresh working directory and removes that
directory afterwards. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. The full stamped record (seed,
nproc, heap, Spark conf, data fingerprints, source digest, per-op latencies,
failures with their cause) goes to .bench_build/results/, and with --trace 1
the spans go to .bench_build/traces/.

--pin regenerates the inputs, pins their fingerprints and records every
workload's op checksums twice (in opposite op orders); ops whose two
recordings differ are listed as nondeterministic.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
EXPECTED = os.path.join(BENCH, "expected.json")
DATA = os.path.join(BUILD, "data")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
HEAP = "4g"
# a first run (build, input generation, archive warm-up, run) stays under
# 900 s; later runs under 180 s
BUILD_TIMEOUT_S = 420
GEN_TIMEOUT_S = 240
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base)
                           for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sources():
    return [ENGINE_SRC, os.path.join(ROOT, "build.sbt"),
            os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]


def run_proc(cmd, cwd, timeout, stdout=subprocess.PIPE, env=None):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=subprocess.PIPE,
                         text=True, env=env, start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise SystemExit(f"[perfbench] {cmd[0]} timed out after {timeout} s")
    return p.returncode, out, err


def build():
    """Compiles the benchmark and the engine with sbt (offline) when sources changed.
    Returns the exported runtime classpath (jars), its source digest and
    whether this call rebuilt it."""
    digest = tree_digest(sources())
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["digest"] == digest:
            return cached["classpath"], digest, False
    log("building the benchmark and the engine with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    offline = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        offline.append(f"-Dsbt.repository.config={repos}")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + offline +
                               ["-XX:-UsePerfData",
                                f"-Djava.io.tmpdir={tmp}"]).strip()
    rc, out, err = run_proc(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspathAsJars"], BENCH, BUILD_TIMEOUT_S,
        env=env)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or "[" in lines[-1]:
        sys.stderr.write(out[-4000:] + err[-4000:])
        raise SystemExit("[perfbench] build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1], digest, True


def java_cmd(classpath, *args, dump_archive=False):
    """The JVM command line. Runs start from the class-data-sharing archive
    the input generation dumped, which cuts JVM and Spark start-up by
    several seconds; JVM logging goes to stderr, errors only."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cds = ([f"-XX:ArchiveClassesAtExit={ARCHIVE}"] if dump_archive else
           [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE)
           else [])
    return (["java"] + opens + cds +
            ["-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=error:stderr",
             f"-Xmx{HEAP}", "-Xss16m", "-Djava.io.tmpdir=tmp",
             "-cp", classpath, "perfbench.Main"] + list(args))


def run_java(classpath, args, name, timeout, dump_archive=False):
    """Runs one benchmark JVM in a fresh working directory (its relative
    engine state, Spark scratch and temp files land there) and removes the
    directory afterwards."""
    workdir = os.path.join(BUILD, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    try:
        return run_proc(java_cmd(classpath, *args, dump_archive=dump_archive),
                        workdir, timeout)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def data_files():
    return {os.path.relpath(os.path.join(d, f), DATA): os.path.join(d, f)
            for d, _, fs in os.walk(DATA) for f in fs if f != "ok.json"}


def file_sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def generate(classpath, digest, pinning=False):
    """Writes every rung, checks it against the pinned fingerprints and
    records a digest of each data file; returns the measured fingerprints."""
    log("generating input rungs")
    shutil.rmtree(DATA, ignore_errors=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    os.makedirs(DATA)
    rc, out, err = run_java(classpath, ["gen", DATA, EXPECTED], "gen",
                            GEN_TIMEOUT_S, dump_archive=True)
    if rc != 0 and not pinning:
        sys.stderr.write(err[-4000:])
        raise SystemExit("[perfbench] input generation failed")
    # one short start from the fresh archive pages it in, so the first
    # measured run does not pay for reading it
    run_java(classpath, ["workloads"], "warm", 60)
    with open(os.path.join(DATA, "ok.json"), "w") as f:
        json.dump({"build": digest, "files": {
            k: file_sha(p) for k, p in sorted(data_files().items())}}, f)
    return [json.loads(l) for l in out.splitlines() if l.startswith("{")]


def prepare():
    """Builds if needed and makes sure the inputs are the pinned ones: after
    a build they are regenerated (and checked in Spark against the pinned
    row counts and checksums); otherwise every data file must still have
    the digest it had when that check passed."""
    classpath, digest, rebuilt = build()
    marker = os.path.join(DATA, "ok.json")
    state = None
    if not rebuilt and os.path.exists(marker):
        with open(marker) as f:
            state = json.load(f)
    if (state is None or state["build"] != digest
            or not os.path.exists(ARCHIVE)
            or {k: file_sha(p) for k, p in data_files().items()}
            != state["files"]):
        generate(classpath, digest)
    return classpath, digest


def run(args):
    classpath, digest = prepare()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    result = os.path.join(BUILD, "results", f"{tag}.json")
    spans = os.path.join(BUILD, "traces", f"{tag}.json")
    cmd = ["run", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", DATA, "--expected", EXPECTED, "--out", result]
    if args.trace:
        cmd += ["--spans", spans]
    if os.path.exists(result):
        os.remove(result)
    rc, _, err = run_java(classpath, cmd, tag, RUN_TIMEOUT_S)
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(err[-6000:])
        raise SystemExit(f"[perfbench] run failed (exit {rc})")
    with open(result) as f:
        rec = json.load(f)
    with open(EXPECTED) as f:
        rec["data_fingerprints"] = json.load(f)["tables"][rec["rung"]]
    rec["source_digest"] = digest
    rec["git_commit"] = git_commit()
    with open(result, "w") as f:
        json.dump(rec, f, indent=1)
    line = rec["result"]
    for k, m in line["metrics"].items():
        log(f"{args.workload} {k} = {m['value']} {m['unit']}")
    for fl in rec["failures"]:
        log(f"FAILED {fl['op']}: {fl['error']}")
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


def git_commit():
    try:
        rc, out, _ = run_proc(["git", "rev-parse", "HEAD"], ROOT, 10)
        return out.strip() if rc == 0 else None
    except (OSError, SystemExit):
        return None


def pin():
    """Re-pins input fingerprints and every workload's op checksums."""
    classpath, digest, _ = build()
    with open(EXPECTED) as f:
        expected = json.load(f)
    expected["tables"] = {g["rung"]: g["tables"]
                          for g in generate(classpath, digest, pinning=True)}
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    rc, out, err = run_java(classpath, ["workloads"], "workloads", 60)
    workloads = json.loads(out.strip().splitlines()[-1])
    ops, nondet = {}, {}
    for w in workloads:
        recs = []
        for order in (w["ops"], list(reversed(w["ops"]))):
            rc, out, err = run_java(
                classpath, ["record", "--workload", w["name"], "--data", DATA,
                            "--ops", ",".join(order)], f"pin-{w['name']}",
                RUN_TIMEOUT_S)
            if rc != 0:
                sys.stderr.write(out[-4000:] + err[-4000:])
                raise SystemExit(f"[perfbench] recording {w['name']} failed")
            recs.append({r["op"]: r["checksum"] for r in
                         map(json.loads, out.strip().splitlines())
                         if "op" in r})
        first, second = recs
        for op, c in first.items():
            ops.setdefault(w["rung"], {})[op] = c
            if not same(c, second[op]):
                nondet[op] = ("checksum differs between two recordings in "
                              "opposite op orders")
                log(f"nondeterministic: {op}")
    expected["ops"] = ops
    expected["nondeterministic"] = {**expected.get("nondeterministic", {}),
                                    **nondet}
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return 0


def same(a, b, rel_tol=1e-6):
    """Checksum.matches (Scala), for two recorded checksums."""
    scale = max(a["fabs"], b["fabs"], 1e-12)
    return (a["rows"] == b["rows"] and a["hash"] == b["hash"]
            and abs(a["fsum"] - b["fsum"]) <= rel_tol * scale
            and abs(a["fabs"] - b["fabs"]) <= rel_tol * scale)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()
    missing = [p for p in (ENGINE_SRC, os.path.join(ROOT, "build.sbt"))
               if not os.path.exists(p)]
    if missing:
        raise SystemExit("[perfbench] not an engine checkout; missing: "
                         + ", ".join(os.path.relpath(p, ROOT)
                                     for p in missing))
    if args.pin:
        return pin()
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
