#!/usr/bin/env python3
"""dlxspark benchmark launcher.

    python3 perfbench/run.py --workload catalog|operators \
        --seed N --seconds S --trace 0|1 [--record FILE]
    python3 perfbench/run.py --selftest

--seconds defaults to BENCHMARK.json's run_seconds.

Builds the library and the benchmark from source when either changed
(sbt, offline), then starts one fresh JVM for the run, checks the
outputs the run produced, deletes the run's stores, checkpoints and
Spark local dirs, and prints the workload's figures by name followed by
one JSON line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics;
with --trace 1 its per_layer metrics, where a layer the workload does
not call reads 0; the traced run also writes its spans to
perfbench/traces/, and trace_overhead_frac compares it with the untraced
runs of the same sources on record: those of the same seed, else those
of any seed; when there is none, one is made first, so that traced run
takes two runs' time. --record appends the run (workload, seed, trace,
result, and the workload's own figures printed above the result line)
to FILE as one JSON line, for compare.py.

Exits nonzero, without a result line, when the library sources are
missing, the build fails or the run does not finish in time; exits 1
after the result line when an output check failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
WORK = os.path.join(HERE, "work")
TRACES = os.path.join(HERE, "traces")
LEDGER = os.path.join(WORK, "untraced.jsonl")
# a run must end within 180 s; a build may take longer
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "4g"


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:7.1f}s] {msg}", file=sys.stderr)


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    out = []
    for base, exts in ((os.path.join(ROOT, "src", "main"), None),
                       (os.path.join(ROOT, "project"), (".sbt", ".properties", ".scala")),
                       (os.path.join(HERE, "src"), None),
                       (os.path.join(HERE, "project"), (".sbt", ".properties", ".scala"))):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files) if exts is None or f.endswith(exts)]
    return [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")] + out


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return (classpath, jvm
    options, source stamp)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("library sources not found next to the benchmark (build.sbt, src/main/scala/graft)")
    want = stamp()
    have = open(STAMP).read() if os.path.isfile(STAMP) else None
    if have != want or not os.path.isfile(LAUNCH):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env:
            opts = "-Dsbt.offline=true -Xmx2g"
            if os.path.isfile(repos):
                opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + opts
            env["SBT_OPTS"] = opts
        log = os.path.join(TARGET, "build.log")
        os.makedirs(TARGET, exist_ok=True)
        with open(log, "w") as fh:
            try:
                r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                   cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                die("build timed out")
        if r.returncode != 0:
            sys.stderr.write(open(log).read()[-3000:])
            die("build failed")
        with open(STAMP, "w") as fh:
            fh.write(want)
    lines = open(LAUNCH).read().splitlines()
    # the library's own JVM options, with the benchmark's heap size
    opts = [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    return lines[0], opts, want


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_jvm(classpath, opts, workload, seed, seconds, trace):
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    # the heap at full size from the start: grown on demand, its size
    # moves peak_rss_mb by a fifth from run to run
    cmd = (["java"] + opts + [f"-Xms{HEAP}", f"-Xmx{HEAP}"] +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--result", result])
    deadline = time.time() + RUN_TIMEOUT_S
    try:
        if workload == "operators":
            # the input tables (DuckDB, in this process) are not the
            # program's work, so they are made before the JVM's timers
            import tables
            tables_dir = os.path.join(work, "tables")
            tables.generate(seed, tables_dir)
            cmd += ["--tables", tables_dir]
        p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                             start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"{workload} run stopped")
        # the JVM runs in a session of its own: take it down with us
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"{workload} run did not finish within {RUN_TIMEOUT_S} s")
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
        if p.returncode != 0 or not os.path.isfile(result):
            die(f"{workload} run failed (JVM exit {p.returncode})")
        with open(result) as fh:
            res = json.load(fh)
        log(f"{workload} JVM done")
        if workload == "operators":
            import oracle
            fails = oracle.check(os.path.join(work, "operators"), tables_dir)
            res["failures"] += fails
            res["failed"] += len(fails)
            log("oracles compared")
        spans = result + ".spans.jsonl"
        if os.path.isfile(spans):
            os.makedirs(TRACES, exist_ok=True)
            shutil.copy(spans, os.path.join(TRACES, f"{workload}-seed{seed}-{int(time.time())}.jsonl"))
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=declared()["run_seconds"])
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--record")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    start = time.time()
    classpath, opts, src = build()
    if a.selftest:
        r = subprocess.run(["java"] + opts + [f"-Xmx{HEAP}", "-cp", classpath, "perfbench.Main",
                                              "selftest"], stdin=subprocess.DEVNULL)
        sys.exit(r.returncode)
    if a.workload not in ("catalog", "operators"):
        die(f"unknown workload {a.workload!r}")
    b = declared()
    e2e, per_layer = b["end_to_end"], b["per_layer"]

    def run(trace):
        return run_jvm(classpath, opts, a.workload, a.seed, a.seconds, trace)
    if a.trace == 0:
        res = run(0)
        got = res["metrics"]
        wanted = e2e
        record_untraced(src, a, got)
    else:
        base = untraced(src, a)
        if not base:
            log("no untraced run of these sources on record: making one first")
            record_untraced(src, a, run(0)["metrics"])
            base = untraced(src, a)
        res = run(1)
        got = res["metrics"]
        wanted = per_layer
        got["trace_overhead_frac"] = {"value": got[OVERHEAD_OF]["value"] / statistics.median(base) - 1.0,
                                      "unit": "ratio"}
    missing = [m["name"] for m in e2e if a.trace == 0 and m["name"] not in got]
    if missing:
        die(f"run did not report {missing}")
    metrics = {m["name"]: {"value": got.get(m["name"], {"value": 0.0})["value"], "unit": m["unit"]}
               for m in wanted}
    for name, v in list(res["details"].items()) + list(got.items()):
        print(f"{a.workload:<10} {name:<34} {v['value']:>14.4f} {v['unit']}")
    for f in res["failures"]:
        print(f"{a.workload:<10} FAILED {f}")
    print(f"{a.workload:<10} {'attempted':<34} {res['attempted']:>14}")
    print(f"{a.workload:<10} {'failed_frac':<34} {res['failed'] / max(1, res['attempted']):>14.4f} ratio")
    print(f"{a.workload:<10} {'wall_s':<34} {time.time() - start:>14.1f} s")
    out = {"correct": res["failed"] == 0, "attempted": max(1, res["attempted"]),
           "failed": res["failed"], "metrics": metrics}
    if a.record:
        with open(a.record, "a") as fh:
            fh.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                 "result": out, "details": res["details"]}) + "\n")
    print(json.dumps(out), flush=True)
    sys.exit(0 if out["correct"] else 1)


# trace_overhead_frac: this metric of the traced run over its median in
# untraced runs of the same sources and workload, minus one
OVERHEAD_OF = "op_geomean_ms"


def record_untraced(src, a, got):
    os.makedirs(WORK, exist_ok=True)
    with open(LEDGER, "a") as fh:
        fh.write(json.dumps({"src": src, "workload": a.workload, "seed": a.seed,
                             OVERHEAD_OF: got[OVERHEAD_OF]["value"]}) + "\n")


def untraced(src, a):
    """The recorded untraced values of the same seed, else of any seed."""
    if not os.path.isfile(LEDGER):
        return []
    with open(LEDGER) as fh:
        same = [r for r in map(json.loads, fh) if (r.get("src"), r.get("workload")) == (src, a.workload)]
    return [r[OVERHEAD_OF] for r in same if r["seed"] == a.seed] or [r[OVERHEAD_OF] for r in same]


if __name__ == "__main__":
    main()
