#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> [--seed N] [--seconds S] [--trace 0|1]

Run from the root of a source checkout. The first run builds the program
and the harness in perfbench/harness with sbt (offline) and caches the
runtime classpath under .bench_build/; later runs reuse it while the
sources are unchanged. Each run starts one JVM on local[nproc], which sets
up (session, first scan of every fixture table, warm-up), measures for
--seconds, checks every output, and prints one JSON line. This script
relays that line as the last line of its standard output. With
--workload all it runs every workload in turn and ends with one combined
line whose metric names are prefixed by the workload.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HARNESS = HERE / "harness"
BUILD = ROOT / ".bench_build"
CONFIG = HERE / "workloads.json"
EXPECTED = HERE / "expected.json"
RUN_TIMEOUT_S = 170
RECORD_TIMEOUT_S = 1800

# JDK 17 module opens Spark needs outside spark-submit (the program's
# build.sbt passes the same list to its forked JVMs).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             ROOT / "src" / "main", HARNESS / "build.sbt",
             HARNESS / "project" / "build.properties", HARNESS / "src"]
    for r in roots:
        if r.is_file():
            yield r
        elif r.is_dir():
            yield from sorted(p for p in r.rglob("*") if p.is_file())


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Builds on first use (or when the sources changed) and returns the
    harness's runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT}: run from the root of a source checkout")
    BUILD.mkdir(exist_ok=True)
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    want = stamp()
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    log = BUILD / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE,
                           stderr=out, stdin=subprocess.DEVNULL, text=True, timeout=800)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(want)
    return lines[-1].strip()


def run_one(cp, workload, seed, seconds, trace, record=False):
    work = BUILD / "work" / workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = BUILD / "out"
    out.mkdir(exist_ok=True)
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-cp", cp, "perfbench.Main",
           "--config", str(CONFIG), "--expected", str(EXPECTED),
           "--fixtures", str(HERE / "fixtures"), "--out", str(out),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--t0-ms", str(int(time.time() * 1000))]
    if record:
        cmd.append("--record")
    log = BUILD / f"{workload}.log"
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                               stdin=subprocess.DEVNULL, text=True,
                               timeout=RECORD_TIMEOUT_S if record else RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{workload}: no result in time; see {log}")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        fail(f"{workload}: harness exited {r.returncode}; see {log}")
    return lines


def layer_metrics(cfg, workload):
    """The per-layer metrics a workload's traced run reports."""
    return [n for layer in cfg["workloads"][workload]["layers"] for n in layer["metrics"]]


def metrics_for(bench, cfg, w, got, trace):
    """The declared metrics of one run, in BENCHMARK.json's order. A traced
    run reports its own workload's layers; a layer another workload owns
    reads 0 here, since this workload does not exercise it. Anything else
    missing or unexpected fails the run."""
    declared = bench["per_layer" if trace else "end_to_end"]
    names = [m["name"] for m in declared]
    if not trace:
        missing = [n for n in names if n not in got]
        if missing:
            fail(f"{w}: metrics not measured: {missing}")
        return {n: got[n] for n in names}
    own = layer_metrics(cfg, w)
    others = {n for o in cfg["workloads"] if o != w for n in layer_metrics(cfg, o)} - set(own)
    if set(got) != set(own):
        fail(f"{w}: traced metrics differ from the workload's layers: "
             f"missing {sorted(set(own) - set(got))}, unexpected {sorted(set(got) - set(own))}")
    unowned = [n for n in names if n not in own and n not in others]
    undeclared = [n for n in own if n not in names]
    if unowned or undeclared:
        fail(f"{w}: per_layer metrics owned by no workload {unowned}, "
             f"owned but not declared {undeclared}")
    return {m["name"]: got[m["name"]] if m["name"] in got else {"value": 0.0, "unit": m["unit"]}
            for m in declared}


def main():
    # a terminated run exits through subprocess.run, which kills and reaps
    # the JVM or sbt it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "BENCHMARK.json").is_file():
        fail(f"no BENCHMARK.json in {ROOT}")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    cfg = json.loads(CONFIG.read_text())
    names = list(cfg["workloads"])
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=names + ["all"])
    ap.add_argument("--seed", type=int, default=cfg["default_seed"])
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="print fresh expected values instead of a result")
    a = ap.parse_args()
    cp = classpath()
    if a.record:
        for line in run_one(cp, a.workload, a.seed, a.seconds, a.trace, record=True):
            print(line)
        return
    results = {}
    for w in (names if a.workload == "all" else [a.workload]):
        res = json.loads(run_one(cp, w, a.seed, a.seconds, a.trace)[-1])
        res["metrics"] = metrics_for(bench, cfg, w, res["metrics"], a.trace)
        results[w] = res
        if a.workload == "all":
            print(json.dumps({"workload": w, **res}), flush=True)
    if a.workload != "all":
        print(json.dumps(results[a.workload]))
        return
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
