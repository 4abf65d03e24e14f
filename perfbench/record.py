#!/usr/bin/env python3
"""Re-records perfbench/expected.json, the values every run checks against.

    python3 perfbench/record.py

Runs each workload once in record mode. For a query workload that prints
each query's row count and content digest and writes the query's output
under .bench_build/out/record/. Every query with a DuckDB oracle twin
(`SparkEntry.oracleSql`) is then confirmed by tools/verify_local.py's
canonicalise-and-compare over the same fixture tables; a failed
confirmation aborts without writing. The automl workload contributes its
leaderboard and forecast.
"""
import contextlib
import importlib.util
import io
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RECORD = ROOT / ".bench_build" / "out" / "record"


def verify_local():
    spec = importlib.util.spec_from_file_location("verify_local", ROOT / "tools" / "verify_local.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def record(workload):
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload, "--record"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")]


def main():
    cfg = json.loads((HERE / "workloads.json").read_text())
    shutil.rmtree(RECORD, ignore_errors=True)
    expected = {"queries": {}}
    for w, spec in cfg["workloads"].items():
        print(f"[record] {w}", file=sys.stderr)
        rows = record(w)
        if "queries" not in spec:
            expected.update(rows[-1])
            continue
        for r in rows:
            expected["queries"][r["query"]] = {"rows": r["rows"], "digest": r["digest"],
                                               "oracle_sql": r["oracle_sql"]}
    oracle = {q: e.pop("oracle_sql") for q, e in expected["queries"].items()}
    (RECORD / "oracle_sql.json").write_text(json.dumps({q: s for q, s in oracle.items() if s}))
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        verify_local().main(str(HERE / "fixtures"), str(RECORD))
    status = {}
    for line in out.getvalue().splitlines():
        tag, _, rest = line.partition("] ")
        if rest:
            status[rest.split(":")[0]] = tag.strip("[ ")
    bad = {q: s for q, s in status.items() if s not in ("OK", "rows-only")}
    if bad or set(status) != set(oracle):
        print(out.getvalue(), file=sys.stderr)
        sys.exit(f"[record] oracle confirmation failed: {bad or 'queries missing'}")
    for q, e in expected["queries"].items():
        e["oracle"] = "confirmed" if status[q] == "OK" else "none"
    (HERE / "expected.json").write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    n = sum(s == "OK" for s in status.values())
    print(f"[record] {len(status)} queries recorded, {n} confirmed against DuckDB", file=sys.stderr)


if __name__ == "__main__":
    main()
