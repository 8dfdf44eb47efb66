#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size. Run from the repository root:

    python3 perfbench/selftest.py

Checks that

* the point generators give identical bytes for the same seed and
  different bytes for another seed;
* each workload runs at tiny size, exits 0 and prints every
  end-to-end metric of ``BENCHMARK.json`` by name (and, traced, every
  per-layer metric);
* one output corrupted on purpose (a flipped DBSCAN flag, a dropped query
  row) shows up in ``failed`` and ``failed_ratio`` and makes the exit
  code non-zero.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _generate(out: str, seed: int) -> str:
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for ds in ("blobs", "skew"):
        datagen.write_points(os.path.join(out, f"{ds}.parquet"), getattr(datagen, ds)(seed, 4000))
    return _digest(glob.glob(os.path.join(out, "*.parquet")))


def check_generators(work: str) -> list[str]:
    a = _generate(os.path.join(work, "gen-a"), 7)
    b = _generate(os.path.join(work, "gen-b"), 7)
    c = _generate(os.path.join(work, "gen-c"), 8)
    errors = []
    if a != b:
        errors.append("generators: same seed gave different bytes")
    if a == c:
        errors.append("generators: another seed gave the same bytes")
    return errors


def run(workload: str, *extra: str) -> tuple[int, dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--size", "tiny", *extra]
    if "--trace" not in extra:
        cmd += ["--trace", "0"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {}
    return p.returncode, result, p.stdout + p.stderr[-3000:]


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    e2e = [m["name"] for m in spec["end_to_end"]]
    per_layer = [m["name"] for m in spec["per_layer"]]
    work = os.path.join(HERE, ".work", "selftest")
    errors = check_generators(work)
    for workload in ("dbscan", "queries"):
        rc, res, out = run(workload)
        if rc != 0 or not res.get("correct"):
            errors.append(f"{workload}: clean tiny run failed (rc={rc})\n{out}")
        missing = [m for m in e2e if f"\n{m}: " not in "\n" + out]
        if missing or sorted(res.get("metrics", {})) != sorted(e2e):
            errors.append(f"{workload}: end-to-end metrics missing: {missing}")
        rc, res, out = run(workload, "--corrupt")
        ratio = [line for line in out.splitlines() if line.startswith("failed_ratio: ")]
        if rc == 0 or res.get("failed", 0) < 1 or not ratio or ratio[0].startswith("failed_ratio: 0 "):
            errors.append(f"{workload}: corrupted output not caught (rc={rc})\n{out}")
        rc, res, out = run(workload, "--trace", "1")
        if rc != 0 or sorted(res.get("metrics", {})) != sorted(per_layer):
            errors.append(f"{workload}: traced run lacks per-layer metrics (rc={rc})\n{out}")
        print(f"{workload}: done", flush=True)
    for e in errors:
        print("FAIL", e)
    print("selftest: " + ("ok" if not errors else f"{len(errors)} failures"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
