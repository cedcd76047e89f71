"""Fast self-test of the benchmark (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Runs each workload once on tiny inputs (``--scale 0.1``, about sf0.001)
with tracing on and checks the result line; runs each again with a
tampered output (a dropped query row; a dropped target row plus a wrong
stored watermark) and checks that the output gate counts the damage;
and checks that the benchmark refuses to run in a directory holding only
``BENCHMARK.json`` and ``perfbench/``.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def bench(*args: str, cwd: Path = ROOT, script: Path = HERE / "run.py"):
    p = subprocess.run(
        [sys.executable, str(script), "--seed", "0", "--seconds", "1",
         "--scale", "0.1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stdout


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    errors = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            errors.append(what)

    layer_names = {m["name"] for m in spec["per_layer"]}
    e2e_names = {m["name"] for m in spec["end_to_end"]}
    for wl in (w["name"] for w in spec["workloads"]):
        rc, res, _ = bench("--workload", wl, "--trace", "1")
        expect(rc == 0 and res is not None, f"{wl}: traced run exits 0 with a result")
        if res:
            expect(res["correct"] and res["failed"] == 0, f"{wl}: all outputs correct")
            expect(set(res["metrics"]) == layer_names, f"{wl}: every per-layer metric")
        rc, res, out = bench("--workload", wl, "--trace", "0", "--tamper")
        expect(rc == 0 and res is not None, f"{wl}: tampered run exits 0 with a result")
        if res:
            expect(not res["correct"] and res["failed"] >= 1, f"{wl}: tampered output counted")
            expect(set(res["metrics"]) == e2e_names, f"{wl}: every end-to-end metric")
        if wl == "etl_incremental":
            expect("missing/extra rows" in out and "final stored watermark" in out,
                   f"{wl}: dropped row and wrong watermark both reported")

    bare = ROOT / ".bench_work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    rc, res, _ = bench("--workload", spec["workloads"][0]["name"], cwd=bare,
                       script=bare / "perfbench" / "run.py")
    expect(rc != 0 and res is None, "bare directory: non-zero exit, no result")
    shutil.rmtree(bare)

    print("selftest:", "FAILED" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
