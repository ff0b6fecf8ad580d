#!/usr/bin/env python3
"""Self-tests of the benchmark (not of the program): run from the checkout
root with ``python3 perfbench/selftest.py``.

1. Every workload runs once with tracing off and once with it on; each
   prints every metric it declares, by name and unit, and passes its
   oracle gate. The traced run also proves its traced iteration has
   the same digests as the untraced run (otherwise it reports failures).
2. A corrupted oracle digest trips the gate: the same outputs now
   mismatch, so the run exits 1 and reports correct=false.
3. In a directory holding only BENCHMARK.json and the benchmark's files,
   the command exits nonzero without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from run import E2E_UNITS, SIZES, WORK, WORKLOADS  # noqa: E402
from tracing import per_layer_units  # noqa: E402

SEED = 7
SHORT = ["--seed", str(SEED), "--seconds", "1"]


def _run(args: list[str], cwd: Path = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def _result(lines: list[str]) -> dict:
    return json.loads(lines[-1])


def check_workload(workload: str) -> None:
    for trace, units in ((0, E2E_UNITS), (1, per_layer_units())):
        code, lines = _run(["--workload", workload, "--trace", str(trace), *SHORT])
        res = _result(lines)
        assert code == 0 and res["correct"] and res["failed"] == 0, (workload, trace, lines[-3:])
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == units, (workload, trace, set(got) ^ set(units))
        for name, unit in units.items():
            assert any(line.strip().startswith(f"{name} = ") and line.endswith(f" {unit}")
                       for line in lines), (workload, name)
        if trace == 0:
            human = ["failed_share", "jit_cpu_s"]
            human += ["triples_per_s", "stored_mb"] if workload == "kg_staged" else []
            for name in human:
                assert any(line.strip().startswith(f"{name} = ") for line in lines), (workload, name)
        print(f"ok  {workload} trace={trace}: {len(units)} metrics, oracle gate passed")


def check_corruption_trips_gate() -> None:
    """Runs after check_workload("near_dup_ann") cached the seed's input."""
    key = "-".join(f"{k}{v}" for k, v in sorted(SIZES["near_dup_ann"].items()))
    meta_path = WORK / "inputs" / f"near_dup_ann-{key}-s{SEED}" / "_meta.json"
    saved = meta_path.read_text()
    meta = json.loads(saved)
    meta["oracle"]["simhash_pairs_docs"] += "0"
    meta_path.write_text(json.dumps(meta))
    try:
        code, lines = _run(["--workload", "near_dup_ann", "--trace", "0", *SHORT])
    finally:
        meta_path.write_text(saved)
    res = _result(lines)
    assert code == 1 and not res["correct"] and res["failed"] == res["attempted"], lines[-1]
    print("ok  a corrupted oracle digest trips the gate")


def check_bare_directory_fails() -> None:
    bare = WORK / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
    shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    try:
        code, lines = _run(["--workload", "kg_staged", "--trace", "0", *SHORT], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not any(line.startswith("{") for line in lines), (code, lines)
    print("ok  a checkout without the program exits nonzero without a result")


def main() -> int:
    check_bare_directory_fails()
    for workload in WORKLOADS:
        check_workload(workload)
    check_corruption_trips_gate()
    print("all self-tests passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
