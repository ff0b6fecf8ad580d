"""The scale scripts (`bench_*.py`) share one harness, `bench_util.py`.

A lint (pure `ast`, no Spark, like test_public_surface) keeps the
scripts from growing their own copies back: no environment knobs, no
hand-built session, no steal sampling, no event-log directory of their
own. `bench.py` is a frozen contract and not a `bench_*.py` script. The
rest covers the shared attempt policy with a fake steal sampler and
clock, and the event-log window attribution on a synthetic log."""

from __future__ import annotations

import ast
import json
from pathlib import Path

import bench_util

REPO = Path(__file__).resolve().parents[1]


def _violations(path: Path) -> list[str]:
    out = []
    for n in ast.walk(ast.parse(path.read_text(), str(path))):
        where = f"{path.name}:{getattr(n, 'lineno', '?')}"
        if isinstance(n, ast.Attribute):
            dotted = ast.unparse(n)
            if dotted in ("os.environ.get", "os.getenv"):
                out.append(f"{where} reads the environment ({dotted})")
            if dotted == "SparkSession.builder":
                out.append(f"{where} builds its own session")
            if n.attr == "steal_counters":
                out.append(f"{where} samples steal itself")
        elif isinstance(n, ast.Subscript) and ast.unparse(n.value) == "os.environ":
            if isinstance(n.slice, ast.Constant) and isinstance(n.slice.value, str):
                out.append(f"{where} reads the environment (os.environ[...])")
        elif isinstance(n, ast.Name) and n.id == "steal_counters":
            out.append(f"{where} samples steal itself")
        elif isinstance(n, ast.Constant) and n.value == "spark.eventLog.dir":
            out.append(f"{where} sets its own event-log directory")
    return out


def test_scale_scripts_use_the_shared_harness():
    scripts = sorted(set(REPO.glob("bench_*.py")) - {REPO / "bench_util.py"})
    assert scripts, "no bench_*.py scripts found"
    bad = [v for p in scripts for v in _violations(p)]
    assert not bad, "\n".join(bad)


class _Clock:
    """time.time / time.sleep stand-in: each reading advances one second."""

    def __init__(self):
        self.now = 1000.0

    def time(self):
        self.now += 1.0
        return self.now

    def sleep(self, _):
        pass


def _fake(monkeypatch, steals: list[float]):
    """Attempt i measures steals[i] percent: two /proc/stat samples per
    attempt, 1000 total ticks apart."""
    samples = []
    for i, pct in enumerate(steals):
        samples += [(0, 1000 * 2 * i), (int(pct * 10), 1000 * (2 * i + 1))]
    it = iter(samples)
    monkeypatch.setattr(bench_util, "steal_counters", lambda: next(it))
    monkeypatch.setattr(bench_util, "time", _Clock())
    calls = []
    phases = [
        ("a", lambda: calls.append("a") or {"rows": 1}),
        ("b", lambda: calls.append("b") or {}),
    ]
    return phases, calls


def test_attempts_stop_at_the_first_one_under_the_gate(monkeypatch):
    phases, calls = _fake(monkeypatch, [30.0, 4.0, 1.0])
    kept, rejected = bench_util.attempt_loop(phases, gate=10.0)
    assert calls == ["a", "b"] * 2
    assert [a["steal_pct"] for a in kept] == [4.0]
    assert kept[0]["steal_gate_met"] is True
    assert [a["steal_pct"] for a in rejected] == [30.0]
    a, b = kept[0]["phases"]
    assert (a["phase"], a["wall_sec"], a["rows"]) == ("a", 1.0, 1)
    assert b["window"][0] > a["window"][1]


def test_attempts_keep_the_lowest_steal_when_none_qualifies(monkeypatch):
    steals = [30.0, 12.0, 20.0]
    phases, calls = _fake(monkeypatch, steals)
    kept, rejected = bench_util.attempt_loop(phases, gate=10.0)
    assert len(calls) == 2 * bench_util.MAX_ATTEMPTS == 2 * len(steals)
    assert [a["steal_pct"] for a in kept] == [12.0]
    assert kept[0]["steal_gate_met"] is False
    assert sorted(a["steal_pct"] for a in rejected) == [20.0, 30.0]


def test_attempts_collect_the_accepted_runs_of_a_scaling_level(monkeypatch):
    phases, _ = _fake(monkeypatch, [1.0, 9.0, 2.0, 3.0, 4.0])
    kept, rejected = bench_util.attempt_loop(phases, gate=6.0, runs=3)
    assert [a["steal_pct"] for a in kept] == [1.0, 2.0, 3.0]
    assert [a["steal_pct"] for a in rejected] == [9.0]


def test_task_windows_attribute_events_to_their_phase(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 150},
        {
            "Event": "SparkListenerTaskEnd",
            "Task Info": {"Launch Time": 250},
            "Task Metrics": {
                "Executor Run Time": 1500,
                "Executor CPU Time": 1_000_000_000,
                "JVM GC Time": 200,
                "Shuffle Write Metrics": {
                    "Shuffle Bytes Written": 3_000_000,
                    "Shuffle Records Written": 7,
                },
            },
        },
    ]
    app = tmp_path / "app-1"
    app.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    first, second = bench_util.parse_task_windows(tmp_path, [(100, 200), (200, 300)])
    assert (first["n_jobs"], first["n_tasks"], first["task_sec"]) == (1, 0, 0.0)
    assert second == {
        "task_sec": 1.5,
        "cpu_sec": 1.0,
        "gc_sec": 0.2,
        "shuffle_write_mb": 3.0,
        "shuffle_records": 7,
        "n_tasks": 1,
        "n_jobs": 0,
    }
