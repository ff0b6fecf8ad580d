"""The one harness of the scale scripts (`bench_*.py`): the `--scale`
flag, the Spark session with a fresh event log, the corpus cache, the
steal-gated attempt policy with per-phase event-log attribution, and the
report. Each script keeps only its corpus builders, its phases with their
closed-form assertions, and its report prose — so every script measures
the same way (a fix applied to one copy silently skewing the others is
the drift this module removes)."""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
#: an attempt counts only if host CPU steal over its window is at most
#: this percentage (this VM shows 0-35% steal, fluctuating minute to minute)
STEAL_GATE = 10.0
#: attempts per wanted accepted run before the lowest-steal one is kept
MAX_ATTEMPTS = 3


def cli(parser: argparse.ArgumentParser | None = None) -> argparse.Namespace:
    """Parse the scale scripts' command line: `--scale` plus whatever
    `parser` already declares."""
    parser = parser or argparse.ArgumentParser()
    parser.add_argument(
        "--scale",
        type=float,
        default=1.0,
        help="multiply every corpus size by this (default 1: the sizes of "
        "the committed BENCH/*.md reports, which only a full-scale run "
        "rewrites)",
    )
    return parser.parse_args()


def scaled(n: int, scale: float, multiple: int = 1) -> int:
    """`n * scale` rounded down to a positive multiple of `multiple`."""
    return max(multiple, int(n * scale) // multiple * multiple)


def session(name: str, extra_conf: dict | None = None):
    """`get_spark` (cores from the library's own default) with an
    uncompressed event log in a fresh directory, so a run parses only its
    own application; runs one JIT warm-up job. Returns (spark, log dir)."""
    from delm_spark.session import get_spark

    evdir = Path(tempfile.mkdtemp(prefix=f"delm_{name}_eventlog_"))
    spark = get_spark(
        app_name=f"delm-{name}-bench",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(evdir),
            "spark.eventLog.compress": "false",
            # Python workers (and local-cluster executors) import
            # delm_spark whatever the working directory
            "spark.executorEnv.PYTHONPATH": str(REPO),
            **(extra_conf or {}),
        },
    )
    spark.range(100_000).count()  # JIT warm-up
    return spark, evdir


def corpus(spark, name: str, build):
    """The parquet corpus `delm_<name>` in the temp directory, written
    from `build(spark)` once (its `_SUCCESS` marker means done), read
    back and counted (warming the page cache). Returns (df, rows)."""
    path = str(Path(tempfile.gettempdir(), f"delm_{name}"))
    if not Path(path, "_SUCCESS").exists():
        build(spark).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    return df, df.count()


def steal_counters():
    """(steal_ticks, total_ticks) from the first /proc/stat line; sample
    around a run and gate on the interval percentage."""
    f = open("/proc/stat").readline().split()
    return int(f[8]), sum(int(x) for x in f[1:9])


def attempt_loop(phases: list, gate: float = STEAL_GATE, runs: int = 1):
    """Run every `(name, fn)` phase in order, as one attempt, until `runs`
    attempts have steal <= `gate`, or for at most MAX_ATTEMPTS * runs
    attempts. `fn()` returns a dict of the phase's own fields.

    Returns (kept, rejected). Each attempt is {"steal_pct",
    "steal_gate_met", "phases": [{"phase", "wall_sec", "window", ...}]},
    with `window` the phase's (t0_ms, t1_ms). `kept` is the accepted
    attempts or, when none met the gate, the lowest-steal one (never
    silently the last); `rejected` holds the rest of the over-gate ones."""
    accepted, over = [], []
    for _ in range(MAX_ATTEMPTS * runs):
        s0, c0 = steal_counters()
        results = []
        for name, fn in phases:
            t0 = time.time()
            extra = fn()
            t1 = time.time()
            results.append(
                {
                    "phase": name,
                    "wall_sec": round(t1 - t0, 2),
                    "window": (int(t0 * 1000), int(t1 * 1000)),
                    **extra,
                }
            )
        s1, c1 = steal_counters()
        steal = round((s1 - s0) / max(c1 - c0, 1) * 100, 1)
        attempt = {"steal_pct": steal, "steal_gate_met": steal <= gate, "phases": results}
        (accepted if attempt["steal_gate_met"] else over).append(attempt)
        if len(accepted) >= runs:
            break
    if accepted:
        return accepted, over
    over.sort(key=lambda a: a["steal_pct"])
    return over[:1], over[1:]


def run_phases(spark, evdir: Path, phases: list, gate: float = STEAL_GATE, runs: int = 1):
    """`attempt_loop`, then each kept phase gains its window's event-log
    sums (`parse_task_windows`: task/CPU/GC seconds, shuffle, tasks,
    jobs). Returns (kept, rejected) without the windows."""
    kept, rejected = attempt_loop(phases, gate, runs)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    time.sleep(2)  # event-log flush
    kept_phases = [p for a in kept for p in a["phases"]]
    sums = parse_task_windows(evdir, [p["window"] for p in kept_phases])
    for p, s in zip(kept_phases, sums):
        p.update(s)
    for a in kept + rejected:
        for p in a["phases"]:
            del p["window"]
    return kept, rejected


def report(name: str, summary: dict, md: str, full: bool) -> None:
    """Print `summary` as ONE JSON line; for a `full` (default-size) run
    only, write `md` to BENCH/<name>.md, keeping a hand-maintained history
    (everything from the first "## Round-" section on) below it, so
    reduced-scale runs never overwrite committed evidence."""
    print(json.dumps(summary), flush=True)
    if not full:
        return
    out = REPO / "BENCH" / f"{name}.md"
    old = out.read_text() if out.exists() else ""
    if "\n## Round-" in old:
        md = md.rstrip() + "\n\n" + old[old.index("\n## Round-") + 1 :]
    out.write_text(md)
    print(f"wrote {out}", file=sys.stderr)


def parse_task_windows(app_dir: Path, windows: list) -> list:
    """Per-(t0_ms, t1_ms)-window sums over SparkListenerTaskEnd /
    JobStart events in an UNCOMPRESSED event-log directory: task/cpu/GC
    seconds, shuffle write volume, task and job counts. Tasks attribute
    to a window by Launch Time."""
    out = [
        {
            "task_sec": 0.0,
            "cpu_sec": 0.0,
            "gc_sec": 0.0,
            "shuffle_write_mb": 0.0,
            "shuffle_records": 0,
            "n_tasks": 0,
            "n_jobs": 0,
        }
        for _ in windows
    ]
    app_dir = Path(app_dir)
    files = sorted(app_dir.glob("**/*")) if app_dir.is_dir() else [app_dir]
    for fp in files:
        if not fp.is_file():
            continue
        with open(fp, errors="replace") as f:
            for line in f:
                if (
                    '"SparkListenerTaskEnd"' not in line
                    and '"SparkListenerJobStart"' not in line
                ):
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") == "SparkListenerJobStart":
                    ts = ev.get("Submission Time", 0)
                    for i, (a, b) in enumerate(windows):
                        if a <= ts <= b:
                            out[i]["n_jobs"] += 1
                    continue
                ts = ev.get("Task Info", {}).get("Launch Time", 0)
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                for i, (a, b) in enumerate(windows):
                    if a <= ts <= b:
                        o = out[i]
                        o["n_tasks"] += 1
                        o["task_sec"] += m.get("Executor Run Time", 0) / 1e3
                        o["cpu_sec"] += m.get("Executor CPU Time", 0) / 1e9
                        o["gc_sec"] += m.get("JVM GC Time", 0) / 1e3
                        o["shuffle_write_mb"] += (
                            sw.get("Shuffle Bytes Written", 0) / 1e6
                        )
                        o["shuffle_records"] += sw.get(
                            "Shuffle Records Written", 0
                        )
    for o in out:
        for k in ("task_sec", "cpu_sec", "gc_sec", "shuffle_write_mb"):
            o[k] = round(o[k], 1)
    return out
