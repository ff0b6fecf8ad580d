#!/usr/bin/env python3
"""Oracle-checked benchmark of spark-delm: one workload per run.

    python3 perfbench/run.py --workload kg_staged --seed 1 --seconds 10 --trace 0

Workloads (README.md says why each was chosen):
  kg_staged     checkpointed + dedup_extraction + embedding_link, then resume
  near_dup_ann  near_dup_pipeline_docs, simhash_pairs_docs, lsh_topk_embeddings

A closed loop on local[<cores>]: one iteration at a time from this process,
a fixed number of untimed warm-up iterations, then the workload's fixed
number of measured iterations (more only while --seconds have not passed).
Each iteration's output digest is checked against the workload's DuckDB
oracle. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` adds a
traced iteration (each layer's calls under spans, engine metrics from the
Spark event log) and prints the per-layer metrics. The
last stdout line is one JSON object: correct, attempted, failed, metrics.
Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

WORKLOADS = ("kg_staged", "near_dup_ann")
#: input size per workload
SIZES = {
    "kg_staged": {"convs": 2000},
    "near_dup_ann": {"docs": 1500, "vecs": 1500},
}
E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "CPU-s",
    "peak_rss_mb": "MiB",
}
#: the driver JVM heap of every run (get_spark's SPARK_DRIVER_MEM seam),
#: also its initial size
DRIVER_MEM = "2g"
MB = 1024.0 * 1024.0


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _environment(trace: bool, run_id: str) -> dict:
    """Point every temp/scratch location of Spark, the JVM and Python
    workers into the work dir, and return the session's extra conf."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # a fixed-size heap: G1's heap expansion otherwise makes the JVM's RSS
    # bimodal from run to run (1.5 or 2.4 GiB for the same iteration)
    # fixed JIT compiler threads: cpu_s leaves their time out (host.py)
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    # the launcher JVM would otherwise leave /tmp/hsperfdata_* behind
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if trace:
        log_dir = WORK / "eventlog" / run_id
        log_dir.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _shutdown(spark, tree) -> None:
    """Stop Spark, end the JVM through its stdin pipe, and wait until the
    JVM and every process below it have ended."""
    from pyspark import SparkContext

    pids = tree.pids() if tree is not None else []
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the gateway may already be gone
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = []
        for pid in pids:
            try:
                state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
            except (OSError, IndexError):
                continue
            if state != "Z":
                alive.append(pid)
        if not alive:
            return
        time.sleep(0.1)


def _versions(spark) -> dict:
    import duckdb
    import pyspark

    return {
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
    }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "delm_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        _fail(f"no spark-delm sources next to {HERE.name}/ (expected delm_spark/ and "
              "__spark_entry__.py at the checkout root)")
    trace = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    conf = _environment(trace, run_id)
    sys.path[:0] = [str(ROOT), str(HERE)]

    from host import HostNoise, ProcessTree, process_age_s
    from inputs import prepare
    from tracing import EventLog, Tracer, per_layer_units
    import workloads

    noise = HostNoise()
    tracer = Tracer()

    # ---- setup: session, inputs registered, warm-up iterations (JIT)
    from delm_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tracer.trace_id = "setup"
    with tracer.span("session"):
        spark = get_spark(app_name=f"perfbench-{args.workload}", cores=cores, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
    tracer.trace_id = None
    if trace:
        tracer.spark = spark
    tree = ProcessTree(spark.sparkContext._gateway.proc.pid)
    tree.start_sampling()

    size = SIZES[args.workload]
    p0 = time.perf_counter()
    inputs, meta = prepare(spark, WORK, args.workload, size, args.seed)
    prepare_s = time.perf_counter() - p0
    wl = workloads.make(args.workload, WORK)
    wl.register(spark, inputs)

    attempted = failed = 0
    problems: list[str] = []
    iters: list[dict] = []

    def run_checked(tag: str, timed: bool):
        nonlocal attempted, failed
        attempted += 1
        cpu0, jit0 = tree.cpu_s(), tree.jit_cpu_s()
        try:
            r = wl.iterate(spark, tag)
        except Exception:
            failed += 1
            problems.append(f"{tag}: raised\n{traceback.format_exc()}")
            return None
        r["jit_cpu_s"] = tree.jit_cpu_s() - jit0
        r["cpu_s"] = tree.cpu_s() - cpu0 - r["jit_cpu_s"]
        bad = wl.check(r["digests"], meta["oracle"])
        if r.get("resume_ok") is False:
            bad.append("resume pass did not reuse every stage or changed the output")
        if bad:
            failed += 1
            problems.append(f"{tag}: " + "; ".join(bad))
        if timed:
            iters.append(r)
        return r

    phases = {"session_s": tracer.spans[0]["end"] - tracer.spans[0]["start"], "inputs_s": prepare_s}
    w0 = time.perf_counter()
    for j in range(wl.warmup_iterations):
        run_checked(f"warmup{j}", timed=False)
    phases["warmup_s"] = time.perf_counter() - w0
    setup_s = process_age_s() - prepare_s

    # ---- measurement: closed loop, one iteration at a time
    traced_runs: list[tuple[str, float, dict]] = []
    counts: dict = {}
    t_start = time.perf_counter()
    i = 0
    while True:
        run_checked(f"it{i}", timed=True)
        if trace:
            tid = f"t{i}"
            t0 = time.perf_counter()
            try:
                dig, frames = wl.traced(spark, tracer, tid)
                total = time.perf_counter() - t0
                traced_runs.append((tid, total, dig))
                if not counts:
                    with tracer.counting():
                        counts = wl.counts(frames)
            except Exception:
                failed += 1
                attempted += 1
                problems.append(f"{tid}: traced iteration raised\n{traceback.format_exc()}")
        i += 1
        # a fixed count, so that every run reports the same iterations of
        # the warm-up curve; traced: one untraced/traced pair suffices
        enough = i >= (1 if trace else wl.measured_iterations)
        if enough and time.perf_counter() - t_start >= args.seconds:
            break
    if trace:
        # bracket the traced iteration between two untraced ones, so that
        # trace.overhead_s does not absorb the warm-up still under way
        run_checked(f"it{i}", timed=True)
    peak_rss = tree.stop_sampling()
    host = noise.read()
    versions = _versions(spark)
    wl.cleanup()
    phases["measure_s"] = time.perf_counter() - t_start
    s0 = time.perf_counter()
    _shutdown(spark, tree)
    phases["shutdown_s"] = time.perf_counter() - s0

    walls = [r["wall_s"] for r in iters]
    wall = _median(walls)
    result_digests = iters[-1]["digests"] if iters else {}
    if trace:
        attempted += len(traced_runs)
        for tid, _, dig in traced_runs:
            if dig != {k: v for k, v in result_digests.items() if k in dig}:
                failed += 1
                problems.append(f"{tid}: traced digests {dig} != untraced {result_digests}")
        metrics = _per_layer(tracer, EventLog(_event_log(run_id)), traced_runs, counts, wall)
        units = per_layer_units()
        tracer.write(WORK / "traces" / f"{run_id}.json")
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "cpu_s": _median([r["cpu_s"] for r in iters]),
            "peak_rss_mb": peak_rss / MB,
        }
        units = E2E_UNITS
    correct = failed == 0 and attempted > 0

    # ---- report
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"size={size} input_digest={meta['content_digest']} cores={cores}")
    print("env " + json.dumps({**host, **versions, "driver_mem": DRIVER_MEM}, sort_keys=True))
    print(f"iterations n={len(walls)} wall_s=" + ",".join(f"{w:.4f}" for w in walls))
    print("phases " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    if not trace:
        extra = {"failed_share": (failed / attempted if attempted else 1.0, "ratio")}
        extra["jit_cpu_s"] = (_median([r["jit_cpu_s"] for r in iters]), "CPU-s")
        if args.workload == "kg_staged" and wall:
            extra["triples_per_s"] = (_median([r["rows"] for r in iters]) / wall, "triples/s")
            extra["stored_mb"] = (_median([r["stored_bytes"] for r in iters]) / MB, "MiB")
        for name, (v, u) in extra.items():
            print(f"  {name} = {v:.6g} {u}")
    for name in units:
        print(f"  {name} = {metrics.get(name, 0.0):.6g} {units[name]}")
    for p in problems:
        print(f"FAILED {p}", file=sys.stderr)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "size": size,
        "input_digest": meta["content_digest"], "oracle": meta["oracle"],
        "host": host, "versions": versions, "phases": phases, "walls": walls, "metrics": metrics,
        "attempted": attempted, "failed": failed, "problems": problems,
    }
    runs = WORK / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    (runs / f"{run_id}.json").write_text(json.dumps(record, indent=1, sort_keys=True))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in units.items()},
    }), flush=True)
    return 0 if correct else 1


def _event_log(run_id: str) -> Path:
    files = [p for p in (WORK / "eventlog" / run_id).iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log for {run_id}, found {files}")
    return files[0]


def _per_layer(tracer, log, traced_runs, counts, untraced_wall) -> dict:
    from tracing import SPANS

    per_trace: list[dict] = []
    for tid, total, _ in traced_runs:
        timing = tracer.busy_and_self(tid)
        m: dict = {}
        for span in SPANS:
            if span == "session":
                continue
            busy, self_s = timing.get(span, (0.0, 0.0))
            m[f"{span}.busy_s"] = busy
            m[f"{span}.self_s"] = self_s
            for k, v in log.span_metrics(tid, span).items():
                m[f"{span}.{k}"] = v
        m.update(log.run_metrics(tid))
        m["s2_extract.py_sent_mb"] = log.accum_sum(tid, "s2_extract", "data sent to Python workers") / MB
        m["similarity.lsh_topk.candidates_per_query"] = (
            log.node_rows(tid, "similarity.lsh_topk", "BroadcastHashJoin") / 3.0
        )
        m["trace.total_s"] = total
        per_trace.append(m)
    out = {k: statistics.median(d[k] for d in per_trace) for k in per_trace[0]} if per_trace else {}
    busy, self_s = tracer.busy_and_self("setup").get("session", (0.0, 0.0))
    out["session.busy_s"], out["session.self_s"] = busy, self_s
    for k, v in log.span_metrics("setup", "session").items():
        out[f"session.{k}"] = v
    out.update(counts)
    out["trace.untraced_s"] = untraced_wall
    out["trace.overhead_s"] = out.get("trace.total_s", 0.0) - untraced_wall
    return out


if __name__ == "__main__":
    sys.exit(main())
