"""Spans around each layer's calls, and per-layer engine metrics
attributed from the Spark event log by job group.

A span is (name, start, end, parent, trace id), kept in memory and written
out when the run ends. Each span runs its Spark jobs under
``setJobGroup(<span name>)`` with the local property ``perfbench.trace``
set to the trace id, so the event log attributes every task to exactly
one (trace, span) pair.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

#: span names, in the order a pipeline calls them
SPANS = [
    "session",
    "s1_chunk_score",
    "s2_extract",
    "s3_link",
    "s3_residue",
    "canon",
    "s4_edges",
    "s5_nodes",
    "stage_io",
    "dedup.minhash",
    "dedup.jaccard",
    "dedup.simhash",
    "similarity.lsh_topk",
]
SPAN_METRICS = {
    "busy_s": "s",
    "self_s": "s",
    "task_s": "s",
    "cpu_s": "s",
    "shuffle_write_mb": "MiB",
    "task_skew": "ratio",
}
RUN_METRICS = {"run.gc_s": "s", "run.spill_mb": "MiB", "run.jobs": "count", "run.tasks": "count"}
#: counts and ratios recorded at the span boundaries
COUNT_METRICS = {
    "s1_chunk_score.rows_in": "rows",
    "s1_chunk_score.chunks": "rows",
    "s1_chunk_score.rows_out": "rows",
    "s1_chunk_score.keep_ratio": "ratio",
    "s2_extract.rows_in": "rows",
    "s2_extract.items_out": "rows",
    "s2_extract.errors": "rows",
    "s2_extract.backend_calls": "count",
    "s2_extract.call_ratio": "ratio",
    "s2_extract.py_sent_mb": "MiB",
    "s3_link.rows_in": "rows",
    "s3_link.exact_hit_ratio": "ratio",
    "s3_residue.mentions": "count",
    "s3_residue.candidate_pairs": "count",
    "s3_residue.resolved": "count",
    "s3_residue.resolved_ratio": "ratio",
    "canon.components": "count",
    "s4_edges.rows_out": "rows",
    "s5_nodes.rows_out": "rows",
    "stage_io.written_mb": "MiB",
    "stage_io.files": "count",
    "stage_io.resume_s": "s",
    "stage_io.bytes_per_triple": "B",
    "dedup.minhash.candidate_pairs": "count",
    "dedup.jaccard.pairs_out": "rows",
    "dedup.jaccard.keep_ratio": "ratio",
    "dedup.simhash.candidate_pairs": "count",
    "dedup.simhash.pairs_out": "rows",
    "dedup.simhash.keep_ratio": "ratio",
    "dedup.simhash.max_block_rows": "rows",
    "similarity.lsh_topk.candidates_per_query": "count",
}
TRACE_METRICS = {"trace.total_s": "s", "trace.untraced_s": "s", "trace.overhead_s": "s"}


def per_layer_units() -> dict[str, str]:
    units = {f"{s}.{m}": u for s in SPANS for m, u in SPAN_METRICS.items()}
    units.update(RUN_METRICS)
    units.update(COUNT_METRICS)
    units.update(TRACE_METRICS)
    return units


MB = 1024.0 * 1024.0
#: group id of jobs that only count rows for the per-layer metrics
COUNT_GROUP = "perfbench.counts"


class Tracer:
    """In-memory spans. ``trace(trace_id)`` opens the root span of one
    traced iteration; ``span(name)`` nests under the innermost open span;
    ``switch(name)`` ends the innermost span and opens ``name`` in its
    place, under the same parent, until the block that opened the
    innermost span exits."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id: str | None = None

    def _set_group(self, name: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(name, f"{name} [{self.trace_id}]")
        sc.setLocalProperty("perfbench.trace", self.trace_id)

    def _open(self, name: str) -> dict:
        rec = {
            "name": name,
            "trace": self.trace_id,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._set_group(name)
        return rec

    def _close_top(self) -> None:
        rec = self.spans[self._stack.pop()]
        rec["end"] = time.perf_counter()
        self._set_group(rec["parent"])

    @contextmanager
    def span(self, name: str):
        depth = len(self._stack)
        rec = self._open(name)
        try:
            yield rec
        finally:
            while len(self._stack) > depth:
                self._close_top()

    def switch(self, name: str) -> None:
        self._close_top()
        self._open(name)

    @contextmanager
    def trace(self, trace_id: str):
        self.trace_id = trace_id
        with self.span("iteration") as root:
            yield root
        self.trace_id = None
        self._set_group(None)

    @contextmanager
    def counting(self):
        """Row-count jobs run here are kept out of every span's metrics."""
        self._set_group(COUNT_GROUP)
        try:
            yield
        finally:
            self._set_group(self.spans[self._stack[-1]]["name"] if self._stack else None)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=0))

    # ---- span timing -----------------------------------------------------

    def busy_and_self(self, trace_id: str) -> dict[str, tuple[float, float]]:
        """Per span name within one trace: (summed duration, self time),
        where self time excludes the part covered by child spans."""
        spans = [s for s in self.spans if s["trace"] == trace_id]
        out: dict[str, list[float]] = {}
        for i, s in enumerate(spans):
            dur = s["end"] - s["start"]
            covered = sum(
                c["end"] - c["start"]
                for c in spans[i + 1 :]
                if c["parent"] == s["name"] and c["start"] >= s["start"] and c["end"] <= s["end"]
            )
            acc = out.setdefault(s["name"], [0.0, 0.0])
            acc[0] += dur
            acc[1] += dur - covered
        return {k: (v[0], v[1]) for k, v in out.items()}


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


class EventLog:
    """Task metrics from one Spark event log, keyed by (trace, job group)."""

    def __init__(self, path: Path):
        self.stage_key: dict[int, tuple] = {}
        self.exec_key: dict[int, tuple] = {}
        self.tasks: list[dict] = []
        self.jobs: list[tuple] = []
        self.plan_accums: dict[int, list[tuple[str, str, int]]] = {}
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    @staticmethod
    def _key(props: dict) -> tuple:
        return (props.get("perfbench.trace"), props.get("spark.jobGroup.id"))

    def _plan(self, exec_id: int, info: dict) -> None:
        acc = self.plan_accums.setdefault(exec_id, [])
        todo = [info]
        while todo:
            node = todo.pop()
            for m in node.get("metrics", []):
                acc.append((node.get("nodeName", ""), m.get("name", ""), m.get("accumulatorId")))
            todo.extend(node.get("children", []))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            key = self._key(props)
            self.jobs.append(key)
            for sid in ev.get("Stage IDs", []):
                self.stage_key[sid] = key
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                self.exec_key.setdefault(int(eid), key)
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            self.stage_key[ev["Stage Info"]["Stage ID"]] = self._key(props)
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            self.tasks.append(
                {
                    "stage": ev.get("Stage ID"),
                    "dur": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                    "run": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu": m.get("Executor CPU Time", 0) / 1e9,
                    "gc": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "accums": {
                        a["ID"]: (a.get("Name", ""), a.get("Update", 0))
                        for a in info.get("Accumulables", [])
                    },
                }
            )
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self._plan(int(ev["executionId"]), ev.get("sparkPlanInfo") or {})

    def _tasks_of(self, key: tuple) -> list[dict]:
        return [t for t in self.tasks if self.stage_key.get(t["stage"]) == key]

    def span_metrics(self, trace_id: str, span: str) -> dict[str, float]:
        tasks = self._tasks_of((trace_id, span))
        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["dur"])
        skew = 0.0
        if by_stage:
            # skew of the stage that holds the most task time
            hot = max(by_stage.values(), key=sum)
            med = statistics.median(hot)
            skew = max(hot) / med if med > 0 else 1.0
        return {
            "task_s": sum(t["run"] for t in tasks),
            "cpu_s": sum(t["cpu"] for t in tasks),
            "shuffle_write_mb": sum(t["shuffle_w"] for t in tasks) / MB,
            "task_skew": skew,
        }

    def run_metrics(self, trace_id: str) -> dict[str, float]:
        tasks = [t for t in self.tasks if (self.stage_key.get(t["stage"]) or (None,))[0] == trace_id]
        return {
            "run.gc_s": sum(t["gc"] for t in tasks),
            "run.spill_mb": sum(t["spill"] for t in tasks) / MB,
            "run.jobs": float(sum(1 for k in self.jobs if k[0] == trace_id)),
            "run.tasks": float(len(tasks)),
        }

    def accum_sum(self, trace_id: str, span: str, name: str) -> float:
        """Sum of a named SQL metric's task updates within a span."""
        total = 0.0
        for t in self._tasks_of((trace_id, span)):
            for n, upd in t["accums"].values():
                if n == name:
                    total += float(upd)
        return total

    def node_rows(self, trace_id: str, span: str, node_prefix: str) -> float:
        """'number of output rows' of the plan nodes whose name starts with
        ``node_prefix``, summed over the span's SQL executions."""
        ids = set()
        for eid, key in self.exec_key.items():
            if key == (trace_id, span):
                for node, metric, acc in self.plan_accums.get(eid, []):
                    if node.startswith(node_prefix) and metric == "number of output rows":
                        ids.add(acc)
        total = 0.0
        for t in self._tasks_of((trace_id, span)):
            for aid, (_, upd) in t["accums"].items():
                if aid in ids:
                    total += float(upd)
        return total
