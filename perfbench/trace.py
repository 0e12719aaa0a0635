"""Per-layer tracing from outside the package.

The traced run wraps the package's public phase boundaries -- never its
internals:

  * CheckpointManager.materialize / write_driver_table: the first argument
    names the pipeline phase or cleaning stage. Phase spans TILE a pass: a
    phase runs from the end of the previous committed phase (or the start
    of the pass) to the end of its own commit, so lazy work built before
    the commit call (p4's pair join, p5's driver union-find) is charged to
    the phase that commits it.
  * streaming.incremental.search_ladder: an exact span per call.
  * the streaming micro-batch, from a StreamingQueryListener: each batch's
    trigger interval, split into the ladder call, the sink (ladder return to
    the end of addBatch) and the batch's own remainder.

Around each wrapped call the Spark job group is set to the span name. Spark's
event log (on only in the traced run) is then parsed offline: each job goes
to the span named by its job group, else to the span whose interval holds
its submission time, else to `unattributed`.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from datetime import datetime

PHASE_SPANS = {
    "p1_features": "pipeline.p1_features",
    "p2_canon_reps": "pipeline.p2_canon_reps",
    "p3_block_stats": "pipeline.p3_block_stats",
    "p4_edges": "pipeline.p4_edges",
    "p5_group_labels": "pipeline.p5_group_labels",
    "p6_clusters": "pipeline.p6_clusters",
    "c1_quality": "clean_pipeline.c1_quality",
    "c2_exact": "clean_pipeline.c2_exact",
    "c3_neardup": "clean_pipeline.c3_neardup",
    "c4_strip": "clean_pipeline.c4_strip",
}
SPANS = [
    *list(PHASE_SPANS.values())[:6],
    "pipeline.consume",
    "incremental.batch",
    "ladder.search_ladder",
    "incremental.sink",
    *list(PHASE_SPANS.values())[6:],
    "unattributed",
]
SPAN_METRICS = [
    ("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("shuffle_bytes", "B"), ("spill_bytes", "B"),
    ("python_bytes", "B"),
]
EXTRA_METRICS = [
    ("pipeline.p2_canon_reps.rows_out", "count"),
    ("pipeline.p3_block_stats.lost_pairs", "count"),
    ("pipeline.p4_edges.pairs_scored", "count"),
    ("pipeline.p4_edges.edges_accepted", "count"),
    ("pipeline.p4_edges.task_skew", "ratio"),
    ("clean_pipeline.c3_neardup.task_skew", "ratio"),
    ("ladder.search_ladder.rows_read", "count"),
]
LAYER_UNITS = {
    **{f"{s}.{m}": u for s in SPANS for m, u in SPAN_METRICS},
    **dict(EXTRA_METRICS),
}


class Recorder:
    """Collects the spans of the passes of one Spark session.

    Untraced runs use a Recorder too, with `spark=None`: it then only calls
    through, so both runs execute identical benchmark code.
    """

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.passes: list[dict] = []
        self._boundary = 0.0

    @property
    def tracing(self) -> bool:
        return self.sc is not None

    def begin_pass(self) -> None:
        """Open the timed region of a pass and reset the driver's peak RSS."""
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
        self._boundary = time.time()
        self.passes.append(
            {"start": self._boundary, "spans": [], "ladder": [], "batches": [], "extras": {}}
        )

    def end_pass(self) -> float:
        """Close the timed region of the pass and record the driver's peak
        RSS (VmHWM) over it; returns its wall time."""
        p = self.passes[-1]
        p["end"] = time.time()
        with open("/proc/self/status") as fh:
            p["rss_mb"] = next(int(x.split()[1]) for x in fh if x.startswith("VmHWM:")) / 1024
        return p["end"] - p["start"]

    def _span(self, name: str, fn, start: float, spans: list) -> object:
        """Call fn under job group `name`; append (start, end) to `spans`."""
        if not self.tracing:
            return fn()
        self.sc.setJobGroup(name, name)
        try:
            return fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            spans.append((start, time.time()))

    def phase(self, name: str, fn):
        """A tiled phase span: from the previous boundary to fn's return."""
        ends: list = []
        try:
            return self._span(name, fn, self._boundary, ends)
        finally:
            for start, end in ends:
                self.passes[-1]["spans"].append((name, start, end))
                self._boundary = end

    def ladder(self, fn):
        """An exact span around one search_ladder call."""
        return self._span("ladder.search_ladder", fn, time.time(), self.passes[-1]["ladder"])


def install(rec: Recorder):
    """Wrap the public phase boundaries; returns a function that undoes it."""
    from ala_name_matching_spark.sources.checkpoints import CheckpointManager
    from ala_name_matching_spark.streaming import incremental

    orig_mat = CheckpointManager.materialize
    orig_drv = CheckpointManager.write_driver_table
    orig_ladder = incremental.search_ladder

    def materialize(self, phase, *a, **k):
        if phase not in PHASE_SPANS:
            return orig_mat(self, phase, *a, **k)
        return rec.phase(PHASE_SPANS[phase], lambda: orig_mat(self, phase, *a, **k))

    def write_driver_table(self, name, *a, **k):
        if name not in PHASE_SPANS:
            return orig_drv(self, name, *a, **k)
        return rec.phase(PHASE_SPANS[name], lambda: orig_drv(self, name, *a, **k))

    def search_ladder(*a, **k):
        return rec.ladder(lambda: orig_ladder(*a, **k))

    CheckpointManager.materialize = materialize
    CheckpointManager.write_driver_table = write_driver_table
    incremental.search_ladder = search_ladder

    def uninstall():
        CheckpointManager.materialize = orig_mat
        CheckpointManager.write_driver_table = orig_drv
        incremental.search_ladder = orig_ladder

    return uninstall


class BatchListener:
    """Collects micro-batch progress (start, durations) per query run id."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: dict[str, list[dict]] = {}
        self._lock = threading.Lock()
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                with outer._lock:
                    outer.progress.setdefault(str(p.runId), []).append(
                        {"start": start, "rows": p.numInputRows, "ms": dict(p.durationMs)}
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_L())

    def batches(self, run_id: str, expect: int, timeout: float = 20.0) -> list[dict]:
        """The run's batches, waiting up to `timeout` s for `expect` of them
        (listener events arrive asynchronously after the query ends)."""
        deadline = time.time() + timeout
        while True:
            with self._lock:
                got = list(self.progress.get(run_id, []))
            if len(got) >= expect or time.time() > deadline:
                return got
            time.sleep(0.05)


# ------------------------------------------------------- event log -> layers


def read_event_log(path: str) -> dict:
    """Parse an uncompressed Spark event log into jobs, tasks and the
    accumulator ids of the Python-UDF nodes' output-row metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    py_nodes: dict[int, list[int]] = {}

    def walk(node: dict, out: list[int]) -> None:
        if "EvalPython" in node.get("nodeName", ""):
            out.extend(
                m["accumulatorId"] for m in node.get("metrics", [])
                if m.get("name") == "number of output rows"
            )
        for child in node.get("children", []):
            walk(child, out)

    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                jobs[jid] = {
                    "submit": e["Submission Time"] / 1000,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "exec": props.get("spark.sql.execution.id"),
                }
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                acc = {
                    a["ID"]: int(a["Update"]) for a in e["Task Info"].get("Accumulables", [])
                    if "Update" in a and str(a["Update"]).lstrip("-").isdigit()
                }
                py_sent = sum(
                    int(a["Update"]) for a in e["Task Info"].get("Accumulables", [])
                    if a.get("Name") == "data sent to Python workers"
                )
                tasks.append({
                    "stage": e["Stage ID"],
                    "run_s": m.get("Executor Run Time", 0) / 1000,
                    "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    "python_bytes": py_sent,
                    "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    "acc": acc,
                })
            elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                ids = py_nodes.setdefault(int(e["executionId"]), [])
                walk(e["sparkPlanInfo"], ids)
                # AQE re-plans repeat the nodes they keep
                ids[:] = dict.fromkeys(ids)
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": jobs, "tasks": tasks, "py_nodes": py_nodes}


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _clip(a: tuple[float, float], b: tuple[float, float]) -> tuple[float, float] | None:
    s, e = max(a[0], b[0]), min(a[1], b[1])
    return (s, e) if e > s else None


def leaf_intervals(p: dict) -> list[tuple[str, float, float]]:
    """Non-overlapping (span, start, end) intervals of one pass."""
    leaves = list(p["spans"])
    for b in p["batches"]:
        start = b["start"]
        end = start + b["ms"].get("triggerExecution", 0) / 1000
        add_end = end - b["ms"].get("commitOffsets", 0) / 1000
        calls = [c for c in p["ladder"] if start <= c[0] and c[1] <= end + 0.5]
        cur = start
        for ls, le in calls:
            leaves.append(("incremental.batch", cur, ls))
            leaves.append(("ladder.search_ladder", ls, le))
            cur = le
        if calls:
            leaves.append(("incremental.sink", cur, max(cur, add_end)))
            cur = max(cur, add_end)
        leaves.append(("incremental.batch", cur, max(cur, end)))
    return [x for x in leaves if x[2] > x[1]]


def _skew(tasks: list[dict]) -> float:
    """max/median task time of the span's heaviest stage (1.0 if none)."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    if not by_stage:
        return 1.0
    times = max(by_stage.values(), key=sum)
    med = statistics.median(times)
    return max(times) / med if med > 0 else 1.0


def pass_layers(log: dict, p: dict) -> dict[str, float]:
    """Every per-layer metric of one pass."""
    leaves = leaf_intervals(p)
    window = (p["start"], p["end"])
    named = {s for s, _, _ in leaves}
    span_jobs: dict[str, list[int]] = {s: [] for s in SPANS}
    for jid, j in log["jobs"].items():
        if not window[0] <= j["submit"] <= window[1]:
            continue
        span = j["group"] if j["group"] in named else next(
            (s for s, a, b in leaves if a <= j["submit"] < b), "unattributed"
        )
        span_jobs[span].append(jid)
    tasks_by_job: dict[int, list[dict]] = {}
    for t in log["tasks"]:
        tasks_by_job.setdefault(t["job"], []).append(t)

    out: dict[str, float] = {}
    covered = 0.0
    for span in SPANS:
        if span == "unattributed":
            ivs = [window]
            wall = (window[1] - window[0]) - covered
        else:
            ivs = [(a, b) for s, a, b in leaves if s == span]
            wall = sum(b - a for a, b in ivs)
            covered += wall
        jobs = span_jobs[span]
        busy = [
            c for jid in jobs for iv in ivs
            if (c := _clip((log["jobs"][jid]["submit"], log["jobs"][jid]["end"] or window[1]), iv))
        ]
        tasks = [t for jid in jobs for t in tasks_by_job.get(jid, [])]
        out[f"{span}.wall_s"] = wall
        out[f"{span}.driver_s"] = max(0.0, wall - _union_len(busy))
        out[f"{span}.jobs"] = len(jobs)
        out[f"{span}.tasks"] = len(tasks)
        out[f"{span}.executor_run_s"] = sum(t["run_s"] for t in tasks)
        for k in ("shuffle_bytes", "spill_bytes", "python_bytes"):
            out[f"{span}.{k}"] = sum(t[k] for t in tasks)
        if span == "pipeline.p4_edges":
            out["pipeline.p4_edges.pairs_scored"] = _python_rows(log, jobs, tasks)
            out["pipeline.p4_edges.task_skew"] = _skew(tasks)
        elif span == "clean_pipeline.c3_neardup":
            out["clean_pipeline.c3_neardup.task_skew"] = _skew(tasks)
        elif span == "ladder.search_ladder":
            n_batches = max(1, len(p["batches"]))
            out["ladder.search_ladder.rows_read"] = sum(t["records_read"] for t in tasks) / n_batches
    for k, v in p["extras"].items():
        out[k] = v
    return out


def _python_rows(log: dict, jobs: list[int], tasks: list[dict]) -> float:
    """Rows through the Python-UDF (EvalPython) nodes of these jobs; stacked
    nodes of one SQL execution see the same rows, so take their max."""
    total = 0
    execs = {log["jobs"][j]["exec"] for j in jobs} - {None}
    for ex in execs:
        ids = log["py_nodes"].get(int(ex), [])
        per_node = [sum(t["acc"].get(i, 0) for t in tasks) for i in ids]
        total += max(per_node, default=0)
    return total


def layer_table(log: dict, passes: list[dict]) -> dict[str, float]:
    """Median over passes of every per-layer metric (absent -> 0)."""
    per_pass = [pass_layers(log, p) for p in passes]
    return {
        k: statistics.median(pp.get(k, 0) for pp in per_pass) if per_pass else 0.0
        for k in LAYER_UNITS
    }


def format_table(table: dict[str, float], overhead_s: float | None) -> str:
    """Human-readable span x metric table."""
    cols = [m for m, _ in SPAN_METRICS]
    lines = [f"{'span':28s}" + "".join(f"{c:>16s}" for c in cols)]
    for s in SPANS:
        lines.append(f"{s:28s}" + "".join(f"{table[f'{s}.{c}']:16.6g}" for c in cols))
    lines += [f"{k:44s}{table[k]:16.6g}" for k, _ in EXTRA_METRICS]
    if overhead_s is not None:
        lines.append(f"{'tracing overhead (traced - untraced wall_s)':44s}{overhead_s:16.6g}")
    return "\n".join(lines)
