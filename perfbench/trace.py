"""Span tracing for the traced run, and the event-log roll-up behind it.

Spark is lazy, so a library call returns a plan, not work done. The traced
run therefore materializes each prefix of a call chain (for example
``query_terms`` -> ``score`` -> ``search``) to a ``noop`` sink, each under its
own job group. A span's self value is its materialization minus that of the
prefix it extends: ``top_k`` self time = ``search`` - ``score``. The spans of
one chain telescope, so their self times sum to the outermost call's wall.

Task metrics come from Spark's event log (``SPARK_GRAFT_EVENTLOG_DIR`` in
``fusion_spark.session.get_spark``). Stage sums come from the parser in
``tools/audit_event_log.py``; the job-group mapping and the metrics that
parser does not keep come from one more pass over the same file.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

SPANS = (
    "tokenize.tokenize",
    "indexing.build_index",
    "scoring.query_terms",
    "scoring.score",
    "scoring.top_k",
    "scoring.search_auto",
    "blocks.build_packed",
    "blocks.wand_search",
    "extras.similarity.cosine_topk",
    "fusion.normalize_scores",
    "fusion.fuse",
    "tuning.nsf_weight_grid_fused",
    "metrics.metrics_per_query",
)
SPAN_METRICS = (
    ("self_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("task_busy_s", "s"),
    ("task_wait_s", "s"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
    ("records_read", "count"),
    ("failed_tasks", "count"),
)
# counters rolled up per job group; self_s comes from wall clocks instead
COUNTERS = tuple(name for name, _ in SPAN_METRICS if name != "self_s")
RATIO_SPANS = ("scoring.score", "blocks.wand_search")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    units = {f"{s}.{m}": u for s in SPANS for m, u in SPAN_METRICS}
    for s in RATIO_SPANS:
        units[f"{s}.records_per_result"] = "ratio"
    units["session.job_floor_s"] = "s"
    return units


@dataclass
class Span:
    name: str
    group: str
    wall_s: float
    child: str | None  # job group of the prefix this span extends
    results: int | None = None  # output rows, for records_per_result


@dataclass
class Tracer:
    """Runs labelled materializations and keeps their spans in memory."""

    spark: object
    spans: list[Span] = field(default_factory=list)
    _n: int = 0

    def label(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def run(self, name: str, action) -> Span:
        """Run ``action()`` under a fresh job group named after ``name``."""
        self._n += 1
        group = f"{name}#{self._n}"
        self.label(group)
        try:
            t0 = time.perf_counter()
            action()
            wall = time.perf_counter() - t0
        finally:
            self.label("bench")
        span = Span(name, group, wall, None)
        self.spans.append(span)
        return span

    def chain(self, steps) -> list[Span]:
        """``steps``: [(span name, action)] from the innermost prefix out;
        each step extends the one before it. The outermost step runs first,
        in the same warm state as an untraced call of the op, so the chain's
        self times (which sum to its wall) compare with the untraced wall."""
        spans: list[Span] = []
        for name, action in reversed(steps):
            spans.append(self.run(name, action))
        spans.reverse()
        for inner, outer in zip(spans, spans[1:]):
            outer.child = inner.group
        return spans


# ---------------------------------------------------------------------------
# event-log roll-up
# ---------------------------------------------------------------------------


def _zero() -> dict[str, float]:
    return {c: 0.0 for c in COUNTERS}


def rollup_by_group(paths: list[str]) -> dict[str, dict[str, float]]:
    """{job group: counter sums} over the event-log files or directories in
    ``paths``. Stages count once, under the first job that ran them."""
    from tools.audit_event_log import iter_event_files, parse_event_log

    groups: dict[str, dict[str, float]] = {}
    for path in iter_event_files(paths):
        stages = parse_event_log(path)
        stage_group: dict[int, str] = {}
        extra: dict[int, dict[str, float]] = {}
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or "(none)"
                    groups.setdefault(group, _zero())["jobs"] += 1
                    for sid in ev.get("Stage IDs") or []:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    x = extra.setdefault(sid, {"wait_ms": 0, "shuffle_write": 0, "spill": 0, "failed": 0})
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if info.get("Failed") or (reason and reason != "Success"):
                        x["failed"] += 1
                    duration = max(info.get("Finish Time", 0) - info.get("Launch Time", 0), 0)
                    delay = (
                        duration
                        - m.get("Executor Run Time", 0)
                        - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0)
                        - (info.get("Getting Result Time") or 0)
                    )
                    fetch = (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
                    x["wait_ms"] += max(delay, 0) + fetch
                    x["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    x["spill"] += m.get("Disk Bytes Spilled", 0)
        for sid, group in stage_group.items():
            g = groups.setdefault(group, _zero())
            st = stages.get(sid)
            if st is not None and st["completed"]:
                g["stages"] += 1
                g["task_busy_s"] += st["run_ms"] / 1000.0
                g["records_read"] += st["input_records"] + st["shuffle_read_records"]
            x = extra.get(sid)
            if x is not None:
                g["task_wait_s"] += x["wait_ms"] / 1000.0
                g["shuffle_write_bytes"] += x["shuffle_write"]
                g["spill_bytes"] += x["spill"]
                g["failed_tasks"] += x["failed"]
    return groups


def span_metrics(
    spans: list[Span], groups: dict[str, dict[str, float]], job_floor_s: float
) -> dict[str, float]:
    """Per-layer metrics: for each span name, the mean over its instances of
    the self value (own minus the prefix it extends); 0 for spans the run
    never entered."""
    sums = {s: {m: 0.0 for m, _ in SPAN_METRICS} for s in SPANS}
    count = {s: 0 for s in SPANS}
    results = {s: 0 for s in SPANS}
    walls = {sp.group: sp.wall_s for sp in spans}
    for sp in spans:
        if sp.name not in sums:
            raise KeyError(f"unknown span {sp.name}")
        own = groups.get(sp.group, _zero())
        sub = groups.get(sp.child, _zero()) if sp.child else _zero()
        count[sp.name] += 1
        sums[sp.name]["self_s"] += sp.wall_s - (walls[sp.child] if sp.child else 0.0)
        for c in COUNTERS:
            sums[sp.name][c] += own[c] - sub[c]
        results[sp.name] += sp.results or 0
    out: dict[str, float] = {}
    for s in SPANS:
        n = max(count[s], 1)
        for m, _ in SPAN_METRICS:
            out[f"{s}.{m}"] = sums[s][m] / n
    for s in RATIO_SPANS:
        rec = sums[s]["records_read"]
        out[f"{s}.records_per_result"] = rec / results[s] if results[s] else 0.0
    out["session.job_floor_s"] = job_floor_s
    return out
