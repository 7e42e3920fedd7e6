"""Traced-run instrumentation, measured from outside the engine.

Two sources, both outside ``moca_spark``:

- **Spans** from wrapping public module names for the length of one
  traced round (``Tracer``): the slice operator as bound in
  ``crawl.engine``, ``criteria.stages.apply_criteria``, the sharded
  bloom build/probe/merge functions and the ``EventLogStore`` journal
  methods. Each span records (name, start, end, parent). Lazy calls
  return a plan, so their spans are plan time only.
- **Spark's own event log**, switched on through session config. On
  each wave's first slice call the tracer sets a job group whose id is
  unique to this process, round and wave, so every Spark job, stage
  and task in the log is attributed to its wave (``analyze``).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

import moca_spark.crawl.engine as crawl_engine
import moca_spark.filters.sharded_bloom as sharded_bloom
import moca_spark.store.lakehouse as lakehouse

MB = 1024 * 1024

# (owner, attribute, span name). ``crawl.engine.slice_split`` opens a
# wave; the rest are plain spans.
HOOKS = [
    (crawl_engine, "slice_split", "wave.slice_split"),
    (crawl_engine, "apply_criteria", "criteria.apply_criteria"),
    (sharded_bloom, "build_sharded_bloom", "filters.build"),
    (sharded_bloom, "probe_sharded_bloom", "filters.probe"),
    (sharded_bloom, "merge_sharded_blooms", "filters.merge"),
    (lakehouse.EventLogStore, "append_events", "store.append_events"),
    (lakehouse.EventLogStore, "write_increment", "store.write_increment"),
    (lakehouse.EventLogStore, "compact", "store.compact"),
    (lakehouse.EventLogStore, "read_log", "store.read_log"),
]


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the event log's clock
    end: float
    parent: int | None
    info: dict = field(default_factory=dict)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


class Tracer:
    """Wraps the HOOKS names while installed and attributes Spark jobs
    to waves through job groups. One tracer per traced round."""

    def __init__(self, spark, label: str):
        self.sc = spark.sparkContext
        self.prefix = f"cb-{uuid.uuid4().hex[:12]}-{label}"
        self.spans: list[Span] = []
        self.wave_starts: list[float] = []
        self.cached_bytes: list[int] = []
        self.groups: list[str] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        self.t_begin = self.t_end = 0.0

    def _set_group(self, name: str) -> None:
        gid = f"{self.prefix}-{name}"
        if gid in self.groups:
            # job ids accumulate under a reused group id, which would
            # double-count jobs; ids are never reused within a run
            raise RuntimeError(f"job group {gid} used twice")
        self.groups.append(gid)
        self.sc.setJobGroup(gid, gid)

    def _cached_now(self) -> int:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def _wrap(self, orig, span_name: str, opens_wave: bool):
        tracer = self

        def traced(*args, **kwargs):
            if opens_wave:
                tracer.wave_starts.append(time.time())
                tracer.cached_bytes.append(tracer._cached_now())
                tracer._set_group(f"w{len(tracer.wave_starts)}")
            span = Span(span_name, time.time(), 0.0,
                        tracer._stack[-1] if tracer._stack else None)
            tracer.spans.append(span)
            tracer._stack.append(len(tracer.spans) - 1)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer._stack.pop()
                span.end = time.time()
                if span_name == "store.append_events":
                    store, wave = args[0], args[1]
                    span.info["bytes"] = dir_bytes(
                        os.path.join(store.root, f"wave={wave}", "events"))

        return traced

    def __enter__(self) -> Tracer:
        for owner, attr, span_name in HOOKS:
            if not hasattr(owner, attr):
                raise RuntimeError(
                    f"traced name {getattr(owner, '__name__', owner)}.{attr} "
                    "is missing: update crawlbench/tracing.py HOOKS")
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr,
                    self._wrap(orig, span_name, attr == "slice_split"))
        self.t_begin = time.time()
        self._set_group("init")
        return self

    def __exit__(self, *exc) -> None:
        # jobs after the round (checks, metrics) run outside its groups
        self.sc.setJobGroup(f"{self.prefix}-after", "after traced round")
        self.t_end = time.time()
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved = []

    def spans_named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def calls(self, name: str) -> int:
        return len(self.spans_named(name))

    def total_s(self, name: str) -> float:
        """Summed wall of the named spans."""
        return sum(s.end - s.start for s in self.spans_named(name))


def read_event_log(log_dir: str) -> list[dict]:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1 or files[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def analyze(events: list[dict], tracer: Tracer, waves: range) -> dict:
    """Per-wave engine metrics of one traced crawl from the event log,
    averaged over ``waves`` (1-based wave numbers).

    A wave lasts from its slice call to the next one (or the end of
    the crawl). Self-check: every job submitted while the tracer was
    installed carries one of its groups (init, one per wave), so the
    per-group job counts sum to the crawl's total."""
    group_of_job: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    group_of_stage: dict[int, str] = {}
    stages_done: dict[str, int] = {}
    tasks: dict[str, int] = {}
    shuffle_bytes: dict[str, float] = {}
    shuffle_recs: dict[str, float] = {}
    spill = run_ms = cpu_ns = gc_ms = 0.0
    mine = set(tracer.groups)
    t0_ms, t1_ms = tracer.t_begin * 1000, tracer.t_end * 1000
    in_window = 0
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            sub = ev["Submission Time"]
            if t0_ms <= sub <= t1_ms:
                in_window += 1
            if group in mine:
                group_of_job[ev["Job ID"]] = group
                job_span[ev["Job ID"]] = [sub / 1000, sub / 1000]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in mine:
                group_of_stage[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            group = group_of_stage.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                stages_done[group] = stages_done.get(group, 0) + 1
        elif kind == "SparkListenerTaskEnd":
            group = group_of_stage.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            tasks[group] = tasks.get(group, 0) + 1
            sw = m.get("Shuffle Write Metrics") or {}
            shuffle_bytes[group] = (shuffle_bytes.get(group, 0)
                                    + sw.get("Shuffle Bytes Written", 0))
            shuffle_recs[group] = (shuffle_recs.get(group, 0)
                                   + sw.get("Shuffle Records Written", 0))
            spill += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            run_ms += m.get("Executor Run Time", 0)
            cpu_ns += m.get("Executor CPU Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
    if len(group_of_job) != in_window:
        raise RuntimeError(
            f"job attribution broken: {in_window} jobs submitted in the "
            f"traced round, {len(group_of_job)} carry its job groups")

    wave_groups = [f"{tracer.prefix}-w{i}" for i in waves]
    ends = tracer.wave_starts[1:] + [tracer.t_end]
    bounds = [(tracer.wave_starts[i - 1], ends[i - 1]) for i in waves]
    jobs = {g: [] for g in tracer.groups}
    for jid, g in group_of_job.items():
        jobs[g].append(tuple(job_span[jid]))
    busy, gap = [], []
    for g, (lo, hi) in zip(wave_groups, bounds):
        u = _union_s([(max(s, lo), min(e, hi)) for s, e in jobs[g]
                      if min(e, hi) > max(s, lo)])
        busy.append(u)
        gap.append((hi - lo) - u)
    n = max(len(wave_groups), 1)
    return {
        "jobs_per_wave": sum(len(jobs[g]) for g in wave_groups) / n,
        "stages_per_wave": sum(stages_done.get(g, 0) for g in wave_groups) / n,
        "tasks_per_wave": sum(tasks.get(g, 0) for g in wave_groups) / n,
        "driver_gap_s_per_wave": sum(gap) / n,
        "job_busy_s_per_wave": sum(busy) / n,
        "shuffle_write_mb_per_wave":
            sum(shuffle_bytes.get(g, 0) for g in wave_groups) / MB / n,
        "shuffle_records_per_wave":
            sum(shuffle_recs.get(g, 0) for g in wave_groups) / n,
        "spill_mb": spill / MB,
        "task_cpu_share": (cpu_ns / 1e6) / run_ms if run_ms else 0.0,
        "gc_share": gc_ms / run_ms if run_ms else 0.0,
        "cached_mb_max": max(tracer.cached_bytes, default=0) / MB,
        "jobs_total": len(group_of_job),
    }
