"""Spans and Spark job attribution, measured from outside ``cdc_spark``.

The benchmark never edits the program under test. It wraps a few public
entry points (``install``) and reads Spark's own accounting afterwards:

- a span records name, start, end, parent, thread and request id (the
  microbatch id or the lookup id); spans stay in memory until the run ends;
- every span adds a job tag (``SparkContext.addJobTag``) while it is open,
  so each Spark job carries the tags of all spans open on its thread. The
  job is attributed to the innermost one. The job *group* is left alone:
  the streaming engine owns it and cancels jobs through it on stop;
- per-stage numbers (executor run time, GC, input / output / shuffle
  bytes) come from the AppStatusStore once the run is over, so nothing is
  read from Spark while the measured phase runs.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG_PREFIX = "perfbench-span-"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    depth: int
    thread: str
    rid: object = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. With ``enabled=False`` it records nothing except the
    apply-batch call and return times the commit-lag metric needs in both
    runs."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.batch_returns: list[tuple[float, int, int]] = []
        self.batch_starts: dict[int, float] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid=None):
        """Yields a dict the caller may fill with attributes of the span."""
        attrs: dict = {}
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if rid is None and parent is not None:
            rid = parent[1]
        sid = next(self._ids)
        tag = f"{TAG_PREFIX}{sid}"
        self.sc.addJobTag(tag)
        stack.append((sid, rid))
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            stack.pop()
            self.sc.removeJobTag(tag)
            sp = Span(sid, name, start, end, parent[0] if parent else None,
                      len(stack), threading.current_thread().name, rid, attrs)
            with self._lock:
                self.spans.append(sp)


def install(tracer: Tracer, main_lake_root: str) -> None:
    """Wrap the public entry points of the layers under test.

    ``CdcApply.apply_batch`` is wrapped in every run (a timestamp at each
    call, and a timestamp and the main lake's ``lsn_hwm`` after each
    return: the commit-lag clock); the
    other wrappers are installed only when tracing."""
    import os

    from cdc_spark import apply as apply_mod
    from cdc_spark import dedup as dedup_mod
    from cdc_spark.apply import CdcApply
    from cdc_spark.functions.dedupe_index import MinHashIndex
    from cdc_spark.lake import LakeTable
    from cdc_spark.pgoutput import PgOutputDecoder

    orig_apply = CdcApply.apply_batch

    def apply_batch(self, df, batch_id):
        tracer.batch_starts[int(batch_id)] = time.time()
        with tracer.span("apply", rid=batch_id):
            out = orig_apply(self, df, batch_id)
        hwm = self.lake_for("repos").meta["last_batch"]["lsn_hwm"]
        tracer.batch_returns.append((time.time(), int(batch_id), int(hwm)))
        return out

    CdcApply.apply_batch = apply_batch
    if not tracer.enabled:
        return

    main_root = os.path.normpath(main_lake_root)

    def lake_kind(lake) -> str:
        root = os.path.normpath(lake.root)
        if root == main_root:
            return "main"
        if f"{os.sep}_neardups{os.sep}" in root + os.sep:
            return "pairs"
        return "index"

    orig_merge = LakeTable.merge

    def merge(self, *a, **kw):
        kind = lake_kind(self)
        name = {"main": "lake.merge", "pairs": "dedupe_index.pairs_merge"}.get(
            kind, "dedupe_index.lake_merge"
        )
        with tracer.span(name) as at:
            info = orig_merge(self, *a, **kw)
            if isinstance(info, dict):
                at["strategy"] = info.get("strategy")
                at["files_written"] = info.get("files_written") or 0
        return info

    LakeTable.merge = merge

    def simple(cls_or_mod, attr, name_for):
        orig = getattr(cls_or_mod, attr)

        def wrapped(*a, **kw):
            with tracer.span(name_for(a)):
                return orig(*a, **kw)

        setattr(cls_or_mod, attr, wrapped)

    simple(LakeTable, "compact",
           lambda a: f"lake.compact.{lake_kind(a[0])}")
    simple(LakeTable, "expire_snapshots",
           lambda a: f"lake.expire.{lake_kind(a[0])}")
    simple(PgOutputDecoder, "__call__", lambda a: "pgoutput.relation_merge")
    simple(MinHashIndex, "update", lambda a: "dedupe_index.update")

    orig_auto = dedup_mod.lww_dedup_auto

    def lww_dedup_auto(*a, **kw):
        with tracer.span("dedup") as at:
            out = orig_auto(*a, **kw)
            at["strategy"] = out[1]
        return out

    dedup_mod.lww_dedup_auto = lww_dedup_auto

    orig_wide = apply_mod.lww_dedup

    def lww_dedup(*a, **kw):
        with tracer.span("dedup") as at:
            at["strategy"] = "wide"
            return orig_wide(*a, **kw)

    apply_mod.lww_dedup = lww_dedup


# ---------------------------------------------------------------------------
# Spark's own accounting
# ---------------------------------------------------------------------------


def _status_json(sc) -> tuple[list, list]:
    """(jobs, stages) from the AppStatusStore as plain dicts, serialized
    JVM-side by Jackson (one py4j round trip per list)."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )))
    return jobs, stages


@dataclass
class JobCost:
    job_id: int
    sid: int | None
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0


def job_costs(sc, t0: float, t1: float, spans: list[Span]) -> list[JobCost]:
    """Jobs submitted inside ``[t0, t1]`` with their stage totals, each
    attributed to the innermost open span whose tag it carries."""
    jobs, stages = _status_json(sc)
    by_stage: dict[int, list] = {}
    for st in stages:
        by_stage.setdefault(st["stageId"], []).append(st)
    depth = {s.sid: s.depth for s in spans}
    out, seen_stages = [], set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        sub = (j.get("submissionTime") or 0) / 1000.0
        if not (t0 <= sub <= t1):
            continue
        sids = [int(t[len(TAG_PREFIX):]) for t in j.get("jobTags") or []
                if t.startswith(TAG_PREFIX)]
        sids = [s for s in sids if s in depth]
        sid = max(sids, key=lambda s: depth[s]) if sids else None
        c = JobCost(j["jobId"], sid)
        for stage_id in j.get("stageIds") or []:
            if stage_id in seen_stages:
                continue
            seen_stages.add(stage_id)
            for st in by_stage.get(stage_id, []):
                c.executor_run_s += st["executorRunTime"] / 1000.0
                c.gc_s += st["jvmGcTime"] / 1000.0
                c.input_bytes += st["inputBytes"]
                c.output_bytes += st["outputBytes"]
                c.shuffle_write_bytes += st["shuffleWriteBytes"]
        out.append(c)
    return out


def output_bytes_since(sc, t0: float, t1: float) -> int:
    """Σ stage outputBytes of the jobs submitted inside ``[t0, t1]``."""
    return sum(c.output_bytes for c in job_costs(sc, t0, t1, []))


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------


def self_times(spans: list[Span]) -> dict[int, float]:
    """Duration minus the children's durations (children run on the
    parent's thread, nested, so their intervals never overlap)."""
    child = {s.sid: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in child:
            child[s.parent] += s.dur
    return {s.sid: s.dur - child[s.sid] for s in spans}


def subtree(spans: list[Span], roots: set[int]) -> set[int]:
    """Span ids of ``roots`` and all their descendants."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.sid)
    out, todo = set(), list(roots)
    while todo:
        sid = todo.pop()
        if sid not in out:
            out.add(sid)
            todo.extend(kids.get(sid, []))
    return out
