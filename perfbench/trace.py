"""Traced runs: spans opened by wrappers around the engine's public
calls, Spark jobs tagged per span, and the Spark event log folded back
onto the spans after the run.

A span records name, start, end, parent and trace id (the iteration or
pass number).  Opening a span sets ``spark.jobGroup.id`` in the calling
thread — pool threads included, since each wrapper runs in the thread
that issues the jobs — and closing it restores the previous value, so
every Spark job belongs to exactly one span."""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"

# crawl phases: a phase is named by the scratch table its write
# materializes; the storage commit is the union of the state commits
PHASE_OF_TABLE = {
    "claimed": "frontier.claim", "gated": "frontier.claim",
    "extract": "extract.extract",
    "nodes_batch": "enrich.nodes_batch",
    "rels": "links.rels",
    "fresh_links": "frontier.merge", "new_pending": "frontier.merge",
}
COMMIT_METHODS = ("merge_state", "append_partition", "write_meta", "prune")
PHASES = ("frontier.claim", "frontier.merge", "extract.extract",
          "links.rels", "enrich.nodes_batch", "sketch.commit",
          "storage.commit")
PLAN_SPANS = {
    "claim_batch": "frontier.claim_plan", "apply_claim_gates":
    "frontier.claim_plan", "merge_discoveries": "frontier.merge_plan",
    "extract_pages": "extract.plan", "build_relationships": "links.plan",
    "enrich_batch": "enrich.plan",
}
# TableIO methods whose first argument is a table name
_TABLE_METHODS = ("read", "read_state", "read_claim_candidates",
                  "read_keyed_state", "read_blob", "write", "write_blob",
                  "merge_state", "append_partition")


_TRACERS = itertools.count(1)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        # job-group prefix unique per tracer: several traced runs may
        # share one session (and one event log)
        self.prefix = f"pb{next(_TRACERS)}."
        self.spans: list[dict] = []
        self.trace_id = 0
        self.root: int | None = None   # parent for spans of fresh threads
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.compactions: dict[int, int] = {}

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, **attrs) -> dict:
        st = self._stack()
        parent = st[-1]["id"] if st else self.root
        sid = next(self._ids)
        rec = {"id": sid, "group": f"{self.prefix}{sid}", "name": name,
               "parent": parent,
               "trace": self.trace_id, "start": time.time(), "end": None,
               "attrs": attrs,
               "_old_group": self.sc.getLocalProperty(GROUP_KEY)}
        st.append(rec)
        self.sc.setLocalProperty(GROUP_KEY, rec["group"])
        return rec

    def close(self, rec: dict) -> None:
        rec["end"] = time.time()
        st = self._stack()
        if rec in st:
            st.remove(rec)
        self.sc.setLocalProperty(GROUP_KEY, rec.pop("_old_group"))
        with self._lock:
            self.spans.append(rec)

    @contextmanager
    def span(self, name: str, **attrs):
        rec = self.open(name, **attrs)
        try:
            yield rec
        finally:
            self.close(rec)

    def in_span(self, pred) -> bool:
        return any(pred(r) for r in self._stack())

    @contextmanager
    def root_span(self, name: str, trace_id: int):
        self.trace_id = trace_id
        with self.span(name) as rec:
            self.root = rec["id"]
            try:
                yield rec
            finally:
                self.root = None


def install_crawl(tracer: Tracer):
    """Wrap the operator entry points as bound in ``plans.iteration`` and
    the ``TableIO`` read/write/merge/blob/meta methods.  Returns a
    function that restores the originals."""
    from map_the_net_crawler_spark.plans import iteration as it
    from map_the_net_crawler_spark.storage import TableIO

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, wrapper):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    for fn, span_name in PLAN_SPANS.items():
        def plan_wrapper(orig, span_name=span_name, fn=fn):
            def w(*a, **kw):
                with tracer.span(span_name, op=fn):
                    return orig(*a, **kw)
            return w
        patch(it, fn, plan_wrapper)

    def is_io(r):
        return r["attrs"].get("io", False)

    def io_wrapper(method):
        def wrapper(orig):
            def w(self, name, *a, **kw):
                # nested TableIO calls belong to the outermost one
                if tracer.in_span(is_io):
                    return orig(self, name, *a, **kw)
                if method == "write" and name in PHASE_OF_TABLE:
                    span = PHASE_OF_TABLE[name]
                elif method in COMMIT_METHODS:
                    span = "storage.commit"
                else:
                    span = f"storage.{method}"
                with tracer.span(span, io=True, method=method, table=name):
                    out = orig(self, name, *a, **kw)
                if method == "write" and name == "new_pending":
                    # the sketch commit runs in this thread from here to
                    # its blob write: the new-url collect, the insert and
                    # the blob commit
                    tracer._local.sketch = tracer.open("sketch.commit")
                if method == "write_blob" and name == "frontier_sketch":
                    rec = getattr(tracer._local, "sketch", None)
                    if rec is not None:
                        tracer._local.sketch = None
                        tracer.close(rec)
                return out
            return w
        return wrapper

    def meta_wrapper(method):
        def wrapper(orig):
            def w(self, *a, **kw):
                if tracer.in_span(is_io):
                    return orig(self, *a, **kw)
                span = ("storage.commit" if method == "write_meta"
                        else f"storage.{method}")
                with tracer.span(span, io=True, method=method):
                    return orig(self, *a, **kw)
            return w
        return wrapper

    for m in _TABLE_METHODS:
        patch(TableIO, m, io_wrapper(m))
    for m in ("read_meta", "write_meta", "prune"):
        patch(TableIO, m, meta_wrapper(m))

    def compact_wrapper(orig):
        def w(self, *a, **kw):
            with tracer._lock:
                tracer.compactions[tracer.trace_id] = \
                    tracer.compactions.get(tracer.trace_id, 0) + 1
            return orig(self, *a, **kw)
        return w
    patch(TableIO, "_compact", compact_wrapper)

    def uninstall():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
    return uninstall


def close_open_sketch(tracer: Tracer) -> None:
    rec = getattr(tracer._local, "sketch", None)
    if rec is not None:
        tracer._local.sketch = None
        tracer.close(rec)


# ---- event log -----------------------------------------------------------

def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor run time, GC time,
    shuffle bytes (read + written), spill bytes (memory + disk) and
    failed tasks, from the (uncompressed) Spark event log."""
    # Spark 4 rolls the log: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                        recursive=True)
                   if os.path.isfile(p) and not p.endswith(".crc"))
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    acc: dict[str, dict] = {}

    def bucket(g):
        return acc.setdefault(g, {"jobs": 0, "stages": set(), "tasks": 0,
                                  "task_s": 0.0, "gc_s": 0.0,
                                  "shuffle_bytes": 0, "spill_bytes": 0,
                                  "failed_tasks": 0})

    for path in files:
        with open(path) as f:
            for line in f:
                if '"Event"' not in line[:40]:
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                    job_group[ev["Job ID"]] = g
                    bucket(g)["jobs"] += 1
                    for s in ev.get("Stage IDs", []):
                        stage_group.setdefault(s, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"), "")
                    b = bucket(g)
                    b["stages"].add(ev.get("Stage ID"))
                    b["tasks"] += 1
                    info = ev.get("Task Info") or {}
                    if info.get("Failed") or info.get("Killed"):
                        b["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    b["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    b["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0)
                                           + sw.get("Shuffle Bytes Written",
                                                    0))
                    b["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
    for b in acc.values():
        b["stages"] = len(b["stages"])
    return acc


def union_s(intervals) -> float:
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


_ZERO = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
         "shuffle_bytes": 0, "spill_bytes": 0, "failed_tasks": 0}


def subtree_counters(spans: list[dict], roots: list[dict],
                     groups: dict[str, dict]) -> dict:
    """Event-log counters summed over ``roots`` and all their
    descendants."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = dict(_ZERO)
    seen: set[int] = set()
    todo = list(roots)
    while todo:
        s = todo.pop()
        if s["id"] in seen:
            continue
        seen.add(s["id"])
        g = groups.get(s["group"], _ZERO)
        for k in out:
            out[k] += g[k]
        todo.extend(children.get(s["id"], []))
    return out
