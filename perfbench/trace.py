"""Span tracing around the package's public functions, with Spark job
attribution.

For a traced run, ``Tracer.install`` replaces each target function, in
every loaded package module that references it, with a wrapper that
records a span and calls through unchanged. Because the module attribute
itself is replaced, calls made inside a module (``snapshots.read_where``
calling ``load_snapshot``) are caught too.

Each span sets its own Spark job group on the calling thread, so every
Spark job lands on the innermost open span. Job and stage numbers come from
the application status store, read through the driver's status REST API
once the run ends (spans are kept in memory until then). Jobs submitted by
a streaming query outside any span carry the query's run id as their group
and are attributed to that query's micro-batch by the batch number in their
description.
"""

from __future__ import annotations

import datetime as dt
import functools
import importlib
import inspect
import itertools
import json
import re
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass, field

PKG = "_lakehouse_architecture_for_e_commerce_transactions_spark"
_GROUP_KEY = "spark.jobGroup.id"

# (module, function) pairs wrapped in a traced run; the span is named
# "<module>.<function>" without the package prefix
TARGETS = (
    ("etl.orchestrator", "run_pipeline"),
    ("etl.orchestrator", "validation_queries"),
    ("etl.jobs", "run_etl_job"),
    ("etl.jobs", "register_table"),
    ("etl.datapipe", "run_curation_job"),
    ("sources.csv", "read_csv"),
    ("sources.rejects", "write_rejects"),
    ("operators.validation", "validate"),
    ("operators.dedup", "dedup_deterministic"),
    ("operators.joins", "fk_check"),
    ("operators.merge", "merge_upsert"),
    ("operators.textdedup", "shingle_arrays"),
    ("operators.textdedup", "minhash_dedup_verified"),
    ("operators.graph", "dedup_clusters"),
    ("operators.contamination", "contamination_ratios"),
    ("operators.packing", "pack_sequences"),
    ("sources.snapshots", "load_snapshot"),
    ("sources.snapshots", "read_where"),
    ("sources.snapshots", "merge_commit"),
    ("sources.snapshots", "commit"),
    ("sources.snapshots", "replace_where_commit"),
    ("sources.snapshots", "compact"),
)
BATCH_SPAN = "streaming.aggmaint.batch"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: object
    start: float
    end: float = 0.0
    group: str = ""
    prev_group: str | None = None
    files_total: int = 0
    files_kept: int = 0
    jobs: list = field(default_factory=list)  # own jobs (innermost span)


def _ts(s: str) -> float:
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _covered(intervals, lo: float, hi: float) -> float:
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in _union(intervals))


class Tracer:
    """Collects spans for one run. ``op`` is the id of the benchmark
    operation currently in flight; spans inherit it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op: object = None
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple] = []

    # -- spans ------------------------------------------------------------
    def span(self, name: str, op: object = None):
        return _SpanCtx(self, name, op)

    def _push(self, name: str, op: object) -> Span:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        s = Span(
            sid, name, parent.id if parent else None,
            op if op is not None else (parent.op if parent else self.op),
            time.time(), group=f"perfbench-{sid}",
        )
        s.prev_group = self.sc.getLocalProperty(_GROUP_KEY)
        self.sc.setLocalProperty(_GROUP_KEY, s.group)
        stack.append(s)
        with self._lock:
            self.spans.append(s)
        return s

    def _pop(self, s: Span) -> None:
        s.end = time.time()
        self._tls.stack.pop()
        self.sc.setLocalProperty(_GROUP_KEY, s.prev_group)

    # -- wrapping ---------------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if name.endswith(".read_where"):
                # count pruning through the public report= dict, the
                # caller's own when it passed one
                bound = inspect.signature(fn).bind(*args, **kwargs)
                report = bound.arguments.get("report")
                if report is None:
                    report = bound.arguments["report"] = {}
                with tracer.span(name) as s:
                    out = fn(*bound.args, **bound.kwargs)
                s.files_total += report.get("files_total", 0)
                s.files_kept += report.get("files_kept", 0)
                return out
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Replace every target, wherever a package module references it,
        and wrap foreachBatch functions in a micro-batch span."""
        from pyspark.sql.streaming import DataStreamWriter

        for mod_name, attr in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            fn = getattr(mod, attr)
            wrapper = self._wrap(f"{mod_name}.{attr}", fn)
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith(PKG):
                    continue
                for k, v in list(vars(m).items()):
                    if v is fn:
                        self._restore.append((m, k, v))
                        setattr(m, k, wrapper)

        orig = DataStreamWriter.foreachBatch
        tracer = self

        def foreach_batch(writer, func):
            def traced(batch_df, batch_id):
                with tracer.span(BATCH_SPAN, op=("batch", batch_id)):
                    return func(batch_df, batch_id)

            return orig(writer, traced)

        self._restore.append((DataStreamWriter, "foreachBatch", orig))
        DataStreamWriter.foreachBatch = foreach_batch

    def uninstall(self) -> None:
        for obj, k, v in reversed(self._restore):
            setattr(obj, k, v)
        self._restore.clear()

    # -- Spark attribution ------------------------------------------------
    def _fetch(self, what: str) -> list[dict]:
        url = self.sc.uiWebUrl
        if not url:
            raise RuntimeError("traced runs need the Spark status API (spark.ui.enabled)")
        app = self.sc.applicationId
        with urllib.request.urlopen(
            f"{url}/api/v1/applications/{app}/{what}", timeout=60
        ) as r:
            return json.load(r)

    def attribute_jobs(self) -> None:
        """Attach each finished Spark job (with its stages' metrics) to the
        innermost span that submitted it."""
        stages = {
            (s["stageId"], s["attemptId"]): s for s in self._fetch("stages")
        }
        by_stage = defaultdict(list)
        for (sid, _), s in stages.items():
            by_stage[sid].append(s)
        by_group = {s.group: s for s in self.spans}
        # a micro-batch span opens on the stream thread, whose group is
        # the query's run id until the span replaces it
        batch_spans = {
            (s.prev_group, s.op[1]): s for s in self.spans if s.name == BATCH_SPAN
        }
        for job in self._fetch("jobs"):
            if "completionTime" not in job:
                continue
            owner = by_group.get(job.get("jobGroup"))
            if owner is None:
                m = re.search(r"batch = (\d+)", job.get("description", ""))
                if m:
                    owner = batch_spans.get((job.get("jobGroup"), int(m.group(1))))
            if owner is None:
                continue
            run = [st for sid in job["stageIds"] for st in by_stage.get(sid, [])
                   if st.get("status") == "COMPLETE"]
            owner.jobs.append({
                "start": _ts(job["submissionTime"]),
                "end": _ts(job["completionTime"]),
                "stages": len(run),
                "tasks": sum(st["numCompleteTasks"] for st in run),
                "cpu_s": sum(st["executorCpuTime"] for st in run) / 1e9,
                "shuffle_bytes": sum(
                    st["shuffleReadBytes"] + st["shuffleWriteBytes"] for st in run
                ),
                "bytes_written": sum(st["outputBytes"] for st in run),
            })

    # -- per-span measures ------------------------------------------------
    def measures(self, since: float) -> dict[str, list[dict]]:
        """span name -> one dict per span started at or after ``since``:
        wall, self and driver time plus Spark counters over the span's
        subtree (its own jobs and its descendants')."""
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)

        def subtree_jobs(s: Span) -> list[dict]:
            out = list(s.jobs)
            for c in kids[s.id]:
                out += subtree_jobs(c)
            return out

        out: dict[str, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s.start < since or not s.end:
                continue
            child_iv = [(c.start, c.end) for c in kids[s.id] if c.end]
            wall = s.end - s.start
            self_s = wall - _covered(child_iv, s.start, s.end)
            own = [(j["start"], j["end"]) for j in s.jobs]
            busy = _covered(child_iv + own, s.start, s.end) - _covered(
                child_iv, s.start, s.end
            )
            jobs = subtree_jobs(s)
            out[s.name].append({
                "op": s.op,
                "start": s.start,
                "wall_s": wall,
                "self_s": self_s,
                "driver_s": max(0.0, self_s - busy),
                "spark_jobs": len(jobs),
                "spark_stages": sum(j["stages"] for j in jobs),
                "spark_tasks": sum(j["tasks"] for j in jobs),
                "exec_cpu_s": sum(j["cpu_s"] for j in jobs),
                "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
                "bytes_written": sum(j["bytes_written"] for j in jobs),
                "files_total": s.files_total,
                "files_kept": s.files_kept,
            })
        return out

    def dump(self, path: str, since: float) -> None:
        """Write the spans of the measured window as JSON lines: name,
        start, end, parent, operation id and own Spark job count."""
        with open(path, "w") as f:
            for s in self.spans:
                if s.start >= since and s.end:
                    f.write(json.dumps({
                        "id": s.id, "name": s.name, "parent": s.parent,
                        "op": repr(s.op), "start": s.start, "end": s.end,
                        "jobs": len(s.jobs),
                    }) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op: object):
        self.tracer, self.name, self.op = tracer, name, op

    def __enter__(self) -> Span:
        self.s = self.tracer._push(self.name, self.op)
        return self.s

    def __exit__(self, *exc) -> None:
        self.tracer._pop(self.s)
