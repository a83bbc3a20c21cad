"""Spans recorded around the calls into each layer, from outside the
package.

A span has a name, start and end (seconds since the tracer started) and
the id of the span that caused it.  Each span runs under its own Spark
job group, so ``statusTracker`` attributes every job, task and failed
task to the innermost open span.  Spans stay in memory until the
benchmark writes them out at the end.

Spans are recorded only inside ``patched``, which also wraps the
stage-store writes and the operator calls the pipeline makes (by
replacing the module attributes the pipeline looks up at call time) and
restores them on exit.  Outside it, work runs under one job group per
phase and records nothing per call, so traced minus untraced time is
what the tracing costs.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time

import pyarrow.parquet as pq

from pdf_extraction_spark.operators import chunk, embed
from pdf_extraction_spark.plans import pipeline, stage_store

# pipeline-module names of the operator calls made by run_pipeline /
# run_incremental, and the modules run_vector_build imports them from
PIPELINE_OPERATORS = (
    "extract_stage", "boilerplate_patterns", "strip_stage", "ocr_stage",
    "merge_ocr", "assemble_documents", "chunk_stage",
)
VECTOR_OPERATORS = ((chunk, "typed_chunk_stage"), (embed, "embed_stage"))
STORE_CALLS = ("commit_stage", "upsert_stage", "append_stage")


def stage_disk_stats(root: str, stage: str) -> dict:
    """Rows, bytes and data files of a committed stage, read from the
    parquet footers on disk (no Spark job)."""
    path = os.path.join(root, stage)
    files = [
        os.path.join(path, n) for n in os.listdir(path)
        if n.startswith("part-") and not n.endswith(".crc")
    ]
    return {
        "rows": sum(pq.read_metadata(f).num_rows for f in files),
        "bytes": sum(os.path.getsize(f) for f in files),
        "files": len(files),
    }


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.active = False
        self._open: list[int] = []
        self._t0 = time.perf_counter()
        self._prefix = f"perfbench-{os.getpid()}-{int(time.time())}"

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def _restore_group(self) -> None:
        if self._open:
            span = self.spans[self._open[-1]]
            self.sc.setJobGroup(span["group"], span["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        span_id = len(self.spans)
        rec = {
            "id": span_id, "name": name,
            "parent": self._open[-1] if self._open else None,
            "group": f"{self._prefix}-{span_id}", **attrs,
        }
        self.spans.append(rec)
        self._open.append(span_id)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = self.now()
        try:
            yield rec
        finally:
            rec["end"] = self.now()
            self._open.pop()
            self._restore_group()

    @contextlib.contextmanager
    def phase(self, name: str):
        """Run an untraced phase under one job group; yields the group
        id, whose jobs ``group_stats`` counts afterwards."""
        group = f"{self._prefix}-{name}"
        self.sc.setJobGroup(group, name)
        try:
            yield group
        finally:
            self._restore_group()

    def group_stats(self, group: str, timeout: float = 10.0) -> dict:
        """Jobs, completed tasks, failed tasks and failed jobs of one job
        group.  Waits for the status store to see every job finish."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout
        job_ids = list(tracker.getJobIdsForGroup(group))
        infos = [tracker.getJobInfo(j) for j in job_ids]
        while any(i is not None and i.status == "RUNNING" for i in infos) and time.monotonic() < deadline:
            time.sleep(0.05)
            infos = [tracker.getJobInfo(j) for j in job_ids]
        tasks = failed = 0
        for info in infos:
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return {"jobs": len(job_ids), "tasks": tasks, "failed_tasks": failed,
                "failed_jobs": sum(1 for i in infos if i is not None and i.status == "FAILED")}

    def resolve(self) -> None:
        """Fill jobs, tasks and failed tasks per span (own jobs only)."""
        for rec in self.spans:
            if "jobs" not in rec:
                rec.update(self.group_stats(rec["group"]))

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def subtree(self, span_id: int) -> list[dict]:
        """The span and every span it caused."""
        ids = {span_id}
        out = []
        for rec in self.spans:
            if rec["id"] in ids or rec["parent"] in ids:
                ids.add(rec["id"])
                out.append(rec)
        return out

    def total(self, span_id: int, key: str) -> int:
        return sum(r.get(key, 0) for r in self.subtree(span_id))

    @contextlib.contextmanager
    def patched(self):
        """Turn span recording on and record a span around every
        stage-store write and operator call the pipeline makes while the
        block runs.  A write span also records the stage's rows, bytes
        and files on disk and, for a scoped upsert, how many keys its
        delete scope holds (``probe_s`` is what counting them took)."""
        saved = []

        def swap(module, attr, wrapper):
            saved.append((module, attr, getattr(module, attr)))
            setattr(module, attr, wrapper(getattr(module, attr)))

        def store_wrapper(kind):
            def wrap(fn):
                @functools.wraps(fn)
                def inner(df, root, stage, run_id, *args, **kwargs):
                    with self.span(f"stage_store.{kind}", stage=stage) as rec:
                        out = fn(df, root, stage, run_id, *args, **kwargs)
                    t0 = time.perf_counter()
                    rec.update(stage_disk_stats(root, stage))
                    scope = kwargs.get("delete_scope")
                    if scope is not None:
                        with self.span("probe.scope_keys"):
                            rec["scope_keys"] = scope.count()
                    rec["probe_s"] = time.perf_counter() - t0
                    return out
                return inner
            return wrap

        def operator_wrapper(name):
            def wrap(fn):
                @functools.wraps(fn)
                def inner(*args, **kwargs):
                    with self.span(f"operator.{name}"):
                        return fn(*args, **kwargs)
                return inner
            return wrap

        try:
            for kind in STORE_CALLS:
                swap(stage_store, kind, store_wrapper(kind.split("_")[0]))
            for name in PIPELINE_OPERATORS:
                swap(pipeline, name, operator_wrapper(name))
            for module, name in VECTOR_OPERATORS:
                swap(module, name, operator_wrapper(name))
            self.active = True
            yield self
        finally:
            self.active = False
            for module, attr, fn in reversed(saved):
                setattr(module, attr, fn)
