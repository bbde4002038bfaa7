"""Traced runs: spans around the program's layer boundaries, recorded
from the benchmark's own files by wrapping public functions in place.

Every wrapper is built with ``functools.wraps``, so ``inspect.getsource``
of a wrapped model builder still returns the builder's own source and
``plans.state`` fingerprints are unchanged by tracing. Spans are kept in
memory; ``Tracer.dump`` writes them out when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from collections import Counter

PKG = "dbt_jaffleshop_spark"


class Tracer:
    """Spans (name, start, end, parent, op) plus counters, keyed by layer
    name. A wrapper nested inside a span of the same name records
    nothing, so recursive or delegating calls are counted once."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int, int]] = []
        self.counts: Counter = Counter()
        self.op = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0

    # ------------------------------------------------------------ spans

    def wrap(self, name: str, fn, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            if name in (s[0] for s in stack):
                return fn(*args, **kwargs)
            b0 = time.perf_counter()
            parent = stack[-1][1] if stack else -1
            with tracer._lock:
                sid = len(tracer.spans)
                tracer.spans.append((name, 0.0, 0.0, parent, tracer.op))
            stack.append((name, sid))
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                with tracer._lock:
                    tracer.spans[sid] = (name, t0, t1, parent, tracer.op)
                    tracer.counts[name] += 1
            if on_result is not None:
                on_result(args, out)
            with tracer._lock:
                tracer.bookkeeping_s += (t0 - b0) + (time.perf_counter() - t1)
            return out

        return traced

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def seconds(self, name: str, op: int | None = None) -> float:
        return sum(
            e - s for n, s, e, _, o in self.spans
            if n == name and (op is None or o == op)
        )

    # --------------------------------------------------------- patching

    def patch(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper. For a module
        function, every module of the program that imported it by name
        gets the wrapper too."""
        original = getattr(owner, attr)
        traced = self.wrap(name, original, on_result)
        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m for n, m in list(sys.modules.items())
                if n.startswith(PKG) and m is not owner
                and getattr(m, attr, None) is original
            ]
        for t in targets:
            self._undo.append((t, attr, original))
            setattr(t, attr, traced)

    def unpatch(self) -> None:
        while self._undo:
            t, attr, original = self._undo.pop()
            setattr(t, attr, original)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for n, s, e, p, o in self.spans:
                f.write(json.dumps({"name": n, "start": s, "end": e,
                                    "parent": p, "op": o}) + "\n")


def install(tracer: Tracer) -> None:
    """Wrap the layer boundaries the per-layer metrics are read from."""
    from dbt_jaffleshop_spark import sources
    from dbt_jaffleshop_spark.models import base
    from dbt_jaffleshop_spark.plans import acid, dag, state
    from dbt_jaffleshop_spark.semantic import model as semantic_model

    for spec in dag.MODELS.values():
        tracer._undo.append((spec, "builder", spec.builder))
        spec.builder = tracer.wrap("models.plan", spec.builder)

    def cache_hit(args, out):
        # a hit resolves to a materialized table or to a frame already
        # handed out (the memo returns the same object); frames are kept
        # so their ids are not reused
        ctx = base.active_materialization()
        with tracer._lock:
            hit = (ctx is not None and args[0] in ctx) or id(out) in seen
            seen[id(out)] = out
            tracer.counts["models.base.cache_hits" if hit else "models.base.cache_misses"] += 1

    seen: dict[int, object] = {}
    tracer.patch(base, "cached", "models.base.cached", cache_hit)
    tracer.patch(sources.registry, "load_table", "sources.scan")
    tracer.patch(state, "model_fingerprint", "plans.state.fingerprint")
    tracer.patch(state, "export_fingerprint", "plans.state.fingerprint")
    for method in ("overwrite", "append", "append_from", "overwrite_partitions",
                   "replace_partitions_and_append", "merge_rows"):
        tracer.patch(acid.AcidTable, method, "plans.acid.commit")
    tracer.patch(acid.AcidTable, "vacuum", "plans.acid.vacuum")
    tracer.patch(semantic_model.MetricQuery, "to_df", "semantic.compile")


# ------------------------------------------------------ session counts


def job_counts(sc, job_ids) -> tuple[int, int, int, int]:
    """(jobs, stages, tasks, failed tasks) of ``job_ids`` from the
    SparkContext status tracker; waits briefly for the listener bus to
    report each job finished. Stages skipped by shuffle reuse are not
    counted."""
    st = sc.statusTracker()
    stages: set[int] = set()
    deadline = time.monotonic() + 5.0
    jobs = 0
    for j in job_ids:
        info = st.getJobInfo(j)
        while info is not None and info.status == "RUNNING" and time.monotonic() < deadline:
            time.sleep(0.01)
            info = st.getJobInfo(j)
        if info is None:
            continue
        jobs += 1
        stages.update(info.stageIds)
    tasks = failed = ran = 0
    for s in stages:
        si = st.getStageInfo(s)
        if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
            continue
        ran += 1
        tasks += si.numCompletedTasks
        failed += si.numFailedTasks
    return jobs, ran, tasks, failed


def last_job_id(sc) -> int:
    ids = sc.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


# ---------------------------------------------------------- memory


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus its descendants —
    the Spark JVM is a child of the Python driver."""
    me = os.getpid()
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    family, frontier = {me}, [me]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p and c not in family]
        family.update(kids)
        frontier.extend(kids)
    kb = 0
    for pid in family:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0
