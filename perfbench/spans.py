"""Span tracer for the traced run (``--trace 1``).

Spans are recorded only from the benchmark's own files: :func:`install`
swaps wrappers into the namespaces that call each layer's entry points
(``ingest.engine.discover_files``, ``TableStore.append``,
``similarity.train_ivf_centroids`` ...) and :func:`uninstall` puts the
originals back. Nothing inside the package is edited.

A span is (name, start, end, parent, op id). Spans live in memory and are
written as JSON lines when the run ends. The engine submits per-table
work from a thread pool; a span opened in a thread with no open span of
its own is parented to the innermost open span of the main thread (the
enclosing ``ingest.run``).

Every wrapper also tags the Spark jobs it submits with its span through
the thread-local job description, so :class:`SparkCounters` can
attribute each stage to a layer. Stages submitted outside any wrapper
fall back to their PySpark call-site file (``collect at
.../ingest/engine.py:NNN``), then to the operation's own layer.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import threading
import time
from dataclasses import dataclass

#: span-name prefix → layer
LAYERS = {
    "session": "session",
    "sources": "sources",
    "store": "sources",
    "ingest": "ingest",
    "catalog": "catalog",
    "query": "operators",
    "funnel": "operators",
    "similarity": "operators",
}

#: package module path fragment → layer (call-site fallback)
MODULE_LAYERS = (
    ("/sources/", "sources"),
    ("/ingest/", "ingest"),
    ("/catalog.py", "catalog"),
    ("/operators/", "operators"),
    ("/functions/", "operators"),
    ("/session.py", "session"),
)

DESC_PREFIX = "perfbench|"


def layer_of(span_name: str) -> str:
    return LAYERS.get(span_name.split(".", 1)[0], "other")


@dataclass
class Span:
    idx: int
    name: str
    start: float
    parent: int | None
    op: int
    end: float = 0.0
    #: small per-span facts recorded by the wrapper (result sizes, job ids)
    attrs: dict | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span store with per-thread stacks."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.op = 0
        self.overhead_s = 0.0
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> Span:
        t0 = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, 0.0, parent, self.op)
            self.spans.append(sp)
        st.append(sp.idx)
        if self.sc is not None:
            self.sc.setJobDescription(f"{DESC_PREFIX}{name}|{sp.idx}")
        sp.start = time.perf_counter()
        self.charge(sp.start - t0)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == sp.idx:
            st.pop()
        if self.sc is not None:
            prev = self.spans[st[-1]] if st else None
            self.sc.setJobDescription(
                f"{DESC_PREFIX}{prev.name}|{prev.idx}" if prev else None
            )
        self.charge(time.perf_counter() - sp.end)

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def charge(self, seconds: float) -> None:
        """Count ``seconds`` of bookkeeping as tracing overhead."""
        with self._lock:
            self.overhead_s += seconds

    # -- wrappers ------------------------------------------------------
    def wrap(self, owner: object, attr: str, name: str, on_result=None, before=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``before(span, args)`` and ``on_result(span, args, result)`` may
        record facts on the span (their time counts as overhead)."""
        orig = getattr(owner, attr)
        if getattr(orig, "_perfbench_wrapped", False):
            return
        tracer = self

        def wrapper(*args, **kwargs):
            sp = tracer.open(name)
            if before is not None:
                t0 = time.perf_counter()
                before(sp, args)
                sp.start = time.perf_counter()
                tracer.charge(sp.start - t0)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.close(sp)
            if on_result is not None:
                t0 = time.perf_counter()
                on_result(sp, args, out)
                tracer.charge(time.perf_counter() - t0)
            return out

        wrapper._perfbench_wrapped = True  # type: ignore[attr-defined]
        wrapper.__wrapped__ = orig  # type: ignore[attr-defined]
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        if self.sc is not None:
            self.sc.setJobDescription(None)

    # -- analysis ------------------------------------------------------
    def total(self, name: str, ops: set[int] | None = None) -> float:
        return sum(s.dur for s in self.spans if s.name == name and (ops is None or s.op in ops))

    def count(self, name: str, ops: set[int] | None = None) -> int:
        return sum(1 for s in self.spans if s.name == name and (ops is None or s.op in ops))

    def attr_sum(self, name: str, key: str, ops: set[int] | None = None) -> float:
        return sum(
            (s.attrs or {}).get(key, 0)
            for s in self.spans
            if s.name == name and (ops is None or s.op in ops)
        )

    def self_time(self, name: str, ops: set[int] | None = None) -> float:
        """Σ over spans ``name`` of duration minus the part of the span
        covered by its direct children (children in worker threads
        overlap, so the covered part is the union of their intervals)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        total = 0.0
        for s in self.spans:
            if s.name != name or (ops is not None and s.op not in ops):
                continue
            ivs = sorted((max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.idx, []))
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            total += s.dur - covered
        return total

    def innermost_at(self, t: float, op: int) -> Span | None:
        """Innermost (latest-opened) span of ``op`` whose interval holds ``t``."""
        best = None
        for s in self.spans:
            if s.op == op and s.start <= t <= (s.end or t):
                best = s
        return best

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "idx": s.idx,
                            "name": s.name,
                            "layer": layer_of(s.name),
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "op": s.op,
                            **({"attrs": s.attrs} if s.attrs else {}),
                        }
                    )
                    + "\n"
                )


def _result_len(key: str):
    def rec(sp: Span, _args, out) -> None:
        sp.attrs = {key: len(out)}

    return rec


def install(tracer: Tracer, sc, warehouse_bytes) -> None:
    """Wrap every layer entry point named in the benchmark's contract.

    ``warehouse_bytes(path) -> (files, bytes)`` sizes a table directory
    (used to count what an append or overwrite wrote)."""
    from data_ingestion_from_multiple_directories_linux_spark.ingest import engine
    from data_ingestion_from_multiple_directories_linux_spark.operators import (
        similarity,
        training,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )
    from data_ingestion_from_multiple_directories_linux_spark import catalog

    def jobs_now() -> int:
        ids = sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    # ingest.engine: the run and the reports, plus the names it imports
    def run_before(sp: Span, _args) -> None:
        sp.attrs = {"jobs": -jobs_now()}

    def run_after(sp: Span, _args, rep) -> None:
        sp.attrs["jobs"] += jobs_now()
        sp.attrs["files_seen"] = rep.files_seen
        sp.attrs["files_selected"] = rep.files_ingested + rep.files_failed

    tracer.wrap(engine.IngestionEngine, "run", "ingest.run", run_after, run_before)
    tracer.wrap(engine.IngestionEngine, "write_summary_report", "ingest.summary_report")
    tracer.wrap(engine.IngestionEngine, "refresh_patient_counts", "ingest.patient_counts")
    tracer.wrap(engine, "discover_files", "sources.discover", _result_len("files"))
    tracer.wrap(engine, "read_table_files", "sources.read_json")
    tracer.wrap(engine, "catalog_df", "sources.catalog_df")
    tracer.wrap(engine, "cleanse_and_split", "ingest.cleanse")
    tracer.wrap(engine, "finalize_lineage", "ingest.lineage")

    # sources.table_store: size what each write left on disk
    def wrote(sp: Span, args, _out) -> None:
        store, name = args[0], args[1]
        files, nbytes = warehouse_bytes(store.path(name), since=sp.start)
        sp.attrs = {"files": files, "bytes": nbytes}

    tracer.wrap(TableStore, "append", "store.append", wrote)
    tracer.wrap(TableStore, "overwrite", "store.overwrite", wrote)
    tracer.wrap(TableStore, "read", "store.read")

    # operators: the quality-gate trainer and the vector-index trainers
    tracer.wrap(training, "train_linear_gate", "funnel.gate_train")
    tracer.wrap(similarity, "train_ivf_centroids", "similarity.train_ivf")
    tracer.wrap(similarity, "train_pq_codebooks", "similarity.train_pq")

    # catalog.load_table, in every package namespace that imported it
    orig_load = catalog.load_table
    prefix = "data_ingestion_from_multiple_directories_linux_spark."
    for mname, mod in list(sys.modules.items()):
        if mname.startswith(prefix) and getattr(mod, "load_table", None) is orig_load:
            tracer.wrap(mod, "load_table", "catalog.load")


# ----------------------------------------------------------------------
# Spark's own counters, from the status store
# ----------------------------------------------------------------------


class SparkCounters:
    """Per-operation diffs of the JVM status store's stage metrics."""

    FIELDS = (
        "tasks",
        "run_s",
        "cpu_s",
        "gc_s",
        "shuffle_read_bytes",
        "shuffle_write_bytes",
        "input_bytes",
        "output_bytes",
    )

    def __init__(self, spark, tracer: Tracer | None = None) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracer = tracer
        self.mark = self._max_stage()
        self.job_mark = self._max_job()
        self.jobs = 0
        self.stages = 0
        #: layer → field → total
        self.by_layer: dict[str, dict[str, float]] = {}
        self.json_scan = {"tasks": 0, "cpu_s": 0.0, "input_bytes": 0}
        self.read_s = 0.0

    def _drain(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:
            time.sleep(0.05)

    def _stages(self):
        jvm, gw = self.sc._jvm, self.sc._gateway
        lst = self.store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        it = lst.iterator()
        while it.hasNext():
            yield it.next()

    def _max_stage(self) -> int:
        return max((int(s.stageId()) for s in self._stages()), default=-1)

    def _max_job(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def _layer(self, desc: str | None, name: str, submitted: float | None, op: int, fallback: str) -> str:
        if desc and desc.startswith(DESC_PREFIX):
            return layer_of(desc[len(DESC_PREFIX):].split("|", 1)[0])
        for frag, layer in MODULE_LAYERS:
            if frag in name:
                return layer
        if self.tracer is not None and submitted is not None:
            sp = self.tracer.innermost_at(submitted, op)
            if sp is not None:
                return layer_of(sp.name)
        return fallback

    def _is_json_scan(self, sid: int) -> bool:
        g = self.store.operationGraphForStage(sid)
        todo = [g.rootCluster()]
        while todo:
            c = todo.pop()
            if c.name().startswith("Scan json"):
                return True
            kids = c.childClusters()
            todo.extend(kids.apply(i) for i in range(kids.size()))
        return False

    def collect(self, op: int, fallback: str, t_wall0: float, t_perf0: float) -> None:
        """Fold every stage created since the last call into the totals.
        ``t_wall0``/``t_perf0`` map stage submission epochs onto the
        tracer's perf_counter clock."""
        t0 = time.perf_counter()
        self._drain()
        mark = self.mark
        for s in self._stages():
            sid = int(s.stageId())
            if sid <= mark:
                continue
            self.mark = max(self.mark, sid)
            self.stages += 1
            desc = s.description()
            desc = desc.get() if desc.isDefined() else None
            sub = s.submissionTime()
            submitted = (
                t_perf0 + sub.get().getTime() / 1000.0 - t_wall0 if sub.isDefined() else None
            )
            layer = self._layer(desc, s.name(), submitted, op, fallback)
            row = {
                "tasks": int(s.numCompleteTasks()),
                "run_s": int(s.executorRunTime()) / 1000.0,
                "cpu_s": int(s.executorCpuTime()) / 1e9,
                "gc_s": int(s.jvmGcTime()) / 1000.0,
                "shuffle_read_bytes": int(s.shuffleReadBytes()),
                "shuffle_write_bytes": int(s.shuffleWriteBytes()),
                "input_bytes": int(s.inputBytes()),
                "output_bytes": int(s.outputBytes()),
            }
            acc = self.by_layer.setdefault(layer, dict.fromkeys(self.FIELDS, 0))
            for k, v in row.items():
                acc[k] += v
            if row["input_bytes"] > 0 and self._is_json_scan(sid):
                self.json_scan["tasks"] += row["tasks"]
                self.json_scan["cpu_s"] += row["cpu_s"]
                self.json_scan["input_bytes"] += row["input_bytes"]
        jm = self._max_job()
        self.jobs += max(0, jm - self.job_mark)
        self.job_mark = max(self.job_mark, jm)
        self.read_s += time.perf_counter() - t0

    def total(self, field: str) -> float:
        return sum(acc[field] for acc in self.by_layer.values())
