"""Outside-in tracing: spans recorded around the engine's public functions
from the benchmark process only, and Spark work attributed to them.

``Tracer.install()`` replaces each listed function with a wrapper, on its
defining module and on every loaded module that imported it by name (the
package attribute ``relation_graph_spark.materialize`` is the function, so
modules are always looked up in ``sys.modules``). A wrapper records a span
(layer, name, start, end, parent) only while ``Tracer.enabled`` is set, so
traced and untraced operations can alternate in one process.

Spark jobs are attributed by SUBMISSION TIME, not job group: a job belongs
to every span whose interval contains its submission time. The pipeline
submits some jobs from pool threads (the concurrent delta counts, the
parallel state writes), and those jobs do not inherit the caller's group.
Job, stage, shuffle and task-time figures come from the Spark driver's
``AppStatusStore`` after the measured phase, so attribution adds no Spark
job.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time
from dataclasses import dataclass, field

# (layer, module, attribute path) of every wrapped function. A dotted
# attribute path names a method on a class.
TARGETS = [
    ("decode", "relation_graph_spark.decode", "decode_axioms"),
    ("decode", "relation_graph_spark.decode", "told_tables"),
    ("closure", "relation_graph_spark.closure", "transitive_closure"),
    ("closure", "relation_graph_spark.closure", "incremental_tc"),
    ("closure", "relation_graph_spark.closure", "_driver_tc"),
    ("closure", "relation_graph_spark.closure", "_driver_incremental_tc"),
    ("materialize", "relation_graph_spark.materialize", "materialize_edges"),
    ("materialize", "relation_graph_spark.materialize", "_sc_star"),
    ("materialize", "relation_graph_spark.materialize", "derive_relations"),
    ("materialize", "relation_graph_spark.materialize", "compute_unsat"),
    ("assemble", "relation_graph_spark.materialize", "assemble_output"),
    ("hashing", "relation_graph_spark.hashing", "with_edge_hash"),
    ("incremental", "relation_graph_spark.incremental", "initial_state"),
    ("incremental", "relation_graph_spark.incremental", "apply_delta"),
    ("incremental", "relation_graph_spark.incremental", "assemble_delta"),
    ("incremental", "relation_graph_spark.incremental", "save_state_snapshot"),
    ("incremental", "relation_graph_spark.incremental", "save_state_delta"),
    ("incremental", "relation_graph_spark.incremental", "consolidate_state_deltas"),
    ("incremental", "relation_graph_spark.incremental", "repoint_state"),
    ("streaming.pipeline", "relation_graph_spark.streaming.pipeline",
     "IncrementalClosureJob.process_batch"),
    ("told_trail", "relation_graph_spark.told_trail", "ToldTrail.write_batch"),
    ("told_trail", "relation_graph_spark.told_trail", "ToldTrail.fold_through"),
    ("sinks", "relation_graph_spark.sinks", "IdempotentParquetSink.append"),
    ("sinks", "relation_graph_spark.sinks", "IdempotentParquetSink.append_new_only"),
    ("sinks", "relation_graph_spark.sinks", "IdempotentParquetSink.dedup_new"),
    ("sinks", "relation_graph_spark.sinks", "IdempotentParquetSink.maybe_compact"),
]


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int = 0  # the benchmark operation the span belongs to
    result_none: bool = False
    children: list = field(default_factory=list)


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.op = 0
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ recording
    def _frames(self) -> list[int]:
        st = getattr(self._stack, "ids", None)
        if st is None:
            st = self._stack.ids = []
        return st

    def begin(self, layer: str, name: str) -> int:
        st = self._frames()
        parent = st[-1] if st else None
        with self._lock:  # spans may begin on the stream's callback thread
            sid = len(self.spans)
            self.spans.append(Span(layer, name, time.time(), parent=parent, op=self.op))
            if parent is not None:
                self.spans[parent].children.append(sid)
        st.append(sid)
        return sid

    def end(self, sid: int, result=None) -> None:
        sp = self.spans[sid]
        sp.end = time.time()
        sp.result_none = result is None
        self._frames().pop()

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """A span around a block of the benchmark's own code."""
        sid = self.begin(layer, name) if self.enabled else None
        try:
            yield
        finally:
            if sid is not None:
                self.end(sid, True)

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sid = tracer.begin(layer, name)
            out = None
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                tracer.end(sid, out)

        return wrapper

    # ------------------------------------------------------------ install
    def install(self) -> None:
        import importlib

        for layer, modname, attr in TARGETS:
            mod = importlib.import_module(modname)
            owner, leaf = mod, attr
            if "." in attr:
                cls_name, leaf = attr.split(".")
                owner = getattr(mod, cls_name)
            orig = getattr(owner, leaf)
            wrapped = self._wrap(layer, leaf, orig)
            self._restore.append((owner, leaf, orig))
            setattr(owner, leaf, wrapped)
            if owner is mod:
                # from-imports elsewhere hold the original object
                for other in list(sys.modules.values()):
                    if other is mod or not getattr(other, "__name__", "").startswith(
                        "relation_graph_spark"
                    ):
                        continue
                    for k, v in list(vars(other).items()):
                        if v is orig:
                            self._restore.append((other, k, orig))
                            setattr(other, k, wrapped)

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._restore):
            setattr(owner, leaf, orig)
        self._restore = []


# ---------------------------------------------------------------- Spark side
def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_jobs(spark, since: float) -> list[dict]:
    """Jobs submitted at or after `since` (epoch seconds) from the status
    store, each with its stages' shuffle bytes and executor run time."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    quant = spark.sparkContext._gateway.new_array(jvm.double, 0)
    as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
    sl = as_java(store.stageList(empty, False, False, quant, jvm.java.util.ArrayList()))
    by_stage: dict[int, list] = {}  # stage id -> (shuffle bytes, task s) per attempt
    for i in range(sl.size()):
        s = sl.get(i)
        by_stage.setdefault(s.stageId(), []).append(
            (s.shuffleWriteBytes() + s.shuffleReadBytes(), s.executorRunTime() / 1000.0)
        )
    jobs = []
    jl = as_java(store.jobsList(None))
    for i in range(jl.size()):
        j = jl.get(i)
        sub = _opt_ms(j.submissionTime())
        if sub is None or sub < since:
            continue
        end = _opt_ms(j.completionTime()) or sub
        sids = as_java(j.stageIds())
        shuffle = task = 0.0
        n_stages = 0
        for k in range(sids.size()):
            for sh, ts in by_stage.get(int(sids.get(k)), []):
                shuffle += sh
                task += ts
                n_stages += 1
        jobs.append({"start": sub, "end": end, "stages": n_stages, "shuffle": shuffle,
                     "task_s": task})
    return jobs


def _union(intervals):
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _covered(intervals) -> float:
    return sum(b - a for a, b in _union(intervals))


def _overlap(a_iv, b_iv) -> float:
    """Length of the intersection of two interval unions."""
    a_iv, b_iv = _union(a_iv), _union(b_iv)
    i = j = 0
    tot = 0.0
    while i < len(a_iv) and j < len(b_iv):
        lo = max(a_iv[i][0], b_iv[j][0])
        hi = min(a_iv[i][1], b_iv[j][1])
        if hi > lo:
            tot += hi - lo
        if a_iv[i][1] < b_iv[j][1]:
            i += 1
        else:
            j += 1
    return tot


def layer_stats(spans: list[Span], jobs: list[dict], layers=None, names=None) -> dict:
    """wall_s / jobs / stages / shuffle_mb / task_s / idle_s of the spans in
    `layers` (and/or with a name in `names`). Nested spans count once; a job
    counts when it was submitted while any selected span was open; idle is
    selected-span time during which no Spark job ran at all."""
    sel = [s for s in spans if (layers is None or s.layer in layers)
           and (names is None or s.name in names)]
    iv = _union([(s.start, s.end) for s in sel])
    wall = _covered(iv)
    mine = [j for j in jobs if any(a <= j["start"] <= b for a, b in iv)]
    busy = _overlap(iv, [(j["start"], j["end"]) for j in jobs])
    return {
        "wall_s": wall,
        "jobs": len(mine),
        "stages": sum(j["stages"] for j in mine),
        "shuffle_mb": sum(j["shuffle"] for j in mine) / 2**20,
        "task_s": sum(j["task_s"] for j in mine),
        "idle_s": max(0.0, wall - busy),
    }


def self_time(spans: list[Span], name: str, ops: set) -> float:
    """Summed duration of the `name` spans of operations `ops`, minus the
    part their child spans cover."""
    tot = 0.0
    for s in spans:
        if s.name != name or s.op not in ops:
            continue
        kids = [(spans[c].start, spans[c].end) for c in s.children]
        tot += (s.end - s.start) - _covered(kids)
    return tot


def coverage(spans: list[Span], windows: list[tuple[float, float]]) -> float:
    """Share of the measured windows covered by top-level spans."""
    tops = [(s.start, s.end) for s in spans if s.parent is None]
    total = sum(b - a for a, b in windows)
    return _overlap(tops, windows) / total if total > 0 else 0.0
