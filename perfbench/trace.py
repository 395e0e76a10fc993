"""Layer attribution for traced benchmark runs.

Nothing inside the engine package changes. The tracer:

* wraps the public functions of each layer module that run in the
  client process, and rebinds every reference to them across the loaded
  package modules, so a call from anywhere in the package records one
  span (name, layer, start, end, parent span, op id);
* gives every span its own Spark job group, so each job the span
  submits (an eager artifact job during DataFrame construction, or the
  final action) is attributed to the innermost span that submitted it;
* reads job, stage and task metrics from Spark's own AppStatusStore
  over the job-id range of each op;
* reads streaming progress (batch durations, state-store sizes) from a
  benchmark-registered ``StreamingQueryListener``.

Spans and job records are kept in memory and written out once, at the
end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import sys
import threading
import time
from dataclasses import asdict, dataclass, field

PACKAGE = "mapreduce_implementation_spark"

# layer -> (module, public functions the workloads reach). Only functions
# that build DataFrames or submit jobs from the client process are
# wrapped: a wrapped function must never be shipped to an executor. The
# session layer is timed directly (``session.start_s``): it starts
# before the tracer is installed.
LAYERS: dict[str, tuple[str, tuple[str, ...]]] = {
    "operators.dedup": (
        "operators.dedup",
        (
            "minhash_signatures",
            "minhash_band_stats",
            "minhash_near_dup_pairs",
            "connected_components",
        ),
    ),
    "operators.chunking": ("operators.chunking", ("chunk_documents",)),
    "operators.similarity": ("operators.similarity", ("brute_force_topk",)),
    "functions": ("functions.textstats", ("token_stats_arrow",)),
    "sources": ("sources.materialize", ("ensure_table", "scratch_dir")),
    "sources.catalog": ("sources.catalog", ("load_table",)),
    "caching": ("caching", ("track_local_checkpoint", "release_caches")),
    "streaming": (
        "streaming.queries",
        ("run_available_now", "streaming_wordcount"),
    ),
    "streaming.sources": ("streaming.sources", ("read_documents_stream",)),
}


@dataclass
class Span:
    span_id: int
    op_id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"perfbench-{self.span_id}"


@dataclass
class StageRec:
    stage_id: int
    status: str
    num_tasks: int
    failed_tasks: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    input_bytes: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class JobRec:
    job_id: int
    group: str | None
    span_id: int | None
    stages: list[StageRec] = field(default_factory=list)


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class Tracer:
    """Spans + Spark status reads for one run. ``active`` switches span
    recording per round, so traced and untraced rounds alternate in one
    process and the difference is the tracing overhead."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self.stream_progress: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._op_id = 0
        self._sc = None

    # -- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """One span with its own job group; a no-op while inactive."""
        if not self.active:
            yield None
            return
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(next(self._ids), self._op_id, parent, layer, name, time.perf_counter())
        self._stack.append(sp)
        self.spans.append(sp)
        self._sc.setJobGroup(sp.group, f"{layer}:{name}")
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self._sc.setJobGroup(outer.group, f"{outer.layer}:{outer.name}")
            else:
                self._sc._jsc.clearJobGroup()

    def start_op(self) -> int:
        self._op_id += 1
        return self._op_id

    def wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return traced

    def install(self, spark) -> None:
        """Wrap every function in ``LAYERS``, rebind each reference to it
        in the loaded package modules, and register the streaming
        listener."""
        import importlib

        self._sc = spark.sparkContext
        self._register_streaming_listener(spark)
        originals: dict[int, object] = {}
        for layer, (mod_name, names) in LAYERS.items():
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            for name in names:
                fn = getattr(mod, name)
                originals[id(fn)] = self.wrap(layer, fn)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                wrapped = originals.get(id(val))
                if wrapped is not None:
                    setattr(mod, attr, wrapped)

    # -- Spark status --------------------------------------------------

    def next_job_id(self, spark) -> int:
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until Spark has delivered every queued listener event, so
        the AppStatusStore and the streaming listener are up to date."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def read_jobs(self, spark, first: int, last: int) -> list[JobRec]:
        """Job and stage records for job ids ``[first, last)``, read from
        the AppStatusStore."""
        from py4j.protocol import Py4JJavaError

        self.drain()
        store = spark.sparkContext._jsc.sc().statusStore()
        d3 = getattr(store, "stageData$default$3")()
        d5 = getattr(store, "stageData$default$5")()
        group_to_span = {sp.group: sp.span_id for sp in self.spans}
        out: list[JobRec] = []
        seen_stages: set[int] = set()
        for jid in range(first, last):
            try:
                jd = store.job(jid)
            except Py4JJavaError:  # NoSuchElementException: never registered
                continue
            g = jd.jobGroup()
            group = g.get() if g.isDefined() else None
            rec = JobRec(jid, group, group_to_span.get(group))
            for sid in _seq(jd.stageIds()):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                for sd in _seq(store.stageData(sid, False, d3, False, d5)):
                    rec.stages.append(
                        StageRec(
                            stage_id=sid,
                            status=str(sd.status()),
                            num_tasks=sd.numTasks(),
                            failed_tasks=sd.numFailedTasks(),
                            run_ms=sd.executorRunTime(),
                            cpu_ns=sd.executorCpuTime(),
                            gc_ms=sd.jvmGcTime(),
                            input_bytes=sd.inputBytes(),
                            output_bytes=sd.outputBytes(),
                            shuffle_read_bytes=sd.shuffleReadBytes(),
                            shuffle_write_bytes=sd.shuffleWriteBytes(),
                            spill_bytes=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                        )
                    )
            out.append(rec)
        return out

    def task_skew(self, spark, stage_id: int) -> float:
        """max / median successful task duration of one stage."""
        store = spark.sparkContext._jsc.sc().statusStore()
        durs = []
        for sd in _seq(store.stageData(stage_id, False,
                                       getattr(store, "stageData$default$3")(),
                                       False,
                                       getattr(store, "stageData$default$5")())):
            for td in _seq(store.taskList(stage_id, sd.attemptId(), 2_147_483_647)):
                if str(td.status()) == "SUCCESS" and td.duration().isDefined():
                    durs.append(int(td.duration().get()))
        if not durs:
            return 0.0
        durs.sort()
        med = durs[len(durs) // 2]
        return durs[-1] / med if med else float(durs[-1] > 0)

    # -- streaming -----------------------------------------------------

    def _register_streaming_listener(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if not tracer.active:
                    return
                ops = p.stateOperators or []
                rec = {
                    "op_id": tracer._op_id,
                    "batch_id": p.batchId,
                    "duration_ms": dict(p.durationMs or {}),
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_memory_bytes": sum(o.memoryUsedBytes for o in ops),
                    "state_commit_ms": sum(o.commitTimeMs for o in ops),
                }
                with tracer._lock:
                    tracer.stream_progress.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def stream_progress_for(self, op_ids: set[int]) -> list[dict]:
        with self._lock:
            return [r for r in self.stream_progress if r["op_id"] in op_ids]

    def dump(self) -> dict:
        return {
            "spans": [asdict(s) for s in self.spans],
            "stream_progress": list(self.stream_progress),
        }
