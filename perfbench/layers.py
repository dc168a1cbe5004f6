"""Layer tracing from outside the program, and the per-layer metrics.

Nothing in the program is edited.  The tracer wraps the public functions
of each layer (module attributes and ``AppendOnlyPartsStore`` methods),
opens a span around each call, and gives the span its own Spark job group
(``spark.jobGroup.id``).  When the span closes it reads, right away, the
jobs of that group from the status tracker and each job's stages from
Spark's status store (``statusStore().stageData``).  Reading per call
matters: the store keeps only the last 1,000 jobs, so counts taken as
deltas over a whole pass go wrong once it rolls over.

Streaming triggers run on the query's own thread under the job group
``runId``; a ``StreamingQueryListener`` hands the drain span the run ids it
started and the per-trigger progress (``durationMs``, input rows).
DataFrame actions are wrapped too, for the action count, the time Python
spends blocked in actions, and Catalyst's phase times.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import threading
import time
import contextlib
from dataclasses import dataclass, field

from py4j.protocol import Py4JError
from pyspark.sql.streaming import StreamingQueryListener

from workloads import FIXPOINT, IVM

GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    layer: str
    name: str
    start: float
    epoch_start: float
    end: float = 0.0
    epoch_end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    intervals: list = field(default_factory=list)  # stage (start, end) ms
    run_ids: list = field(default_factory=list)
    progress: list = field(default_factory=list)  # streaming durationMs dicts
    actions: int = 0
    action_s: float = 0.0
    catalyst_s: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class _Listener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer") -> None:
        self.tracer = tracer

    def onQueryStarted(self, event) -> None:  # synchronous with start()
        self.tracer._stream_started(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.tracer._stream_progress(str(p.runId), int(p.numInputRows), dict(p.durationMs))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.tracer._stream_terminated(str(event.runId))


class Tracer:
    """Spans and Spark counters for one benchmark process.

    ``enabled`` switches recording on and off without unwrapping, so
    untraced and traced passes run the same Python objects."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._seq = 0
        self._progress: dict[str, list] = {}
        self._terminated: set[str] = set()
        self._tagged: dict[int, tuple[str, str, object]] = {}
        spark.streams.addListener(_Listener(self))

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            self._seq += 1
            group = f"perfbench-{self._seq}"
            sp = Span(layer, name, time.perf_counter(), time.time())
            self._stack.append(sp)
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, group)
        try:
            yield sp
        finally:
            self.sc.setLocalProperty(GROUP, prev)
            sp.end, sp.epoch_end = time.perf_counter(), time.time()
            with self._lock:
                self._stack.remove(sp)
            self._read_jobs(sp, [group])
            if sp.run_ids:
                self._drain_streams(sp)
            self.spans.append(sp)

    def _read_jobs(self, sp: Span, groups: list[str]) -> None:
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        for g in groups:
            for job_id in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                sp.jobs += 1
                for stage_id in info.stageIds:
                    if stage_id in seen:
                        continue
                    seen.add(stage_id)
                    self._read_stage(sp, stage_id)

    def _read_stage(self, sp: Span, stage_id: int) -> None:
        attempts = self.store.stageData(stage_id, False, None, False, None).iterator()
        while attempts.hasNext():
            sd = attempts.next()
            if sd.status().toString() == "SKIPPED":
                continue
            sp.stages += 1
            sp.tasks += sd.numTasks()
            sp.task_s += sd.executorRunTime() / 1000.0
            sp.shuffle_write_bytes += sd.shuffleWriteBytes()
            sp.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and done.isDefined():
                sp.intervals.append((sub.get().getTime(), done.get().getTime()))

    # -- streaming ---------------------------------------------------------

    def _stream_started(self, run_id: str) -> None:
        with self._lock:
            self._progress[run_id] = []
            if self._stack:
                self._stack[-1].run_ids.append(run_id)

    def _stream_progress(self, run_id: str, rows: int, durations: dict) -> None:
        with self._lock:
            self._progress.setdefault(run_id, []).append((rows, durations))

    def _stream_terminated(self, run_id: str) -> None:
        with self._lock:
            self._terminated.add(run_id)

    def _drain_streams(self, sp: Span) -> None:
        # progress events arrive asynchronously; the terminated event comes
        # after the last progress event of a query
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            with self._lock:
                if all(r in self._terminated for r in sp.run_ids):
                    break
            time.sleep(0.01)
        with self._lock:
            for r in sp.run_ids:
                sp.progress.extend(self._progress.pop(r, []))
        self._read_jobs(sp, sp.run_ids)

    # -- wrapping ----------------------------------------------------------

    def wrap_function(self, module, attr: str, layer: str, tag: bool = False, note=None) -> None:
        """Span every call of ``module.attr``, in every program module that
        bound it by name.  With ``tag`` the call returns a lazy DataFrame:
        the span goes around that DataFrame's collect instead.  ``note``
        sees the call's arguments before it runs and returns a function
        giving extra span info after it."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if tag:
                df = orig(*args, **kwargs)
                if tracer.enabled:
                    tracer._tagged[id(df)] = (layer, attr, df)
                return df
            after = note(*args, **kwargs) if note and tracer.enabled else None
            with tracer.span(layer, attr) as sp:
                out = orig(*args, **kwargs)
            if sp is not None and after is not None:
                sp.info.update(after())
            return out

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("bigdataminingproject_spark") \
                    and getattr(mod, attr, None) is orig:
                setattr(mod, attr, traced)

    def wrap_actions(self, df_class) -> None:
        tracer = self

        def make(name):
            orig = getattr(df_class, name)

            @functools.wraps(orig)
            def action(df, *args, **kwargs):
                if not tracer.enabled:
                    return orig(df, *args, **kwargs)
                tagged = tracer._tagged.pop(id(df), None)
                ctx = tracer.span(tagged[0], tagged[1]) if tagged else contextlib.nullcontext()
                t0 = time.perf_counter()
                with ctx:
                    out = orig(df, *args, **kwargs)
                dt = time.perf_counter() - t0
                catalyst = _catalyst_s(df) if name in ("collect", "toPandas") else 0.0
                with tracer._lock:
                    for sp in tracer._stack:
                        sp.actions += 1
                        sp.action_s += dt
                        sp.catalyst_s += catalyst
                return out

            setattr(df_class, name, action)

        for name in ("collect", "count", "toPandas"):
            make(name)

    def wrap_store(self, store_cls) -> None:
        """Append timing plus the bytes each part write puts on disk:
        the first write of an append is the delta, later ones merges."""
        tracer = self
        orig_append, orig_write = store_cls.append, store_cls._write
        pending: dict[int, bool] = {}

        @functools.wraps(orig_append)
        def append(store, df, derive=None):
            if not tracer.enabled:
                return orig_append(store, df, derive)
            merges0 = store.merges
            pending[id(store)] = True
            with tracer.span("streaming", "store_append") as sp:
                orig_append(store, df, derive)
            sp.info["store"] = id(store)
            sp.info["merges"] = store.merges - merges0
            sp.info["parts"] = store.n_parts
            sp.info["state_bytes"] = sum(dir_bytes(p) for p, _l, _n in store.parts)
            return None

        @functools.wraps(orig_write)
        def write(store, df, path):
            n = orig_write(store, df, path)
            if tracer.enabled and tracer._stack:
                kind = "delta_bytes" if pending.pop(id(store), False) else "merge_bytes"
                sp = next((s for s in reversed(tracer._stack) if s.name == "store_append"), None)
                if sp is not None:
                    sp.info[kind] = sp.info.get(kind, 0) + dir_bytes(path)
            return n

        store_cls.append = append
        store_cls._write = write

    def take(self) -> list[Span]:
        """Finished spans since the last call."""
        spans, self.spans = self.spans, []
        self._tagged.clear()
        return spans


def _catalyst_s(df) -> float:
    """Analysis + optimization + planning time of ``df``'s query."""
    try:
        phases = df._jdf.queryExecution().tracker().phases().iterator()
    except Py4JError:
        return 0.0
    total = 0
    while phases.hasNext():
        total += phases.next()._2().durationMs()
    return total / 1000.0


# --- what is traced ------------------------------------------------------------

def _ingest_note(spark, config, cache_dir, force_reload=False):
    path = os.path.join(cache_dir, config.cache_key())
    hit = not force_reload and os.path.exists(path)
    return lambda: {"cache_hit": hit, "cache_bytes": dir_bytes(path)}


def install(spark) -> Tracer:
    """Wrap each layer's public entry points; recording starts disabled."""
    from bigdataminingproject_spark import cli  # noqa: F401  (binds names)
    from bigdataminingproject_spark.operators import snapshots
    from bigdataminingproject_spark.plans import ordering, pipeline
    from bigdataminingproject_spark.sources import conversations, tables
    from bigdataminingproject_spark.streaming import pipeline as streams
    from bigdataminingproject_spark.streaming import replay, statestore

    t = Tracer(spark)
    t.wrap_function(conversations, "load_or_build_messages", "sources", note=_ingest_note)
    t.wrap_function(tables, "load_table", "sources")
    t.wrap_function(pipeline, "run_detector_pipeline", "plans")
    t.wrap_function(ordering, "with_global_position", "plans")
    for op in ("snapshot_summary", "topk_cumulative_tokens", "burst_windows"):
        t.wrap_function(snapshots, op, "operators", tag=True)
    t.wrap_function(replay, "file_replay_source", "streaming")
    t.wrap_function(streams, "snapshot_sink", "streaming")
    t.wrap_function(streams, "run_to_memory", "streaming")
    t.wrap_store(statestore.AppendOnlyPartsStore)
    t.wrap_actions(type(spark.range(1)))
    return t


# --- per-layer metrics -----------------------------------------------------------

LAYERS = ("sources", "plans", "operators", "streaming", "query")


def _within(spans: list[Span], outer: Span) -> list[Span]:
    return [s for s in spans if s.start >= outer.start and s.end <= outer.end]


def _sum(spans, attr: str) -> float:
    return sum(getattr(s, attr) for s in spans)


def _wall(spans) -> float:
    return sum(s.wall_s for s in spans)


def _idle_s(root: Span, spans: list[Span]) -> float:
    """Wall time of the pass with no Spark stage running."""
    lo, hi = root.epoch_start * 1000, root.epoch_end * 1000
    busy, edge = 0.0, lo
    for a, b in sorted(iv for s in spans for iv in s.intervals):
        a, b = max(a, edge), min(b, hi)
        if b > a:
            busy += b - a
            edge = b
    return max(0.0, (hi - lo - busy) / 1000.0)


def _quantile(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    values = sorted(values)
    return values[min(len(values) - 1, int(q * len(values)))]


def pass_metrics(spans: list[Span]) -> dict[str, tuple[float, str]]:
    root = next(s for s in spans if s.layer == "pass")
    named = lambda *names: [s for s in spans if s.name in names]  # noqa: E731
    m: dict[str, tuple[float, str]] = {}

    ingest = named("load_or_build_messages")
    m["sources.ingest_s"] = (_wall(ingest), "s")
    m["sources.ingest_jobs"] = (_sum(ingest, "jobs"), "count")
    m["sources.ingest_task_s"] = (_sum(ingest, "task_s"), "s")
    m["sources.cache_hit_ratio"] = (
        sum(s.info.get("cache_hit", False) for s in ingest) / len(ingest) if ingest else 0.0, "ratio")
    m["sources.cache_bytes"] = (ingest[-1].info.get("cache_bytes", 0) if ingest else 0, "bytes")
    m["sources.table_load_s"] = (_wall(named("load_table")), "s")

    pipe = named("run_detector_pipeline")
    m["plans.pipeline_s"] = (_wall(pipe), "s")
    m["plans.actions"] = (_sum(pipe, "actions"), "count")
    m["plans.build_s"] = (_wall(pipe) - _sum(pipe, "action_s"), "s")
    m["plans.ordering_s"] = (_wall(named("with_global_position")), "s")
    m["operators.snapshots_s"] = (_wall(named("snapshot_summary")), "s")
    m["operators.topk_s"] = (_wall(named("topk_cumulative_tokens")), "s")
    m["operators.burst_s"] = (_wall(named("burst_windows")), "s")

    for q in IVM + FIXPOINT:
        qs = named(q)
        m[f"query.{q}_s"] = (_wall(qs), "s")
        m[f"query.{q}_jobs"] = (sum(_sum(_within(spans, s), "jobs") for s in qs), "count")

    stage, drain = named("file_replay_source"), named("snapshot_sink", "run_to_memory")
    appends = named("store_append")
    progress = [d for s in drain for d in s.progress]
    ms = lambda *keys: sum(p[1].get(k, 0) for p in progress for k in keys) / 1000.0  # noqa: E731
    m["streaming.stage_s"] = (_wall(stage), "s")
    m["streaming.drain_s"] = (_wall(drain), "s")
    publish = 0.0
    for q in IVM:
        qs = named(q)
        inner_stage = [x for s in qs for x in _within(stage, s)]
        inner_drain = [x for s in qs for x in _within(drain, s)]
        addbatch = sum(p[1].get("addBatch", 0) for d in inner_drain for p in d.progress)
        twin_publish = _wall(qs) - _wall(inner_stage) - _wall(inner_drain)
        publish += twin_publish
        m[f"streaming.{q}.stage_s"] = (_wall(inner_stage), "s")
        m[f"streaming.{q}.drain_s"] = (_wall(inner_drain), "s")
        m[f"streaming.{q}.publish_s"] = (twin_publish, "s")
        m[f"streaming.{q}.addbatch_s"] = (addbatch / 1000.0, "s")
    m["streaming.publish_s"] = (publish, "s")
    triggers = [p[1].get("triggerExecution", 0) / 1000.0 for p in progress]
    m["streaming.triggers"] = (len(progress), "count")
    m["streaming.input_rows"] = (sum(p[0] for p in progress), "count")
    m["streaming.addbatch_s"] = (ms("addBatch"), "s")
    m["streaming.commit_s"] = (ms("walCommit", "commitOffsets"), "s")
    m["streaming.planning_s"] = (ms("queryPlanning"), "s")
    m["streaming.trigger_p50_s"] = (_quantile(triggers, 0.5), "s")
    m["streaming.trigger_p90_s"] = (_quantile(triggers, 0.9), "s")
    m["streaming.store_appends"] = (len(appends), "count")
    m["streaming.store_merges"] = (sum(s.info.get("merges", 0) for s in appends), "count")
    m["streaming.store_append_s"] = (_wall(appends), "s")
    m["streaming.store_parts_max"] = (max((s.info.get("parts", 0) for s in appends), default=0), "count")
    final_state = {s.info.get("store"): s.info.get("state_bytes", 0) for s in appends}
    m["streaming.state_bytes"] = (sum(final_state.values()), "bytes")
    delta = sum(s.info.get("delta_bytes", 0) for s in appends)
    merged = sum(s.info.get("merge_bytes", 0) for s in appends)
    m["streaming.write_amp"] = ((delta + merged) / delta if delta else 0.0, "ratio")

    m["spark.jobs"] = (_sum(spans, "jobs"), "count")
    m["spark.stages"] = (_sum(spans, "stages"), "count")
    m["spark.tasks"] = (_sum(spans, "tasks"), "count")
    m["spark.task_s"] = (_sum(spans, "task_s"), "s")
    m["spark.catalyst_s"] = (root.catalyst_s, "s")
    m["spark.shuffle_write_bytes"] = (_sum(spans, "shuffle_write_bytes"), "bytes")
    m["spark.spill_bytes"] = (_sum(spans, "spill_bytes"), "bytes")
    m["spark.idle_s"] = (_idle_s(root, spans), "s")
    for layer in LAYERS:
        own = [s for s in spans if s.layer == layer]
        m[f"spark.{layer}.jobs"] = (_sum(own, "jobs"), "count")
        m[f"spark.{layer}.task_s"] = (_sum(own, "task_s"), "s")
    return m


def layer_metrics(runs: list[list[Span]], session_start_s: float, overhead_s: float,
                  peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    """Every per-layer metric: the median over the traced passes of each
    per-pass metric, plus the run-level ones."""
    per_pass = [pass_metrics(spans) for spans in runs]
    out = {"session.start_s": (session_start_s, "s")}
    for name, (_v, unit) in per_pass[0].items():
        out[name] = (statistics.median(p[name][0] for p in per_pass), unit)
    out["trace.overhead_s"] = (overhead_s, "s")
    out["peak_rss_mb"] = (peak_rss_mb, "MB")
    return out
