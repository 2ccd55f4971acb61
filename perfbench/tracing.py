"""Per-layer tracing for the traced benchmark run.

``Tracer.install()`` replaces the public functions of the engine's layer
modules with span-recording wrappers.  It must run before
``registry.queries()`` imports the query modules, so that their
``from ... import name`` bindings pick up the wrappers.  Spans live in
memory (name, start, end, parent, request id) and are written out once at
the end.  Spark's own numbers come from the status tracker / status store
(jobs of one query call are the job ids it allocated, since a single
client runs one call at a time), streaming micro-batch durations from a
``StreamingQueryListener``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import statistics
import threading
import time

#: layer modules whose public functions get a span each
TRACED_MODULES = [
    "newyork_taxi_etl_spark.session",
    "newyork_taxi_etl_spark.registry",
    "newyork_taxi_etl_spark.sources.readers",
    "newyork_taxi_etl_spark.sources.writers",
    "newyork_taxi_etl_spark.plans.pipeline",
]
_SESSION_FUNCS = {"get_spark", "tune"}
_STREAMING = "newyork_taxi_etl_spark.streaming.windows"
_STREAMING_FUNCS = ["_drain", "_stage_cached", "df_stage_cached"]
#: operator modules with driver-side work (eager training loops included)
OPERATOR_MODULES = [
    "dedup", "similarity", "sketch", "clustering",
    "unigram", "wordpiece", "bytebpe", "curation",
]


class Span:
    __slots__ = ("name", "start", "end", "parent", "request", "outcome")

    def __init__(self, name, start, parent, request):
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.request = request
        self.outcome = None


class Tracer:
    """Span recorder plus Spark status readers for one worker process."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self.request: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self.batches: list[tuple[str | None, dict]] = []
        self._next_job = 0

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span around the ``with`` body (kept when enabled)."""
        stack = self._stack()
        span = Span(name, time.perf_counter(), stack[-1] if stack else None,
                    self.request)
        stack.append(span)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            stack.pop()
            if self.enabled:
                with self._lock:
                    self.spans.append(span)

    def _wrap(self, name: str, fn, events=None):
        """``fn`` with a span per call; ``events`` is the stage-cache event
        list, whose first entry appended during the call is its outcome."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            n0 = len(events) if events is not None else 0
            with tracer.span(name) as span:
                try:
                    return fn(*args, **kwargs)
                finally:
                    if events is not None and len(events) > n0:
                        span.outcome = events[n0][1]

        return wrapper

    def install(self) -> None:
        """Wrap the layer functions in place (call before the registry)."""
        for modname in TRACED_MODULES:
            mod = importlib.import_module(modname)
            short = modname.replace("newyork_taxi_etl_spark.", "")
            for attr, fn in list(vars(mod).items()):
                if not _is_public_function(fn, modname):
                    continue
                if short == "session" and attr not in _SESSION_FUNCS:
                    continue
                setattr(mod, attr, self._wrap(f"{short}.{attr}", fn))
        mod = importlib.import_module(_STREAMING)
        for attr in _STREAMING_FUNCS:
            events = mod._STAGE_CACHE_EVENTS if attr == "_stage_cached" else None
            setattr(mod, attr,
                    self._wrap(f"streaming.{attr}", getattr(mod, attr), events))
        for short in OPERATOR_MODULES:
            modname = f"newyork_taxi_etl_spark.operators.{short}"
            mod = importlib.import_module(modname)
            for attr, fn in list(vars(mod).items()):
                if _is_public_function(fn, modname):
                    setattr(mod, attr,
                            self._wrap(f"operators.{short}.{attr}", fn))

    # -- Spark status ------------------------------------------------------

    def listen_streams(self, spark) -> None:
        """Record ``durationMs`` of every streaming micro-batch."""
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if tracer.enabled:
                    with tracer._lock:
                        tracer.batches.append(
                            (tracer.request, dict(event.progress.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Progress())

    def new_jobs(self, sc) -> list[int]:
        """Job ids allocated since the last call (ids are sequential and
        every job, even an empty one, reaches the status store)."""
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        found = []
        tracker = sc.statusTracker()
        while tracker.getJobInfo(self._next_job) is not None:
            found.append(self._next_job)
            self._next_job += 1
        return found

    def skip_jobs(self, sc) -> None:
        """Move past every job allocated so far, including jobs the store
        no longer holds (it keeps only the most recent ones)."""
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ungrouped = sc.statusTracker().getJobIdsForGroup()
        if ungrouped:
            self._next_job = max(self._next_job, max(ungrouped) + 1)
        self.new_jobs(sc)

    @staticmethod
    def job_metrics(sc, job_ids: list[int]) -> dict[str, float]:
        """Sum the status-store metrics of every stage the jobs ran."""
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        out = dict.fromkeys(
            ["jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
             "input_bytes", "output_bytes", "shuffle_write_bytes"], 0)
        seen = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # stage evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["run_ms"] += sd.executorRunTime()
                out["cpu_ns"] += sd.executorCpuTime()
                out["gc_ms"] += sd.jvmGcTime()
                out["input_bytes"] += sd.inputBytes()
                out["output_bytes"] += sd.outputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        return out

    def dump(self, path: str) -> None:
        """Write every recorded span as one JSON object per line."""
        ids = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": ids.get(id(s.parent)), "request": s.request,
                    "outcome": s.outcome,
                }) + "\n")


def _is_public_function(fn, modname: str) -> bool:
    return (
        inspect.isfunction(fn)
        and fn.__module__ == modname
        and not fn.__name__.startswith("_")
    )


def _outermost(spans: list[Span], prefix: str) -> list[Span]:
    """Spans under ``prefix`` with no ancestor under the same prefix."""
    out = []
    for s in spans:
        if not s.name.startswith(prefix):
            continue
        p = s.parent
        while p is not None and not p.name.startswith(prefix):
            p = p.parent
        if p is None:
            out.append(s)
    return out


def _dur(spans) -> float:
    return sum(s.end - s.start for s in spans)


def layer_metrics(tracer: Tracer, calls: list[dict], cores: int,
                  setup: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the traced run.

    ``calls`` are the traced timed calls (request id, build/exec seconds,
    Spark job metrics).  Values are means per traced call unless the name
    says otherwise; ``setup`` carries the set-up spans (session start,
    registry load), stage-cache totals for the whole process and the
    operators' warm-up seconds (``setup_totals``)."""
    n = max(1, len(calls))
    reqs = {c["request"] for c in calls}
    spans = [s for s in tracer.spans if s.request in reqs]
    wall = sum(c["build_s"] + c["exec_s"] for c in calls)
    spark = {k: sum(c["spark"][k] for c in calls) for k in calls[0]["spark"]} \
        if calls else {}

    def per_call(x):
        return x / n

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (setup["session_start_s"], "s")
    m["registry.load_s"] = (setup["registry_load_s"], "s")
    tune = [s for s in spans if s.name == "session.tune"]
    m["session.tune_calls"] = (per_call(len(tune)), "count")
    m["session.tune_s"] = (per_call(_dur(tune)), "s")
    build = sum(c["build_s"] for c in calls)
    m["queries.build_s"] = (per_call(build), "s")
    m["queries.exec_s"] = (per_call(wall - build), "s")
    m["queries.build_share"] = (build / wall if wall else 0.0, "ratio")
    m["spark.jobs_per_call"] = (per_call(spark.get("jobs", 0)), "count")
    m["spark.stages_per_call"] = (per_call(spark.get("stages", 0)), "count")
    m["spark.tasks_per_call"] = (per_call(spark.get("tasks", 0)), "count")
    run_s = spark.get("run_ms", 0) / 1e3
    m["spark.task_run_s"] = (per_call(run_s), "s")
    m["spark.task_cpu_s"] = (per_call(spark.get("cpu_ns", 0) / 1e9), "s")
    m["spark.gc_s"] = (per_call(spark.get("gc_ms", 0) / 1e3), "s")
    m["spark.core_busy_ratio"] = (run_s / (wall * cores) if wall else 0.0,
                                  "ratio")
    inp = spark.get("input_bytes", 0)
    outp = spark.get("output_bytes", 0)
    m["spark.input_bytes"] = (per_call(inp), "B")
    m["spark.shuffle_write_bytes"] = (
        per_call(spark.get("shuffle_write_bytes", 0)), "B")
    m["spark.output_bytes"] = (per_call(outp), "B")
    m["spark.bytes_written_per_input_byte"] = (outp / inp if inp else 0.0,
                                               "ratio")

    reads = _outermost(spans, "sources.readers.")
    m["sources.read_calls"] = (per_call(len(reads)), "count")
    m["sources.read_s"] = (per_call(_dur(reads)), "s")
    m["sources.rowcount_s"] = (per_call(_dur(
        s for s in spans if s.name == "sources.readers.parquet_rowcount")), "s")
    writes = _outermost(spans, "sources.writers.")
    m["sources.write_calls"] = (per_call(len(writes)), "count")
    m["sources.write_s"] = (per_call(_dur(writes)), "s")
    m["plans.run_stages_s"] = (per_call(_dur(
        _outermost(spans, "plans.pipeline.run_stages"))), "s")

    drains = [s for s in spans if s.name == "streaming._drain"]
    batches = [d for r, d in tracer.batches if r in reqs]
    m["streaming.drains"] = (per_call(len(drains)), "count")
    m["streaming.drain_s"] = (per_call(_dur(drains)), "s")
    m["streaming.batches_per_drain"] = (
        len(batches) / len(drains) if drains else 0.0, "count")

    def batch_mean(*keys):
        if not batches:
            return 0.0
        return sum(sum(d.get(k, 0) for k in keys) for d in batches) / len(batches)

    m["streaming.trigger_ms_p50"] = (
        statistics.median(d.get("triggerExecution", 0) for d in batches)
        if batches else 0.0, "ms")
    m["streaming.commit_ms"] = (batch_mean("walCommit", "commitOffsets"), "ms")
    m["streaming.add_batch_ms"] = (batch_mean("addBatch"), "ms")
    m["streaming.planning_ms"] = (batch_mean("queryPlanning"), "ms")

    cached = [s for s in spans if s.name == "streaming._stage_cached"]
    hits = sum(s.outcome == "hit" for s in cached)
    m["stage_cache.hits"] = (per_call(hits), "count")
    m["stage_cache.misses"] = (setup["stage_cache_misses"], "count")
    events = setup["stage_cache_misses"] + setup["stage_cache_hits"]
    m["stage_cache.hit_ratio"] = (
        setup["stage_cache_hits"] / events if events else 0.0, "ratio")
    m["stage_cache.build_s"] = (setup["stage_cache_build_s"], "s")

    for short in OPERATOR_MODULES:
        ops = _outermost(spans, f"operators.{short}.")
        m[f"operators.{short}.calls"] = (per_call(len(ops)), "count")
        m[f"operators.{short}.s"] = (per_call(_dur(ops)), "s")
        m[f"operators.{short}.setup_s"] = (setup[f"operators.{short}.setup_s"],
                                           "s")
    return m


def setup_totals(tracer: Tracer) -> dict[str, float]:
    """Whole-process numbers: stage-cache hits, misses and build seconds over
    every traced span (set-up and timed calls; misses land in set-up, where
    they cost), and each operator module's driver-side seconds in the
    warm-up pass, where trainers whose artifacts the stage cache keeps run."""
    cached = [s for s in tracer.spans if s.name == "streaming._stage_cached"]
    builds = [s for s in _outermost(cached, "streaming._stage_cached")
              if s.outcome == "miss"]
    out = {
        "stage_cache_hits": sum(s.outcome == "hit" for s in cached),
        "stage_cache_misses": sum(s.outcome == "miss" for s in cached),
        "stage_cache_build_s": _dur(builds),
    }
    setup = [s for s in tracer.spans
             if s.request and s.request.startswith("setup:")]
    for short in OPERATOR_MODULES:
        out[f"operators.{short}.setup_s"] = _dur(
            _outermost(setup, f"operators.{short}."))
    return out
