"""One measured benchmark process (started by ``run.py``).

Set-up: start the Spark session, load the query registry and run one
untimed warm-up pass of the workload, collecting every result and checking
it against its golden fingerprint.  Then timed passes: a single closed-loop
client calls ``registry.queries()[name](spark, sf_dir)`` and materializes
the result to the ``noop`` sink, one call after the other, until the time
budget is spent (whole passes only, at least ``workloads.MIN_PASSES``).
After the timed passes, every query whose set-up call went through the
stage cache is collected and checked once more, untimed: its set-up
result came from the cache-miss (build) path, the timed calls took the
hit path.  The result goes to ``--out`` as JSON.

With ``--trace 1`` the layer modules are wrapped before the registry loads
(see ``tracing.py``); each query is then traced in one of the first two
timed passes and not in the other, so the traced run also reports what
tracing costs.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import random
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: ``latency_tail_s`` is the mean of the calls at or above this nearest-rank
#: percentile: with two or three timed passes of seven queries, the slowest
#: four to six calls
TAIL_PCT = 75


def _gmean_of_medians(per_query: dict[str, list[float]]) -> float:
    """Geometric mean over the queries of each query's median call time."""
    logs = [math.log(statistics.median(v)) for v in per_query.values()]
    return math.exp(statistics.mean(logs))


def _tail_mean(values: list[float], pct: float) -> float:
    """Mean of the values at or above the nearest-rank ``pct`` percentile."""
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100 * len(ordered)))
    return statistics.mean(ordered[rank - 1:])


def _check(golden: dict | None, pdf) -> str | None:
    """Why the result differs from its golden fingerprint, or None."""
    from golden import fingerprint

    if golden is None:
        return "no golden fingerprint"
    got = fingerprint(pdf)
    for key in ("columns", "rows", "sha256"):
        if got[key] != golden[key]:
            return f"{key}: got {got[key]!r}, golden {golden[key]!r}"
    return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", help="where the traced run writes its spans")
    ap.add_argument("--t0", type=float, required=True,
                    help="time.monotonic() when run.py started this process")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import golden as golden_mod
    from workloads import MIN_PASSES, WORKLOADS

    names = WORKLOADS[args.workload]
    goldens = golden_mod.load()["queries"]
    rng = random.Random(args.seed)

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()
        tracer.enabled = True

    from newyork_taxi_etl_spark import session

    t = time.monotonic()
    spark = session.get_spark(app_name="perfbench")
    session_start_s = time.monotonic() - t
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    if tracer:
        tracer.listen_streams(spark)

    t = time.monotonic()
    from newyork_taxi_etl_spark import registry

    qs = registry.queries()
    registry_load_s = time.monotonic() - t
    from newyork_taxi_etl_spark.streaming import windows

    # read (by the stage-cache spans) and cleared after every call
    cache_events = windows._STAGE_CACHE_EVENTS

    attempted = failed = 0
    failures: list[str] = []

    def collect_and_check(name: str) -> float:
        """Collect one query's result and check it; seconds spent checking."""
        nonlocal attempted, failed
        attempted += 1
        spent = 0.0
        try:
            pdf = qs[name](spark, args.data).toPandas()
            t = time.monotonic()
            why = _check(goldens.get(name), pdf)
            spent = time.monotonic() - t
        except Exception as e:  # a failing query counts; the run goes on
            why = f"raised {type(e).__name__}: {e}"
        if why:
            failed += 1
            failures.append(f"{name}: {why}"[:500])
        return spent

    check_s = 0.0  # the benchmark's own fingerprinting, not set-up work
    cached: list[str] = []  # queries whose set-up call used the stage cache
    setup_calls: dict[str, float] = {}
    for name in rng.sample(names, len(names)):
        if tracer:
            tracer.request = f"setup:{name}"
        t = time.monotonic()
        spent = collect_and_check(name)
        check_s += spent
        setup_calls[name] = round(time.monotonic() - t - spent, 4)
        if cache_events:
            cached.append(name)
        cache_events.clear()
    setup_s = time.monotonic() - args.t0 - check_s

    latencies: list[float] = []
    per_query: dict[str, list[float]] = {}
    traced_calls: list[dict] = []
    # first two passes of a traced run: {traced: {query: seconds}}
    paired: dict[bool, dict[str, float]] = {False: {}, True: {}}
    timed0 = time.monotonic()
    n_pass = 0
    while True:
        for name in rng.sample(names, len(names)):
            # in the first two passes half of the queries are traced in the
            # first and the other half in the second: every query is timed
            # once each way, balanced against passes still speeding up as
            # the JIT warms.  Later passes are untraced.
            traced = (bool(tracer) and n_pass < 2
                      and (names.index(name) + n_pass) % 2 == 0)
            if tracer:
                tracer.enabled = traced
            attempted += 1
            req = f"p{n_pass}:{name}"
            if traced:
                tracer.request = req
                tracer.skip_jobs(sc)  # jobs of earlier untraced calls
            span = (tracer.span(f"query.{name}") if traced
                    else contextlib.nullcontext())
            t0 = time.perf_counter()
            try:
                with span:
                    df = qs[name](spark, args.data)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as e:  # a failing query counts; the run goes on
                failed += 1
                failures.append(f"{name}: raised {type(e).__name__}: {e}"[:500])
                cache_events.clear()
                continue
            cache_events.clear()
            latencies.append(t2 - t0)
            per_query.setdefault(name, []).append(t2 - t0)
            if n_pass < 2:
                paired[traced][name] = t2 - t0
            if traced:
                jobs = tracer.new_jobs(sc)
                traced_calls.append({
                    "request": req, "build_s": t1 - t0, "exec_s": t2 - t1,
                    "spark": tracer.job_metrics(sc, jobs),
                })
        n_pass += 1
        done = time.monotonic() - timed0 >= args.seconds
        if done and n_pass >= MIN_PASSES[args.workload]:
            break
    timed_s = time.monotonic() - timed0

    if tracer:
        tracer.enabled = False
    for name in cached:  # the cache-hit path, checked untimed
        collect_and_check(name)
        cache_events.clear()

    result = {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "rechecked": cached,
        "passes": n_pass,
        "calls": len(latencies),
        "timed_s": timed_s,
        "per_query": per_query,
        "setup_calls": setup_calls,
        "session_start_s": session_start_s,
    }
    if tracer:
        from tracing import layer_metrics, setup_totals

        totals = setup_totals(tracer)
        totals.update(
            session_start_s=session_start_s, registry_load_s=registry_load_s)
        metrics = layer_metrics(tracer, traced_calls, sc.defaultParallelism,
                                totals)
        both = paired[False].keys() & paired[True].keys()
        plain_s = sum(paired[False][q] for q in both)
        traced_s = sum(paired[True][q] for q in both)
        # drop of calls per second of call time, same queries both ways
        metrics["trace.overhead_pct"] = (100.0 * (1 - plain_s / traced_s), "%")
        result["metrics"] = metrics
        if args.spans:
            tracer.dump(args.spans)
    elif latencies:
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "latency_gmean_s": (_gmean_of_medians(per_query), "s"),
            "latency_tail_s": (_tail_mean(latencies, TAIL_PCT), "s"),
            "queries_per_s": (len(latencies) / timed_s, "1/s"),
        }
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    main()
