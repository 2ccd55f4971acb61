"""Audit what every registered query costs Spark, to compare two checkouts.

For each query, in sorted order and in ONE ``local[4]`` session with 4
shuffle partitions, the audit records:

- ``builder_jobs``: Spark jobs started while the query function builds its
  DataFrame (eager training loops, stage-cache builds, schema inference);
- ``plan``: the masked ``optimizedPlan()`` of the returned DataFrame;
- ``exec_jobs``: jobs started by collecting it;
- ``second_jobs``: builder plus execution jobs of a second call, which
  takes the stage-cache hit path where the query has one;
- ``rows``: a digest of the first call's sorted result rows.

Jobs are counted by job id (ids are sequential and every job reaches the
status store), so jobs of every job group count, streaming drains too.
Masking removes what differs between two processes on the same code:
expression ids, the scratch root and its ``mkdtemp`` suffixes, drain view
names and other long hex ids.

Some figures change with process state, not with the code. They are
listed in ``EXEMPT_PLAN`` and ``EXEMPT_JOBS`` and reported apart.

Usage::

    python tools/plan_audit.py --sf SF_DIR --out audit.jsonl [--only q1,q2]
    python tools/plan_audit.py --compare before.jsonl after.jsonl

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``. The engine is imported from
the checkout this file lives in, so copy the file into another checkout to
audit that one. ``SPARK_DRIVER_MEMORY`` sizes the driver as in
``session.get_spark``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import time

#: optimized plans that depend on process state: the ``Expand`` of a
#: multi-column distinct aggregate lists its columns in one order when all
#: queries are built in one process and in the other when built alone
EXEMPT_PLAN = {
    "chi_square_event_dow",
    "profile_distinct",
    "profile_distinct_approx",
}
#: builder job counts that move between fresh processes on the same code
EXEMPT_JOBS = {"dbscan_embedding_clusters"}

JOB_FIELDS = ("builder_jobs", "exec_jobs", "second_jobs")


def mask(plan: str, scratch: str) -> str:
    """``plan`` with process-specific names replaced by placeholders."""
    plan = plan.replace(scratch, "<scratch>")
    plan = re.sub(r"#\d+L?", "#", plan)
    # mkdtemp names: <prefix>_ plus 8 random characters
    plan = re.sub(r"(<scratch>/[^/\s,\]\)]*?_)[a-z0-9_]{8}(?=[/\s,\]\)])",
                  r"\1<tmp>", plan)
    plan = re.sub(r"[0-9a-f]{16,}", "<hex>", plan)
    return plan


def _digest(rows) -> str:
    lines = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class JobCounter:
    """Counts the Spark jobs allocated since the previous call."""

    def __init__(self, sc):
        self.sc = sc
        self.next_id = 0
        self.take()

    def take(self) -> int:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        known = tracker.getJobIdsForGroup()
        if known:
            self.next_id = max(self.next_id, min(known))
        n = 0
        while tracker.getJobInfo(self.next_id) is not None:
            self.next_id += 1
            n += 1
        return n


def audit(sf_dir: str, out_path: str, only: set[str] | None) -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
        __file__))))
    from newyork_taxi_etl_spark import registry
    from newyork_taxi_etl_spark.session import get_spark, scratch_root

    spark = get_spark(app_name="plan-audit", master="local[4]",
                      shuffle_partitions=4)
    fns = registry.queries()
    names = sorted(n for n in fns if only is None or n in only)
    scratch = scratch_root()
    jobs = JobCounter(spark.sparkContext)
    with open(out_path, "w") as out:
        for name in names:
            rec = {"name": name}
            t0 = time.time()
            jobs.take()
            try:
                df = fns[name](spark, sf_dir)
                rec["builder_jobs"] = jobs.take()
                rec["plan"] = mask(
                    df._jdf.queryExecution().optimizedPlan().toString(),
                    scratch)
                rec["rows"] = _digest(df.collect())
                rec["exec_jobs"] = jobs.take()
                again = fns[name](spark, sf_dir).collect()
                rec["second_jobs"] = jobs.take()
                rec["second_rows_equal"] = _digest(again) == rec["rows"]
            except Exception as e:  # one failing query must not end the walk
                rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                jobs.take()
            rec["s"] = round(time.time() - t0, 2)
            out.write(json.dumps(rec) + "\n")
            out.flush()
            print(name, {k: rec.get(k) for k in JOB_FIELDS + ("error",)},
                  flush=True)
    spark.stop()


def _load(path: str) -> dict[str, dict]:
    with open(path) as f:
        return {r["name"]: r for r in map(json.loads, f)}


def compare(before_path: str, after_path: str) -> int:
    """Print every difference; return how many are not exempt."""
    before, after = _load(before_path), _load(after_path)
    bad = 0
    for name in sorted(set(before) | set(after)):
        b, a = before.get(name), after.get(name)
        if b is None or a is None:
            print(f"{name}: only in {'after' if b is None else 'before'}")
            bad += 1
            continue
        for k in ("error",):
            if b.get(k) or a.get(k):
                print(f"{name}: error before={b.get(k)!r} after={a.get(k)!r}")
        if b.get("plan") != a.get("plan"):
            exempt = name in EXEMPT_PLAN
            print(f"{name}: plan differs{' (exempt)' if exempt else ''}")
            bad += not exempt
        if b.get("rows") != a.get("rows"):
            print(f"{name}: result rows differ")
            bad += 1
        moved = {k: (b.get(k), a.get(k)) for k in JOB_FIELDS
                 if b.get(k) != a.get(k)}
        if moved:
            exempt = name in EXEMPT_JOBS
            print(f"{name}: jobs {moved}{' (exempt)' if exempt else ''}")
            bad += not exempt
    print(f"{len(after)} queries, {bad} non-exempt differences")
    return bad


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    p.add_argument("--out")
    p.add_argument("--only", help="comma-separated query names")
    p.add_argument("--compare", nargs=2, metavar=("BEFORE", "AFTER"))
    args = p.parse_args()
    if args.compare:
        sys.exit(1 if compare(*args.compare) else 0)
    if not args.sf or not args.out:
        p.error("--sf (or $SPARK_GRAFT_SF_DIR) and --out are required")
    only = set(args.only.split(",")) if args.only else None
    audit(args.sf, args.out, only)


if __name__ == "__main__":
    main()
