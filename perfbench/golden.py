"""Golden output fingerprints for the benchmark's correctness gate.

A fingerprint is the row count, the sorted column names and a SHA-256 of
the rows after ``_normalize`` of the repository's DuckDB-oracle compare
(``tests/oracle_harness.py``: columns sorted by name, cells rendered as
strings, rows sorted).  Equal fingerprints mean equal results regardless
of row order.

``golden.json`` holds one fingerprint per benchmark query, computed once
by running each query's DuckDB oracle SQL over the tables ``datagen.py``
writes.  Regenerate it whenever a workload gains a query or ``datagen.py``
changes:

    python3 perfbench/golden.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDEN_PATH = os.path.join(HERE, "golden.json")


def datagen_digest() -> str:
    """SHA-256 of ``datagen.py``: the tables a golden file is valid for."""
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def fingerprint(pdf) -> dict:
    """Order-insensitive fingerprint of a pandas result frame."""
    tests = os.path.join(ROOT, "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    from oracle_harness import _normalize

    norm = _normalize(pdf)
    cols = list(norm.columns)
    rows = norm.values.tolist()
    digest = hashlib.sha256(
        json.dumps([cols, rows], separators=(",", ":")).encode()
    ).hexdigest()
    return {"rows": len(rows), "columns": cols, "sha256": digest}


def load() -> dict:
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def main() -> None:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import datagen
    import duckdb
    from workloads import WORKLOADS

    from newyork_taxi_etl_spark import registry

    oracles = registry.oracle_sql()
    names = sorted({n for qs in WORKLOADS.values() for n in qs})
    missing = [n for n in names if n not in oracles]
    if missing:
        sys.exit(f"queries without DuckDB oracle SQL: {missing}")
    with tempfile.TemporaryDirectory() as tmp:
        datagen.write(tmp)
        con = duckdb.connect()
        for fn in sorted(os.listdir(tmp)):
            con.execute(f"CREATE VIEW {fn.removesuffix('.parquet')} AS "
                        f"SELECT * FROM '{os.path.join(tmp, fn)}'")
        out = {
            "datagen_sha256": datagen_digest(),
            "queries": {n: fingerprint(con.execute(oracles[n]).fetchdf())
                        for n in names},
        }
        con.close()
    with open(GOLDEN_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
