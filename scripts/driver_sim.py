"""Driver simulation: consume __spark_entry__.py exactly as the
grading driver does — vanilla SparkSession, every query at the given
SF, DuckDB oracle compare with the driver's normalization (sorted
columns, 6dp float formatting, order-insensitive rows).

Usage:
    PYTHONPATH=. python scripts/driver_sim.py              # sf0.01, all queries
    PYTHONPATH=. python scripts/driver_sim.py sf0.001      # quicker
    PYTHONPATH=. python scripts/driver_sim.py sf0.01 name1 name2 ...

Exit code 0 iff zero mismatches. Rows-only queries are run (rows
counted) but not compared; each ``rows-only:`` line carries a short
sha256 of the entry's normalized, sorted rows, so row identity between
two code versions is a diff of two outputs. Before the sweep one
``oracles: <n> sha256=<16 hex>`` line digests the sorted (name, SQL)
pairs of the swept oracles, so oracle byte-identity is a diff too.
Pass names to restrict the sweep.
"""

from __future__ import annotations

import hashlib
import math
import sys

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "sf0.01"
    only = set(sys.argv[2:])
    sf_dir = f"/root/testdata/{sf}"

    from pyspark.sql import SparkSession

    import os

    # $DRIVER_SIM_SHUFFLE overrides the partition count — a cheap
    # partitioning-sensitivity sweep (every oracle must hash-match at
    # ANY parallelism, or it would be driver-environment-dependent).
    shuffle = os.environ.get("DRIVER_SIM_SHUFFLE", "32")
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.ui.enabled", "false")
        .appName("driver-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # $DRIVER_SIM_STRICT_CODEGEN=1 makes janino compile failures FATAL
    # instead of a silent interpreted fallback — a repo-wide sweep
    # under this flag proves no query's hot stage quietly abandons
    # whole-stage codegen (the r7-verdict defect class;
    # tests/test_plan_shapes_r8b.py pins r8-born queries per-test).
    if os.environ.get("DRIVER_SIM_STRICT_CODEGEN"):
        spark.conf.set("spark.sql.codegen.fallback", "false")

    import __spark_entry__ as e
    from tfm_semisup_spark.queries import vacuous_ok

    assert len(e.entry(spark).collect()) > 0, "entry() returned no rows"

    def duck(sql: str):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        return con.execute(sql).fetchdf()

    oracles = e.oracle_sql()
    registry = e.queries()
    unknown = only - set(registry)
    if unknown:
        print(f"unknown query names: {sorted(unknown)}", file=sys.stderr)
        return 2
    # one digest over the swept oracle texts: oracle byte-identity
    # between two code versions is a diff of this line
    swept = sorted(
        (name, sql) for name, sql in oracles.items() if not only or name in only
    )
    digest = hashlib.sha256(repr(swept).encode()).hexdigest()[:16]
    print(f"oracles: {len(swept)} sha256={digest}")
    bad, n_ok, n_rows_only = [], 0, 0
    for name, fn in sorted(registry.items()):
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        cols = sorted(sdf.columns)
        srows = sorted(
            tuple(_norm(r[c]) for c in cols) for r in sdf.collect()
        )
        if name not in oracles:
            n_rows_only += 1
            # $DRIVER_SIM_ROWSONLY_TWICE=1: rows-only entries have no
            # oracle, so their one checkable contract is DETERMINISM
            # (CLAUDE.md: fixed seeds, hash-based masking — never
            # partitioning-sensitive randomness). Run the callable a
            # second time and require identical normalized rows.
            if os.environ.get("DRIVER_SIM_ROWSONLY_TWICE"):
                srows2 = sorted(
                    tuple(_norm(r[c]) for c in cols)
                    for r in fn(spark, sf_dir).collect()
                )
                if srows != srows2:
                    bad.append((name, "nondeterministic"))
                    continue
            digest = hashlib.sha256(repr(srows).encode()).hexdigest()[:16]
            print(f"rows-only: {name} ({len(srows)} rows) sha256={digest}")
            continue
        # vacuity guard (VERDICT r12 #5): 0==0 rows hash-matches
        # trivially — an empty oracled result is a failure unless the
        # registry allowlists it for THIS SF with a justification +
        # sibling (tfm_semisup_spark.queries.VACUOUS_OK; SF-aware per
        # the r13 review — q11's guard stays live at sf0.001).
        if not srows and not vacuous_ok(name, sf_dir):
            bad.append((name, "empty"))
            continue
        ddf = duck(oracles[name])
        if sorted(ddf.columns.tolist()) != cols:
            bad.append((name, "cols"))
            continue
        drows = sorted(
            tuple(_norm(rec[c]) for c in cols)
            for rec in ddf.to_dict(orient="records")
        )
        if srows != drows:
            bad.append(name)
        else:
            n_ok += 1
    print(f"oracled ok: {n_ok}  rows-only run: {n_rows_only}  mismatches: {bad}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
