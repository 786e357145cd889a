"""The exact-count Naive Bayes grid replay on degenerate pools.

Every oracled NB entry replays its promotion math from one contingency
grid. On an empty unlabeled pool (orders holding only labeled rows) and
on an empty orders table, each entry must still return exactly its
DuckDB oracle's rows, NULL for NULL: the oracles' SUMs over no rows
are NULL, their GROUP BYs return no rows, and their kBest ranks
promote nothing.
"""

from __future__ import annotations

import math
import shutil

import duckdb
import pytest

from tests.conftest import SF_DIR
from tfm_semisup_spark.queries import ORACLES, QUERIES, load_all_queries

load_all_queries()

NB_ENTRIES = [
    "ssl_selftrain_one_round_nb",
    "ssl_selftrain_two_round_nb",
    "ssl_selftrain_one_round_kbest",
    "ssl_cotrain_one_round_nb",
    "ssl_tritrain_one_round_nb",
    "ssl_nb_calibration_bins",
    "ssl_isotonic_calibration",
    "ssl_brier_decomposition",
    "ssl_conformal_nb",
    "ssl_cotrain_two_round_nb",
    "ssl_cotrain_two_round_threshold",
    "ssl_mcnemar_feature_ablation",
    "ssl_tritrain_two_round_nb",
    "ssl_kappa_agreement",
    "ssl_pr_curve_nb",
    "ssl_paired_fold_ttest_nb",
    "ssl_cotrain_two_round_feature_split",
    "ssl_cotrain_two_round_instance_split",
    "ssl_roc_auc_nb",
]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    return None if v is None else str(v)


@pytest.mark.parametrize("orders_filter", ["labeled_only", "empty"])
def test_nb_entries_match_oracles_on_degenerate_pools(spark, tmp_path, orders_filter):
    from tfm_semisup_spark.queries.ssl_queries import _ST1_MASK_SQL

    where = f"{_ST1_MASK_SQL} = 0" if orders_filter == "labeled_only" else "false"
    shutil.copy(f"{SF_DIR}/customer.parquet", tmp_path / "customer.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT * FROM '{SF_DIR}/orders.parquet' WHERE {where}) "
        f"TO '{tmp_path / 'orders.parquet'}' (FORMAT PARQUET)"
    )
    con = duckdb.connect()
    for t in ("orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path / t}.parquet'")
    n_orders = con.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    assert (n_orders > 0) == (orders_filter == "labeled_only")

    non_empty = []
    for name in NB_ENTRIES:
        sdf = QUERIES[name](spark, str(tmp_path))
        cols = sorted(sdf.columns)
        srows = sorted(
            (tuple(_norm(r[c]) for c in cols) for r in sdf.collect()), key=repr
        )
        # fetchall keeps SQL NULL as None (fetchdf would turn it into NaN)
        cur = con.execute(ORACLES[name])
        names = [d[0] for d in cur.description]
        drows = sorted(
            (
                tuple(_norm(dict(zip(names, rec))[c]) for c in cols)
                for rec in cur.fetchall()
            ),
            key=repr,
        )
        assert sorted(names) == cols, name
        assert srows == drows, (name, srows, drows)
        if srows:
            non_empty.append(name)
    # the ungrouped readouts answer with one (NULL-carrying) row
    assert {
        "ssl_brier_decomposition",
        "ssl_kappa_agreement",
        "ssl_mcnemar_feature_ablation",
        "ssl_roc_auc_nb",
        "ssl_paired_fold_ttest_nb",
    } <= set(non_empty)
