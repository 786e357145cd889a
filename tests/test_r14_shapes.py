"""Round-14 plan and behavior pins.

- ssl_cotrain_one_round_nb's promotion cut is genuinely SELECTIVE
  (ADVICE r13 medium): the r13 "above-uniform-prior" predicate
  3*t_max > t_sum promoted the whole pool at every gate SF, so the
  threshold branch was dead code.  The r14 fix reuses the measured
  _CT2T_THR quantized cut; this file pins 0 < n_promoted < pool per
  view so a future promote-everything regression fails loudly;
- every r14-born query compiles under strict codegen (same governance
  auto-sweep as r13, keyed on driver_history birth rounds).
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_DIR, SF_DIR_01, strict_codegen_sweep
from tfm_semisup_spark.queries import QUERIES, load_all_queries

load_all_queries()

test_r14_queries_compile_under_strict_codegen = strict_codegen_sweep(14)


@pytest.mark.parametrize("sf", [SF_DIR, SF_DIR_01])
def test_cotrain_one_round_promotion_is_proper_subset(spark, sf):
    """The one-round co-training promotion must be a NONZERO, PROPER
    subset of the unlabeled pool for both views at both gate SFs —
    the exact property whose absence ADVICE r13 flagged (measured at
    the 0.37 cut: 959+983/1185 at sf0.001, 4771+3982/11953 at
    sf0.01, agreement 253/778)."""
    from tfm_semisup_spark.queries.ssl_queries import _nb1_base

    _, unlabeled = _nb1_base(spark, sf)
    pool = unlabeled.count()
    rows = QUERIES["ssl_cotrain_one_round_nb"](spark, sf).collect()
    per_view: dict[str, int] = {}
    for r in rows:
        per_view[r["view_name"]] = (
            per_view.get(r["view_name"], 0) + r["n_promoted"]
        )
    for view in ("priority", "month"):
        assert 0 < per_view.get(view, 0) < pool, (
            f"{view} promoted {per_view.get(view, 0)} of {pool} at {sf} — "
            "the threshold filter must do selective work"
        )
    # the agreement join must also carry real rows
    assert 0 < per_view.get("agreement", 0) < pool
    # and agreement is necessarily no larger than either view's set
    assert per_view["agreement"] <= min(
        per_view["priority"], per_view["month"]
    )


def test_stump_split_audit_matches_python_reference(spark):
    """Recompute the depth-1 stump's entire Gini split grid — labeled
    mask, per-split side counts, exact quantized purity score, winner
    — in plain Python integers from the raw orders rows, independent
    of both engines' SQL."""
    import hashlib

    import duckdb

    rows = {
        r["split_id"]: r
        for r in QUERIES["ssl_stump_split_audit"](spark, SF_DIR).collect()
    }
    con = duckdb.connect()
    df = con.execute(
        "SELECT o_orderkey, o_orderstatus, o_orderpriority, "
        "EXTRACT(month FROM o_orderdate)::BIGINT AS m "
        f"FROM '{SF_DIR}/orders.parquet'"
    ).fetchdf()
    labeled = []
    for okey, st, pri, m in zip(
        df.o_orderkey, df.o_orderstatus, df.o_orderpriority, df.m
    ):
        h = int(hashlib.md5(str(okey).encode()).hexdigest()[:4], 16)
        if h % 5 == 0:  # the _ST1_MASK labeled pool
            labeled.append((st, pri, int(m)))
    f1_vals = sorted({p for _, p, _ in labeled})
    split_defs = [(i, "f1", v) for i, v in enumerate(f1_vals)] + [
        (100 + t, "f2", t) for t in range(1, 12)
    ]
    n_checked = 0
    for sid, feat, val in split_defs:
        left: dict = {}
        right: dict = {}
        for st, pri, m in labeled:
            side = left if (
                (feat == "f1" and pri == val) or (feat == "f2" and m <= val)
            ) else right
            side[st] = side.get(st, 0) + 1
        n_l, n_r = sum(left.values()), sum(right.values())
        if n_l == 0 or n_r == 0:
            assert sid not in rows
            continue
        sl = sum(v * v for v in left.values())
        sr = sum(v * v for v in right.values())
        score_q = (sl * n_r + sr * n_l) * 10**9 // (n_l * n_r)
        r = rows[sid]
        assert (r["n_left"], r["n_right"]) == (n_l, n_r), sid
        assert r["score_q"] == score_q, sid
        assert r["split_val"] == str(val)
        n_checked += 1
    assert n_checked == len(rows) > 0
    # the rank column must be the exact (score_q DESC, split_id) order
    ranked = sorted(rows.values(), key=lambda r: (-r["score_q"], r["split_id"]))
    assert [r["rk"] for r in ranked] == list(range(1, len(ranked) + 1))


def test_stump_threshold_promotes_exactly_one_leaf_at_gates(spark):
    """The 0.37 cut must sit BETWEEN the two leaf posteriors at both
    gate SFs (measured r14: 0.4211/0.3643 at sf0.001, 0.3839/0.3412
    at sf0.01) — exactly one leaf promotes, a proper non-empty subset
    of the unlabeled pool."""
    from tfm_semisup_spark.queries.ssl_queries import _nb1_base

    for sf in (SF_DIR, SF_DIR_01):
        rows = QUERIES["ssl_stump_one_round_threshold"](spark, sf).collect()
        assert len(rows) == 2  # one row per stump leaf, always
        promoting = [r for r in rows if r["n_promoted"] > 0]
        assert len(promoting) == 1, rows
        _, unlabeled = _nb1_base(spark, sf)
        pool = unlabeled.count()
        assert 0 < promoting[0]["n_promoted"] < pool
        # promoted rows carry real key mass and a sane correct count
        assert promoting[0]["promoted_key_sum"] > 0
        assert 0 <= promoting[0]["n_promoted_correct"] <= promoting[0]["n_promoted"]


def _python_next_fit(rows, ctx):
    """Independent plain-Python replay of the strict-packing state
    machine: rows = [(doc_id, bucket, n_tokens)], returns
    {doc_id: (bucket, bin, n_tokens)}."""
    out = {}
    cur_bucket, cur_bin, fill = None, 0, 0
    for did, bucket, nt in sorted(rows, key=lambda r: (r[1], r[0])):
        if bucket != cur_bucket:
            cur_bucket, cur_bin, fill = bucket, 0, 0
        if fill > 0 and fill + nt > ctx:
            cur_bin += 1
            fill = 0
        fill += nt
        out[did] = (bucket, cur_bin, nt)
    return out


def test_pack_replay_audit_matches_python_reference(spark):
    """pack_strict_replay_audit (r14): the Arrow-operator output on the
    bounded slice must equal an INDEPENDENT plain-Python replay built
    straight from the parquet (hashlib md5 bucket + str.split tokens —
    no Spark, no DuckDB)."""
    import hashlib

    import pyarrow.parquet as pq

    from tfm_semisup_spark.queries.corpus_prep import (
        PACK_AUDIT_BUCKETS,
        PACK_AUDIT_CTX,
        PACK_AUDIT_DOCS,
    )

    tbl = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()
    sliced = sorted(tbl, key=lambda r: r["doc_id"])[:PACK_AUDIT_DOCS]
    ref_rows = []
    for r in sliced:
        digest = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()
        bucket = int(digest[:4], 16) % PACK_AUDIT_BUCKETS
        n_tokens = len([t for t in r["text"].split(" ") if t != ""])
        ref_rows.append((r["doc_id"], bucket, n_tokens))
    expect = _python_next_fit(ref_rows, PACK_AUDIT_CTX)

    got = {
        r["doc_id"]: (r["pack_bucket"], r["pack_bin"], r["n_tokens"])
        for r in QUERIES["pack_strict_replay_audit"](spark, SF_DIR).collect()
    }
    assert got == expect
    assert len(got) == PACK_AUDIT_DOCS
    # real packing dynamics, not one-doc-per-bin degeneracy
    from collections import Counter

    per_bin = Counter((b, bin_) for (b, bin_, _) in got.values())
    assert sum(1 for c in per_bin.values() if c >= 2) >= 5


def test_pack_operator_oversize_branch_matches_python_reference(spark):
    """The oversized-document branch (no gate-SF doc exceeds the audit
    ctx) pinned on synthetic data: a doc longer than ctx_tokens sits
    alone in its bin and the NEXT doc opens a fresh bin."""
    from tfm_semisup_spark.operators.packing import pack_first_fit

    ctx = 8
    texts = [
        (1, "a b c"),            # 3 tokens -> bin 0
        (2, "a b c d"),          # 4 tokens -> bin 0 (fill 7)
        (3, " ".join(["t"] * 12)),  # oversized: alone in bin 1
        (4, "a b"),              # bin 2 (previous bin over ctx)
        (5, " ".join(["u"] * 9)),   # oversized again: bin 3
        (6, "a"),                # bin 4
    ]
    df = spark.createDataFrame(
        [(i, t, 0) for i, t in texts], "doc_id long, text string, bkt int"
    )
    got = {
        r["doc_id"]: (r["pack_bucket"], r["pack_bin"], r["n_tokens"])
        for r in pack_first_fit(df, ctx_tokens=ctx, bucket_col="bkt").collect()
    }
    ref = [(i, 0, len(t.split(" "))) for i, t in texts]
    assert got == _python_next_fit(ref, ctx)
    assert [got[i][1] for i in range(1, 7)] == [0, 0, 1, 2, 3, 4]


def test_sf01_adjudicated_vacuity_set_is_current():
    """r14 full-sf0.1 sweep audit: the three entries legitimately empty
    at sf0.1 are allowlisted per-SF with non-vacuous siblings, and the
    fixed ``distinct_set_ops`` (bounded bottom-10 EXCEPT side — at most
    10 of ~25 nations removable at any corpus size) stays NON-vacuous
    at sf0.1. DuckDB-only: pins the data-vs-constant adjudication
    without a Spark job."""
    import duckdb

    from tfm_semisup_spark.queries import VACUOUS_OK, load_all_queries
    from tfm_semisup_spark.queries import ORACLES

    load_all_queries()
    for name in ("basket_part_triples", "item_link_prediction_ra",
                 "ssl_cotrain_one_round_nb"):
        entry = VACUOUS_OK[name]
        assert "sf0.1" in entry["empty_ok_at"]
        assert "sf0.001" not in entry["empty_ok_at"]  # gate guard stays live
        assert entry["sibling"] in ORACLES

    con = duckdb.connect()
    for t in ("customer",):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'/root/testdata/sf0.1/{t}.parquet'"
        )
    n = con.execute(
        f"SELECT COUNT(*) FROM ({ORACLES['distinct_set_ops']})"
    ).fetchone()[0]
    assert n > 0, "distinct_set_ops regressed to empty at sf0.1"
