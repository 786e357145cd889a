"""Equivalence pins for the r15 OPTIMIZATION round rewrites."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_lloyd_early_exit_is_bit_equal_to_full_iterations():
    """The fixed-point early exit in operators.similarity._lloyd is
    bit-identical to running every iteration: an unchanged assignment
    reproduces the current centroids exactly (non-empty clusters take
    the same slice mean, empty clusters keep their value), so the
    remaining iterations are no-ops."""
    import numpy as np

    from tfm_semisup_spark.functions.vector import _SQ_DISTS_BLOCK_ELEMS
    from tfm_semisup_spark.operators.similarity import _lloyd

    def lloyd_full(points, k, seed, iters=25):
        rng = np.random.RandomState(seed)
        n = points.shape[0]
        centroids = points[rng.choice(n, size=min(k, n), replace=False)].copy()
        if centroids.shape[0] < k:
            centroids = np.vstack(
                [centroids] * (k // centroids.shape[0] + 1)
            )[:k]
        dim = points.shape[1]
        step = max(1, _SQ_DISTS_BLOCK_ELEMS // max(1, n * dim))
        for _ in range(iters):
            d2 = np.empty((n, k), dtype=np.float64)
            for s in range(0, k, step):
                block = centroids[s : s + step]
                d2[:, s : s + step] = (
                    (points[:, None, :] - block[None, :, :]) ** 2
                ).sum(axis=2)
            assign = d2.argmin(axis=1)
            order = np.argsort(assign, kind="stable")
            sorted_pts = points[order]
            uniq, starts = np.unique(assign[order], return_index=True)
            ends = np.append(starts[1:], n)
            for c, s0, e0 in zip(uniq, starts, ends):
                centroids[c] = sorted_pts[s0:e0].mean(axis=0)
        return centroids

    rng = np.random.RandomState(11)
    # shapes chosen to converge early, converge late (uniform noise),
    # and exercise empty clusters (k > n)
    for n, dim, k in ((400, 8, 12), (300, 64, 40), (30, 4, 48)):
        pts = rng.rand(n, dim)
        assert np.array_equal(_lloyd(pts, k, 42), lloyd_full(pts, k, 42)), (
            n,
            dim,
            k,
        )


def test_components_materialized_fast_path_matches_default(spark):
    """connected_components(pairs_materialized=True) produces the
    identical (node, component) rows as the default symmetrized path
    (union-find is orientation-insensitive)."""
    from tfm_semisup_spark.operators.components import connected_components

    rows = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 20), (5, 30)]
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
    default = sorted(connected_components(pairs).collect())
    fast = sorted(
        connected_components(
            pairs.localCheckpoint(), pairs_materialized=True
        ).collect()
    )
    assert default == fast
    assert len(default) > 0


def test_pairs_kernel_matches_join_dot_form(spark):
    """The Arrow pair kernel (_pairs_kernel) emits EXACTLY the
    (doc_a, doc_b, cos_sim) rows of the cell self-join + flat codegen
    dot it replaced — including bit-equal cos values (same
    left-associative float64 sum), on clusters big enough to salt.
    The shared numpy dot (pair_dot) also equals dot_fixed bit for bit,
    unrounded, at dims 7, 64 and 3."""
    import numpy as np

    from tfm_semisup_spark.functions.vector import dot_fixed, pair_dot
    from tfm_semisup_spark.operators.semantic_dedup import (
        _pairs_kernel,
        with_salted_cells,
    )

    rng = np.random.RandomState(3)
    for dim in (7, 64, 3):
        rows = []
        for i in range(400):
            v = rng.rand(dim) - 0.3
            n = np.sqrt((v * v).sum())
            rows.append((int(i), int(i % 3), (v / n).tolist()))
        unit = spark.createDataFrame(rows, "id long, c int, u array<double>")
        celled = with_salted_cells(unit, max_pair_cluster_size=50)
        thr = 0.2
        kernel = sorted(
            _pairs_kernel(celled, thr, dim)
            .select("doc_a", "doc_b", F.round("cos", 6).alias("cos_sim"))
            .collect()
        )
        a = celled.select(
            F.col("id").alias("doc_a"), "cell", F.col("u").alias("ua")
        )
        b = celled.select(
            F.col("id").alias("doc_b"),
            F.col("cell").alias("cell_b"),
            F.col("u").alias("ub"),
        )
        cos = dot_fixed("ua", "ub", dim)
        join = sorted(
            a.join(b, (a["cell"] == b["cell_b"]) & (a["doc_a"] < b["doc_b"]))
            .withColumn("cos_sim", cos)
            .where(F.col("cos_sim") >= thr)
            .select("doc_a", "doc_b", F.round("cos_sim", 6).alias("cos_sim"))
            .collect()
        )
        assert len(join) > 0, dim
        assert kernel == join, dim

        U = np.asarray([r[2] for r in rows])
        ia, ib = np.arange(0, 200), np.arange(399, 199, -1)
        pairs = spark.createDataFrame(
            [(rows[x][2], rows[y][2]) for x, y in zip(ia, ib)],
            "ua array<double>, ub array<double>",
        )
        spark_dots = [r[0] for r in pairs.select(dot_fixed("ua", "ub", dim)).collect()]
        assert pair_dot(U, U, dim, ia, ib).tolist() == spark_dots, dim


def test_cell_pair_blocks_cover_all_pairs():
    """_cell_pair_blocks yields every i < j pair exactly once under a
    tiny block budget (the chunking used for 10k-row salted cells)."""
    import numpy as np

    from tfm_semisup_spark.operators.semantic_dedup import _cell_pair_blocks

    for m in (2, 3, 17, 64):
        got = set()
        for ia, ib in _cell_pair_blocks(m, max_pairs=23):
            assert (ia < ib).all()
            for x, y in zip(ia.tolist(), ib.tolist()):
                assert (x, y) not in got
                got.add((x, y))
        assert len(got) == m * (m - 1) // 2


def test_theilsen_replay_matches_join_form(spark):
    """The driver-side banded-slope replay of
    theilsen_daily_revenue_slope produces the identical rows as the
    explode×gap + equi-join + positional-median window form it
    replaced, on a synthetic day grid WITH HOLES (the ordinal-lookup
    pair generation is the risky part)."""
    from datetime import date, timedelta

    from pyspark.sql import Window

    from tfm_semisup_spark.queries.stats3 import _TS_MAX_GAP

    # two priorities, irregular day coverage, some ties
    base = date(2030, 1, 1)
    rows = []
    for p, offs in (
        ("1-URGENT", [0, 1, 2, 5, 9, 40, 95, 96, 200]),
        ("2-HIGH", [3, 4, 8, 8 + _TS_MAX_GAP, 300]),
    ):
        for i, o in enumerate(offs):
            rows.append((p, base + timedelta(days=o), 1000 + 7 * i * i))
    daily = spark.createDataFrame(
        rows, "priority string, day date, cents long"
    )
    # old window form
    left = daily.select(
        "priority",
        F.col("day").alias("d1"),
        F.col("cents").alias("c1"),
        F.explode(F.sequence(F.lit(1), F.lit(_TS_MAX_GAP))).alias("g"),
    ).withColumn("d2", F.date_add("d1", F.col("g")))
    right = daily.select(
        F.col("priority").alias("rp"),
        F.col("day").alias("d2r"),
        F.col("cents").alias("c2"),
    )
    slopes = left.join(
        right, (F.col("priority") == F.col("rp")) & (F.col("d2") == F.col("d2r"))
    ).select(
        "priority",
        ((F.col("c2") - F.col("c1")).cast("double") / F.col("g")).alias("slope"),
    )
    w = Window.partitionBy("priority").orderBy("slope")
    ranked = slopes.select(
        "priority",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("priority")).alias("n"),
    )
    med = (
        ranked.where(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor(F.col("n") / 2) + 1)
        )
        .groupBy("priority")
        .agg(
            F.max("n").cast("bigint").alias("n_pairs"),
            F.min("slope").alias("lo"),
            F.max("slope").alias("hi"),
        )
        .select(
            "priority",
            "n_pairs",
            (F.col("lo") + (F.col("hi") - F.col("lo")) * 0.5).alias("med"),
        )
    )
    expected = {
        r["priority"]: (r["n_pairs"], r["med"]) for r in med.collect()
    }
    # new replay (same code path as the query, on the same grid)
    import numpy as np

    got = {}
    grid = {}
    for p, d, c in rows:
        grid.setdefault(p, []).append((d, c))
    for priority, cells in grid.items():
        cells = sorted(cells)
        ords = np.asarray([d.toordinal() for d, _ in cells], dtype=np.int64)
        cents = np.asarray([v for _, v in cells], dtype=np.int64)
        lo_ord = int(ords[0])
        pos = np.full(int(ords[-1]) - lo_ord + 1, -1, dtype=np.int64)
        pos[ords - lo_ord] = np.arange(len(ords))
        parts = []
        for g in range(1, _TS_MAX_GAP + 1):
            tgt = ords - lo_ord + g
            ok = tgt < len(pos)
            j = pos[tgt[ok]]
            hit = j >= 0
            i = np.flatnonzero(ok)[hit]
            j = j[hit]
            if len(j):
                parts.append((cents[j] - cents[i]).astype(np.float64) / float(g))
        s = np.concatenate(parts) if parts else np.empty(0)
        if len(s) == 0:
            continue
        s.sort()
        lo = s[(len(s) + 1) // 2 - 1]
        hi = s[len(s) // 2]
        got[priority] = (len(s), float(lo) + (float(hi) - float(lo)) * 0.5)
    assert got == expected
    assert len(got) == 2


def test_semantic_dedup_footer_n_matches_hll_path(spark):
    """dedup_semantic_semdedup with the exact footer row count resolves
    the same (k, train_mod) — and therefore identical rows — as the
    HLL-probe path at the gate SF."""
    from tfm_semisup_spark.io import embedding_dim, load_table, table_row_count
    from tfm_semisup_spark.operators.semantic_dedup import semantic_dedup

    emb = load_table(spark, SF_DIR, "embeddings")
    dim = embedding_dim(SF_DIR)
    with_footer = sorted(
        semantic_dedup(
            emb,
            threshold=0.45,
            dim=dim,
            approx_n=table_row_count(SF_DIR, "embeddings"),
        ).collect()
    )
    with_hll = sorted(
        semantic_dedup(emb, threshold=0.45, dim=dim).collect()
    )
    assert with_footer == with_hll
    assert len(with_footer) > 0


def test_table_row_count_reads_uris_like_local_paths(tmp_path):
    """The footer count (and the embedding dim) answer the same for a
    ``file://`` URI as for the plain path, on single-file and on
    directory-shaped tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tfm_semisup_spark.io import embedding_dim, table_row_count

    n = table_row_count(SF_DIR, "embeddings")
    assert n > 0
    assert table_row_count(f"file://{SF_DIR}", "embeddings") == n
    assert embedding_dim(f"file://{SF_DIR}") == embedding_dim(SF_DIR)

    table_dir = tmp_path / "docs.parquet"
    table_dir.mkdir()
    for i, rows in enumerate((3, 4)):
        pq.write_table(pa.table({"x": list(range(rows))}), table_dir / f"part-{i}.parquet")
    (table_dir / "_SUCCESS").write_text("")
    assert table_row_count(str(tmp_path), "docs") == 7
    assert table_row_count(f"file://{tmp_path}", "docs") == 7


def test_semdedup_entry_falls_back_where_pyarrow_cannot_open(spark, tmp_path, monkeypatch):
    """A missing or unreadable table raises from the footer read, and
    dedup_semantic_semdedup then takes semantic_dedup's Spark probes
    (approx_n=None, dim=None) with unchanged rows."""
    import pytest
    from pyarrow import ArrowException

    from tfm_semisup_spark import io as graft_io
    from tfm_semisup_spark.queries.dedup import dedup_semantic_semdedup

    with pytest.raises(OSError):
        graft_io.table_row_count(str(tmp_path), "embeddings")
    (tmp_path / "embeddings.parquet").write_text("not parquet")
    with pytest.raises(ArrowException):
        graft_io.table_row_count(str(tmp_path), "embeddings")

    footer_rows = sorted(dedup_semantic_semdedup(spark, SF_DIR).collect())

    def unreachable(path):
        raise OSError(f"no filesystem driver for {path}")

    monkeypatch.setattr(graft_io, "_parquet_files", unreachable)
    graft_io._ARRAY_DIM_CACHE.clear()
    probe_rows = sorted(dedup_semantic_semdedup(spark, SF_DIR).collect())
    assert probe_rows == footer_rows
    assert len(footer_rows) > 0
