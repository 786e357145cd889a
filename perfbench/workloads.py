"""The benchmark's workloads: how each one generates its inputs, which
units it runs, how a unit calls the package, and how its output is
checked.

A unit is the smallest piece of work that is timed: one experiment
grid cell including its k-fold CV, or one corpus shard. Units call the
package only through its public functions, and call patched layers
through their modules (``graft_io.load_table``), so a traced run sees
every call.
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tfm_semisup_spark import io as graft_io
from tfm_semisup_spark import sources
from tfm_semisup_spark.featurization import ArrayToVector
from tfm_semisup_spark.operators import grid, lineage
from tfm_semisup_spark.operators import semantic_dedup as semdedup
from tfm_semisup_spark.pipeline import CorpusPipeline
from tfm_semisup_spark.queries import ORACLES
from tfm_semisup_spark.queries import dedup_cascade

import gen


@dataclass(frozen=True)
class Unit:
    label: str
    items: int
    payload: Any


class CheckFailed(Exception):
    pass


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class SslGridSmall:
    """The reference's experiment-grid shape on a KEEL-sized table:
    four grid cells, each a full k-fold CV of
    featurization -> label masking -> SSC estimator."""

    name = "ssl-grid-small"
    item_name = "grid cells"
    ROWS = 1_000
    FOLDS = 2
    MAX_ITER = 2
    LABELED = 0.3
    THRESHOLD = 0.7
    KBEST = 1.0

    def __init__(self, work_dir: str, seed: int):
        self.data_dir = f"{work_dir}/ssl"
        self.seed = seed
        self.reference: dict[str, tuple] = {}

    def generate(self) -> None:
        gen.write_ssl_table(self.data_dir, self.seed, self.ROWS)

    def plan(self) -> tuple[list[Unit], list[Unit]]:
        """(warm-up pass, measured pass). Every cell runs a different
        code path, and the warm-up records each cell's reference row."""
        units = self._cells()
        return units, units

    def ready(self) -> None:
        pass

    def _cells(self) -> list[Unit]:
        clf = grid.reference_classifiers(nb_model_type="gaussian")
        pct = [self.LABELED]
        cells = (
            grid.build_ssl_grid(
                {"DT": clf["DT"]}, pct, thresholds=[self.THRESHOLD],
                family="selfTraining", max_iter=self.MAX_ITER,
            )
            + grid.build_ssl_grid(
                {"NB": clf["NB"]}, pct, kbests=[self.KBEST], criteria=("kBest",),
                family="selfTraining", max_iter=self.MAX_ITER,
            )
            + grid.build_ssl_grid(
                {"NB": clf["NB"]}, pct, thresholds=[self.THRESHOLD],
                family="coTraining", max_iter=self.MAX_ITER,
            )
            + grid.build_ssl_grid({"DT": clf["DT"]}, pct, family="supervised")
        )
        families = ("selfTraining", "selfTraining", "coTraining", "supervised")
        return [
            Unit(f"{fam}-{c.classifier_name}-{c.criterion}", 1, c)
            for fam, c in zip(families, cells)
        ]

    def run_unit(self, spark, unit: Unit, tracer) -> list[tuple]:
        data = graft_io.load_table(spark, self.data_dir, "embeddings")
        data = data.withColumn("label", F.col("label").cast("double"))
        features = [ArrayToVector(inputCol="embedding", outputCol="features")]
        results = grid.run_experiment_grid(
            spark, data, "gauss16", features, [unit.payload],
            k=self.FOLDS, id_col="vec_id",
        )
        return [tuple(r) for r in results.collect()]

    def check(self, unit: Unit, rows: list[tuple]) -> None:
        _require(len(rows) == 1, "one AllResults row per cell")
        ref = self.reference.setdefault(unit.label, rows[0])
        _require(rows[0] == ref, "AllResults row differs from the first pass")
        r = dict(zip(grid.RESULTS_SCHEMA.fieldNames(), rows[0]))
        before = r["LabeledInitial"] + r["UnLabeledInitial"]
        after = r["LabeledFinal"] + r["UnLabeledFinal"]
        # the grid averages pool sizes over folds with floor division,
        # so the two sums may differ by one row
        _require(abs(before - after) <= 1, "pool bookkeeping not conserved")
        for m in ("percentageLabeledFinal", "accuracy", "AUC", "PR", "F1score"):
            _require(0.0 <= r[m] <= 1.0, f"{m} outside [0, 1]")


class CorpusDedup:
    """The data-pipeline surface: per ingest shard, the fluent corpus
    pipeline and its partitioned write, the dedup cascade report and
    semantic dedup over the shard's embeddings."""

    name = "corpus-dedup"
    item_name = "documents"
    DOCS = 1_500
    VECS = 1_500
    SHARDS = 3
    # planted duplicates each dedup path must find
    MIN_RECALL = 0.9

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed

    def generate(self) -> None:
        """Write the shards and start their cascade oracles: DuckDB runs
        them on a background thread while the session starts and warms
        up (about 6 CPU seconds per shard); ``ready`` waits for them
        before the measured window starts."""
        self.shards = gen.write_corpus_shards(
            f"{self.work_dir}/corpus", self.seed, self.DOCS, self.VECS, self.SHARDS
        )
        pool = ThreadPoolExecutor(max_workers=1)
        self.oracle = {d: pool.submit(_cascade_oracle, d) for d, _truth in self.shards}
        pool.shutdown(wait=False)

    def ready(self) -> None:
        """Wait for the oracles, so they share no CPU with measured units."""
        for future in self.oracle.values():
            future.result()

    def plan(self) -> tuple[list[Unit], list[Unit]]:
        """(warm-up pass, measured pass): shards arrive one after the
        other; the first one warms the application up and the others
        are measured."""
        per_shard = self.DOCS // self.SHARDS
        units = [
            Unit(f"shard{i}", per_shard, shard)
            for i, shard in enumerate(self.shards)
        ]
        return units[:1], units[1:]

    def run_unit(self, spark, unit: Unit, tracer) -> dict:
        shard_dir, _truth = unit.payload
        out_dir = f"{self.work_dir}/out/{unit.label}"
        with tracer.span("pipeline.exec"):
            docs = graft_io.load_table(spark, shard_dir, "documents")
            clean = (
                CorpusPipeline.from_documents(docs)
                .dedup_exact()
                .filter_quality_gopher()
                .near_dedup_minhash()
                .with_fingerprints()
                .df()
            )
            sources.write_partitioned_parquet(clean, out_dir, ["lang"])
        with tracer.span("queries.build"):
            report = dedup_cascade.dedup_cascade_report(spark, shard_dir)
        with tracer.span("queries.exec"):
            cascade = [tuple(r) for r in report.collect()]
        emb = graft_io.load_table(spark, shard_dir, "embeddings")
        sem = semdedup.semantic_dedup(
            emb,
            dim=graft_io.embedding_dim(shard_dir),
            approx_n=graft_io.table_row_count(shard_dir, "embeddings"),
        )
        by_stage = {r[0]: r for r in cascade}
        tracer.annotate(
            candidate_pairs=by_stage["2_winnow_candidates"][2],
            verified_pairs=by_stage["3_jaccard_verified"][2],
        )
        return {"out_dir": out_dir, "cascade": cascade, "semantic": sem}

    def check(self, unit: Unit, out: dict) -> None:
        shard_dir, truth = unit.payload
        sem = out["semantic"]
        try:
            dropped_vecs = {
                r["id"] for r in sem.where(~F.col("keep")).select("id").collect()
            }
        finally:
            lineage.release(sem)
        _require(
            sorted(out["cascade"]) == self.oracle[shard_dir].result(),
            "dedup_cascade_report differs from its DuckDB oracle",
        )
        kept_docs = set(pq.read_table(out["out_dir"], columns=["doc_id"])["doc_id"].to_pylist())
        # a planted copy counts as found when its source survived the
        # pipeline and the copy did not
        live = [(a, b) for a, b in truth.doc_pairs if a in kept_docs]
        found = sum(b not in kept_docs for _a, b in live)
        _require(
            live and found >= math.ceil(self.MIN_RECALL * len(live)),
            f"MinHash found {found} of {len(live)} planted pairs",
        )
        found = sum(b in dropped_vecs for _a, b in truth.vec_pairs)
        _require(
            found >= math.ceil(self.MIN_RECALL * len(truth.vec_pairs)),
            f"semantic dedup found {found} of {len(truth.vec_pairs)} planted pairs",
        )


def _cascade_oracle(shard_dir: str) -> list[tuple]:
    """The cascade report's DuckDB oracle over one shard's parquet."""
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{shard_dir}/documents.parquet')"
        )
        return sorted(con.execute(ORACLES["dedup_cascade_report"]).fetchall())
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (SslGridSmall, CorpusDedup)}

