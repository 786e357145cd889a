"""Per-layer tracing, recorded from outside the package.

``Tracer.wrap`` replaces a layer's public function with a wrapper that
records a span (name, start, end, parent) around each call. The
wrapper is installed wherever the function is looked up: on its own
module and on every package module that imported it by name.

Each span runs under its own Spark job group, so the jobs, stages and
tasks a span caused can be read back from ``sc.statusTracker()`` and
from the event log the traced session writes. Jobs the tracer itself
runs (row counts for ratios) use a separate group and are left out of
every count.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
import types

TRACER_GROUP = "perfbench-tracer"
TRACER_SPAN = "tracer"
IDLE_GROUP = "perfbench-idle"
SSC_LAYERS = ("self_training", "co_training", "supervised")


class NullTracer:
    """Stand-in used by untraced runs: spans cost nothing."""

    def span(self, name: str, **attrs):
        return contextlib.nullcontext({})

    def annotate(self, **attrs) -> None:
        pass


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    # -- spans ---------------------------------------------------------

    def _group(self) -> str:
        return f"span-{self._stack[-1]}" if self._stack else IDLE_GROUP

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = {"name": name, "parent": parent, "start": time.time(), "end": None}
        span.update(attrs)
        self.spans.append(span)
        self._stack.append(idx)
        self.sc.setJobGroup(f"span-{idx}", name)
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._stack.pop()
            self.sc.setJobGroup(self._group(), "")

    def annotate(self, **attrs) -> None:
        self.spans[self._stack[-1]].update(attrs)

    def ancestor(self, idx: int | None, names: set[str]) -> dict | None:
        while idx is not None:
            if self.spans[idx]["name"] in names:
                return self.spans[idx]
            idx = self.spans[idx]["parent"]
        return None

    def side_job(self, fn):
        """Run a Spark action the tracer needs. Its jobs run outside every
        span's group and its time is a ``tracer`` span, which
        ``layer_metrics`` takes out of the enclosing spans."""
        with self.span(TRACER_SPAN):
            self.sc.setJobGroup(TRACER_GROUP, "")
            return fn()

    # -- patching ------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as span:
                out = orig(*args, **kwargs)
            if after is not None:
                after(span, args, kwargs, out)
            return out

        if isinstance(owner, types.ModuleType):
            for mod in list(sys.modules.values()):
                mod_name = getattr(mod, "__name__", "") or ""
                if mod is owner or mod_name.startswith("tfm_semisup_spark."):
                    for key, value in list(vars(mod).items()):
                        if value is orig:
                            self._undo.append((mod, key, orig, True))
                            setattr(mod, key, traced)
        else:
            self._undo.append((owner, attr, orig, attr in vars(owner)))
            setattr(owner, attr, traced)

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, orig, owned = self._undo.pop()
            if owned:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)

    def install(self) -> None:
        """Wrap every layer boundary the per-layer metrics read."""
        from pyspark.ml.classification import DecisionTreeClassifier, NaiveBayes
        from pyspark.ml.feature import MinHashLSH

        from tfm_semisup_spark import featurization, io, sources
        from tfm_semisup_spark.operators import (
            co_training,
            components,
            dedup,
            evaluation,
            grid,  # noqa: F401  (imports cross_validate by name)
            lineage,
            self_training,
            semantic_dedup,
            similarity,
            supervised,
            unlabeled,
        )
        from tfm_semisup_spark.queries import dedup_cascade  # noqa: F401

        def written_bytes(span, args, kwargs, out):
            path = args[1] if len(args) > 1 else kwargs["path"]
            span["bytes"] = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _dirs, files in os.walk(path)
                for f in files
            )

        def pool_summary(span, args, kwargs, model):
            s = model.ss_summary
            span["iterations"] = s.iterations
            span["promoted"] = s.labeled_final - s.labeled_initial
            span.setdefault("scored", 0)

        fit_spans = {f"{layer}.fit" for layer in SSC_LAYERS}

        def scored_rows(span, args, kwargs, out):
            df = args[0] if args else kwargs["df"]
            if "probMax" in df.columns:
                fit = self.ancestor(span["parent"], fit_spans)
                if fit is not None:
                    fit["scored"] = fit.get("scored", 0) + self.side_job(out.count)

        def pair_count(span, args, kwargs, out):
            span["pairs"] = self.side_job(out.count)

        w = self.wrap
        w(io, "load_table", "io.load")
        w(sources, "write_partitioned_parquet", "sources.write", written_bytes)
        w(featurization.ArrayToVector, "transform", "featurization.transform")
        w(unlabeled.UnlabeledTransformer, "transform", "unlabeled.transform")
        w(evaluation, "cross_validate", "evaluation.cv")
        w(evaluation, "evaluate_predictions", "evaluation.evaluate")
        w(self_training.SelfTraining, "fit", "self_training.fit", pool_summary)
        w(co_training.CoTraining, "fit", "co_training.fit", pool_summary)
        w(supervised.Supervised, "fit", "supervised.fit", pool_summary)
        for cls in (DecisionTreeClassifier, NaiveBayes, MinHashLSH):
            w(cls, "fit", "mllib.fit")
        w(lineage, "truncate", "lineage.truncate", scored_rows)
        w(lineage, "release", "lineage.release")
        w(dedup, "minhash_near_dup_pairs", "dedup.minhash")
        w(semantic_dedup, "train_semantic_centroids", "semantic_dedup.centroids")
        # the pair tier of semantic_dedup's driver-trained path, the one
        # the benchmark's corpus size takes
        w(semantic_dedup, "_pairs_from_unit", "semantic_dedup.pairs", pair_count)
        w(similarity, "collect_train_sample", "similarity.train_sample")
        w(components, "connected_components", "components.cc")

    # -- Spark-side accounting -------------------------------------------

    def status_counts(self) -> dict[int, dict]:
        """span idx -> {jobs, stages, tasks} this span ran itself, from
        the status tracker. Call once the listener bus has drained."""
        st = self.sc.statusTracker()
        out = {}
        for idx in range(len(self.spans)):
            jobs = st.getJobIdsForGroup(f"span-{idx}")
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                stages.update(info.stageIds if info is not None else ())
            ran = [st.getStageInfo(s) for s in stages]
            ran = [s for s in ran if s is not None and s.numCompletedTasks > 0]
            out[idx] = {
                "jobs": len(jobs),
                "stages": len(ran),
                "tasks": sum(s.numCompletedTasks for s in ran),
            }
        return out


def read_event_log(log_dir: str) -> dict[str, dict]:
    """job group -> {jobs, run_ms, shuffle_bytes, intervals} from a
    Spark event log. A stage belongs to the first job that lists it
    (later jobs list it again when they reuse its shuffle output)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def group(name: str) -> dict:
        return groups.setdefault(
            name, {"jobs": 0, "run_ms": 0, "shuffle_bytes": 0, "intervals": []}
        )

    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    group(g)["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = group(stage_group.get(info["Stage ID"], ""))
                    if "Submission Time" in info and "Completion Time" in info:
                        g["intervals"].append(
                            (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3)
                        )
                elif kind == "SparkListenerTaskEnd":
                    g = group(stage_group.get(ev["Stage ID"], ""))
                    m = ev.get("Task Metrics") or {}
                    g["run_ms"] += m.get("Executor Run Time", 0)
                    shuffle = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_bytes"] += shuffle.get("Shuffle Bytes Written", 0)
    return groups


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def layer_metrics(tracer: Tracer, passes: int, counts: dict, groups: dict) -> dict:
    """Per-pass layer metrics from the spans of the traced window."""
    spans = tracer.spans
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(i)

    def subtree(i: int) -> list[int]:
        out, todo = [], [i]
        while todo:
            j = todo.pop()
            out.append(j)
            todo.extend(children.get(j, ()))
        return out

    def duration(i: int) -> float:
        """Wall time of span ``i`` less the tracer's own spans inside it."""
        s = spans[i]
        own = sum(
            spans[j]["end"] - spans[j]["start"]
            for j in subtree(i) if spans[j]["name"] == TRACER_SPAN
        )
        return s["end"] - s["start"] - own

    def outermost(name: str) -> list[int]:
        # a span nested in a same-name span is already inside its time
        return [
            i for i, s in enumerate(spans)
            if s["name"] == name and tracer.ancestor(s["parent"], {name}) is None
        ]

    def secs(name: str) -> float:
        return sum(duration(i) for i in outermost(name)) / passes

    def calls(name: str) -> float:
        return len(outermost(name)) / passes

    def attr(name: str, key: str) -> float:
        return sum(s.get(key, 0) for s in spans if s["name"] == name)

    def jobs_under(name: str) -> float:
        return sum(
            counts[j]["jobs"]
            for s in range(len(spans)) if spans[s]["name"] == name
            for j in subtree(s)
        ) / passes

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    m = {
        "io.load_s": secs("io.load"),
        "io.load_calls": calls("io.load"),
        "sources.write_s": secs("sources.write"),
        "sources.write_bytes": attr("sources.write", "bytes") / passes,
        "featurization.transform_s": secs("featurization.transform"),
        "unlabeled.transform_s": secs("unlabeled.transform"),
        "evaluation.cv_s": secs("evaluation.cv"),
        "evaluation.evaluate_s": secs("evaluation.evaluate"),
        "evaluation.evaluate_calls": calls("evaluation.evaluate"),
    }
    for layer in SSC_LAYERS:
        fit = f"{layer}.fit"
        m[f"{layer}.fit_s"] = secs(fit)
        m[f"{layer}.fit_calls"] = calls(fit)
        m[f"{layer}.iterations"] = attr(fit, "iterations") / passes
        m[f"{layer}.promoted_ratio"] = ratio(attr(fit, "promoted"), attr(fit, "scored"))
    m.update({
        "mllib.fit_s": secs("mllib.fit"),
        "mllib.fit_calls": calls("mllib.fit"),
        "lineage.truncate_s": secs("lineage.truncate"),
        "lineage.truncate_calls": calls("lineage.truncate"),
        "lineage.release_calls": calls("lineage.release"),
        "pipeline.exec_s": secs("pipeline.exec"),
        "dedup.minhash_s": secs("dedup.minhash"),
        "dedup.candidate_pairs": attr("unit", "candidate_pairs") / passes,
        "dedup.verified_ratio": ratio(
            attr("unit", "verified_pairs"), attr("unit", "candidate_pairs")
        ),
        "semantic_dedup.centroids_s": secs("semantic_dedup.centroids"),
        "semantic_dedup.pairs_s": secs("semantic_dedup.pairs"),
        "semantic_dedup.dup_pairs": attr("semantic_dedup.pairs", "pairs") / passes,
        "similarity.train_sample_s": secs("similarity.train_sample"),
        "components.s": secs("components.cc"),
        "components.calls": calls("components.cc"),
        "queries.build_s": secs("queries.build"),
        "queries.build_jobs": jobs_under("queries.build"),
        "queries.exec_s": secs("queries.exec"),
        "queries.exec_jobs": jobs_under("queries.exec"),
    })

    spark = dict.fromkeys(
        ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes", "no_stage_s"), 0.0
    )
    for i, s in enumerate(spans):
        if s["name"] != "unit":
            continue
        intervals = []
        for j in subtree(i):
            for key in ("jobs", "stages", "tasks"):
                spark[key] += counts[j][key]
            g = groups.get(f"span-{j}")
            if g is not None:
                spark["executor_run_s"] += g["run_ms"] / 1e3
                spark["shuffle_write_bytes"] += g["shuffle_bytes"]
                intervals += g["intervals"]
        covered = covered_seconds(intervals, s["start"], s["end"])
        spark["no_stage_s"] += duration(i) - covered
    m.update({f"spark.{k}": v / passes for k, v in spark.items()})
    return m


def unit_jobs(tracer: Tracer, counts: dict) -> list[tuple[str, int]]:
    """(unit label, jobs) for every traced unit, in run order."""
    unit_of: dict[int, int] = {}  # span idx -> idx of its enclosing unit
    jobs: dict[int, int] = {}
    for i, s in enumerate(tracer.spans):  # parents precede their children
        if s["name"] == "unit":
            unit_of[i] = i
        elif s["parent"] in unit_of:
            unit_of[i] = unit_of[s["parent"]]
        if i in unit_of:
            jobs[unit_of[i]] = jobs.get(unit_of[i], 0) + counts[i]["jobs"]
    return [(tracer.spans[u]["label"], n) for u, n in sorted(jobs.items())]


def self_times(spans: list[dict]) -> dict[str, float]:
    """name -> self seconds: each span's duration minus its children's."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child_time.get(i, 0.0)
    return out
