"""Bench stdout-line size governance (VERDICT r8 #3).

Three rounds have lost their driver bench record to last-line parsing
(r6: stderr log interleave; r7: spread map moved late; r8: the line
itself outgrew the driver's 2000-char merged-stream tail capture).
These tests pin the contract: the single stdout JSON line rendered by
``bench.stdout_payload`` must stay under ~1500 chars for the CURRENT
headline set — and for any future growth of it — under worst-case
timing widths, while still carrying the headline total and a
deterministic most-expensive-first query subset.
"""

from __future__ import annotations

import json

import bench


def _worst_case_timings() -> dict[str, float]:
    # widest realistic rendering: hundreds of seconds, 3 dp
    return {name: 123.456 for name in bench.HEADLINE}


def _worst_case_calib() -> dict[str, list[float]]:
    # episode-aware [min, median, max] triples (VERDICT r11 #3)
    return {
        "cpu_sha256_sec": [123.456, 123.456, 123.456],
        "spark_range_agg_sec": [123.456, 123.456, 123.456],
    }


def test_stdout_line_fits_tail_capture():
    timings = _worst_case_timings()
    total = round(sum(timings.values()), 3)
    line = json.dumps(
        bench.stdout_payload(timings, total, 0.1, _worst_case_calib())
    )
    assert len(line) <= 1500, (
        f"bench stdout line is {len(line)} chars — the driver's tail "
        f"capture is 2000 chars of MERGED stdout+stderr and the head "
        f"of the line gets cut off (the BENCH_r08 failure); shrink "
        f"STDOUT_LINE_BUDGET or the payload"
    )


def test_stdout_payload_parses_and_carries_headline():
    timings = _worst_case_timings()
    total = round(sum(timings.values()), 3)
    payload = json.loads(
        json.dumps(bench.stdout_payload(timings, total, 0.1, _worst_case_calib()))
    )
    assert payload["metric"] == "headline_queries_total_sec"
    assert payload["value"] == total
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.1
    assert payload["n_queries"] == len(bench.HEADLINE)
    assert payload["queries_omitted"] == len(bench.HEADLINE) - len(
        payload["queries"]
    )
    # the map is a subset of the real headline set
    assert set(payload["queries"]) <= set(bench.HEADLINE)
    # the machine-calibration anchor ships in the driver record
    # (VERDICT r10 #2) — without it round-over-round wall drift on
    # unchanged code cannot be deconfounded from plan regressions
    assert payload["calib"] == _worst_case_calib()
    # episode-aware flag (VERDICT r11 #3): flat triples are clean
    assert payload["calib_contaminated"] is False


def test_calib_contamination_flag_fires_on_episode():
    # the r11 incident shape: nominal median, one 12x max sample
    calib = {
        "cpu_sha256_sec": [0.42, 0.43, 0.44],
        "spark_range_agg_sec": [0.15, 0.163, 2.075],
    }
    assert bench.calib_contaminated(calib) is True
    payload = bench.stdout_payload({}, 0.0, 0.1, calib)
    assert payload["calib_contaminated"] is True
    # a max within 3x of the median stays clean
    assert not bench.calib_contaminated(
        {"spark_range_agg_sec": [0.15, 0.163, 0.45]}
    )


def test_headline_capped_and_disjoint_from_parked():
    # VERDICT r11 #4: the headline set stays <= 70 so the driver's
    # bench wall stops growing linearly with the registry; parked
    # siblings are disjoint and every entry in both lists resolves to
    # a registered query
    from tfm_semisup_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    assert len(bench.HEADLINE) <= 70, (
        f"HEADLINE has {len(bench.HEADLINE)} entries — park a sibling "
        f"(every family must keep a representative) instead of growing "
        f"the driver's bench wall"
    )
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert len(set(bench.PARKED)) == len(bench.PARKED)
    assert not set(bench.HEADLINE) & set(bench.PARKED)
    for name in bench.HEADLINE + bench.PARKED:
        assert name in QUERIES, f"bench entry {name!r} not registered"


def test_stdout_payload_always_carries_calib_key():
    payload = bench.stdout_payload({}, 0.0, 0.1)
    assert "calib" in payload


def test_stdout_payload_keeps_slowest_queries():
    timings = {name: float(i) for i, name in enumerate(bench.HEADLINE)}
    total = round(sum(timings.values()), 3)
    payload = bench.stdout_payload(timings, total, 0.01)
    kept = set(payload["queries"])
    if payload["queries_omitted"]:
        slowest = max(timings, key=lambda n: timings[n])
        dropped_max = max(
            (timings[n] for n in timings if n not in kept), default=-1.0
        )
        assert slowest in kept
        assert all(timings[n] >= dropped_max for n in kept)


def test_stdout_payload_deterministic():
    timings = _worst_case_timings()
    total = round(sum(timings.values()), 3)
    a = json.dumps(bench.stdout_payload(timings, total, 0.1))
    b = json.dumps(bench.stdout_payload(dict(timings), total, 0.1))
    assert a == b


def test_stdout_payload_says_where_it_ran():
    """The resolved master, defaultParallelism and $SPARK_GRAFT_CPUS
    ride the stdout line next to the existing keys, inside the budget."""
    context = {
        "master": "local[32]",
        "default_parallelism": 32,
        "spark_graft_cpus": "32",
    }
    timings = _worst_case_timings()
    total = round(sum(timings.values()), 3)
    plain = bench.stdout_payload(timings, total, 0.1, _worst_case_calib())
    payload = bench.stdout_payload(timings, total, 0.1, _worst_case_calib(), context)
    assert {k: payload[k] for k in context} == context
    assert set(payload) == set(plain) | set(context)
    assert len(json.dumps(payload)) <= bench.STDOUT_LINE_BUDGET


def test_run_context_reads_the_session(spark):
    context = bench.run_context(spark)
    assert context["master"] == spark.sparkContext.master
    assert context["default_parallelism"] == spark.sparkContext.defaultParallelism
    assert set(context) == {"master", "default_parallelism", "spark_graft_cpus"}


def test_spread_payload_carries_codegen_cost():
    """Per headline query, the compile count over its timed samples, and
    the session's effective generated-class cache size, ride the spread
    file only; the stdout line's keys do not change."""
    samples = {name: [1.0, 2.0, 3.0] for name in bench.HEADLINE}
    compiles = {name: i % 3 for i, name in enumerate(bench.HEADLINE)}
    calib = {"cpu_sha256_sec": [0.4, 0.5]}
    spread = json.loads(
        json.dumps(bench.spread_payload(samples, 3, 0.1, calib, compiles, 1000))
    )
    assert spread["codegen_compiles"] == compiles
    assert spread["codegen_cache_max_entries"] == 1000
    assert spread["spread"] == {name: [1.0, 2.0, 3.0] for name in bench.HEADLINE}
    assert spread["calib_samples"] == calib
    assert (spread["runs"], spread["sf"]) == (3, 0.1)
    timings = _worst_case_timings()
    payload = bench.stdout_payload(timings, 1.0, 0.1, _worst_case_calib())
    assert not {"codegen_compiles", "codegen_cache_max_entries"} & set(payload)
