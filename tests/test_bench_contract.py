"""The bench stdout line is constant-size (VERDICT r11 ask #1).

History: round 6's driver artifact truncated the line's tail, round 10
was within ~80 bytes of the old 2 KB budget, and round 11's gate-window
rotation grew the line past the budget's crash-assert — `BENCH_r11.json`
came back `rc=1` with no parsed timings. The fix makes the line O(1):
scalars + same-set fields + a per-query map restricted to the FROZEN
20-name `HEADLINE_PINNED` tier. These tests pin that the line's size is
independent of how many queries the extended tier / gate window grow to,
replacing the runtime assert (which crashed the driver's run) with a
build-time guarantee.
"""

from __future__ import annotations

import json
import os
import re
from pathlib import Path

import pytest

import bench


def _fake_timings(n: int) -> dict[str, float]:
    """n query timings: the full pinned tier + (n-20) long-named extras."""
    t = {name: 1.2345 for name in bench.HEADLINE_PINNED}
    for i in range(max(0, n - len(t))):
        t[f"extended_query_with_a_deliberately_long_name_{i:04d}"] = 2.3456
    return t


def _line_len(n_queries: int, tmp_path: Path) -> int:
    timings = _fake_timings(n_queries)
    stddevs = {k: 0.01 for k in timings}
    line, full = bench.build_summaries(
        timings, stddevs, "/root/testdata/sf0.1", 3, tmp_path
    )
    # stdout line parses standalone and the full record is a superset
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total"
    assert set(full["queries"]) == set(timings)
    assert set(full["stddev"]) == set(timings)
    return len(line)


def test_stdout_line_size_independent_of_query_count(tmp_path):
    """Adding 500 extended-tier queries must not grow the stdout line."""
    small = _line_len(25, tmp_path)
    large = _line_len(520, tmp_path)
    assert small == large, (
        f"stdout line grew with query count: {small} -> {large} bytes"
    )


def test_stdout_line_well_under_2kb(tmp_path):
    assert _line_len(520, tmp_path) < 1800


def test_stdout_queries_map_is_pinned_tier_only(tmp_path):
    timings = _fake_timings(300)
    line, _ = bench.build_summaries(
        timings, {k: 0.0 for k in timings}, "/root/testdata/sf0.1", 3, tmp_path
    )
    parsed = json.loads(line)
    assert set(parsed["queries"]) <= set(bench.HEADLINE_PINNED)
    # driver contract: the line still carries a queries map + sf + value
    assert parsed["queries"], "driver contract requires a queries map"
    assert parsed["unit"] == "sec" and parsed["sf"] == 0.1


def test_pinned_tier_is_frozen():
    """The size invariance holds only while HEADLINE_PINNED stays closed.

    The tier was frozen at 20 names in round 3 (new operators go to
    EXTENDED); this is the guard that keeps the stdout line O(1).
    """
    assert len(bench.HEADLINE_PINNED) == 20
    assert len(set(bench.HEADLINE_PINNED)) == 20


def test_sameset_falls_back_to_summary_when_artifact_unparsed(tmp_path):
    """The r11 failure mode: latest BENCH_r*.json is rc=1/parsed=null.

    The comparison must fall back to the committed BENCH_SUMMARY.json
    (written by that same crashed run) instead of silently reaching
    back to an older round or dropping the same-set fields.
    """
    tmp_path.joinpath("BENCH_r10.json").write_text(
        json.dumps({"rc": 0, "parsed": {"value": 9.0, "queries": {"a": 4.0}}})
    )
    tmp_path.joinpath("BENCH_r11.json").write_text(
        json.dumps({"rc": 1, "parsed": None})
    )
    tmp_path.joinpath("BENCH_SUMMARY.json").write_text(
        json.dumps({"value": 8.5, "queries": {"a": 3.5, "b": 5.0}})
    )
    src, pq, precision = bench._load_prior_queries(tmp_path)
    assert src == "BENCH_SUMMARY.json"
    assert pq == {"a": 3.5, "b": 5.0}
    assert precision == "full"


def test_sameset_prefers_matching_artifact_at_full_precision(tmp_path):
    tmp_path.joinpath("BENCH_r10.json").write_text(
        json.dumps({"rc": 0, "parsed": {"value": 9.0, "queries": {"a": 4.0}}})
    )
    tmp_path.joinpath("BENCH_SUMMARY.json").write_text(
        json.dumps({"value": 9.0, "queries": {"a": 4.0041}})
    )
    src, pq, precision = bench._load_prior_queries(tmp_path)
    assert src == "BENCH_r10.json"
    assert pq == {"a": 4.0041}
    assert precision == "full"


def test_sameset_upgrades_pinned_subset_to_full_summary(tmp_path):
    """Round-13 shape (VERDICT r12 ask #1): since round 12 the stdout
    queries map is the pinned 20-name tier only — a strict SUBSET of the
    summary's full map. Same headline total + subset names must upgrade
    to the summary's full-precision superset, not collapse the same-set
    comparison to the 20 pinned names at 2-decimal precision.
    """
    tmp_path.joinpath("BENCH_r12.json").write_text(
        json.dumps(
            {"rc": 0, "parsed": {"value": 9.5, "queries": {"a": 4.0}}}
        )
    )
    tmp_path.joinpath("BENCH_SUMMARY.json").write_text(
        json.dumps(
            {"value": 9.5, "queries": {"a": 4.0041, "b": 2.5, "c": 3.0}}
        )
    )
    src, pq, precision = bench._load_prior_queries(tmp_path)
    assert src == "BENCH_r12.json"
    assert pq == {"a": 4.0041, "b": 2.5, "c": 3.0}
    assert precision == "full"


def test_sameset_different_run_summary_not_used_for_upgrade(tmp_path):
    """A summary whose total differs from the artifact's is another
    run's data — the artifact's own (2dp) map must win."""
    tmp_path.joinpath("BENCH_r12.json").write_text(
        json.dumps({"rc": 0, "parsed": {"value": 9.5, "queries": {"a": 4.0}}})
    )
    tmp_path.joinpath("BENCH_SUMMARY.json").write_text(
        json.dumps({"value": 7.0, "queries": {"a": 3.0, "b": 2.0}})
    )
    src, pq, precision = bench._load_prior_queries(tmp_path)
    assert src == "BENCH_r12.json"
    assert pq == {"a": 4.0}
    assert precision == "stdout_2dp"


def test_sameset_stale_summary_does_not_shadow_older_artifact(tmp_path):
    """ADVICE r12: a stale/restored summary matching an OLDER round's
    total must not stand in for a newer rc=1 artifact — the walk should
    continue to the older artifact (and then upgrade via subset match).
    """
    tmp_path.joinpath("BENCH_r10.json").write_text(
        json.dumps({"rc": 0, "parsed": {"value": 9.0, "queries": {"a": 4.0}}})
    )
    tmp_path.joinpath("BENCH_r11.json").write_text(
        json.dumps({"rc": 1, "parsed": None})
    )
    # summary value 9.0 == r10's: it is r10's restored summary, NOT the
    # crashed r11 run's data.
    tmp_path.joinpath("BENCH_SUMMARY.json").write_text(
        json.dumps({"value": 9.0, "queries": {"a": 4.0041, "b": 1.0}})
    )
    src, pq, precision = bench._load_prior_queries(tmp_path)
    assert src == "BENCH_r10.json"
    assert pq == {"a": 4.0041, "b": 1.0}
    assert precision == "full"


def test_repo_prior_loader_returns_full_precision_superset():
    """Live repo state, round-agnostic (VERDICT r13 ask #1): the loader
    must return the newest usable MAIN driver artifact
    (``BENCH_r<digits>.json``) or the committed summary under its
    documented guard — NEVER a hard-coded round filename, and never a
    suffixed scaling-rerun variant (``BENCH_r14_c8.json``), whose
    timings are from a different core count. When the committed summary
    belongs to the main run, the prior upgrades to the full-precision
    multi-tier map, STRICTLY larger than the pinned tier (ADVICE r14: a
    non-strict bound would pass a pinned-tier-only regression); when the
    driver's scaling rerun has overwritten the summary (live state after
    round 14), the only honest prior is the main artifact's pinned-tier
    stdout map at 2-decimal precision.
    """
    repo = Path(bench.__file__).resolve().parent
    src, pq, precision = bench._load_prior_queries(repo)
    assert re.fullmatch(r"BENCH_r\d+\.json", src) or src == "BENCH_SUMMARY.json"
    if precision == "full":
        assert len(pq) > len(bench.HEADLINE_PINNED)
    else:
        assert precision == "stdout_2dp"
        assert set(pq) == set(bench.HEADLINE_PINNED) & set(pq)
        assert len(pq) == len(bench.HEADLINE_PINNED)


def test_scaling_rerun_artifact_and_summary_never_become_the_prior(tmp_path):
    """Round 15: the driver's low-core scaling rerun deposits a suffixed
    ``BENCH_r<N>_c8.json`` AND overwrites ``BENCH_SUMMARY.json`` with its
    own full record. Neither may serve as a prior for the next full-core
    run: the suffixed artifact must be skipped in the walk, and a summary
    whose headline total matches a suffixed variant must be discarded
    (not used for the full-precision upgrade, and not returned standalone).
    """
    main = {"rc": 0, "parsed": {"value": 80.0, "queries": {"a": 1.0}}}
    c8 = {"rc": 0, "parsed": {"value": 99.8, "queries": {"a": 4.0, "b": 2.0}}}
    tmp_path.joinpath("BENCH_r14.json").write_text(json.dumps(main))
    tmp_path.joinpath("BENCH_r14_c8.json").write_text(json.dumps(c8))
    # The c8 run's summary: same total, full map at the WRONG core count.
    tmp_path.joinpath("BENCH_SUMMARY.json").write_text(
        json.dumps({"value": 99.8, "queries": {"a": 4.0041, "b": 2.0001}})
    )
    src, pq, precision = bench._load_prior_queries(tmp_path)
    assert src == "BENCH_r14.json"
    assert pq == {"a": 1.0}
    assert precision == "stdout_2dp"
    # And with a crashed main artifact, the c8 summary must NOT stand in.
    tmp_path.joinpath("BENCH_r15.json").write_text(
        json.dumps({"rc": 1, "parsed": None})
    )
    src, pq, precision = bench._load_prior_queries(tmp_path)
    assert src == "BENCH_r14.json"
    assert pq == {"a": 1.0}


def test_main_and_variant_sharing_a_total_are_told_apart_by_cpus(tmp_path):
    """ADVICE bench.py:280: a main run and its scaling rerun can print
    the same headline total. The summary's recorded ``cpus`` says whose
    record it is: the main run's upgrades the prior to full precision,
    the rerun's is discarded and never upgrades the main artifact."""
    main = {"rc": 0, "parsed": {"value": 50.0, "cpus": 32, "queries": {"a": 1.0}}}
    c8 = {"rc": 0, "parsed": {"value": 50.0, "cpus": 8, "queries": {"a": 2.0}}}
    tmp_path.joinpath("BENCH_r16.json").write_text(json.dumps(main))
    tmp_path.joinpath("BENCH_r16_c8.json").write_text(json.dumps(c8))
    summary = tmp_path.joinpath("BENCH_SUMMARY.json")
    summary.write_text(json.dumps({"value": 50.0, "cpus": 32, "queries": {"a": 1.0041, "b": 3.0}}))
    assert bench._load_prior_queries(tmp_path) == (
        "BENCH_r16.json", {"a": 1.0041, "b": 3.0}, "full"
    )
    summary.write_text(json.dumps({"value": 50.0, "cpus": 8, "queries": {"a": 2.0041, "b": 6.0}}))
    assert bench._load_prior_queries(tmp_path) == ("BENCH_r16.json", {"a": 1.0}, "stdout_2dp")


def test_records_without_totals_never_match(tmp_path):
    """A summary and a variant that both lack ``value`` are not the same
    run: with the main artifact crashed, the summary stands in for it."""
    tmp_path.joinpath("BENCH_r16.json").write_text(json.dumps({"rc": 1, "parsed": None}))
    tmp_path.joinpath("BENCH_r16_c8.json").write_text(
        json.dumps({"rc": 0, "parsed": {"queries": {"a": 2.0}}})
    )
    tmp_path.joinpath("BENCH_SUMMARY.json").write_text(json.dumps({"queries": {"a": 3.0}}))
    assert bench._load_prior_queries(tmp_path) == ("BENCH_SUMMARY.json", {"a": 3.0}, "full")


def test_summary_records_prior_conditions(tmp_path, monkeypatch):
    """The same-set fields carry the prior's ``cpus`` and load, and a
    prior at another core count is marked not like-for-like."""
    tmp_path.joinpath("BENCH_r16.json").write_text(json.dumps(
        {"rc": 0, "parsed": {"value": 5.0, "cpus": 32, "loadavg_1m": 4.3, "queries": {"a": 1.0}}}
    ))
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (4.3, 4.3, 4.3))
    timings = _fake_timings(20)
    for cpus, like in (("32", True), ("4", False)):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
        line, _ = bench.build_summaries(timings, {k: 0.0 for k in timings}, "sf0.1", 3, tmp_path)
        parsed = json.loads(line)
        assert parsed["sameset_vs"] == "BENCH_r16.json"
        assert parsed["sameset_prev_cpus"] == 32
        assert parsed["sameset_prev_loadavg_1m"] == 4.3
        assert parsed["sameset_like_for_like"] is like


@pytest.mark.parametrize("prior_load, like", [(6.0, False), (3.0, True)])
def test_adverse_load_prior_is_not_like_for_like(tmp_path, monkeypatch, prior_load, like):
    """At the same ``cpus``, a prior taken at 3x this run's per-core load
    is not like-for-like; one at 1.5x still is. Both per-core loads are
    recorded."""
    tmp_path.joinpath("BENCH_r16.json").write_text(json.dumps(
        {"rc": 0, "parsed": {"value": 5.0, "cpus": 4, "loadavg_1m": prior_load, "queries": {"a": 1.0}}}
    ))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (2.0, 2.0, 2.0))
    timings = _fake_timings(20)
    line, _ = bench.build_summaries(timings, {k: 0.0 for k in timings}, "sf0.1", 3, tmp_path)
    parsed = json.loads(line)
    assert parsed["sameset_prev_cpus"] == parsed["cpus"] == 4
    assert parsed["loadavg_per_core"] == 0.5
    assert parsed["sameset_prev_loadavg_per_core"] == prior_load / 4
    assert parsed["sameset_like_for_like"] is like


@pytest.mark.parametrize("raw", ["8 ", " 8", "8\n"])
def test_cpus_accepts_padded_integer(raw, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    assert bench.parse_cpus() == 8


@pytest.mark.parametrize("raw", ["auto", "", "0", "-2", "2.5", "*"])
def test_cpus_falls_back_to_affinity_on_malformed_value(raw, monkeypatch, tmp_path):
    """A malformed ``SPARK_GRAFT_CPUS`` must not crash the summary after
    every rep has run; the record takes the process's affinity count."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    assert bench.parse_cpus() == len(os.sched_getaffinity(0))
    timings = _fake_timings(20)
    line, _ = bench.build_summaries(
        timings, {k: 0.0 for k in timings}, "data/sf0.1", 3, tmp_path
    )
    assert json.loads(line)["cpus"] == len(os.sched_getaffinity(0))


def test_failing_query_is_recorded_not_fatal(monkeypatch, capsys):
    """A query that raises (in warm-up or in a timed rep) is left out of
    the timings and recorded in ``errors``; every other query is still
    timed, so the run keeps its summary."""
    monkeypatch.setattr(bench, "force", lambda df: None)
    calls = {"flaky": 0}

    def flaky(spark, sf):
        calls["flaky"] += 1
        if calls["flaky"] == 2:  # warm-up passes, first timed rep fails
            raise RuntimeError("lost executor\nat a.b.C(C.java:1)")

    def broken(spark, sf):
        raise ValueError("no such table")

    qs = {"ok": lambda spark, sf: None, "flaky": flaky, "broken": broken}
    timings, stddevs, errors = bench.time_queries(
        None, qs, ["broken", "ok", "flaky", "absent"], "sf0.1", 3
    )
    assert set(timings) == set(stddevs) == {"ok"}
    assert errors == {
        "broken": "ValueError: no such table",
        "flaky": "RuntimeError: lost executor",
    }
    assert "ValueError: no such table" in capsys.readouterr().err


def test_jvm_record_keys(spark):
    """BENCH_SUMMARY.json's ``jvm`` record: the class-archive state and
    the driver JVM's JIT, GC and Janino counters, read over py4j."""
    spark.range(10).selectExpr("sum(id)").collect()
    record = bench.jvm_record(spark)
    assert set(record) == {"class_archive", "jit_ms", "gc_ms", "janino_compiles"}
    assert re.fullmatch(r"used|dumping|off: .+", record["class_archive"])
    assert all(isinstance(record[k], int) and record[k] >= 0
               for k in ("jit_ms", "gc_ms", "janino_compiles"))
    assert record["janino_compiles"] > 0
    json.dumps(record)
