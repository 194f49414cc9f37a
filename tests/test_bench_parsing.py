"""bench.py grading-channel invariants: the compact summary must always
fit the driver's ~2 KB tail capture, and the prior-round comparison must
recover per-query numbers even from an r4-style record whose single JSON
line outgrew the tail (parsed: null)."""

from __future__ import annotations

import json
import os

import bench

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pairs_from_tail_recovers_escaped_fragment():
    tail = (
        '"queries\\": {\\"q_a\\": 1.25, \\"q_b\\": 0.5, '
        '\\"sf\\": 0.1, \\"q_c\\": 3'
    )
    got = bench._pairs_from_tail(tail)
    assert got["q_a"] == 1.25 and got["q_b"] == 0.5 and got["q_c"] == 3.0
    assert got["sf"] == 0.1  # non-query keys are filtered by the caller


def test_prior_comparison_recovers_r4_null_parse():
    """BENCH_r04.json itself has parsed: null — the comparison must still
    produce both ratios from the raw tail, with build costs split at the
    build_sec marker (query timings precede it, builds follow)."""
    r4_path = os.path.join(_REPO_ROOT, "BENCH_r04.json")
    with open(r4_path) as fh:
        r4 = json.load(fh)
    assert r4.get("parsed") is None  # the exact failure mode under test
    timings = {"dedup_clusters": 2.6, "gopher_filter_docs": 0.4}
    builds = {"dedup_clusters": 4.5}
    cmp_ = bench._prior_round_comparison(timings, builds, prior_file=r4_path)
    assert cmp_ is not None
    assert cmp_["shared_queries"] == 2
    # r4 tail: dedup_clusters query 2.7413 / build 4.7485, gopher 0.372
    assert cmp_["prior_shared_query_sec"] == 3.1133
    assert cmp_["prior_shared_end_to_end_sec"] == 7.8618
    assert cmp_["shared_query_ratio"] == round(3.0 / 3.1133, 4)


def test_prior_comparison_uses_local_record_for_r5_compact_summary():
    """BENCH_r05.json's parsed line is the compact summary (by design: no
    per-query map) — the r5 bug was reassigning ``prior`` to it and
    stranding everything else, returning None and silently dropping
    round-over-round ratios. Per-query numbers come from the committed
    BENCH_LOCAL_r05.json full record (re-measured from the unchanged r5
    HEAD); the raw tail must NOT be pair-mined for this shape — its 2 KB
    keep only the build_sec map's suffix, whose numbers are build costs
    that would silently masquerade as query timings (the r5 tail holds
    pq_ann_topk 6.56 = its BUILD; the real query time is ~0.45)."""
    r5_path = os.path.join(_REPO_ROOT, "BENCH_r05.json")
    with open(r5_path) as fh:
        r5 = json.load(fh)
    assert isinstance(r5.get("parsed"), dict)
    assert "queries" not in r5["parsed"]  # the compact-summary shape
    with open(os.path.join(_REPO_ROOT, "BENCH_LOCAL_r05.json")) as fh:
        local = json.load(fh)
    assert local["sf"] == 0.1 and len(local["queries"]) >= 70
    timings = {"dedup_clusters": 2.0, "minhash_lsh_near_dups": 1.5}
    cmp_ = bench._prior_round_comparison(timings, {}, prior_file=r5_path)
    assert cmp_ is not None
    assert cmp_["shared_queries"] == 2
    expect = round(
        local["queries"]["dedup_clusters"]
        + local["queries"]["minhash_lsh_near_dups"],
        4,
    )
    assert cmp_["prior_shared_query_sec"] == expect
    # and the r5 tail's build-map values were NOT what got used
    assert cmp_["prior_shared_query_sec"] != round(2.2641 + 1.7227, 4)


def test_prior_comparison_uses_local_record_for_r14_partial_map():
    """Since r14 the compact summary carries a partial map of the slowest
    queries. It must not be taken as the whole prior round: a query in
    BENCH_LOCAL_r14.json that is not among the summary's slowest is still
    shared, with its prior timing and build cost taken from LOCAL."""
    r14_path = os.path.join(_REPO_ROOT, "BENCH_r14.json")
    with open(r14_path) as fh:
        parsed = json.load(fh)["parsed"]
    with open(os.path.join(_REPO_ROOT, "BENCH_LOCAL_r14.json")) as fh:
        local = json.load(fh)
    assert "full_record" in parsed and parsed["n_queries_omitted"] > 0
    name = next(
        n for n in local["queries"]
        if n not in parsed["queries"] and n in local["build_sec"]
    )
    cmp_ = bench._prior_round_comparison(
        {name: 1.0}, {name: 1.0}, prior_file=r14_path
    )
    assert cmp_ is not None and cmp_["shared_queries"] == 1
    assert cmp_["prior_shared_query_sec"] == round(local["queries"][name], 4)
    assert cmp_["prior_shared_end_to_end_sec"] == round(
        local["queries"][name] + local["build_sec"][name], 4
    )
    # the whole LOCAL round is shared, not only the summary's partial map
    whole = bench._prior_round_comparison(
        dict(local["queries"]), {}, prior_file=r14_path
    )
    assert whole["shared_queries"] == len(local["queries"])
    assert whole["prior_shared_query_sec"] == round(
        sum(local["queries"].values()), 4
    )


def test_prior_comparison_prefers_committed_local_record(tmp_path):
    """When BENCH_LOCAL_r{N}.json (the committed full record) exists for
    the prior round, its per-query/build maps are used — tail recovery
    only ever sees the suffix the 2 KB capture kept. Also pins the
    calibration-normalized ratios: calib 0.6 now vs 0.4 prior = VM 1.5x
    slower, so a nominal 1.5x query ratio normalizes to 1.0."""
    driver_rec = {
        "tail": '"q_a": 9999.0, "build_sec"',  # wrong on purpose
        "parsed": {"metric": "headline_suite_wall_clock", "sf": 0.1},
        "sf": 0.1,
    }
    with open(tmp_path / "BENCH_r07.json", "w") as fh:
        json.dump(driver_rec, fh)
    full = {
        "queries": {"q_a": 1.0, "q_b": 2.0},
        "build_sec": {"q_b": 3.0},
        "calib_sec": 0.4,
        "sf": 0.1,
    }
    with open(tmp_path / "BENCH_LOCAL_r07.json", "w") as fh:
        json.dump(full, fh)
    cmp_ = bench._prior_round_comparison(
        {"q_a": 1.5, "q_b": 3.0},
        {"q_b": 4.5},
        calib=0.6,
        prior_file=str(tmp_path / "BENCH_r07.json"),
    )
    assert cmp_ is not None
    assert cmp_["shared_queries"] == 2
    assert cmp_["prior_shared_query_sec"] == 3.0  # from LOCAL, not tail
    assert cmp_["shared_query_ratio"] == 1.5
    assert cmp_["calib_speed_ratio"] == 1.5
    assert cmp_["shared_query_ratio_calib"] == 1.0
    assert cmp_["shared_end_to_end_ratio"] == round(9.0 / 6.0, 4)
    assert cmp_["shared_end_to_end_ratio_calib"] == 1.0


def test_prior_comparison_prefers_shuffle_probe(tmp_path):
    """r12 verdict item 3: the single cpu probe's intra-round dispersion
    (±15%) exceeded the round-over-round signal. The workload-shaped
    shuffle probe (median-of-series) must normalize when BOTH rounds
    carry it, the legacy cpu probe only as fallback — and the record
    must name which probe normalized (calib_probe)."""
    with open(tmp_path / "BENCH_r07.json", "w") as fh:
        json.dump({"parsed": {"metric": "x", "sf": 0.1}, "sf": 0.1}, fh)
    full = {
        "queries": {"q_a": 1.0},
        "build_sec": {},
        "calib_sec": 0.4,
        "calib_shuffle_sec": 0.5,
        "sf": 0.1,
    }
    with open(tmp_path / "BENCH_LOCAL_r07.json", "w") as fh:
        json.dump(full, fh)
    cmp_ = bench._prior_round_comparison(
        {"q_a": 2.0},
        {},
        calib=0.8,  # cpu ratio would be 2.0 as well, but probe must differ
        calib_shuffle=1.0,  # shuffle ratio 1.0/0.5 = 2.0x slower VM
        prior_file=str(tmp_path / "BENCH_r07.json"),
    )
    assert cmp_["calib_probe"] == "shuffle"
    assert cmp_["calib_speed_ratio"] == 2.0
    assert cmp_["shared_query_ratio"] == 2.0
    assert cmp_["shared_query_ratio_calib"] == 1.0

    # prior round without the shuffle probe (every record before r13):
    # fall back to the legacy cpu probe and say so
    full.pop("calib_shuffle_sec")
    with open(tmp_path / "BENCH_LOCAL_r07.json", "w") as fh:
        json.dump(full, fh)
    cmp_ = bench._prior_round_comparison(
        {"q_a": 2.0},
        {},
        calib=0.8,
        calib_shuffle=1.0,
        prior_file=str(tmp_path / "BENCH_r07.json"),
    )
    assert cmp_["calib_probe"] == "cpu"
    assert cmp_["calib_speed_ratio"] == 2.0  # 0.8/0.4


def test_prior_comparison_ignores_local_record_at_other_sf(tmp_path):
    """A BENCH_LOCAL written at the wrong scale factor must never be
    mistaken for the graded sf0.1 prior — mismatched sf is rejected, and
    with a compact-summary prior (parsed non-null) the tail is not
    pair-mined either (its pairs would be build costs, not query
    timings): the honest answer is 'no usable prior', i.e. None."""
    with open(tmp_path / "BENCH_r07.json", "w") as fh:
        json.dump(
            {"tail": '"q_a": 2.0, "build_sec"', "parsed": {"sf": 0.1}}, fh
        )
    with open(tmp_path / "BENCH_LOCAL_r07.json", "w") as fh:
        json.dump({"queries": {"q_a": 999.0}, "sf": 0.01}, fh)
    cmp_ = bench._prior_round_comparison(
        {"q_a": 1.0}, {}, prior_file=str(tmp_path / "BENCH_r07.json")
    )
    assert cmp_ is None


def _assert_summary_line_bounded(out: dict, timings: dict[str, float]):
    summary = bench._compact_summary(out, timings)
    line = json.dumps(summary)
    # bench.py's own stated budget, inside the driver's ~2 KB tail
    assert len(line.encode()) <= bench.SUMMARY_LINE_BUDGET <= 2048, len(line)
    assert "build_sec" not in summary
    assert not any(k.endswith("_stages") for k in summary)
    for k, v in summary.items():
        if k == "queries":
            assert all(
                isinstance(n, str) and isinstance(t, float) for n, t in v.items()
            )
        elif isinstance(v, list):
            assert all(isinstance(x, (int, float)) for x in v), k
        else:
            assert v is None or isinstance(v, (str, int, float)), k
    kept = summary["queries"]
    assert kept  # the bounded map still rides the line
    assert len(kept) + summary["n_queries_omitted"] == len(timings)
    omitted = [t for n, t in timings.items() if n not in kept]
    if omitted:
        assert min(timings[n] for n in kept) >= max(omitted)
    return summary


def test_summary_fields_are_bounded():
    """The compact summary (the LAST stdout line) must always fit the
    driver's ~2 KB tail — the r4 failure mode was an unbounded per-query
    map pushing the headline out of it. Checked on the emitted line
    itself: its byte length, its shape (scalars, numeric series, and only
    the bounded slowest-queries map — no build or stage maps), on a
    committed full record and on one far larger than any real round."""
    from example_cdk_dynamodb_stream_to_redshift_spark.plans.inventory import (
        REGISTRY,
    )

    with open(os.path.join(_REPO_ROOT, "BENCH_LOCAL_r15.json")) as fh:
        out = json.load(fh)
    _assert_summary_line_bounded(out, out["queries"])

    timings = {name: 1.0 + i / 1000 for i, name in enumerate(REGISTRY)}
    timings.update(
        {f"synthetic_extra_query_with_a_long_name_{i:04d}": 0.5 + i / 100
         for i in range(400)}
    )
    big = dict(out, queries=timings)
    summary = _assert_summary_line_bounded(big, timings)
    assert summary["n_queries_omitted"] > 0


def test_headline_names_are_registered():
    """A typo'd HEADLINE name would crash the driver's graded bench run
    at the KeyError — pin every name against the registry."""
    from example_cdk_dynamodb_stream_to_redshift_spark.plans.inventory import (
        REGISTRY,
    )

    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)  # no duplicates
