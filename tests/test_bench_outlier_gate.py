"""Unit tests for bench.py's outlier re-run gate: the rule that keeps a
single ambient I/O spike out of the committed bench history, and the
baseline loader's same-sf and same-cpus guards."""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _committed_baseline, _is_outlier, _score_outlier


def test_outlier_rule():
    # the live r10 example: committed 1.7 s, ambient spike to 5.3 s → re-run
    assert _is_outlier(5.32, 1.72)
    # under 2x → not an outlier, however slow
    assert not _is_outlier(3.0, 1.72)
    # tiny queries never re-run: 2x of 60 ms is scheduler noise
    assert not _is_outlier(0.3, 0.06)
    # the absolute floor: >2x but still sub-0.5 s stays
    assert not _is_outlier(0.45, 0.1)
    # no baseline (new query / first run) → never an outlier
    assert not _is_outlier(100.0, None)
    # boundary: exactly 2x is NOT an outlier (strict >)
    assert not _is_outlier(3.44, 1.72)


def test_outlier_scoring_clamps_at_committed_median():
    """ADVICE r11: a memo-warm rerun must not ratchet the baseline down."""
    # ambient spike passed, rerun back to normal → score the rerun
    assert _score_outlier(5.32, 1.80, 1.72) == 1.80
    # memo-warm rerun BELOW the committed median → clamp at the median
    # (min(first, rerun) would have scored 0.64 and tightened next
    # round's 2x trigger to 1.28 s for a structurally-2.3 s query)
    assert _score_outlier(5.32, 0.64, 2.32) == 2.32
    # both passes spiked → the lesser spike is the best estimate
    assert _score_outlier(5.32, 7.10, 1.72) == 5.32
    assert _score_outlier(7.10, 5.32, 1.72) == 5.32
    # rerun between median and first → rerun wins unclamped
    assert _score_outlier(6.00, 3.00, 1.72) == 3.00


def _record(q1: float, **provenance) -> str:
    prov = {"cpus": 4, **provenance}
    return json.dumps({"sf": 0.1, "queries": {"q1": q1}, "provenance": prov})


def _commit_record(repo, text: str) -> None:
    repo.mkdir()
    subprocess.run(["git", "-C", str(repo), "init", "-q"], check=True)
    (repo / "bench_full.json").write_text(text)
    subprocess.run(["git", "-C", str(repo), "add", "-A"], check=True)
    subprocess.run(
        ["git", "-C", str(repo), "-c", "user.email=t@t", "-c", "user.name=t",
         "commit", "-qm", "x"],
        check=True,
    )


def test_committed_baseline_requires_same_sf(tmp_path):
    """A committed sf0.1 record must NOT gate an sf0.01 run (every query
    would read 'fast') nor vice versa (every query would read 'outlier')."""
    repo = tmp_path / "r"
    _commit_record(repo, _record(1.5))
    assert _committed_baseline(str(repo), 0.1, 4) == ({"q1": 1.5}, "HEAD")
    # a record at the wrong sf is NOT a baseline, and the provenance tag
    # must say so — "HEAD" with an empty map would be indistinguishable
    # from a clean gate run
    assert _committed_baseline(str(repo), 0.01, 4) == ({}, "HEAD-sf-mismatch")


def test_committed_baseline_requires_same_cpus(tmp_path):
    """A record taken on another core count must not gate this run: a
    32-slot baseline would flag every query of a 4-slot run as an
    outlier, and a 4-slot one would hide a 32-slot spike."""
    repo = tmp_path / "r"
    _commit_record(repo, _record(1.5, cpus=32))
    assert _committed_baseline(str(repo), 0.1, 32) == ({"q1": 1.5}, "HEAD")
    assert _committed_baseline(str(repo), 0.1, 4) == ({}, "HEAD-cpus-mismatch")
    # the sf guard still speaks first
    assert _committed_baseline(str(repo), 0.01, 4) == ({}, "HEAD-sf-mismatch")


def test_committed_baseline_without_cpus_is_refused(tmp_path):
    """A record stamped before `provenance.cpus` existed cannot show it
    ran on this core count, so it is no baseline either."""
    repo = tmp_path / "r"
    _commit_record(repo, json.dumps({"sf": 0.1, "queries": {"q1": 1.5}}))
    assert _committed_baseline(str(repo), 0.1, 4) == ({}, "HEAD-cpus-mismatch")
    d = tmp_path / "plain"
    d.mkdir()
    (d / "bench_full.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"q1": 2.0}, "provenance": {}})
    )
    assert _committed_baseline(str(d), 0.1, 4) == ({}, "worktree-cpus-mismatch")


def test_committed_baseline_prefers_head_over_worktree(tmp_path):
    """A dirty working-tree bench_full.json (mid-session run) must not
    move the goalposts: HEAD's record wins."""
    repo = tmp_path / "r"
    _commit_record(repo, _record(1.5))
    # overwrite the worktree copy with a slower record
    (repo / "bench_full.json").write_text(_record(9.9))
    assert _committed_baseline(str(repo), 0.1, 4) == ({"q1": 1.5}, "HEAD")


def test_committed_baseline_no_git_falls_back_to_file(tmp_path):
    d = tmp_path / "plain"
    d.mkdir()
    (d / "bench_full.json").write_text(_record(2.0))
    assert _committed_baseline(str(d), 0.1, 4) == ({"q1": 2.0}, "worktree")
    assert _committed_baseline(str(tmp_path / "missing"), 0.1, 4) == ({}, "none")


# membw probes every call passes: the committed records below without
# membw2_* probes leave that leg at no-reference, so it never gates them
_MEMBW = {"membw_start": 0.080, "membw_end": 0.081}


def test_calibration_verdict_labels_degraded_runs():
    """VERDICT r12 task 4: the ambient probe must GATE the record's health
    label — worst current probe vs best committed probe, >1.25x ⇒
    degraded."""
    from bench import _calibration_verdict

    committed = {"ambient_calibration_sec": {"start": 0.160, "end": 0.165}}
    # the live r12 case: driver probe 0.212 vs builder 0.160 → 1.325x
    v = _calibration_verdict(0.212, 0.205, committed, **_MEMBW)
    assert v["status"] == "degraded"
    assert v["current_worst"] == 0.212  # the WORSE of start/end
    assert v["committed_best"] == 0.160  # the BETTER committed probe
    assert v["ratio"] == 1.325
    # healthy: within 25% of the committed best
    assert _calibration_verdict(0.150, 0.170, committed, **_MEMBW)["status"] == "healthy"
    # boundary: exactly 1.25x is NOT degraded (strict >)
    assert _calibration_verdict(0.16, 0.20, committed, **_MEMBW)["status"] == "healthy"
    # a run that degraded mid-flight is degraded (end probe is the max)
    assert _calibration_verdict(0.150, 0.212, committed, **_MEMBW)["status"] == "degraded"


def test_calibration_verdict_without_reference_is_explicit():
    """No committed probe ⇒ 'no-reference', never silently healthy."""
    from bench import _calibration_verdict

    assert _calibration_verdict(0.2, 0.2, None, **_MEMBW)["status"] == "no-reference"
    assert _calibration_verdict(0.2, 0.2, {}, **_MEMBW)["status"] == "no-reference"
    # committed provenance exists but predates the probe (r1-r11 records)
    assert (
        _calibration_verdict(0.2, 0.2, {"run_label": "x"}, **_MEMBW)["status"]
        == "no-reference"
    )
    # a malformed probe block (nulls) is also no-reference
    assert (
        _calibration_verdict(
            0.2, 0.2, {"ambient_calibration_sec": {"start": None}}, **_MEMBW
        )["status"]
        == "no-reference"
    )


def test_calibration_reference_survives_degraded_commits():
    """One committed degraded record must not ratchet the reference slow:
    the verdict's reference is the min over the last record's probes AND
    the probe history that record was judged against."""
    from bench import _calibration_verdict

    # a degraded record got committed (by design); its probes read 0.17
    # but it was judged against the host's demonstrated best 0.13
    degraded_committed = {
        "ambient_calibration_sec": {"start": 0.17, "end": 0.17},
        "ambient_verdict": {
            "status": "degraded",
            "committed_best": 0.13,
            "ratio": 1.3077,
            "probe_history": [0.13],
        },
    }
    # an equally-slow next run must STILL read degraded (0.17/0.13 > 1.25),
    # not launder itself healthy against the slow record's own probes
    v = _calibration_verdict(0.17, 0.17, degraded_committed, **_MEMBW)
    assert v["status"] == "degraded"
    assert v["committed_best"] == 0.13
    # and a genuinely recovered run reads healthy against the same history
    assert (
        _calibration_verdict(0.14, 0.14, degraded_committed, **_MEMBW)["status"]
        == "healthy"
    )


def test_membw_probe_gates_the_record():
    """VERDICT r13 task 3: round 13 produced two records whose CPU probe
    read healthy while every query family carried 1.28-1.35x uniform
    inflation — memory-side contention. The membw leg must degrade the
    record even when the CPU leg is healthy."""
    from bench import _calibration_verdict

    committed = {
        "ambient_calibration_sec": {
            "start": 0.130,
            "end": 0.132,
            "membw2_start": 0.080,
            "membw2_end": 0.082,
        }
    }
    # CPU healthy (1.0x) but membw 1.5x slower -> the r13 blind spot
    v = _calibration_verdict(
        0.130, 0.130, committed, membw_start=0.120, membw_end=0.118
    )
    assert v["status"] == "degraded"
    assert v["membw"]["status"] == "degraded"
    assert v["membw"]["committed_best"] == 0.080
    assert v["membw"]["ratio"] == 1.5
    # both legs healthy -> healthy
    h = _calibration_verdict(
        0.131, 0.130, committed, membw_start=0.083, membw_end=0.081
    )
    assert h["status"] == "healthy"
    assert h["membw"]["status"] == "healthy"
    # prior record lacks membw probes (r13 and earlier) -> membw leg is
    # explicitly no-reference, never silently healthy, and does not
    # block an otherwise-healthy record
    old = {"ambient_calibration_sec": {"start": 0.130, "end": 0.132}}
    first = _calibration_verdict(
        0.131, 0.130, old, membw_start=0.083, membw_end=0.081
    )
    assert first["status"] == "healthy"
    assert first["membw"]["status"] == "no-reference"


def test_calibration_reference_carry_is_bounded():
    """ADVICE r13 #2: the reference used to be a monotone min carried
    through every record, so one anomalously fast probe (turbo burst)
    labeled all later normal-speed runs degraded forever. The reference
    is now min over a bounded probe_history window: the outlier ages
    out after _CALIB_HISTORY_N records."""
    from bench import _CALIB_HISTORY_N, _calibration_verdict

    # one 0.090 turbo-burst outlier among normal 0.130 probes
    committed = {
        "ambient_calibration_sec": {"start": 0.130, "end": 0.131},
        "ambient_verdict": {
            "probe_history": [0.090, 0.130, 0.129, 0.131, 0.130],
            "committed_best": 0.090,
        },
    }
    # while the outlier is in the window, a normal 0.130 run reads
    # degraded (0.130/0.090 = 1.44x) — same as the old behavior
    v = _calibration_verdict(0.130, 0.130, committed, **_MEMBW)
    assert v["status"] == "degraded"
    assert v["committed_best"] == 0.090
    # the new history drops the outlier (oldest entry) and appends this
    # run's best probe: the carry is bounded, not monotone
    assert len(v["probe_history"]) == _CALIB_HISTORY_N
    assert 0.090 not in v["probe_history"]
    assert v["probe_history"][-1] == 0.130
    # the NEXT normal run, judged against the outlier-free history,
    # re-baselines to healthy — the recovery path the old rule lacked
    nxt = {
        "ambient_calibration_sec": {"start": 0.130, "end": 0.130},
        "ambient_verdict": v,
    }
    assert _calibration_verdict(0.131, 0.130, nxt, **_MEMBW)["status"] == "healthy"


def test_degraded_commit_still_cannot_launder_with_history():
    """The bounded window keeps the old guarantee: a committed degraded
    record's own slow probes enter the history, but the healthy records'
    probes remain in the window, so the next equally-slow run still
    reads degraded."""
    from bench import _calibration_verdict

    degraded_committed = {
        "ambient_calibration_sec": {"start": 0.170, "end": 0.170},
        "ambient_verdict": {
            "status": "degraded",
            "probe_history": [0.130, 0.129, 0.131, 0.130, 0.170],
        },
    }
    v = _calibration_verdict(0.170, 0.170, degraded_committed, **_MEMBW)
    assert v["status"] == "degraded"
    assert v["committed_best"] == 0.129
    # and a genuinely recovered run reads healthy
    assert (
        _calibration_verdict(0.135, 0.133, degraded_committed, **_MEMBW)["status"]
        == "healthy"
    )


def test_compact_line_keeps_headline_dedup_family():
    """r16 verdict task 2: the printed one-line JSON silently lost
    dedup_minhash_lsh (the slowest headline query) because the full
    provenance block's per-round probe histories grew into the 1900-char
    budget. The printed line now carries a fixed-size provenance, so the
    query set can no longer shrink as history accumulates."""
    from bench import _compact_line

    # a frozen record: the live bench_full.json is rewritten by every run
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "fixtures", "bench_full.json")) as f:
        full = json.load(f)
    line = _compact_line(full)
    assert len(line) <= 1900
    parsed = json.loads(line)
    qs = parsed["queries"]
    # the r16 driver parse carried 31 queries; the contract is it never
    # shrinks below the prior round's set and minhash_lsh is back
    assert "dedup_minhash_lsh" in qs
    assert len(qs) >= 32
    r16_printed = [
        "pricing_summary", "tpch_q10_returned_items",
        "tpch_q11_important_stock", "tpch_q12_priority_by_linestatus",
        "tpch_q13_customer_distribution", "tpch_q14_promo_revenue",
        "tpch_q15_top_supplier", "tpch_q16_supplier_part_counts",
        "tpch_q17_small_quantity_revenue", "tpch_q18_large_volume_customers",
        "tpch_q19_disjunctive_revenue", "tpch_q20_excess_shippers",
        "tpch_q21_waiting_suppliers", "tpch_q22_global_sales_opportunity",
        "tpch_q2_min_cost_supplier", "tpch_q4_order_priority",
        "tpch_q5_local_supplier_volume", "tpch_q6_forecast_revenue",
        "tpch_q7_nation_volume", "tpch_q8_market_share",
        "tpch_q9_product_type_profit", "dedup_boundary_overlap",
        "dedup_cdc_chunking", "dedup_cluster_resolve",
        "dedup_containment_3gram", "dedup_edit_distance_parts",
        "dedup_embedding_cosine", "dedup_exact_docs_hash",
        "dedup_exact_events", "dedup_line_level", "dedup_lsh_band_profile",
    ]
    missing = [q for q in r16_printed if q not in qs]
    assert not missing, f"printed set shrank: {missing}"
    # the slim provenance must stay fixed-size: no growing histories
    prov = parsed["provenance"]
    assert "probe_history" not in json.dumps(prov)
    assert prov["ambient_verdict"]["status"] in (
        "healthy", "degraded", "no-reference", None,
    )
    # and the contract fields the driver parses are intact
    for k in ("metric", "value", "unit", "sf"):
        assert k in parsed
