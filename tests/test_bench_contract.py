"""The bench driver contract: the ONE stdout JSON line must fit the
driver's 2000-char stdout tail window (BENCH_r12/r13 were `"parsed": null`
because the line outgrew it), and the elevated-draw self-diagnosis must
recognize the archived host-steal receipts (VERDICT r13 item 3)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _shrunk_line(timings, errors=None, elevated=False):
    return bench.fit_contract_line(timings, errors or {}, 0.1, elevated)


def test_contract_line_fits_driver_tail_worst_case():
    # worst case: every headline query present, every timing 3 digits + 3
    # decimals (a fully host-stalled draw), plus the elevated marker
    timings = {q: 123.456 for q in bench.HEADLINE}
    line = _shrunk_line(timings, elevated=True)
    assert len(line) <= 2000, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_sec"
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    assert parsed["draw_elevated"] is True
    # total keeps full precision even when per-query values are rounded
    assert parsed["value"] == round(123.456 * len(bench.HEADLINE), 3)


def test_contract_line_realistic_draw_fits_at_two_decimals():
    # a realistic draw (archived r14 final draw) fits without the 1-decimal
    # fallback
    with open(os.path.join(REPO, "tools/bands_draws_r14/final_draw1.json")) as f:
        d = json.load(f)
    line = bench.contract_line(d["queries"], {}, 0.1, False, ndigits=2)
    assert len(line) <= 1900, len(line)
    assert json.loads(line)["queries"].keys() == d["queries"].keys()


def test_contract_line_errors_truncated():
    # plenty of headroom → the r14 shape verbatim: 80-char message, no count
    timings = {"gas_stats": 1.234}
    errors = {"pagerank_ranks": "x" * 500}
    parsed = json.loads(_shrunk_line(timings, errors=errors))
    assert len(parsed["errors"]["pagerank_ranks"]) == 80
    assert "n_errors" not in parsed
    # near the window, timing precision outranks error-message length:
    # the 40-char step fires before the 1-decimal step
    timings = {q: 1.234 for q in bench.HEADLINE}
    parsed = json.loads(_shrunk_line(timings, errors=errors))
    assert parsed["queries"]["gas_stats"] == 1.23
    assert len(parsed["errors"]["pagerank_ranks"]) == 40


def test_contract_line_fits_with_errors_worst_case():
    # r15 (ADVICE): worst-case timings PLUS errors must still fit the
    # driver window — the old 2-step shrink overflowed with even one
    # 80-char error. Sweep 1, 3, 10 and all-queries-errored shapes.
    for n_err in (1, 3, 10, len(bench.HEADLINE)):
        errored = bench.HEADLINE[:n_err]
        timings = {q: 123.456 for q in bench.HEADLINE if q not in errored}
        errors = {q: "e" * 500 for q in errored}
        line = _shrunk_line(timings, errors=errors, elevated=True)
        assert len(line) <= 1900, (n_err, len(line))
        parsed = json.loads(line)
        # the failure is always visible: either messages or a count
        n_shown = len(parsed.get("errors", {}))
        assert n_shown == n_err or parsed["n_errors"] == n_err
        # dropped messages imply the count key
        if n_shown < n_err:
            assert parsed["n_errors"] == n_err
        assert set(parsed["queries"]) == set(timings)


def test_contract_line_650s_per_query_fits():
    # ~650 s/query: the 1-decimal map of every headline query passes 1900
    # chars, with or without errors. Whole seconds fit; four-digit timings
    # overflow even those, and the last fallback drops the map, keeping the
    # total and the counts.
    for t, keeps_map in ((650.123, True), (9999.9, False)):
        timings = {q: t for q in bench.HEADLINE}
        assert len(bench.contract_line(timings, {}, 0.1, True, ndigits=1)) > 1900
        for errors in ({}, {bench.HEADLINE[0]: "e" * 500}):
            line = _shrunk_line(timings, errors=errors, elevated=True)
            assert len(line) <= 1900, (t, len(line))
            parsed = json.loads(line)
            if keeps_map:
                assert parsed["queries"]["gas_stats"] == round(t)
                assert "n_queries" not in parsed
            else:
                assert "queries" not in parsed
                assert parsed["n_queries"] == len(bench.HEADLINE)
            assert parsed["value"] == round(t * len(bench.HEADLINE), 3)
            assert parsed["draw_elevated"] is True
            assert parsed.get("n_errors", 0) == len(errors)


def test_detect_elevated_on_archived_host_steal_draws():
    # the r13 documented receipt: 40+ diffuse highs at 1.16-1.77x, no
    # single-query outlier
    for name in ("confirm_elevated_1", "confirm_elevated_2"):
        with open(os.path.join(REPO, f"tools/bands_draws_r13/{name}.json")) as f:
            d = json.load(f)
        elevated, median = bench.detect_elevated(d["band_flags"])
        assert elevated, name
        assert 1.15 <= median <= 1.8


def test_detect_elevated_outlier_robust_cap():
    # r15 (VERDICT r14 item 3): ONE genuinely-regressed query on top of a
    # diffuse host-steal draw must not veto the environment diagnosis —
    # the cap is evaluated with the single largest ratio dropped
    flags = {"q%d" % i: {"flag": "high", "ratio": 1.3} for i in range(14)}
    flags["bad_query"] = {"flag": "high", "ratio": 5.0}
    elevated, median = bench.detect_elevated(flags)
    assert elevated and median == 1.3
    # ...but TWO extreme ratios mean the highs are not diffuse steal
    flags["bad_query_2"] = {"flag": "high", "ratio": 4.0}
    assert not bench.detect_elevated(flags)[0]
    # a mass regression (bulk of highs extreme) is not "environment"
    mass = {"q%d" % i: {"flag": "high", "ratio": 2.4} for i in range(20)}
    assert not bench.detect_elevated(mass)[0]
    # too few highs: no diagnosis
    few = {"q%d" % i: {"flag": "high", "ratio": 1.3} for i in range(5)}
    assert bench.detect_elevated(few) == (False, None)


def test_detect_elevated_flags_the_r14_driver_draw():
    # regression replay (VERDICT r14 item 3): the r14 driver draw — 29
    # diffuse highs at median 1.65 with one 2.52 outlier — shipped with
    # draw_elevated=false because the old `max <= 2.5` cap failed on the
    # outlier. The archived flags must now read elevated.
    with open(os.path.join(REPO, "tools/bands_draws_r14/driver_draw_flags.json")) as f:
        d = json.load(f)
    elevated, median = bench.detect_elevated(d["band_flags"])
    assert elevated
    assert 1.15 <= median <= 1.8


def test_band_flags_thresholds():
    bands = {"a": {"p10": 1.0, "p90": 2.0}, "b": {"p10": 1.0, "p90": 2.0}}
    flags = bench.band_flags({"a": 2.5, "b": 1.5, "c": 1.0}, bands)
    assert flags["a"] == {"flag": "high", "ratio": 1.25}
    assert "b" not in flags  # inside the band
    assert flags["c"] == {"flag": "no_band"}
