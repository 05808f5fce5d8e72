"""Tests of the benchmark's own code: generators, checkers, tracer and the
event-log parser. None of them starts Spark.

    python3 -m pytest chainbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_a_function_of_the_seed(tmp_path, workload):
    a, ans_a = gen.ensure_inputs(str(tmp_path / "a"), workload, 7, "small")
    b, ans_b = gen.ensure_inputs(str(tmp_path / "b"), workload, 7, "small")
    c, ans_c = gen.ensure_inputs(str(tmp_path / "c"), workload, 8, "small")
    files = _files(a)
    assert files == _files(b) == _files(c)
    data = [f for f in files if f.endswith(".parquet")]
    _, mismatch, errors = filecmp.cmpfiles(a, b, data, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, data, shallow=False)
    assert mismatch, "another seed must give other content"
    assert ans_a == ans_b


def test_cache_reuses_a_finished_entry(tmp_path):
    d, ans = gen.ensure_inputs(str(tmp_path), "analyse", 3, "small")
    marker = os.path.join(d, "documents", "part-00000.parquet")
    mtime = os.stat(marker).st_mtime_ns
    assert gen.ensure_inputs(str(tmp_path), "analyse", 3, "small") == (d, ans)
    assert os.stat(marker).st_mtime_ns == mtime


@pytest.mark.parametrize("seed", range(100, 140))
def test_planted_document_counts_hold(tmp_path, seed):
    """Curation keeps one document per normalized text among those with at
    least 5 words; the planted count must agree for every seed."""
    import pyarrow.parquet as pq

    d, ans = gen.ensure_inputs(str(tmp_path), "analyse", seed, "small")
    texts = pq.read_table(os.path.join(d, "documents")).column("text").to_pylist()
    kept = {" ".join(t.lower().split()) for t in texts if len(t.split()) >= 5}
    assert len(kept) == ans["curated_docs"]


def test_shapes_do_not_depend_on_the_seed():
    size = gen.SIZES["follow"]["small"]
    codes_a = gen.make_codes(1, 4, 2, size["min_kb"], size["max_kb"])
    codes_b = gen.make_codes(2, 4, 2, size["min_kb"], size["max_kb"])
    assert [[len(c) for c in t] for t in codes_a] == [[len(c) for c in t] for t in codes_b]
    # the follow checks count skeletons as templates: variants of a template
    # share a skeleton, templates do not
    skeletons = [{_skeleton(bytes.fromhex(c[2:])) for c in t} for t in codes_a]
    assert all(len(s) == 1 for s in skeletons)
    assert len(set().union(*skeletons)) == len(codes_a)


def _skeleton(code: bytes) -> bytes:
    """Runtime code before the metadata tail, PUSH arguments zeroed."""
    code = bytearray(code[:code.rindex(b"\xa2\x64ipfs")])
    i = 0
    while i < len(code):
        op = code[i]
        i += 1
        if 0x60 <= op <= 0x7F:
            code[i:i + op - 0x5F] = bytes(len(code[i:i + op - 0x5F]))
            i += op - 0x5F
    return bytes(code)


def test_follow_expected_replaces_the_reorged_range(tmp_path):
    _, ans = gen.ensure_inputs(str(tmp_path), "follow", 5, "small")
    reorg = ans["reorg_batch"]
    before = gen.follow_expected(ans, reorg)
    after = gen.follow_expected(ans, reorg + 1)
    replaced = ans["batches"][reorg]
    # same shape per block, so replacing a range leaves every count unchanged
    for t in gen.CHAIN_TABLES:
        assert after["counts"][t] == before["counts"][t]
    assert after["fork_blocks"] == len(replaced["per_block"]["blocks"])
    assert before["fork_blocks"] == 0


def test_metric_names_are_well_formed():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    for name in e2e + layer + [w["name"] for w in spec["workloads"]]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert len(set(e2e + layer)) == len(e2e) + len(layer)
    assert e2e == list(workloads.E2E)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(workloads.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def _follow_observed(want):
    return {"counts": dict(want["counts"]), "skeleton_hashes": want["counts"]["skeletons"],
            "block_numbers": want["counts"]["blocks"], "fork_blocks": want["fork_blocks"]}


def test_check_follow_rejects_wrong_sinks(tmp_path):
    _, ans = gen.ensure_inputs(str(tmp_path), "follow", 5, "small")
    want = gen.follow_expected(ans, 3)
    assert workloads.check_follow(_follow_observed(want), want) == []
    dup_reorg = _follow_observed(want)  # reorg appended instead of replaced
    dup_reorg["counts"]["blocks"] += want["fork_blocks"]
    assert len(workloads.check_follow(dup_reorg, want)) == 2
    lost = _follow_observed(want)
    lost["fork_blocks"] = 0
    assert workloads.check_follow(lost, want)
    dup_sk = _follow_observed(want)
    dup_sk["skeleton_hashes"] -= 1
    assert workloads.check_follow(dup_sk, want)


def _analyse_case():
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    pr = workloads._pagerank_reference(edges)
    core = workloads._coreness_reference(edges)
    answers = {"cosine_pairs": 3, "jaccard_pairs": 3, "components": 1, "curated_docs": 10,
               "dup_clusters": 2, "lifetimes": {"destroyed": 4, "avg_lifetime_blocks": 2.5}}
    got = {"cosine": 3, "jaccard": 3, "components": 1, "curated": 10, "clusters": 2,
           "lifetimes": {"destroyed": 4, "avg_lifetime_blocks": 2.5},
           "pagerank": dict(pr), "coreness": dict(core)}
    return got, answers, pr, core


def test_references_on_a_small_graph():
    got, _, pr, core = _analyse_case()
    assert core == {"a": 2, "b": 2, "c": 2, "d": 1, "e": 1}
    assert abs(sum(pr.values()) - 1.0) < 1e-12
    assert pr["e"] > pr["d"]  # e collects d's whole rank; d only a share of c's


@pytest.mark.parametrize("key,bad", [
    ("cosine", 2), ("jaccard", 4), ("components", 2), ("curated", 11), ("clusters", 1),
    ("lifetimes", {"destroyed": 3, "avg_lifetime_blocks": 2.5}),
    ("lifetimes", {"destroyed": 4, "avg_lifetime_blocks": 2.6}),
    ("coreness", {"a": 2, "b": 2, "c": 2, "d": 2, "e": 1}),
])
def test_check_analyse_rejects_wrong_results(key, bad):
    got, answers, pr, core = _analyse_case()
    assert workloads.check_analyse(got, answers, pr, core) == []
    got[key] = bad
    assert len(workloads.check_analyse(got, answers, pr, core)) == 1


def test_check_pagerank_rejects_wrong_ranks():
    _, _, pr, _ = _analyse_case()
    assert workloads.check_pagerank(dict(pr), pr) is None
    shifted = dict(pr, a=pr["a"] + 1e-6, b=pr["b"] - 1e-6)  # still sums to 1
    assert "differs" in workloads.check_pagerank(shifted, pr)
    assert "sums" in workloads.check_pagerank(dict(pr, a=pr["a"] + 0.1), pr)
    assert workloads.check_pagerank({k: v for k, v in pr.items() if k != "e"}, pr)


class _FakeContext:
    def __init__(self):
        self.props = []

    def setLocalProperty(self, key, value):  # noqa: N802 - SparkContext's name
        self.props.append((key, value))


def test_tracer_records_nested_spans_and_job_groups():
    sc = _FakeContext()
    tr = spans.Tracer(sc)
    tr.phase = "timed"
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = sorted(tr.spans, key=lambda s: s.start)
    assert inner.parent == outer.id and outer.parent is None
    assert sc.props == [(spans.GROUP_KEY, outer.id), (spans.GROUP_KEY, inner.id),
                        (spans.GROUP_KEY, outer.id), (spans.GROUP_KEY, None)]
    assert {s.phase for s in tr.spans} == {"timed"}
    off = spans.Tracer(None)
    with off.span("x"):
        pass
    assert off.spans == []


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def _fixture_log() -> list[str]:
    scope = json.dumps({"id": "3", "name": "ArrowEvalPython"})
    plain = json.dumps({"id": "1", "name": "WholeStageCodegen (1)"})
    plan = {"nodeName": "WriteFiles", "metrics": [], "children": [
        {"nodeName": "ArrowEvalPython", "children": [],
         "metrics": [{"name": "number of output rows", "accumulatorId": 42}]}]}

    def task(stage, run_ms, rows=None, written=0):
        acc = [{"ID": 42, "Name": "number of output rows", "Update": str(rows)}] if rows else []
        return _event(
            "SparkListenerTaskEnd", **{"Stage ID": stage, "Stage Attempt ID": 0,
                                       "Task Info": {"Accumulables": acc},
                                       "Task Metrics": {
                                           "Executor Run Time": run_ms,
                                           "Executor CPU Time": run_ms * 500_000,
                                           "JVM GC Time": 5,
                                           "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
                                           "Shuffle Read Metrics": {"Remote Bytes Read": 10,
                                                                    "Local Bytes Read": 20},
                                           "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                                           "Output Metrics": {"Records Written": written,
                                                              "Bytes Written": 3 * written}}})

    return [
        _event("SparkListenerLogStart", **{"Spark Version": "4.1.0"}),
        _event("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
               executionId=0, sparkPlanInfo=plan),
        _event("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1],
                                           "Properties": {spans.GROUP_KEY: "cb1"}}),
        _event("SparkListenerStageSubmitted", **{
            "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0,
                           "RDD Info": [{"Scope": scope, "Name": "x"}]},
            "Properties": {spans.GROUP_KEY: "cb1"}}),
        task(0, 1000, rows=5),
        task(0, 3000, rows=7),
        _event("SparkListenerStageSubmitted", **{
            "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0,
                           "RDD Info": [{"Scope": plain, "Name": "y"}]},
            "Properties": {spans.GROUP_KEY: "cb1"}}),
        task(1, 500, written=4),
        "",
        _event("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2], "Properties": {}}),
        _event("SparkListenerStageSubmitted", **{
            "Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0, "RDD Info": []},
            "Properties": None}),
        task(2, 100),
    ]


def test_event_log_parser_counts_a_fixture_log():
    out = spans.parse_event_log(_fixture_log())
    g = out["cb1"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 2, 3)
    assert g["executor_run_s"] == pytest.approx(4.5)
    assert g["executor_cpu_s"] == pytest.approx(2.25)
    assert g["gc_s"] == pytest.approx(0.015)
    assert (g["shuffle_read_bytes"], g["shuffle_write_bytes"], g["spill_bytes"]) == (90, 21, 9)
    assert g["udf_exec_s"] == pytest.approx(4.0)
    assert g["udf_rows"] == 12
    assert (g["records_written"], g["bytes_written"]) == (4, 12)
    ungrouped = out[""]
    assert (ungrouped["jobs"], ungrouped["stages"], ungrouped["tasks"]) == (1, 1, 1)
    assert ungrouped["udf_exec_s"] == 0
    tot = spans.engine_totals(out, ["cb1", ""])
    assert tot["tasks"] == 4 and tot["jobs"] == 2
