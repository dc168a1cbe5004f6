"""Checks on the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

import gen
import layers
import oracle
from workloads import FIXPOINT, IVM, IVM_FIXPOINT, WORKLOADS

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

SMALL_CORPUS = gen.CorpusSpec(conversations=60)
TABLES = ("customer", "part", "lineitem", "events", "documents", "embeddings")
SMALL = 0.002  # of the measured sf0.1 sizes


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _match, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors


def test_generator_is_deterministic(tmp_path):
    gen.generate_corpus(str(tmp_path / "c1"), 7, SMALL_CORPUS)
    gen.generate_corpus(str(tmp_path / "c2"), 7, SMALL_CORPUS)
    gen.generate_corpus(str(tmp_path / "c3"), 8, SMALL_CORPUS)
    gen.generate_tables(str(tmp_path / "t1"), 7, TABLES, SMALL)
    gen.generate_tables(str(tmp_path / "t2"), 7, TABLES, SMALL)
    gen.generate_tables(str(tmp_path / "t3"), 8, TABLES, SMALL)
    assert _same_tree(tmp_path / "c1", tmp_path / "c2")
    assert _same_tree(tmp_path / "t1", tmp_path / "t2")
    assert not _same_tree(tmp_path / "c1", tmp_path / "c3")
    assert not _same_tree(tmp_path / "t1", tmp_path / "t3")


def test_tables_follow_the_measured_profile(tmp_path):
    profile = gen.load_profile()
    rows = gen.generate_tables(str(tmp_path), 3, TABLES, SMALL)
    for name in TABLES:
        table = pq.read_table(tmp_path / f"{name}.parquet")
        cols = profile[name]["columns"]
        assert table.column_names == [c["name"] for c in cols]
        assert [str(t) for t in table.schema.types] == [c["type"] for c in cols]
        want = profile[name]["rows"] * SMALL
        assert abs(rows[name] - want) <= max(1, 0.1 * want), (name, rows[name], want)
        for c in cols:
            values = table[c["name"]].to_pylist()
            if c["kind"] == "key":
                assert values == list(range(rows[name]))
            elif c["kind"] == "ref" and c["scales"]:
                assert 0 <= min(values) and max(values) < round(c["domain"] * SMALL)
            elif c["kind"] == "category":
                assert set(values) <= set(c["values"])
            elif c["kind"] == "number":
                assert c["quantiles"][0] <= min(values) and max(values) <= c["quantiles"][-1]


def test_corpus_holds_every_message_kind(tmp_path):
    gen.generate_corpus(str(tmp_path), 3, gen.CorpusSpec(conversations=200))
    msgs = [m for _n, c in gen.read_corpus(str(tmp_path)) for m in c["messages"]]
    bodies = [m["body"] for m in msgs]
    assert None in bodies
    assert gen.PREAMBLE in bodies
    assert any(m["medium"] in ("Instagram", "Telegram") for m in msgs)
    assert any(not m["is_inbound"] for m in msgs)
    assert any(b and any(t in b for t in gen.BURST_TOKENS) for b in bodies)
    assert len({b for b in bodies if b}) < len([b for b in bodies if b])  # exact repeats


def test_xxhash_matches_spark():
    # values computed by Spark 4.1: xxhash64(name, 42)
    assert oracle.spark_xxhash64("conv_00000.json", 42) == -898118230357181577
    assert oracle.corpus_split("conv_00000.json") in ("train", "test")


def test_detect_check_rejects_a_perturbed_summary(tmp_path):
    gen.generate_corpus(str(tmp_path), 5, gen.CorpusSpec(conversations=400))
    want = oracle.expected_summary(str(tmp_path), None)
    assert want["processed"] > 100 and want["duplicates"]["total"] > 0
    got = copy.deepcopy(want)
    got["final_burst"] = [{"token": t, "recent_count": r, "prev_count": p}
                          for t, r, p in want["final_burst"]]
    assert oracle.summary_mismatches(got, want) == []

    for perturb in (
        lambda s: s.__setitem__("processed", s["processed"] + 1),
        lambda s: s["duplicates"].__setitem__("avg_score", s["duplicates"]["avg_score"] + 1e-6),
        lambda s: s["periodic_snapshots"][0].__setitem__("duplicates_so_far", -1),
        lambda s: s["periodic_snapshots"][-1]["top_10_tokens"].popitem(),
        lambda s: s["final_top_tokens"].update({"zzz": 1}),
        lambda s: s["final_burst"].pop(),
    ):
        bad = copy.deepcopy(got)
        perturb(bad)
        assert oracle.summary_mismatches(bad, want)


def test_query_check_rejects_a_perturbed_result():
    want = oracle.value_matrix(["b", "a"], [(1.0, "x"), (2.5, None)])
    assert oracle.matrix_mismatch(oracle.value_matrix(["a", "b"], [(None, 2.5), ("x", 1.0)]), want) is None
    assert oracle.matrix_mismatch(oracle.value_matrix(["b", "a"], [(1.0, "x"), (2.5001, None)]), want)
    assert oracle.matrix_mismatch(oracle.value_matrix(["b", "a"], [(1.0, "x")]), want)
    assert oracle.matrix_mismatch(oracle.value_matrix(["b", "c"], [(1.0, "x"), (2.5, None)]), want)


def test_names_and_units_are_well_formed():
    bench = _bench()
    names = [w["name"] for w in bench["workloads"]]
    for group in ("end_to_end", "per_layer"):
        for m in bench[group]:
            names.append(m["name"])
            assert UNIT.match(m["unit"]), m
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for w in bench["workloads"]:
        assert w["name"] in WORKLOADS and w["why"] and "\n" not in w["why"]
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25 and m["better"] in ("lower", "higher")
    assert {"name": "setup_s", "unit": "s", "better": "lower",
            "bound": max(m["bound"] for m in bench["end_to_end"])} in bench["end_to_end"]


def test_the_tracer_produces_every_listed_per_layer_metric():
    root = layers.Span("pass", "x", 0.0, 0.0, 1.0, 1.0)
    produced = {k: u for k, (_v, u) in layers.layer_metrics([[root]], 1.0, 0.0, 1.0).items()}
    for m in _bench()["per_layer"]:
        assert produced.get(m["name"]) == m["unit"], m


def _recorded_metrics(workload: str) -> dict[str, float]:
    """Per-layer metrics of the traced passes recorded with
    ``run.py --trace 1 --spans-out tests/data/spans-<workload>.json``."""
    with open(os.path.join(HERE, "tests", "data", f"spans-{workload}.json")) as fh:
        runs = [[layers.Span(**s) for s in spans] for spans in json.load(fh)]
    return {k: v for k, (v, _u) in layers.layer_metrics(runs, 1.0, 1.0, 1.0).items()}


def test_every_listed_per_layer_metric_moves_on_a_listed_workload():
    bench = _bench()
    recorded = [_recorded_metrics(w["name"]) for w in bench["workloads"]]
    for m in bench["per_layer"]:
        assert any(r[m["name"]] != 0 for r in recorded), m["name"]


# Names the benchmark definition asks for, by where they are listed.  A
# name missing from BENCHMARK.json must be in LEFT_OUT with its reason.
SPEC_WORKLOADS = ("detect-cold", "detect-warm", "ivm", "fixpoint")
SPEC_END_TO_END = ("setup_s", "wall_s", "rows_per_s", "error_rate", "peak_rss_mb")
SPEC_PER_LAYER = (
    "session.start_s",
    "sources.ingest_s", "sources.ingest_jobs", "sources.ingest_task_s",
    "sources.cache_hit_ratio", "sources.cache_bytes",
    "plans.pipeline_s", "plans.actions", "plans.build_s",
    "operators.snapshots_s", "operators.topk_s", "operators.burst_s",
    "streaming.stage_s", "streaming.drain_s", "streaming.publish_s",
    "streaming.triggers", "streaming.input_rows", "streaming.addbatch_s",
    "streaming.commit_s", "streaming.planning_s", "streaming.trigger_p50_s",
    "streaming.trigger_p90_s",
    "streaming.store_appends", "streaming.store_merges", "streaming.store_append_s",
    "streaming.store_parts_max", "streaming.state_bytes", "streaming.write_amp",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.catalyst_s",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.idle_s",
    "trace.overhead_s",
) + tuple(f"query.{q}_{k}" for q in IVM + FIXPOINT for k in ("s", "jobs"))
LEFT_OUT = {
    "detect-warm": "runs by name; not listed, to fit the time budget",
    "ivm": "runs by name; listed through ivm-fixpoint, to fit the time budget",
    "fixpoint": "runs by name; listed through ivm-fixpoint, to fit the time budget",
    "error_rate": "zero on a correct run, so it is carried by attempted/failed",
    # zero on both listed workloads; printed as '#' lines
    "sources.cache_hit_ratio": "detect-cold always reloads; 1 on detect-warm",
    "spark.spill_bytes": "nothing spills at these sizes",
}
LEFT_OUT.update({f"query.{q}_{k}": "only ivm or fixpoint runs it"
                 for q in set(IVM + FIXPOINT) - set(IVM_FIXPOINT) for k in ("s", "jobs")})
# an end-to-end metric that does not repeat within a tenth is per-layer
MOVED_TO_PER_LAYER = ("peak_rss_mb",)


def test_benchmark_lists_every_name_asked_for():
    bench = _bench()
    workloads = {w["name"] for w in bench["workloads"]}
    e2e = {m["name"] for m in bench["end_to_end"]}
    per_layer = {m["name"] for m in bench["per_layer"]}
    for names, listed in ((SPEC_WORKLOADS, workloads), (SPEC_END_TO_END, e2e),
                          (SPEC_PER_LAYER, per_layer)):
        for name in names:
            assert name in listed or name in LEFT_OUT or name in MOVED_TO_PER_LAYER, name
    assert all(name in per_layer for name in MOVED_TO_PER_LAYER)
    assert all(name in WORKLOADS for name in SPEC_WORKLOADS)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "fixpoint", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
    assert not (tmp_path / ".perfbench_work").exists()
