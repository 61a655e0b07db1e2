"""Tests of the benchmark itself: seeded inputs, metric names, the
search and ingest checks, the event-log fold, and a short smoke run of
every workload.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, wl_batch, wl_search  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _tables(d: str) -> dict:
    return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))}


class TestSeededInputs:
    def test_sf_tables_repeat_for_a_seed_and_differ_across_seeds(self, tmp_path):
        a, b, c = (str(tmp_path / x) for x in "abc")
        gen.write_sf_tables(a, 0.001, 7)
        gen.write_sf_tables(b, 0.001, 7)
        gen.write_sf_tables(c, 0.001, 8)
        ta, tb, tc = _tables(a), _tables(b), _tables(c)
        assert len(ta) == 10
        assert all(ta[k].equals(tb[k]) for k in ta)
        assert not ta["lineitem.parquet"].equals(tc["lineitem.parquet"])
        assert not ta["documents.parquet"].equals(tc["documents.parquet"])

    def test_search_inputs_repeat_for_a_seed_and_differ_across_seeds(self):
        def inputs(seed):
            orp = gen.orp_documents(seed, gen.documents_table(seed, 300))
            reqs = gen.search_requests(seed, orp, 50)
            return orp, gen.legislation_edges(seed, orp), [(r.body, r.join) for r in reqs]

        (o1, e1, r1), (o2, e2, r2), (o3, _, r3) = inputs(3), inputs(3), inputs(4)
        assert o1.equals(o2) and e1.equals(e2) and r1 == r2
        assert not o1.equals(o3) and r1 != r3

    def test_search_mix_covers_every_request_kind(self):
        orp = gen.orp_documents(1, gen.documents_table(1, 300))
        reqs = gen.search_requests(1, orp, 200)
        assert {r.kind for r in reqs} == {
            "id", "keyword", "in", "date", "title", "topic", "deep", "combo",
            "empty", "invalid"}
        assert any(r.join for r in reqs)

    def test_every_request_window_has_the_same_shape_mix(self):
        orp = gen.orp_documents(1, gen.documents_table(1, 300))
        cycle = len(gen.REQUEST_CYCLE)
        a = gen.search_requests(1, orp, 2 * cycle)
        b = gen.search_requests(2, orp, 2 * cycle)
        assert [(r.kind, r.join) for r in a] == [(r.kind, r.join) for r in b]
        assert [r.body for r in a] != [r.body for r in b]


class TestMetricNames:
    def test_names_and_units_are_well_formed(self):
        for name, unit in {**END_TO_END, **PER_LAYER}.items():
            assert NAME.fullmatch(name) and len(name) <= 64, name
            assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit), unit
        assert not set(END_TO_END) & set(PER_LAYER)

    def test_benchmark_json_declares_the_runner_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
        assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
        assert [w["name"] for w in bench["workloads"]] == ["search", "batch"]


class TestSearchCheck:
    @pytest.fixture(scope="class")
    def con(self, tmp_path_factory):
        root = str(tmp_path_factory.mktemp("search"))
        docs_path, edges_path, orp = wl_search.write_inputs(root, 11)
        con = wl_search.oracle(docs_path, edges_path)
        return con, orp

    def _answer(self, con, req):
        status, total, ids = wl_search.expected(con, req.body, req.join)
        if status == 400:
            return {"status_code": 400, "error": "unsupported"}
        return {"status_code": status, "total_search_results": total,
                "documents": [{"document_uid": u} for u in ids]}

    def test_correct_answers_pass_and_corrupted_ones_fail(self, con):
        con, orp = con
        reqs = gen.search_requests(11, orp, 80)
        hits = [r for r in reqs if r.kind == "in"]
        for req in reqs:
            assert wl_search.check(con, req, self._answer(con, req)) is None
        req = hits[0]
        good = self._answer(con, req)
        assert good["status_code"] == 200 and good["documents"]
        dropped = dict(good, documents=good["documents"][1:])
        assert wl_search.check(con, req, dropped) is not None
        miscounted = dict(good, total_search_results=good["total_search_results"] + 1)
        assert wl_search.check(con, req, miscounted) is not None
        if not req.join:
            swapped = dict(good, documents=good["documents"][::-1])
            assert wl_search.check(con, req, swapped) is not None
        assert wl_search.check(con, req, dict(good, status_code=404)) is not None
        assert wl_search.check(con, req, RuntimeError("boom")) is not None

    def test_invalid_keys_expect_400(self, con):
        con, _ = con
        assert wl_search.expected(con, {"frobnicate": 1}, False) == (400, None, [])


class TestStreamCheck:
    @pytest.fixture(scope="class")
    def texts(self):
        t = gen.documents_table(wl_batch.TABLE_SEED, 5000).column("text").to_pylist()
        return dict(enumerate(t[:60]))

    def _answer(self, texts):
        import pandas as pd

        keys = {m: 500 + i for m, i in wl_batch.STREAM_PLANTED.items()}
        rows = [(m, dup, None if dup else keys.get(m, m), None if dup else 1)
                for m, dup in wl_batch.expected_flags(texts).items()]
        return pd.DataFrame(rows, columns=["media_id", "is_near_dup", "doc_key",
                                           "version"])

    def test_expected_flags_follow_the_near_dup_rule(self, texts):
        flags = wl_batch.expected_flags(texts)
        assert not any(flags[i] for i in wl_batch.STREAM_BATCHES[0])
        # on the benchmark's table every planted copy ("<text> planted
        # ...", "<text> dup") shares a band with its first-batch source
        assert all(flags[m] for m in wl_batch.STREAM_PLANTED)
        copies = [i for i in wl_batch.STREAM_BATCHES[1]
                  if texts[i].endswith(" dup") and texts[i][:-4] in
                  {texts[j] for j in wl_batch.STREAM_BATCHES[0]}]
        assert copies and all(flags[i] for i in copies)
        assert wl_batch.lsh_bands("same text here") == wl_batch.lsh_bands("same text here")
        assert not wl_batch.lsh_bands("query row stream") & wl_batch.lsh_bands("xyzzy plugh")

    def test_correct_answer_passes_and_corrupted_ones_fail(self, texts):
        import pandas as pd

        good = self._answer(texts)
        assert wl_batch.check_stream(good, texts) == []

        def corrupt(mid, **cols):
            bad = good.copy()
            for col, v in cols.items():
                bad.loc[bad.media_id == mid, col] = v
            return wl_batch.check_stream(bad, texts)

        # a planted near-duplicate admitted to the store
        assert corrupt(1002, is_near_dup=False, doc_key=502, version=1)
        # ... or flagged but stored anyway
        assert corrupt(1002, doc_key=502, version=1)
        # a document flagged that no earlier band matches
        assert corrupt(3, is_near_dup=True, doc_key=None, version=None)
        # an admitted document at the wrong version or key
        assert corrupt(40, version=2)
        assert corrupt(40, doc_key=41)
        # a lost or repeated message
        assert wl_batch.check_stream(good[good.media_id != 12], texts)
        assert wl_batch.check_stream(pd.concat([good, good.iloc[:1]]), texts)


class TestTracing:
    def _job(self, jid, group, sub_ms, stage):
        props = {"spark.jobGroup.id": group} if group else {}
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": [stage],
             "Submission Time": sub_ms, "Properties": props},
            {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
             "Task Metrics": {"Executor Run Time": 1000}, "Task Info": {}},
        ]

    def test_fold_counts_only_jobs_submitted_in_the_window(self, tmp_path):
        from perfbench.tracing import fold_event_log

        events = (self._job(0, None, 1_000, 0)             # warm-up, untagged
                  + self._job(1, "pb:setup/batch0", 2_000, 1)  # tagged before the window
                  + self._job(2, "pb:q:x", 11_000, 2)
                  + self._job(3, "pb:q:x/batch1", 12_000, 3)
                  + self._job(4, None, 13_000, 4)          # engine thread pool
                  + self._job(5, "pb:q:x", 30_000, 5))     # after the window
        log = tmp_path / "log"
        log.write_text("".join(json.dumps(e) + "\n" for e in events))
        totals, per_group = fold_event_log([str(log)], 10.0, 20.0, 4)
        assert totals["jobs"] == 3 and totals["jobs_unattributed"] == 1
        assert totals["tasks"] == 3 and totals["executor_run_s"] == 3.0
        assert per_group == {"q:x": 1, "q:x/batch1": 1}

    def test_micro_batches_are_tagged_only_inside_the_measured_loop(self, tmp_path):
        from types import SimpleNamespace

        from perfbench.tracing import Tracer

        groups = []
        sc = SimpleNamespace(setJobGroup=lambda group, desc: groups.append(group),
                             setLocalProperty=lambda key, value: None)
        tracer = Tracer(str(tmp_path))
        tracer.spark = SimpleNamespace(sparkContext=sc)
        tracer.tag_batch(0)  # a warm-up stream
        assert groups == []
        tracer.group("q:s")
        tracer.tag_batch(1)
        tracer.clear_group()
        tracer.tag_batch(2)  # a stream after the loop
        assert groups == ["pb:q:s", "pb:q:s/batch1"]


def _run(workload: str, trace: int, seconds: str = "2") -> dict:
    env = dict(os.environ, PERFBENCH_SF="0.001")
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", seconds, "--trace", str(trace)],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True, timeout=600)
    assert res.returncode == 0
    return json.loads(res.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["search", "batch"])
def test_smoke_run_prints_every_end_to_end_metric(workload):
    out = _run(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", ["search", "batch"])
def test_smoke_traced_run_prints_every_per_layer_metric(workload):
    out = _run(workload, 1)
    assert out["correct"] is True
    assert {k: v["unit"] for k, v in out["metrics"].items()} == PER_LAYER
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["spark.tasks"] > 0
    assert m["trace.overhead_frac"] != 0
    if workload == "search":
        # each request runs a count and a collect; requests of the
        # untraced reference loop are not in the denominator
        assert 1.5 <= m["search.jobs_per_request"] <= 8
        assert m["search.p50_ms"] > 0
        return
    assert m["catalog.load_table_calls"] > 0
    assert m["checkpointing.stage_checkpoint_calls"] > 0
    assert m["spark.python_bytes_out"] > 0
    assert m["stream.add_batch_s"] > 0 and m["stream.files_written"] > 0
    assert all(m[f"q.{q}.jobs"] > 0 for q in wl_batch.QUERIES)


def test_missing_engine_exits_nonzero_without_a_result(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "search", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=120)
    assert res.returncode != 0 and res.stdout == ""
