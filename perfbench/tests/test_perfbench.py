"""Tests of the benchmark's own parts; none of them starts Spark.

    python3 -m pytest perfbench/tests -q      # from the repository root
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import eventlog  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read())
            .hexdigest() for f in sorted(os.listdir(d))}


def test_pages_same_seed_same_bytes(tmp_path):
    a = gen.write_pages(str(tmp_path / "a"), 7, 2, [3_333] * 3)
    b = gen.write_pages(str(tmp_path / "b"), 7, 2, [3_333] * 3)
    assert a == b and sum(n for _, n in a) == 9_999
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))


def test_pages_seed_moves_defects_to_other_texts(tmp_path):
    def invalid_url_texts(seed):
        gen.write_pages(str(tmp_path / str(seed)), seed, 1, [5_000])
        df = pd.read_parquet(tmp_path / str(seed))
        return set(df.loc[df["url"].str.startswith("notaurl:"), "text"])
    assert invalid_url_texts(1) != invalid_url_texts(2)


def test_dedup_corpus_deterministic_with_planted_shares(tmp_path):
    a = gen.dedup_texts(3, 500, 40, 30)
    assert a == gen.dedup_texts(3, 500, 40, 30)
    assert a != gen.dedup_texts(4, 500, 40, 30)
    assert len(a) == 570
    # exact copies repeat a unique text; near copies are new texts
    assert len(set(a)) == 530
    n = gen.write_dedup_corpus(str(tmp_path / "d"), 3, 500, 40, 30, 2)
    df = pd.read_parquet(tmp_path / "d")
    assert n == len(df) == 570 and list(df["text"]) == a


def test_near_copies_stay_above_the_jaccard_threshold():
    texts = gen.dedup_texts(5, 200, 0, 50)

    def sh(t):
        w = t.split(" ")
        return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}
    sets = [sh(t) for t in texts]
    best = []
    for i, s in enumerate(sets):
        j = max(len(s & o) / len(s | o) for k, o in enumerate(sets) if k != i)
        best.append(j)
    # 50 near copies each pair with their source; random texts never do
    assert sum(j >= 0.8 for j in best) >= 50
    assert all(j >= 0.8 or j < 0.3 for j in best)


def test_eventlog_totals_on_tiny_log():
    totals = eventlog.group_totals(os.path.join(HERE, "data"))
    v = totals["engine.validate"]
    assert v["jobs"] == 1 and v["tasks"] == 3
    assert v["cpu_s"] == pytest.approx(3.5)
    assert v["gc_s"] == pytest.approx(0.15)
    assert v["shuffle_write_bytes"] == 1500 and v["spill_bytes"] == 4096
    w = totals["manifest.write.verdicts"]
    assert (w["jobs"], w["tasks"], w["output_bytes"]) == (1, 1, 7000)
    assert totals[""]["jobs"] == 1 and totals[""]["tasks"] == 1


def test_suite_check_flags_a_planted_wrong_count(tmp_path):
    gen.write_pages(str(tmp_path), 9, 1, [2_500, 2_500])
    expected = workloads.suite_expected(str(tmp_path / "*.parquet"))
    assert expected["metrics"]["rows"] == 5000
    assert expected["verdicts"][("rules", "unique-url")] > 0
    got = copy.deepcopy(expected)
    got.update(stats_rows=3, drift_checks=1)
    assert workloads.suite_check(expected, got)
    got["violations"]["lang-iso"] += 1
    assert not workloads.suite_check(expected, got)


def test_resume_check_flags_a_planted_wrong_count(tmp_path):
    r = workloads.Resume(str(tmp_path), 1)
    r.new = {"part-00008.parquet": 2000, "part-00009.parquet": 2000}
    r.pristine_bytes, r.out_bytes = 0, []
    os.makedirs(tmp_path / "checkpoint" / "manifest")
    r.base = str(tmp_path / "checkpoint")

    def commit(rows):
        pd.DataFrame({"run_id": "op1",
                      "input_file": [f"file:///x/{f}" for f in r.new],
                      "rows": rows}).to_parquet(
            tmp_path / "checkpoint" / "manifest" / "m.parquet")
    commit([2000, 2000])
    assert r.check(("op1", 2))
    commit([2000, 1999])
    assert not r.check(("op1", 2))


def test_dedup_check_flags_a_drifting_survivor_count(tmp_path):
    d = workloads.Dedup(str(tmp_path), 1)
    d.docs = 4000
    assert d.check(3600)
    assert not d.check(3601)   # not identical across ops
    d.survivors = None
    assert not d.check(3700)   # an exact copy survived


def test_benchmark_json_lists_the_traced_metrics():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert bench["per_layer"] == spans.per_layer_spec()
    names = [m["name"] for k in ("end_to_end", "per_layer")
             for m in bench[k]]
    assert len(names) == len(set(names)) and len(bench["per_layer"]) <= 128
    assert {w["name"] for w in bench["workloads"]} <= set(
        workloads.WORKLOADS)
