"""Tests of the benchmark itself: tracer arithmetic, seeded inputs, and
tiny-input runs of every workload through the command line.

  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from measure import Tracer, _union_length  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_union_length_merges_overlaps():
    assert _union_length([]) == 0.0
    assert _union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert _union_length([(0, 10), (2, 3)]) == pytest.approx(10.0)


def test_self_time_subtracts_children(tmp_path):
    tr = Tracer(enabled=True)
    with tr.span("outer"):
        tr.record("child", 0.0, 0.0)
    outer = tr.spans[0]
    tr.spans[1].update(start=outer["start"], end=outer["start"] + (outer["end"] - outer["start"]) / 2)
    own = tr.self_times()
    assert own["outer"] == pytest.approx((outer["end"] - outer["start"]) / 2)
    path = tmp_path / "spans.jsonl"
    tr.write(str(path))
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["outer", "child"]
    assert rows[1]["parent"] == rows[0]["id"] and rows[0]["parent"] is None


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        tr.record("y", 0.0, 1.0)
    assert tr.spans == [] and tr.self_times() == {}


def test_documents_are_seeded(tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    from corpus import write_documents

    paths = [tmp_path / n for n in ("a.parquet", "b.parquet", "c.parquet")]
    write_documents(str(paths[0]), 7, 50)
    write_documents(str(paths[1]), 7, 50)
    write_documents(str(paths[2]), 8, 50)
    a, b, c = (pq.read_table(str(p)).to_pylist() for p in paths)
    assert a == b and a != c
    assert [r["doc_id"] for r in a] == list(range(50))
    assert all(r["n_chars"] == len(r["text"]) for r in a)


def test_oracle_check_catches_wrong_rows():
    duckdb = pytest.importorskip("duckdb")
    sys.path.insert(0, REPO)
    from corpus import oracle_mismatch

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', NULL)) t(k, v, x)"
    right = [(2, "b", None), (1, "a", 0.5)]  # order does not matter
    assert oracle_mismatch(["k", "v", "x"], right, con, sql) is None
    assert oracle_mismatch(["x", "k", "v"], [(0.5, 1, "a"), (None, 2, "b")], con, sql) is None
    assert "hash" in oracle_mismatch(["k", "v", "x"], [(1, "a", 0.5), (2, "c", None)], con, sql)
    assert "rows" in oracle_mismatch(["k", "v", "x"], right[:1], con, sql)
    assert "columns" in oracle_mismatch(["k", "v", "y"], right, con, sql)


def _run(workload: str, trace: int, cwd: str, *extra: str) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace), "--tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["annotations"], json.loads(lines[-1])


@pytest.mark.parametrize(
    "workload,trace", [("stream_drain", 1), ("batch_corpus", 0), ("batch_corpus", 1)]
)
def test_tiny_run_prints_the_contract(workload, trace, tmp_path):
    one_core = workload == "stream_drain" and shutil.which("taskset") is not None
    notes, res = _run(workload, trace, str(tmp_path), *(["--one-core"] if one_core else []))
    if one_core:
        assert res["metrics"].pop("drain.turns_per_s_1core")["value"] > 0
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    listed = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in listed} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    assert notes["failed_frac"] == 0 and notes["check_failures"] == []
    # everything the run wrote under its temp root is gone
    assert not os.path.exists(tmp_path / ".perfbench_tmp")
    if trace:
        assert notes["unlisted_layers"] == []
        spans = [json.loads(x) for x in open(tmp_path / notes["span_file"])]
        assert spans and all(s["end"] >= s["start"] for s in spans)
        m = res["metrics"]
        if workload == "stream_drain":
            assert m["enriched.batches"]["value"] >= 1
            assert m["sink.enriched.rows"]["value"] == m["enriched.input_rows"]["value"]
        else:
            assert m["query.q_minhash_lsh_s"]["value"] > 0
        assert m["enrich.total_s"]["value"] > 0
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_fails_without_the_program(tmp_path):
    """Beside BENCHMARK.json and perfbench/ alone, the benchmark exits
    non-zero and prints no result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_drain",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
