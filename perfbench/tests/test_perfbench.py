"""Self-test of the benchmark: a few operations per workload on the
smallest inputs, in both modes, must emit every metric BENCHMARK.json
declares and pass every output check.

Run from the repository root (about four minutes on 4 cores):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.fixture
def scratch(request):
    """A fresh directory under the benchmark's work directory (named
    without the brackets of a test id, which Hadoop paths read as globs)."""
    path = os.path.join(run.WORK, "selftest", re.sub(r"\W", "_", request.node.name))
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture
def small(monkeypatch, scratch):
    """Shrink every workload to a few operations on tiny inputs."""
    monkeypatch.setattr(run, "WORK", scratch)
    monkeypatch.setattr(workloads, "TPCDS_QUERIES", ["q96", "q1"])
    monkeypatch.setattr(workloads, "DATAPIPE_DOCS", 60)
    monkeypatch.setattr(workloads, "DATAPIPE_VECS", 300)
    monkeypatch.setattr(workloads, "MERGE_BASE_ROWS", 2_000)
    monkeypatch.setenv("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m")
    return scratch


def _run(capsys, workload: str, trace: int) -> dict:
    rc = run.main(["--workload", workload, "--seed", "3", "--seconds", "0",
                   "--trace", str(trace)])
    cap = capsys.readouterr()
    assert rc == 0, cap.err
    res = json.loads(cap.out.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0, cap.out + cap.err
    return res


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_emits_every_declared_metric(small, capsys, workload, trace):
    res = _run(capsys, workload, trace)
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    assert "SPARK_GRAFT_MAX_PARTITION_BYTES" not in os.environ


def test_refuses_to_run_without_the_program(scratch):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copytree(BENCH, os.path.join(scratch, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), scratch)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "merge_cdc",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=scratch, capture_output=True, text=True, timeout=180, env=env,
    )
    assert p.returncode != 0
    assert "correct" not in p.stdout


# Measured on the sf0.1 test data the repository's tests read: 5000
# documents, 2000 embeddings, 150000 orders.
TEST_DATA_DOCS = {
    "words_min": 10, "words_max": 100, "words_mean": 54.14, "vocab": 31,
    "near_dup_rate": 0.0486, "exact_dup_rate": 0.0016, "en_share": 0.412,
    "sources": 20,
}
TEST_DATA_ORDERS = {
    "status_shares": (0.331, 0.334, 0.335), "priorities": 5,
    "price_mean": 250156.0, "custkey_max": 14999,
    "first_day": "1995-01-01", "last_day": "2001-08-01",
}


def doc_stats(t) -> dict:
    texts = t.column("text").to_pylist()
    words = [x.split() for x in texts]
    n = len(texts)
    first = {}
    for i, x in enumerate(texts):
        first.setdefault(x, i)
    return {
        "words_min": min(map(len, words)),
        "words_max": max(map(len, words)),
        "words_mean": sum(map(len, words)) / n,
        "vocab": len({w for ws in words for w in ws}),
        "near_dup_rate": sum(
            x.endswith(" dup") and x[:-4] in first for x in texts) / n,
        "exact_dup_rate": sum(first[x] != i for i, x in enumerate(texts)) / n,
        "en_share": t.column("lang").to_pylist().count("en") / n,
        "sources": len(set(t.column("source").to_pylist())),
    }


def test_documents_match_the_test_data():
    got = doc_stats(inputs.documents(5000))
    for k, want in TEST_DATA_DOCS.items():
        tol = {"words_mean": 1.5, "near_dup_rate": 0.001, "exact_dup_rate": 0.0005,
               "en_share": 0.02}.get(k, 0)
        assert abs(got[k] - want) <= tol, (k, got[k], want)


def test_embeddings_match_the_test_data():
    t = inputs.embeddings(2000)
    x = np.array(t.column("embedding").to_pylist())
    assert x.shape == (2000, 64)
    assert np.allclose(np.linalg.norm(x, axis=1), 1.0, atol=1e-5)
    labels = np.bincount(t.column("label").to_numpy(), minlength=10)
    assert len(labels) == 10 and labels.min() > 150  # uniform over 0-9


def test_orders_match_the_test_data():
    t = inputs.orders(150_000)
    keys = t.column("o_orderkey").to_numpy()
    assert keys[0] == 0 and keys[-1] == 149_999
    status = t.column("o_orderstatus").to_pylist()
    for s, want in zip("FOP", TEST_DATA_ORDERS["status_shares"]):
        assert abs(status.count(s) / len(status) - want) < 0.01
    assert len(set(t.column("o_orderpriority").to_pylist())) == 5
    price = t.column("o_totalprice").to_numpy()
    assert abs(price.mean() - TEST_DATA_ORDERS["price_mean"]) < 2000
    assert t.column("o_custkey").to_numpy().max() == TEST_DATA_ORDERS["custkey_max"]
    days = t.column("o_orderdate").cast("date32").to_pylist()
    assert str(min(days)) == TEST_DATA_ORDERS["first_day"]
    assert str(max(days)) == TEST_DATA_ORDERS["last_day"]
