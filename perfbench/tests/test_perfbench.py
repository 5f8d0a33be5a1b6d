"""Self-tests of the benchmark (run from the repository root):

    python3 -m pytest perfbench/tests -q

The Spark-backed tests build a tiny generator pool with the repo's
``sources.images.generate_batch`` and run the timed process on it, so
they take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import inputs  # noqa: E402
import measure  # noqa: E402
import metrics  # noqa: E402

TINY = {"FLAGSHIP_ROWS": 600, "NEIGHBOR_CANDS": 600, "PROBES": 8, "DECODE_ROWS": 40,
        "INCR_BASE_ROWS": 300, "INCR_BATCHES": 4, "INCR_INSERTS": 6, "INCR_MOVES": 3,
        "INCR_DELETES": 3}


@pytest.fixture(scope="module")
def tiny_cache(tmp_path_factory):
    """A pool of 1200 generator rows in the layout ``pool.py`` writes."""
    from osmnightwatch_spark.sources import images as I

    cache = str(tmp_path_factory.mktemp("cache"))
    pool = inputs.pool_dir(cache)
    rows = I.generate_batch(np.arange(1200), inputs.POOL_SEED)
    os.makedirs(os.path.join(pool, "slim"))
    os.makedirs(os.path.join(pool, "bytes"))
    pq.write_table(pa.Table.from_pandas(rows[["image_id", "phash"]], preserve_index=False),
                   os.path.join(pool, "slim", "part-0.parquet"))
    pq.write_table(pa.Table.from_pandas(rows.iloc[:80], preserve_index=False),
                   os.path.join(pool, "bytes", "part-0.parquet"))
    open(os.path.join(pool, "READY"), "w").close()
    return cache


@pytest.fixture
def tiny_sizes(monkeypatch):
    for k, v in TINY.items():
        monkeypatch.setattr(inputs, k, v)


def _files(d):
    out = {}
    for base, _dirs, files in os.walk(d):
        for f in files:
            if f != "meta.json":
                with open(os.path.join(base, f), "rb") as fh:
                    out[os.path.relpath(os.path.join(base, f), d)] = fh.read()
    return out


def test_benchmark_json_matches_metric_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    assert [w["name"] for w in doc["workloads"]] == list(metrics.WORKLOAD_NAMES)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in doc["end_to_end"]] \
        == metrics.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] == metrics.PER_LAYER
    assert max(b for *_, b in metrics.END_TO_END) == dict(
        (n, b) for n, _u, _b, b in metrics.END_TO_END)["setup_s"]


@pytest.mark.parametrize("workload", metrics.WORKLOAD_NAMES)
def test_inputs_are_a_pure_function_of_the_seed(tiny_cache, tiny_sizes, tmp_path, workload):
    a_dir, a = inputs.prepare(tiny_cache, workload, 7, trace=True)
    os.rename(a_dir, str(tmp_path / "first"))
    b_dir, b = inputs.prepare(tiny_cache, workload, 7, trace=True)
    assert a == b
    assert _files(str(tmp_path / "first")) == _files(b_dir)
    _c_dir, c = inputs.prepare(tiny_cache, workload, 8, trace=True)
    assert {k: v for k, v in c.items() if k != "seed"} != \
        {k: v for k, v in a.items() if k != "seed"}


class _Fake:
    """A workload without Spark: ``wrong`` ops return a wrong output."""

    name = "fake"
    prep = None

    def __init__(self, wrong=()):
        self.wrong, self.n = set(wrong), 0

    def op(self):
        self.n += 1
        return self.n not in self.wrong

    def exhausted(self):
        return False

    def rows_per_op(self):
        return 10


def test_planted_wrong_output_counts_as_failed():
    checks = measure.Checks()
    ops, cpus, _peaks = measure.loop(_Fake(wrong={2, 4}), checks, seconds=0.0, min_ops=5)
    assert len(ops) == len(cpus) == 5 and (checks.attempted, checks.failed) == (5, 2)


def test_untraced_figures_cover_gated_and_printed_metrics():
    rec = {"setup_s": [3.0, 1.0, 2.0], "first_op_s": [1.0, 0.5, 0.7]}
    out = measure.untraced_metrics(_Fake(), rec, [0.5, 0.4, 0.6], [1.5, 1.2, 1.8],
                                   [90.0, 100.0, 95.0])
    assert sorted(out) == sorted(n for n, *_ in metrics.END_TO_END + metrics.PRINTED)
    assert out["setup_s"] == 2.0 and out["op_cpu_s"] == 1.5
    assert out["rows_per_s"] == pytest.approx(20.0)
    assert all(v > 0 for v in out.values())


def test_tail_needs_ten_samples_beyond():
    assert metrics.tail(list(range(19))) is None
    assert metrics.tail(list(range(20)))[0] == 50
    assert metrics.tail(list(range(100)))[0] == 90


def _run_measure(in_dir, trace, seconds=1):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "measure.py"), "--workload",
                        json.load(open(os.path.join(in_dir, "meta.json")))["workload"],
                        "--in-dir", in_dir, "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", metrics.WORKLOAD_NAMES)
def test_every_metric_is_emitted_and_checked(tiny_cache, tiny_sizes, workload):
    in_dir, _meta = inputs.prepare(tiny_cache, workload, 3, trace=True)
    e2e = _run_measure(in_dir, trace=0)
    assert e2e["correct"] and e2e["failed"] == 0 and e2e["attempted"] >= 6
    assert list(e2e["metrics"]) == [n for n, *_ in metrics.END_TO_END]
    assert all(m["value"] > 0 for m in e2e["metrics"].values())
    layered = _run_measure(in_dir, trace=1)
    assert layered["correct"], layered
    assert sorted(layered["metrics"]) == sorted(n for n, *_ in metrics.PER_LAYER)
    assert all(m["unit"] == metrics.UNITS[k] for k, m in layered["metrics"].items())


def test_planted_wrong_engine_output_raises_fail_ratio(tiny_cache, tiny_sizes, tmp_path):
    in_dir, meta = inputs.prepare(tiny_cache, "flagship", 4)
    planted = str(tmp_path / "planted")
    os.rename(in_dir, planted)
    part = os.path.join(planted, "images", "part-000.parquet")
    t = pq.read_table(part)
    pq.write_table(t.slice(1), part)  # one image missing: the rollup must differ
    out = _run_measure(planted, trace=0)
    assert not out["correct"]
    assert out["failed"] == out["attempted"] > 0
