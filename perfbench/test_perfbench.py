"""The benchmark's own tests: seeded inputs and exact counters repeat.

    python3 -m pytest perfbench -q

The crawl test runs the benchmark twice and takes about a minute and a
half.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

WORK = os.path.join(common.ROOT, ".perfbench_work", f"test-{os.getpid()}")
common.prepare_env(WORK)

import inputs  # noqa: E402
import workloads as W  # noqa: E402


@pytest.fixture(scope="module", autouse=True)
def _clean_work():
    yield
    shutil.rmtree(WORK, ignore_errors=True)


def test_inputs_depend_only_on_the_seed():
    a, b, c = inputs.grid(7), inputs.grid(7), inputs.grid(8)
    for v in W.GRID_VARS:
        assert np.array_equal(a[v], b[v])
        assert a[v].shape == c[v].shape and not np.array_equal(a[v], c[v])
    assert inputs.window(7) == inputs.window(7)
    assert inputs.doc_feed(7) == inputs.doc_feed(7)
    f8 = inputs.doc_feed(8)
    assert [len(x["doc_id"]) for x in f8] == [
        inputs.FEED_DOCS_PER_BATCH] * inputs.FEED_BATCHES
    assert f8 != inputs.doc_feed(7)
    assert inputs.embeddings(7).equals(inputs.embeddings(7))
    assert not inputs.embeddings(7).equals(inputs.embeddings(8))


def _write_all(seed: int, d: str) -> dict[str, str]:
    g = inputs.grid(seed)
    paths = {}
    for fmt, name in (("nc3", "g.nc"), ("nc4", "g.nc4"),
                      ("chunkstore", "store")):
        paths[fmt] = os.path.join(d, name)
        W.write_grid(fmt, paths[fmt], g)
    return paths


def test_planning_counters_repeat_and_show_pruning():
    counts = []
    for run in range(2):
        d = os.path.join(WORK, f"plan{run}")
        os.makedirs(d)
        probe = W.source_probe(_write_all(3, d), inputs.window(3))
        counts.append({
            src: {k: v for k, v in m.items() if not k.endswith("_s")}
            for src, m in probe.items()
        })
    assert counts[0] == counts[1]
    for src, m in counts[0].items():
        assert m["records_planned"] == inputs.GRID_LINES, src
        assert m["rows_read"] == inputs.GRID_LINES * 32 * 32, src
        assert m["records_planned_window"] < m["records_total"], src


def test_pairs_out_repeats():
    outs = []
    for run in range(2):
        d = os.path.join(WORK, f"emb{run}")
        os.makedirs(d)
        import pyarrow.parquet as pq

        pq.write_table(inputs.embeddings(5), os.path.join(d, "embeddings.parquet"))
        outs.append(W.kernel_probe(d, 4))
    for k in ("similarity.exact_pairs.pairs_out",
              "similarity.exact_pairs.rows_in", "similarity.lsh.candidates"):
        assert outs[0][k] == outs[1][k] > 0, k


def _traced_counters(workload: str, seed: int) -> dict:
    import json
    import subprocess

    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        timeout=300,
    )
    path = os.path.join(common.ROOT, ".perfbench_work", "results",
                        f"{workload}-{seed}-trace.json")
    with open(path) as f:
        result = json.load(f)
    assert result["failed"] == 0, result["failures"]
    return result["counters"]


def test_crawl_counters_repeat_across_runs():
    """Two traced runs with the same seed, each in a fresh session, write
    the same state bytes and submit the same jobs in every micro-batch."""
    a = _traced_counters("crawl_stream", 11)
    b = _traced_counters("crawl_stream", 11)
    assert a["state_bytes_written"] == b["state_bytes_written"]
    assert a["jobs_per_batch"] == b["jobs_per_batch"]
    assert len(a["jobs_per_batch"]) == inputs.FEED_BATCHES


def test_crawl_twin_matches_the_oracle():
    """The Python twin that checks every crawl run decides exactly as the
    registry's DuckDB oracle of the batch twin, and finds duplicates."""
    feed = inputs.doc_feed(7)
    d = os.path.join(WORK, "feed7")
    inputs.write_feed(feed, d)
    twin = W.twin_decisions(feed)
    assert twin == W.crawl_oracle_decisions(d, len(feed))
    for k in range(1, inputs.FEED_BATCHES):
        assert any(dup for _d, dup, *_ in twin[k])
