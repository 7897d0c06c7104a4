"""Tests of the benchmark itself: the input generator, the traced run's
counters, and the repeatability of the host-independent counts.

    python -m pytest perfbench/tests -q

The generator tests take a second; the traced-run tests start Spark
in a subprocess through the benchmark's own command line and take
about two minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROWS = {"events": 3000, "documents": 800}


def tables(seed: int, out_dir: str) -> dict:
    gen.generate(ROWS, seed, out_dir)
    return {t: pq.read_table(os.path.join(out_dir, f"{t}.parquet"))
            for t in ROWS}


def test_generator_is_deterministic_per_seed(tmp_path):
    a = tables(7, str(tmp_path / "a"))
    b = tables(7, str(tmp_path / "b"))
    c = tables(8, str(tmp_path / "c"))
    for t in ROWS:
        assert a[t].equals(b[t])
        assert not a[t].equals(c[t])


def test_events_meet_fixture_invariants(tmp_path):
    tbl = tables(3, str(tmp_path))["events"]
    ev = tbl.to_pandas()
    rows = ROWS["events"]
    assert len(ev) == rows and ev.event_id.is_unique
    assert (ev.value >= 0).all()
    assert (np.round(ev.value * 100) / 100 == ev.value).all()
    assert set(ev.event_type) == set(gen.EVENT_TYPES)
    ks = ev.props.map(lambda p: json.loads(p)["k"])
    assert ks.between(0, 99).all()
    assert ev.user_id.between(0, gen.USERS - 1).all()
    us = tbl.column("ts").cast("int64").to_numpy()
    assert ((us >= gen.T0_US) & (us <= gen.T0_US + gen.SPAN_US)).all()
    # key skew: the hottest user is far above the uniform share
    assert ev.user_id.value_counts().iloc[0] > 5 * rows / gen.USERS
    # event-time disorder: some events arrive after later-stamped ones
    late = (np.maximum.accumulate(us) > us).mean()
    assert 0 < late < 2 * gen.LATE_SHARE
    # stream_early_firing-style replays need every sensor key in every
    # event-time quartile
    q = np.searchsorted(np.quantile(us, [0.25, 0.5, 0.75]), us)
    assert ev.assign(q=q, key=ev.user_id % 10).groupby("q").key.nunique() \
        .eq(10).all()


def test_documents_meet_fixture_invariants(tmp_path):
    docs = tables(3, str(tmp_path))["documents"].to_pandas()
    rows = ROWS["documents"]
    assert len(docs) == rows and docs.doc_id.is_unique
    words = {w for t in docs.text for w in t.split()}
    assert words <= set(gen.VOCAB) | {"dup"}
    assert set(docs.lang) == set(gen.LANGS)
    assert set(docs.source) == {f"src{i}" for i in range(gen.N_SOURCES)}
    assert (docs.n_chars == docs.text.str.len()).all()
    dups = docs[docs.text.str.endswith(" dup")]
    assert len(dups) == round(rows * gen.DUP_SHARE)
    originals = set(docs.text)
    assert dups.text.str.removesuffix(" dup").isin(originals).all()
    n_tok = docs[~docs.text.str.endswith(" dup")].text.str.split().str.len()
    assert n_tok.between(gen.MIN_TOKENS, gen.MAX_TOKENS).all()


def test_benchmark_json_lists_what_the_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == tracing.per_layer_units()


def bench(workload: str, seed: int = 5) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, out.stdout[-3000:]
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.fixture(scope="module")
def batch_runs():
    return [bench("dedup_compute") for _ in range(2)]


def test_traced_batch_query_has_jobs_and_task_time(batch_runs):
    m = batch_runs[0]
    assert m["queries.ngram_jaccard_pairs.jobs"] > 0
    assert m["queries.ngram_jaccard_pairs.task_cpu_s"] > 0
    assert m["queries.task_run_s"] > 0
    assert m["sources.rows_read"] > 0
    assert m["operators.dedup.ngram_jaccard_pairs.s"] > 0
    assert all(v == 0 for k, v in m.items() if k.startswith("streaming."))


def test_traced_streaming_query_has_batches():
    m = bench("stream_replay")
    assert m["queries.stream_delta_alerts.jobs"] > 0
    assert m["queries.stream_delta_alerts.task_cpu_s"] > 0
    assert m["streaming.batches"] >= 4
    assert m["streaming.input_rows"] == WORKLOADS["stream_replay"] \
        .tables["events"]
    assert m["streaming.batch_ms.p50"] > 0
    assert m["operators.python_rows"] > 0


HOST_INDEPENDENT = ("queries.ngram_jaccard_pairs.jobs", "queries.stages",
                    "queries.tasks", "sources.files_read",
                    "sources.rows_read",
                    "queries.ngram_jaccard_pairs.shuffle_write_bytes")


def test_host_independent_counts_repeat_for_one_seed(batch_runs):
    a, b = batch_runs
    assert {k: a[k] for k in HOST_INDEPENDENT} \
        == {k: b[k] for k in HOST_INDEPENDENT}
