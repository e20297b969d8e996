"""Self-check of the benchmark on tiny corpora.

    python3 -m pytest perfbench/test_selfcheck.py -q

Runs every workload shape at n_base=200, untraced and traced, each in
its own process as the benchmark always runs, and checks that each run
prints every metric BENCHMARK.json names, with its unit. Also shows that
the correctness gates fail on corrupted outputs, and that the benchmark
refuses to run without the engine's sources. Expect several minutes:
every run pays a JVM start and a warm-up call, however small its corpus.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["latency-57k", "ingest-waves", "scale-554k"])
def test_every_metric_printed(workload, trace):
    out = _run(["--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--n-base", "200"])
    assert out.returncode == 0, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    want = BENCH["end_to_end" if trace == 0 else "per_layer"]
    assert {k: m["unit"] for k, m in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    assert all(isinstance(m["value"], (int, float)) for m in res["metrics"].values())


def test_listed_workloads_exist():
    from perfbench import workloads as W

    assert [w["name"] for w in BENCH["workloads"]] == list(W.DEFAULT_WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == W.END_TO_END


def test_refuses_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(["--workload", "latency-57k", "--seed", "1", "--seconds", "10",
                "--trace", "0"], cwd=str(tmp_path))
    assert out.returncode != 0
    assert "correct" not in out.stdout


def test_gates_fail_on_corrupted_outputs(tmp_path):
    from pyspark.sql import functions as F

    from hsip.config import DedupConfig
    from hsip.pipeline import run_transcripts
    from perfbench import corpus as corpora
    from perfbench import gates
    from perfbench import workloads as W

    W.prepare_env(str(tmp_path / "run"))
    spark = W.start_session(str(tmp_path / "run"))
    try:
        corpus = corpora.load(str(tmp_path / "corpus"), seed=7, n_base=60)
        truth = spark.read.parquet(corpus.truth_path)
        good = run_transcripts(spark, W.read_turns(spark, corpus.turns_path),
                               DedupConfig()).clusters
        book = gates.ChecksumBook(str(tmp_path / "sums.json"), {})
        assert book.check("tiny", gates.label_checksum(good)) == []
        assert gates.recall_gate(gates.pair_quality(good, truth)[0]) == []
        assert gates.labels_gate(good, good, "same") == []
        ids = good.select("id")
        assert gates.one_row_per_conv_gate(ids, corpus.n_convs) == []

        # corrupted label table: every conv in a cluster of its own
        bad = good.withColumn("cluster_id", F.col("id"))
        assert book.check("tiny", gates.label_checksum(bad))
        assert gates.recall_gate(gates.pair_quality(bad, truth)[0])
        assert gates.labels_gate(bad, good, "corrupted")
        assert gates.one_row_per_conv_gate(ids.unionByName(ids.limit(1)), corpus.n_convs)
    finally:
        W.stop_session(spark)
