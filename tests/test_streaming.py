"""Structured Streaming ingestion: cross-batch incremental dedup +
watermarked metrics."""

from datetime import datetime, timedelta

import pandas as pd
import pytest

from hsip.catalog import Catalog
from hsip.config import DedupConfig
from hsip.streaming import run_incremental_ingest, stream_turns, turn_rate_metrics


def _write_wave(path: str, convs: dict[str, list[str]], t0: datetime):
    rows = []
    for cid, texts in convs.items():
        for i, text in enumerate(texts):
            rows.append((cid, i, "user", text, "", t0 + timedelta(seconds=i)))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(path, index=False)


def test_cross_batch_duplicate_found(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    cfg = DedupConfig(jaccard_threshold=0.7)

    base = ["alpha beta gamma delta " * 20, "epsilon zeta eta theta " * 20]
    t0 = datetime(2025, 6, 1)
    _write_wave(str(inp / "wave1.parquet"), {"w1c1": base, "w1c2": ["totally different content here " * 25]}, t0)
    run_incremental_ingest(spark, str(inp), wh, ckpt, cfg)

    cat = Catalog(spark, wh)
    assert cat.exists("index.features")
    n1 = cat.read("index.features").count()
    assert n1 == 2

    # wave 2: exact duplicate of w1c1 arrives later
    _write_wave(str(inp / "wave2.parquet"), {"w2dup": base}, t0 + timedelta(hours=1))
    run_incremental_ingest(spark, str(inp), wh, ckpt, cfg)

    assert cat.read("index.features").count() == 3
    verified = {(r.a, r.b) for r in cat.read("stream.verified").collect()}
    assert ("w1c1", "w2dup") in verified
    # streaming checkpoint: wave1 not reprocessed (no self-pairs duplicated)
    assert all(a != b for a, b in verified)


def test_watermarked_turn_metrics(spark, tmp_path):
    inp = tmp_path / "in2"
    inp.mkdir()
    _write_wave(
        str(inp / "w.parquet"),
        {"c1": ["hello"] * 3, "c2": ["hi"] * 2},
        datetime(2025, 6, 1, 12, 0),
    )
    stream = stream_turns(spark, str(inp))
    metrics = turn_rate_metrics(stream, window="10 minutes", watermark="1 hour")
    q = (
        metrics.writeStream.format("memory")
        .queryName("turn_metrics")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM turn_metrics").collect()
    assert sum(r.n_turns for r in rows) == 5
    assert all(r.role == "user" for r in rows)


def test_replay_after_lost_checkpoint_is_noop(spark, tmp_path):
    """At-least-once replay (streaming checkpoint lost, marker table
    dropped mid-commit) must not duplicate index or verified rows — the
    (stream_id, batch_id) guards make re-appends true no-ops (ADVICE r1)."""
    import shutil

    inp = tmp_path / "in3"
    inp.mkdir()
    wh = str(tmp_path / "wh3")
    ckpt = str(tmp_path / "ckpt3")
    cfg = DedupConfig(jaccard_threshold=0.7)
    base = ["one two three four " * 20]
    _write_wave(str(inp / "w1.parquet"), {"c1": base, "c2": base}, datetime(2025, 6, 1))
    run_incremental_ingest(spark, str(inp), wh, ckpt, cfg)

    cat = Catalog(spark, wh)
    n_feats = cat.read("index.features").count()
    n_bands = cat.read("index.bands").count()
    n_verified = cat.read("stream.verified").count()
    assert n_feats == 2 and n_verified == 1

    # simulate the worst replay: streaming checkpoint AND commit marker
    # lost after the data appends landed
    cat.drop("stream.batches")
    shutil.rmtree(ckpt)
    run_incremental_ingest(spark, str(inp), wh, ckpt, cfg)

    assert cat.read("index.features").count() == n_feats
    assert cat.read("index.bands").count() == n_bands
    assert cat.read("stream.verified").count() == n_verified


def test_rearriving_conv_versions_and_pair_dedup(spark, tmp_path):
    """A conv_id re-arriving in a LATER batch appends a new feature
    version; readers resolve to the LATEST version (not an arbitrary
    row), and stream.verified never accumulates duplicate (a, b) rows
    across batches (ADVICE.md r2)."""
    import os

    from hsip.streaming import latest_index_versions

    inp = tmp_path / "in4"
    inp.mkdir()
    wh = str(tmp_path / "wh4")
    ckpt = str(tmp_path / "ckpt4")
    cfg = DedupConfig(jaccard_threshold=0.7)
    x = ["completely unique starting content " * 20]
    y = ["shared duplicate target content words " * 20]
    t0 = datetime(2025, 6, 1)

    _write_wave(str(inp / "w1.parquet"), {"u1": x, "ref": y}, t0)
    run_incremental_ingest(spark, str(inp), wh, ckpt, cfg)
    # batch 2: u1 re-arrives UPDATED to match ref
    _write_wave(str(inp / "w2.parquet"), {"u1": y}, t0 + timedelta(hours=1))
    run_incremental_ingest(spark, str(inp), wh, ckpt, cfg)

    cat = Catalog(spark, wh)
    feats = cat.read("index.features")
    assert feats.count() == 3, "updated conv must append a new version"
    latest = latest_index_versions(feats, ["id"])
    assert latest.count() == 2, "readers must see one (latest) row per id"
    # updated u1 now matches ref
    verified = [(r.a, r.b) for r in cat.read("stream.verified").collect()]
    assert ("ref", "u1") in verified

    # batch 3: a new conv with the same text must match BOTH ref and the
    # UPDATED u1 — failing (u1, w3) would mean verification used u1's
    # stale batch-1 features
    _write_wave(str(inp / "w3.parquet"), {"w3": y}, t0 + timedelta(hours=2))
    run_incremental_ingest(spark, str(inp), wh, ckpt, cfg)
    verified = [(r.a, r.b) for r in cat.read("stream.verified").collect()]
    assert ("ref", "w3") in verified and ("u1", "w3") in verified
    assert len(verified) == len(set(verified)), "duplicate (a,b) pair rows"

    # hive layout: replay-guard reads prune on batch_id partitions
    assert os.path.isdir(os.path.join(wh, "index", "features", "data", "batch_id=0"))


def test_stream_guard_scan_bounded_by_delta_buckets(spark, tmp_path):
    """The stream-scoped replay guard must scan only the pair_bucket
    partitions the delta hashes into — partition-pruned at the SCAN, so
    per-batch guard cost is bounded by the delta's key spread, not by
    the accumulated size of stream.verified (VERDICT.md r3 item 2)."""
    import contextlib
    import io
    import os

    from pyspark.sql import functions as F

    from hsip.streaming import N_PAIR_BUCKETS, pruned_prior

    wh = str(tmp_path / "whg")
    cat = Catalog(spark, wh)
    sid = "ckpt-guard-test"
    # a prior table spanning many pair_bucket partitions
    prior_pairs = spark.range(60).select(
        F.concat(F.lit("a"), F.col("id")).alias("a"),
        F.concat(F.lit("b"), F.col("id")).alias("b"),
        F.lit(0).alias("batch_id"),
        F.lit(sid).alias("stream_id"),
    ).withColumn(
        "pair_bucket", F.pmod(F.xxhash64("a", "b"), F.lit(N_PAIR_BUCKETS))
    )
    cat.write(prior_pairs, "stream.verified", mode="overwrite",
              partition_by=["pair_bucket"])
    buckets_on_disk = [
        d for d in os.listdir(os.path.join(wh, "stream", "verified", "data"))
        if d.startswith("pair_bucket=")
    ]
    assert len(buckets_on_disk) >= 2, "test needs a multi-partition prior"

    # delta of ONE pair -> guard must read exactly one bucket's rows
    delta = spark.createDataFrame([("a7", "b7")], "a string, b string").withColumn(
        "pair_bucket", F.pmod(F.xxhash64("a", "b"), F.lit(N_PAIR_BUCKETS))
    )
    the_bucket = delta.select("pair_bucket").first()[0]
    pruned = pruned_prior(cat, "stream.verified", delta, ["a", "b"], sid)
    expect = prior_pairs.filter(F.col("pair_bucket") == the_bucket).count()
    total = prior_pairs.count()
    assert pruned.count() == expect < total
    # and the pruning is a scan-level PartitionFilter, not a post-scan row
    # filter — the partitions never leave disk
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain(mode="formatted")
    plan = buf.getvalue()
    scan = plan[plan.index("Scan parquet"):]
    pf = [ln for ln in scan.splitlines() if "PartitionFilters" in ln]
    assert pf and "pair_bucket" in pf[0]


def test_stateful_reassemble_emits_on_idle_timeout(spark, tmp_path):
    """applyInPandasWithState conversation reassembly: turns of one
    conversation split across micro-batches are buffered in group state
    and emitted as ONE reassembled row once the event-time watermark
    passes the conversation's idle horizon; late turn-version re-writes
    within the horizon are C1-deduped to the latest ts."""
    from hsip.streaming import stateful_reassemble, stream_turns

    inp = tmp_path / "in_state"
    inp.mkdir()
    t0 = datetime(2025, 6, 1, 12, 0)

    # file 1: first half of c1 (+ a version of turn 0 that will be
    # superseded), file 2: second half of c1, file 3: a far-future
    # sentinel conv that pushes the watermark past c1's idle horizon
    _write_wave(str(inp / "f1.parquet"), {"c1": ["OLD turn0", "turn1"]}, t0)
    rows = [
        ("c1", 0, "user", "NEW turn0", "", t0 + timedelta(seconds=30)),
        ("c1", 2, "user", "turn2", "", t0 + timedelta(seconds=40)),
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(str(inp / "f2.parquet"), index=False)
    _write_wave(str(inp / "f3.parquet"), {"sentinel": ["tick"]},
                t0 + timedelta(hours=6))

    stream = (
        spark.readStream.schema(
            stream_turns(spark, str(inp)).schema
        ).option("maxFilesPerTrigger", 1).parquet(str(inp))
    )
    out = stateful_reassemble(stream, idle_gap_s=60, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("reassembled")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.conv_id: r for r in spark.sql("SELECT * FROM reassembled").collect()}
    assert "c1" in got, f"c1 not emitted; got {list(got)}"
    c1 = got["c1"]
    assert c1.n_turns == 3
    # C1 dedupe kept the later version of turn 0; C2 order by turn_idx
    assert c1.doc_text == "NEW turn0\nturn1\nturn2"
    # earliest KEPT ts is turn1's (OLD turn0's ts left with its version)
    assert c1.first_ts == t0 + timedelta(seconds=1)
    assert c1.last_ts == t0 + timedelta(seconds=40)
    # the sentinel conversation is still buffered in state (never idle
    # long enough before the stream drained) — append mode emitted nothing
    assert "sentinel" not in got

def test_ts_collision_tiebreak_batch_equals_streaming(spark, tmp_path):
    """C1 divergence guard (VERDICT r4 #1): two versions of the same
    (conv_id, turn_idx) sharing an EXACT ts must resolve to the same
    surviving row in batch dedupe_turn_versions and in the stateful
    streaming path — the shared rule is lexicographic-max text."""
    from hsip.reassemble import dedupe_turn_versions, reassemble
    from hsip.streaming import stateful_reassemble, stream_turns

    t0 = datetime(2025, 6, 1, 12, 0)
    # turn 1 has two versions with identical ts and different texts
    rows = [
        ("c1", 0, "user", "turn0", "", t0),
        ("c1", 1, "user", "aaa-version", "", t0 + timedelta(seconds=1)),
        ("c1", 1, "user", "zzz-version", "", t0 + timedelta(seconds=1)),
        ("c1", 2, "user", "turn2", "", t0 + timedelta(seconds=2)),
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")

    batch = reassemble(dedupe_turn_versions(spark.createDataFrame(pdf)))
    batch_text = batch.filter("conv_id = 'c1'").collect()[0].doc_text
    assert batch_text == "turn0\nzzz-version\nturn2"

    inp = tmp_path / "in_tie"
    inp.mkdir()
    pdf.to_parquet(str(inp / "f1.parquet"), index=False)
    _write_wave(str(inp / "f2.parquet"), {"sentinel": ["tick"]},
                t0 + timedelta(hours=6))
    stream = (
        spark.readStream.schema(stream_turns(spark, str(inp)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(inp))
    )
    out = stateful_reassemble(stream, idle_gap_s=60, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("tie_reassembled")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_tie"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.conv_id: r
        for r in spark.sql("SELECT * FROM tie_reassembled").collect()
    }
    assert got["c1"].doc_text == batch_text


def test_dedup_turn_deliveries_drops_redeliveries_keeps_versions(spark, tmp_path):
    """Source-side delivery dedup: redelivered copies of the same
    (conv_id, turn_idx, text) collapse to one row; genuinely different
    turn versions (same conv/idx, different text) both survive — version
    resolution stays C1's job downstream."""
    from hsip.streaming import dedup_turn_deliveries

    inp = tmp_path / "in_deliv"
    inp.mkdir()
    t0 = datetime(2025, 6, 1, 12, 0)
    rows = [
        # turn delivered three times (producer retries)
        ("c1", 0, "user", "hello world", "", t0),
        ("c1", 0, "user", "hello world", "", t0),
        ("c1", 0, "user", "hello world", "", t0 + timedelta(seconds=5)),
        # two *versions* of the same turn: different text, must BOTH pass
        ("c1", 1, "assistant", "draft answer", "", t0 + timedelta(seconds=10)),
        ("c1", 1, "assistant", "final answer", "", t0 + timedelta(seconds=20)),
        # unrelated conversation, delivered twice
        ("c2", 0, "user", "other conv", "", t0 + timedelta(minutes=1)),
        ("c2", 0, "user", "other conv", "", t0 + timedelta(minutes=1)),
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(str(inp / "w.parquet"), index=False)

    deduped = dedup_turn_deliveries(
        stream_turns(spark, str(inp)), watermark="30 minutes"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("deliv_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_deliv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT conv_id, turn_idx, text FROM deliv_dedup").collect()
    keys = sorted((r.conv_id, r.turn_idx, r.text) for r in got)
    assert keys == [
        ("c1", 0, "hello world"),
        ("c1", 1, "draft answer"),
        ("c1", 1, "final answer"),
        ("c2", 0, "other conv"),
    ]


def test_restart_new_checkpoint_resolves_latest_across_lineages(spark, tmp_path):
    """Batch ids are only monotone within one checkpoint lineage. After a
    restart with a FRESH checkpoint dir (batch ids reset to 0), readers
    must still resolve a re-arrived conv to its newest version — ordering
    on (batch_id, stream_id) alone would pin the OLD lineage's stale row
    (old batch 1 > new batch 0) and verify new arrivals against stale
    features. ingested_at orders across lineages."""
    inp = tmp_path / "inx"
    inp.mkdir()
    wh = str(tmp_path / "whx")
    cfg = DedupConfig(jaccard_threshold=0.7)
    x = ["first version content entirely unique " * 20]
    y = ["shared duplicate target content words " * 20]
    t0 = datetime(2025, 6, 1)

    # lineage A, two batches: u1 lands in A's batch 1 (batch_id > 0)
    _write_wave(str(inp / "w1.parquet"), {"ref": y}, t0)
    run_incremental_ingest(spark, str(inp), wh, str(tmp_path / "ckptA"), cfg)
    _write_wave(str(inp / "w2.parquet"), {"u1": x}, t0 + timedelta(hours=1))
    run_incremental_ingest(spark, str(inp), wh, str(tmp_path / "ckptA"), cfg)

    # lineage B (new checkpoint dir, same warehouse): reprocesses all
    # waves as ITS batch 0 — u1's newest turn version there is y
    _write_wave(str(inp / "w3.parquet"), {"u1": y}, t0 + timedelta(hours=2))
    run_incremental_ingest(spark, str(inp), wh, str(tmp_path / "ckptB"), cfg)

    from hsip.catalog import Catalog
    from hsip.streaming import latest_index_versions

    cat = Catalog(spark, wh)
    feats = cat.read("index.features")
    latest = latest_index_versions(feats, ["id"])
    assert latest.count() == 2
    # u1's resolved version must come from lineage B despite its lower
    # batch_id; with it, a new arrival matching y pairs with u1
    u1 = latest.filter("id = 'u1'").collect()[0]
    assert u1["stream_id"].endswith("ckptB"), (
        f"stale lineage won: {u1['stream_id']} batch {u1['batch_id']}")

    _write_wave(str(inp / "w4.parquet"), {"w4": y}, t0 + timedelta(hours=3))
    run_incremental_ingest(spark, str(inp), wh, str(tmp_path / "ckptB"), cfg)
    verified = {(r.a, r.b) for r in cat.read("stream.verified").collect()}
    assert ("u1", "w4") in verified and ("ref", "w4") in verified


def test_micro_batch_regime_restores_both_sessions(spark, tmp_path, monkeypatch):
    """A small micro-batch runs in the latency regime (AQE off, derived
    shuffle width) in BOTH sessions that plan its frames: the outer one
    and the clone foreachBatch hands over. Neither keeps the tuned confs
    once the batch ends, also when the batch raises."""
    import hsip.streaming as S

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    seen = []
    real = S.incremental_verified_pairs
    fail = [False]

    def spy(new_docs, *args, **kwargs):
        clone = new_docs.sparkSession
        seen.append((clone, {k: clone.conf.get(k) for k in keys},
                     {k: spark.conf.get(k) for k in keys}))
        if fail[0]:
            raise RuntimeError("injected micro-batch failure")
        return real(new_docs, *args, **kwargs)

    monkeypatch.setattr(S, "incremental_verified_pairs", spy)
    inp = tmp_path / "inr"
    inp.mkdir()
    wh, ckpt = str(tmp_path / "whr"), str(tmp_path / "ckptr")
    cfg = DedupConfig(jaccard_threshold=0.7)
    t0 = datetime(2025, 6, 1)
    prior_width = spark.conf.get(keys[1])
    # wider than any derived width, so a leaked width is visible
    spark.conf.set(keys[1], "64")
    try:
        before = {k: spark.conf.get(k) for k in keys}
        tuned = {keys[0]: "false", keys[1]: "8"}

        _write_wave(str(inp / "w1.parquet"), {"r1": ["alpha beta " * 30]}, t0)
        run_incremental_ingest(spark, str(inp), wh, ckpt, cfg)
        clone, in_clone, in_outer = seen[-1]
        assert not clone._jsparkSession.equals(spark._jsparkSession)
        assert in_clone == tuned and in_outer == tuned
        assert {k: spark.conf.get(k) for k in keys} == before
        assert {k: clone.conf.get(k) for k in keys} == before

        fail[0] = True
        _write_wave(str(inp / "w2.parquet"), {"r2": ["gamma delta " * 30]},
                    t0 + timedelta(hours=1))
        with pytest.raises(Exception, match="injected micro-batch failure"):
            run_incremental_ingest(spark, str(inp), wh, ckpt, cfg)
        clone, in_clone, in_outer = seen[-1]
        assert in_clone == tuned and in_outer == tuned
        assert {k: spark.conf.get(k) for k in keys} == before
        assert {k: clone.conf.get(k) for k in keys} == before
    finally:
        spark.conf.set(keys[1], prior_width)
