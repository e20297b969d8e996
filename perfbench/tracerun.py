"""The traced run: per-layer figures from spans around public calls.

Every workload gets the same two passes, so every per-layer figure
exists on every workload:

1. Batch, on the workload's corpus. One whole ``run_transcripts`` call
   (the parent span), then the same work decomposed into the public
   functions the pipeline chains, in pipeline order, with a cache+count
   barrier after each so a span holds exactly its own work. The
   decomposed labels must equal the whole call's.
2. Ingest. Waves go through ``run_incremental_ingest`` one at a time
   (one parent span each); the last wave is then replayed through the
   public calls that ingest makes (index read, incremental verify,
   index append) against a copy of the warehouse taken before it.

Each workload streams the first three waves of a split of its corpus
(``Workload.trace_parts``); for the ingest workload they are the whole
corpus. The first wave is the ingest warm-up and stays out of the wave
statistics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from perfbench import corpus as corpora
from perfbench import gates
from perfbench import workloads as W
from perfbench.tracing import Tracer, attach_task_metrics

BATCH_SPANS = (
    "reassemble.reassemble",
    "textkernel.featurize",
    "suffixes.fingerprint_table",
    "suffixes.substr_candidates",
    "suffixes.verify_substr",
    "lsh.band_table",
    "simhash.hamming_block_table",
    "lsh.pairs_from_buckets",
    "verify.verify_jaccard_hamming",
    "verify.combine_verified",
    "cc.assign_clusters",
    "cc.canonical_representatives",
)
REPLAY_SPANS = (
    "catalog.Catalog.read",
    "incremental.incremental_verified_pairs",
    "catalog.Catalog.write",
)
TRACE_WAVES = 3  # streamed by the traced run: the warm-up wave and two more


def _barrier(df):
    df = df.cache()
    return df, df.count()


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def trace_batch(spark, tracer: Tracer, name, wl, corpus, truth):
    """Returns the whole call's gate errors and the decomposition's."""
    from pyspark.sql import functions as F

    from hsip import verify as V
    from hsip.cc import assign_clusters, canonical_representatives
    from hsip.lsh import band_table, pairs_from_buckets
    from hsip.pipeline import run_transcripts
    from hsip.reassemble import dedupe_turn_versions, reassemble
    from hsip.simhash import hamming_block_table
    from hsip.suffixes import fingerprint_table, substr_candidates, verify_substr
    from hsip.textkernel import featurize

    cfg = W.cfg(wl)
    turns = W.read_turns(spark, corpus.turns_path).cache()
    turns.count()
    with tracer.span("pipeline.run_transcripts") as whole:
        res = run_transcripts(spark, turns, cfg)
    whole["counts"]["turns"] = corpus.n_turns
    errs, _recall, _precision = W.batch_gates(name, corpus, res.clusters, truth)
    want = gates.label_checksum(res.clusters)
    spark.catalog.clearCache()
    turns.cache().count()

    eager = corpus.n_convs >= cfg.eager_barrier_min_docs
    scratch: list = []

    def span(label):
        return tracer.span(label, parent=whole)

    with span("reassemble.reassemble") as s:
        docs, s["counts"]["rows_out"] = _barrier(
            reassemble(dedupe_turn_versions(turns)).select(
                F.col("conv_id").cast("string").alias("id"),
                F.col("doc_text").alias("text")))
    with span("textkernel.featurize") as s:
        feats, s["counts"]["rows_out"] = _barrier(featurize(docs, "id", "text", cfg))
    with span("suffixes.fingerprint_table") as s:
        fps, s["counts"]["rows_out"] = _barrier(
            fingerprint_table(docs, "id", "text", cfg))
    with span("suffixes.substr_candidates") as s:
        sub_pairs, hot = substr_candidates(fps, cfg, scratch=scratch, eager=eager)
        sub_pairs, s["counts"]["rows_out"] = _barrier(sub_pairs)
        s["counts"]["hot_keys"] = hot.count()
    with span("suffixes.verify_substr") as s:
        v_sub, n = _barrier(verify_substr(sub_pairs, docs, "id", "text", cfg,
                                          scratch=scratch, eager=eager))
        s["counts"].update(rows_in=n, accepted=v_sub.filter("verdict").count())
    # the fused minhash+simhash chain, as pipeline._mh_sh_channel builds it
    with span("lsh.band_table") as s:
        mh, s["counts"]["rows_out"] = _barrier(band_table(feats.select("id", "sig"), cfg).select(
            F.lit("minhash_lsh").alias("channel"), "id",
            F.col("band_id").alias("bkt_id"), F.col("band_hash").alias("bkt_hash"),
            F.lit(None).cast("long" if cfg.simhash_bits == 64 else "array<bigint>")
            .alias("simhash")))
    with span("simhash.hamming_block_table") as s:
        sh, s["counts"]["rows_out"] = _barrier(
            hamming_block_table(feats.select("id", "simhash"), cfg).select(
                F.lit("simhash").alias("channel"), "id",
                F.col("table_id").alias("bkt_id"), F.col("key_hash").alias("bkt_hash"),
                "simhash"))
    with span("lsh.pairs_from_buckets") as s:
        both, _ = _barrier(mh.unionByName(sh).repartition("channel", "bkt_id", "bkt_hash"))
        cands, hot = pairs_from_buckets(
            both, cfg.bucket_cap, bucket_cols=("channel", "bkt_id", "bkt_hash"),
            channel=None, hot_policy=cfg.hot_bucket_policy, salt_seed=cfg.seed,
            payload_cols=("simhash",), scratch=scratch, eager=eager)
        cands, s["counts"]["rows_out"] = _barrier(cands)
        s["counts"]["hot_keys"] = hot.count()
    with span("verify.verify_jaccard_hamming") as s:
        v_mh, n = _barrier(V.verify_jaccard_hamming(cands, feats, cfg,
                                                   scratch=scratch, eager=eager))
        s["counts"].update(rows_in=n, accepted=v_mh.filter("verdict").count())
    with span("verify.combine_verified") as s:
        verified, s["counts"]["rows_out"] = _barrier(V.combine_verified(v_mh, v_sub))
    with span("cc.assign_clusters") as s:
        edges, s["counts"]["rows_in"] = _barrier(V.edges(verified))
        clusters, s["counts"]["rows_out"] = _barrier(
            assign_clusters(docs, edges, id_col="id"))
    with span("cc.canonical_representatives") as s:
        _reps, s["counts"]["rows_out"] = _barrier(canonical_representatives(clusters))

    got = gates.label_checksum(clusters)
    spark.catalog.clearCache()
    return errs, ([] if got == want else
                  [f"decomposed labels {got} != whole-call labels {want}"])


def _du_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def trace_ingest(spark, tracer: Tracer, wl, waves, run_dir):
    """Stream ``waves`` as parent spans, then replay the last one."""
    from pyspark.sql import functions as F

    from hsip.catalog import Catalog
    from hsip.incremental import incremental_verified_pairs
    from hsip.lsh import band_table
    from hsip.reassemble import dedupe_turn_versions, reassemble
    from hsip.streaming import N_PAIR_BUCKETS, latest_index_versions
    from hsip.textkernel import featurize

    cfg = W.cfg(wl)
    d = W.ingest_dirs(run_dir, "trace-ingest")
    replay_wh = os.path.join(run_dir, "trace-ingest", "replay-wh")
    for i, (path, n) in enumerate(waves):
        if i == len(waves) - 1:
            shutil.copytree(d["wh"], replay_wh)  # index as the last wave found it
        with tracer.span("streaming.run_incremental_ingest") as wave:
            W.stream_wave(spark, wl, d, path)
        wave["counts"].update(turns=n, warmup=i == 0)
    spark.catalog.clearCache()

    cat = Catalog(spark, replay_wh)
    batch_id = len(waves) - 1
    with tracer.span("catalog.Catalog.read", parent=wave) as s:
        idx_feats, nf = _barrier(latest_index_versions(cat.read("index.features"), ["id"]))
        idx_bands, nb = _barrier(latest_index_versions(cat.read("index.bands"), ["id"]))
        s["counts"]["rows_in"] = nf + nb
    with tracer.span("incremental.incremental_verified_pairs", parent=wave) as s:
        convs = reassemble(dedupe_turn_versions(W.read_turns(spark, path))).select(
            "conv_id", "doc_text")
        new_feats, _ = _barrier(featurize(convs, "conv_id", "doc_text", cfg))
        new_bands, _ = _barrier(band_table(new_feats.select("id", "sig"), cfg))
        verified, n = _barrier(incremental_verified_pairs(
            convs, "conv_id", "doc_text", idx_feats, idx_bands, cfg,
            new_feats=new_feats, new_bands=new_bands))
        s["counts"].update(rows_in=n, accepted=verified.filter("verdict").count())
    with tracer.span("catalog.Catalog.write", parent=wave) as s:
        before = _du_mb(replay_wh)
        tags = [F.lit(batch_id).alias("batch_id"), F.lit("replay").alias("stream_id"),
                F.current_timestamp().alias("ingested_at")]
        cat.write(verified.filter("verdict").select("*", *tags[:2]).withColumn(
            "pair_bucket", F.pmod(F.xxhash64("a", "b"), F.lit(N_PAIR_BUCKETS))),
            "stream.verified", mode="append", partition_by=["pair_bucket"],
            evolve_schema=True)
        for df, ident in ((new_feats, "index.features"), (new_bands, "index.bands")):
            cat.write(df.select("*", *tags), ident, mode="append",
                      partition_by=["batch_id"], evolve_schema=True)
        s["counts"]["written_mb"] = _du_mb(replay_wh) - before
    spark.catalog.clearCache()
    index_mb = _du_mb(os.path.join(d["wh"], "index"))
    return Catalog(spark, d["wh"]), index_mb


# ---------------------------------------------------------------------------
# per-layer figures
# ---------------------------------------------------------------------------

# Every per-layer figure, as (metric, unit, better); the traced run
# prints exactly these, and BENCHMARK.json lists them.
PER_LAYER = [
    ("pipeline.run_transcripts.turns_per_s", "turns/s", "higher"),
    ("pipeline.run_transcripts.wall_s", "s", "lower"),
    ("pipeline.run_transcripts.task_s", "s", "lower"),
    ("pipeline.run_transcripts.cpu_s", "s", "lower"),
    ("pipeline.run_transcripts.jobs", "count", "lower"),
    ("pipeline.run_transcripts.driver_gap_s", "s", "lower"),
    ("pipeline.run_transcripts.overlap_ratio", "ratio", "higher"),
    ("pipeline.run_transcripts.shuffle_write_mb", "MB", "lower"),
    ("pipeline.run_transcripts.spill_mb", "MB", "lower"),
    ("pipeline.run_transcripts.gc_s", "s", "lower"),
    ("pipeline.run_transcripts.task_skew", "ratio", "lower"),
    *[(f"{span}.{field}", "s", "lower")
      for span in BATCH_SPANS + REPLAY_SPANS for field in ("wall_s", "task_s")],
    ("reassemble.reassemble.rows_out", "count", "higher"),
    ("textkernel.featurize.cpu_s", "s", "lower"),
    ("textkernel.featurize.boundary_ratio", "ratio", "lower"),
    ("suffixes.fingerprint_table.rows_out", "count", "lower"),
    ("suffixes.substr_candidates.rows_out", "count", "lower"),
    ("suffixes.substr_candidates.hot_keys", "count", "lower"),
    ("suffixes.substr_candidates.shuffle_write_mb", "MB", "lower"),
    ("suffixes.verify_substr.accept_ratio", "ratio", "higher"),
    ("lsh.band_table.rows_out", "count", "lower"),
    ("simhash.hamming_block_table.rows_out", "count", "lower"),
    ("lsh.pairs_from_buckets.rows_out", "count", "lower"),
    ("lsh.pairs_from_buckets.hot_keys", "count", "lower"),
    ("lsh.pairs_from_buckets.shuffle_write_mb", "MB", "lower"),
    ("verify.verify_jaccard_hamming.accept_ratio", "ratio", "higher"),
    ("verify.verify_jaccard_hamming.shuffle_write_mb", "MB", "lower"),
    ("verify.combine_verified.rows_out", "count", "lower"),
    ("cc.assign_clusters.jobs", "count", "lower"),
    ("streaming.run_incremental_ingest.wave_p50_s", "s", "lower"),
    ("streaming.run_incremental_ingest.latency_growth", "ratio", "lower"),
    ("streaming.run_incremental_ingest.jobs", "count", "lower"),
    ("streaming.run_incremental_ingest.driver_gap_s", "s", "lower"),
    ("streaming.run_incremental_ingest.overhead_s", "s", "lower"),
    ("catalog.Catalog.read.rows_in", "count", "lower"),
    ("incremental.incremental_verified_pairs.accept_ratio", "ratio", "higher"),
    ("catalog.Catalog.write.written_mb", "MB", "lower"),
    ("catalog.index_mb", "MB", "lower"),
]


def _one(tracer: Tracer, name: str) -> dict:
    (span,) = tracer.find(name)
    return span


def layer_values(tracer: Tracer, index_mb: float) -> dict[str, float]:
    """Every figure the spans give, keyed ``<span name>.<field>``."""
    v: dict[str, float] = {}
    for name in ("pipeline.run_transcripts", *BATCH_SPANS, *REPLAY_SPANS):
        s = _one(tracer, name)
        v[f"{name}.wall_s"] = s["wall_s"]
        v.update({f"{name}.{k}": x for k, x in s["spark"].items()})
        v.update({f"{name}.{k}": x for k, x in s["counts"].items()})
        if "accepted" in s["counts"]:
            v[f"{name}.accept_ratio"] = _ratio(s["counts"]["accepted"],
                                               s["counts"]["rows_in"])
    whole = _one(tracer, "pipeline.run_transcripts")
    v["pipeline.run_transcripts.turns_per_s"] = whole["counts"]["turns"] / whole["wall_s"]
    # > 1: the pipeline overlaps work that the decomposition serializes
    v["pipeline.run_transcripts.overlap_ratio"] = _ratio(
        sum(c["wall_s"] for c in tracer.children(whole)), whole["wall_s"])
    # task time over JVM CPU time: Python-worker time is in the first only
    v["textkernel.featurize.boundary_ratio"] = _ratio(
        v["textkernel.featurize.task_s"], v["textkernel.featurize.cpu_s"])

    waves = [s for s in tracer.find("streaming.run_incremental_ingest")
             if not s["counts"]["warmup"]]
    walls = [s["wall_s"] for s in waves]
    third = max(1, len(walls) // 3)
    key = "streaming.run_incremental_ingest"
    v[f"{key}.wave_p50_s"] = statistics.median(walls)
    v[f"{key}.latency_growth"] = (statistics.median(walls[-third:])
                                  / statistics.median(walls[:third]))
    v[f"{key}.jobs"] = statistics.median(s["spark"]["jobs"] for s in waves)
    v[f"{key}.driver_gap_s"] = statistics.median(s["spark"]["driver_gap_s"] for s in waves)
    # the last wave's wall outside the public calls replayed from it:
    # replay guards, the commit marker and streaming bookkeeping, minus
    # the replay's own barrier counts
    v[f"{key}.overhead_s"] = waves[-1]["wall_s"] - sum(
        s["wall_s"] for s in tracer.children(waves[-1]))
    v["catalog.index_mb"] = index_mb
    return v


def layer_metrics(tracer: Tracer, index_mb: float) -> dict:
    v = layer_values(tracer, index_mb)
    return {m: {"value": v[m], "unit": unit} for m, unit, _ in PER_LAYER}


def run(args, name, wl, run_dir, t_setup) -> dict:
    evdir = os.path.join(run_dir, "eventlog")
    spark = W.start_session(run_dir, event_log=evdir)
    tracer = Tracer(spark)
    try:
        corpus = corpora.load(os.path.join(W.WORK, "corpus"), args.seed, wl.n_base)
        truth = spark.read.parquet(corpus.truth_path)
        W.warm_batch(spark, wl, corpus)
        waves = corpus.waves(wl.trace_parts)[:TRACE_WAVES]
        setup_s = time.perf_counter() - t_setup

        checks = dict(zip(("whole_call", "decomposed"),
                          trace_batch(spark, tracer, name, wl, corpus, truth)))
        catalog, index_mb = trace_ingest(spark, tracer, wl, waves, run_dir)
        if wl.kind == "ingest":
            checks["ingest"] = W.ingest_gates(spark, wl, catalog, corpus, truth)[0]
        else:
            import pyarrow.parquet as pq

            n_convs = sum(len(set(pq.read_table(p, columns=["conv_id"])
                                  .column(0).to_pylist())) for p, _ in waves)
            checks["ingest"] = gates.one_row_per_conv_gate(
                catalog.read("index.features"), n_convs)
    finally:
        W.stop_session(spark)
    attach_task_metrics(tracer, evdir)
    os.makedirs(os.path.join(W.WORK, "traces"), exist_ok=True)
    trace_file = os.path.join(W.WORK, "traces",
                              f"{name}-s{args.seed}-{tracer.trace_id}.json")
    failed = {k: v for k, v in checks.items() if v}
    tracer.dump(trace_file, {"workload": name, "seed": args.seed, "failed": failed})
    return {
        "correct": not failed,
        "attempted": len(checks),
        "failed": len(failed),
        "metrics": layer_metrics(tracer, index_mb),
        "workload": name, "seed": args.seed, "n_base": wl.n_base,
        "setup_s": setup_s, "errors": failed, "trace_file": trace_file,
    }
