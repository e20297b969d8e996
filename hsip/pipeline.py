"""End-to-end dedup pipeline: normalize -> block -> match -> cluster ->
report — the five reference stages (SURVEY.md §0.1), each re-expressed
Spark-first, wired with checkpoints + lineage + metrics.

Two frontends:
  run_documents(...)   — flat document table (id, text), fixture-friendly
  run_transcripts(...) — the authoritative input shape (BASELINE.json:15):
                         turn-version dedupe, reassembly under stable
                         (conv_id, turn_idx) order, then the same engine.

Every stage builds a logical plan; materialization happens only at the
stage checkpoint write (or cache for ephemeral runs). Candidate channels:
  minhash_lsh — Jaccard near-dups      (shingle -> MinHash -> LSH bands)
  simhash     — near-identical text    (bit-vote fingerprint -> Hamming blocks)
  substr      — long exact substrings  (winnowed rolling-hash fingerprints)
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import verify as V
from .catalog import Catalog
from .cc import assign_clusters, canonical_representatives, quality_representatives
from .checkpoint import Checkpointer, input_fingerprint
from .config import DedupConfig
from .lsh import band_table, pairs_from_buckets
from .metrics import Recorder, StageTimer
from .reassemble import dedupe_turn_versions, reassemble
from .session import latency_regime
from .simhash import hamming_block_table, probe_key_entropy
from .suffixes import (
    exact_substr_within_groups,
    fingerprint_table,
    substr_candidates,
    verify_substr,
)
from .textkernel import featurize


@dataclass
class PipelineResult:
    clusters: DataFrame
    verified: DataFrame
    representatives: DataFrame
    run_id: str
    stats: dict = field(default_factory=dict)
    # cfg.extract_spans_group_col only: per-group exact duplicate spans
    duplicate_spans: DataFrame | None = None
    # cfg.remove_spans_group_col only: rewritten docs
    # (id, text, text_clean, n_removed) with duplicate spans excised
    docs_cleaned: DataFrame | None = None


def _run_channels(spark: SparkSession, builders) -> list[DataFrame]:
    """Run the candidate channels' build chains as CONCURRENT Spark jobs.

    Each channel's chain is a handful of short shuffle stages (bucket
    repartition + size groupBy + pair join) whose last task waves leave
    executors idle; serialized, those idle tails add up to ~20% of wall
    at small executor counts (BENCH/BASELINE.md). Submitting the chains
    from separate threads (one FAIR scheduler pool each — see session.py)
    lets one channel's tasks backfill another's straggler waves. The
    shared upstream frame (base) is cached + eagerly materialized BEFORE
    the threads start, so no subtree is recomputed concurrently (the
    lazy-cache trap the eager counts exist to prevent); the features
    frame has one consumer, the mh_sh thread that builds it.

    Checkpointed runs are safe too: each stage writes its own table and
    the Recorder only appends driver-side. Channel order in the result is
    the caller's ``builders`` order regardless of completion order.

    Same-session A/B on the 554k-turn corpus (BENCH/BASELINE.md r3):
    concurrent beats sequential at BOTH 1-core (286.8 s vs 303.3 s —
    planning of one chain overlaps execution of another even with a
    single task slot) and 4-core executors (150.3 s vs 172.8 s).
    """
    sc = spark.sparkContext
    if len(builders) <= 1:
        return [build() for _, build in builders]
    from concurrent.futures import ThreadPoolExecutor

    def run(item):
        name, build = item
        # per-thread pool: FAIR across channels, created on demand
        sc.setLocalProperty("spark.scheduler.pool", f"hsip-{name}")
        try:
            return build()
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    with ThreadPoolExecutor(max_workers=len(builders)) as ex:
        return list(ex.map(run, builders))


def _reused(df: DataFrame, reuse: bool, name: str = "") -> DataFrame:
    """Cache + EAGERLY materialize frames that feed >1 downstream consumer.

    Eager matters: AQE materializes independent query-stage futures
    concurrently, so a lazily-cached subtree gets recomputed by every
    concurrent consumer before the cache populates — measured 9,546
    CPU-s of task time vs ~300 intrinsic on the 554k-turn corpus (each
    channel re-running reassembly+normalization). One count() per reused
    frame serializes the dependency order and caps total work.
    """
    if reuse:
        df = df.cache()
        sc = df.sparkSession.sparkContext
        sc.setJobDescription(f"hsip:{name or 'materialize'}")
        df.count()
        sc.setJobDescription(None)
    return df


def run_documents(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    cfg: DedupConfig,
    channels: tuple[str, ...] = ("minhash_lsh", "simhash", "substr"),
    warehouse: str | None = None,
    run_id: str | None = None,
    resume: bool = True,
) -> PipelineResult:
    """Dedup a flat (id, text) table into clusters.

    With ``warehouse`` set, every stage is checkpointed through the
    Catalog and the run is resumable under the same run_id + config
    fingerprint; without it, stages are cached in memory.
    ``resume=False`` forces recomputation of every stage (checkpoints
    are overwritten) even when matching ones exist for the run_id.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    use_ckpt = warehouse is not None
    catalog = Catalog(spark, warehouse) if use_ckpt else None

    # always cache base: >1 channel consumes it, and in checkpointed mode
    # the input fingerprint below is an extra consumer
    base = _reused(
        docs.select(
            F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("text")
        ),
        reuse=True,
    )

    # stage fingerprint = config + INPUT content: resuming the same run_id
    # over changed data must recompute, not serve stale checkpoints
    # (ADVICE.md r2). The input hash is one aggregate over the cached base.
    fp = cfg.fingerprint()
    if use_ckpt:
        fp = f"{fp}-{input_fingerprint(base)}"
    ckpt = (
        Checkpointer(catalog, run_id, fp, enabled=use_ckpt, reuse=resume)
        if use_ckpt
        else None
    )
    rec = Recorder(spark, catalog, run_id) if use_ckpt else None

    stage_walls: dict[str, float] = {}

    def stage(name: str, build, reuse: bool = True):
        # per-stage wall (driver-observed, includes materialization for
        # eager stages; ~0 for lazy reuse=False stages whose execution
        # folds into the downstream consumer). Surfaces in
        # PipelineResult.stats["stage_walls"] -> BENCH_r{N}.json so a
        # straggler hunt doesn't need the event log (VERDICT.md r3 item 9).
        t0 = time.time()
        if ckpt:
            with StageTimer(rec, name):
                out = ckpt.materialize(name, build)
            rec.lineage(name, out, fp)
        else:
            out = _reused(build(), reuse, name)
        stage_walls[name] = round(time.time() - t0, 3)
        return out

    def flat_stage(name: str, build):
        """Ephemeral-mode materialization into a FLAT plan: one eager
        localCheckpoint job instead of cache+count. Same barrier, same
        rows, but downstream consumers plan over a LogicalRDD instead of
        re-canonicalizing the channel's full logical tree on every
        action — the r6 rung event log shows 2.5 s + 1.4 s of pure
        driver gap just planning the `verified` combine over the two
        cached channel outputs (plan text ~12 MB). Checkpoint mode keeps
        the parquet-backed stage() path, which is already flat."""
        t0 = time.time()
        sc = spark.sparkContext
        sc.setJobDescription(f"hsip:{name}")
        try:
            out = build().localCheckpoint(eager=True)
        finally:
            sc.setJobDescription(None)
        stage_walls[name] = round(time.time() - t0, 3)
        return out

    stats: dict = {"stage_walls": stage_walls}
    need_mh = "minhash_lsh" in channels
    need_sh = "simhash" in channels

    # scale-proportional barriers (config.py eager_barrier_min_docs):
    # base is cached+materialized above, so this count is a metadata read
    n_docs = base.count()
    eager_barriers = n_docs >= cfg.eager_barrier_min_docs
    stats["eager_barriers"] = eager_barriers

    # Latency-tune the small-corpus regime (session.latency_regime: AQE
    # off + a corpus-derived shuffle width below the barrier, restored
    # when the block exits). r6 A/B at 57k turns: 10.4 s -> 7.8 s,
    # identical output. At/above the barrier everything stays at session
    # defaults.
    base_cached = base
    with latency_regime(n_docs, cfg.eager_barrier_min_docs, spark) as width:
        # base materialized under the ambient (wide) conf; narrow the
        # downstream VIEW of it to the derived width so channel scans
        # don't schedule dozens of near-empty tasks per pass. coalesce
        # is a narrow op over the already-populated cache — no shuffle,
        # no recompute; base_cached keeps the handle unpersist() needs.
        if width is not None and base.rdd.getNumPartitions() > 2 * width:
            base = base.coalesce(width)

        if need_sh:
            # key-entropy advisory (config.py simhash_bits sizing rule): fail
            # LOUDLY when the corpus outgrows the probe keys' collision budget
            # instead of silently flooding verify with random candidates
            entropy = probe_key_entropy(cfg, n_docs)
            stats["probe_key_entropy"] = entropy
            if rec:
                rec.metric("simhash_candidates", "probe_key_bits", entropy["key_bits"])
                rec.metric(
                    "simhash_candidates", "probe_key_bits_needed", entropy["needed_bits"]
                )
            if not entropy["ok"]:
                import warnings

                warnings.warn(
                    f"simhash probe keys carry {entropy['key_bits']:.0f} bits but "
                    f"{entropy['needed_bits']:.1f} are needed at n_docs={n_docs} "
                    f"(expected random collisions "
                    f"{entropy['expected_random_collisions']:.2e}); raise "
                    "hamming_blocks-hamming_d key width or simhash_bits "
                    "(config.py sizing rule)",
                    stacklevel=2,
                )

        # caches whose LAST consumer is the channel verify phase — released
        # in one sweep after the `verified` stage materializes, so a long
        # session running many pipelines doesn't accrete executor storage
        # (VERDICT.md r3 item 5). Threads only append (GIL-atomic).
        scratch: list[DataFrame] = []

        # Exact-collapse pre-pass (config.py collapse_exact): byte-identical
        # texts are grouped on a 16-byte md5 key and every channel sees ONE
        # representative (the group min-id) per distinct text; the remaining
        # members re-enter as pre-verified ``exact``-channel edges, so CC
        # reconstitutes the full clusters. Channel verdicts are functions of
        # the text alone, so substituting a byte-equal rep changes no verdict
        # — only the candidate count, which inside an n-copy hot bucket drops
        # from O(n) star edges per band/table to one rep row. Cost: one
        # column-pruned shuffle of (md5, id) for the group-min, one shuffle
        # of base joining reps back. At 10^12 turns this is the standard
        # exact-then-near layout (CCNet/RefinedWeb): near-dup work scales
        # with DISTINCT texts, not copies.
        exact_edges = None
        chan_base = base
        if cfg.collapse_exact:
            def build_collapse():
                # coalesce: null text keys as "" (an equi-join would silently
                # drop null keys); channels normalize null the same way
                tkey = F.md5(F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"))
                keyed = base.select("id", "text", tkey.alias("_tkey"))
                reps = keyed.groupBy("_tkey").agg(F.min("id").alias("_rep"))
                return keyed.join(reps, "_tkey").select("id", "text", "_rep")

            collapsed = stage("exact_collapse", build_collapse)
            scratch.append(collapsed)
            exact_edges = (
                collapsed.filter(F.col("id") != F.col("_rep"))
                .select(F.col("_rep").alias("a"), F.col("id").alias("b"),
                        F.lit("exact").alias("channel"),
                        F.lit(True).alias("verdict"))
            )
            chan_base = collapsed.filter(F.col("id") == F.col("_rep")).select(
                "id", "text"
            )

        def _mh_sh_channel() -> DataFrame:
            """The MinHash/SimHash chain, for any subset of the two channels
            (VERDICT.md r2 item 1): the requested channels' buckets union
            into ONE cached table, expand through ONE shuffle chain, and
            verify through ONE hydration against the cached features table.
            pairs_from_buckets(channel=None) and verify_jaccard_hamming
            dispatch per row on the ``channel`` column, so a single-channel
            run is the same chain over that channel's bucket rows only.

            Featurization is built HERE, lazily, so the substring channel —
            which reads only `base` — starts at t=0 and overlaps the
            featurization pass instead of waiting behind it. On a 1-slot rung
            this changes nothing (work serializes anyway); on multi-executor
            rungs it removes the featurize stage from the pipeline's critical
            path (BENCH/BASELINE.md round 5: ~107 s of 4-slot wall at 2.76M
            turns ran before the channels forked). One Arrow pass computes
            shingles + sig + simhash (textkernel.py)."""
            feats = stage("features", lambda: featurize(chan_base, "id", "text", cfg))
            scratch.append(feats)

            def build_cands():
                parts = []
                if need_mh:
                    parts.append(band_table(feats.select("id", "sig"), cfg).select(
                        F.lit("minhash_lsh").alias("channel"), "id",
                        F.col("band_id").alias("bkt_id"),
                        F.col("band_hash").alias("bkt_hash"),
                        # null payload typed to the fingerprint layout
                        # (config.py simhash_bits: long at 64, array<bigint>
                        # lanes at 128) so the channel union stays
                        # type-compatible
                        F.lit(None)
                        .cast("long" if cfg.simhash_bits == 64 else "array<bigint>")
                        .alias("simhash"),
                    ))
                if need_sh:
                    # simhash payload (8 B/row on the sh rows, null on mh
                    # rows) rides through the pair expansion so Hamming
                    # verification is a projection of the pair table — no
                    # join for the channel whose candidate count can go
                    # quadratic (verify.py r4 note)
                    parts.append(hamming_block_table(feats.select("id", "simhash"), cfg).select(
                        F.lit("simhash").alias("channel"), "id",
                        F.col("table_id").alias("bkt_id"),
                        F.col("key_hash").alias("bkt_hash"), "simhash",
                    ))
                buckets = parts[0]
                for part in parts[1:]:
                    buckets = buckets.unionByName(part)
                # cache + eager count: pairs_from_buckets contract (sizes
                # groupBy and join-back both scan the bucket table)
                buckets = buckets.repartition("channel", "bkt_id", "bkt_hash").cache()
                buckets.count()
                scratch.append(buckets)
                pairs, hot = pairs_from_buckets(
                    buckets, cfg.bucket_cap,
                    bucket_cols=("channel", "bkt_id", "bkt_hash"), channel=None,
                    hot_policy=cfg.hot_bucket_policy, salt_seed=cfg.seed,
                    payload_cols=("simhash",),
                    scratch=scratch, eager=eager_barriers,
                )
                if rec:
                    for r in hot.groupBy("channel").count().collect():
                        rec.metric(
                            f"{r['channel']}_candidates",
                            "hot_buckets_star_paired", r["count"],
                        )
                return pairs

            cands = stage("candidates_mh_sh", build_cands, reuse=False)
            # materialize the channel's verdicts ON THIS THREAD (r6): lazy
            # output folded the whole hydrate+verify chain into the single
            # `verified` job on the main thread, serializing it against the
            # other channel's tail; materializing here overlaps the two
            # channels' verify work (the FAIR-pool design _run_channels
            # exists for). Ephemeral mode flattens the plan too
            # (flat_stage) so the combine/stats/CC actions stop paying
            # multi-second canonicalization of the channel's full tree.
            build_v = lambda: V.verify_jaccard_hamming(  # noqa: E731
                cands, feats, cfg, scratch=scratch, eager=eager_barriers)
            if use_ckpt:
                out = stage("verify_mh_sh", build_v)
                scratch.append(out)
            else:
                out = flat_stage("verify_mh_sh", build_v)
            return out

        def _sub_channel() -> DataFrame:
            # cache: the bucket expansion filters this table along two branches
            fps = stage("substr_fps", lambda: fingerprint_table(chan_base, "id", "text", cfg))
            scratch.append(fps)

            def build_substr():
                pairs, hot = substr_candidates(fps, cfg, scratch=scratch,
                                               eager=eager_barriers)
                if rec:
                    # cache + eager count BEFORE the metric scans: without it
                    # the hot.count() + truncation filter re-execute the whole
                    # candidate chain in warehouse runs (VERDICT.md r3 item 3)
                    pairs = pairs.cache()
                    pairs.count()
                    scratch.append(pairs)
                    rec.metric("substr_candidates", "hot_fingerprints_star_paired", hot.count())
                    rec.metric(
                        "substr_candidates", "anchor_truncated_pairs",
                        pairs.filter(
                            F.col("n_anchors") > cfg.max_anchors_per_pair
                        ).count(),
                    )
                return pairs

            sub_pairs = stage("substr_candidates", build_substr, reuse=False)
            # same in-thread materialization as verify_mh_sh (r6): the span
            # UDF runs here, overlapped with the mh_sh channel, instead of
            # inside the serial `verified` job; flat in ephemeral mode
            build_v = lambda: verify_substr(  # noqa: E731
                sub_pairs, chan_base, "id", "text", cfg,
                scratch=scratch, eager=eager_barriers)
            if use_ckpt:
                out = stage("verify_substr", build_v)
                scratch.append(out)
            else:
                out = flat_stage("verify_substr", build_v)
            return out

        builders = []
        if need_mh or need_sh:
            builders.append(("mh_sh", _mh_sh_channel))
        if "substr" in channels:
            builders.append(("substr", _sub_channel))

        verified_parts = _run_channels(spark, builders)
        if exact_edges is not None:
            # collapse-mode members re-enter as pre-verified edges; the union
            # + per-pair merge in combine_verified gives them the same
            # (a, b, channels, verdict) shape as channel output
            verified_parts = [*verified_parts, exact_edges]

        if use_ckpt:
            verified = stage("verified", lambda: V.combine_verified(*verified_parts))
        else:
            # Ephemeral mode: materialize ONCE, straight into a flat plan.
            # Keeping the full 3-channel logical plan behind a cached
            # `verified` makes every downstream action (metric counts, the
            # CC seed job, representatives) re-run Catalyst over that
            # thousand-node plan — the event-log decomposition measured a
            # ~14 s pure-driver gap on the 2.76M-turn corpus just planning
            # the CC seed (BENCH/BASELINE.md round 5) — and a cached-only
            # `verified` is fragile: the scratch release below and the final
            # base.unpersist() clear dependent cache buffers, so every later
            # consumer re-executed the whole verify DAG. Round 5 cached +
            # counted and THEN localCheckpointed (two materialization jobs
            # back-to-back); the eager localCheckpoint alone is the same
            # barrier with the same flat result, one job fewer (r6).
            # (Checkpoint mode already reads back from parquet — flat plan.)
            _t0 = time.time()
            sc = spark.sparkContext
            sc.setJobDescription("hsip:verified")
            verified = V.combine_verified(*verified_parts).localCheckpoint(
                eager=True
            )
            sc.setJobDescription(None)
            stage_walls["verified"] = round(time.time() - _t0, 3)
        # `verified` just materialized (cache+count or checkpoint write), so
        # every feature/band/bucket cache has served its last consumer —
        # release executor storage before CC runs (VERDICT.md r3 item 5).
        # Downstream stages touch only `base` + `verified`.
        for cached in scratch:
            cached.unpersist()
        scratch.clear()
        # Work counters: one cheap scan of the flat pair table (the smallest
        # frame in the pipeline). A wall-clock efficiency reading alone can't
        # distinguish "the engine scaled badly" from "the workload grew
        # superlinearly" — on boilerplate-heavy corpora the candidate-pair
        # count grows faster than the corpus (near-identical docs pair
        # quadratically within a cluster), so a weak-scaling rung carries
        # more work per doc at 4x. Recording pairs per channel lets the
        # scaling sidecar report work-normalized throughput alongside the
        # raw ratio (BENCH/BASELINE.md round 5).
        stats["n_docs"] = n_docs
        # ONE scan for all work counters (r6: was two jobs — a global agg
        # plus an explode/groupBy): group by the (tiny-cardinality) accepted-
        # channel set + verdict and fold totals/per-channel counts driver-
        # side. Channel attribution of the ACCEPTED pairs only (candidates
        # are merged per-pair upstream in combine_verified, so only the
        # accepting channel set survives to here).
        _rows = (
            verified.groupBy(F.sort_array("channels").alias("chs"), "verdict")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        stats["verified_candidates"] = sum(r["n"] for r in _rows)
        stats["duplicate_pairs"] = sum(r["n"] for r in _rows if r["verdict"])
        _by_ch: dict[str, int] = {}
        for r in _rows:
            if r["verdict"]:
                for ch in r["chs"]:
                    _by_ch[ch] = _by_ch.get(ch, 0) + r["n"]
        stats["dup_pairs_by_channel"] = _by_ch
        if use_ckpt:
            clusters = stage(
                "clusters",
                lambda: assign_clusters(
                    base, V.edges(verified), id_col="id",
                    checkpoint_dir=cfg.cc_checkpoint_dir,
                ),
            )
        else:
            # Same single-materialization truncation as `verified` above,
            # same reason: the clusters plan references `base`, whose
            # unpersist at return would clear dependent cache buffers and
            # make every post-return action (the representatives stage's
            # consumers, catalog writes, API callers) recompute through the
            # join. One flat copy of the (id, cluster_id) table — the
            # smallest frame in the pipeline — in one job (r5 cached+counted
            # then localCheckpointed: two).
            _t0 = time.time()
            sc = spark.sparkContext
            sc.setJobDescription("hsip:clusters")
            clusters = assign_clusters(
                base, V.edges(verified), id_col="id",
                checkpoint_dir=cfg.cc_checkpoint_dir,
            ).localCheckpoint(eager=True)
            sc.setJobDescription(None)
            stage_walls["clusters"] = round(time.time() - _t0, 3)
        if cfg.rep_score_col is not None:
            # keep-best policy: score is a SQL expression over the INPUT
            # frame (base only carries id/text); ids align because base
            # casts the same column. Double-cast keeps the checkpointed
            # reps schema stable across score expressions.
            scored = docs.select(
                F.col(id_col).cast("string").alias("id"),
                F.expr(cfg.rep_score_col).cast("double").alias("score"),
            )
            reps = stage(
                "representatives",
                lambda: quality_representatives(clusters, scored),
            )
        else:
            reps = stage(
                "representatives", lambda: canonical_representatives(clusters)
            )

        spans = None
        if cfg.extract_spans_group_col is not None:
            # optional span EXTRACTION stage (config.py): groups come from a
            # SQL expression over the INPUT frame (base only carries id/text),
            # so evaluate it there; ids align because base casts the same col
            grouped = docs.select(
                F.col(id_col).cast("string").alias("id"),
                F.col(text_col).alias("text"),
                F.expr(cfg.extract_spans_group_col).alias("span_grp"),
            )
            spans = stage(
                "duplicate_spans",
                lambda: exact_substr_within_groups(
                    grouped, "id", "text", "span_grp", cfg, recorder=rec
                ),
            )

        cleaned = None
        if cfg.remove_spans_group_col is not None:
            # optional span REMOVAL stage: positional spans (keep-SA-first
            # survivor) excised from the RAW text — offsets index text_col
            # as given, so extraction and rewrite see the same column
            from .spans import remove_spans
            from .suffixes import removal_spans_within_groups

            grouped_rm = docs.select(
                F.col(id_col).cast("string").alias("id"),
                F.col(text_col).alias("text"),
                F.expr(cfg.remove_spans_group_col).alias("span_grp"),
            )
            cleaned = stage(
                "docs_cleaned",
                lambda: remove_spans(
                    grouped_rm.drop("span_grp"), "id", "text",
                    removal_spans_within_groups(
                        grouped_rm, "id", "text", "span_grp", cfg, recorder=rec
                    ),
                ),
            )

        if rec:
            rec.metric("pipeline", "n_docs", base.count())
            rec.metric("pipeline", "n_verified_edges", verified.filter("verdict").count())
            rec.flush()
            stats["skipped_stages"] = list(ckpt.skipped)
            stats["computed_stages"] = list(ckpt.computed)

        # result frames (verified/clusters/reps) are materialized; base has no
        # remaining consumer
    base_cached.unpersist()
    return PipelineResult(
        clusters=clusters, verified=verified, representatives=reps,
        run_id=run_id, stats=stats, duplicate_spans=spans,
        docs_cleaned=cleaned,
    )


def run_transcripts(
    spark: SparkSession,
    turns: DataFrame,
    cfg: DedupConfig,
    channels: tuple[str, ...] = ("minhash_lsh", "simhash", "substr"),
    warehouse: str | None = None,
    run_id: str | None = None,
    resume: bool = True,
) -> PipelineResult:
    """Authoritative frontend: turn-level input (BASELINE.json:15 shape).

    C1 turn-version dedupe -> C2 reassembly (stable order) -> document
    engine over doc_text, one row per conversation. conv_id partitioning:
    the groupBy(conv_id) in reassembly is the single shuffle that
    co-locates turns; everything downstream keys on conv_id.
    """
    deduped = dedupe_turn_versions(turns)
    convs = reassemble(deduped).select("conv_id", "doc_text")
    return run_documents(
        spark, convs, "conv_id", "doc_text", cfg,
        channels=channels, warehouse=warehouse, run_id=run_id, resume=resume,
    )
