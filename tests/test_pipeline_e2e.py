"""§5.5 end-to-end: planted-duplicate recall >= 0.99, per-turn equality,
partitioning invariance, resume-from-checkpoint."""

import shutil

import pytest
from pyspark.sql import functions as F

from hsip.config import DedupConfig
from hsip.fixtures.gen import gen_transcripts, to_spark, truth_pairs
from hsip.pipeline import run_documents, run_transcripts
from hsip.recall import cluster_pairs, evaluate_pairs
from hsip.reassemble import audit_turn_equality, dedupe_turn_versions, explode_turns, reassemble


@pytest.fixture(scope="module")
def corpus(spark):
    gen = gen_transcripts(seed=42, n_base=150)
    turns, truth = to_spark(spark, gen)
    return turns.cache(), truth.cache()


@pytest.fixture(scope="module")
def result(spark, corpus):
    turns, _ = corpus
    return run_transcripts(spark, turns, DedupConfig())


def test_recall_against_planted_truth(spark, corpus, result):
    _, truth = corpus
    ours = cluster_pairs(result.clusters)
    ev, missed = evaluate_pairs(ours, truth_pairs(truth))
    assert ev.recall >= 0.99, f"recall {ev.recall}: missed {missed.collect()[:10]}"
    assert ev.precision >= 0.95


def test_work_counters_in_stats(spark, corpus, result):
    """Scaling sidecars work-normalize efficiency from these counters:
    they must exist, be internally consistent, and agree with the
    verified frame they summarize."""
    st = result.stats
    assert st["n_docs"] == result.clusters.count()
    assert st["verified_candidates"] == result.verified.count()
    assert st["duplicate_pairs"] == result.verified.filter("verdict").count()
    assert 0 < st["duplicate_pairs"] <= st["verified_candidates"]
    by_ch = st["dup_pairs_by_channel"]
    assert set(by_ch) <= {"minhash_lsh", "simhash", "substr", "exact"}
    # every accepted pair is attributed to >= 1 channel
    assert sum(by_ch.values()) >= st["duplicate_pairs"]


def test_collapse_exact_preserves_clusters(spark, corpus, result):
    """collapse_exact=True must yield byte-identical cluster assignments:
    byte-equal texts have byte-equal features, so substituting the group
    rep changes candidate bookkeeping, never verdicts or components."""
    turns, truth = corpus
    r2 = run_transcripts(spark, turns, DedupConfig(collapse_exact=True))
    a = {r.id: r.cluster_id for r in result.clusters.collect()}
    b = {r.id: r.cluster_id for r in r2.clusters.collect()}
    assert a == b
    # members re-enter as pre-verified exact edges, and the channel work
    # shrank: every exact-copy conversation left the candidate set
    ex = r2.verified.filter(F.array_contains("channels", "exact"))
    n_exact_members = ex.count()
    assert n_exact_members > 0
    assert ex.filter(~F.col("verdict")).count() == 0
    assert "exact_collapse" in r2.stats["stage_walls"]
    assert r2.stats["verified_candidates"] < result.stats["verified_candidates"]
    # planted-truth quality is unchanged
    ours = cluster_pairs(r2.clusters)
    _, truth_df = (turns, truth)
    ev, _ = evaluate_pairs(ours, truth_pairs(truth_df))
    assert ev.recall >= 0.99 and ev.precision >= 0.95


def test_hotband_not_merged(spark, corpus, result):
    """Boilerplate-sharing conversations must NOT cluster together."""
    _, truth = corpus
    hot_ids = {r.conv_id for r in truth.filter("dup_kind = 'hotband'").collect()}
    rows = result.clusters.collect()
    by_cluster = {}
    for r in rows:
        if r.id in hot_ids:
            by_cluster.setdefault(r.cluster_id, []).append(r.id)
    biggest = max(len(v) for v in by_cluster.values())
    assert biggest <= 2, f"hotband merged: cluster of {biggest}"


def test_per_turn_text_equality_invariant(spark, corpus):
    turns, _ = corpus
    deduped = dedupe_turn_versions(turns)
    ours = explode_turns(reassemble(deduped))
    assert audit_turn_equality(ours, deduped).count() == 0
    assert audit_turn_equality(deduped, ours).count() == 0


def test_clusters_invariant_under_repartitioning(spark, corpus):
    turns, _ = corpus
    cfg = DedupConfig()
    r1 = run_transcripts(spark, turns.repartition(1), cfg)
    r17 = run_transcripts(spark, turns.repartition(17), cfg)
    a = {(r.id, r.cluster_id) for r in r1.clusters.collect()}
    b = {(r.id, r.cluster_id) for r in r17.clusters.collect()}
    assert a == b


def test_resume_from_checkpoint(spark, corpus, tmp_path_factory):
    """Kill-and-resume equals single run; completed stages are skipped."""
    turns, _ = corpus
    cfg = DedupConfig()
    wh = str(tmp_path_factory.mktemp("warehouse"))
    docs = reassemble(dedupe_turn_versions(turns)).select("conv_id", "doc_text")
    r1 = run_documents(
        spark, docs, "conv_id", "doc_text", cfg,
        channels=("minhash_lsh",), warehouse=wh, run_id="runA",
    )
    first = {(r.id, r.cluster_id) for r in r1.clusters.collect()}
    assert r1.stats["computed_stages"], "first run must compute stages"
    # simulate partial failure: drop the final stages, keep early ones
    shutil.rmtree(f"{wh}/ckpt/runA/clusters")
    shutil.rmtree(f"{wh}/ckpt/runA/verified")
    r2 = run_documents(
        spark, docs, "conv_id", "doc_text", cfg,
        channels=("minhash_lsh",), warehouse=wh, run_id="runA",
    )
    assert "features" in r2.stats["skipped_stages"]
    assert "clusters" in r2.stats["computed_stages"]
    second = {(r.id, r.cluster_id) for r in r2.clusters.collect()}
    assert first == second


def test_config_change_invalidates_checkpoint(spark, corpus, tmp_path_factory):
    turns, _ = corpus
    wh = str(tmp_path_factory.mktemp("warehouse2"))
    docs = reassemble(dedupe_turn_versions(turns)).select("conv_id", "doc_text")
    run_documents(
        spark, docs, "conv_id", "doc_text", DedupConfig(),
        channels=("minhash_lsh",), warehouse=wh, run_id="runB",
    )
    r2 = run_documents(
        spark, docs, "conv_id", "doc_text", DedupConfig(shingle_k=7),
        channels=("minhash_lsh",), warehouse=wh, run_id="runB",
    )
    assert not r2.stats["skipped_stages"]


def test_input_change_invalidates_checkpoint(spark, corpus, tmp_path_factory):
    """Same run_id + same config over CHANGED input must recompute, not
    serve stale checkpoints: the stage fingerprint covers input content
    (count + id hashes + sampled row hashes), not just config (ADVICE r2)."""
    turns, _ = corpus
    wh = str(tmp_path_factory.mktemp("warehouse4"))
    docs = reassemble(dedupe_turn_versions(turns)).select("conv_id", "doc_text")
    run_documents(
        spark, docs, "conv_id", "doc_text", DedupConfig(),
        channels=("minhash_lsh",), warehouse=wh, run_id="runD",
    )
    # drop some rows: same config, same run_id, different data
    changed = docs.filter(F.crc32(F.col("conv_id")) % 5 != 0)
    r2 = run_documents(
        spark, changed, "conv_id", "doc_text", DedupConfig(),
        channels=("minhash_lsh",), warehouse=wh, run_id="runD",
    )
    assert not r2.stats["skipped_stages"], "stale checkpoints served for changed input"
    ids = {r.id for r in r2.clusters.collect()}
    kept = {r.conv_id for r in changed.select("conv_id").collect()}
    assert ids == kept


def test_input_fingerprint_full_row_sensitivity(spark):
    """A SINGLE in-place text edit must flip the input fingerprint — the
    round-3 version summed only a ~1/997 sampled subset of row hashes, so
    ~99.8% of one-row edits resumed from stale checkpoints (ADVICE r3).
    Now every row's (id, text) hash contributes to the sum."""
    from hsip.checkpoint import input_fingerprint

    base = spark.range(300).selectExpr(
        "cast(id as string) as id", "concat('text-', id) as text"
    ).cache()
    fp0 = input_fingerprint(base)
    for victim in ("7", "123", "299"):
        edited = base.withColumn(
            "text",
            F.when(F.col("id") == victim, F.concat(F.col("text"), F.lit("!")))
            .otherwise(F.col("text")),
        )
        assert input_fingerprint(edited) != fp0, f"edit to row {victim} undetected"
    # order-insensitive: a reshuffle of identical content is the SAME input
    assert input_fingerprint(base.orderBy(F.desc("id")).repartition(7)) == fp0
    base.unpersist()


def test_pipeline_releases_intermediate_caches(spark):
    """Long-session hygiene (VERDICT.md r3 item 5): an ephemeral pipeline
    run must leave ONLY its three result frames in the SQL cache — every
    feature/band/bucket/base intermediate is unpersisted once `verified`
    materializes, so sessions running many pipelines don't accrete
    executor storage. (CC's localCheckpoint blocks live outside the
    CacheManager and are reclaimed by the ContextCleaner.)"""
    docs = spark.createDataFrame(
        [(f"d{i}", f"alpha beta gamma delta {i % 7} " * 30) for i in range(40)],
        "id string, text string",
    )
    spark.catalog.clearCache()
    res = run_documents(spark, docs, "id", "text", DedupConfig())
    assert not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    for df in (res.verified, res.clusters, res.representatives):
        df.unpersist()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "pipeline leaked non-result caches into the session"
    )


def test_resume_false_forces_recompute(spark, corpus, tmp_path_factory):
    """--resume off: matching checkpoints exist but every stage recomputes."""
    turns, _ = corpus
    cfg = DedupConfig()
    wh = str(tmp_path_factory.mktemp("warehouse3"))
    docs = reassemble(dedupe_turn_versions(turns)).select("conv_id", "doc_text")
    r1 = run_documents(
        spark, docs, "conv_id", "doc_text", cfg,
        channels=("minhash_lsh",), warehouse=wh, run_id="runC",
    )
    # collect BEFORE the forced recompute: resume=False overwrites the
    # checkpoint files r1's lazy DataFrame reads from
    first = {(r.id, r.cluster_id) for r in r1.clusters.collect()}
    r2 = run_documents(
        spark, docs, "conv_id", "doc_text", cfg,
        channels=("minhash_lsh",), warehouse=wh, run_id="runC", resume=False,
    )
    assert not r2.stats["skipped_stages"]
    assert r2.stats["computed_stages"]
    assert first == {(r.id, r.cluster_id) for r in r2.clusters.collect()}


def test_pipeline_duplicate_spans_stage(spark, tmp_path_factory):
    """cfg.extract_spans_group_col wires exact_substr_within_groups into
    the pipeline (VERDICT r4 item 8): the duplicate_spans table flows
    through the same stage/checkpoint discipline and matches the direct
    extractor call."""
    from hsip.suffixes import exact_substr_within_groups

    shared = "the quick brown fox jumps over the lazy dog " * 8  # ~350 chars
    rows = [
        ("s1", shared + "unique tail alpha " * 5),
        ("s2", "unique head beta " * 5 + shared),
        ("s3", "completely different content " * 20),
    ]
    docs = spark.createDataFrame(rows, "id string, text string")
    cfg = DedupConfig(extract_spans_group_col="'all'")

    res = run_documents(spark, docs, "id", "text", cfg)
    assert res.duplicate_spans is not None
    got = {(r.a, r.b): r.substr_len for r in res.duplicate_spans.collect()}
    direct = {
        (r.a, r.b): r.substr_len
        for r in exact_substr_within_groups(
            docs.withColumn("g", F.lit("all")), "id", "text", "g", cfg
        ).collect()
    }
    assert got == direct and ("s1", "s2") in got
    assert got[("s1", "s2")] >= cfg.min_substr_len
    assert "duplicate_spans" in res.stats["stage_walls"]

    # checkpointed mode persists the table under the run
    wh = str(tmp_path_factory.mktemp("wh_spans"))
    res2 = run_documents(
        spark, docs, "id", "text", cfg, warehouse=wh, run_id="spanrun"
    )
    from hsip.catalog import Catalog

    cat = Catalog(spark, wh)
    assert cat.exists("ckpt.spanrun.duplicate_spans"), (
        "duplicate_spans stage not checkpointed"
    )
    assert {(r.a, r.b) for r in res2.duplicate_spans.collect()} == set(got)

    # flag off (default): no extra stage, result field is None
    res3 = run_documents(spark, docs, "id", "text", DedupConfig())
    assert res3.duplicate_spans is None


def test_pipeline_docs_cleaned_stage(spark):
    """cfg.remove_spans_group_col wires the removal rewrite into the
    pipeline: docs_cleaned carries the excised text, no cross-doc span
    >= min_len survives, and one intact copy remains."""
    from hsip.suffixes import duplicate_spans_local

    shared = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        ("r1", shared + "unique tail alpha " * 5),
        ("r2", "unique head beta " * 5 + shared),
        ("r3", "completely different content " * 20),
    ]
    docs = spark.createDataFrame(rows, "id string, text string")
    cfg = DedupConfig(remove_spans_group_col="'all'")

    res = run_documents(spark, docs, "id", "text", cfg)
    assert res.docs_cleaned is not None
    cleaned = {r["id"]: r["text_clean"] for r in res.docs_cleaned.collect()}
    assert duplicate_spans_local(cleaned, cfg.min_substr_len) == []
    assert sum(shared in t for t in cleaned.values()) == 1
    assert cleaned["r3"] == rows[2][1]
    assert "docs_cleaned" in res.stats["stage_walls"]


def test_rep_score_col_keeps_best_member(spark):
    """cfg.rep_score_col switches X3 to the keep-best policy: the
    representative of each cluster is its max-score member (ties max
    id), and the fingerprint treats the policy as semantic."""
    base = "the quick brown fox jumps over the lazy dog " * 30
    rows = [
        ("short", base),
        ("longer", base + "extra tail content here"),
        ("longest", base + "extra tail content here and even more"),
        ("solo", "completely unrelated text about something else " * 30),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    cfg = DedupConfig(jaccard_threshold=0.6, rep_score_col="length(text)")
    res = run_documents(spark, docs, "doc_id", "text", cfg,
                        channels=("minhash_lsh",))
    reps = {r.cluster_id: (r.representative, r.cluster_size)
            for r in res.representatives.collect()}
    by_size = {v[1]: v[0] for v in reps.values()}
    assert by_size[3] == "longest"   # best (longest) member kept
    assert by_size[1] == "solo"      # singleton keeps itself
    assert "rep_score" in res.representatives.columns
    assert cfg.fingerprint() != DedupConfig(
        jaccard_threshold=0.6).fingerprint()


def test_collapse_exact_degenerate_corpora(spark):
    """All-identical and all-distinct corpora through collapse mode: the
    two ends of the copy-multiplicity spectrum the pre-pass exists for."""
    n = 40
    same = spark.createDataFrame(
        [(i, "the same exact document text repeated verbatim") for i in range(n)],
        "doc_id int, text string",
    )
    r = run_documents(spark, same, "doc_id", "text",
                      DedupConfig(collapse_exact=True))
    assert r.clusters.select("cluster_id").distinct().count() == 1
    ex = r.verified.filter(F.array_contains("channels", "exact"))
    assert ex.count() == n - 1          # every member -> the min-id rep
    assert r.stats["n_docs"] == n
    assert r.representatives.count() == 1

    distinct = spark.createDataFrame(
        [(i, f"completely unrelated document number {i} "
             f"with its own vocabulary token{i}a token{i}b") for i in range(n)],
        "doc_id int, text string",
    )
    r2 = run_documents(spark, distinct, "doc_id", "text",
                       DedupConfig(collapse_exact=True))
    assert r2.clusters.select("cluster_id").distinct().count() == n
    assert r2.verified.filter(F.array_contains("channels", "exact")).count() == 0


def test_collapse_exact_checkpoint_resume(spark, corpus, tmp_path_factory):
    """The collapse stage participates in the checkpoint/resume contract:
    a resumed run skips it and still reproduces identical clusters."""
    turns, _ = corpus
    wh = str(tmp_path_factory.mktemp("wh_collapse"))
    cfg = DedupConfig(collapse_exact=True)
    r1 = run_transcripts(spark, turns, cfg, warehouse=wh, run_id="ck")
    r2 = run_transcripts(spark, turns, cfg, warehouse=wh, run_id="ck")
    assert "exact_collapse" in r2.stats["skipped_stages"]
    a = {(r.id, r.cluster_id) for r in r1.clusters.collect()}
    b = {(r.id, r.cluster_id) for r in r2.clusters.collect()}
    assert a == b
