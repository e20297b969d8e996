"""The small-input latency regime (hsip.session.latency_regime): results
are bit-identical on either side of ``eager_barrier_min_docs`` for the
batch pipeline and for streaming ingest, confs are restored, and the
measured-size gate behind the latency-mode broadcast fails safe."""

import pytest
from py4j.protocol import Py4JError
from pyspark.sql import functions as F

from hsip.catalog import Catalog
from hsip.config import DedupConfig
from hsip.fixtures.gen import gen_transcripts, to_spark
from hsip.pipeline import run_transcripts
from hsip.session import latency_regime, session_confs
from hsip.streaming import run_incremental_ingest
from hsip.verify import measured_size_bytes, verify_jaccard_hamming

# every input is at/above a barrier of 1 doc: session defaults throughout
EAGER = DedupConfig(eager_barrier_min_docs=1)
# the default barrier puts this test corpus in the latency regime
LATENCY = DedupConfig()

_KEYS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def _rows(df, drop=()):
    """Order-free image of a frame's rows: arrays as tuples, except the
    ``channels`` set, which is sorted."""
    cols = sorted(c for c in df.columns if c not in drop)

    def cell(c, v):
        if isinstance(v, list):
            return tuple(sorted(v)) if c == "channels" else tuple(v)
        return v

    return sorted((tuple(cell(c, r[c]) for c in cols)
                   for r in df.select(*cols).collect()), key=repr)


@pytest.fixture(scope="module")
def gen():
    return gen_transcripts(seed=5, n_base=30)


def test_batch_regime_switch_is_bit_identical(spark, gen):
    turns, _ = to_spark(spark, gen)
    turns = turns.cache()
    lat = run_transcripts(spark, turns, LATENCY)
    eag = run_transcripts(spark, turns, EAGER)
    assert lat.stats["eager_barriers"] is False
    assert eag.stats["eager_barriers"] is True
    assert _rows(lat.clusters) == _rows(eag.clusters)
    assert _rows(lat.verified) == _rows(eag.verified)
    assert lat.verified.filter("verdict").count() > 0
    turns.unpersist()


def _waves(gen, n_waves=2):
    """Conv-disjoint waves of the corpus, typed as the stream schema
    expects, in arrival order."""
    pdf = gen.transcripts.copy()
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    convs = sorted(pdf["conv_id"].unique())
    return [pdf[pdf["conv_id"].isin(convs[w::n_waves])]
            for w in range(n_waves)]


def _ingest(spark, gen, root, cfg):
    inp = root / "in"
    inp.mkdir(parents=True)
    wh, ckpt = str(root / "wh"), str(root / "ckpt")
    for w, part in enumerate(_waves(gen)):
        part.to_parquet(inp / f"wave{w}.parquet", index=False)
        run_incremental_ingest(spark, str(inp), wh, ckpt, cfg)
    return Catalog(spark, wh)


def test_ingest_regime_switch_is_bit_identical(spark, gen, tmp_path):
    lat = _ingest(spark, gen, tmp_path / "latency", LATENCY)
    eag = _ingest(spark, gen, tmp_path / "eager", EAGER)
    # stream_id is the checkpoint path and ingested_at the commit clock:
    # both differ between any two runs by construction
    run_local = ("stream_id", "ingested_at")
    got = _rows(lat.read("stream.verified"), drop=run_local)
    assert got == _rows(eag.read("stream.verified"), drop=run_local)
    assert got, "the second wave must match the first"
    feats = _rows(lat.read("index.features"), drop=run_local)
    assert feats == _rows(eag.read("index.features"), drop=run_local)
    assert len(feats) == gen.transcripts["conv_id"].nunique()


def test_latency_regime_decides_and_restores(spark):
    before = {k: spark.conf.get(k) for k in _KEYS}
    with session_confs({"spark.sql.shuffle.partitions": "64"}, spark):
        with latency_regime(1200, 1200, spark) as width:
            assert width is None  # at the barrier: session defaults
            assert spark.conf.get(_KEYS[1]) == "64"
        with latency_regime(1199, 1200, spark) as width:
            assert width == 8  # ceil(1199/500) = 3, floored at 8
            assert spark.conf.get(_KEYS[0]) == "false"
        with latency_regime(20_000, 25_000, spark) as width:
            assert width == 40
        with session_confs({"spark.sql.shuffle.partitions": "16"}, spark):
            with latency_regime(20_000, 25_000, spark) as width:
                assert width == 16  # capped at the ambient width
        with pytest.raises(RuntimeError):
            with latency_regime(10, 1200, spark):
                raise RuntimeError("block failed")
        assert spark.conf.get(_KEYS[1]) == "64"
    assert {k: spark.conf.get(k) for k in _KEYS} == before


def test_measured_size_bytes_reads_materialized_cache(spark):
    df = spark.range(5000).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("h")
    ).cache()
    try:
        df.count()
        n = measured_size_bytes(df)
        # the InMemoryRelation's real batch stats: at least the 64-char
        # digests, far below Spark's unknown-size default (Long.MaxValue)
        assert isinstance(n, int)
        assert 5000 * 64 <= n < 16 * 1024 * 1024
    finally:
        df.unpersist()


class _NoStats:
    """A py4j DataFrame handle whose plan-statistics call raises (a
    gateway error, or a Spark version without the private API); every
    other call goes to the real handle."""

    def __init__(self, jdf):
        self._real = jdf

    def queryExecution(self):
        raise Py4JError("plan statistics unavailable")

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_measured_size_bytes_fails_safe_and_declines_broadcast(spark):
    feats = spark.createDataFrame(
        [("d1", [1, 2, 3], 0), ("d2", [1, 2, 4], 1), ("d3", [7, 8], 3)],
        "id string, shingles array<bigint>, simhash bigint",
    ).cache()
    feats.count()
    pairs = spark.createDataFrame(
        [("d1", "d2", "minhash_lsh"), ("d1", "d3", "simhash")],
        "a string, b string, channel string",
    )
    cfg = DedupConfig(jaccard_threshold=0.4)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # no size-based auto-broadcast: only the gate's hint can broadcast
    with session_confs({"spark.sql.autoBroadcastJoinThreshold": "-1",
                        "spark.sql.adaptive.enabled": "false"}, spark):
        measured = verify_jaccard_hamming(pairs, feats, cfg, eager=False)
        assert "BroadcastHashJoin" in plan(measured)
        expect = _rows(measured)

        feats._jdf = _NoStats(feats._jdf)
        assert measured_size_bytes(feats) is None
        declined = verify_jaccard_hamming(pairs, feats, cfg, eager=False)
        assert "BroadcastHashJoin" not in plan(declined)
        assert _rows(declined) == expect
    feats._jdf = feats._jdf._real
    feats.unpersist()
