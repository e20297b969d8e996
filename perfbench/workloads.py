"""Workload definitions, the Spark session, and the untraced end-to-end
measurement with its correctness gates."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, replace

from perfbench import gates, host

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


@dataclass(frozen=True)
class Workload:
    kind: str             # "batch": run_transcripts; "ingest": run_incremental_ingest
    n_base: int           # gen_transcripts(seed, n_base)
    force_eager: bool = False
    waves: int = 0        # ingest: conv-disjoint waves streamed in a closed loop
    trace_parts: int = 0  # split whose first three waves the traced run streams


WORKLOADS = {
    # below eager_barrier_min_docs: AQE off, derived shuffle width,
    # dozens of tiny exchanges, so planning and job round-trips dominate
    "latency-57k": Workload("batch", n_base=2000, trace_parts=24),
    # two waves of ~3k turns: the first (the warm-up) seeds the index, the
    # second is timed against it. One timed wave is all the run budget
    # allows, and more per run would not steady it: wave walls vary far
    # more between runs than within one. The traced run streams the
    # corpus as three waves.
    "ingest-waves": Workload("ingest", n_base=200, waves=2, trace_parts=3),
    # the eager regime: kernel- and shuffle-bound. At its full size one
    # run needs ~11 GB and several minutes, so it is run by hand and is
    # not among the workloads in BENCHMARK.json.
    "scale-554k": Workload("batch", n_base=20000, force_eager=True, trace_parts=96),
}

# the workloads BENCHMARK.json lists and ``--workload all`` runs
DEFAULT_WORKLOADS = ("latency-57k", "ingest-waves")

# Label checksums at seed 42 with the unmodified engine (r06 evidence).
# "mh:" keys are the channels=("minhash_lsh",) batch run that the ingest
# gate compares the stream's labels with.
KNOWN_CHECKSUMS = {
    "latency-57k:s42:n2000": "-37914873352121706590",
    "scale-554k:s42:n20000": "-723234806530433293187",
    "mh:s42:n2000": "-83193501024855496152",
}

# the traced run's figure for the call that call_p50_s times untraced
TRACED_CALL = {
    "batch": "pipeline.run_transcripts.wall_s",
    "ingest": "streaming.run_incremental_ingest.wave_p50_s",
}

END_TO_END = {
    "turns_per_s": "turns/s",
    "call_p50_s": "s",
    "cpu_s_per_mturn": "s/Mturn",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

WARM_PARTS = 20  # the warm-up call runs on one twentieth of the corpus


def sized(wl: Workload, n_base: int | None) -> Workload:
    return wl if n_base is None else replace(wl, n_base=n_base)


def cfg(wl: Workload):
    from hsip.config import DedupConfig

    return DedupConfig(eager_barrier_min_docs=1) if wl.force_eager else DedupConfig()


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def prepare_env(run_dir: str) -> None:
    """Engine settings from outside the engine, before the JVM starts: a
    heap sized to this host, shuffle scratch and temp files under
    ``run_dir``, Python workers that import this checkout's hsip."""
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ.update({
        "HSIP_DRIVER_MEM": os.environ.get("HSIP_DRIVER_MEM") or host.driver_mem(),
        "HSIP_LOCAL_DIR": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM, the spark-submit launcher included
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    os.environ.pop("HSIP_MASTER", None)


def start_session(run_dir: str, event_log: str | None = None):
    from hsip.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        # the whole heap committed and touched at JVM start: otherwise
        # its resident size follows when the collector chose to grow it,
        # which moves peak memory more than the work does
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['HSIP_DRIVER_MEM']} -XX:+AlwaysPreTouch",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="hsip-perfbench", master=f"local[{host.nproc()}]",
                     extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None  # a later session relaunches
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 20
    while len(host.tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in host.tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def read_turns(spark, path: str):
    from hsip import schemas

    return spark.read.schema(schemas.TRANSCRIPTS).parquet(path)


def warm_batch(spark, wl: Workload, corpus) -> None:
    """Untimed run_transcripts call on a small slice of the corpus."""
    from hsip.pipeline import run_transcripts

    path, _ = corpus.waves(WARM_PARTS)[0]
    run_transcripts(spark, read_turns(spark, path), cfg(wl))
    spark.catalog.clearCache()


def stream_wave(spark, wl: Workload, d: dict[str, str], path: str) -> None:
    """One wave arrives: its file lands in the input dir and one
    run_incremental_ingest call drains it into the warehouse."""
    from hsip.streaming import run_incremental_ingest

    shutil.copy(path, d["in"])
    run_incremental_ingest(spark, d["in"], d["wh"], d["ckpt"], cfg(wl))


def ingest_dirs(run_dir: str, tag: str) -> dict[str, str]:
    """Fresh input, warehouse and streaming-checkpoint dirs."""
    d = {k: os.path.join(run_dir, tag, k) for k in ("in", "wh", "ckpt")}
    os.makedirs(d["in"])
    return d


def checksum_book() -> gates.ChecksumBook:
    return gates.ChecksumBook(os.path.join(WORK, "checksums.json"), KNOWN_CHECKSUMS)


def batch_key(name: str, corpus) -> str:
    return f"{name}:s{corpus.seed}:n{corpus.n_base}"


# ---------------------------------------------------------------------------
# end-to-end measurement
# ---------------------------------------------------------------------------

class Window:
    """One timed entry-point call: wall time and process-tree CPU time."""

    def __enter__(self) -> "Window":
        self.cpu0 = host.tree_cpu_s(os.getpid())
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self.t0
        self.cpu_s = host.tree_cpu_s(os.getpid()) - self.cpu0


def batch_gates(name, corpus, clusters, truth) -> tuple[list[str], float, float]:
    errs = checksum_book().check(batch_key(name, corpus), gates.label_checksum(clusters))
    recall, precision = gates.pair_quality(clusters, truth)
    return errs + gates.recall_gate(recall), recall, precision


def measure_batch(spark, name, wl, corpus, seconds, truth) -> list[dict]:
    """run_transcripts, repeated until ``seconds`` have been measured."""
    from hsip.pipeline import run_transcripts

    turns = read_turns(spark, corpus.turns_path)
    calls: list[dict] = []
    while not calls or sum(c["wall_s"] for c in calls) < seconds:
        spark.catalog.clearCache()
        turns.cache().count()  # input read excluded, as in bench.py
        with Window() as w:
            # clusters and representatives are materialized on return
            res = run_transcripts(spark, turns, cfg(wl))
        errs, recall, precision = batch_gates(name, corpus, res.clusters, truth)
        calls.append({"wall_s": w.wall_s, "cpu_s": w.cpu_s,
                      "turns": corpus.n_turns, "recall": recall,
                      "precision": precision, "errors": errs})
    return calls


def measure_ingest(spark, wl, corpus, waves, d, truth) -> list[dict]:
    """``waves`` streamed one at a time into the warehouse in ``d``
    (closed loop: a wave arrives once the last is done). The gates run
    once, after the last wave, and judge every wave."""
    from hsip.catalog import Catalog

    calls = []
    for path, n in waves:
        with Window() as w:
            stream_wave(spark, wl, d, path)
        calls.append({"wall_s": w.wall_s, "cpu_s": w.cpu_s, "turns": n})
    errs, recall, precision = ingest_gates(spark, wl, Catalog(spark, d["wh"]),
                                           corpus, truth)
    for c in calls:
        c.update(recall=recall, precision=precision, errors=errs)
    return calls


def minhash_labels(spark, wl, corpus):
    """Labels of a channels=("minhash_lsh",) batch run over the corpus,
    computed once per corpus in this checkout and kept beside it."""
    from hsip.pipeline import run_transcripts

    path = os.path.join(corpus.root, "mh_labels.parquet")
    if os.path.exists(path):
        return spark.read.parquet(path), []
    ref = run_transcripts(spark, read_turns(spark, corpus.turns_path), cfg(wl),
                          channels=("minhash_lsh",)).clusters
    errs = checksum_book().check(f"mh:s{corpus.seed}:n{corpus.n_base}",
                                 gates.label_checksum(ref))
    if not errs:
        ref.write.parquet(path + ".tmp", mode="overwrite")
        os.rename(path + ".tmp", path)
    return ref, errs


def ingest_gates(spark, wl, catalog, corpus, truth):
    """The index holds one row per conv, and connected components over
    the stream's accepted pairs label every conv as a minhash-only batch
    run over the same corpus does."""
    from hsip.cc import assign_clusters

    feats = catalog.read("index.features")
    errs = gates.one_row_per_conv_gate(feats, corpus.n_convs)
    pairs = catalog.read("stream.verified").select("a", "b")
    ours = assign_clusters(feats.select("id"), pairs).localCheckpoint(eager=True)
    ref, ref_errs = minhash_labels(spark, wl, corpus)
    errs += ref_errs + gates.labels_gate(ours, ref, "stream labels vs minhash batch labels")
    recall, precision = gates.pair_quality(ours, truth)
    return errs, recall, precision


def end_to_end(calls: list[dict], setup_s: float, peak_mb: float) -> dict:
    walls = [c["wall_s"] for c in calls]
    turns = sum(c["turns"] for c in calls)
    vals = {
        "turns_per_s": turns / sum(walls),
        "call_p50_s": statistics.median(walls),
        "cpu_s_per_mturn": sum(c["cpu_s"] for c in calls) / (turns / 1e6),
        "peak_rss_mb": peak_mb,
        "setup_s": setup_s,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def run_untraced(args, name, wl, run_dir, t_setup) -> dict:
    from perfbench import corpus as corpora

    marks = {"start": t_setup}
    # memory over the whole run: the JVM heap grows when it likes, so a
    # peak over one call depends on timing more than on the work
    with host.PeakMemory(os.getpid()) as mem:
        spark = start_session(run_dir)
        marks["session"] = time.perf_counter()
        try:
            corpus = corpora.load(os.path.join(WORK, "corpus"), args.seed, wl.n_base)
            marks["corpus"] = time.perf_counter()
            if wl.kind == "batch":
                warm_batch(spark, wl, corpus)
            else:
                # the first wave is the warm-up: untimed, but it seeds the index
                waves = corpus.waves(wl.waves)
                d = ingest_dirs(run_dir, "ingest")
                stream_wave(spark, wl, d, waves[0][0])
            marks["warmup"] = time.perf_counter()
            setup_s = marks["warmup"] - t_setup
            truth = spark.read.parquet(corpus.truth_path)
            if wl.kind == "batch":
                calls = measure_batch(spark, name, wl, corpus, args.seconds, truth)
            else:
                calls = measure_ingest(spark, wl, corpus, waves[1:], d, truth)
            marks["measure+gates"] = time.perf_counter()
        finally:
            stop_session(spark)
    marks["stop"] = time.perf_counter()
    failed = sum(bool(c["errors"]) for c in calls)
    return {
        "correct": failed == 0,
        "attempted": len(calls),
        "failed": failed,
        "metrics": end_to_end(calls, setup_s, mem.peak_mb),
        "workload": name, "seed": args.seed, "n_base": wl.n_base,
        "errors": sorted({e for c in calls for e in c["errors"]}),
        "call_walls_s": [round(c["wall_s"], 3) for c in calls],
        # gated (recall), or reported only: both move with the seed's
        # corpus, so neither can carry a bound (see README.md)
        "pair_recall": [c["recall"] for c in calls],
        "pair_precision": [c["precision"] for c in calls],
        "phases_s": phases(marks),
    }


def phases(marks: dict[str, float]) -> dict[str, float]:
    """Seconds spent in each phase, from consecutive time marks."""
    names = list(marks)
    return {b: round(marks[b] - marks[a], 3) for a, b in zip(names, names[1:])}
