"""Round-6 A/B harness: run one dedup workload under a config overlay
and report wall + stage walls + event-log task/stage counts.

Usage:
  python bench/ab_conf.py transcript            # baseline confs
  python bench/ab_conf.py transcript aqe_cache  # named overlay
Overlays are defined in OVERLAYS below; results print as one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
EVDIR = "/tmp/evlog"

OVERLAYS: dict[str, dict[str, str]] = {
    "base": {},
    # AQE optimizes cached-plan partitioning too: repartition(col).cache()
    # no longer pins spark.sql.shuffle.partitions tasks into every
    # downstream scan — partitions are coalesced by size. The session
    # keeps the Spark default (false), so this is the live counterfactual
    # (see ab_rung.py cachedpart_on — at the 554k rung the true setting
    # re-exchanges the full bucket tables once per pairs_from_buckets
    # leg, 4.7 GB vs 1.8 GB written).
    "aqe_cache": {
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    },
    # ... plus size-respecting coalescing (guide §2.2): tiny shuffles
    # collapse to few tasks instead of stopping at defaultParallelism.
    "aqe_cache_sz": {
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    },
    "aqe_cache_sz64": {
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    },
    "shm": {
        "spark.local.dir": "/dev/shm/hsip-spark-ab",
    },
    "shm_aqe16": {
        "spark.local.dir": "/dev/shm/hsip-spark-ab",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    },
    "shm_aqe16_shj": {
        "spark.local.dir": "/dev/shm/hsip-spark-ab",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        "spark.sql.join.preferSortMergeJoin": "false",
    },
    "shm_aqeparallel": {
        "spark.local.dir": "/dev/shm/hsip-spark-ab",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    },
    "nocomp": {
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
    },
    "noaqe16": {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "16",
    },
    "noaqe16_nocomp": {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "16",
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
    },
    "noaqe32_nocomp": {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "32",
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
    },
    "noaqe8_nocomp": {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
    },
    "noaqe4_nocomp": {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "4",
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
    },
    "shj": {
        "spark.sql.join.preferSortMergeJoin": "false",
    },
    "all16": {
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        "spark.sql.join.preferSortMergeJoin": "false",
    },
}


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "transcript"
    overlay_name = sys.argv[2] if len(sys.argv) > 2 else "base"
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    overlay = dict(OVERLAYS[overlay_name])
    overlay["spark.eventLog.enabled"] = "true"
    overlay["spark.eventLog.dir"] = EVDIR
    os.makedirs(EVDIR, exist_ok=True)

    from hsip.session import get_spark

    spark = get_spark(
        app_name=f"ab-{which}-{overlay_name}",
        master=f"local[{CPUS}]",
        extra_conf=overlay,
    )
    app_id = spark.sparkContext.applicationId
    from hsip import schemas
    from hsip.config import DedupConfig
    from hsip.pipeline import run_documents, run_transcripts

    walls, stages_out = [], {}
    for r in range(runs):
        spark.catalog.clearCache()
        if which == "transcript":
            tpath = os.path.join(REPO, ".bench_cache", "transcripts_n2000")
            turns = spark.read.schema(schemas.TRANSCRIPTS).parquet(tpath)
            turns.cache().count()
            t0 = time.time()
            res = run_transcripts(spark, turns, DedupConfig())
            walls.append(round(time.time() - t0, 3))
            turns.unpersist()
        else:
            docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
            t0 = time.time()
            res = run_documents(spark, docs, "doc_id", "text",
                                DedupConfig(jaccard_threshold=0.7))
            walls.append(round(time.time() - t0, 3))
        stages_out = res.stats.get("stage_walls", {})
        n_clusters = res.clusters.select("cluster_id").distinct().count()
    spark.stop()

    n_jobs = n_stages = n_tasks = 0
    shufwrite_s = 0.0
    path = os.path.join(EVDIR, app_id)
    paths = [path]
    if not os.path.exists(path):
        d = os.path.join(EVDIR, f"eventlog_v2_{app_id}")
        paths = []
        for p in sorted(os.listdir(d)):
            if not p.startswith("events_"):
                continue
            full = os.path.join(d, p)
            if p.endswith(".zstd"):
                import subprocess

                out = full[: -len(".zstd")] + ".json"
                subprocess.run(["zstd", "-d", "-f", "-q", full, "-o", out],
                               check=True)
                full = out
            paths.append(full)
    for p in paths:
        with open(p) as f:
            for line in f:
                ev = json.loads(line)
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    n_jobs += 1
                elif e == "SparkListenerStageCompleted":
                    n_stages += 1
                    n_tasks += ev["Stage Info"]["Number of Tasks"]
                elif e == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    shufwrite_s += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Write Time", 0
                    ) / 1e9
    print(json.dumps({
        "which": which, "overlay": overlay_name, "walls": walls,
        "min_wall": min(walls), "stage_walls_last": stages_out,
        "n_clusters": n_clusters,
        "jobs": n_jobs, "stages": n_stages, "tasks": n_tasks,
        "shufwrite_s": round(shufwrite_s, 1),
    }))


if __name__ == "__main__":
    main()
