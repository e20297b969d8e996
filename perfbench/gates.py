"""Correctness gates. Each returns a list of failure messages; empty
means the output passed."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MIN_RECALL = 0.99


def label_checksum(clusters: DataFrame) -> str:
    """sum(xxhash64(id, cluster_id)) over the label table, exact.

    Decimal, because ANSI mode rejects the overflowing long sum."""
    return clusters.agg(
        F.sum(F.xxhash64("id", "cluster_id").cast("decimal(38,0)")).cast("string")
    ).collect()[0][0]


def pair_quality(clusters: DataFrame, truth: DataFrame) -> tuple[float, float]:
    """(recall, precision) of within-cluster pairs against planted truth."""
    from hsip.fixtures.gen import truth_pairs
    from hsip.recall import cluster_pairs, evaluate_pairs

    ev, _missed = evaluate_pairs(cluster_pairs(clusters), truth_pairs(truth))
    return ev.recall, ev.precision


def recall_gate(recall: float) -> list[str]:
    if recall < MIN_RECALL:
        return [f"pair recall {recall:.6f} < {MIN_RECALL}"]
    return []


class ChecksumBook:
    """Label checksums per (workload, seed, n_base): known reference
    values, plus every checksum seen in this checkout, so a later run of
    the same seed must reproduce the first one."""

    def __init__(self, path: str, known: dict[str, str]):
        self.path = path
        self.known = known

    def _seen(self) -> dict[str, str]:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def check(self, key: str, checksum: str) -> list[str]:
        seen = self._seen()
        ref = self.known.get(key) or seen.get(key)
        if ref is None:
            seen[key] = checksum
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(seen, f, indent=1, sort_keys=True)
            os.replace(tmp, self.path)
            return []
        if checksum != ref:
            return [f"label checksum {checksum} != {ref} for {key}"]
        return []


def label_mismatches(ours: DataFrame, ref: DataFrame) -> int:
    """Ids whose cluster label differs between two label tables, or that
    only one of them has."""
    a = ours.select("id", F.col("cluster_id").alias("x"))
    b = ref.select("id", F.col("cluster_id").alias("y"))
    return a.join(b, "id", "full_outer").filter(~F.col("x").eqNullSafe(F.col("y"))).count()


def labels_gate(ours: DataFrame, ref: DataFrame, what: str) -> list[str]:
    n = label_mismatches(ours, ref)
    return [f"{what}: {n} ids labelled differently"] if n else []


def one_row_per_conv_gate(features: DataFrame, n_convs: int) -> list[str]:
    row = features.agg(F.count(F.lit(1)).alias("n"),
                       F.countDistinct("id").alias("d")).collect()[0]
    if row["n"] == row["d"] == n_convs:
        return []
    return [f"index.features holds {row['n']} rows for {row['d']} ids, "
            f"expected one per conv ({n_convs})"]
