"""Seeded workload inputs, generated once per (seed, n_base) and cached.

The engine only ever sees the parquet files written here: the full turn
table, and conv-disjoint splits of it into waves for the ingest path.
"""

from __future__ import annotations

import heapq
import os
import shutil
from dataclasses import dataclass

import numpy as np


@dataclass
class Corpus:
    root: str
    seed: int
    n_base: int
    n_turns: int
    n_convs: int

    @property
    def turns_path(self) -> str:
        return os.path.join(self.root, "turns.parquet")

    @property
    def truth_path(self) -> str:
        return os.path.join(self.root, "truth.parquet")

    def waves(self, parts: int) -> list[tuple[str, int]]:
        """(file, turns) of each wave when the corpus is split ``parts``
        ways. Each conversation lands in exactly one wave: largest first
        (ties in a seeded random order), each to the wave with the fewest
        turns so far, so waves hold about equal turn counts whatever the
        seed, and one long conversation cannot tip a wave's size."""
        wdir = os.path.join(self.root, f"waves{parts}")
        if not os.path.exists(os.path.join(wdir, "_SUCCESS")):
            import pandas as pd

            pdf = pd.read_parquet(self.turns_path)
            pdf["ts"] = pdf["ts"].astype("datetime64[us]")
            sizes = pdf.groupby("conv_id").size().sort_index()
            order = np.random.default_rng(self.seed).permutation(len(sizes))
            loads = [(0, w) for w in range(parts)]  # (turns so far, wave)
            wave_of = {}
            for cid, n in sizes.iloc[order].sort_values(
                    ascending=False, kind="stable").items():
                load, w = heapq.heappop(loads)
                wave_of[cid] = w
                heapq.heappush(loads, (load + n, w))
            tmp = wdir + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            for w, part in pdf.groupby(pdf["conv_id"].map(wave_of), sort=True):
                part.to_parquet(os.path.join(tmp, f"wave{w:03d}.parquet"),
                                index=False)
            open(os.path.join(tmp, "_SUCCESS"), "w").close()
            shutil.rmtree(wdir, ignore_errors=True)
            os.rename(tmp, wdir)
        import pyarrow.parquet as pq

        files = sorted(f for f in os.listdir(wdir) if f.endswith(".parquet"))
        return [(os.path.join(wdir, f),
                 pq.ParquetFile(os.path.join(wdir, f)).metadata.num_rows)
                for f in files]


def load(cache_dir: str, seed: int, n_base: int) -> Corpus:
    """The corpus for (seed, n_base), generating it on a cache miss."""
    import pyarrow.parquet as pq

    root = os.path.join(cache_dir, f"s{seed}-n{n_base}")
    if not os.path.exists(os.path.join(root, "_SUCCESS")):
        from hsip.fixtures.gen import gen_transcripts

        gen = gen_transcripts(seed=seed, n_base=n_base)
        pdf = gen.transcripts
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark reads us, not ns
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pdf.to_parquet(os.path.join(tmp, "turns.parquet"), index=False)
        gen.truth.to_parquet(os.path.join(tmp, "truth.parquet"), index=False)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
    return Corpus(
        root=root, seed=seed, n_base=n_base,
        n_turns=pq.ParquetFile(os.path.join(root, "turns.parquet")).metadata.num_rows,
        n_convs=pq.ParquetFile(os.path.join(root, "truth.parquet")).metadata.num_rows,
    )
