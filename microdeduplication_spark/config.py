"""Pipeline configuration.

One frozen dataclass carries every tunable of the dedup pipeline so that the
"identical shingle/signature config" reproducibility requirement
(BASELINE.json north_rule) is a single value-equality check.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling -------------------------------------------------------
    # token k-shingles over normalized content; tokens are [A-Za-z0-9_]+ runs
    shingle_k: int = 5

    # --- MinHash / LSH ---------------------------------------------------
    num_perms: int = 128
    lsh_bands: int = 32          # bands * rows_per_band == num_perms
    rows_per_band: int = 4
    # detection prob at jaccard s: 1 - (1 - s^r)^b ; s=0.7,r=4,b=32 -> 0.9998

    # --- SimHash ---------------------------------------------------------
    simhash_bits: int = 64
    simhash_tables: int = 4      # split 64 bits into 4 x 16-bit blocks
    # probe keys are CONCATENATIONS of `simhash_block_combo` distinct blocks
    # (all C(tables, combo) combinations). Pigeonhole guarantee: at Hamming
    # distance h, at most h blocks are dirty, so a fully-clean combo exists
    # whenever h <= tables - combo -- every such pair shares >= 1 bucket.
    # combo=1 is classic block probing (16-bit keys, h <= 3). The 10^12-file
    # preset is tables=8, combo=4: 70 probes/file, 32-bit keys (~230 rows
    # per bucket at 10^12 files -- under bucket_cap), guarantee h <= 4.
    simhash_block_combo: int = 1
    hamming_threshold: int = 3   # must be <= simhash_tables - simhash_block_combo

    # --- substring (windowed line-hash fingerprint) pass -----------------
    substr_window: int = 8       # consecutive normalized lines per fingerprint
    # winnowing selection window (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    # keep only the MIN fingerprint of each run of `substr_winnow`
    # consecutive window fingerprints. Density drops to ~2/(winnow+1) of
    # the full stream while any shared run of
    #     substr_window + substr_winnow - 1   (= 11 lines at defaults)
    # consecutive normalized lines is still GUARANTEED to share a selected
    # fingerprint (a full selection window fits inside the shared run, and
    # min over identical contents picks identical values). 1 disables.
    substr_winnow: int = 4
    containment_threshold: float = 0.6   # |A cap B| / min(|A|,|B|) on line sets

    # --- verification / clustering --------------------------------------
    jaccard_threshold: float = 0.7

    # --- skew / scale knobs ----------------------------------------------
    # LSH buckets larger than this are salted into sub-buckets before the
    # self-join (north_rule: "salted keys and AQE-driven repartitioning").
    bucket_cap: int = 256
    # buckets larger than this are dropped entirely (degenerate bands --
    # near-empty shingle sets); the count is reported in stage metrics.
    bucket_drop: int = 20000

    # --- determinism ------------------------------------------------------
    seed: int = 42

    def __post_init__(self) -> None:
        if self.lsh_bands * self.rows_per_band != self.num_perms:
            raise ValueError(
                f"lsh_bands*rows_per_band ({self.lsh_bands}*{self.rows_per_band}) "
                f"must equal num_perms ({self.num_perms})"
            )
        if self.simhash_bits % self.simhash_tables != 0:
            raise ValueError("simhash_bits must divide evenly into simhash_tables")
        if not (1 <= self.simhash_block_combo <= self.simhash_tables):
            raise ValueError("simhash_block_combo must be in [1, simhash_tables]")
        if self.hamming_threshold > self.simhash_tables - self.simhash_block_combo:
            raise ValueError(
                f"hamming_threshold {self.hamming_threshold} exceeds the "
                f"pigeonhole guarantee of {self.simhash_tables} blocks with "
                f"combo {self.simhash_block_combo} "
                f"(max {self.simhash_tables - self.simhash_block_combo})"
            )

    @property
    def simhash_band_bits(self) -> int:
        return self.simhash_bits // self.simhash_tables

    def to_dict(self) -> dict:
        return asdict(self)

