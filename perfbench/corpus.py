"""Seeded file corpora for the benchmark workloads, each with its planted truth.

Every file is a base, or an exact or near copy of one. Bases are drawn
independently from a shared pool of random code lines: two bases share only
the odd single line by chance, never a run of consecutive lines, so no
blocking pass links them and their shingle Jaccard is near zero. A near copy
replaces 2-6% of the lines of the file it copies, which keeps it far above
every verification threshold. The planted partition -- one cluster per base --
is therefore the partition the engine must return.

All randomness comes from one ``numpy`` generator seeded by the caller, so the
same seed always yields the same files and truth.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

LANGS = ("python", "java", "javascript", "go", "c")
EXT = {"python": "py", "java": "java", "javascript": "js", "go": "go", "c": "c"}
_KW = np.array(["let", "var", "def", "fn", "set", "val", "const", "mut"])
_FNS = np.array(["map", "fold", "join", "scan", "emit", "read", "walk", "pack",
                 "sort", "mask"])
MEAN_LINES = 150   # lines per file, on average


@dataclass
class Corpus:
    files: pd.DataFrame   # repo, path, commit, lang, content (one row per file)
    truth: np.ndarray     # planted cluster label of each row


class _Maker:
    """Accumulates files and their planted labels."""

    def __init__(self, rng: np.random.Generator, n_files: int):
        self.rng = rng
        # 40 pool lines per file: two bases of ~150 lines share well under
        # one line on average, so independent bases stay unrelated
        pool_n = max(n_files * 40, 40_000)
        self.pool = (
            pd.Series(_KW[rng.integers(0, len(_KW), pool_n)])
            + " "
            + pd.Series(_FNS[rng.integers(0, len(_FNS), pool_n)]).str.cat(
                pd.Series(rng.integers(0, 1_000_000, pool_n)).astype(str),
                sep="_")
            + " = "
            + pd.Series(_FNS[rng.integers(0, len(_FNS), pool_n)]).str.cat(
                pd.Series(rng.integers(0, 100_000, pool_n)).astype(str),
                sep="(")
            + ")"
        ).to_numpy()
        self.lines: list[list[str]] = []
        self.labels: list[int] = []

    def base(self, label: int) -> int:
        n = int(self.rng.integers(MEAN_LINES // 2, MEAN_LINES * 3 // 2))
        idx = self.rng.integers(0, len(self.pool), n)
        return self._add(list(self.pool[idx]), label)

    def exact(self, of: int) -> int:
        return self._add(self.lines[of], self.labels[of])

    def near(self, of: int, frac: tuple = (0.02, 0.06)) -> int:
        """A copy of file `of` with a share of its lines drawn from `frac`
        (at least one line) replaced by pool lines."""
        out = list(self.lines[of])
        n_mut = max(1, int(len(out) * self.rng.uniform(*frac)))
        for j in self.rng.choice(len(out), n_mut, replace=False):
            out[j] = str(self.pool[int(self.rng.integers(0, len(self.pool)))])
        return self._add(out, self.labels[of])

    def _add(self, lines: list[str], label: int) -> int:
        self.lines.append(lines)
        self.labels.append(label)
        return len(self.lines) - 1

    def corpus(self) -> Corpus:
        """Shuffle the files and give each a unique path."""
        perm = self.rng.permutation(len(self.lines))
        rows = range(len(perm))
        langs = [LANGS[int(p) % len(LANGS)] for p in perm]
        files = pd.DataFrame({
            "repo": [f"org{r % 17}/repo{r % 211}" for r in rows],
            "path": [f"src/m{r % 29}/f{r}.{EXT[lang]}"
                     for r, lang in zip(rows, langs)],
            "commit": [f"{int(self.rng.integers(0, 1 << 62)):040x}" for _ in rows],
            "lang": langs,
            "content": ["\n".join(self.lines[p]) for p in perm],
        })
        return Corpus(files, np.asarray(self.labels, dtype=np.int64)[perm])


def full_batch(n_files: int, seed: int) -> Corpus:
    """70% independent bases, 12% exact copies (a hot cluster of 5% of the
    corpus among them), 18% near copies of random bases."""
    b = _Maker(np.random.default_rng(seed), n_files)
    n_base = int(n_files * 0.70)
    for i in range(n_base):
        b.base(i)
    n_hot = int(n_files * 0.05)
    for i in range(int(n_files * 0.12)):
        b.exact(0 if i < n_hot else int(b.rng.integers(0, n_base)))
    while len(b.lines) < n_files:
        b.near(int(b.rng.integers(0, n_base)))
    return b.corpus()


def dup_dense(n_files: int, seed: int, hot_family: int = 120) -> Corpus:
    """5% bases; `hot_family` variants of one base, each with one line
    replaced, so most of the family shares each LSH bucket and every pair of
    it reaches verify (at the default 120 the buckets stay under the
    engine's bucket_cap of 256; more than ~280 takes the hot-bucket path);
    near-duplicate chains, each link mutated from the previous one, over 20%
    of the corpus; exact copies of any earlier file (a hot cluster of 5% of
    the corpus among them) fill the rest. About 31% of the files are
    distinct content."""
    b = _Maker(np.random.default_rng(seed), n_files)
    n_base = max(2, int(n_files * 0.05))
    for i in range(n_base):
        b.base(i)
    for _ in range(hot_family):
        b.near(1, frac=(0.0, 0.0))
    n_chain = int(n_files * 0.20)
    while n_chain > 0:
        link = int(b.rng.integers(2, n_base))
        for _ in range(min(n_chain, int(b.rng.integers(4, 13)))):
            link = b.near(link)
            n_chain -= 1
    n_hot = int(n_files * 0.05)
    for _ in range(n_hot):
        b.exact(0)
    while len(b.lines) < n_files:
        b.exact(int(b.rng.integers(0, len(b.lines))))
    return b.corpus()


def same_partition(a: np.ndarray, b: np.ndarray) -> bool:
    """True iff the two label arrays group the rows identically."""
    if len(a) != len(b):
        return False
    pairs = len(set(zip(a.tolist(), b.tolist())))
    return pairs == len(set(a.tolist())) == len(set(b.tolist()))
