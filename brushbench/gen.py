"""Seeded input generators for the benchmark workloads.

Every input is a pure function of the workload seed (numpy PCG64): the
same seed writes byte-identical files, a different seed different ones
(pinned by ``selftest.py``).  The engine only ever sees files — ``.sfa``
reads and parquet tables — and the benchmark keeps the ground truth
(genome haplotypes, read origins, source texts) in memory
for the output checks.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

BASES = np.array(list("ACGT"))
_COMP = str.maketrans("ACGT", "TGCA")

K = 21          # overlap seed, as in the reference invocation
READLEN = 36


def rc(s: str) -> str:
    return s.translate(_COMP)[::-1]


def _seq(rng: np.random.Generator, n: int) -> str:
    return "".join(BASES[rng.integers(0, 4, size=n)])


def _mutate(rng: np.random.Generator, s: str, rate: float) -> str:
    """Substitute each base with probability ``rate`` (always to a
    different base)."""
    hit = np.nonzero(rng.random(len(s)) < rate)[0]
    if not len(hit):
        return s
    b = list(s)
    for i, shift in zip(hit, rng.integers(1, 4, size=len(hit))):
        b[i] = "ACGT"[("ACGT".index(b[i]) + int(shift)) % 4]
    return "".join(b)


@dataclass
class Reads:
    """A simulated read set plus its ground truth.

    ``origin[read_id] = (hap, start, is_rc, error_free)`` for every read
    sampled from the genome; the FIXTURES F1 edge-case reads have no
    origin entry."""
    haps: list[str]
    repeats: list[tuple[int, int]]          # [start, end) planted copies
    snps: list[int]
    records: list[tuple[str, str]]
    origin: dict = field(default_factory=dict)

    def write_sfa(self, path: str) -> None:
        with open(path, "w") as fh:
            fh.writelines(f"{rid}\t{seq}\n" for rid, seq in self.records)


def _sample_reads(rng, haps, n, err, prefix="r"):
    recs, origin = [], {}
    L = len(haps[0])
    hap = rng.integers(0, len(haps), size=n)
    start = rng.integers(0, L - READLEN + 1, size=n)
    flip = rng.random(n) < 0.5
    for i in range(n):
        h, s, f = int(hap[i]), int(start[i]), bool(flip[i])
        true = haps[h][s:s + READLEN]
        seq = _mutate(rng, true, err)
        rid = f"{prefix}{i}"
        recs.append((rid, rc(seq) if f else seq))
        origin[rid] = (h, s, f, seq == true)
    return recs, origin


def assembly_reads(seed: int, genome_len: int = 1200, n_reads: int = 1600,
                   repeat_len: int = 120, n_snps: int = 3,
                   err: float = 0.01) -> Reads:
    """Two-haplotype genome with one planted repeat and ``n_snps`` SNPs
    between the haplotypes; reads at ``err`` substitution rate, half
    reverse-complemented, plus the FIXTURES F1 edge cases: reads of length
    <= K (dropped by dedup), reads with non-ACGT characters (skipped),
    lower-case reads, exact and reverse-complement duplicates."""
    rng = np.random.default_rng([seed, 1])
    g = list(_seq(rng, genome_len))
    unit = _seq(rng, repeat_len)
    half = genome_len // 2
    p1 = int(rng.integers(200, half - repeat_len - 100))
    p2 = int(rng.integers(half + 100, genome_len - repeat_len - 200))
    for p in (p1, p2):
        g[p:p + repeat_len] = unit
    hap_a = "".join(g)
    # SNPs outside the repeat copies, at least a read length apart
    snps: list[int] = []
    while len(snps) < n_snps:
        p = int(rng.integers(READLEN, genome_len - READLEN))
        if any(a - READLEN <= p < b + READLEN for a, b in
               ((p1, p1 + repeat_len), (p2, p2 + repeat_len))):
            continue
        if any(abs(p - q) < 2 * READLEN for q in snps):
            continue
        snps.append(p)
    b = list(hap_a)
    for p in snps:
        b[p] = "ACGT"[("ACGT".index(b[p]) + 1 + int(rng.integers(0, 3))) % 4]
    haps = [hap_a, "".join(b)]
    recs, origin = _sample_reads(rng, haps, n_reads, err)
    extra = []
    pick = lambda: recs[int(rng.integers(0, len(recs)))][1]  # noqa: E731
    for i in range(20):   # length <= K: dropped (GenNonContainedReads:110)
        extra.append((f"short{i}", pick()[:int(rng.integers(8, K + 1))]))
    for i in range(20):   # non-ACGT: skipped (GenNonContainedReads:102)
        s = pick()
        j = int(rng.integers(0, READLEN))
        extra.append((f"nbase{i}", s[:j] + "N" + s[j + 1:]))
    for i in range(20):   # lower case: upper-cased by the reader
        extra.append((f"lower{i}", pick().lower()))
    for i in range(40):   # exact and rc duplicates: dedup targets
        s = pick()
        extra.append((f"dup{i}", s if i % 2 else rc(s)))
    return Reads(haps, [(p1, p1 + repeat_len), (p2, p2 + repeat_len)],
                 sorted(snps), recs + extra, origin)


def _gen_scale_fixture():
    """``scripts/gen_scale_fixture.py`` of the repo, imported as-is."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "scripts", "gen_scale_fixture.py")
    spec = importlib.util.spec_from_file_location("gen_scale_fixture", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def documents(seed: int, outdir: str, n: int = 2000) -> dict[int, str]:
    """The scale fixture's document table (``documents.parquet`` in
    ``outdir``); returns ``doc_id -> text`` for the checks."""
    os.makedirs(outdir, exist_ok=True)
    mod = _gen_scale_fixture()
    import contextlib
    import io
    with contextlib.redirect_stdout(io.StringIO()):
        mod.gen_documents(outdir, n, np.random.default_rng([seed, 3]))
    t = pq.read_table(os.path.join(outdir, "documents.parquet"),
                      columns=["doc_id", "text"])
    return dict(zip(t.column("doc_id").to_pylist(),
                    t.column("text").to_pylist()))


def digest(path: str) -> str:
    """md5 over every file under ``path`` (sorted), for the determinism
    test."""
    h = hashlib.md5()
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
