"""Output checks, computed in plain Python from generator ground truth.

Each check is a soundness property the engine's own tests already pin,
so a failed check means an engine fault, not a quality shortfall:

- FASTA read-back equals the contig table (``sources/fasta.write_fasta``);
- the engine's N50 / top-10 / genome-target N50 equal a Python
  recomputation (``tests/test_report.py``, FIXTURES F5);
- the longest contig is >= 90% window-identical to the genome
  (``tests/test_golden_ec10k.py``);
- every overlap edge passes the suffix/prefix check, edges are symmetric
  and ``k <= ov`` (FIXTURES F3, ``tests/test_overlap.py``);
- overlap completeness on error-free, unique-region read pairs
  (``tests/test_overlap_property.py``);
- the published corpus matches the release manifest 1:1, its text md5
  matches the source, and the mixture/pack rules hold
  (``tests/test_release.py``).

Coverage and contiguity are metrics (``genome_frac``, ``n50_bp``), never
gates.  Every function returns a list of failure strings; empty = pass.
"""

from __future__ import annotations

import hashlib

from gen import rc

WINDOW = 50
_FLIP = {"ff": "rr", "rr": "ff", "fr": "fr", "rf": "rf"}


def n50(lengths, target: int | None = None) -> int | None:
    """Descending running sum crossed against half the total (or half
    ``target``, the genome-size form); None when never crossed."""
    s = sorted(lengths, reverse=True)
    half = sum(s) if target is None else target
    run = 0
    for L in s:
        run += L
        if 2 * run >= half:
            return L
    return None


def parse_fasta(text: str) -> dict[str, tuple[str, int, float]]:
    """``>id len=N cov=C`` records -> id -> (seq, len, cov)."""
    out = {}
    for block in text.split(">")[1:]:
        head, _, body = block.partition("\n")
        rid, ln, cv = head.split(" ")
        out[rid] = (body.replace("\n", ""), int(ln[4:]),
                    float(cv[4:].replace(",", "")))
    return out


def check_fasta(fasta_text: str, contigs: list[tuple[str, str, float]]
                ) -> list[str]:
    got = parse_fasta(fasta_text)
    want = {cid: (seq, cov) for cid, seq, cov in contigs}
    bad = []
    if set(got) != set(want):
        bad.append(f"fasta ids differ from contig table: "
                   f"{len(set(got) ^ set(want))} ids")
    for cid in set(got) & set(want):
        seq, ln, cv = got[cid]
        if seq != want[cid][0] or ln != len(seq) \
                or abs(cv - want[cid][1]) > 0.0051:
            bad.append(f"fasta record {cid} differs from contig table")
    return bad[:5]


def check_stats(dist: list[dict], top: list[int], genome_n50: int | None,
                lengths: list[int], genome_size: int) -> list[str]:
    bad = []
    by_cut = {r["cutoff"]: r for r in dist}
    for c, r in by_cut.items():
        sel = [L for L in lengths if L >= c]
        want = (len(sel), sum(sel), n50(sel))
        got = (r["cnt"], r["total"], r["n50"])
        if got != want:
            bad.append(f"stats cutoff {c}: engine {got} != python {want}")
    missing = [c for c in (100, 250, 500, 1000) if c not in by_cut
               and any(L >= c for L in lengths)]
    if missing:
        bad.append(f"stats rows missing for cutoffs {missing}")
    if sorted(top, reverse=True) != sorted(lengths, reverse=True)[:10]:
        bad.append("top-10 contig lengths differ from python")
    if genome_n50 != n50(lengths, genome_size):
        bad.append(f"genome N50 {genome_n50} != python "
                   f"{n50(lengths, genome_size)}")
    return bad


def window_identity(seq: str, haps: list[str]) -> float:
    """Share of the contig's non-overlapping 50 bp windows found exactly
    in some haplotype, either strand (the golden test's measure)."""
    wins = [seq[i:i + WINDOW] for i in range(0, len(seq) - WINDOW + 1,
                                              WINDOW)]
    if not wins:
        return 0.0
    hits = sum(1 for w in wins if any(w in h or rc(w) in h for h in haps))
    return hits / len(wins)


def check_longest_contig(seqs: list[str], haps: list[str]) -> list[str]:
    if not seqs:
        return ["no contigs"]
    longest = max(seqs, key=len)
    ident = window_identity(longest, haps)
    if len(longest) < WINDOW or ident < 0.9:
        return [f"longest contig ({len(longest)} bp) is only "
                f"{ident:.3f} window-identical to the genome"]
    return []


def genome_frac(seqs: list[str], genome: str, k: int = 31) -> float:
    """Share of the genome's k-mer positions found (either strand) in a
    contig of at least WINDOW bp — coverage as a metric, not a gate."""
    have = set()
    for s in seqs:
        if len(s) >= WINDOW:
            for t in (s, rc(s)):
                have.update(t[i:i + k] for i in range(len(t) - k + 1))
    n = len(genome) - k + 1
    return sum(1 for i in range(n) if genome[i:i + k] in have) / n


def _orient(seq: str, d: str) -> str:
    return seq if d == "f" else rc(seq)


def check_edges(edges: list[tuple], seqs: dict[str, str], k: int
                ) -> list[str]:
    """Every edge: valid orientation, ``k <= ov < len(dst)``, suffix/prefix
    identity, and its mirror edge present.  ``edges`` is every edge
    touching a node sample, so each edge's mirror is in it too."""
    have = set(edges)
    bad = []
    for src, et, dst, ov in edges:
        if et not in _FLIP:
            bad.append(f"edge {src}-{dst}: bad type {et}")
            continue
        a, b = _orient(seqs[src], et[0]), _orient(seqs[dst], et[1])
        if not k <= ov < len(b) or a[len(a) - ov:] != b[:ov]:
            bad.append(f"edge {src} {et} {dst} ov={ov} fails suffix/prefix")
        if (dst, _FLIP[et], src, ov) not in have:
            bad.append(f"edge {src} {et} {dst} ov={ov} has no mirror")
    return bad[:5]


def expected_pair_edges(a_id: str, a: str, b_id: str, b: str, k: int) -> set:
    """The reference contract between two nodes
    (``tests/test_overlap_property.py``): per orientation pair, the
    maximal seed candidate, kept only when it verifies."""
    homs = {c * k for c in "ACGT"}
    out = set()
    for sid, sseq, did, dseq in ((a_id, a, b_id, b), (b_id, b, a_id, a)):
        for d1 in "fr":
            for d2 in "fr":
                x, y = _orient(sseq, d1), _orient(dseq, d2)
                seed = y[:k]
                if len(y) < k or seed in homs:
                    continue
                cands = [ov for ov in range(k, len(x))
                         if x[len(x) - ov:len(x) - ov + k] == seed]
                if cands:
                    ov = max(cands)
                    if ov < len(y) and x[len(x) - ov:] == y[:ov]:
                        out.add((sid, d1 + d2, did, ov))
    return out | {(d, _FLIP[et], s, ov) for (s, et, d, ov) in out}


def check_completeness(edges: list[tuple], pairs: list[tuple],
                       seqs: dict[str, str], k: int) -> list[str]:
    """Every contract edge between the sampled error-free unique-region
    node pairs is present."""
    have = set(edges)
    bad = []
    for a, b in pairs:
        want = expected_pair_edges(a, seqs[a], b, seqs[b], k)
        if not want:
            bad.append(f"pair {a},{b}: no contract edge (sampling fault)")
        missing = want - have
        if missing:
            bad.append(f"pair {a},{b}: {len(missing)} contract edges missing")
    return bad[:5]


def md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def check_release(corpus: list[tuple], manifest: list[tuple],
                  source: dict[int, str], weights: dict[str, float],
                  doc_source: dict[int, str], budget: int) -> list[str]:
    """``corpus`` rows (doc_id, copy, shard_id, offset, text); ``manifest``
    rows (doc_id, copy, shard_id, offset)."""
    bad = []
    got = sorted(r[:4] for r in corpus)
    if got != sorted(manifest):
        bad.append(f"corpus rows ({len(got)}) do not match the release "
                   f"manifest ({len(manifest)}) 1:1")
    wrong = [r[0] for r in corpus
             if r[0] not in source or md5(r[4]) != md5(source[r[0]])]
    if wrong:
        bad.append(f"{len(wrong)} published texts differ from the source "
                   f"(first doc {wrong[0]})")
    copies: dict[int, list[int]] = {}
    for r in manifest:
        copies.setdefault(r[0], []).append(r[1])
    for doc, cs in copies.items():
        # mixture_resample emits floor(w) copies, plus one on a hash coin
        # when w has a fractional part
        w = weights.get(doc_source.get(doc), 0.0)
        n = int(w)
        want = [list(range(1, n + 1))]
        if w > n:
            want.append(list(range(1, n + 2)))
        if sorted(cs) not in want:
            bad.append(f"doc {doc}: copies {sorted(cs)} under weight {w}")
            break
    if any(not 0 <= r[3] < budget for r in manifest):
        bad.append("pack offset outside the shard budget")
    shards = {r[2] for r in manifest}
    if shards and shards != set(range(max(shards) + 1)):
        bad.append("shard ids are not contiguous from 0")
    return bad
