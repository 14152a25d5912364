"""Self-test of the benchmark's generators and output checks.

    python3 brushbench/selftest.py                 # no Spark, seconds
    python3 brushbench/selftest.py --real 301,302,303

The default leg pins that the generators are deterministic (same seed ->
byte-identical input files, different seed -> different files) and that
every check accepts a correct output built in Python and rejects a
corrupted one.  ``--real`` runs each workload's op through the engine
on the given seeds: the checks must accept the engine's real output,
and must reject it once corrupted (a flipped contig base, a wrong
engine N50, a dropped edge, an altered published text, a dropped
manifest row).  Exits non-zero on the first failed expectation.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[1:1] = [ROOT]

import checks  # noqa: E402
import gen  # noqa: E402


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def fasta_text(contigs) -> str:
    """The engine's FASTA record layout (``sources/fasta.fasta_records``)."""
    out = []
    for cid, seq, cov in contigs:
        body = "\n".join(seq[i:i + 60] for i in range(0, len(seq), 60))
        out.append(f">{cid} len={len(seq)} cov={cov:,.2f}\n{body}\n")
    return "".join(out)


def flip_base(text: str) -> str:
    """Flip the first sequence base of the first record."""
    i = text.index("\n") + 1
    return text[:i] + ("A" if text[i] != "A" else "C") + text[i + 1:]


def stats_rows(lengths, genome_size):
    dist = []
    for c in (100, 250, 500, 1000, 2000):
        sel = [L for L in lengths if L >= c]
        if sel:
            dist.append({"cutoff": c, "cnt": len(sel), "total": sum(sel),
                         "n50": checks.n50(sel)})
    return (dist, sorted(lengths, reverse=True)[:10],
            checks.n50(lengths, genome_size))


def test_determinism(tmp: str) -> None:
    a, b, c = (os.path.join(tmp, x) for x in ("a.sfa", "b.sfa", "c.sfa"))
    gen.assembly_reads(7).write_sfa(a)
    gen.assembly_reads(7).write_sfa(b)
    gen.assembly_reads(8).write_sfa(c)
    expect(gen.digest(a) == gen.digest(b), "reads: same seed, same bytes")
    expect(gen.digest(a) != gen.digest(c), "reads: other seed, other bytes")
    for s, d in ((7, "d1"), (7, "d2"), (8, "d3")):
        gen.documents(s, os.path.join(tmp, d))
    d1, d2, d3 = (gen.digest(os.path.join(tmp, d)) for d in ("d1", "d2",
                                                              "d3"))
    expect(d1 == d2, "documents: same seed, same bytes")
    expect(d1 != d3, "documents: other seed, other bytes")


def test_assembly_checks() -> None:
    r = gen.assembly_reads(5)
    g = r.haps[0]
    contigs = [("c1", g[:700], 30.0), ("c2", gen.rc(g[650:1100]), 31.5),
               ("c3", g[1100:1160], 1.0)]
    seqs = [s for _, s, _ in contigs]
    text = fasta_text(contigs)
    expect(not checks.check_fasta(text, contigs), "fasta: accepts")
    expect(bool(checks.check_fasta(flip_base(text), contigs)),
           "fasta: rejects a flipped contig base")
    expect(bool(checks.check_fasta(text, contigs[:2])),
           "fasta: rejects a dropped contig")
    lengths = [len(s) for s in seqs]
    dist, top, gn50 = stats_rows(lengths, len(g))
    expect(not checks.check_stats(dist, top, gn50, lengths, len(g)),
           "stats: accepts")
    bad = [dict(x) for x in dist]
    bad[0]["n50"] += 1
    expect(bool(checks.check_stats(bad, top, gn50, lengths, len(g))),
           "stats: rejects a wrong engine N50")
    expect(bool(checks.check_stats(dist, top, gn50 + 1, lengths, len(g))),
           "stats: rejects a wrong genome-target N50")
    expect(not checks.check_longest_contig(seqs, r.haps),
           "identity: accepts a genome-exact longest contig")
    junk = "".join(np.random.default_rng(0).choice(list("ACGT"), 800))
    expect(bool(checks.check_longest_contig(seqs + [junk], r.haps)),
           "identity: rejects a foreign longest contig")


def _edge_fixture():
    """Three overlapping nodes cut from one genome, one of them stored
    reverse-complemented, with their contract edges."""
    g = gen.assembly_reads(6).haps[0]
    seqs = {"n1": g[100:136], "n2": gen.rc(g[105:141]), "n3": g[112:148]}
    edges = set()
    for a, b in (("n1", "n2"), ("n1", "n3"), ("n2", "n3")):
        edges |= checks.expected_pair_edges(a, seqs[a], b, seqs[b], gen.K)
    return seqs, sorted(edges), [("n1", "n2"), ("n1", "n3")]


def test_edge_checks() -> None:
    seqs, edges, pairs = _edge_fixture()
    expect(len(edges) >= 6, "edges: fixture has contract edges")
    expect(not checks.check_edges(edges, seqs, gen.K),
           "edges: accepts the contract edge set")
    expect(bool(checks.check_edges(edges[1:], seqs, gen.K)),
           "edges: rejects a dropped (mirror-less) edge")
    s, et, d, ov = edges[0]
    moved = [(s, et, d, ov - 1)] + edges[1:]
    expect(bool(checks.check_edges(moved, seqs, gen.K)),
           "edges: rejects a wrong overlap length")
    short = [(s, et, d, gen.K - 1)] + edges[1:]
    expect(bool(checks.check_edges(short, seqs, gen.K)),
           "edges: rejects ov < k")
    expect(not checks.check_completeness(edges, pairs, seqs, gen.K),
           "completeness: accepts")
    want = checks.expected_pair_edges("n1", seqs["n1"], "n2", seqs["n2"],
                                      gen.K)
    dropped = [e for e in edges if e != sorted(want)[0]]
    expect(bool(checks.check_completeness(dropped, pairs, seqs, gen.K)),
           "completeness: rejects a dropped edge")


def test_release_checks(tmp: str) -> None:
    from workloads import SHARD_BUDGET, WEIGHTS
    source = gen.documents(5, os.path.join(tmp, "docs5"), n=40)
    doc_source = {i: f"src{i % 20}" for i in source}
    manifest, corpus = [], []
    off = 0
    for doc in sorted(source):
        w = WEIGHTS[doc_source[doc]]
        for copy in range(1, int(w) + 1):
            manifest.append((doc, copy, 0, off))
            corpus.append((doc, copy, 0, off, source[doc]))
            off += 7
    args = (source, WEIGHTS, doc_source, SHARD_BUDGET)
    expect(not checks.check_release(corpus, manifest, *args),
           "release: accepts")
    bad = list(corpus)
    bad[3] = bad[3][:4] + (bad[3][4] + " x",)
    expect(bool(checks.check_release(bad, manifest, *args)),
           "release: rejects an altered published text")
    expect(bool(checks.check_release(corpus[1:], manifest, *args)),
           "release: rejects a row missing from the corpus")
    doc = manifest[-1][0]
    expect(bool(checks.check_release(
        corpus + [(doc, 9, 0, 0, source[doc])],
        manifest + [(doc, 9, 0, 0)], *args)),
           "release: rejects a copy the mixture weights forbid")


class FakeContext:
    """Just the job-tag surface of a SparkContext."""

    def __init__(self):
        self.tags: set[str] = set()

    def addJobTag(self, tag):
        self.tags.add(tag)

    def removeJobTag(self, tag):
        self.tags.discard(tag)


def test_tracing() -> None:
    import warnings

    import spans
    sc = FakeContext()
    tr = spans.Tracer(sc)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dropped = [tr.wrap("checks", "no_such_function", "gone"),
                   tr.wrap("no_such_module", "f", "gone"),
                   tr.wrap("checks", "NoSuchClass.method", "gone")]
    expect(dropped == [False] * 3 and len(w) == 3,
           "tracing: a missing entry point drops its span with a warning")
    original = checks.md5
    try:
        expect(tr.wrap("checks", "md5", "hash")
               and checks.md5("x") == original("x")
               and [r["name"] for r in tr.take()] == ["hash"],
               "tracing: a wrapped entry point runs inside its span")
    finally:
        checks.md5 = original
    jobs = []

    def submit():
        jobs.append(sorted(sc.tags))

    with tr.span("op"):
        submit()
        with tr.span("a"):
            submit()
            with tr.span("b"):
                submit()
            submit()
        submit()
    expect(all(len(t) == 1 for t in jobs) and not sc.tags,
           "tracing: every job carries exactly the innermost span's tag")
    closed = tr.take()
    work = {"jobs": len(jobs), "per_job": {
        i: {"tags": t, "cpu_s": 1.0, "shuffle_mb": 0.0, "span": (0.0, 0.0)}
        for i, t in enumerate(jobs)}}
    table, unattributed = spans.span_table(closed, work)
    expect(unattributed == 0 and table["op"]["jobs"] == 2
           and table["a"]["jobs"] == 2 and table["b"]["jobs"] == 1
           and sum(r["jobs"] for r in table.values()) == len(jobs),
           "tracing: per-span jobs sum to the op's jobs")
    work["per_job"][len(jobs)] = dict(work["per_job"][0], tags=[])
    work["jobs"] += 1
    expect(spans.span_table(closed, work)[1] == 1,
           "tracing: an untagged job is reported unattributed")


def real(seeds: list[int]) -> None:
    import run
    import spans
    import workloads
    from cloudbrush_spark.session import get_spark
    workdir = os.path.join(ROOT, ".bench_work", f"selftest-{os.getpid()}")
    os.makedirs(workdir)
    run._isolate(workdir)
    spark = get_spark("brushbench-selftest")
    try:
        for seed in seeds:
            for name, cls in workloads.WORKLOADS.items():
                d = os.path.join(workdir, f"{name}-{seed}")
                os.makedirs(d)
                wl = cls(seed, d)
                res = wl.op(spark, 0, spans.no_span)
                got = wl.fetch(spark, res)
                bad = wl.check(res, got)
                expect(not bad, f"{name} seed {seed}: accepts the engine "
                       f"output {bad or ''}")
                for what, mutate in CORRUPT[name]:
                    r2, g2 = mutate(dict(res), dict(got))
                    expect(bool(wl.check(r2, g2)),
                           f"{name} seed {seed}: rejects {what}")
    finally:
        run._stop(spark)
        shutil.rmtree(workdir, ignore_errors=True)


def _drop_edge(res, got):
    got["edges"] = got["edges"][1:]
    return res, got


def _alter_text(res, got):
    c = list(res["corpus"])
    c[0] = c[0][:4] + (c[0][4] + ".",)
    res["corpus"] = c
    return res, got


def _wrong_n50(res, got):
    res["dist"] = [dict(r, n50=r["n50"] + 1) for r in res["dist"]]
    return res, got


CORRUPT = {
    "assembly": [
        ("a flipped contig base",
         lambda r, g: (r, dict(g, fasta_text=flip_base(g["fasta_text"])))),
        ("a wrong engine N50", _wrong_n50),
        ("a dropped overlap edge", _drop_edge),
    ],
    "release": [
        ("an altered published text", _alter_text),
        ("a dropped manifest row",
         lambda r, g: (r, dict(g, manifest=g["manifest"][1:]))),
    ],
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--real", default="",
                    help="comma-separated seeds for the engine leg")
    args = ap.parse_args()
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_work"),
                           prefix="selftest-")
    try:
        test_determinism(tmp)
        test_assembly_checks()
        test_edge_checks()
        test_release_checks(tmp)
        test_tracing()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if args.real:
        real([int(s) for s in args.real.split(",")])
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
