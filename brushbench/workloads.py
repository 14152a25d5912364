"""The benchmark's workloads: seeded inputs, one op through the engine's
public entry points, the fetch of check data, the checks, and the
per-layer counts each op yields.

- ``assembly``: ``Assembler.assemble`` -> ``stats_report`` ->
  ``write_fasta`` over a two-haplotype genome with a planted repeat and
  SNPs, plus the FIXTURES F1 edge-case reads.
- ``release``: ``pipeline.release.release`` (curate -> mixture -> pack ->
  publish) over the scale fixture's documents, read back through
  ``sources.corpus.read_corpus``.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow.parquet as pq

import checks
import gen

# layer entry points wrapped as spans under --trace 1: (module, owner
# attribute path, span name).  A function that no longer exists is
# dropped with a warning (spans.Tracer.wrap).
WRAPPED = {
    "assembly": [
        ("cloudbrush_spark.sources.fasta", "read_sfa", "fasta.read"),
        ("cloudbrush_spark.sources.fasta", "write_fasta", "fasta.write"),
        ("cloudbrush_spark.pipeline.assembler", "Assembler.preprocess",
         "asm.preprocess"),
        ("cloudbrush_spark.pipeline.assembler", "Assembler.build_overlap",
         "asm.build_overlap"),
        ("cloudbrush_spark.pipeline.assembler",
         "Assembler.build_string_graph", "asm.string_graph"),
        ("cloudbrush_spark.pipeline.assembler", "Assembler.remove_tips",
         "asm.remove_tips"),
        ("cloudbrush_spark.pipeline.assembler", "Assembler.pop_all_bubbles",
         "asm.pop_bubbles"),
        ("cloudbrush_spark.pipeline.assembler", "Assembler.remove_low_cov",
         "asm.low_cov"),
        ("cloudbrush_spark.pipeline.assembler", "Assembler.edge_adjustment",
         "asm.edge_adjust"),
        ("cloudbrush_spark.operators.contraction", "contract_chains",
         "contraction"),
    ],
    "release": [
        # release looks the stage cut up at call time, so wrapping the
        # module attribute catches every materialization
        ("cloudbrush_spark.operators.dedup", "_stage_cut", "materialize"),
        ("cloudbrush_spark.sources.corpus", "publish_corpus",
         "corpus.publish"),
    ],
}

# spans opened by the op code itself, around a lazy call plus the action
# that forces it
OP_SPANS = {"assembly": ["asm.stats"], "release": ["release.run",
                                                   "corpus.read"]}

SPAN_NAMES = ["op"] + [n for w in WRAPPED for _, _, n in WRAPPED[w]] \
    + [n for w in OP_SPANS for n in OP_SPANS[w]]

COUNTS = ["dedup.nodes_per_read", "kmers.high_kmers", "overlap.edges",
          "overlap.kept_share", "consensus.cut_share", "contraction.rounds",
          "tips.removed", "bubbles.popped", "lowcov.removed",
          "asm.final_nodes", "asm.n50_bp", "asm.genome_frac",
          "asm.longest_identity", "release.kept_share"]

# completeness sample: node pairs whose reads are error-free and lie in
# one unique (repeat- and SNP-free) region
N_PAIRS = 150


class Assembly:
    def __init__(self, seed: int, workdir: str):
        from cloudbrush_spark.pipeline.assembler import Assembler

        class Capturing(Assembler):
            """Keeps the overlap graph of the run for the edge checks."""

            def build_overlap(self, nodes, high_kmers):
                edges = super().build_overlap(nodes, high_kmers)
                self.overlap_graph = (nodes, edges)
                return edges

        self.assembler_cls = Capturing
        self.workdir = workdir
        self.reads = gen.assembly_reads(seed)
        self.sfa = os.path.join(workdir, "reads.sfa")
        self.reads.write_sfa(self.sfa)
        self.pairs = self._sample_pairs(np.random.default_rng([seed, 9]))

    def _sample_pairs(self, rng) -> list[tuple[str, str]]:
        """Error-free read pairs at offset 1..readlen-k on haplotype 0,
        clear of repeat copies and SNPs, mapped to their dedup node ids
        (min read id per canonical sequence, as ``dedup_reads``)."""
        k, rl = gen.K, gen.READLEN
        node_of: dict[str, str] = {}
        for rid, seq in self.reads.records:
            s = seq.upper()
            if len(s) > k and set(s) <= set("ACGT"):
                c = min(s, gen.rc(s))
                if c not in node_of or rid < node_of[c]:
                    node_of[c] = rid
        blocked = [(a, b) for a, b in self.reads.repeats] + \
            [(p, p + 1) for p in self.reads.snps]
        by_start: dict[int, list[str]] = {}
        for rid, (h, s, _f, ok) in self.reads.origin.items():
            if ok and h == 0:
                by_start.setdefault(s, []).append(rid)
        hap = self.reads.haps[0]
        pairs = set()
        starts = sorted(by_start)
        for _ in range(20 * N_PAIRS):
            if len(pairs) >= N_PAIRS:
                break
            s = starts[int(rng.integers(0, len(starts)))]
            d = int(rng.integers(1, rl - k + 1))
            if s + d not in by_start:
                continue
            if any(a < s + d + rl and s < b for a, b in blocked):
                continue
            a = node_of[min(hap[s:s + rl], gen.rc(hap[s:s + rl]))]
            b = node_of[min(hap[s + d:s + d + rl],
                            gen.rc(hap[s + d:s + d + rl]))]
            if a != b:
                pairs.add((a, b))
        return sorted(pairs)

    def op(self, spark, i: int, span) -> dict:
        from cloudbrush_spark.config import BrushParams
        from cloudbrush_spark.sources import fasta
        asm = self.assembler_cls(spark, BrushParams(k=gen.K,
                                                    readlen=gen.READLEN))
        nodes, _edges = asm.assemble(fasta.read_sfa(spark, self.sfa))
        with span("asm.stats"):
            rep = asm.stats_report(nodes, genome_size=len(self.reads.haps[0]))
            dist = [r.asDict() for r in rep["distribution"].collect()]
            top = [r["len"] for r in rep["top"].collect()]
            gn50 = rep["genome_n50"].collect()[0]["n50"]
        out = os.path.join(self.workdir, f"contigs{i}.fa")
        fasta.write_fasta(nodes, out)
        return {"asm": asm, "nodes": nodes, "dist": dist, "top": top,
                "gn50": gn50, "fasta": out}

    def fetch(self, spark, res: dict) -> dict:
        from pyspark.sql import functions as F
        contigs = [(r.node_id, r.seq, r.cov) for r in
                   res["nodes"].select("node_id", "seq", "cov").collect()]
        ov_nodes, ov_edges = res["asm"].overlap_graph
        sample = sorted({n for p in self.pairs for n in p})
        edges = [(r.src, r.et, r.dst, r.ov) for r in ov_edges.where(
            F.col("src").isin(sample) | F.col("dst").isin(sample)).collect()]
        ids = sorted({e[0] for e in edges} | {e[2] for e in edges}
                     | set(sample))
        seqs = {r.node_id: r.seq for r in ov_nodes.join(
            F.broadcast(spark.createDataFrame([(x,) for x in ids],
                                              "node_id string")),
            "node_id").select("node_id", "seq").collect()}
        text = ""
        for part in sorted(glob.glob(os.path.join(res["fasta"], "part-*"))):
            with open(part) as fh:
                text += fh.read()
        return {"contigs": contigs, "edges": edges, "seqs": seqs,
                "fasta_text": text}

    def check(self, res: dict, got: dict) -> list[str]:
        seqs = [s for _, s, _ in got["contigs"]]
        lengths = [len(s) for s in seqs]
        return (checks.check_fasta(got["fasta_text"], got["contigs"])
                + checks.check_stats(res["dist"], res["top"], res["gn50"],
                                     lengths, len(self.reads.haps[0]))
                + checks.check_longest_contig(seqs, self.reads.haps)
                + checks.check_edges(got["edges"], got["seqs"], gen.K)
                + checks.check_completeness(got["edges"], self.pairs,
                                            got["seqs"], gen.K))

    def counts(self, res: dict, got: dict) -> dict:
        c = res["asm"].counters
        seqs = [s for _, s, _ in got["contigs"]]
        edges = max(c.get("edges", 0), 1)
        return {
            "dedup.nodes_per_read": c["nodes"] / len(self.reads.records),
            "kmers.high_kmers": c["high_kmers"],
            "overlap.edges": c["edges"],
            "overlap.kept_share": c["edges_after_tr"] / edges,
            "consensus.cut_share": sum(v for k, v in c.items()
                                       if k.startswith("chimeric_cut"))
            / edges,
            "contraction.rounds": c.get("compress_rounds", 0),
            "tips.removed": c.get("tips_removed", 0),
            "bubbles.popped": c.get("bubbles_popped", 0),
            "lowcov.removed": c.get("lowcov_removed", 0),
            "asm.final_nodes": c["final_nodes"],
            "asm.n50_bp": checks.n50([len(s) for s in seqs]) or 0,
            "asm.genome_frac": checks.genome_frac(seqs, self.reads.haps[0]),
            "asm.longest_identity": checks.window_identity(
                max(seqs, key=len), self.reads.haps) if seqs else 0.0,
        }


# every source of the scale fixture ("src0".."src19") gets a weight:
# mixture_resample drops unlisted sources
WEIGHTS = {f"src{i}": (2.0 if i < 4 else 0.5 if i < 8 else 1.0)
           for i in range(20)}
SHARD_BUDGET = 20_000


class Release:
    def __init__(self, seed: int, workdir: str):
        self.workdir = workdir
        self.docs_dir = os.path.join(workdir, "docs")
        self.source = gen.documents(seed, self.docs_dir)
        t = pq.read_table(os.path.join(self.docs_dir, "documents.parquet"),
                          columns=["doc_id", "source"])
        self.doc_source = dict(zip(t.column("doc_id").to_pylist(),
                                   t.column("source").to_pylist()))

    def op(self, spark, i: int, span) -> dict:
        from cloudbrush_spark.pipeline.release import release
        from cloudbrush_spark.sources.corpus import read_corpus
        out = os.path.join(self.workdir, f"release{i}")
        docs = spark.read.parquet(os.path.join(self.docs_dir,
                                               "documents.parquet"))
        with span("release.run"):
            release(spark, docs, out, mixture_weights=WEIGHTS,
                    budget=SHARD_BUDGET)
        with span("corpus.read"):
            corpus = [(r.doc_id, r.copy, r.shard_id, r.offset, r.text)
                      for r in read_corpus(spark, os.path.join(out, "corpus"))
                      .select("doc_id", "copy", "shard_id", "offset", "text")
                      .collect()]
        return {"out": out, "corpus": corpus}

    def fetch(self, spark, res: dict) -> dict:
        t = pq.read_table(os.path.join(res["out"],
                                       "release_manifest.parquet"),
                          columns=["doc_id", "copy", "shard_id", "offset"])
        return {"manifest": list(zip(*(t.column(c).to_pylist()
                                       for c in t.column_names)))}

    def check(self, res: dict, got: dict) -> list[str]:
        return checks.check_release(res["corpus"], got["manifest"],
                                    self.source, WEIGHTS, self.doc_source,
                                    SHARD_BUDGET)

    def counts(self, res: dict, got: dict) -> dict:
        kept = {r[0] for r in got["manifest"]}
        return {"release.kept_share": len(kept) / len(self.source)}


WORKLOADS = {"assembly": Assembly, "release": Release}
