"""Durable stage checkpointing: a finished stage loads instead of
recomputing on the next run (reference runStage/checkDone parity)."""

import random

from cloudbrush_spark.config import BrushParams
from cloudbrush_spark.functions import dna
from cloudbrush_spark.pipeline.assembler import Assembler


def _reads(spark, n_err: int = 0):
    """Error-free 40 bp reads at stride 5 over a 300 bp genome, plus
    ``n_err`` reads with one substitution each (odd ones reverse
    complemented)."""
    rng = random.Random(21)
    genome = "".join(rng.choice("ACGT") for _ in range(300))
    rows = [(f"r{i:02d}", genome[i * 5:i * 5 + 40]) for i in range(53)
            if len(genome[i * 5:i * 5 + 40]) == 40]
    for j in range(n_err):
        p = rng.randrange(0, 260)
        s = list(genome[p:p + 40])
        q = rng.randrange(40)
        s[q] = "ACGT"[("ACGT".index(s[q]) + 1) % 4]
        s = "".join(s)
        rows.append((f"e{j:02d}", dna.rc_py(s) if j % 2 else s))
    return spark.createDataFrame(rows, "read_id string, seq string")


def test_assemble_resumes_from_stage_checkpoints(spark, tmp_path):
    reads = _reads(spark)
    params = BrushParams(k=15, readlen=40)
    asm1 = Assembler(spark, params, checkpoint_dir=str(tmp_path))
    n1, _ = asm1.assemble(reads)
    first = sorted(r.seq for r in n1.collect())
    assert not any(k.startswith("loaded_") for k in asm1.counters)

    asm2 = Assembler(spark, params, checkpoint_dir=str(tmp_path))
    n2, _ = asm2.assemble(reads)
    second = sorted(r.seq for r in n2.collect())
    # every stage was loaded, none recomputed; results identical
    for stage in ("01_string_graph", "02_notips", "03_nobubbles",
                  "04_lowcov", "05_edgeadjust"):
        assert asm2.counters.get(f"loaded_{stage}") == 1
    assert "nodes" not in asm2.counters      # preprocess never ran
    assert first == second


def test_assemble_pins_counters_contigs_and_job_ceiling(spark):
    """End-to-end pin on a small seeded input whose error reads drive the
    chimeric cut, tip-island and low-coverage paths: the full counter
    dict and the contigs as recorded before loop decisions moved onto
    observed cuts, and a ceiling on the Spark jobs one assembly runs
    (every decision frame computed once)."""
    sc = spark.sparkContext
    group = "assembler-pin"
    sc.setJobGroup(group, group)
    try:
        asm = Assembler(spark, BrushParams(k=15, readlen=40))
        nodes, _ = asm.assemble(_reads(spark, n_err=3))
        contigs = sorted(r.seq for r in nodes.collect())
    finally:
        sc.setJobGroup("", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert asm.counters == {
        "nodes": 56, "high_kmers": 0, "edges": 516, "chimeric_cut_r0": 8,
        "chimeric_cut_r1": 0, "edges_after_tr": 104, "compress_rounds": 1,
        "tips_island": 5, "tips_removed": 0, "bubbles_popped": 0,
        "lowcov_removed": 3, "edge_adjust_cuts": 0, "final_nodes": 1,
        "final_edges": 0}
    assert contigs == [
        "CTTGTCTCCAAGTACCCATTTAGTAGACAAATCGTTCCATCACCAATTCGCTGGTTGTTGAACT"
        "ATACGACCGGGGCACACTGCACTCAGTTCCCATTTAGAGGATCCTAGCCTAGCTACGCGTTTGC"
        "GCATCAGGCTGTCCCATACATCAAGCGGTTCCCCTCAAATTATCCGGACTCGGTAAGGGCAGCG"
        "AGTAAATATTTTACAATACGTTTCTTGTCAATCTGCTGCTTTGTACGCGTCACAGTTACTCGGC"
        "GAAGGCCCGTCTTTTTGCTGACCAGGAAATTTCACAGCTGAGCC"]
    # 138 jobs with a count() before each decision frame's checkpoint;
    # 95-100 with observed cuts (AQE varies the count by a few)
    assert jobs <= 110, jobs
