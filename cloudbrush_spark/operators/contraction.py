"""Iterative chain contraction (G5 PairMark / G6 PairMerge / G7-G8 serial
fallback) — randomized-matching path contraction on the bidirected graph.

Design (Spark-first, not a port): each round
  1. find mutually-unique chain links (G4 compressible);
  2. break symmetry with a *seeded deterministic* coin per node
     (hash(id, seed) — the reference used Math.random() seeds,
     src/Brush/PairMark.java:61-72; we pin for testability, SURVEY §7 risk 3);
  3. every male node merges into one adjacent female tail; a female can
     absorb at most one male per side (the mutual-unique condition makes
     that structural, mirroring src/Brush/PairMerge.java guards);
  4. sequences concatenate with overlap-aware, orientation-aware splicing;
     coverage becomes the length-weighted mean (src/Brush/PairMerge.java:132-149);
  5. third-party edges are re-pointed with an orientation map
     (replacelink, src/Brush/PairMark.java:277-283 — here two joins).

Expected halving per round -> O(log chain) rounds.  ``localCheckpoint``
every round truncates lineage (the #1 Spark iteration hazard, SURVEY §4).
Like the reference's adaptive switch to a single-reducer serial merge
(G7 QuickMark / G8 QuickMerge, src/Brush/BrushAssembler.java:506-556),
small residual link sets finish with one driver-side chain walk
(``_serial_contract``) instead of a long tail of tiny rounds — each
distributed round costs a fixed number of Spark jobs regardless of size.

Orientation algebra: merging link (a, d1 d2, b, ov) places a's content in
the merged node (kept id: b) with orientation-in-b-forward
``o_a = d1 if d2 == 'f' else flip(d1)``; a third-party edge touching a in
orientation x becomes the same edge touching b in orientation
``f if x == o_a else r``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloudbrush_spark.functions import dna
from cloudbrush_spark.operators.graph import compressible
from cloudbrush_spark.plans.sever import cut, observed_cut


def D1():
    return F.substring("et", 1, 1)


def D2():
    return F.substring("et", 2, 1)


def _orient(seq, d):
    return F.when(d == "f", seq).otherwise(dna.rc(seq))


def _flip(d):
    return F.when(d == "f", F.lit("r")).otherwise(F.lit("f"))


def _coin_male(col, seed: int, coin: str):
    """Deterministic per-node coin (the reference seeds Math.random(),
    src/Brush/PairMark.java:61-72; we pin for testability).  ``xxhash64``
    is the fast default; ``md5`` is engine-portable (same parity rule is
    expressible in any SQL engine — what makes PairMark oracle-checkable)."""
    if coin == "xxhash64":
        return F.xxhash64(col, F.lit(seed)) % 2 == 0
    if coin == "md5":
        return F.substring(
            F.md5(F.concat_ws("#", col, F.lit(str(seed)))), 1, 1
        ).isin(*"02468ace")
    raise ValueError(f"unknown coin {coin!r}")


def _pick_merges(links: DataFrame, seed: int, coin: str = "xxhash64") -> DataFrame:
    """One merge per male node into a female tail.

    Output: (a, d1, b, d2, ov, o_a) — a merges into b.
    """
    male_src = _coin_male(F.col("src"), seed, coin)
    male_dst = _coin_male(F.col("dst"), seed, coin)
    cand = links.filter(male_src & ~male_dst).select(
        F.col("src").alias("a"), D1().alias("d1"),
        F.col("dst").alias("b"), D2().alias("d2"), "ov",
    )
    pick = Window.partitionBy("a").orderBy("d1", "b")
    return (
        cand.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1).drop("rn")
        .withColumn("o_a", F.when(F.col("d2") == "f", F.col("d1"))
                    .otherwise(_flip(F.col("d1"))))
    )


def pick_merges(links: DataFrame, seed: int, coin: str = "xxhash64") -> DataFrame:
    """Public G5 PairMark step (see _pick_merges)."""
    return _pick_merges(links, seed, coin)


def merge_nodes(nodes: DataFrame, merges: DataFrame) -> DataFrame:
    """Public G6 PairMerge node step (see _merge_nodes)."""
    return _merge_nodes(nodes, merges)


def _merge_nodes(nodes: DataFrame, merges: DataFrame) -> DataFrame:
    """Build the next node table: females extended, males dropped.

    A ``pair_ends`` member-read column, when present, splices through the
    merge (female's list ++ absorbed male's list — reference PairMerge
    carries the MATE field the same way)."""
    has_pairs = "pair_ends" in nodes.columns
    a_cols = [F.col("node_id").alias("a"), F.col("seq").alias("a_seq"),
              F.col("cov").alias("a_cov")]
    if has_pairs:
        a_cols.append(F.col("pair_ends").alias("a_pairs"))
    a_seq = nodes.select(*a_cols)
    m = merges.join(a_seq, "a")

    def side(d: str, oseq):
        fields = [oseq.alias("oseq"), F.col("ov").alias("ov"),
                  F.col("a_cov").alias("cov"), F.length("a_seq").alias("len")]
        if has_pairs:
            fields.append(F.col("a_pairs").alias("pairs"))
        return F.max(F.when(F.col("d2") == d, F.struct(*fields)))

    # partner with d2 == 'f' prepends (enters b's front); d2 == 'r' appends
    per_b = m.groupBy(F.col("b").alias("node_id")).agg(
        side("f", _orient(F.col("a_seq"), F.col("d1"))).alias("L"),
        side("r", _orient(F.col("a_seq"), _flip(F.col("d1")))).alias("R"),
    )
    empty_pairs = F.array().cast("array<string>")
    merged = (
        nodes.join(per_b, "node_id", "inner")
        .withColumn("s1", F.when(
            F.col("L").isNotNull(),
            F.concat(F.col("L.oseq"),
                     F.col("seq").substr(F.col("L.ov") + 1, F.length("seq"))),
        ).otherwise(F.col("seq")))
        .withColumn("s2", F.when(
            F.col("R").isNotNull(),
            F.concat(F.col("s1").substr(F.lit(1), F.length("s1") - F.col("R.ov")),
                     F.col("R.oseq")),
        ).otherwise(F.col("s1")))
        .withColumn("new_cov",
            (F.col("cov") * F.length("seq")
             + F.coalesce(F.col("L.cov") * F.col("L.len"), F.lit(0.0))
             + F.coalesce(F.col("R.cov") * F.col("R.len"), F.lit(0.0)))
            / (F.length("seq")
               + F.coalesce(F.col("L.len"), F.lit(0))
               + F.coalesce(F.col("R.len"), F.lit(0))))
    )
    out_cols = ["node_id", F.col("s2").alias("seq"), F.col("new_cov").alias("cov")]
    if has_pairs:
        out_cols.append(F.array_sort(F.concat(
            F.coalesce(F.col("pair_ends"), empty_pairs),
            F.coalesce(F.col("L.pairs"), empty_pairs),
            F.coalesce(F.col("R.pairs"), empty_pairs),
        )).alias("pair_ends"))
    merged = merged.select(*out_cols)
    untouched = (
        nodes.join(merges.select(F.col("a").alias("node_id")), "node_id", "left_anti")
        .join(merges.select(F.col("b").alias("node_id")).distinct(), "node_id", "left_anti")
    )
    return untouched.select("node_id", "seq", "cov",
                            *(["pair_ends"] if has_pairs else [])) \
        .unionByName(merged)


def _rewrite_edges(edges: DataFrame, merges: DataFrame) -> DataFrame:
    """Drop consumed link edges; re-point third-party edges of merged males."""
    link = merges.select("a", F.concat("d1", "d2").alias("et"), F.col("b").alias("dst_b"), "ov")
    consumed = link.select(F.col("a").alias("src"), "et", F.col("dst_b").alias("dst"), "ov")
    consumed_rev = link.select(
        F.col("dst_b").alias("src"), dna.flip_link("et").alias("et"),
        F.col("a").alias("dst"), "ov",
    )
    kept = edges.join(consumed.unionByName(consumed_rev).distinct(),
                      ["src", "et", "dst", "ov"], "left_anti")
    mapping = merges.select(F.col("a").alias("m_id"), F.col("b").alias("m_to"), "o_a")
    # rewrite src side
    s = (
        kept.join(mapping.withColumnRenamed("m_id", "src"), "src", "left")
        .withColumn("n_src", F.coalesce(F.col("m_to"), F.col("src")))
        .withColumn("n_d1", F.when(F.col("m_to").isNull(), D1())
                    .when(D1() == F.col("o_a"), F.lit("f")).otherwise(F.lit("r")))
        .select(F.col("n_src").alias("src"),
                F.concat("n_d1", D2()).alias("et"), "dst", "ov")
    )
    # rewrite dst side
    d = (
        s.join(mapping.withColumnRenamed("m_id", "dst"), "dst", "left")
        .withColumn("n_dst", F.coalesce(F.col("m_to"), F.col("dst")))
        .withColumn("n_d2", F.when(F.col("m_to").isNull(), D2())
                    .when(D2() == F.col("o_a"), F.lit("f")).otherwise(F.lit("r")))
        .select("src", F.concat(D1(), "n_d2").alias("et"),
                F.col("n_dst").alias("dst"), "ov")
    )
    return d.distinct()


def _rc_str(s: str) -> str:
    return dna.rc_py(s)


def _serial_contract(nodes: DataFrame, edges: DataFrame,
                     link_rows: list) -> tuple[DataFrame, DataFrame]:
    """G7/G8 serial finish: contract the residual chain subgraph in the
    driver (the reference collapses it into ONE reducer via the constant
    MERTAG, src/Brush/QuickMark.java:129-137 + QuickMerge chain walks
    src/Brush/TailInfo.java:54-107).  Only chain MEMBERS move to the
    driver — every other node/edge stays distributed.

    ``link_rows``: collected compressible links (src, et, dst, ov).
    Each chain is walked end-to-end (cycles get one link dropped, like
    QuickMerge's cycle fix, src/Brush/QuickMerge.java:354-365), merged
    into its lexicographically-smallest end node, and third-party edges
    are re-pointed with the same orientation map the distributed rounds
    use.
    """
    spark = nodes.sparkSession
    has_pairs = "pair_ends" in nodes.columns
    # per-node outgoing link per side (mutual uniqueness makes this 1:1)
    out = {}
    members = set()
    for r in link_rows:
        out[(r.src, r.et[0])] = (r.dst, r.et[1], r.ov)
        members.add(r.src)
        members.add(r.dst)

    member_df = spark.createDataFrame([(m,) for m in members], "node_id string")
    attrs = {row.node_id: row for row in
             nodes.join(F.broadcast(member_df), "node_id").collect()}

    def free_side(n: str, side: str) -> bool:
        return (n, side) not in out

    # chain starts: member whose one side has a link and the other doesn't;
    # pure cycles have no start — break at the smallest id
    visited = set()
    merged_rows, mapping_rows, drop_rows = [], [], []

    def walk(start: str, o0: str):
        """Walk from start oriented o0 (so links leave its o0 side)."""
        chain = [(start, o0)]
        visited.add(start)
        cur, o = start, o0
        while True:
            nxt = out.get((cur, o))
            if nxt is None:
                break
            dst, d2, ov = nxt
            drop_rows.append((cur, o + d2, dst, ov))
            if dst in visited:      # cycle closed: stop (link dropped)
                break
            chain.append((dst, d2, ov))
            visited.add(dst)
            cur, o = dst, d2
        return chain

    # deterministic start order
    starts = sorted(m for m in members
                    if free_side(m, "f") != free_side(m, "r"))
    chains = []
    for s in starts:
        if s in visited:
            continue
        o0 = "f" if not free_side(s, "f") else "r"
        chains.append(walk(s, o0))
    # residual cycles
    for s in sorted(members):
        if s not in visited:
            chains.append(walk(s, "f"))

    for chain in chains:
        if len(chain) == 1:
            visited.discard(chain[0][0])
            continue
        # orient the whole chain so its content reads left->right; the
        # surviving id is the smaller end, flipping the walk if needed
        first, last = chain[0][0], chain[-1][0]
        pairs: list = []
        orient_of = {}
        # node i orientation: o_i from the walk; seq contribution =
        # orient(seq, o_i), trimmed by the incoming overlap
        (n0, o0) = chain[0]
        a0 = attrs[n0]
        merged = a0.seq if o0 == "f" else _rc_str(a0.seq)
        orient_of[n0] = o0
        # iterative length-weighted coverage, the reference's pairwise
        # formula applied along the walk (src/Brush/PairMerge.java:149:
        # weights use the CURRENT merged length, so coverage is mildly
        # merge-order-dependent — same as the reference)
        cur_cov, cur_len = a0.cov, len(a0.seq)
        if has_pairs:
            pairs.extend(a0.pair_ends or [])
        for (n, o, ov) in chain[1:]:
            a = attrs[n]
            oseq = a.seq if o == "f" else _rc_str(a.seq)
            merged = merged + oseq[ov:]
            orient_of[n] = o
            l = len(a.seq)
            cur_cov = (cur_cov * cur_len + a.cov * l) / (cur_len + l)
            cur_len = cur_len + l - ov
            if has_pairs:
                pairs.extend(a.pair_ends or [])
        new_id = min(first, last)
        if new_id != first:
            # flip: reverse-complement the merged seq and all orientations
            merged = _rc_str(merged)
            orient_of = {n: ("r" if o == "f" else "f")
                         for n, o in orient_of.items()}
        row = [new_id, merged, cur_cov]
        if has_pairs:
            row.append(sorted(pairs))
        merged_rows.append(tuple(row))
        for n, o in orient_of.items():
            mapping_rows.append((n, new_id, o))

    if not merged_rows:
        return nodes, edges

    schema = "node_id string, seq string, cov double" + \
        (", pair_ends array<string>" if has_pairs else "")
    new_nodes_df = spark.createDataFrame(merged_rows, schema)
    mapping = spark.createDataFrame(mapping_rows, "m_id string, m_to string, o_a string")
    drops = spark.createDataFrame(drop_rows, "src string, et string, dst string, ov int")
    drops_rev = drops.select(F.col("dst").alias("src"), dna.flip_link("et").alias("et"),
                             F.col("src").alias("dst"), "ov")
    consumed = mapping.select(F.col("m_id").alias("node_id"))
    out_nodes = (nodes.join(consumed, "node_id", "left_anti")
                 .unionByName(new_nodes_df))
    kept = edges.join(drops.unionByName(drops_rev).distinct(),
                      ["src", "et", "dst", "ov"], "left_anti")
    s = (
        kept.join(F.broadcast(mapping.withColumnRenamed("m_id", "src")), "src", "left")
        .withColumn("n_src", F.coalesce(F.col("m_to"), F.col("src")))
        .withColumn("n_d1", F.when(F.col("m_to").isNull(), D1())
                    .when(D1() == F.col("o_a"), F.lit("f")).otherwise(F.lit("r")))
        .select(F.col("n_src").alias("src"),
                F.concat("n_d1", D2()).alias("et"), "dst", "ov")
    )
    d = (
        s.join(F.broadcast(mapping.withColumnRenamed("m_id", "dst")), "dst", "left")
        .withColumn("n_dst", F.coalesce(F.col("m_to"), F.col("dst")))
        .withColumn("n_d2", F.when(F.col("m_to").isNull(), D2())
                    .when(D2() == F.col("o_a"), F.lit("f")).otherwise(F.lit("r")))
        .select("src", F.concat(D1(), "n_d2").alias("et"),
                F.col("n_dst").alias("dst"), "ov")
    )
    return out_nodes, d.distinct()


def contract_chains(nodes: DataFrame, edges: DataFrame, seed: int = 42,
                    max_rounds: int = 64, serial_threshold: int = 4096,
                    coin: str = "xxhash64",
                    verbose: bool = False) -> tuple[DataFrame, DataFrame, int]:
    """Contract all compressible chains to single nodes.

    Materialized frames in, materialized frames out: every round reads
    ``nodes``/``edges`` several times, so pass checkpointed frames (a
    lazy input re-runs its whole plan per read); every graph this builds
    is cut before it is read again or returned.  Link and merge counts
    ride their cut (``plans.observed_cut``).

    Randomized pairwise rounds (G5/G6) while the link set is large; once it
    drops to ``serial_threshold`` the residual subgraph is contracted in
    one driver pass (G7/G8) — the same adaptive switch as the reference
    (src/Brush/BrushAssembler.java:506-556), which collapses the long tail
    of tiny rounds (each round is a fixed number of Spark jobs, so the
    tail costs O(log n) jobs distributed vs O(1) serial).

    Returns (nodes, edges, rounds_run).  Deterministic for a fixed seed.
    """
    import time
    rounds = 0
    for rnd in range(max_rounds):
        t0 = time.time()
        links, n_links = observed_cut(compressible(nodes, edges))
        if n_links == 0:
            break
        if n_links <= serial_threshold:
            nodes, edges = _serial_contract(nodes, edges, links.collect())
            nodes, edges = cut(nodes), cut(edges)
            rounds += 1
            if verbose:
                print(f"contract serial finish: {n_links} links "
                      f"({time.time() - t0:.1f}s)", flush=True)
            break
        merges, n_merges = observed_cut(_pick_merges(links, seed + rnd, coin))
        if n_merges == 0:
            # all-same-coin pathology on a residual chain: next seed reshuffles
            rounds += 1
            continue
        nodes = cut(_merge_nodes(nodes, merges))
        edges = cut(_rewrite_edges(edges, merges))
        rounds += 1
        if verbose:
            print(f"contract round {rnd}: {n_merges} merges "
                  f"({time.time() - t0:.1f}s)", flush=True)
    return nodes, edges, rounds
