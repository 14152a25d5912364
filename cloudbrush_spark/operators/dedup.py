"""Deduplication operator family.

Generalizes the reference's read-dedup stage (P1/P2:
src/Brush/GenNonContainedReads.java:42-316 groups reads by canonical key and
collapses exact + reverse-complement duplicates into a coverage count;
src/Brush/RedundantRemoval.java:97-102 drops the marked rows) into the
dedup surface a training-data pipeline needs: exact, fingerprint,
MinHash+LSH, SimHash and n-gram-Jaccard near-dup.

Scale notes (100 TB):
- every variant is a single hash-shuffle on a *bounded-width* key (hash or
  signature band), never on the full text;
- candidate generation is always key-equality (band bucket / shingle), so
  Catalyst uses plain shuffle-hash joins and AQE can split skewed buckets;
- per-bucket pair expansion is capped (``max_bucket``) exactly like the
  reference caps candidates per k-mer key
  (src/Brush/MatchPrefix.java:366-380) — unbounded buckets are the classic
  LSH skew bomb at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cloudbrush_spark.functions import dna, text
from cloudbrush_spark.plans.sever import sever_origin


def _stage_cut(df: DataFrame, sever: bool = False) -> DataFrame:
    """Materialize a small intermediate frame so a fanned-out DAG reads it
    instead of re-executing (and racing) the expensive upstream pipeline.

    Uses the RELIABLE checkpoint (replicated to ``spark.checkpoint.dir``)
    when one is configured — the mode to run on a multi-executor cluster,
    where executor loss / dynamic-allocation scale-in would invalidate
    executor-local blocks — and falls back to ``localCheckpoint(eager=True)``
    otherwise, which is correct and cheapest on local[*] where executor
    loss cannot happen.

    ``sever=True`` additionally rebuilds the frame from the materialized
    internal RDD, dropping the checkpoint's retained ORIGIN logical plan.
    Checkpoint LogicalRDDs keep the pre-checkpoint plan for stats /
    constraints, and in an ITERATIVE loop those references CHAIN: round
    r's origin contains round r-1's LogicalRDD and so on, and Catalyst's
    stats / runtime-filter / folding passes then re-walk an ever-
    deepening tree each round — per-round driver time grows
    geometrically while data shrinks (measured in the contraction loop:
    345 s for a late round whose data was ~1,000 rows; see
    ``plans.sever.cut``).  Use sever=True for the per-round
    cut of any unbounded loop; leave it off for one-shot cuts, where the
    origin stats help downstream static broadcast planning."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=True)
    if sever:
        out = sever_origin(out)
    # mark the wrapper so downstream operators (dedup_clusters) can skip
    # a redundant second cut of an already-materialized frame — one
    # fewer sequential checkpoint job on every composed pipeline (r15)
    out._cb_cut = True
    return out


# Over-cap bucket lists are usually tiny (bound: members * bands /
# bucket_cap), so the default plan collects them driver-side.  Past this
# many rows that collect becomes its own cliff (1e9 vectors x 16 tables /
# 1k cap ~ 16M driver rows) and the list stays distributed instead.
OVERCAP_COLLECT_MAX = 100_000

# Edge-count bound for solving connected components driver-side (one
# collect + union-find) instead of the distributed hash-min loop: 2M
# (a, b) rows is tens of MB on the driver — the same order as the
# broadcast thresholds this module already relies on — while the loop
# costs ~6 sequential driver round-trips per round for up to
# ~log2(diameter) rounds.  Past the bound the loop is the 100 TB path.
DRIVER_CC_MAX = 2_000_000


def _driver_cc_max(dtype) -> int:
    """Edge-count bound for the driver-side union-find fast path, by id
    dtype (advisor r14: the 2M bound assumed fixed-width ids — 2M edge
    rows of long URL ids is GBs of driver Python objects, and float ids
    containing NaN order differently under Python ``<`` than Spark SQL).

    Integral ids keep the designed 2M bound; strings (Python ordering
    still matches Spark's — UTF-8 byte order is code-point order) get an
    8x smaller bound to keep unknown-width ids at driver-safe RSS; any
    other dtype returns 0, forcing the distributed loop."""
    from pyspark.sql.types import IntegralType, StringType
    if isinstance(dtype, IntegralType):
        return DRIVER_CC_MAX
    if isinstance(dtype, StringType):
        return DRIVER_CC_MAX // 8
    return 0


def _bcast_rows_bound(dtype) -> int:
    """Row bound for FORCING a broadcast hint on an id-keyed frame,
    by id dtype: fixed-width (numeric/date) ids at 2M rows are tens of
    MB framed — the bound this module's gates were designed around —
    while variable-width ids (strings: URLs, UUIDs, paths) have no
    width bound, so the forced hint only applies under a 16x smaller
    count and the planner's size-based decision governs in between
    (advisor r14: a forced 4M-row broadcast of long string ids can
    pressure executor memory past any row-count reasoning)."""
    from pyspark.sql.types import NumericType, DateType, TimestampType
    if isinstance(dtype, (NumericType, DateType, TimestampType)):
        return 2_000_000
    return 125_000


def _driver_union_find(edges: DataFrame, rows):
    """Exact connected components of a BOUNDED edge list, driver-side.

    Union-find with path compression, attaching the larger root under
    the smaller, so each final root IS its component's minimum member —
    the same fixpoint the hash-min loop converges to.  ``rows`` is the
    ALREADY-COLLECTED edge rows (the caller's bounded limit-collect
    doubles as the size gate, so deciding the algorithm and fetching
    the edges is ONE job, not a count plus a collect — r15); ``edges``
    supplies the id dtype.  Returns ``(labels, nodes, n_nodes)``: a
    (member, label) frame over the paired nodes, its member projection,
    and the node count.

    Operates on the edge frame's ``a``/``b`` columns; callers gate this
    path to integral/string id types (``_driver_cc_max``) — Python's
    ``<`` matches Spark SQL ordering for those (UTF-8 byte order is
    code-point order), but diverges for floats containing NaN.
    """
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in rows:
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    labels_local = [(m, find(m)) for m in parent]
    from pyspark.sql.types import StructField, StructType
    id_type = edges.schema["a"].dataType
    schema = StructType([StructField("member", id_type, False),
                         StructField("label", id_type, False)])
    # bound the local frame's slice count: createDataFrame defaults to
    # defaultParallelism slices, and every downstream branch (sizes
    # aggregate, size join, singleton anti-join) then schedules that many
    # near-empty tasks — ~50k rows per slice keeps task counts
    # proportional to the data (r15; 3 branches x 32 one-row tasks at
    # bench scale)
    spark = edges.sparkSession
    slices = max(1, min(spark.sparkContext.defaultParallelism,
                        -(-len(labels_local) // 50_000)))
    labels = spark.createDataFrame(
        spark.sparkContext.parallelize(labels_local, slices), schema)
    return labels, labels.select("member"), len(labels_local)


def _cap_list_frame(big_lazy: DataFrame, schema: str,
                    collect_max: int | None = None) -> DataFrame | None:
    """Materialize an over-cap bucket-key list for its multiple downstream
    uses (anti-join, hot-member semi-join, emptiness branch).

    Common case: collect driver-side and re-emit as a literal frame — the
    list is provably small, a lazy plan would re-run the bucket aggregate
    per use, and knowing emptiness driver-side skips the whole level-2
    plumbing (several jobs) on the no-hot-bucket corpus.  Returns ``None``
    for empty.

    Past ``collect_max`` rows (default ``OVERCAP_COLLECT_MAX``, resolved
    at call time so tests can lower it) the driver collect is the cliff,
    so the SAME list is kept distributed as a checkpointed frame: every
    downstream join keeps its shape (the ``F.broadcast`` hints now ship
    the persisted frame — still only a few bytes per bucket key), and the
    aggregate still runs exactly once.
    """
    if collect_max is None:
        collect_max = OVERCAP_COLLECT_MAX
    rows = big_lazy.limit(collect_max + 1).collect()
    if not rows:
        return None
    if len(rows) <= collect_max:
        return big_lazy.sparkSession.createDataFrame(rows, schema)
    return _stage_cut(big_lazy)


def dedup_reads(reads: DataFrame, id_col: str = "read_id", seq_col: str = "seq",
                k: int = 21) -> DataFrame:
    """P1+P2 in one shot: canonical-key exact dedup of DNA reads.

    The reference does this with a quadratic in-group loop over first-K-mer
    groups (src/Brush/GenNonContainedReads.java:174-248); grouping by the
    full canonical sequence gives the same survivors (min-id representative,
    +1 coverage per duplicate, rc-duplicates collapsed) in one hash
    aggregate with map-side partial aggregation.
    """
    valid = reads.filter(dna.valid_seq(F.upper(F.col(seq_col)))).filter(F.length(seq_col) > k)
    return (
        valid.withColumn("__canon", dna.canonical(F.upper(F.col(seq_col))))
        .groupBy("__canon")
        .agg(
            F.min(id_col).alias("node_id"),
            F.count(F.lit(1)).cast("double").alias("cov"),
            F.min_by(seq_col, id_col).alias("seq"),
            # member read ids, kept for mate-pair ops (reference MATE field,
            # src/Brush/Node.java:1603-1660); sorted for determinism
            F.array_sort(F.collect_list(id_col)).alias("pair_ends"),
        )
        .drop("__canon")
    )


def exact_dedup(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """Generic exact dedup: one survivor (min id) per key + duplicate count."""
    return (
        df.withColumn("__key", key)
        .groupBy("__key")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_cnt"))
        .drop("__key")
    )


def fingerprint_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Near-exact dedup on the normalized-token fingerprint (case/punct/ws
    insensitive).  Output: one row per fingerprint with survivor + count."""
    return (
        docs.withColumn("fp", text.fingerprint(text_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_cnt"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_signatures(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       shingle_n: int = 3, num_hashes: int = 16) -> DataFrame:
    """Per-document MinHash signature, one row per (doc, hash_idx).

    Hash family: ``md5(i || shingle)`` — content-addressed and engine-
    portable (identical in any SQL engine, which is what makes this operator
    oracle-checkable), deterministic across runs, and uniformly distributed.
    Word-level ``shingle_n``-grams are the shingle universe.

    Plan shape: explode shingles -> distinct -> ONE wide aggregate with
    ``num_hashes`` min() columns -> melt back to (doc, h, minhash).  The
    hash-index explode would push num_hashes x |shingles| rows through the
    shuffle; the wide form hashes the same values but shuffles only
    |shingles| rows with map-side partial mins (~2x faster measured).
    """
    shingles = _shingle_sets(docs, id_col, text_col, shingle_n)
    return minhash_signatures_from_shingles(shingles, id_col, num_hashes)


def minhash_signatures_from_shingles(shingles: DataFrame, id_col: str = "doc_id",
                                     num_hashes: int = 16) -> DataFrame:
    """MinHash signatures over a prepared distinct (id, sh) shingle set —
    lets pipelines share one shingle materialization between signature
    generation and exact-Jaccard verification."""
    wide = shingles.groupBy(id_col).agg(*[
        F.min(F.md5(F.concat_ws("|", F.lit(str(h)), F.col("sh")))).alias(f"__h{h}")
        for h in range(num_hashes)
    ])
    melted = wide.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(h).alias("h"), F.col(f"__h{h}").alias("minhash"))
            for h in range(num_hashes)
        ])).alias("hm"),
    )
    return melted.select(id_col, F.col("hm.h").alias("h"),
                         F.col("hm.minhash").alias("minhash"))


def _band_keys(signatures: DataFrame, id_col: str,
               bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bkey) band-bucket keys from melted (id, h, minhash)
    signatures — band key = md5 of the sorted concatenated row
    minhashes.  Shared by the self-join (lsh_candidate_pairs) and
    cross-corpus (cross_corpus_near_dups) banding paths."""
    return (
        signatures.withColumn("band", (F.col("h") / rows_per_band).cast("int"))
        .filter(F.col("band") < bands)
        .groupBy(id_col, "band")
        .agg(F.md5(F.concat_ws("|", F.array_sort(F.collect_list(
            F.concat_ws(":", F.col("h").cast("string"), F.col("minhash")))))).alias("bkey"))
    )


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        bands: int = 4, rows_per_band: int = 4,
                        max_bucket: int = 50,
                        overcap: str = "drop") -> DataFrame:
    """Band the signatures and emit candidate pairs sharing >= 1 band bucket.

    Band key = md5 of the concatenated row minhashes; join on (band, key).
    ``max_bucket`` caps bucket width before pair expansion (skew control,
    mirrors src/Brush/MatchPrefix.java:366-380) — the cap is part of the
    operator's CONTRACT and the DuckDB oracle twin implements it too.

    ``overcap`` picks what happens to buckets over the cap:

    - ``"drop"`` (default): dropped whole.  Right for the PAIR product —
      a >max_bucket cluster's full pair expansion is quadratic and wrong
      at any cap; exact duplicates belong to the upstream hash dedup
      (P1 / fingerprint_dedup), which MinHash+LSH assumes ran first.
    - ``"star"``: emit (bucket-min-id, member) candidates instead — ONE
      candidate per member, linear in bucket size.  Right for CLUSTER
      consumers (curation dedup): mass NEAR-dup boilerplate (thousands
      of one-token-apart template docs) survives exact dedup, floods
      every band bucket past the cap, and under "drop" would sail
      through curation undeduplicated.  Star candidates still go
      through exact-Jaccard verification, so the result stays sound;
      members of an over-cap bucket that are near the bucket
      representative but not each other's transitive chain can be
      missed — clique-like mass duplication (the realistic shape) is
      fully recovered.  Per-bucket min is a groupBy aggregate
      (map-side combinable), never a window over the hot key.

    Output: (a, b) with a < b, distinct.
    """
    if overcap not in ("drop", "star"):
        raise ValueError(f"overcap must be 'drop' or 'star', got {overcap!r}")
    banded = _band_keys(signatures, id_col, bands, rows_per_band)
    # Materialize the banded table (``bands`` rows per doc — a bounded,
    # shuffle-sized frame) before fanning out: the bucket-cap broadcast
    # branch and both self-join sides otherwise re-execute the whole
    # signature pipeline each, and because those stages launch in
    # PARALLEL they race any upstream cache while it is still cold
    # (observed: the shingle+signature stages ran 4x, tripling the
    # query).  One eager cut turns the DAG into linear-once + cheap
    # fan-out — the same role a shuffle materialization plays at scale.
    #
    # Cluster caveat: localCheckpoint blocks live only on executors, so it
    # is NOT fault-tolerant — an executor loss (or dynamic-allocation
    # scale-in) after the cut makes downstream reads fail.  On a real
    # cluster set spark.checkpoint.dir and use _stage_cut's reliable mode
    # (DataFrame.checkpoint) instead; locally the eager cut is exactly
    # right and avoids the parallel-stage cold-cache race.
    banded = _stage_cut(banded)
    # oversized-bucket detection via groupBy (map-side partials, skew-proof)
    # + broadcast anti-join — never a window holding a whole hot bucket in
    # one task.
    big = (banded.groupBy("band", "bkey").count()
           .filter(F.col("count") > max_bucket).select("band", "bkey"))
    small = banded.join(F.broadcast(big), ["band", "bkey"], "left_anti")
    a = small.select(F.col(id_col).alias("a"), "band", "bkey")
    b = small.select(F.col(id_col).alias("b"), "band", "bkey")
    pairs = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    if overcap == "star":
        hot = banded.join(F.broadcast(big), ["band", "bkey"], "left_semi")
        reps = hot.groupBy("band", "bkey").agg(F.min(id_col).alias("a"))
        star = (
            hot.join(reps, ["band", "bkey"])
            .filter(F.col(id_col) != F.col("a"))
            .select("a", F.col(id_col).alias("b"))
        )
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def minhash_dedup_pairs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        shingle_n: int = 3, num_hashes: int = 16,
                        bands: int = 4, rows_per_band: int = 4,
                        jaccard_threshold: float = 0.5,
                        overcap: str = "drop") -> DataFrame:
    """Full near-dup pipeline: MinHash -> LSH candidates -> exact-Jaccard
    verification (the verify step mirrors J2's "candidates then theta-check"
    shape, src/Brush/VerifyOverlap.java:287-309).  Thin tokenizing wrapper
    over ``minhash_dedup_pairs_from_shingles`` (see there for the shingle
    cache-lifecycle notes).

    Output: (a, b, jaccard) pairs above threshold, a < b.
    """
    # the RAW shingle stream, not the distinct set: the signature
    # aggregate is multiset-invariant (min over duplicates == min over
    # the set) and the Jaccard verify re-distincts AFTER the candidate
    # filter, so the corpus-width distinct exchange here bought nothing
    # (r14, guide §2.4 — one full-width shuffle removed)
    stream = docs.select(
        F.col(id_col),
        F.explode(text.word_shingles(text.tokens(text_col), shingle_n))
        .alias("sh"))
    return minhash_dedup_pairs_from_shingles(
        stream, id_col=id_col,
        num_hashes=num_hashes, bands=bands, rows_per_band=rows_per_band,
        jaccard_threshold=jaccard_threshold, overcap=overcap,
        shingles_distinct=False)


def minhash_dedup_pairs_from_shingles(shingles: DataFrame, id_col: str = "doc_id",
                                      num_hashes: int = 16,
                                      bands: int = 4, rows_per_band: int = 4,
                                      jaccard_threshold: float = 0.5,
                                      overcap: str = "drop",
                                      shingles_distinct: bool = True) -> DataFrame:
    """``minhash_dedup_pairs`` over a PREPARED (id, sh) shingle frame —
    the threading entry for pipelines (curation) that already
    materialized the token stream in an earlier stage and shingle from it
    directly, so the tokenizer regex runs once per document across the
    whole composite instead of once per stage.

    ``shingles_distinct=False`` declares the frame a raw shingle STREAM
    (duplicates possible).  The signature aggregate is multiset-invariant
    either way; the exact-Jaccard verify then re-distincts AFTER the
    candidate filter (candidate-width), so callers should NOT pay a
    corpus-width distinct up front (r14).

    The shingle frame feeds both the signature aggregate and the exact-
    Jaccard verification — persisted here so it evaluates once.
    persist(), not localCheckpoint(eager=False): the lazy checkpoint
    materializes by RE-RUNNING the marked tasks after the driving query's
    execution is torn down, and those replayed tasks report to that
    query's already-unregistered SQLMetrics accumulators — the source of
    the benign-but-noisy "attempted to access non-existent accumulator"
    ERROR storm in earlier bench logs.

    Cache lifecycle: the returned pair set is FAR smaller than the
    shingle set, so the final result is eagerly materialized
    (localCheckpoint(eager=True)) and the shingle cache released before
    returning — a long-running session calling this repeatedly holds
    storage memory only for its own results, never for leaked
    intermediates (the round-4 bench leak: +6s on this query and memory
    pressure on everything after it).
    """
    from pyspark import StorageLevel
    shingles = shingles.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        sigs = minhash_signatures_from_shingles(shingles, id_col, num_hashes)
        # materialize the (tiny) candidate set before the verify joins:
        # _jaccard_for_pairs references the pair frame in several join
        # branches, and without a cut the whole signature aggregate +
        # banding pipeline re-executes once per branch (measured 2-3x)
        cands = _stage_cut(lsh_candidate_pairs(sigs, id_col, bands,
                                               rows_per_band, overcap=overcap))
        # ONE count over the checkpointed candidate frame serves every
        # bounded-size decision below (the old shape paid a separate
        # limit().count() job inside _candidate_shingles — r14 verdict #5)
        n_cands = cands.count()
        sh_v = _candidate_shingles(shingles, cands, id_col, n_cands=n_cands)
        if sh_v is not shingles:
            if not shingles_distinct:
                # the verify math needs SET semantics (sizes,
                # intersections); after the candidate filter this
                # distinct is candidate-width
                sh_v = sh_v.distinct()
            # the verify references the filtered shingle frame FOUR ways
            # (both intersection join sides + the two size projections);
            # uncut, each reference re-runs the semi-join + distinct as
            # its own parallel AQE stage chain (profiled at sf0.1: the
            # candidate-width distinct executed 4x — 8 of the query's 30
            # jobs).  One candidate-width cut replaces the four replays.
            # Past the _candidate_shingles gate the frame IS the
            # corpus-width stream — there the cut would materialize a
            # corpus-width distinct and is deliberately skipped.
            sh_v = _stage_cut(sh_v)
        elif not shingles_distinct:
            sh_v = sh_v.distinct()
        jac = _jaccard_for_pairs(sh_v, cands, id_col, n_pairs=n_cands)
        return _stage_cut(jac.filter(F.col("jaccard") >= jaccard_threshold))
    finally:
        shingles.unpersist()


def _candidate_shingles(sh: DataFrame, cands: DataFrame,
                        id_col: str, n_cands: int | None = None) -> DataFrame:
    """Restrict a shingle table to the documents named by a MATERIALIZED
    candidate-pair frame before the exact-Jaccard verify joins.

    ``_jaccard_for_pairs`` only ever consumes shingle rows of docs that
    appear in the pair set (every reference is an inner join keyed on
    a/b), so the filter is output-invisible — but without it the verify's
    size aggregate and both intersection joins each EXCHANGE the full
    corpus-width shingle table (guide §2.3: shuffle candidate-width
    bytes, not corpus-width).  The broadcast semi-join is hinted only
    when the pair count is provably bounded; past the bound the table
    passes through unfiltered — the candidate set is then corpus-scale
    itself and the filter would buy little.  ``n_cands`` threads a count
    the caller already paid for (the checkpointed frame's count) so this
    check costs zero jobs; only an explicit ``None`` runs the bounded
    limit-count probe.
    """
    if n_cands is None:
        n_cands = cands.limit(2_000_001).count()
    if n_cands > 2_000_000:
        return sh
    ids = (cands.select(F.col("a").alias(id_col))
           .unionByName(cands.select(F.col("b").alias(id_col)))
           .distinct())
    # dtype-aware broadcast hint (r15, advisor): 2x2M fixed-width ids is
    # tens of MB framed — safe to force; ids of UNKNOWN width (strings —
    # long URLs would be GBs at the same row count) get the forced hint
    # only under a 16x smaller bound and otherwise leave the strategy to
    # AQE's actual-size decision (the semi-join itself stays).
    if n_cands <= _bcast_rows_bound(cands.schema["a"].dataType):
        ids = F.broadcast(ids)
    return sh.join(ids, id_col, "left_semi")


def cross_corpus_near_dups(new_docs: DataFrame, ref_docs: DataFrame,
                           id_col: str = "doc_id", text_col: str = "text",
                           shingle_n: int = 3, num_hashes: int = 16,
                           bands: int = 4, rows_per_band: int = 4,
                           jaccard_threshold: float = 0.5,
                           max_bucket: int = 50,
                           overcap: str = "drop",
                           new_tokens_col: str | None = None) -> DataFrame:
    """Near-dup pairs BETWEEN two corpora: every new document that
    near-duplicates a reference document — the "dedup this crawl against
    the previous release" operation, which a self-join near-dup cannot
    express without concatenating the corpora and paying the reference
    side's quadratic self-pairs.

    ``new_tokens_col`` names a pre-materialized token-array column on
    the NEW side (pipelines that already tokenized, e.g. curation's
    gate — the ``decontaminate`` threading convention); the reference
    side always tokenizes its own ``text_col``.

    Output: (new_id, ref_id, jaccard) with jaccard >= threshold, id
    dtypes preserved from the inputs.  The MinHash family is the same
    content-addressed md5 construction as ``minhash_dedup_pairs`` —
    identical text on either side produces identical signatures, so the
    cross join fires on exactly the buckets a concatenated self-join
    would, minus the within-side pair expansion.

    Scale shape: both sides' (tagged) shingle sets union into ONE
    signature aggregate and ONE banding pass; the bucket join is
    new-side x ref-side only, so within-side duplicates (the reference
    corpus is typically the big, already-deduped one) never expand.
    The bucket cap drops buckets over ``max_bucket`` TOTAL members;
    ``overcap='star'`` instead pairs each over-cap NEW member with the
    bucket's min REF member (linear — the mass-boilerplate case where
    a template floods a bucket on both sides), verified like every
    other candidate.
    """
    if overcap not in ("drop", "star"):
        raise ValueError(f"overcap must be 'drop' or 'star', got {overcap!r}")
    new_t, ref_t = new_docs.schema[id_col].dataType, \
        ref_docs.schema[id_col].dataType

    def _tagged(docs: DataFrame, tag: str,
                tokens_col: str | None = None) -> DataFrame:
        # raw shingle STREAMS (no distinct): signatures are multiset-
        # invariant and the verify re-distincts after the candidate
        # filter — see minhash_dedup_pairs_from_shingles (r14)
        toks = text.tokens(F.col(text_col)) if tokens_col is None \
            else F.col(tokens_col)
        sh = docs.select(
            F.col(id_col),
            F.explode(text.word_shingles(toks, shingle_n)).alias("sh"))
        return sh.select(
            F.concat(F.lit(tag), F.col(id_col).cast("string")).alias(id_col),
            "sh")

    from pyspark import StorageLevel
    sh = _tagged(new_docs, "n|", new_tokens_col) \
        .unionByName(_tagged(ref_docs, "r|")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        sigs = minhash_signatures_from_shingles(sh, id_col, num_hashes)
        banded = _stage_cut(_band_keys(sigs, id_col, bands, rows_per_band))
        big = (banded.groupBy("band", "bkey").count()
               .filter(F.col("count") > max_bucket).select("band", "bkey"))
        small = banded.join(F.broadcast(big), ["band", "bkey"], "left_anti")
        n_side = small.filter(F.col(id_col).startswith("n|")) \
            .select(F.col(id_col).alias("a"), "band", "bkey")
        r_side = small.filter(F.col(id_col).startswith("r|")) \
            .select(F.col(id_col).alias("b"), "band", "bkey")
        pairs = n_side.join(r_side, ["band", "bkey"]).select("a", "b")
        if overcap == "star":
            hot = banded.join(F.broadcast(big), ["band", "bkey"], "left_semi")
            # rep = min REF member per hot bucket; buckets with no ref
            # member contribute nothing (there is no ref to match)
            reps = (hot.filter(F.col(id_col).startswith("r|"))
                    .groupBy("band", "bkey").agg(F.min(id_col).alias("b")))
            star = (hot.filter(F.col(id_col).startswith("n|"))
                    .join(reps, ["band", "bkey"])
                    .select(F.col(id_col).alias("a"), "b"))
            pairs = pairs.unionByName(star)
        cands = _stage_cut(pairs.distinct())
        # one count over the checkpointed frame feeds every bounded-size
        # decision (candidate filter, verify broadcast hints) — r15, the
        # same zero-extra-jobs plumbing as the self-join path
        n_cands = cands.count()
        sh_v = _candidate_shingles(sh, cands, id_col, n_cands=n_cands)
        if sh_v is not sh:
            sh_v = _stage_cut(sh_v.distinct())
        else:
            sh_v = sh_v.distinct()
        jac = _jaccard_for_pairs(sh_v, cands, id_col, n_pairs=n_cands)
        out = jac.filter(F.col("jaccard") >= jaccard_threshold).select(
            F.expr("substring(a, 3)").cast(new_t).alias("new_id"),
            F.expr("substring(b, 3)").cast(ref_t).alias("ref_id"),
            "jaccard")
        return _stage_cut(out)
    finally:
        sh.unpersist()


# --------------------------------------------------------------------------
# n-gram Jaccard (exact)
# --------------------------------------------------------------------------

def _shingle_sets(docs: DataFrame, id_col: str, text_col: str, shingle_n: int) -> DataFrame:
    toks = docs.select(F.col(id_col), text.tokens(text_col).alias("toks"))
    return (
        toks.select(F.col(id_col), F.explode(text.word_shingles(F.col("toks"), shingle_n)).alias("sh"))
        .distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        shingle_n: int = 3, threshold: float = 0.5,
                        max_shingle_df: int = 1000) -> DataFrame:
    """Exact n-gram Jaccard similarity self-join.

    Inverted-index equi-join on shingle (the same candidate structure as the
    reference's k-mer overlap join J1, src/Brush/MatchPrefix.java:150-174),
    then |A ∩ B| from the join count and |A ∪ B| = |A| + |B| - |A ∩ B|.
    ``max_shingle_df`` drops ubiquitous shingles before the join — the exact
    analogue of the reference's high-frequency k-mer blacklist
    (src/Brush/MatchPrefix.java:155-158); at 100 TB this is what prevents
    the hot-token shuffle explosion.
    """
    sh = _shingle_sets(docs, id_col, text_col, shingle_n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    hot = (sh.groupBy("sh").count()
           .filter(F.col("count") > max_shingle_df).select("sh"))
    rare = sh.join(F.broadcast(hot), "sh", "left_anti")
    a = rare.select(F.col(id_col).alias("a"), "sh")
    b = rare.select(F.col(id_col).alias("b"), "sh")
    inter = (
        a.join(b, "sh").filter(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb"))
    return (
        inter.join(sa, "a").join(sb, "b")
        .withColumn("jaccard", F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def ngram_jaccard_pairs_for(docs: DataFrame, pairs: DataFrame, id_col: str,
                            text_col: str, shingle_n: int) -> DataFrame:
    """Exact Jaccard for a given candidate-pair set (verification step)."""
    sh = _shingle_sets(docs, id_col, text_col, shingle_n)
    return _jaccard_for_pairs(sh, pairs, id_col)


def _jaccard_for_pairs(sh: DataFrame, pairs: DataFrame, id_col: str,
                       n_pairs: int | None = None) -> DataFrame:
    """Exact Jaccard for (a, b) candidate pairs against an (id, sh)
    shingle table.

    ``n_pairs`` (when the caller already counted its materialized pair
    frame) enables explicit broadcast hints on every provably-bounded
    side — the pair frame itself, the per-pair intersection counts
    (<= n_pairs rows) and the per-doc size table (<= 2 * n_pairs rows
    after the candidate filter).  Statically-planned broadcast joins
    skip the probe-side exchange altogether, where leaving them to
    AQE's runtime SMJ->BHJ conversion still shuffles-writes both sides
    and pays one sequential stage job per exchange (r15; the verify's
    join chain was ~8 such jobs at bench scale).  Unhinted (n_pairs
    None or over the broadcast bound) the shape is unchanged and AQE
    decides."""
    hint = n_pairs is not None and \
        n_pairs <= _bcast_rows_bound(pairs.schema["a"].dataType)
    p = F.broadcast(pairs) if hint else pairs
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a_sh = sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sha"))
    inter = (
        p.join(a_sh, "a")
        .join(sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sha")), ["b", "sha"])
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb"))
    if hint:
        # inter is bounded by the pair count; the size tables are only
        # broadcastable when the shingle frame was candidate-filtered
        # (sizes is then <= 2 * n_pairs rows) — a corpus-width pass-
        # through keeps the shuffle join for them
        inter = F.broadcast(inter)
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    return (
        pairs.join(inter, ["a", "b"], "left")
        .na.fill({"inter": 0})
        .join(sa, "a").join(sb, "b")
        .withColumn("jaccard", F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")))
        .select("a", "b", "jaccard")
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

# Deterministic per-document token budget for the bit-sliced simhash
# aggregate — see the simhash() docstring for the two overflow bounds
# (16-bit lane carry at 65,536; ANSI BIGINT sum at ~32,768 worst-case).
SIMHASH_MAX_TOKENS = 32_000


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document from md5(token) sign votes, carried as two
    32-bit halves ``sim_hi``/``sim_lo``.

    Two halves instead of one 64-bit value so the signature (a) never touches
    the sign bit of a signed long — identical arithmetic in every SQL engine,
    which is what makes this operator oracle-checkable — and (b) XORs cheaply
    for Hamming distance.  Hash source is the first/second 8 hex chars of
    md5(token): content-addressed, engine-portable, uniform.

    Pure expression pipeline: explode tokens -> per-bit +/-1 votes via bit
    extraction -> sum -> reassemble sign bits.  JVM-side end to end (md5,
    conv, shiftright are all Catalyst expressions inside codegen).

    Per-document tokens are deterministically capped at ``SIMHASH_MAX_TOKENS``
    (first tokens win, via an array slice before the explode).  Two hard
    limits of the bit-sliced aggregate motivate the cap: a 16-bit lane
    carries into its neighbor once a lane's vote count reaches 65,536, and
    under Spark 4's default ANSI mode the packed BIGINT ``sum`` itself
    overflows (ArithmeticException) once the top lane's cumulative sum
    crosses 2^15 rows worst-case (~32,768 tokens).  The 32,000 cap keeps
    both bounds safe with margin; a signature over the first 32k tokens is
    the standard long-document convention for near-dup hashing.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(F.slice(text.tokens(text_col), 1, SIMHASH_MAX_TOKENS)).alias("tok"))
    hashed = toks.select(
        id_col,
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("hvh"),
        F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long").alias("hvl"),
    )
    # sign(sum of +/-1 votes) == (2 * count_of_set_bits > n), and the 64
    # per-bit counters are BIT-SLICED four to a long (16-bit lanes): the
    # aggregate carries 16 packed sum columns instead of 64, quartering
    # the hash-aggregate state and shuffle row width.  Safe because the
    # SIMHASH_MAX_TOKENS slice above bounds per-doc votes below both the
    # lane-carry (65,536) and ANSI signed-sum (~32,768) limits.
    #
    # The wide bit expressions are generated as SQL STRINGS and parsed by
    # one F.expr each: building them as Column-object loops cost ~3s of
    # py4j round trips PER CALL (thousands of JVM calls for ~1s of actual
    # execution) — driver-side plan construction is part of the query's
    # latency budget too.
    LANES, W = 4, 16

    def packed_sql(src: str, c: int) -> str:
        return " + ".join(
            f"shiftleft((shiftright({src}, {LANES * c + lane}) & 1), {W * lane})"
            for lane in range(LANES)
        )

    agg = hashed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.expr(f"sum({packed_sql('hvh', c)})").alias(f"h{c}") for c in range(8)],
        *[F.expr(f"sum({packed_sql('hvl', c)})").alias(f"l{c}") for c in range(8)],
    )

    def assemble_sql(prefix: str) -> str:
        terms = " + ".join(
            f"IF(2 * (shiftright({prefix}{i // LANES}, {W * (i % LANES)}) & 65535)"
            f" > n, {1 << i}L, 0L)"
            for i in range(32)
        )
        return f"CAST({terms} AS BIGINT)"

    return agg.select(
        id_col,
        F.expr(assemble_sql("h")).alias("sim_hi"),
        F.expr(assemble_sql("l")).alias("sim_lo"),
    )


def hamming_near_pairs(sig: DataFrame, id_col: str,
                       hi_col: str = "sim_hi", lo_col: str = "sim_lo",
                       max_hamming: int = 7, bucket_cap: int = 1000) -> DataFrame:
    """Near-dup pairs of 64-bit signatures (two 32-bit halves) within a
    Hamming budget, banded for scale.  Shared core of SimHash text dedup
    and blockhash binary dedup.

    Scale design (the three levers that survive 1B items):

    1. **Banding over DISTINCT signatures.** Identical content — the
       dominant duplicate mode at corpus scale — collapses to one
       signature row before any banding or pair expansion; the
       1k-identical-docs skew case costs one signature, not 10^6 bucket
       rows.  Item-level pairs are recovered afterwards by joining members
       back onto signature pairs (shuffle joins AQE can split).
    2. **Adaptive chunk width.** Pigeonhole: a pair within Hamming d
       shares an exact chunk when chunks > d.  For max_hamming <= 3 use
       4 x 16-bit chunks (65k bucket values — fine-grained buckets);
       for <= 7, 8 x 8-bit chunks (the minimum table count that keeps
       recall 1).
    3. **Hierarchical re-banding of over-cap buckets** (found with a
       groupBy + broadcast semi/anti-join, never a window over the hot
       key).  Hot chunk values are STRUCTURAL, not adversarial: majority
       votes over shared common tokens correlate signature bits across a
       corpus, so one byte value of one chunk can collect thousands of
       distinct signatures (observed at sf0.1: one 8-bit chunk bucket
       held 1,329 of 4,971 signatures, and DROPPING it lost 41 true
       pairs vs the brute-force oracle).  Instead of dropping, members
       of an over-cap bucket are re-banded on ``max_hamming + 1``
       sub-chunks of the full 64 bits rotated half a chunk-width off the
       level-1 partition: a pair within the Hamming budget differs in at
       most ``max_hamming`` of the sub-chunks, so pigeonhole again
       guarantees one equal sub-chunk — recall stays EXACT, while the
       hot bucket's quadratic pair expansion is subdivided by the
       rotated bits that near-pairs must mostly share (the offset keeps
       any sub-chunk from coinciding with the parent chunk, whose bits
       are equal across the bucket by construction).  Only a
       sub-bucket that STILL exceeds the cap (signatures agreeing on a
       parent chunk and a complement sub-chunk in over-cap mass) is
       dropped — nested skew two levels deep.

    Output: (a, b, hamming) with a < b, exact w.r.t. the brute-force scan
    whenever no SECOND-level bucket exceeds ``bucket_cap``.
    """
    if max_hamming <= 3:
        nchunks, width, mask = 4, 16, 0xFFFF
    elif max_hamming <= 7:
        nchunks, width, mask = 8, 8, 0xFF
    else:
        raise ValueError("chunk banding guarantees recall only for max_hamming <= 7")
    # the signature frame feeds the distinct-banding branch AND both
    # member-recovery joins — materialize once (signature computation is
    # the expensive upstream: a 64-wide token aggregate for SimHash, an
    # Arrow pandas stage for blockhash)
    from pyspark import StorageLevel
    sig = sig.select(F.col(id_col),
                     F.col(hi_col).alias("sim_hi"), F.col(lo_col).alias("sim_lo")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    # populate the cache with ONE linear job before the DAG fans out: the
    # chunk-explode branches (bucket-cap broadcast + both join sides) and
    # the member-recovery joins launch in parallel and would each
    # recompute the expensive signature aggregate against a cold cache
    n_sig = sig.count()
    try:
        return _stage_cut(_hamming_pairs_from_cached(
            sig, id_col, nchunks, width, mask, max_hamming, bucket_cap,
            n_sig=n_sig))
    finally:
        # the pair result is tiny next to the signature frame; eager
        # checkpoint above materializes it, so the cache can be released
        # before returning (round-4 lesson: persist without unpersist
        # degraded every later query in the bench session)
        sig.unpersist()


def _hamming_pairs_from_cached(sig: DataFrame, id_col: str, nchunks: int,
                               width: int, mask: int, max_hamming: int,
                               bucket_cap: int,
                               distinct_sigs: bool = False,
                               n_sig: int | None = None) -> DataFrame:
    """``distinct_sigs=True`` asserts the input carries exactly ONE row per
    (sim_hi, sim_lo) — the signature-NODE form ``simhash_clusters`` builds.
    The id column then rides the banding directly, which drops four whole
    plan legs with identical output: the pre-banding ``distinct`` (already
    distinct), the identical-signature self-join (provably empty), and
    both member-recovery joins (the pair rows already carry their ids).
    ``n_sig`` threads a row count the caller already paid for (cache
    populate / checkpoint count) so the parallelism sizing below does not
    re-run the job."""
    half = nchunks // 2
    sc = sig.sparkSession.sparkContext
    # parallelism for the pair-expansion stages.  The banded join is an
    # EXPLOSIVE operator: a few MB of banded signatures in, up to
    # cap^2/2 candidate rows per bucket out — so AQE's input-byte-based
    # partition coalescing is exactly wrong for it (profiled at x10: the
    # whole expansion coalesced onto 2 tasks, 123s of a 146s query).
    # Explicit repartition(n, keys) is exempt from AQE coalescing, which
    # is what pins the expansion width below.  Width is sized to the
    # SIGNATURE COUNT (cached upstream by both callers, so the count is
    # a no-op job), not blindly to the core count: pinning 32-wide
    # blocks under a 5k-signature sf0.1 input re-adds ~1s of pure
    # task-launch overhead across the ~10 downstream stages that fan
    # out from the cut — the narrow plan AQE picked there was right.
    # ~1500 signatures per partition reproduces the measured-good x10
    # width (50k sigs / 32 cores) and shrinks to a handful of tasks on
    # test-scale inputs; the cap keeps task counts bounded at 1B rows.
    npart_max = max(sc.defaultParallelism,
                    int(sig.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    if n_sig is None:
        n_sig = sig.count()
    npart = max(1, min(npart_max, -(-n_sig // 1500)))
    # one materialized distinct: every downstream branch (cap aggregate,
    # both pair-join sides, the hot-member explode) re-derives from
    # ``chunks`` — without the cut each re-derivation replays the
    # distinct's shuffle.  Round-robin repartition BEFORE the cut so the
    # checkpointed blocks (the fan-out root of every downstream stage)
    # carry full parallelism instead of AQE's byte-sized 1-2 partitions.
    # In distinct_sigs mode the input is already one row per signature,
    # so the distinct is skipped and the id column rides along.  Both
    # modes HASH-repartition on the signature (uniform — it is a hash)
    # rather than distinct().repartition(n): the explicit repartition
    # satisfies the dedup aggregate's required distribution, so the
    # whole thing is ONE exchange with no round-robin
    # sort-before-repartition, and AQE never coalesces it (r14).
    if distinct_sigs:
        dsig = _stage_cut(sig.select(id_col, "sim_hi", "sim_lo")
                          .repartition(npart, "sim_hi", "sim_lo"))
        id_cols = [id_col]
    else:
        dsig = _stage_cut(sig.select("sim_hi", "sim_lo")
                          .repartition(npart, "sim_hi", "sim_lo")
                          .dropDuplicates())
        id_cols = []
    chunks = dsig.select(
        *id_cols, "sim_hi", "sim_lo",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("c"),
                F.shiftright(F.col("sim_hi" if c < half else "sim_lo"), (c % half) * width)
                .bitwiseAND(F.lit(mask)).alias("v"),
            )
            for c in range(nchunks)
        ])).alias("ch"),
    ).select(*id_cols, "sim_hi", "sim_lo",
             F.col("ch.c").alias("c"), F.col("ch.v").alias("v"))
    # the over-cap bucket list is bounded by n_distinct_sigs * nchunks /
    # bucket_cap rows; _cap_list_frame collects it once below the driver
    # threshold and keeps it distributed past it
    big = _cap_list_frame(
        chunks.groupBy("c", "v").count()
        .filter(F.col("count") > bucket_cap).select("c", "v"),
        "c int, v long")
    capped = chunks if big is None else \
        chunks.join(F.broadcast(big), ["c", "v"], "left_anti")

    def pair_join(banded: DataFrame, keys: list[str]) -> DataFrame:
        ia = [F.col(id_col).alias("ia")] if distinct_sigs else []
        ib = [F.col(id_col).alias("ib")] if distinct_sigs else []
        carry = (["ia", "ib"] if distinct_sigs else []) + ["ha", "la", "hb", "lb"]
        a = banded.select(*ia, F.col("sim_hi").alias("ha"),
                          F.col("sim_lo").alias("la"), *keys)
        b = banded.select(*ib, F.col("sim_hi").alias("hb"),
                          F.col("sim_lo").alias("lb"), *keys)
        return (
            a.join(b, keys)
            .filter((F.col("ha") < F.col("hb"))
                    | ((F.col("ha") == F.col("hb")) & (F.col("la") < F.col("lb"))))
            .select(
                *carry,
                (F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
                 + F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))).alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
        )

    # level 2: re-band over-cap bucket members on max_hamming+1 sub-chunks
    # taken from the full 64 bits ROTATED by width/2 relative to the
    # level-1 partition.  Pigeonhole holds independently of the parent
    # chunk: a pair within Hamming d <= max_hamming differs in at most
    # max_hamming of the ns = max_hamming+1 sub-chunks, so at least one
    # sub-chunk is equal — recall stays exact.  The half-width offset
    # guarantees no sub-chunk coincides with the parent chunk's bit
    # range, so the degenerate "sub-chunk == parent chunk" bucket (which
    # would inherit the whole hot bucket and stay over cap) cannot form.
    # Versus the earlier complement-bits scheme this drops the per-parent
    # CASE dispatch (ns x nchunks x width generated terms) to ns fixed
    # 1-2-term slice expressions — ~30x less generated code, which cut
    # ~2s of Janino compile off the cold path with identical sf0.1
    # output.
    ns = max_hamming + 1

    def _sub_sql(j: int) -> str:
        start = (j * width + width // 2) % 64
        parts, t, pos = [], 0, start
        while t < width:
            col = "sim_hi" if pos < 32 else "sim_lo"
            off = pos % 32
            take = min(width - t, 32 - off)
            parts.append(
                f"shiftleft(shiftright({col}, {off}) & {(1 << take) - 1}, {t})")
            t += take
            pos = (pos + take) % 64
        return " + ".join(parts)

    # level-2 plumbing costs a few extra jobs; pay it only when a hot
    # bucket actually exists (known from the collected cap list — no
    # extra emptiness job).  When it does, the level-2 rows FOLD INTO
    # THE LEVEL-1 PAIR JOIN as a tagged union keyed on (c, v, sc, sv):
    # level-1 rows carry the sentinel (sc=-1, sv=0), so they can only
    # ever meet level-1 rows of the same (c, v) and level-2 rows only
    # level-2 rows of the same sub-bucket — the pair set is exactly the
    # union the two separate joins produced, through ONE exchange and
    # ONE join stage instead of two of each (r14 verdict #1: the
    # always-hot sf0.1 fixture paid the second join's sequential AQE
    # stage jobs on every run).
    if big is None:
        sig_pairs = pair_join(capped, ["c", "v"])
    else:
        hot = chunks.join(F.broadcast(big), ["c", "v"], "left_semi")
        sub_cols = [F.expr(_sub_sql(j)).alias(f"__sv{j}") for j in range(ns)]
        sub = hot.select(*id_cols, "sim_hi", "sim_lo", "c", "v",
                         *sub_cols).select(
            *id_cols, "sim_hi", "sim_lo", "c", "v",
            F.explode(F.array(*[
                F.struct(F.lit(j).alias("sc"), F.col(f"__sv{j}").alias("sv"))
                for j in range(ns)
            ])).alias("s"),
        ).select(*id_cols, "sim_hi", "sim_lo", "c", "v",
                 F.col("s.sc").alias("sc"), F.col("s.sv").alias("sv"))
        sub = _stage_cut(sub)  # ns rows per hot member — small;
        # cuts the chunk/CASE pipeline from re-running for the sub-bucket
        # cap aggregate, its broadcast and the pair join
        big2 = (sub.groupBy("c", "v", "sc", "sv").count()
                .filter(F.col("count") > bucket_cap)
                .select("c", "v", "sc", "sv"))
        capped2 = sub.join(F.broadcast(big2), ["c", "v", "sc", "sv"], "left_anti")
        lvl1 = capped.select(
            *id_cols, "sim_hi", "sim_lo", "c", "v",
            F.lit(-1).alias("sc"), F.lit(0).cast("long").alias("sv"))
        banded2 = lvl1.unionByName(
            capped2.select(*id_cols, "sim_hi", "sim_lo", "c", "v", "sc", "sv"))
        sig_pairs = pair_join(banded2, ["c", "v", "sc", "sv"])
    sig_pairs = sig_pairs.distinct()
    if distinct_sigs:
        # ids rode the banding (1:1 with signatures): no member-recovery
        # joins, and the identical-signature self-join is provably empty
        return sig_pairs.select(F.least("ia", "ib").alias("a"),
                                F.greatest("ia", "ib").alias("b"), "hamming")
    mem_a = sig.select(F.col(id_col).alias("ia"),
                       F.col("sim_hi").alias("ha"), F.col("sim_lo").alias("la"))
    mem_b = sig.select(F.col(id_col).alias("ib"),
                       F.col("sim_hi").alias("hb"), F.col("sim_lo").alias("lb"))
    inter = (
        sig_pairs.join(mem_a, ["ha", "la"]).join(mem_b, ["hb", "lb"])
        .select(F.least("ia", "ib").alias("a"),
                F.greatest("ia", "ib").alias("b"), "hamming")
    )
    same = (
        sig.alias("x").join(sig.alias("y"), ["sim_hi", "sim_lo"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(F.col(f"x.{id_col}").alias("a"), F.col(f"y.{id_col}").alias("b"),
                F.lit(0).alias("hamming"))
    )
    return inter.unionByName(same)


def dedup_clusters(pairs: DataFrame, items: DataFrame | None = None,
                   id_col: str = "doc_id", max_iter: int = 50) -> DataFrame:
    """Duplicate CLUSTERS from a verified near-dup pair set — the linear
    product a 100 TB pipeline consumes, vs the pair enumeration that is
    inherently quadratic in duplicate-cluster size (m docs sharing a
    signature -> m(m-1)/2 pair rows, but only m cluster rows).

    Connected components by hash-min label propagation: every node starts
    labeled with its own id; each round every node takes the min of its
    own and its neighbors' labels; at fixpoint each component carries its
    minimum member id.  The generalization of P1's (survivor, count)
    contract (src/Brush/GenNonContainedReads.java:174-248: min-id
    representative + coverage count per duplicate group) from exact-key
    groups to arbitrary near-dup graphs.

    ``items`` (optional) supplies the full id universe so unpaired docs
    come out as singleton clusters — making the output a total partition
    of the corpus (the form a curation pipeline keeps).

    Scale shape: the propagation loop runs over PAIRED nodes only (at
    most 2x|pairs| rows — for any real corpus orders of magnitude
    smaller than the corpus itself), never the full id universe; the
    singleton majority joins the result once, label = own id, after the
    fixpoint.  Per round, one equi-join of the (bounded) edge list
    against the CHANGED-LABEL FRONTIER (delta iteration — an unchanged
    node's message was already min-folded by its neighbors when it last
    changed, so dropping it is lossless; the frontier collapses within
    2-3 rounds on quasi-clique near-dup graphs and the join turns into
    an exact-counted broadcast) plus one min-aggregate — map-side
    combinable hash shuffles when they shuffle at all.  Each round also POINTER-JUMPS (every
    node additionally adopts its current label's label — the doubling
    step of Kiveris et al., "Connected Components in MapReduce"), so
    rounds = O(log diameter), not diameter: near-dup clusters are dense
    quasi-cliques that converge in 2-3 rounds either way, but an
    adversarial chain of incrementally-edited versions (diameter ≫
    max_iter) would otherwise exit with labels that name no real
    representative — and a downstream ``member == cluster_rep`` filter
    would then silently drop whole clusters.  With jumping, 50
    iterations cover diameter ~2^50; if the fixpoint is somehow still
    not reached the function RAISES rather than returning wrong labels.
    ``_stage_cut`` truncates lineage each round like the assembler's
    contraction loop; the driver-side loop holds only a changed-row
    probe, never data.
    """
    # cut BEFORE the loop: the edge list is re-joined every round, and an
    # un-checkpointed ``pairs`` input (this package's pair operators end
    # in _stage_cut, but arbitrary caller-built pair frames don't) would
    # otherwise replay its whole upstream plan once per iteration.  Cut
    # the DIRECTED edges and derive the symmetrized form lazily: the
    # union of two column-swapped projections is a map-side no-op each
    # round, while checkpointing ``sym`` itself would materialize 2×
    # |pairs| rows (profiled at x100: 1,168 core-seconds — 19% of the
    # whole query — spent writing the 103M-row symmetrized copy).
    # An input that IS already a checkpoint (every pair operator in this
    # package ends in _stage_cut, marked ``_cb_cut``) skips the second
    # cut: the narrow (a, b) projection re-reads materialized blocks per
    # round, which is exactly what the cut would have bought (r15).
    edges = pairs.select("a", "b")
    if not getattr(pairs, "_cb_cut", False):
        edges = _stage_cut(edges)
    # the edge list is materialized, so its count is one cheap job — and
    # it decides the ALGORITHM, not just a hint: a bounded edge list
    # (near-dup graphs are orders of magnitude smaller than the corpus)
    # is solved exactly by driver-side union-find in ONE collect, where
    # the distributed loop pays ~6 sequential driver round-trips PER
    # ROUND for up to ~log2(diameter) rounds (measured at sf0.1: the
    # simhash signature graph took 9 rounds ≈ 54 jobs; union-find does
    # it in 2).  Past the cap the hash-min loop below is the 100 TB
    # path — the same collect-when-provably-small / distributed-past-
    # the-cliff split as ``_cap_list_frame``.
    bcast_max = 2_000_000  # (member, label) rows well under executor memory
    # ONE bounded limit-collect both decides the algorithm and fetches
    # the driver path's edges (the old shape paid a count job AND a
    # collect job); past the cap the collected prefix is discarded —
    # the same driver-RSS bound the fast path itself would have held
    cc_cap = _driver_cc_max(edges.schema["a"].dataType)
    rows = edges.limit(cc_cap + 1).collect() if cc_cap else None
    distributed = rows is None or len(rows) > cc_cap
    if not distributed:
        labels, nodes, n_nodes = _driver_union_find(edges, rows)
    else:
        sym = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        nodes = sym.select(F.col("a").alias("member")).distinct()
        labels = _stage_cut(nodes.withColumn("label", F.col("member")))
        # one cheap count over the checkpointed label table: the node
        # count bounds every per-round frame (labels, jump build side,
        # round-0 frontier), so each loop join below can carry an EXACT
        # broadcast hint instead of waiting for AQE to materialize both
        # shuffle sides before noticing one is tiny — each avoided AQE
        # round-trip is a sequential driver re-plan + job schedule (r14:
        # the per-round stage jobs, not the data, dominated this loop's
        # wall at bench scale)
        n_nodes = labels.count()
    # DELTA ITERATION: only a node whose label CHANGED last round can
    # deliver new information — an unchanged node's message is the same
    # one its neighbors min-folded when it last changed (labels are
    # monotone non-increasing and ``cand`` always carries the current
    # state, so dropping duplicate messages is exactly lossless).  The
    # edge join therefore runs against the CHANGED frontier, not the
    # full label table: near-dup graphs converge from the quasi-clique
    # core outward, so within 2-3 rounds the frontier is tiny and the
    # per-round cost falls from a full edge-list shuffle (profiled at
    # x100: ~1 GB × ~8 rounds) to a scan.
    delta = labels  # round 0: every node is fresh
    n_delta = n_nodes
    converged = not distributed  # union-find is already at the fixpoint
    for it in range(max_iter if distributed else 0):
        send = delta.select(F.col("member").alias("a"), "label")
        if n_delta <= bcast_max:
            # the frontier is materialized and counted, so the broadcast
            # decision is exact rather than left to AQE's runtime
            # SMJ->BHJ conversion (which can materialize the edge-list
            # exchange before the small side's size is known)
            send = F.broadcast(send)
        # the label rows ride the candidate union TAGGED (__own=true) so
        # ONE aggregate yields both the new label (min over all
        # candidates) and the old one (the unique tagged row) — the
        # previous shape checkpointed a second per-round frame (new JOIN
        # old, filtered to changes) whose plan execution was pure
        # sequential overhead (r14; ~3 stage jobs/round at bench scale)
        own = labels.select("member", "label", F.lit(True).alias("__own"))
        msgs = sym.join(send, "a").select(
            F.col("b").alias("member"), "label", F.lit(False).alias("__own"))
        cand = own.unionByName(msgs)
        if it > 0:
            # pointer jump: adopt the label of one's label (labels only
            # ever decrease toward the component min, so the extra
            # candidates are always valid and the min-aggregate keeps
            # correctness).  Skipped in round 1, where labels are the
            # identity map and the jump join is a pure no-op.
            lab2 = labels.select(F.col("member").alias("label"),
                                 F.col("label").alias("label2"))
            if n_nodes <= bcast_max:
                lab2 = F.broadcast(lab2)
            jump = (
                labels.alias("l1").join(lab2, "label")
                .select("member", F.col("label2").alias("label"),
                        F.lit(False).alias("__own"))
            )
            cand = cand.unionByName(jump)
        # sever=True: per-round cuts of an unbounded loop must not chain
        # origin plans (geometric driver-time growth — see _stage_cut)
        merged = _stage_cut(
            cand.groupBy("member").agg(
                F.min("label").alias("label"),
                # exactly one tagged row per member (labels is keyed by
                # member and every cand member is a labels member), so
                # this min() IS the previous label
                F.min(F.when(F.col("__own"), F.col("label"))).alias("__old")),
            sever=True,
        )
        delta = merged.filter(F.col("label") != F.col("__old")) \
                      .select("member", "label")
        n_delta = delta.count()
        converged = n_delta == 0
        labels = merged.select("member", "label")
        if converged:
            break
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not reach a fixpoint in {max_iter} "
            "iterations — refusing to return labels that may name no real "
            "representative (raise max_iter; with pointer jumping "
            "max_iter=50 covers component diameter ~2^50)")
    # paired clusters: sizes aggregated over the PAIRED label table only
    # (bounded by 2x|pairs| — node-level, never corpus-level).  Singletons
    # are (member, member, 1) by definition, so unioning them AFTER the
    # size join removes the two corpus-width exchanges the old shape paid
    # (groupBy + size join over paired ∪ singletons): a paired cluster's
    # label is a paired member id and a singleton's is its own unpaired
    # id, so the two size domains can never merge — output identical.
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    out = (
        labels.join(sizes, "label")
        .select(F.col("label").alias("cluster_rep"), "member", "n")
    )
    if items is not None:
        singletons = (
            items.select(F.col(id_col).alias("member")).distinct()
            .join(F.broadcast(nodes) if n_nodes <= bcast_max else nodes,
                  "member", "left_anti")
            .select(F.col("member").alias("cluster_rep"), "member",
                    F.lit(1).cast("long").alias("n"))
        )
        out = out.unionByName(singletons)
    return out


def simhash_near_pairs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       max_hamming: int = 7, bucket_cap: int = 1000) -> DataFrame:
    """Text near-dup pairs by SimHash Hamming distance — signature
    computation (md5 sign votes) + the banded ``hamming_near_pairs`` core;
    see that function for the 100 TB design notes."""
    return hamming_near_pairs(simhash(docs, id_col, text_col), id_col,
                              max_hamming=max_hamming, bucket_cap=bucket_cap)


def simhash_clusters(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", max_hamming: int = 7,
                     bucket_cap: int = 1000, max_iter: int = 50) -> DataFrame:
    """SimHash duplicate CLUSTERS — the linear consumable product for
    duplicate-saturated corpora, where the pair enumeration
    (``simhash_near_pairs``) is inherently quadratic in signature-group
    size: m documents sharing one signature contribute m(m-1)/2 pair rows
    but only m cluster rows.

    The whole graph computation runs at the DISTINCT-SIGNATURE level:

    1. one signature node per distinct (sim_hi, sim_lo), its min member
       id as the node id (and the signature frame stays cached across the
       fan-out, exactly like ``hamming_near_pairs``);
    2. banded Hamming pairs over signature NODES (``bucket_cap`` applies
       to distinct signatures, unchanged semantics);
    3. hash-min + pointer-jumping connected components over those nodes
       (``dedup_clusters`` — edge count bounded by distinct-signature
       pairs, never member pairs);
    4. every document joins its signature node's label ONCE — the only
       member-level work is two linear joins.

    Same output contract as ``dedup_clusters``: a total partition
    (cluster_rep, member, n) of the corpus, cluster_rep = min member id.
    Equivalent by construction to
    ``dedup_clusters(simhash_near_pairs(docs), items=docs)`` — identical
    signatures are hamming-0 pairs there, so each signature group is
    already one component; pinned by ``tests/test_joins.py``.
    """
    from pyspark import StorageLevel
    sig = simhash(docs, id_col, text_col) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    sig.count()  # populate before the multi-branch fan-out (cold-cache race)
    try:
        if max_hamming <= 3:
            nchunks, width, mask = 4, 16, 0xFFFF
        else:
            nchunks, width, mask = 8, 8, 0xFF
        # m = member count per signature node: carried on the node table
        # so cluster sizes can be summed at the NODE level below — the
        # corpus-width groupBy("label") + size join the old shape paid
        # are then node-level aggregates instead (r14, guide §2.3)
        nodes = _stage_cut(sig.groupBy("sim_hi", "sim_lo")
                           .agg(F.min(id_col).alias("node_id"),
                                F.count(F.lit(1)).alias("m")))
        # cut the pair set before the CC: dedup_clusters' symmetrize union
        # references the pair plan twice, and the banded-Hamming pipeline
        # is by far the dominant cost on a duplicate-saturated corpus
        # (x10 fixture: ~117s of ~145s total) — executing it once must not
        # depend on Catalyst finding the exchange reuse
        sig_pairs = _stage_cut(_hamming_pairs_from_cached(
            nodes.select(F.col("node_id").alias(id_col), "sim_hi", "sim_lo"),
            id_col, nchunks, width, mask, max_hamming, bucket_cap,
            distinct_sigs=True))
        # pass the CHECKPOINTED pair frame itself (not a select of it):
        # dedup_clusters projects (a, b) internally and the _cb_cut mark
        # on the checkpoint lets it skip a redundant second cut (r15)
        labels = dedup_clusters(
            sig_pairs,
            items=nodes.select(F.col("node_id").alias(id_col)),
            id_col=id_col, max_iter=max_iter,
        ).select(F.col("member").alias("node_id"),
                 F.col("cluster_rep").alias("label"))
        # node-level: attach each node's label, sum member counts per
        # label, re-attach — all bounded by the distinct-signature count
        nodemap = _stage_cut(nodes.join(labels, "node_id")
                             .select("sim_hi", "sim_lo", "label", "m"))
        sizes = nodemap.groupBy("label").agg(F.sum("m").alias("n"))
        node2 = nodemap.join(sizes, "label") \
            .select("sim_hi", "sim_lo", "label", "n")
        # ONE corpus-width join recovers the members (the old shape paid
        # two sequential corpus-width joins plus a corpus-width size
        # aggregate and size join — 4 full-width exchanges -> 1)
        return _stage_cut(
            sig.join(node2, ["sim_hi", "sim_lo"])
            .select(F.col("label").alias("cluster_rep"),
                    F.col(id_col).alias("member"), "n"))
    finally:
        sig.unpersist()
