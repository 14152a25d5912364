"""Origin-plan severing for iterative checkpoints.

``localCheckpoint`` / ``checkpoint`` truncate the VISIBLE lineage, but
the LogicalRDD they produce retains the pre-checkpoint logical plan
(origin stats / constraints) for Catalyst's benefit — and in an
iterative loop those references CHAIN: round r's origin plan contains
round r-1's LogicalRDD, whose origin contains r-2's, and so on.  Stats
estimation, InjectRuntimeFilter and constant folding re-walk that
ever-deepening tree every round, so per-round DRIVER time grows
geometrically while the data shrinks (measured on a 1.5M-node
contraction chain: round 14 cost 345 s on ~1k rows; flat 1.3-2.3 s
after severing — see :func:`cut`).

:func:`sever_origin` rebuilds the frame from the materialized internal
RDD (zero-copy — ``toRdd`` on a checkpointed frame IS the checkpoint
RDD), producing a LogicalRDD with NO origin reference, so no Catalyst
pass can recurse into history.

The rebuild rides a private JVM API (``internalCreateDataFrame``),
unavailable on Spark Connect sessions and movable between Spark
versions.  The fallback returns the plain checkpoint — CORRECT, but it
silently re-admits the geometric driver-time pathology — so the
fallback (a) warns ONCE per process, loudly, and (b) is pinned by a
unit test asserting the severed frame's LogicalRDD really has no
origin stats, so an API break turns CI red instead of quietly
regressing every iterative operator.

:func:`cut` is the round boundary of the iterative loops (checkpoint,
then sever); :func:`observed_cut` adds the row count from the same job,
for the loops that decide on it.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_warned = False


def sever_origin(df: DataFrame) -> DataFrame:
    """Rebuild an (already checkpointed) frame from its internal RDD,
    dropping the checkpoint's retained origin logical plan.

    Pass the OUTPUT of ``localCheckpoint(eager=True)`` /
    ``checkpoint(eager=True)``; severing a non-materialized frame would
    trigger the materialization here instead.  Falls back to returning
    ``df`` unchanged (with a one-time warning) where the private JVM
    API is unreachable — e.g. Spark Connect."""
    global _warned
    spark = df.sparkSession
    try:
        jdf = spark._jsparkSession.internalCreateDataFrame(
            df._jdf.queryExecution().toRdd(), df._jdf.schema(), False)
        return DataFrame(jdf, spark)
    except Exception as exc:  # noqa: BLE001 — e.g. Spark Connect: no JVM handle
        if not _warned:
            _warned = True
            warnings.warn(
                "sever_origin: internalCreateDataFrame unavailable "
                f"({type(exc).__name__}: {exc}); iterative loops will keep "
                "the plain checkpoint, whose chained origin plans make "
                "per-round driver time grow geometrically with round count "
                "(see cloudbrush_spark/plans/sever.py). Expect slow late "
                "rounds on long loops.",
                RuntimeWarning,
                stacklevel=2,
            )
        return df


def cut(df: DataFrame) -> DataFrame:
    """Round boundary: ``localCheckpoint(eager=True)`` + origin severing.

    Measured on a 600k-node contraction chain, rounds 10/11/12 cost
    1.8 s/3.5 s/11.9 s with a plain localCheckpoint and 1.3 s flat with
    this cut.  The severed frame has no origin stats, which suppresses
    static broadcast planning downstream: inside the loops every join is
    either hinted or AQE-converted from actual runtime sizes."""
    return sever_origin(df.localCheckpoint(eager=True))


def observed_cut(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialize ``df`` once and return ``(severed frame, row count)``.

    The count rides the checkpoint job as an ``Observation`` — the
    counter a Hadoop job reports as it finishes — so a driver loop that
    decides on the size of a frame and then uses that frame runs its
    plan ONCE.  A ``count()`` on the lazy frame followed by a checkpoint
    of the same frame runs the plan twice; a checkpoint then a separate
    ``count()`` adds jobs over the materialized rows."""
    obs = Observation()
    frame = cut(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return frame, obs.get["rows"]


def origin_stats_defined(df: DataFrame) -> bool:
    """True when ``df``'s analyzed plan is a LogicalRDD that RETAINS
    origin stats (i.e. severing did not happen).  Raises if the plan is
    not a LogicalRDD at all — callers pin checkpointed frames only.

    ``originStats`` is a curried constructor val with no public
    accessor in Spark 4.1, so this reads the field through Java
    reflection — acceptable in a TEST detector (the pin this serves
    exists precisely to catch Spark moving these internals)."""
    plan = df._jdf.queryExecution().analyzed()
    name = plan.getClass().getSimpleName()
    if name != "LogicalRDD":
        raise AssertionError(f"expected LogicalRDD, got {name}")
    field = plan.getClass().getDeclaredField("originStats")
    field.setAccessible(True)
    return bool(field.get(plan).isDefined())
