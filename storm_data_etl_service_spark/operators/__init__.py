"""Batch operators over the storm and corpus tables."""

from __future__ import annotations

from pyspark.sql import DataFrame


def stage(df: DataFrame) -> DataFrame:
    """Materialize a relation that several consumers (or loop rounds)
    read, so its upstream plan runs once and the plan stops growing.

    Every staged pipeline in this package goes through here:

    * Lazy is only partly lazy.  Under AQE, ``Dataset.checkpoint``
      calls ``toRdd``, so the upstream stages run when the staged frame
      is created; only the final stage is deferred to the first
      consumer's action, and it runs inside that action's job instead
      of a job of its own.
    * Lineage-recovery trade: the blocks live on the executors only,
      so losing an executor means retrying the query, not recomputing
      a partition.  Staged relations are document-, entity-, pair- or
      model-sized, never the token or shingle stream.
    * The blocks are freed by the ContextCleaner once the staged frame
      is unreachable and a JVM GC has run.
    * On a cluster with a reliable checkpoint directory,
      ``checkpoint`` is the drop-in swap for this body.

    The one direct ``localCheckpoint`` left is
    ``graph.neardup_components_sql``: it stages eagerly because the
    recursion must finish executing inside ``_raised_recursion_limit``
    before that conf is restored.
    """
    return df.localCheckpoint(eager=False)
