"""The one way the engine materializes a DataFrame.

An eager checkpoint computes the rows once and cuts the lineage, so a
table that several branches read is not recomputed, and the plan of an
iterative loop does not grow with its rounds.  In local mode every block
lives in the one JVM, so ``localCheckpoint`` is enough.  On a cluster an
executor that dies takes its local blocks with it and the next action
fails, so there the rows go to ``spark.checkpoint.dir``, which must name
storage that every node shares.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, *keys: str) -> DataFrame:
    """Compute ``df`` now and return it with its lineage cut.  With
    ``keys`` it is first hash-partitioned on them into
    ``defaultParallelism`` partitions."""
    sc = df.sparkSession.sparkContext
    if keys:
        df = df.repartition(sc.defaultParallelism, *keys)
    # exact match: local-cluster[...] also starts with "local"
    if sc.master == "local" or sc.master.startswith("local["):
        return df.localCheckpoint(eager=True)
    if sc.getCheckpointDir() is None:
        raise RuntimeError(
            f"materialize on master {sc.master!r} writes a reliable "
            "checkpoint: set spark.checkpoint.dir to storage every node shares"
        )
    return df.checkpoint(eager=True)
