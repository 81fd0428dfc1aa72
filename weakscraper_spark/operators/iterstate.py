"""Shared lineage-truncation helper for the iterative operators
(connected components, pagerank): one definition of the
localCheckpoint-vs-reliable-checkpoint choice so the trade-off text
and behavior can't drift between copies (r04 review)."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def ckpt(df: DataFrame, checkpoint_dir: str | None,
         eager: bool = True) -> DataFrame:
    """Truncate lineage: ``localCheckpoint`` (fast, executor-storage —
    lost on executor death) or reliable ``checkpoint`` into
    ``checkpoint_dir`` when given (the preemptible-cluster setting).
    ``setCheckpointDir`` is idempotent for a fixed dir, so calling it
    per truncation is safe.

    ``eager=False`` skips the dedicated materialization job — for
    call sites whose NEXT statement is an action over the full
    checkpointed relation (the iterative loops' per-round scalar
    reads), that action materializes the checkpoint as a side effect
    and one scheduled job per round is saved (r08)."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=eager)


@contextmanager
def static_loop(spark: SparkSession, partitions: int | None = None):
    """Scoped STATIC planning for the body of a bounded iterative
    loop (pagerank power iterations, CC label propagation): disables
    AQE — and, when ``partitions`` is given, pins
    ``spark.sql.shuffle.partitions`` to that count — for the duration,
    restoring the previous session values on exit.

    Why (r08, event-log measured on the pagerank loop): with AQE on,
    EVERY exchange inside a round materializes as its own scheduler
    job — ~8 jobs per power iteration of 8-20 ms each separated by
    20-90 ms of driver re-planning gap, so a 10-round loop spends
    several seconds purely on adaptive orchestration of KB-sized
    relations whose shape never changes between rounds. With static
    planning the round's lazily-checkpointed state cascades into the
    round's single scalar action (the dangling-mass/convergence
    read): ONE job per round.

    ``partitions`` must be DATA-DERIVED — pass the partition count of
    the loop's materialized (checkpointed) state, which AQE already
    sized by bytes before the loop was entered. That keeps the
    setting scale-adaptive: tiny sandbox graphs run 1-task rounds,
    a 100 TB host graph keeps the hundreds of partitions its edge
    list materialized with. Never pass a constant.

    The loop body only plans/executes node-count-sized relations, so
    none of AQE's scale benefits (skew-join splitting of 256 MB+
    partitions, coalescing of corpus-width shuffles) applies inside
    the scope; everything before and after the loop still plans
    adaptively."""
    conf = spark.conf
    prev_aqe = conf.get("spark.sql.adaptive.enabled", "true")
    prev_parts = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.adaptive.enabled", "false")
    if partitions is not None:
        conf.set("spark.sql.shuffle.partitions", str(max(1, partitions)))
    try:
        yield
    finally:
        conf.set("spark.sql.adaptive.enabled", prev_aqe)
        conf.set("spark.sql.shuffle.partitions", prev_parts)
