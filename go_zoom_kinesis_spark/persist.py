"""Intermediate-result persistence strategy (one knob, all operators).

ADVICE r11 (dedup.py:128): the r11 fleet-wide ``.cache()`` →
``localCheckpoint(eager=True)`` swap bounds block lifetime by GC
instead of by CacheManager session residency — right for the local
bench — but it trades fault tolerance for it: ``localCheckpoint``
truncates lineage and stores blocks UNREPLICATED, so on a real
multi-executor cluster an executor loss mid-query fails the job
unrecoverably instead of recomputing. Which trade is right is a
DEPLOYMENT property, not an operator property, so every operator
pins intermediates through :func:`pin` and the strategy is a session
conf:

``spark.gzk.persist.strategy``:

- ``localCheckpoint`` (default) — GC-bounded executor-local blocks,
  lineage truncated. The measured-best local shape (SCALE.md r11
  persist sweep); single-JVM ``local[*]`` has no executor-loss mode,
  so the lost fault tolerance is unreachable here anyway.
- ``cache`` — ``persist(MEMORY_AND_DISK_DESER)``: lineage kept, so
  executor loss recomputes (fault-tolerant) — but blocks are
  CacheManager strong refs that outlive the query unless explicitly
  unpersisted, and each pin costs an extra materializing action.
- ``checkpoint`` — RELIABLE ``DataFrame.checkpoint``: blocks written
  to ``spark.gzk.persist.checkpointDir`` (HDFS/S3 on a real cluster),
  surviving executor loss AND truncating lineage — the
  1000-executor-cluster setting for the iterative operators
  (connected components, BPE, k-center) whose per-round pins would
  otherwise each be a single point of failure. Costs a distributed
  write per pin.

Every pin is eager, like ``localCheckpoint(eager=True)``: the call
materializes before returning. Iterative operators rely on that for
plan-size and timing control; ``cache`` emulates it with a
``count()`` action. ``localCheckpoint`` and ``cache`` store the same
memory-and-disk deserialized blocks, so choosing between them changes
durability, not block format.

One block format: every pin takes that default, with one exception
under one rule. ``search._star_components`` pins serialized
memory-and-disk blocks inside its resized shuffle scope, the scope
that OOM'd a 10^8-node graph on a 16 GB heap with deserialized blocks
(SCALE.md r12). On the four other pins that took a serialized
level it never paid at sf0.1 or at generated sf1, and it doubled
``profile_columns``' steady time at sf1 (SCALE.md, r14 follow-up).

Kept out of ``io.py`` on purpose: loaders stay dumb (no persistence),
and operators import one verb, not a strategy matrix. No operator
calls ``.cache()`` or ``.persist()`` itself
(``tests/test_persist_strategy.py`` scans for it). A pin stays at a
call site only where it bounds an iterative loop's lineage, or where
removing it made steady or build + cold + steady worse beyond noise
(``bench.time_query``, alternating runs). Such a site's comment reads
``# A/B <sf> <steady> / <build+cold+steady> s``: medians on a 4-core /
15 GB host, pinned → unpinned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

STRATEGY_CONF = "spark.gzk.persist.strategy"
CHECKPOINT_DIR_CONF = "spark.gzk.persist.checkpointDir"

_VALID = ("localCheckpoint", "cache", "checkpoint")


def pin(df: DataFrame, storage_level=None) -> DataFrame:
    """Materialize-and-pin ``df`` per the session's persist strategy.

    Chain-friendly: ``df.transform(pin)`` inside a builder chain, or
    ``pin(df)`` on a named relation. Returns a DataFrame that replays
    from stored blocks (strategy-dependent durability, see module
    docstring) instead of recomputing its upstream plan.

    ``storage_level`` (localCheckpoint/cache strategies only; the
    reliable store ignores it) overrides the default deserialized
    memory-and-disk block format. One caller passes it, under one
    rule: ``search._star_components`` pins serialized inside its
    resized shuffle scope, where deserialized value blocks inflate
    rows into object arrays and are re-promoted to memory on every
    disk read (``maybeCacheDiskValuesInMemory``) — the measured
    10^8-node OOM path (SCALE.md r12). Every other pin leaves it unset
    (``tests/test_persist_strategy.py`` scans for it).
    """
    spark = df.sparkSession
    strategy = spark.conf.get(STRATEGY_CONF, "localCheckpoint")
    if strategy == "localCheckpoint":
        return df.localCheckpoint(eager=True, storageLevel=storage_level)
    if strategy == "cache":
        from pyspark import StorageLevel

        out = df.persist(storage_level or StorageLevel.MEMORY_AND_DISK_DESER)
        out.count()
        return out
    if strategy == "checkpoint":
        sc = spark.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            ckdir = spark.conf.get(CHECKPOINT_DIR_CONF, None)
            if not ckdir:
                raise ValueError(
                    f"{STRATEGY_CONF}=checkpoint needs a reliable store: "
                    f"set {CHECKPOINT_DIR_CONF} (HDFS/S3 path on a real "
                    "cluster) or call sparkContext.setCheckpointDir first"
                )
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=True)
    raise ValueError(
        f"{STRATEGY_CONF}={strategy!r} not in {_VALID}"
    )


def unpin(df: DataFrame) -> None:
    """Release a :func:`pin`'d relation once its consumers are
    materialized (ADVICE r12: the iterative fixpoint loops re-pin
    every round, and under ``strategy=cache`` each round's
    ``persist()`` is a CacheManager strong ref that outlives the query
    — one leaked block set per round). Strategy-aware:

    - ``cache`` — ``unpersist(blocking=False)``; lineage is kept under
      this strategy, so a consumer that later misses the dropped
      blocks recomputes (the strategy's documented fault-tolerance
      trade, now applied in reverse).
    - ``localCheckpoint`` — no-op: blocks are already GC-bounded (the
      ContextCleaner reaps them once the RDD is unreferenced), and
      unpersisting the RDD under a dependent plan would discard the
      ONLY copy of truncated-lineage data.
    - ``checkpoint`` — no-op: reliable files are the durability story;
      deployments that want them reaped set
      ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` at
      session build.
    """
    strategy = df.sparkSession.conf.get(STRATEGY_CONF, "localCheckpoint")
    if strategy == "cache":
        df.unpersist(blocking=False)

