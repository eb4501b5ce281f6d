"""The persist-strategy knob (r12, ADVICE r11 dedup.py:128).

Every operator pins intermediates through ``persist.pin``; which
storage the pin uses is a session conf, because the local-bench-right
choice (GC-bounded ``localCheckpoint``) is the real-cluster-WRONG one
(unreplicated blocks + truncated lineage = executor loss kills the
job). These tests pin:

- result equality across all three strategies on an operator that
  pins at every tier (minhash bands + candidate dict),
- the default (no conf set) stays ``localCheckpoint`` — the measured
  local shape every bench number was taken under,
- strategy plumbing: ``cache`` leaves an InMemoryRelation in the plan
  and, with no level given, deserialized blocks like localCheckpoint,
  ``checkpoint`` writes RDD files under the configured reliable dir
  and fails LOUDLY when no dir is configured (silently falling back
  to a non-durable store would defeat the knob's purpose),
- unknown strategy names fail loudly,
- ``pin`` stays the operators' only persistence verb: no operator
  module calls ``.cache()`` or ``.persist(...)`` itself,
- one block format: only ``search._star_components`` chooses a
  ``storage_level``.
"""

from __future__ import annotations

import ast
import os

import pytest
from pyspark import StorageLevel

from go_zoom_kinesis_spark.persist import (
    CHECKPOINT_DIR_CONF,
    STRATEGY_CONF,
    pin,
)

from conftest import SF_DIR


@pytest.fixture
def strategy_conf(spark):
    """Restore the session to the default strategy afterwards."""
    yield spark
    spark.conf.unset(STRATEGY_CONF)
    spark.conf.unset(CHECKPOINT_DIR_CONF)
    spark.catalog.clearCache()


def test_checkpoint_without_dir_fails_loudly(strategy_conf):
    # MUST run before any checkpoint-strategy test in this module: a
    # context-level checkpoint dir, once set, cannot be unset on a
    # shared SparkContext.
    spark = strategy_conf
    if not spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        pytest.skip("context already has a checkpoint dir")
    spark.conf.set(STRATEGY_CONF, "checkpoint")
    with pytest.raises(ValueError, match=CHECKPOINT_DIR_CONF):
        spark.range(8).transform(pin)


def _run(spark, strategy, tmp_path):
    from go_zoom_kinesis_spark.operators.dedup import dedup_minhash_lsh

    if strategy is not None:
        spark.conf.set(STRATEGY_CONF, strategy)
    if strategy == "checkpoint":
        spark.conf.set(CHECKPOINT_DIR_CONF, str(tmp_path / "ck"))
    spark.catalog.clearCache()
    return sorted(map(tuple, dedup_minhash_lsh(spark, SF_DIR).collect()))


def test_strategies_agree(strategy_conf, tmp_path):
    spark = strategy_conf
    default = _run(spark, None, tmp_path)
    assert default, "operator returned no rows"
    for strategy in ("localCheckpoint", "cache", "checkpoint"):
        assert _run(spark, strategy, tmp_path) == default, strategy


def test_default_is_local_checkpoint(spark):
    df = spark.range(8).transform(pin)
    # localCheckpoint shows up as a truncated logical plan over an
    # internal RDD scan — no InMemoryRelation (cache), no files on disk
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan
    assert "InMemoryRelation" not in plan


def test_cache_strategy_uses_cachemanager(strategy_conf):
    spark = strategy_conf
    spark.conf.set(STRATEGY_CONF, "cache")
    df = spark.range(8).transform(pin)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    # the block format of localCheckpoint's default: deserialized
    assert df.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER
    assert df.count() == 8
    df.unpersist()


def test_checkpoint_strategy_writes_reliable_dir(strategy_conf, tmp_path):
    spark = strategy_conf
    spark.conf.set(STRATEGY_CONF, "checkpoint")
    # a context-level dir may already be set by an earlier test (it
    # cannot be unset); pin() only applies the conf when none is set,
    # so assert against the dir the context ACTUALLY uses
    spark.conf.set(CHECKPOINT_DIR_CONF, str(tmp_path / "reliable"))
    df = spark.range(8).transform(pin)
    assert df.count() == 8
    ckdir = spark.sparkContext._jsc.sc().getCheckpointDir().get()
    ckdir = ckdir.removeprefix("file:")
    written = [
        os.path.join(r, f)
        for r, _, fs in os.walk(ckdir)
        for f in fs
    ]
    assert written, f"reliable checkpoint wrote no block files in {ckdir}"


def test_unknown_strategy_fails_loudly(strategy_conf):
    spark = strategy_conf
    spark.conf.set(STRATEGY_CONF, "tachyon")
    with pytest.raises(ValueError, match="tachyon"):
        spark.range(8).transform(pin)


OPS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "go_zoom_kinesis_spark",
    "operators",
)


def _operator_trees():
    for fname in sorted(os.listdir(OPS_DIR)):
        if fname.endswith(".py"):
            with open(os.path.join(OPS_DIR, fname)) as fh:
                yield fname, ast.parse(fh.read(), fname)


def test_operators_persist_only_through_pin():
    """A raw ``.cache()``/``.persist()`` ignores the strategy conf and
    holds a CacheManager strong ref past its query; operators must pin
    (AST scan, no Spark needed)."""
    found = []
    for fname, tree in _operator_trees():
        found += [
            f"{fname}:{node.lineno} .{node.func.attr}()"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("cache", "persist")
        ]
    assert not found, f"persist through persist.pin instead: {found}"


def test_only_star_components_chooses_a_storage_level():
    """Pins take ``pin``'s one block format; the only exception is
    ``search._star_components``' resized scope (the SCALE.md r12 OOM
    bed), so a ``storage_level=`` keyword or a ``StorageLevel`` name
    anywhere else under ``operators/`` fails (AST scan, no Spark
    needed)."""
    found = []
    for fname, tree in _operator_trees():
        allowed = set()
        if fname == "search.py":
            for fn in ast.walk(tree):
                if (
                    isinstance(fn, ast.FunctionDef)
                    and fn.name == "_star_components"
                ):
                    allowed |= {id(node) for node in ast.walk(fn)}
        for node in ast.walk(tree):
            if id(node) in allowed:
                continue
            if isinstance(node, ast.keyword) and node.arg == "storage_level":
                found.append(f"{fname}:{node.value.lineno} storage_level=")
            elif (
                (isinstance(node, ast.Name) and node.id == "StorageLevel")
                or (
                    isinstance(node, ast.Attribute)
                    and node.attr == "StorageLevel"
                )
                or (
                    isinstance(node, ast.alias)
                    and node.name == "StorageLevel"
                )
            ):
                found.append(f"{fname}:{node.lineno} StorageLevel")
    assert not found, f"pin with the default block format instead: {found}"
