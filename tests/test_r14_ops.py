"""Round-14 optimization referees.

Pins the optimizations' equivalence claims:
- the checkpoint-commit max over an INTEGRAL sequence column (numeric
  max, rendered once per shard — r14) equals the padded-string max the
  string path still uses, including the "9" vs "10" trap a naive
  string max would fail; on the string path only successes count,
  folded across retry attempts;
- profile_columns' union-of-typed-aggregates equals the r13 unpivot
  form row-for-row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from go_zoom_kinesis_spark.streaming import (
    ExponentialBackoff,
    InMemoryCheckpointStore,
    ProcessorConfig,
    StreamProcessor,
)


def _all_success(df):
    return df.withColumn("outcome", F.lit("success"))


def _proc(spark, tmp_path, store, transform=_all_success):
    return StreamProcessor(
        spark,
        processor=transform,
        store=store,
        config=ProcessorConfig(
            checkpoint_location=str(tmp_path / "ck"),
            backoff=ExponentialBackoff(0.001, 0.002, jitter_factor=0),
        ),
        sleep=lambda s: None,
    )


def test_checkpoint_numeric_seq_matches_padded_semantics(spark, tmp_path):
    """Numeric fast path: max(seq) rendered once == the padded-string
    max with zeros stripped, on sequences where plain string max would
    pick the WRONG row ("9" > "10" lexicographically)."""
    rows = [("s-0", 9), ("s-0", 10), ("s-1", 2), ("s-1", 100)]
    df = spark.createDataFrame(rows, "shard_id string, sequence_number long")
    store = InMemoryCheckpointStore()
    _proc(spark, tmp_path, store).run_batch(df)
    assert store.all_checkpoints() == {"s-0": "10", "s-1": "100"}


def test_checkpoint_string_seq_keeps_padded_path(spark, tmp_path):
    """String-typed sequence numbers (the Kinesis 128-digit decimal
    case) still order numerically via the padded path, and only
    successes count: s-0's largest sequence is a hard failure, and
    s-1's largest is soft on attempt 0 and succeeds on the retry, so
    its position comes from the second attempt's rollup."""
    rows = [
        ("s-0", "9"),
        ("s-0", "10"),
        ("s-0", "99"),
        ("s-1", "007"),
        ("s-1", "8"),
        ("s-1", "12"),
    ]
    df = spark.createDataFrame(
        rows, "shard_id string, sequence_number string"
    )

    def transform(df):
        seq = F.col("sequence_number")
        return df.withColumn(
            "outcome",
            F.when(seq == "99", "hard")
            .when((seq == "12") & (F.col("attempt") == 0), "soft")
            .otherwise("success"),
        )

    store = InMemoryCheckpointStore()
    _proc(spark, tmp_path, store, transform).run_batch(df)
    # lstrip("0") canonicalization: "007" -> max("...007","...008")
    assert store.all_checkpoints() == {"s-0": "10", "s-1": "12"}


def test_profile_columns_equals_unpivot_form(spark, sf_dir):
    """The r14 union-of-5-typed-aggregates returns exactly the rows of
    the r13 unpivot shape (casts after dedup change nothing)."""
    from go_zoom_kinesis_spark.io import fan_out_narrow, load_table
    from go_zoom_kinesis_spark.operators.quality import (
        PROFILE_COLS,
        profile_columns,
    )

    li = fan_out_narrow(
        load_table(spark, sf_dir, "lineitem").select(*PROFILE_COLS)
    )
    pairs = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in PROFILE_COLS
                ]
            )
        ).alias("p")
    ).select("p.*")
    per_val = pairs.groupBy("column_name", "v").agg(F.count("*").alias("cnt"))
    ref = per_val.groupBy("column_name").agg(
        F.sum("cnt").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("v").isNull(), F.col("cnt"))), F.lit(0)
        ).alias("n_nulls"),
        F.count("v").alias("n_distinct"),
        F.min("v").alias("min_str"),
        F.max("v").alias("max_str"),
    )
    got = {tuple(r) for r in profile_columns(spark, sf_dir).collect()}
    want = {tuple(r) for r in ref.collect()}
    assert got == want
