"""Every registered query must survive zero-row inputs.

A switching user's first integration run is often against an empty or
not-yet-loaded table; the reference's processor likewise treats an
empty GetRecords batch as a normal event (checkpoint untouched, no
error — /root/reference/src/processor.rs batch loop). Latent hazards
this guards against: ``collect()[0]`` on empty aggregates, divisions
by zero-count denominators, ``min``/``percentile`` NULLs flowing into
typed casts, and seeded loops that assume at least one row.

One session-wide sweep (not parametrized) keeps the wall cost at one
plan+execute per query instead of 156 fixture setups.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from go_zoom_kinesis_spark import registry


def test_all_queries_run_on_empty_tables(spark, sf_dir, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("sf_empty"))
    for f in glob.glob(os.path.join(sf_dir, "*.parquet")):
        schema = pq.read_schema(f)
        pq.write_table(
            schema.empty_table(), os.path.join(dst, os.path.basename(f))
        )
    failures = []
    for name, fn in registry.all_queries().items():
        try:
            fn(spark, dst).count()
        except Exception as e:  # noqa: BLE001 — collect all, report once
            failures.append(f"{name}: {e!r}")
    assert not failures, "\n".join(failures)
