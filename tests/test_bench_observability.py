"""bench.py's output contract.

Pins:

- headline names stay unique (a duplicate would double-count
  ``value_baseline_set``);
- the last stdout line carries exactly the documented summary keys, and
  the detail file holds a build/cold/steady/spread row for every
  registered query.
"""

from __future__ import annotations

import json

import bench

SUMMARY_KEYS = {
    "metric",
    "value",
    "value_end_to_end",
    "unit",
    "sf",
    "value_baseline_set",
    "n_queries",
    "detail_file",
}


def test_headline_names_unique():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_summary_line_contract(spark, tmp_path, monkeypatch, capsys):
    from go_zoom_kinesis_spark import registry

    def trivial(s, sf_dir):
        return s.range(10)

    monkeypatch.setattr(
        registry, "all_queries", lambda: {"q_a": trivial, "q_b": trivial}
    )
    monkeypatch.setattr(bench, "ROOT", str(tmp_path))
    bench.main()

    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(summary) == SUMMARY_KEYS
    assert summary["n_queries"] == 2
    assert summary["value_end_to_end"] >= summary["value"] >= 0
    rows = json.loads((tmp_path / summary["detail_file"]).read_text())
    assert set(rows) == {"q_a", "q_b"}
    for row in rows.values():
        assert set(row) == {"build_s", "cold_s", "steady_s", "spread_s"}
        assert all(v >= 0 for v in row.values())
