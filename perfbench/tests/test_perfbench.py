"""Tests of the benchmark's own parts: the output checker, the event-log
and span parser, the input generator, and the metric declarations.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
None of these tests starts Spark.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, layers, run, spans  # noqa: E402
from perfbench.gen import StreamSpec, generate  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")

# --- output checker ----------------------------------------------------


@pytest.fixture
def expected():
    return {
        "records": 5,
        "keys": [["a", "1"], ["a", "2"], ["b", "1"], ["b", "3"], ["b", "4"]],
        "hard": [["b", "3"]],
        "max_seq": {"a": "2", "b": "4"},
    }


def _good(expected):
    committed = [tuple(k) for k in expected["keys"] if k not in expected["hard"]]
    return committed, [("b", "3")], {"a": "2", "b": "4"}


def test_clean_stream_output_has_no_errors(expected):
    errors = check.stream_errors(expected, *_good(expected))
    assert sum(errors.values()) == 0


def test_sink_missing_one_record_counts_as_lost(expected):
    committed, dlq, pos = _good(expected)
    errors = check.stream_errors(expected, committed[1:], dlq, pos)
    assert errors["lost"] == 1 and sum(errors.values()) == 1


def test_sink_with_one_duplicate_counts_as_duplicated(expected):
    committed, dlq, pos = _good(expected)
    errors = check.stream_errors(expected, committed + [committed[0]], dlq, pos)
    assert errors["duplicated"] == 1 and sum(errors.values()) == 1


def test_hard_record_in_sink_counts_as_misrouted(expected):
    committed, _, pos = _good(expected)
    errors = check.stream_errors(expected, committed + [("b", "3")], [], pos)
    # in the sink instead of the DLQ: misrouted, and missing from the DLQ
    assert errors["misrouted"] == 1 and errors["lost"] == 1


def test_hard_record_twice_in_dlq_is_allowed(expected):
    committed, dlq, pos = _good(expected)
    assert sum(check.stream_errors(expected, committed, dlq * 2, pos).values()) == 0


def test_rewound_store_position_is_counted(expected):
    committed, dlq, _ = _good(expected)
    errors = check.stream_errors(expected, committed, dlq, {"a": "1", "b": "4"})
    assert errors["bad_positions"] == 1


def test_query_with_one_changed_value_is_a_mismatch():
    cols = ["k", "v"]
    oracle = check.canonical(cols, [(1, 0.5), (2, 1.25)])
    assert check.query_matches(check.canonical(["v", "k"], [(1.25, 2), (0.5, 1)]), oracle)
    assert not check.query_matches(check.canonical(cols, [(1, 0.5), (2, 1.26)]), oracle)


def test_canonical_rows_match_the_driver_rule():
    from datetime import datetime

    util = pytest.importorskip("tests.util")
    cols = ["b", "a", "c"]
    rows = [(1.0000001, None, [1, 2.5]), (float("nan"), datetime(2024, 1, 2), b"\x01")]
    ours = check.canonical(cols, rows)
    theirs = util.canonical_rows(cols, rows)
    assert [tuple(r) for r in ours["rows"]] == theirs
    assert ours["columns"] == sorted(cols)


# --- event log and spans -----------------------------------------------


def test_event_log_parser_on_fixture():
    with open(FIXTURE) as fh:
        jobs = spans.parse_event_log(fh)
    assert [j.id for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert j0.stages == {0, 1} and j0.tasks == 2
    assert j0.run_s == pytest.approx(0.4)
    assert j0.cpu_s == pytest.approx(0.2)
    assert j0.gc_s == pytest.approx(0.02)
    assert j0.python_gap_s == pytest.approx(0.2)
    assert j0.input_mb == pytest.approx(1.0)
    assert j0.shuffle_write_mb == pytest.approx(0.5)
    assert j1.tasks == 1  # the task of an unknown stage is ignored
    assert j1.python_gap_s == pytest.approx(0.15)

    row = spans.exec_summary(jobs, wall_s=2.0)
    assert row["jobs"] == 2 and row["stages"] == 3 and row["tasks"] == 3
    assert row["python_gap_s"] == pytest.approx(0.35)
    # jobs ran 0.5 s + 0.3 s of the 2 s window
    assert row["driver_residual_s"] == pytest.approx(1.2)


def test_read_event_logs_walks_rolled_directories(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = open(FIXTURE).read().splitlines(keepends=True)
    (app / "events_2_local-1").write_text("".join(lines[6:]))
    (app / "events_1_local-1").write_text("".join(lines[:6]))
    (app / "appstatus_local-1").write_text("")
    jobs = spans.read_event_logs(str(tmp_path))
    assert [j.id for j in jobs] == [0, 1] and jobs[1].tasks == 1


def _span(id, parent, name, start, end):
    return spans.Span(id, parent, name, start, end)


def test_self_time_subtracts_the_union_of_children():
    tree = [
        _span(1, None, "drain", 0.0, 10.0),
        _span(2, 1, "batch", 1.0, 4.0),
        _span(3, 1, "batch", 3.0, 6.0),  # overlaps the first child
        _span(4, 2, "sink", 2.0, 3.0),
    ]
    st = spans.self_times(tree)
    assert st[1] == pytest.approx(5.0)  # 10 - [1, 6]
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_jobs_go_to_the_innermost_span():
    tree = [
        _span(1, None, "query", 1_700_000_000.0, 1_700_000_002.0),
        _span(2, 1, "registry.build", 1_700_000_000.05, 1_700_000_000.9),
    ]
    with open(FIXTURE) as fh:
        jobs = spans.parse_event_log(fh)
    by_span = spans.attribute(jobs, tree)
    assert [j.id for j in by_span[2]] == [0]
    assert [j.id for j in by_span[1]] == [1]
    assert [j.id for j in spans.jobs_under(1, tree, by_span)] == [1, 0]


def test_disabled_tracer_records_nothing_and_wraps_nothing():
    tr = spans.Tracer("r", enabled=False)

    def f():
        return 1

    assert tr.wrap("x", f) is f
    with tr.span("x"):
        tr.count("c")
    assert tr.spans == [] and not tr.counters


# --- generator ---------------------------------------------------------


def test_generator_is_deterministic_and_ordered(tmp_path):
    spec = StreamSpec(shards=4, files=3, records_per_file=50, string_seq=True,
                      soft_share=0.1, hard_share=0.1)
    a = generate(spec, 7, str(tmp_path / "a"))
    b = generate(spec, 7, str(tmp_path / "b"))
    c = generate(spec, 8, str(tmp_path / "c"))
    assert a == b and a != c
    for f in sorted(os.listdir(tmp_path / "a" / "src")):
        assert open(tmp_path / "a" / "src" / f, "rb").read() == open(
            tmp_path / "b" / "src" / f, "rb"
        ).read()
    last: dict[str, int] = {}
    for shard, seq in a["keys"]:  # arrival order
        assert len(seq) == 56
        assert int(seq) > last.get(shard, -1)
        last[shard] = int(seq)
    hard = {tuple(k) for k in a["hard"]}
    for shard, seq in a["max_seq"].items():
        assert (shard, seq) not in hard
    mtimes = [os.stat(tmp_path / "a" / "src" / f).st_mtime for f in sorted(os.listdir(tmp_path / "a" / "src"))]
    assert mtimes == sorted(set(mtimes))


# --- declarations ------------------------------------------------------


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.PER_LAYER
    assert len(bench["per_layer"]) <= 128
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
