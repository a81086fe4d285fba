"""Tests of the benchmark's own code; none of them starts Spark.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import re
import statistics
from pathlib import Path

import pytest

from perfbench import datagen, report, stats, trace, workloads

ROOT = Path(__file__).resolve().parents[1]


# -- stats ---------------------------------------------------------------------


def test_median_is_true_median_at_even_n():
    assert stats.median([4, 1, 3, 2]) == 2.5
    assert stats.median([1.0, 10.0]) == 5.5


def test_median_odd_n_and_empty():
    assert stats.median([3, 1, 2]) == 2
    with pytest.raises(ValueError):
        stats.median([])


def test_tail_keeps_ten_samples_beyond_it():
    xs = list(range(1, 101))  # 1..100
    pct, value, n = stats.tail(xs)
    assert (pct, value, n) == (90.0, 90, 100)
    assert sum(x > value for x in xs) == 10
    pct, value, n = stats.tail(list(range(20, 0, -1)))
    assert (pct, value, n) == (50.0, 10, 20)


def test_tail_needs_more_than_ten_samples():
    assert stats.tail(list(range(10))) is None
    assert stats.tail(list(range(11)))[:2] == (100 / 11, 0)


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 9.5, 10.0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / stats.median(xs))


def test_drift_compares_last_and_first_fifth():
    assert stats.drift([1, 1, 1, 1, 1, 2, 2, 2, 2, 2]) == 2.0
    assert stats.drift([5, 5, 5, 5]) is None


@pytest.mark.parametrize(
    "argv",
    [
        ["--workload", "ref_bench", "--seed", "7", "--seconds", "3", "--trace", "1"],
        ["--workload=ref_bench", "--seed=7", "--seconds=3", "--trace=1"],
        ["--seed", "7", "--workload=ref_bench", "--trace", "1", "--seconds=3"],
    ],
)
def test_parse_flags_accepts_both_spellings(argv):
    spec = {"workload": str, "seed": int, "seconds": float, "trace": int}
    assert stats.parse_flags(argv, spec) == {
        "workload": "ref_bench",
        "seed": 7,
        "seconds": 3.0,
        "trace": 1,
    }


@pytest.mark.parametrize(
    "argv",
    [
        ["--seed"],  # no value
        ["--seed", "1", "--seed", "2"],  # repeated
        ["--seed", "1", "--n", "3"],  # unknown
        ["7"],  # positional
        [],  # missing
    ],
)
def test_parse_flags_rejects(argv):
    with pytest.raises(ValueError):
        stats.parse_flags(argv, {"seed": int})


# -- BENCHMARK.json ----------------------------------------------------------------

_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_matches_the_code():
    b = _bench()
    assert b["end_to_end"] == [
        {"name": n, "unit": u, "better": d, "bound": bound}
        for n, u, d, bound in report.END_TO_END
    ]
    assert b["per_layer"] == [
        {"name": n, "unit": u, "better": d} for n, u, d, _ in report.PER_LAYER
    ]
    for w in b["workloads"]:
        assert w["name"] in workloads.WORKLOADS


def test_benchmark_json_keeps_the_contract():
    b = _bench()
    assert set(b) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert 1 <= b["run_seconds"] <= 60 and isinstance(b["run_seconds"], int)
    assert 2 <= len(b["workloads"]) <= 8
    names = [m["name"] for m in b["workloads"] + b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert all(_NAME.match(n) for n in names)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"] + b["per_layer"]:
        assert _UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    for p in b["paths"]:
        assert (ROOT / p).is_dir() and not p.startswith("/") and ".." not in p


# -- tracing and checking ---------------------------------------------------------


def _span(sid, name, start, end, parent, op=0):
    s = trace.Span(sid, name, start, parent, op)
    s.end = end
    return s


def test_self_times_add_up_to_the_root_span():
    spans = [
        _span(0, "session.execute", 0.0, 10.0, None),
        _span(1, "dialect.rewrite", 0.5, 1.0, 0),
        _span(2, "catalyst.analyze", 1.0, 3.0, 0),
        _span(3, "payload.select", 3.0, 9.0, 0),
        _span(4, "catalyst.plan", 3.5, 4.0, 3),
        _span(5, "exec.action", 4.0, 8.0, 3),
    ]
    selfs = trace.self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 0.5 - 2.0 - 6.0)
    assert selfs[3] == pytest.approx(6.0 - 0.5 - 4.0)
    assert sum(selfs.values()) == pytest.approx(10.0)
    assert trace.check_spans(spans, {0: 10.0}) == []


def _good_tree():
    return [
        _span(0, "session.execute", 0.0, 10.0, None),
        _span(1, "catalyst.analyze", 1.0, 3.0, 0),
        _span(2, "payload.select", 3.0, 9.0, 0),
        _span(3, "exec.action", 4.0, 8.0, 2),
    ]


@pytest.mark.parametrize(
    "break_it, latencies, message",
    [
        # a child that ends after its parent
        (lambda t: setattr(t[3], "end", 9.5), {0: 10.0}, "escapes its parent"),
        # a child that starts before its parent
        (lambda t: setattr(t[3], "start", 2.5), {0: 10.0}, "escapes its parent"),
        # two siblings that overlap
        (lambda t: setattr(t[1], "end", 3.5), {0: 10.0}, "overlap"),
        # a second root in the same operation
        (lambda t: setattr(t[1], "parent", None), {0: 10.0}, "2 root spans"),
        # a span that never ended
        (lambda t: setattr(t[1], "end", None), {0: 10.0}, "no valid end"),
        # a child whose parent is in another operation
        (lambda t: setattr(t[0], "op", 1), {0: 10.0, 1: 10.0}, "no parent"),
        # the root misses a second of the operation's latency
        (lambda t: None, {0: 11.0}, "misses"),
        # a traced operation without spans
        (lambda t: None, {0: 10.0, 1: 2.0}, "operation 1 has 0 root spans"),
        # spans of an operation that was not traced
        (lambda t: None, {}, "in no traced operation"),
    ],
)
def test_check_spans_finds_malformed_trees(break_it, latencies, message):
    spans = _good_tree()
    assert trace.check_spans(spans, {0: 10.0}) == []
    break_it(spans)
    problems = trace.check_spans(spans, latencies)
    assert any(message in p for p in problems), problems


def test_a_malformed_trace_fails_the_run():
    run = _fake_run(True)
    run.spans[1].end = run.spans[0].end + 0.1  # exec.action escapes execute
    result, lines, full = report.build(run)
    assert not result["correct"]
    assert full["span_problems"] and any("escapes" in ln for ln in lines)


def test_same_rows_is_a_multiset_compare_with_float_tolerance():
    same = workloads._same_rows
    assert same([(1, 0.1 + 0.2)], [(1, 0.3)])
    assert same([(2, 1.0), (1, 2.0)], [(1, 2.0), (2, 1.0)])
    assert not same([(1, 1.0)], [(1, 1.0), (1, 1.0)])
    assert not same([(1, 1.0)], [(1, 1.001)])


def test_canonical_hash_ignores_row_and_column_order():
    import pandas as pd

    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
    assert workloads.canonical_hash(a) == workloads.canonical_hash(b)
    c = pd.DataFrame({"x": [1, 3], "y": ["a", "b"]})
    assert workloads.canonical_hash(a) != workloads.canonical_hash(c)


def test_star_tables_repeat_at_a_seed():
    a, b = datagen.star_tables(3), datagen.star_tables(3)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(datagen.star_tables(4)["lineitem"])


def test_oltp_stream_repeats_and_follows_its_model():
    # the session object is only stored, so no Spark is needed here
    def stream(seed, n=300):
        wl = workloads.OltpMix(object(), "work", seed)
        it = wl.ops()
        return [next(it) for _ in range(n)], wl

    a, wl = stream(5)
    b, _ = stream(5)
    assert [(o.cls, o.sql, o.expect) for o in a] == [
        (o.cls, o.sql, o.expect) for o in b
    ]
    assert {o.cls for o in a} == {"point", "insert", "update", "delete", "dup_insert"}
    assert all(o.table == "T" for o in a if o.cls == "dup_insert")
    # the same mix of statements at every seed
    c, _ = stream(6)
    assert [(o.cls, o.table) for o in a] == [(o.cls, o.table) for o in c]
    assert [o.sql for o in a] != [o.sql for o in c]
    # replaying the writes on the initial rows gives the model's final rows
    init = workloads.OltpMix(object(), "work", 5).models
    rows = {t: dict(m.rows) for t, m in init.items()}
    for o in a:
        k = int(re.search(r"(?:VALUES \(|pk = )(\d+)", o.sql).group(1))
        if o.cls == "point":
            want = rows[o.table].get(k)
            assert o.expect == ([] if want is None else [(k, *want)])
        elif o.cls in ("insert", "update"):
            m = re.search(r"\((\d+), (\d+), ([\d.]+)\)|fk = (\d+), val = ([\d.]+)", o.sql)
            fk, val = [g for g in m.groups() if g is not None][-2:]
            assert (o.cls == "insert") == (k not in rows[o.table])
            rows[o.table][k] = (int(fk), float(val))
        elif o.cls == "delete":
            del rows[o.table][k]
        else:
            assert k in rows[o.table] and o.expect == "UniqueViolation"
    assert rows == {t: m.rows for t, m in wl.models.items()}


def _fake_run(traced):
    ops = [workloads.Op("read", c) for c in ("a", "b", "a", "b")]
    recs = [
        workloads.Record(i, op, at=float(i), latency=0.5 + i, traced=traced and i % 2 == 0)
        for i, op in enumerate(ops)
    ]
    spans = []
    for r in recs:
        if r.traced:
            spans.append(_span(len(spans), "session.execute", r.at, r.at + r.latency, None, r.i))
            spans.append(_span(len(spans), "exec.action", r.at, r.at + 0.25, len(spans) - 1, r.i))
    return report.Run(
        workload="ref_bench", seed=1, traced=traced, records=recs, wall_s=10.0,
        cpu_s=4.0, setup_s=3.0, jvm_s=1.0, load_s=2.0, load_rows=100,
        peak_rss_mb=500.0, heap_live_mb=50.0, wrong=[], other_failures=0,
        confs={}, trace_ops=4, spans=spans,
    )


@pytest.mark.parametrize("traced", [False, True])
def test_result_line_holds_exactly_the_listed_metrics(traced):
    result, lines, _ = report.build(_fake_run(traced))
    listed = report.PER_LAYER if traced else report.END_TO_END
    assert list(result["metrics"]) == [m[0] for m in listed]
    assert result["correct"] and result["attempted"] == 4 and result["failed"] == 0
    for name, unit, *_ in listed:
        assert result["metrics"][name]["unit"] == unit
    if traced:
        # two traced operations: 0.5 s and 2.5 s long, 0.25 s of it in exec
        assert result["metrics"]["exec.action_ms"]["value"] == pytest.approx(250)
        assert result["metrics"]["session.self_ms"]["value"] == pytest.approx(1250)
