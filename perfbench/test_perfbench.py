"""Self-tests of the benchmark that need no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
from types import SimpleNamespace

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spec  # noqa: E402
from measure import Span, Tracer, self_times, tail_percentile  # noqa: E402


@pytest.mark.parametrize("corpus", sorted(gen.GENERATORS))
def test_generator_is_byte_identical_per_seed(tmp_path, corpus):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.GENERATORS[corpus](5, str(a))
    gen.GENERATORS[corpus](5, str(b))
    gen.GENERATORS[corpus](6, str(c))
    files = sorted(
        os.path.relpath(os.path.join(dp, f), a)
        for dp, _, fs in os.walk(a) for f in fs
    )
    assert files
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert differ, "another seed must give other inputs"


def test_generator_cli_writes_expected_answers(tmp_path):
    gen.main(["curate", "--seed", "3", "--out", str(tmp_path / "cur")])
    with open(tmp_path / "cur" / "expected.json") as fh:
        expected = json.load(fh)
    assert expected["near_pairs"] and expected["exact_pairs"]
    assert not os.path.exists(tmp_path / "cur" / "input" / "expected.json")


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(list(range(1, 101)), 90) == 90
    assert tail_percentile(list(range(1, 100)), 90) is None
    assert tail_percentile([], 90) is None
    # ties at the percentile do not count as beyond it
    assert tail_percentile([1.0] * 95 + [2.0] * 5, 90) is None


def _span(name, start, end, parent=None, children=()):
    return Span(name, start, end, parent=parent, children=list(children))


def test_self_time_subtracts_union_of_children():
    spans = [
        _span("pass", 0.0, 10.0, children=[1, 2, 3]),
        _span("a.x", 1.0, 3.0, parent=0),
        _span("b.y", 2.0, 5.0, parent=0),  # overlaps a.x: union is 1..5
        _span("c.z", 6.0, 7.0, parent=0),
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0])


def test_self_time_clips_children_to_parent():
    spans = [_span("pass", 0.0, 4.0, children=[1]),
             _span("a.x", 3.0, 6.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_tracer_counts_are_exclusive_of_children():
    state = {"cpu": 0.0, "jobs": []}

    def probe():
        return state["cpu"], list(state["jobs"])

    tr = Tracer(probe, lambda jid: (jid, 0))
    with tr.span("pass"):
        state["cpu"] += 100
        state["jobs"].append(1)
        with tr.span("sources.parse") as sp:
            state["cpu"] += 300
            state["jobs"] += [2, 3]
            sp.counts["records"] = 7
    by_name, by_layer = tr.pass_totals(0)
    assert by_name["pass"]["cpu_s"] == pytest.approx(0.1)
    assert by_name["pass"]["jobs"] == 1 and by_name["pass"]["tasks"] == 1
    assert by_name["sources.parse"]["cpu_s"] == pytest.approx(0.3)
    assert by_name["sources.parse"]["jobs"] == 2
    assert by_name["sources.parse"]["tasks"] == 5
    assert by_layer["sources"]["records"] == 7
    total_self = sum(d["self_s"] for d in by_name.values())
    root = tr.spans[0]
    assert total_self == pytest.approx(root.end - root.start)


def test_layer_values_only_emit_declared_metrics():
    tr = Tracer(lambda: (0.0, []), lambda jid: (0, 0))
    tr.pass_id = 1
    with tr.span("pass"):
        for name in ("sources.plan", "validation.check", "writers.reports",
                     "publish.commit", "operators.topk", "dedup.lsh"):
            with tr.span(name) as sp:
                if name == "dedup.lsh":
                    sp.counts.update(lsh_candidates=3, lsh_useful_ratio=1.0)
    vals = run._layer_values(tr, 1)
    assert set(vals) <= set(spec.load().per_layer)
    assert "operators.topk_ms_p50" in vals and "trace.glue_s" in vals


def test_layer_map_covers_every_per_layer_metric():
    with open(os.path.join(HERE, "layer_map.json")) as fh:
        layer_map = json.load(fh)["metrics"]
    names = spec.load()
    assert list(layer_map) == list(names.per_layer)
    for entry in layer_map.values():
        assert set(entry["moves"]) <= set(names.end_to_end)
        assert set(entry["most_work_in"]) <= set(names.workloads)


def _write_survivors(path, rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    os.makedirs(path)
    con.execute(f"COPY t TO '{path}/part-0.parquet' (FORMAT parquet)")


def test_curate_check_catches_duplicates_and_unscrubbed_pii(tmp_path):
    corpus = str(tmp_path / "corpus")
    expected = gen.gen_curate(4, corpus)
    inputs = checks.read_input_docs(corpus)
    gone = set(expected["dropped"]) | {
        b for _, b in expected["exact_pairs"] + expected["near_pairs"]}
    rows = [(d, checks.scrub(t)) for d, t in sorted(inputs.items())
            if d not in gone]
    _write_survivors(str(tmp_path / "good"), rows)
    assert checks.check_curate(str(tmp_path / "good"), corpus, expected) == []

    _write_survivors(str(tmp_path / "dup"), rows + rows[:1])
    assert any("distinct doc_ids" in p for p in
               checks.check_curate(str(tmp_path / "dup"), corpus, expected))

    raw = [(d, inputs[d]) for d, _ in rows]
    _write_survivors(str(tmp_path / "raw"), raw)
    problems = checks.check_curate(str(tmp_path / "raw"), corpus, expected)
    assert any("planted PII" in p for p in problems)


def test_failed_pass_keeps_its_time_and_adds_no_mb():
    from workloads import Op

    wl = SimpleNamespace(out_ratio=lambda ctx: 0.5)
    ops = [Op(2.0, mb=4.0), Op(4.0, "AnalysisException"), Op(3.0, mb=4.0)]
    vals = run._end_to_end(wl, None, 30.0, ops)
    assert vals["latency_ms_p50"] == (3000.0, 3)
    assert vals["throughput_mb_s"][0] == pytest.approx(8.0 / 3 / 3.0)
    assert vals["setup_s"] == (30.0, 1)
