"""Tests of the benchmark's own machinery (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import stats  # noqa: E402
from spans import Span, Tracer, compute_self_times, self_time_by_layer  # noqa: E402


def _digest(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*"))
        if p.is_file()
    }


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_deterministic_per_seed(workload, tmp_path):
    a = gen.generate(workload, 7, tmp_path / "a")
    b = gen.generate(workload, 7, tmp_path / "b")
    c = gen.generate(workload, 8, tmp_path / "c")
    assert a == b
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    # sizes do not depend on the seed, only content does
    assert {k: v for k, v in a.items() if k not in ("seed", "exact_dup_docs", "clusters", "cluster_dup_rows")} == {
        k: v for k, v in c.items() if k not in ("seed", "exact_dup_docs", "clusters", "cluster_dup_rows")
    }


@pytest.mark.parametrize("seed", range(20, 30))
def test_voter_import_truth_matches_the_csv(seed, tmp_path):
    truth = gen.generate("voter_import", seed, tmp_path)
    lines = (tmp_path / "import.csv").read_bytes().decode("latin-1").split("\n")[1:-1]
    width = len(gen.CSV_HEADER)

    def fields(line: str) -> int:
        unquoted = "".join(line.split("^")[::2])  # drop caret-quoted segments
        return unquoted.count("|") + 1

    malformed = sum(1 for line in lines if not line or fields(line) != width)
    assert malformed == truth["malformed_rows"]
    assert len(lines) - malformed == truth["csv_rows"]
    assert truth["exact_overlap"] + truth["fuzzy_rows"] + truth["new_rows"] == truth["csv_rows"]
    # the 60 / 15 / 25 overlap profile
    assert truth["exact_overlap"] * 100 // truth["csv_rows"] == 60
    assert truth["fuzzy_rows"] * 100 // truth["csv_rows"] == 15


def test_tail_is_highest_percentile_with_ten_beyond():
    values = [float(v) for v in range(1, 101)]  # 1..100
    pct, value = stats.tail(values)
    assert (pct, value) == (90.0, 90.0)
    assert sum(v > value for v in values) == 10
    # order does not matter
    assert stats.tail(list(reversed(values))) == (90.0, 90.0)
    # 27 samples: the 17th smallest, 10 beyond it
    pct, value = stats.tail([float(v) for v in range(27)])
    assert value == 16.0 and pct == pytest.approx(100 * 17 / 27)


def test_tail_needs_eleven_samples():
    assert stats.tail([1.0] * 10) is None
    assert stats.tail([float(v) for v in range(11)]) == (100 / 11, 0.0)


def _span(i, parent, start, end, op=0, name="x"):
    return Span(id=i, name=name, parent=parent, op=op, start=start, end=end)


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, 0.0, 10.0, name="root"),
        _span(1, 0, 1.0, 4.0, name="a"),
        _span(2, 1, 2.0, 3.0, name="a.child"),
        _span(3, 0, 5.0, 9.0, name="b"),
    ]
    compute_self_times(spans)
    got = {s.name: s.self_s for s in spans}
    assert got == pytest.approx({"root": 3.0, "a": 2.0, "a.child": 1.0, "b": 4.0})
    # self times of a tree add up to the root's duration
    assert sum(got.values()) == pytest.approx(10.0)


def test_self_time_with_overlapping_and_overhanging_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 5.0),
        _span(2, 0, 3.0, 6.0),  # overlaps the first child: covered once
        _span(3, 0, 9.0, 12.0),  # runs past the parent: clipped
    ]
    compute_self_times(spans)
    assert spans[0].self_s == pytest.approx(10.0 - 5.0 - 1.0)


def test_self_time_by_layer_sums_per_operation():
    spans = [
        _span(0, None, 0.0, 4.0, op=1, name="root"),
        _span(1, 0, 0.0, 1.0, op=1, name="sinks.write"),
        _span(2, 0, 2.0, 3.0, op=1, name="sinks.write"),
        _span(3, None, 5.0, 6.0, op=3, name="root"),
    ]
    compute_self_times(spans)
    assert self_time_by_layer(spans) == {
        1: pytest.approx({"root": 2.0, "sinks.write": 2.0}),
        3: pytest.approx({"root": 1.0}),
    }


def test_tracer_records_parents_only_while_active():
    tr = Tracer()
    with tr.span("ignored"):
        pass
    tr.active = True
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    spans = tr.finish()
    assert [(s.name, s.parent) for s in spans] == [("outer", None), ("inner", 0)]
    assert spans[0].self_s <= spans[0].duration
