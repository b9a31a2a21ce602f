"""Measurement-harness guards; no Spark session.

- every `tools/<name>.py` the docs tell a reader to run must exist;
- bench.py's query lists must name catalog queries, so renaming a
  catalog query fails here instead of in the middle of a bench run;
- `session.small_rows` is the engine's only bounded-collect size gate;
- the MinHash and fuzzy operators build frames from Python rows only
  through `session.local_frame`;
- the persisted band index's layout lives only in `operators/dedup_ops.py`;
- the vector top-k searchers rank through one window and expand
  duplicate-collapsed members as rows, not arrays.
"""

import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
DOCS = [
    "README.md",
    "SCALING.md",
    "SURVEY.md",
    ".claude/skills/verify/SKILL.md",
]


@pytest.mark.parametrize("doc", DOCS)
def test_docs_name_only_existing_tools(doc):
    named = set(re.findall(r"tools/(\w+\.py)", (ROOT / doc).read_text()))
    missing = sorted(n for n in named if not (ROOT / "tools" / n).is_file())
    assert not missing, f"{doc} names missing tools: {missing}"


def test_bench_queries_are_catalog_queries(monkeypatch):
    monkeypatch.syspath_prepend(str(ROOT))
    import bench

    assert set(bench.R1_BASELINE_QUERIES) <= set(bench.BENCH_QUERIES)
    assert set(bench.BENCH_QUERIES) <= set(bench.QUERIES)


def test_small_rows_is_the_only_bounded_collect():
    """A `.limit(n + 1)` probe outside session.py is a hand-rolled copy
    of the small-input gate; route it through `session.small_rows`."""
    probe = re.compile(r"\.limit\([^)]*\+\s*1\)")
    pkg = ROOT / "voter_gateway_spark"
    hits = [
        f"{p.relative_to(ROOT)}:{n}"
        for p in sorted(pkg.rglob("*.py"))
        if p != pkg / "session.py"
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if probe.search(line)
    ]
    assert not hits, f"bounded collects outside session.small_rows: {hits}"


def test_driver_path_operators_build_local_frames():
    """`createDataFrame(list)` builds a Python-RDD scan: no size
    estimate, one job and a Python worker per read. The driver paths'
    results and every other row-built frame in these operators go
    through `session.local_frame` (a LocalRelation)."""
    ops = ROOT / "voter_gateway_spark" / "operators"
    hits = [
        f"{p.relative_to(ROOT)}:{n}"
        for p in (ops / "dedup_ops.py", ops / "fuzzy.py")
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert not hits, f"createDataFrame outside session.local_frame: {hits}"


def test_band_index_layout_lives_in_dedup_ops():
    """The band rows and the index's `_kp` / `_ip` partition columns
    have one home; another module spelling them out is a second copy of
    the layout — route it through `dedup_ops.write_band_index` and
    `dedup_ops.probe_band_index`."""
    probe = re.compile(r"[\"']_kp[\"']|[\"']_ip[\"']|_minhash_band_rows")
    pkg = ROOT / "voter_gateway_spark"
    hits = [
        f"{p.relative_to(ROOT)}:{n}"
        for p in sorted(pkg.rglob("*.py"))
        if p != pkg / "operators" / "dedup_ops.py"
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if probe.search(line)
    ]
    assert not hits, f"band-index layout outside dedup_ops: {hits}"


def test_similarity_ranks_through_one_window():
    """Every top-k searcher in `operators/similarity.py` ranks through
    `_rank_topk`; another `Window.partitionBy("query_id")` is a second
    copy of the ranking window. The two query windows with other keys
    stay: the binary Hamming pool and the graph-search beam. No `_mem`
    member array remains: the exact-duplicate collapse brings members
    back as rows (`_collapsed_topk`)."""
    src = (ROOT / "voter_gateway_spark" / "operators" / "similarity.py").read_text()
    owners, fn = [], None
    for line in src.splitlines():
        m = re.match(r"def (\w+)", line)
        if m:
            fn = m.group(1)
        if 'Window.partitionBy("query_id")' in line:
            owners.append(fn)
    assert sorted(owners) == ["_rank_topk", "binary_topk", "knn_graph_search"], owners
    assert '"_mem"' not in src
