"""The MinHash producers' driver path (dedup_ops._driver_minhash_counts)
returns exactly what the distributed path returns — rows and schema —
and declines, falling back to the distributed plan, whenever its gate
does not hold. The distributed path is forced by setting
MINHASH_DRIVER_MAX_ROWS to 0 (small_sides then collects nothing); a spy
records which path each call took."""

from __future__ import annotations

import pytest

from voter_gateway_spark.operators import dedup_ops

WORDS = "amber basil cedar delta ember fjord grove harbor island jasper kestrel lumen".split()


def _text(seed: int, swap: int | None = None) -> str:
    ws = [f"{w}{seed}" for w in WORDS]
    if swap is not None:
        ws[swap] = f"other{seed}"
    return " ".join(ws)


# exact duplicates within each side and across sides, near duplicates,
# NULL / empty / whitespace texts, a NULL id and a singleton
CORPUS = [
    (1, _text(1)),
    (2, _text(1)),
    (3, _text(2, swap=5)),
    (4, _text(2)),
    (5, None),
    (6, ""),
    (7, "   "),
    (8, _text(8)),
    (None, _text(9)),
    (9, "single"),
]
NEW = [
    (101, _text(1)),
    (102, _text(1)),
    (103, _text(2, swap=0)),
    (104, None),
    (105, _text(105)),
    (None, _text(1)),
    (106, _text(8, swap=11)),
]


def _sid(i):
    # 'é…' sorts after every ASCII id in both engines (code point order
    # is UTF-8 byte order)
    return None if i is None else ("é" if i % 4 == 0 else "d") + f"{i:03d}"


@pytest.fixture(scope="module")
def frame(spark):
    """(doc_id, text) frames by (rows, id type), built once per module
    and checkpointed, so every path reads block-manager rows instead of
    re-running a Python RDD."""
    made: dict = {}

    def get(rows, id_kind="bigint"):
        key = (tuple(rows), id_kind)
        if key not in made:
            if id_kind == "string":
                rows = [(_sid(i), t) for i, t in rows]
            elif id_kind == "double":
                rows = [(None if i is None else float(i), t) for i, t in rows]
            made[key] = spark.createDataFrame(
                rows, f"doc_id {id_kind}, text string"
            ).localCheckpoint()
        return made[key]

    return get


@pytest.fixture
def paths(monkeypatch):
    """Runs a producer call on its own path and on the forced
    distributed one, asserts equal schemas and returns (own rows,
    distributed rows). `taken` lists, per call, whether the driver path
    returned counts."""
    taken: list[bool] = []
    real = dedup_ops._driver_minhash_counts

    def spy(*a, **kw):
        out = real(*a, **kw)
        taken.append(out is not None)
        return out

    monkeypatch.setattr(dedup_ops, "_driver_minhash_counts", spy)

    def run(call):
        got = call()
        rows = sorted(map(tuple, got.collect()), key=repr)
        with monkeypatch.context() as m:
            m.setattr(dedup_ops, "MINHASH_DRIVER_MAX_ROWS", 0)
            dist = call()
            drows = sorted(map(tuple, dist.collect()), key=repr)
        assert taken[-1] is False
        assert got.schema == dist.schema
        return rows, drows

    run.taken = taken
    return run


# (id type, threshold, expand): every threshold and both expand modes
# on bigint ids, one string-id case
CASES = [
    ("bigint", 0.0, True),
    ("bigint", 0.3, False),
    ("bigint", 1.0, True),
    ("string", 0.3, True),
    ("string", 0.0, False),
]


@pytest.mark.parametrize("id_kind,threshold,expand", CASES)
def test_minhash_lsh_pairs_driver_equals_distributed(
    frame, paths, id_kind, threshold, expand
):
    df = frame(CORPUS + NEW, id_kind)
    got, want = paths(
        lambda: dedup_ops.minhash_lsh_pairs(
            df, "doc_id", "text", threshold=threshold, expand_pairs=expand
        )
    )
    assert paths.taken[0] is True
    assert got == want and got


@pytest.mark.parametrize("id_kind,threshold,expand_corpus", CASES)
def test_incremental_minhash_pairs_driver_equals_distributed(
    frame, paths, id_kind, threshold, expand_corpus
):
    new, corpus = frame(NEW, id_kind), frame(CORPUS, id_kind)
    got, want = paths(
        lambda: dedup_ops.incremental_minhash_pairs(
            new, corpus, "doc_id", "text", threshold=threshold, expand_corpus=expand_corpus
        )
    )
    assert paths.taken[0] is True
    assert got == want and got


def test_uneven_bands_driver_equals_distributed(frame, paths):
    """n_hashes=10 over 3 bands: 3 rows per band, the last value unused."""
    mh = dict(n_hashes=10, bands=3, threshold=0.3)
    df = frame(CORPUS + NEW)
    got, want = paths(lambda: dedup_ops.minhash_lsh_pairs(df, "doc_id", "text", **mh))
    assert got == want and got
    new, corpus = frame(NEW), frame(CORPUS)
    got, want = paths(
        lambda: dedup_ops.incremental_minhash_pairs(new, corpus, "doc_id", "text", **mh)
    )
    assert got == want and got
    assert paths.taken == [True, False, True, False]


def test_empty_and_null_id_sides_driver_equals_distributed(frame, paths):
    """A side with no rows, or only NULL ids, pairs nothing on either
    path (a day whose batch is all exact duplicates admits no rows)."""
    empty, null_ids = frame([]), frame([(None, _text(1)), (None, None)])
    got, want = paths(lambda: dedup_ops.minhash_lsh_pairs(empty, "doc_id", "text"))
    assert got == want == []
    got, want = paths(
        lambda: dedup_ops.incremental_minhash_pairs(null_ids, frame(CORPUS), "doc_id", "text")
    )
    assert got == want == []
    assert paths.taken == [True, False, True, False]


BIG = " ".join(f"w{i}" for i in range(40))  # 38 shingles
# name: (corpus rows, id type, patched caps, producers that must decline)
DECLINED = {
    "duplicate_id": (CORPUS + [(1, _text(77))], "bigint", {}, ("incremental",)),
    "double_ids": (CORPUS, "double", {}, ("self",)),
    "rows_over_cap": (CORPUS, "bigint", {"MINHASH_DRIVER_MAX_ROWS": len(CORPUS) - 1}, ("self",)),
    "set_over_cap": (CORPUS + [(50, BIG)], "bigint", {"MINHASH_DRIVER_MAX_SET": 37}, ("incremental",)),
    "fanout_over_cap": (CORPUS, "bigint", {"MINHASH_DRIVER_MAX_FANOUT": 0}, ("self", "incremental")),
}


@pytest.mark.parametrize("case", sorted(DECLINED))
def test_gate_declines_to_distributed_and_agrees(frame, paths, monkeypatch, case):
    rows, id_kind, caps, producers = DECLINED[case]
    for name, value in caps.items():
        monkeypatch.setattr(dedup_ops, name, value)
    corpus = frame(rows, id_kind)
    calls = {
        # expand_pairs: the duplicate groups alone give a non-zero fanout
        "self": lambda: dedup_ops.minhash_lsh_pairs(
            corpus, "doc_id", "text", threshold=0.3, expand_pairs=True
        ),
        "incremental": lambda: dedup_ops.incremental_minhash_pairs(
            frame(NEW, id_kind), corpus, "doc_id", "text", threshold=0.3
        ),
    }
    for p in producers:
        got, want = paths(calls[p])
        assert got == want and got
    assert paths.taken == [False] * 2 * len(producers)
