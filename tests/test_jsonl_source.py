"""JSONLSource: schema paths, corrupt-line accounting, nested payloads,
DuckDB read_json parity on a clean shard."""

import json

import duckdb
import pytest
from pyspark.sql import functions as F

from voter_gateway_spark.sources import JSONLSource

DOCS = [
    {"doc_id": 1, "text": "hello world", "meta": {"lang": "en", "score": 0.9}},
    {"doc_id": 2, "text": "bonjour", "meta": {"lang": "fr", "score": 0.4}},
    {"doc_id": 3, "text": "third doc", "meta": {"lang": "en", "score": 0.7}},
]


@pytest.fixture()
def shard(tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text("\n".join(json.dumps(d) for d in DOCS) + "\n")
    return str(p)


@pytest.fixture()
def dirty_shard(tmp_path):
    lines = [json.dumps(d) for d in DOCS]
    lines.insert(1, '{"doc_id": 99, "text": "unterminated')   # bad JSON
    lines.append("not json at all")
    p = tmp_path / "dirty.jsonl"
    p.write_text("\n".join(lines) + "\n")
    return str(p)


SCHEMA = "doc_id bigint, text string, meta struct<lang: string, score: double>"


def test_explicit_schema_read(spark, shard):
    df = JSONLSource(shard, schema=SCHEMA).read(spark)
    assert dict(df.dtypes)["meta"] == "struct<lang:string,score:double>"
    rows = {r.doc_id: r for r in df.collect()}
    assert rows[1].text == "hello world"
    assert rows[2].meta.lang == "fr"


def test_inferred_schema_read(spark, shard):
    df = JSONLSource(shard).read(spark)
    assert df.count() == 3
    assert "doc_id" in df.columns and "meta" in df.columns


def test_malformed_lines_dropped_and_counted(spark, dirty_shard):
    src = JSONLSource(dirty_shard, schema=SCHEMA, remove_malformed=True)
    df = src.read(spark)
    assert sorted(r.doc_id for r in df.collect()) == [1, 2, 3]
    assert src.malformed_count() == 2


def test_malformed_kept_without_flag(spark, dirty_shard):
    df = JSONLSource(dirty_shard, schema=SCHEMA).read(spark)
    assert df.count() == 5  # bad lines kept as all-NULL + corrupt payload


def test_nested_projection(spark, shard):
    df = JSONLSource(shard, schema=SCHEMA).read(spark)
    en = df.where(F.col("meta.lang") == "en").select(
        "doc_id", F.col("meta.score").alias("score")
    )
    assert {(r.doc_id, r.score) for r in en.collect()} == {(1, 0.9), (3, 0.7)}


def test_duckdb_parity_on_clean_shard(spark, shard):
    got = (
        JSONLSource(shard, schema=SCHEMA)
        .read(spark)
        .select("doc_id", "text", F.col("meta.lang").alias("lang"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    exp = con.sql(
        f"SELECT doc_id, text, meta.lang AS lang FROM read_json_auto('{shard}') ORDER BY doc_id"
    ).df()
    assert got.equals(exp)


def test_reread_releases_previous_cache_and_counts_latest(spark, tmp_path):
    # re-read unpersists the prior parse (no storage leak) and
    # malformed_count reflects the latest read; release() frees it
    p1 = tmp_path / "a.jsonl"
    p1.write_text('{"id": 1}\n{bad\n{"id": 2}\n')
    src = JSONLSource(str(p1), schema="id bigint", remove_malformed=True)
    src.read(spark)
    assert src.malformed_count() == 1
    first = src._flagged
    p2 = tmp_path / "b.jsonl"
    p2.write_text('{"id": 3}\n{bad\n{also bad\n')
    src.path = str(p2)
    src.read(spark)
    assert not first.is_cached, "previous parse must be unpersisted"
    assert src.malformed_count() == 2
    src.release()
    with pytest.raises(ValueError):
        src.malformed_count()
    src.release()  # idempotent


def test_new_read_after_rewrite_parses_the_new_contents(spark, tmp_path):
    """A read owns its parse: a new source over the same path, after
    the file was rewritten, reads the new lines, not a parse an earlier
    read left behind."""
    p = tmp_path / "r.jsonl"
    p.write_text('{"id": 1}\n{"id": 2}\n')
    first = JSONLSource(str(p), schema="id bigint", remove_malformed=True)
    assert (first.read(spark).count(), first.malformed_count()) == (2, 0)
    p.write_text('{"id": 1}\n{"id": 2}\n{"id": 3}\n{bad\n')
    second = JSONLSource(str(p), schema="id bigint", remove_malformed=True)
    assert (second.read(spark).count(), second.malformed_count()) == (3, 1)
