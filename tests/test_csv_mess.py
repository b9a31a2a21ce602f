"""CSV mess-handling behavioral tests — the reference's only real-file
tests, reproduced in spirit (spec/csv_driver_csv_file_spec.rb:48-108):
regex strip preprocessing, malformed-row removal, custom quote chars,
embedded delimiters, Latin-1."""

import pytest


def _write(tmp_path, name, body, encoding="utf-8"):
    p = tmp_path / name
    p.write_bytes(body.encode(encoding))
    return str(p)


def test_regex_strip(spark, tmp_path):
    from voter_gateway_spark.sources import CSVSource

    path = _write(tmp_path, "a.csv", "id,name\n1,foo~X~bar\n2,plain\n")
    df = CSVSource(path, quote='"', remove_expression="~X~").read(spark)
    assert df.columns == ["id", "name"]
    rows = {r.id: r.name for r in df.collect()}
    assert rows == {"1": "foobar", "2": "plain"}


def test_malformed_rows_dropped_and_counted(spark, tmp_path):
    from voter_gateway_spark.sources import CSVSource

    path = _write(
        tmp_path,
        "b.csv",
        "id,name,email\n1,a,a@x.co\ngarbage line\n2,b,b@x.co\nonly,two\n",
    )
    src = CSVSource(path, quote='"', remove_malformed=True)
    df = src.read(spark)
    assert df.count() == 2
    assert src.malformed_count() == 2


def test_blank_lines_counted_as_malformed(spark, tmp_path):
    """Spark's csv source silently skips blank lines; the reference's
    wc-l-diff accounting (csv_audit.rb:123-133) counts them as
    malformed. malformed_count must include them."""
    from voter_gateway_spark.sources import CSVSource

    path = _write(
        tmp_path,
        "blank.csv",
        "id,name,email\n1,a,a@x.co\n\n2,b,b@x.co\n\n\nonly,two\n",
    )
    src = CSVSource(path, quote='"', remove_malformed=True)
    df = src.read(spark)
    assert df.count() == 2  # the two good rows
    # 3 blank lines + 1 field-count failure
    assert src.malformed_count() == 4
    # cached: second call returns the same without recounting files
    assert src.malformed_count() == 4


def test_no_blank_lines_no_drift(spark, tmp_path):
    from voter_gateway_spark.sources import CSVSource

    path = _write(tmp_path, "noblank.csv", "id,name\n1,a\n2,b\n")
    src = CSVSource(path, quote='"', remove_malformed=True)
    src.read(spark)
    assert src.malformed_count() == 0


def test_custom_quote_embedded_delimiter(spark, tmp_path):
    from voter_gateway_spark.sources import CSVSource

    path = _write(tmp_path, "c.csv", "id,name\n1,^Smith, John^\n2,^O'Neil, Jane^\n")
    df = CSVSource(path).read(spark)  # default quote is ^ like the reference
    rows = {r.id: r.name for r in df.collect()}
    assert rows == {"1": "Smith, John", "2": "O'Neil, Jane"}


def test_latin1_encoding(spark, tmp_path):
    from voter_gateway_spark.sources import CSVSource

    path = _write(tmp_path, "d.csv", "id,name\n1,Muñoz\n", encoding="latin-1")
    df = CSVSource(path, quote='"', encoding="ISO-8859-1").read(spark)
    assert df.collect()[0].name == "Muñoz"


def test_custom_delimiter(spark, tmp_path):
    from voter_gateway_spark.sources import CSVSource

    path = _write(tmp_path, "e.csv", "id|name\n1|x\n2|y\n")
    df = CSVSource(path, delimiter="|", quote='"').read(spark)
    assert df.columns == ["id", "name"]
    assert df.count() == 2


def test_header_sniffing(spark, tmp_path):
    from voter_gateway_spark.sources import CSVSource

    path = _write(tmp_path, "f.csv", "a,b,c\n1,2,3\n")
    assert CSVSource(path, quote='"').headers(spark) == ["a", "b", "c"]


def test_trailing_empty_field_is_well_formed(spark, tmp_path):
    """'1,a,' has three present fields (the last empty) — the reference
    drops only on raw field-count mismatch, so this row must survive
    remove_malformed (regression: the old last-column-NULL heuristic
    dropped it)."""
    from voter_gateway_spark.sources import CSVSource

    path = _write(
        tmp_path,
        "g.csv",
        "id,name,email\n1,a,\n2,b,b@x.co\nonly,two\n",
    )
    src = CSVSource(path, quote='"', remove_malformed=True)
    df = src.read(spark)
    rows = {r.id: (r.name, r.email) for r in df.collect()}
    assert rows == {"1": ("a", None), "2": ("b", "b@x.co")}
    assert src.malformed_count() == 1


def test_header_identical_data_row_is_kept(spark, tmp_path):
    """Header removal is positional: a data row byte-identical to the
    header line is data, not a repeated header."""
    from voter_gateway_spark.sources import CSVSource

    path = _write(
        tmp_path,
        "h.csv",
        "id,name\n1,x\nid,name\n2,y\n",
    )
    src = CSVSource(path, quote='"', remove_malformed=True)
    df = src.read(spark)
    rows = {r.id: r.name for r in df.collect()}
    assert rows == {"1": "x", "id": "name", "2": "y"}
    assert src.malformed_count() == 0


def test_quoted_delimiter_not_counted_as_field_break(spark, tmp_path):
    from voter_gateway_spark.sources import CSVSource

    path = _write(
        tmp_path,
        "i.csv",
        "id,name\n1,^Smith, John^\nbad,row,extra\n",
    )
    src = CSVSource(path, remove_malformed=True)
    df = src.read(spark)
    rows = {r.id: r.name for r in df.collect()}
    assert rows == {"1": "Smith, John"}
    assert src.malformed_count() == 1


def test_latin1_encoding_slow_path(spark, tmp_path):
    """The malformed-handling path must honor the encoding too:
    spark.read.text is UTF-8-only (silently ignores the option), so the
    raw-line scan goes through the csv reader. 'Muñoz' must survive
    Latin-1 on BOTH paths."""
    from voter_gateway_spark.sources import CSVSource

    path = _write(
        tmp_path, "lat1.csv", "id,name\n1,Muñoz\n2,ok\nbad\n", encoding="latin-1"
    )
    src = CSVSource(path, quote='"', encoding="ISO-8859-1", remove_malformed=True)
    rows = {r.id: r.name for r in src.read(spark).collect()}
    assert rows == {"1": "Muñoz", "2": "ok"}
    assert src.malformed_count() == 1


def test_headerless_slow_path_synthesizes_columns(spark, tmp_path):
    """header=False with malformed handling must synthesize _c0.._cN
    (like the fast path) and keep the first line as DATA — not promote
    field values to column names."""
    from voter_gateway_spark.sources import CSVSource

    path = _write(tmp_path, "nohdr.csv", "1,Main St\n2,Oak Ave\nbad\n")
    src = CSVSource(path, quote='"', header=False, remove_malformed=True)
    df = src.read(spark)
    assert df.columns == ["_c0", "_c1"]
    rows = {r._c0: r._c1 for r in df.collect()}
    assert rows == {"1": "Main St", "2": "Oak Ave"}
    assert src.malformed_count() == 1


def test_malformed_count_newline_byte_check(spark, tmp_path):
    """The newline-safety check is the precise '\\n' -> 0x0A byte test,
    not an encoding-name allowlist. Of the charsets Spark's csv reader
    accepts (iso-8859-1, us-ascii, utf-8, utf-16*, utf-32), exactly
    the UTF-16/32 families fail it: us-ascii passes, utf-16 raises."""
    import pytest as _pytest

    from voter_gateway_spark.sources import CSVSource

    path = _write(tmp_path, "asc.csv", "id,name\n1,ok\nbad\n", encoding="ascii")
    src = CSVSource(path, quote='"', encoding="us-ascii", remove_malformed=True)
    assert {r.id for r in src.read(spark).collect()} == {"1"}
    assert src.malformed_count() == 1

    path16 = _write(
        tmp_path, "u16.csv", "id,name\n1,ok\nbad\n", encoding="utf-16"
    )
    src16 = CSVSource(path16, quote='"', encoding="utf-16", remove_malformed=True)
    src16.read(spark)
    with _pytest.raises(ValueError, match="0x0A"):
        src16.malformed_count()


@pytest.mark.parametrize("slow_path", [False, True])
def test_doubled_quotes_backslash_crlf_bom_read_like_copy_csv(spark, tmp_path, slow_path):
    """Both read paths parse quoting like Postgres' COPY ... (FORMAT CSV,
    QUOTE '^'), whose ESCAPE defaults to QUOTE, and like the header
    parser (csv.reader): a doubled quote char inside a quoted field is
    one literal quote char, also next to an embedded delimiter (the
    field count stays right), and a backslash is an ordinary char.
    CRLF line ends and a UTF-8 byte-order mark leave no trace in the
    values or the header."""
    from voter_gateway_spark.sources import CSVSource

    body = (
        "\ufeffid|name|n\r\n"
        "1|^plain^|1\r\n"
        "2|^say ^^hi^^^|456\r\n"
        "3|^a^^|b^|789\r\n"
        "4|^C:\\dir\\^|5\r\n"
        "5|back\\slash|6\r\n"
    )
    path = _write(tmp_path, "quotes.csv", body)
    src = CSVSource(path, delimiter="|", remove_malformed=slow_path)
    df = src.read(spark)
    assert df.columns == ["id", "name", "n"]
    assert {r.id: (r.name, r.n) for r in df.collect()} == {
        "1": ("plain", "1"),
        "2": ("say ^hi^", "456"),
        "3": ("a^|b", "789"),
        "4": ("C:\\dir\\", "5"),
        "5": ("back\\slash", "6"),
    }
    if slow_path:
        assert src.malformed_count() == 0


def test_new_read_after_rewrite_parses_the_new_contents(spark, tmp_path):
    """A read owns its parse: a new source over the same path, after
    the file was rewritten, reads the new rows and malformed lines, not
    a parse an earlier read left behind."""
    from voter_gateway_spark.sources import CSVSource

    path = _write(tmp_path, "r.csv", "id,name\n1,a\n2,b\n")
    first = CSVSource(path, quote='"', remove_malformed=True)
    assert (first.read(spark).count(), first.malformed_count()) == (2, 0)
    _write(tmp_path, "r.csv", "id,name\n1,a\n2,b\n3,c\nbad\n")
    second = CSVSource(path, quote='"', remove_malformed=True)
    assert (second.read(spark).count(), second.malformed_count()) == (3, 1)


def _per_statistic_audit(src, spark, keys):
    """csv_audit's report built one query per statistic: the coverage
    pass, the malformed count and one GROUP BY probe per key."""
    from dataclasses import replace

    from voter_gateway_spark.audit import CSVAuditResult, database_audit, key_is_unique

    src = replace(src, remove_malformed=True)
    df = src.read(spark)
    profile = database_audit(df)
    return CSVAuditResult(
        total_count=profile.total_records,
        malformed_count=src.malformed_count(),
        keys={k: key_is_unique(df, k) for k in keys},
        coverage=profile.coverage,
    )


# name -> ({file: body}, expected (valid, malformed, {key: unique}))
AUDIT_CASES = {
    "no_null_key": ({"a.csv": "id,k\n1,a\n2,b\n3,c\n"}, (3, 0, {"id": True, "k": True})),
    # NULL keys form one GROUP BY group: one NULL is unique, two are not
    "one_null_key": ({"a.csv": "id,k\n1,a\n2,\n3,c\n"}, (3, 0, {"id": True, "k": True})),
    "two_null_keys": ({"a.csv": "id,k\n1,a\n2,\n3,\n"}, (3, 0, {"id": True, "k": False})),
    "dup_only_in_malformed": (
        {"a.csv": "id,k\n1,a\n2,b\n3,b,x\n3,b,x\n1,a,y\n"},
        (2, 3, {"id": True, "k": True}),
    ),
    "blank_and_leading_blank_lines": (
        {"a.csv": "\n  \nid,k\n1,a\n\n2,a\n\n"},
        (2, 4, {"id": True, "k": False}),
    ),
    "data_row_equal_to_header": (
        {"a.csv": "id,k\n1,a\nid,k\n2,b\n"},
        (3, 0, {"id": True, "k": True}),
    ),
    "directory_with_header_only_file": (
        {"a.csv": "id,k\n1,a\n2,b\n", "b.csv": "id,k\n", "c.csv": "id,k\n3,a\nbad\n"},
        (3, 1, {"id": True, "k": False}),
    ),
}


@pytest.mark.parametrize("case", list(AUDIT_CASES))
def test_csv_audit_one_aggregate_equals_per_statistic_queries(spark, tmp_path, case):
    """csv_audit's one aggregate gives the report of one query per
    statistic, NULL-key groups and positional header drop included."""
    from voter_gateway_spark.audit import csv_audit
    from voter_gateway_spark.sources import CSVSource

    files, (valid, malformed, keys) = AUDIT_CASES[case]
    for name, body in files.items():
        _write(tmp_path, name, body)
    path = str(tmp_path / next(iter(files))) if len(files) == 1 else str(tmp_path)
    src = CSVSource(path, quote='"')
    got = csv_audit(src, spark, keys=list(keys))
    assert (got.total_count, got.malformed_count, got.keys) == (valid, malformed, keys)
    assert got == _per_statistic_audit(src, spark, list(keys))


@pytest.mark.parametrize("remove_malformed", [False, True])
def test_raw_path_read_drops_the_header_without_a_job(spark, tmp_path, count_jobs, remove_malformed):
    """The raw-line path leaves the header to the reader: the read plan
    has no aggregate or join, and reading it is one scan job."""
    from voter_gateway_spark.sources import CSVSource

    path = _write(tmp_path, "r.csv", "id,name\n1,a~X~\nid,name\n2,b\n")
    src = CSVSource(path, quote='"', remove_expression="~X~", remove_malformed=remove_malformed)
    df = src.read(spark)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan and "Join" not in plan
    with count_jobs() as n:
        rows = sorted((r.id, r.name) for r in df.collect())
    assert rows == [("1", "a"), ("2", "b"), ("id", "name")]
    assert n[0] == 1


def test_csv_audit_job_budget(spark, tmp_path, count_jobs):
    """csv_audit on the benchmark's voter_import file (300 rows, 30
    malformed lines, pipe-delimited, caret-quoted, Latin-1) runs the
    header sniff, three jobs for the one aggregate (the first of them
    also fills the parse's lazy checkpoint) and two for the
    malformed-count query: 6 jobs on every call, since each read owns
    its parse."""
    from perfbench.gen import gen_voter_import

    from voter_gateway_spark.audit import csv_audit
    from voter_gateway_spark.sources import CSVSource

    truth = gen_voter_import(7, tmp_path)
    src = CSVSource(
        str(tmp_path / "import.csv"), delimiter="|", encoding="ISO-8859-1", remove_malformed=True
    )
    for budget in (6, 6):
        with count_jobs() as n:
            report = csv_audit(src, spark, keys=["voterid"])
        assert n[0] <= budget, (budget, n[0])
        assert report.total_count == truth["csv_rows"]
        assert report.malformed_count == truth["malformed_rows"]
    assert report == _per_statistic_audit(src, spark, ["voterid"])
