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
