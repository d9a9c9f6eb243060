"""CSV smart-typing classifier tests — the F6 dirty-CSV corpus from
FIXTURES.md, mirroring the reference's csv.rs test block (csv.rs:830-1974)."""

from elusion_spark.sources.csv_inference import classify_column, classify_value


def test_classify_ints():
    assert classify_value("42") == "int"
    assert classify_value("-7") == "int"
    assert classify_value("+13") == "int"


def test_classify_floats():
    assert classify_value("1234.56") == "float_us"
    assert classify_value("-0.5") == "float_us"
    assert classify_value("1234,56") == "float_eu"


def test_classify_thousands():
    assert classify_value("1,234.56") == "thousands_us"
    assert classify_value("12,345,678.90") == "thousands_us"
    assert classify_value("1.234,56") == "thousands_eu"


def test_classify_percent_currency():
    assert classify_value("15%") == "percent"
    assert classify_value("3,5%") == "percent"
    assert classify_value("$1,234.56") == "currency"
    assert classify_value("1234 €") == "currency"


def test_classify_booleans():
    for v in ("true", "false", "yes", "no", "da", "ne"):
        assert classify_value(v) == "boolean", v
    # 1/0 are NOT booleans (csv.rs boolean set excludes them)
    assert classify_value("1") == "int"


def test_classify_dates_stay_string():
    assert classify_value("2024-01-15") == "date"
    assert classify_value("15.01.2024") == "date"
    assert classify_value("12:30:45") == "date"
    assert classify_column(["2024-01-15"] * 100) == "string"


def test_version_numbers_stay_string():
    assert classify_value("1.2.3") == "string"
    assert classify_value("999.999.999") == "string"


def test_email_stays_string():
    assert classify_value("a@b.com") == "string"


def test_null_sentinels():
    for v in ("", "NULL", "null", "N/A", "n/a", "-", None):
        assert classify_value(v) == "null", v


def test_majority_vote():
    # 70% ints + 30% words → below 0.8 → string
    vals = ["1"] * 70 + ["word"] * 30
    assert classify_column(vals) == "string"
    # 90% ints + nulls don't count against the vote
    vals = ["1"] * 90 + [None] * 10
    assert classify_column(vals) == "int"
    # mixed int+float → numeric family, dominant shape float
    vals = ["1"] * 40 + ["1.5"] * 60
    assert classify_column(vals) == "float_us"


def test_cast_pipeline(spark, tmp_path):
    """End-to-end: dirty CSV loads with correct types and values."""
    p = tmp_path / "dirty.csv"
    rows = ["clean_int,eu_float,thousands_eu,percent,currency,flag,version"]
    for i in range(20):
        rows.append(f"{i},12{i},34,1.2{i}4,56,{i}5%,$1\"\",\"\"23{i}.50,da,1.2.{i}")
    # simpler: write a clean controlled file
    p.write_text(
        "clean_int;eu_float;thousands_eu;percent;currency;flag;version\n"
        + "\n".join(
            f"{i};12{i},34;1.23{i % 10},56;{i}5%;${i}234.50;da;1.22.{i}"
            for i in range(20)
        )
    )
    from elusion_spark.sources.loaders import load_csv

    cdf = load_csv(str(p), "dirty", spark)
    schema = {f.name: f.dataType.simpleString() for f in cdf.df.schema.fields}
    assert schema["clean_int"] == "bigint"
    assert schema["eu_float"] == "double"
    assert schema["thousands_eu"] == "double"
    assert schema["percent"] == "double"
    assert schema["currency"] == "double"
    assert schema["flag"] == "boolean"
    assert schema["version"] == "string"
    row = cdf.df.orderBy("clean_int").collect()[1]
    assert row["clean_int"] == 1
    assert abs(row["eu_float"] - 121.34) < 1e-9
    assert abs(row["thousands_eu"] - 1231.56) < 1e-9
    assert abs(row["percent"] - 0.15) < 1e-9
    assert abs(row["currency"] - 1234.50) < 1e-9
    assert row["flag"] is True
    assert row["version"] == "1.22.1"


def _cast_expression_columns(col, inferred):
    """The Column-API form of ``cast_expression`` it was first written in,
    kept as the reference the SQL-text form must equal."""
    from pyspark.sql import functions as F

    c = F.trim(F.col(col))
    nullified = F.when(
        c.isNull() | (c == "") | F.lower(c).isin(
            "null", "na", "n/a", "none", "-", "?", "nan"),
        F.lit(None),
    ).otherwise(c)
    if inferred == "int":
        return nullified.cast("bigint")
    if inferred == "float_us":
        return nullified.cast("double")
    if inferred == "float_eu":
        return F.replace(nullified, F.lit(","), F.lit(".")).cast("double")
    if inferred == "thousands_us":
        return F.replace(nullified, F.lit(","), F.lit("")).cast("double")
    if inferred == "thousands_eu":
        return F.replace(
            F.replace(nullified, F.lit("."), F.lit("")), F.lit(","), F.lit(".")
        ).cast("double")
    if inferred == "percent":
        stripped = F.replace(
            F.replace(nullified, F.lit("%"), F.lit("")), F.lit(","), F.lit(".")
        )
        return F.trim(stripped).cast("double") / 100.0
    if inferred == "currency":
        stripped = F.regexp_replace(nullified, r"[€£¥₹$\s]", "")
        return F.replace(stripped, F.lit(","), F.lit("")).cast("double")
    if inferred == "boolean":
        low = F.lower(nullified)
        return (F.when(low.isin("true", "yes", "da"), F.lit(True))
                .when(low.isin("false", "no", "ne"), F.lit(False))
                .otherwise(F.lit(None).cast("boolean")))
    return None


def test_cast_expression_equals_column_reference(spark):
    from elusion_spark.sources.csv_inference import cast_expression

    nulls = [None, "", "  ", "NULL", " na ", "N/A", "none", "-", "?", "NaN"]
    cases = {
        "int": ["42", " -7 ", "+13"],
        "float_us": ["1234.56", " -0.5", ".25"],
        "float_eu": ["1234,56", " 0,5 "],
        "thousands_us": ["1,234.56", "12,345"],
        "thousands_eu": ["1.234,56", " 12.345 "],
        "percent": ["15%", " 7,5 % ", "-2.5%"],
        "currency": ["$1,234.50", "€ 12", "1 234 €", "£1\t234",
                     "¥1\u000b2\r3\n4\f5"],
        "boolean": ["yes", "DA", " Ne ", "false", "True", "maybe"],
        "string": ["x"],
        "date": ["2024-01-15"],
    }
    for inferred, values in cases.items():
        df = spark.createDataFrame([(v,) for v in values + nulls], "`a b` STRING")
        new, ref = (cast_expression("a b", inferred),
                    _cast_expression_columns("a b", inferred))
        if ref is None:
            assert new is None, inferred
            continue
        got = df.select(new.alias("x"), ref.alias("y"))
        assert got.schema["x"].dataType == got.schema["y"].dataType, inferred
        rows = got.collect()
        assert [r["x"] for r in rows] == [r["y"] for r in rows], inferred


def test_delimiter_sniffing(tmp_path):
    from elusion_spark.sources.loaders import sniff_delimiter

    for sep in (",", ";", "\t", "|"):
        p = tmp_path / f"sniff_{ord(sep)}.csv"
        p.write_text(
            f"a{sep}b{sep}c\n" + "\n".join(f"1{sep}2{sep}3" for _ in range(5))
        )
        assert sniff_delimiter(str(p)) == sep


# ------------------------------------------------- xlsx codec properties

def test_xlsx_lite_property_roundtrip(tmp_path):
    """Property: any grid of supported cell values survives
    write_xlsx -> read_xlsx byte-exactly (strings incl. XML-hostile
    control chars / lone _xHHHH_ literals via OOXML escaping; ints;
    repr-exact floats; bools; None; dates; millisecond datetimes)."""
    import datetime as dt

    from hypothesis import given, settings, strategies as st

    from elusion_spark.sources.xlsx_lite import read_xlsx, write_xlsx

    cell = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-2**53, max_value=2**53),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(max_size=40),
        st.just("_x0041_literal"),   # must NOT unescape to 'A'
        st.dates(min_value=dt.date(1901, 1, 1),
                 max_value=dt.date(2200, 1, 1)),
        st.datetimes(min_value=dt.datetime(1901, 1, 1),
                     max_value=dt.datetime(2200, 1, 1)).map(
            lambda d: d.replace(microsecond=(d.microsecond // 1000) * 1000)),
    )

    @settings(max_examples=40, deadline=None)
    @given(st.lists(st.lists(cell, min_size=1, max_size=5), min_size=1,
                    max_size=6), st.integers(min_value=0, max_value=1 << 30))
    def run(rows, salt):
        width = max(len(r) for r in rows)
        rows = [r + [None] * (width - len(r)) for r in rows]
        header = [f"c{i}" for i in range(width)]
        p = str(tmp_path / f"prop_{salt}.xlsx")
        write_xlsx(p, header, rows)
        got = read_xlsx(p)
        assert got[0] == header
        for want_row, got_row in zip(rows, got[1:]):
            for want, got_v in zip(want_row, got_row):
                if isinstance(want, float):
                    assert isinstance(got_v, float) and (
                        got_v == want or repr(got_v) == repr(want))
                else:
                    assert got_v == want, (want, got_v)

    run()
