"""DataFrame-level tests of the `fits` datasource — ports of the
reference's ReadFitsTest / packageTest invariants."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

REF = "/root/reference/src/test/resources"


def read_fits(spark, path, hdu=1, **opts):
    r = spark.read.format("fits").option("hdu", hdu)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load(path)


# ---------- single-file bintable (reference fixture) ----------

def test_count_golden(spark):
    # packageTest.scala:105-110
    df = read_fits(spark, f"{REF}/test_file.fits")
    assert df.count() == 20000


def test_schema_inference(spark):
    df = read_fits(spark, f"{REF}/test_file.fits")
    assert [f.name for f in df.schema.fields] == ["target", "RA", "Dec", "Index", "RunId"]
    assert [f.dataType.typeName() for f in df.schema.fields] == [
        "string", "float", "double", "long", "integer"]


def test_sql_create_view_using_fits(spark):
    """Pure-SQL access path: `CREATE TEMPORARY VIEW ... USING fits` —
    the session-registered Python datasource resolves through SQL DDL
    exactly like a built-in format, so SQL-only users (the reference's
    Scala users go through the DataFrame API; this engine also serves
    `spark.sql`) can query FITS without touching Python."""
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW fits_sql_tbl USING fits "
        f"OPTIONS (path '{REF}/test_file.fits', hdu '1')")
    got = spark.sql(
        "SELECT COUNT(*) AS n, SUM(Index) AS s FROM fits_sql_tbl").first()
    assert (got["n"], got["s"]) == (20000, 199990000)
    # pushdown works through the SQL surface too
    assert spark.sql(
        "SELECT COUNT(*) AS n FROM fits_sql_tbl WHERE Index < 5"
    ).first()["n"] == 5
    spark.catalog.dropTempView("fits_sql_tbl")


def test_select_count(spark):
    # ReadFitsTest.scala:128-133
    df = read_fits(spark, f"{REF}/test_file.fits")
    assert df.select("RA").count() == 20000


def test_sum_index_golden(spark):
    # packageTest.scala:112-121
    df = read_fits(spark, f"{REF}/test_file.fits")
    assert df.agg(F.sum("Index")).first()[0] == 199990000


def test_no_duplicates_across_partitions(spark):
    # packageTest.scala:123-133 — small partitions force many boundaries
    df = read_fits(spark, f"{REF}/test_file.fits", partitionbytes=10000)
    assert df.rdd.getNumPartitions() > 10
    assert df.count() == 20000
    assert df.distinct().count() == 20000


def test_ordering_first_row(spark):
    # packageTest.scala:248-253 — first row of file == first row of DF
    df = read_fits(spark, f"{REF}/test_file.fits", partitionbytes=50000)
    assert df.first()["target"] == "NGC0000000"


def test_second_hdu(spark):
    # FIXTURES.md F1 HDU 2: (target 20A, Index 1J→int collapse, Discovery L)
    df = read_fits(spark, f"{REF}/test_file.fits", hdu=2)
    assert df.count() == 20000
    assert [f.dataType.typeName() for f in df.schema.fields] == [
        "string", "integer", "boolean"]


def test_columns_option(spark):
    # ReadFitsTest.scala:144-159 — source-side pruning, case-insensitive
    df = read_fits(spark, f"{REF}/test_file.fits", columns="target,ra")
    assert [f.name for f in df.schema.fields] == ["target", "RA"]
    assert df.count() == 20000


def test_user_schema_rename(spark):
    # packageTest.scala:85-102 — user schema renames columns
    schema = StructType([
        StructField("name", StringType()), StructField("alpha", FloatType()),
        StructField("delta", DoubleType()), StructField("idx", LongType()),
        StructField("run", IntegerType())])
    df = (spark.read.format("fits").option("hdu", 1).schema(schema)
          .load(f"{REF}/test_file.fits"))
    assert df.columns == ["name", "alpha", "delta", "idx", "run"]
    assert df.select(F.sum("idx")).first()[0] == 199990000


def test_array_columns(spark):
    # FIXTURES.md F2 — vector TFORMs → array columns
    df = read_fits(spark, f"{REF}/test_file_array.fits")
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {
        "target": "string", "RA": "array<float>", "Dec": "array<double>",
        "Index": "array<bigint>", "RunId": "smallint",
        "RunIdArray": "array<smallint>"}
    row = df.first()
    assert len(row["RA"]) == 2 and len(row["Dec"]) == 3 and len(row["Index"]) == 7


def test_one_element_collapse(spark):
    # FIXTURES.md F3 — 1E/1D/1K/1I collapse to scalars
    df = read_fits(spark, f"{REF}/test_file_one-element.fits")
    assert [f.dataType.typeName() for f in df.schema.fields] == [
        "string", "float", "double", "long", "short"]
    assert df.count() == 100


def test_unsigned_byte_fixture(spark):
    # FIXTURES.md F4 — B → signed ByteType (bug-compatible), col name w/ space
    df = read_fits(spark, f"{REF}/test_file_ub.fits")
    assert df.schema.fields[0].dataType.typeName() == "byte"
    assert df.count() == 20000


def test_slash_colnames(spark):
    # packageTest.scala:256-262
    df = read_fits(spark, f"{REF}/colnames_with_slash.fits")
    assert df.columns == ["lsst/u_MEAN", "lsst/g_MEAN", "euclid/VIS_MEAN",
                          "euclid/Y_MEAN"]
    assert df.count() == 10


def test_longheader(spark):
    # ReadFitsTest.scala:77-83
    df = read_fits(spark, f"{REF}/test_longheader_file.fits")
    assert df.count() == 100


def test_empty_hdu(spark):
    # ReadFitsTest.scala:103-106 — HDU 0 is empty → empty DF, dummy schema
    df = read_fits(spark, f"{REF}/test_file.fits", hdu=0)
    assert df.count() == 0
    assert df.columns == ["empty"]


def test_ascii_table_stub(spark):
    # ReadFitsTest.scala:118-125 — TABLE HDU → empty DF
    df = read_fits(spark, f"{REF}/toTest/tst0009.fits", hdu=1)
    assert df.count() == 0


def test_image_hdu(spark):
    # ReadFitsTest.scala:108-115 — 73x31x5 cube → 155 rows
    df = read_fits(spark, f"{REF}/toTest/tst0009.fits", hdu=2)
    assert df.count() == 155
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {"Image": "array<smallint>", "ImgIndex": "bigint"}
    idx = sorted(r[0] for r in df.select("ImgIndex").distinct().collect())
    assert idx == [0, 1, 2, 3, 4]
    assert df.where(F.size("Image") == 73).count() == 155


# ---------- option validation errors ----------

def test_missing_hdu_option_errors(spark):
    # ReadFitsTest.scala:86-92
    with pytest.raises(Exception, match="HDU"):
        spark.read.format("fits").load(f"{REF}/test_file.fits").count()


def test_hdu_out_of_range_errors(spark):
    # FitsLib.scala:179-191 bounds check
    with pytest.raises(Exception, match="out of range"):
        read_fits(spark, f"{REF}/test_file.fits", hdu=9).count()


def test_recordlength_too_small_errors(spark):
    # ReadFitsTest.scala:65-74 via FitsLib.scala:225-238
    with pytest.raises(Exception, match="recordlength"):
        read_fits(spark, f"{REF}/test_longheader_file.fits",
                  recordlength=10).count()


def test_missing_file_errors(spark):
    # packageTest.scala:233-245
    with pytest.raises(Exception, match="(not found|No FITS)"):
        read_fits(spark, "/no/such/file.fits").count()


# ---------- multi-file (own writer fixtures) ----------

def test_dir_read(spark, fits_dir):
    # packageTest.scala:145-176 — 20000 + 7000 = 27000; decoy .txt ignored
    df = read_fits(spark, fits_dir)
    assert df.count() == 27100  # +100 from withempty/0_notempty.fits
    # note: dir walk is recursive like the reference's searchFitsFile


def test_glob_read(spark, fits_dir):
    df = read_fits(spark, os.path.join(fits_dir, "cat*.fits"))
    assert df.count() == 27000


def test_comma_list_read(spark, fits_dir):
    path = f"{fits_dir}/cat1.fits,{fits_dir}/cat2.fits"
    df = read_fits(spark, path)
    assert df.count() == 27000


def test_permissive_skips_empty(spark, fits_dir):
    # packageTest.scala:193-215 analog — PERMISSIVE drops the empty file
    df = read_fits(spark, os.path.join(fits_dir, "withempty"))
    assert df.count() == 100


def test_failfast_raises_on_empty(spark, fits_dir):
    # packageTest.scala:217-231 analog
    with pytest.raises(Exception):
        read_fits(spark, os.path.join(fits_dir, "withempty"),
                  mode="FAILFAST").count()


# ---------- filter pushdown (beyond-reference capability) ----------

def test_filter_pushdown_results(spark):
    df = read_fits(spark, f"{REF}/test_file.fits", partitionbytes=100000)
    assert df.filter(F.col("Index") < 100).count() == 100
    assert df.filter(F.col("Index") >= 19990).count() == 10
    assert df.filter(F.col("target") == "NGC0000042").count() == 1
    assert df.filter(F.col("target").startswith("NGC000000")).count() == 10
    assert df.filter(
        (F.col("Index") < 1000) & (F.col("RunId") == 1)).count() == 1000
    assert df.filter(F.col("Index").isin(1, 5, 99999)).count() == 2


def test_filter_pushdown_in_plan(spark):
    df = read_fits(spark, f"{REF}/test_file.fits")
    plan = df.filter(F.col("Index") < 100)._jdf.queryExecution().optimizedPlan().toString()
    # the pushed predicate should no longer appear as a post-scan Filter
    assert "PushedFilters" in plan or "Filter" not in plan.split("RelationV2")[0]


def test_ieee_specials_and_int64_extremes(spark, tmp_path):
    """IEEE NaN/±Inf in E/D columns and int64 min/max in K columns
    survive the scan (reference corpus: tst0007/tst0008 NaN fixtures
    described in toTest/test_pfits.py:1-15, and test64bit1.fits)."""
    import math

    import numpy as np

    from spark_fits_spark.fitscore import writer as fw

    e = np.array([1.5, np.nan, np.inf, -np.inf, 0.0], dtype=">f4")
    d = np.array([np.nan, 2.5, -np.inf, np.inf, -0.0], dtype=">f8")
    k = np.array([-(2**63), 2**63 - 1, 0, -1, 42], dtype=">i8")
    j = np.array([-(2**31), 2**31 - 1, 0, -1, 7], dtype=">i4")
    path = str(tmp_path / "specials.fits")
    fw.write_fits(path, [fw.bintable_hdu([
        ("E_col", "E", e), ("D_col", "D", d),
        ("K_col", "K", k), ("J_col", "J", j),
    ])])

    rows = sorted(read_fits(spark, path).collect(),
                  key=lambda r: r["K_col"])
    by_k = {r["K_col"]: r for r in rows}
    assert set(by_k) == {-(2**63), 2**63 - 1, 0, -1, 42}
    assert math.isnan(by_k[-(2**63)]["E_col"] + 0) is False  # 1.5
    assert by_k[-(2**63)]["E_col"] == 1.5
    assert math.isnan(by_k[2**63 - 1]["E_col"])
    assert by_k[0]["E_col"] == float("inf")
    assert by_k[-1]["E_col"] == float("-inf")
    assert math.isnan(by_k[-(2**63)]["D_col"])
    assert by_k[0]["D_col"] == float("-inf")
    assert by_k[-1]["D_col"] == float("inf")
    assert by_k[42]["D_col"] == -0.0
    assert by_k[-(2**63)]["J_col"] == -(2**31)
    assert by_k[2**63 - 1]["J_col"] == 2**31 - 1
    # aggregates over specials behave like Spark-on-parquet (NaN-aware)
    agg = read_fits(spark, path).agg(
        F.sum("K_col").alias("s"), F.max("D_col").alias("mx")).first()
    assert agg["s"] == -(2**63) + (2**63 - 1) + 0 - 1 + 42
    # Spark orders NaN greater than any value, so max() is NaN
    assert math.isnan(agg["mx"])
    # pushed filters follow SPARK float semantics (r6 fix): NaN is the
    # greatest value, so it matches x > 1e300 alongside +Inf — exactly
    # what the same filter over parquet returns
    # (test_pushdown_float_semantics_match_spark_parquet is the
    # predicate battery). The pre-r6 mask used raw IEEE kernels and
    # silently dropped the NaN row here.
    df = read_fits(spark, path)
    assert df.filter(F.col("D_col") > 1e300).count() == 2  # +Inf and NaN
    assert df.filter(F.col("E_col") < 0).count() == 1      # -Inf only


def test_recordlength_max_guard(spark, tmp_path):
    """recordlength is capped at 2^31-1 (reference docs/02_api.md:78-80);
    the lower bound (≥ one row) was already enforced."""
    with pytest.raises(Exception, match="2\\^31-1"):
        read_fits(spark, f"{REF}/test_file.fits",
                  recordlength=str(2**31)).count()


def test_filter_mask_sql_null_semantics():
    """Pushed-filter masks follow SQL three-valued logic on NULL inputs
    (pushed filters are NOT re-checked by Spark, so divergence here is
    silent wrong results — r1 ADVICE). Truth table pinned per filter."""
    import pyarrow as pa
    from pyspark.sql.datasource import EqualNullSafe, EqualTo, In, Not

    from spark_fits_spark.sources.fits_datasource import _apply_filters

    batch = pa.record_batch({"x": pa.array([1, 2, None, 4], type=pa.int64())})

    def keep(filters):
        return _apply_filters(batch, filters).column(0).to_pylist()

    # IN: NULL never matches, even with NULL in the value list
    assert keep([In(("x",), (1, 4))]) == [1, 4]
    assert keep([In(("x",), (1, None))]) == [1]
    # NOT IN: any NULL (input or list) → NULL → dropped
    assert keep([Not(In(("x",), (1,)))]) == [2, 4]
    assert keep([Not(In(("x",), (1, None)))]) == []
    # = NULL is NULL for every row; <=> NULL keeps exactly the NULLs
    assert keep([EqualTo(("x",), None)]) == []
    assert keep([EqualNullSafe(("x",), None)]) == [None]
    # <=> v is two-valued: NOT(x <=> 1) keeps NULL rows
    assert keep([EqualNullSafe(("x",), 1)]) == [1]
    assert keep([Not(EqualNullSafe(("x",), 1))]) == [2, None, 4]
    # NOT(x = 1): NULL row is NULL → dropped (unlike <=>)
    assert keep([Not(EqualTo(("x",), 1))]) == [2, 4]


def test_filter_mask_in_nonfinite_floats_on_int_column():
    """r6 ADVICE: a NaN/±Inf float in an IN value list against an
    integer column must contribute a clean non-match — the pre-fix
    guard evaluated `v == int(v)` which raised ValueError (NaN) or
    OverflowError (Inf) and crashed the scan. Unreachable from Spark
    SQL (casts block pushdown) but live via the raw Filter API."""
    import math

    import pyarrow as pa
    from pyspark.sql.datasource import In, Not

    from spark_fits_spark.sources.fits_datasource import _apply_filters

    batch = pa.record_batch(
        {"x": pa.array([1, 2, None, 4], type=pa.int64())})

    def keep(filters):
        return _apply_filters(batch, filters).column(0).to_pylist()

    nan, inf = float("nan"), math.inf
    assert keep([In(("x",), (nan,))]) == []
    assert keep([In(("x",), (inf,), )]) == []
    assert keep([In(("x",), (-inf, nan, 2.0))]) == [2]
    assert keep([In(("x",), (nan, 1, None))]) == [1]
    # NOT IN: dropped non-finite values are non-NULL non-matches, so
    # they must NOT poison the rest of the rows into NULL
    assert keep([Not(In(("x",), (nan, 1)))]) == [2, 4]


def test_tform_float_detection_for_hi_side_prune_gate():
    """r6 ADVICE: the TNANFR hi-side-prune gate must parse the TFORM
    type LETTER — 'E15.5' (ASCII float) ends in '5', 'PE(5)' (VLA
    float) ends in ')', both slipped past the last-character check and
    could take an unsound hi-side prune on a foreign NaN-bearing file.
    Unknown/garbage forms count as float (conservative: gate stays)."""
    from spark_fits_spark.sources.fits_datasource import \
        _tform_maybe_float

    # binary-table floats and complex
    for t in ("E", "D", "1E", "12D", "C", "M", "2C"):
        assert _tform_maybe_float(t), t
    # ASCII-table floats (the miss the ADVICE names)
    for t in ("E15.5", "D25.17", "F8.3"):
        assert _tform_maybe_float(t), t
    # VLA float descriptors
    for t in ("PE(5)", "QD(9)", "1PE(5)"):
        assert _tform_maybe_float(t), t
    # proven non-float: logical, bit, ints, chars (binary + ASCII)
    for t in ("L", "16X", "B", "I", "J", "K", "1J", "A20", "I10",
              "PJ(7)", "QK(3)"):
        assert not _tform_maybe_float(t), t
    # unparseable → conservative (treated as possibly-float)
    for t in ("", "   ", "42", "P", "P(5)", "?3"):
        assert _tform_maybe_float(t), t


def test_ascii_table_optin(spark):
    # beyond-reference: .option("asciitable", True) parses TABLE HDUs
    # (tst0009 HDU1: IDENT A9, Mag F6.2, Channel I3, Dist E10.4,
    #  Mass D20.15, Class A5, Type A1, Class_No I4 — FIXTURES.md F7)
    df = read_fits(spark, f"{REF}/toTest/tst0009.fits", hdu=1, asciitable="true")
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {
        "IDENT": "string", "Mag": "double", "Channel": "bigint",
        "Dist": "double", "Mass": "double", "Class": "string",
        "Type": "string", "Class_No": "bigint"}
    rows = df.collect()
    assert len(rows) > 0
    # the fixture contains deliberate null sentinels ('---.--') → NULL
    assert sum(r["Mag"] is not None for r in rows) >= len(rows) * 0.8
    assert any(r["Mag"] is None for r in rows)
    assert any(abs(r["Mag"] - 6.32) < 1e-9 for r in rows if r["Mag"])
    # pruning works on ascii tables too
    sel = read_fits(spark, f"{REF}/toTest/tst0009.fits", hdu=1,
                    asciitable="true", columns="IDENT,Channel")
    assert sel.columns == ["IDENT", "Channel"]
    assert sel.count() == len(rows)


def test_scaling_optin(spark, tmp_path):
    # beyond-reference: .option("scaling", True) applies TSCAL/TZERO and
    # maps TNULL sentinels to SQL NULL (the reference ignores all three,
    # SURVEY.md §1.2)
    import numpy as np

    from spark_fits_spark.fitscore import writer

    cols = [
        ("counts", "J", np.array([0, 100, -999, 50], dtype=">i4")),
        ("gain", "I", np.array([-32768, 0, 32767, 1], dtype=">i2")),
        ("temp", "I", np.array([0, 100, 200, 300], dtype=">i2")),
        ("ubyte", "B", np.array([0, -1, 127, -128], dtype="i1")),  # raw 0,255,127,128
    ]
    extra = [
        writer._card("TNULL1", -999),
        writer._card("TZERO2", 32768),     # unsigned-short convention
        writer._card("TSCAL3", 0.5),       # physical = raw * 0.5 + 10
        writer._card("TZERO3", 10.0),
    ]
    path = tmp_path / "scaled.fits"
    path.write_bytes(writer.primary_hdu() + writer.bintable_hdu(cols, extra_cards=extra))

    df = read_fits(spark, str(path), hdu=1, scaling="true")
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {"counts": "int", "gain": "int", "temp": "double",
                     "ubyte": "smallint"}
    rows = df.orderBy("temp").collect()
    assert [r["counts"] for r in rows] == [0, 100, None, 50]
    assert [r["gain"] for r in rows] == [0, 32768, 65535, 32769]
    assert [r["temp"] for r in rows] == [10.0, 60.0, 110.0, 160.0]
    assert [r["ubyte"] for r in rows] == [0, 255, 127, 128]

    # parity default: same file without the option keeps raw values
    raw = read_fits(spark, str(path), hdu=1).orderBy("temp").collect()
    assert [r["counts"] for r in raw] == [0, 100, -999, 50]
    assert [r["temp"] for r in raw] == [0, 100, 200, 300]


def test_scaling_uint64_and_vector(spark, tmp_path):
    import numpy as np

    from spark_fits_spark.fitscore import writer

    big = np.array([-9223372036854775808, 9223372036854775807, 0, 42], dtype=">i8")
    vec = np.array([[0, 1, 2], [3, 4, 5], [6, 7, 8], [9, 10, 11]], dtype=">i2")
    cols = [("bigid", "K", big), ("v", "3I", vec)]
    extra = [
        writer._card("TZERO1", 9223372036854775808),  # unsigned-long convention
        writer._card("TSCAL2", 2), writer._card("TZERO2", -1),
    ]
    path = tmp_path / "scaled64.fits"
    path.write_bytes(writer.primary_hdu() + writer.bintable_hdu(cols, extra_cards=extra))

    df = read_fits(spark, str(path), hdu=1, scaling="true")
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {"bigid": "decimal(20,0)", "v": "array<bigint>"}
    rows = df.orderBy("bigid").collect()
    assert [int(r["bigid"]) for r in rows] == [
        0, 9223372036854775808, 9223372036854775850, 18446744073709551615]
    # raw + 2^63: [-2^63, 2^63-1, 0, 42] -> [0, 2^64-1, 2^63, 2^63+42]
    assert sorted(tuple(r["v"]) for r in rows) == [
        (-1, 1, 3), (5, 7, 9), (11, 13, 15), (17, 19, 21)]


def test_varlen_arrays_varitab(spark):
    # beyond-reference: P-descriptor variable-length arrays (the
    # reference's own varitab.fits fixture is untested/unsupported there;
    # its data-length walk even breaks on heap-carrying files).
    # Oracle: independent numpy parse of the descriptors + heap.
    import numpy as np

    path = f"{REF}/toTest/varitab.fits"
    raw = open(path, "rb").read()
    data_start, n_rows, row_bytes = 17280, 20, 80
    heap = raw[data_start + row_bytes * n_rows:]
    table = np.frombuffer(raw, dtype=">i4", offset=data_start,
                          count=n_rows * 20).reshape(n_rows, 10, 2)

    def expect(ci, dtype, w):
        out = []
        for r in range(n_rows):
            cnt, off = int(table[r, ci, 0]), int(table[r, ci, 1])
            out.append(np.frombuffer(heap[off:off + cnt * w], dtype=dtype).tolist())
        return out

    df = read_fits(spark, path, hdu=1)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types["Avalue"] == "string"
    assert types["Lvalue"] == "array<boolean>"
    assert types["Ivalue"] == "array<smallint>"
    assert types["Jvalue"] == "array<int>"
    assert types["Evalue"] == "array<float>"
    assert types["Dvalue"] == "array<double>"
    rows = df.collect()
    assert len(rows) == n_rows
    assert [list(r["Jvalue"]) for r in rows] == expect(5, ">i4", 4)
    assert [list(r["Ivalue"]) for r in rows] == expect(4, ">i2", 2)

    def feq(got_rows, want_rows):  # NaN-aware elementwise equality
        assert len(got_rows) == len(want_rows)
        for g, w in zip(got_rows, want_rows):
            assert len(g) == len(w)
            assert all(
                (a != a and b != b) or a == pytest.approx(b)
                for a, b in zip(g, w))

    feq([list(r["Dvalue"]) for r in rows], expect(7, ">f8", 8))
    feq([list(r["Evalue"]) for r in rows], expect(6, ">f4", 4))
    # strings: heap bytes, java-trimmed
    exp_a = []
    for r in range(n_rows):
        cnt, off = int(table[r, 0, 0]), int(table[r, 0, 1])
        exp_a.append(heap[off:off + cnt].decode("ascii").strip())
    assert [r["Avalue"] for r in rows] == exp_a
    # column pruning skips the heap entirely for unselected varlen cols
    sel = read_fits(spark, path, hdu=1, columns="Jvalue")
    assert sel.columns == ["Jvalue"]
    assert [list(r["Jvalue"]) for r in sel.collect()] == expect(5, ">i4", 4)


def test_image_bscale_bzero_blank(spark, tmp_path):
    # image physical-value scaling: BSCALE/BZERO/BLANK under the same
    # .option("scaling") (classic 16-bit survey image convention)
    import numpy as np

    from spark_fits_spark.fitscore import writer

    img = np.array([[0, 100, -32768], [32767, -1, 7]], dtype=">i2")
    extra = [writer._card("BSCALE", 0.25), writer._card("BZERO", 1000.0),
             writer._card("BLANK", -32768)]
    path = tmp_path / "img_scaled.fits"
    path.write_bytes(writer.primary_hdu()
                     + writer.image_hdu(img.astype("i2"), extra_cards=extra))

    df = read_fits(spark, str(path), hdu=1, scaling="true")
    assert df.schema["Image"].dataType.simpleString() == "array<double>"
    rows = df.orderBy("ImgIndex").collect()
    vals = [list(r["Image"]) for r in rows]
    assert vals[0] == [1000.0, 1025.0, None]     # BLANK -> NULL
    assert vals[1] == [1000.0 + 32767 * 0.25, 999.75, 1001.75]
    # parity default: raw int16 values
    raw = read_fits(spark, str(path), hdu=1).orderBy("ImgIndex").collect()
    assert [list(r["Image"]) for r in raw] == [[0, 100, -32768], [32767, -1, 7]]


def test_hdu_by_extname(spark):
    # beyond-reference: .option("hdu", "EVENTS") selects by EXTNAME
    # (reference is integer-only); resolved per file
    path = f"{REF}/toTest/swift_events.fits"
    by_name = read_fits(spark, path, hdu="EVENTS")
    by_idx = read_fits(spark, path, hdu=1)
    assert by_name.count() == by_idx.count() == 50000
    assert by_name.schema == by_idx.schema
    assert read_fits(spark, path, hdu="gti").count() == 3  # case-insensitive
    with pytest.raises(Exception, match="EXTNAME"):
        read_fits(spark, path, hdu="NOPE").count()


def test_rowrange_pushdown(spark):
    # beyond-reference: .option("rowrange", "a,b") scans only rows [a,b)
    # — partitions are generated for that byte range alone
    df = read_fits(spark, f"{REF}/test_file.fits", rowrange="100,350")
    assert df.count() == 250
    idx = [r["Index"] for r in df.orderBy("Index").collect()]
    assert idx[0] == 100 and idx[-1] == 349
    # image cutout: plane 1 of the 73x31x5 cube = rows [31, 62)
    img = read_fits(spark, f"{REF}/toTest/tst0009.fits", hdu=2,
                    rowrange="31,62")
    rows = img.collect()
    assert len(rows) == 31
    assert {r["ImgIndex"] for r in rows} == {1}  # global plane index kept
    # validation
    with pytest.raises(Exception, match="rowrange"):
        read_fits(spark, f"{REF}/test_file.fits", rowrange="50,10").count()


def test_rowrange_on_compressed_image(spark, tmp_path):
    """Cutouts on a tile-compressed archive (r5): rowrange maps logical
    rows to the overlapping global tile interval — non-overlapping
    tiles' bytes are never read — and boundary tiles decode then slice
    to the exact rows. Checked against the plain-image scan of the same
    cube on every slice shape: inside one tile, across tile boundaries,
    across plane boundaries, and empty."""
    import numpy as np

    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.sources.fits_datasource import FitsScanReader

    # 3 planes x 10 rows x 7 px, tile_rows=4 -> partial trailing tiles
    cube = np.arange(3 * 10 * 7, dtype=np.int32).reshape(3, 10, 7)
    plain = str(tmp_path / "plain.fits")
    comp = str(tmp_path / "comp.fits")
    fw.write_fits(plain, [fw.image_hdu(cube)])
    fw.write_fits(comp, [fw.compressed_image_hdu(cube, "RICE_1",
                                                 tile_rows=4)])
    for rr in ("0,4", "2,7", "9,14", "8,30", "13,13", "5,6", "0,30"):
        want = read_fits(spark, plain, hdu=1, rowrange=rr).collect()
        got = read_fits(spark, comp, hdu=1, rowrange=rr).collect()
        key = lambda r: (r["ImgIndex"], list(r["Image"]))
        assert sorted(map(key, got)) == sorted(map(key, want)), rr
    # only the overlapping tiles are planned: rows [13, 14) live in one
    # tile of plane 1 -> exactly one single-tile partition
    r = FitsScanReader(comp, 1, None, None, None, "FAILFAST",
                       8 * 1024 * 1024, False, rowrange=(13, 14))
    parts = r.plan_for_files([comp])
    assert len(parts) == 1
    assert parts[0].row_end - parts[0].row_start == 1
    # zero-I/O ImgIndex projection honors the cutout too
    idx = (read_fits(spark, comp, hdu=1, rowrange="8,12",
                     columns="ImgIndex").collect())
    assert sorted(r["ImgIndex"] for r in idx) == [0, 0, 1, 1]
    # tile-compressed TABLES: logical rows -> overlapping tiles, then a
    # zero-copy slice (30-row tiles; ranges cross tile boundaries)
    tab = str(tmp_path / "tab.fits")
    fw.write_fits(tab, [fw.compressed_bintable_hdu(
        [("A", "1J", np.arange(100, dtype=">i4"))], tile_rows=30)])
    for a, b in ((5, 10), (25, 65), (0, 100), (90, 100), (40, 40)):
        got = sorted(r["A"] for r in read_fits(
            spark, tab, hdu=1, rowrange=f"{a},{b}").collect())
        assert got == list(range(a, b)), (a, b)


def test_fits_info_inventory(spark):
    from spark_fits_spark import fits_info

    info = fits_info(spark, f"{REF}/toTest/swift_events.fits")
    rows = {r["hdu"]: r for r in info.collect()}
    assert len(rows) == 4
    assert rows[0]["hdu_type"] == "primary"
    assert rows[1]["extname"] == "EVENTS" and rows[1]["n_rows"] == 50000
    assert rows[2]["extname"] == "GTI" and rows[3]["extname"] == "BADPIX"
    assert all(r["data_start"] % 2880 == 0 for r in rows.values())


def test_many_file_planning_is_pooled_and_fast(tmp_path):
    """Driver-side planning over hundreds of files must stay in the
    thread-pooled header walk (~1 ms/file), not serial open latency:
    at 100 TB a table is thousands of part files and planning happens
    per action. Spark-free: exercises plan_for_files directly."""
    import time

    import numpy as np

    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.sources.fits_datasource import FitsScanReader

    d = tmp_path / "many"
    d.mkdir()
    cols = [("Index", "K", np.arange(50, dtype=">i8")),
            ("RA", "E", np.zeros(50, dtype=">f4"))]
    hdu = fw.bintable_hdu(cols)
    n = 2048  # r4: extended from 300 — the 100x scale-up knob most
    #           likely to bite first on a real catalog (r3 VERDICT #7)
    for i in range(n):
        fw.write_fits(str(d / f"f{i:04d}.fits"), [hdu])
    files = sorted(str(p) for p in d.glob("*.fits"))
    r = FitsScanReader(str(d), 1, None, None, None, "PERMISSIVE",
                      8 * 1024 * 1024, False)

    def plan(fs):
        t0 = time.perf_counter()
        parts = r.plan_for_files(fs)
        return len(parts), time.perf_counter() - t0

    n_small, t_small = plan(files[:256])
    n_all, t_all = plan(files)
    assert n_small == 256 and n_all == n
    # generous absolute bound (idle host: ~1 s for 2048; CI headroom)
    assert t_all < 30, f"planning {n} files took {t_all:.1f}s"
    # scaling: the pooled header walk must stay ~linear-with-pooling —
    # 8x the files may cost at most ~2x-over-linear (throttle margin);
    # a quadratic planner (re-walking earlier files per file) would
    # show ~64x here
    assert t_all < 16 * max(t_small, 0.05), (t_small, t_all)


def test_header_plan_cache_hits_and_invalidates(tmp_path):
    """The driver-side (path, hdu, size, mtime) header LRU: a repeat
    planning over unchanged files reads zero headers (all hits, same
    plan), and rewriting a file invalidates exactly its entry — the
    Spark FileStatusCache contract (fits_datasource module comment)."""
    import time as _time

    import numpy as np

    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.sources import fits_datasource as ds

    d = tmp_path / "cache"
    d.mkdir()
    cols = [("Index", "K", np.arange(10, dtype=">i8"))]
    for i in range(5):
        fw.write_fits(str(d / f"f{i}.fits"), [fw.bintable_hdu(cols)])
    files = sorted(str(p) for p in d.glob("*.fits"))
    r = ds.FitsScanReader(str(d), 1, None, None, None, "PERMISSIVE",
                          8 * 1024 * 1024, False)

    ds._HDU_CACHE.clear()
    ds._HDU_CACHE_STATS.update(hits=0, misses=0)
    p1 = r.plan_for_files(files)
    assert ds._HDU_CACHE_STATS == {"hits": 0, "misses": 5}
    p2 = r.plan_for_files(files)
    assert ds._HDU_CACHE_STATS["hits"] == 5
    assert [(p.hdu.path, p.row_start, p.row_end) for p in p1] == \
        [(p.hdu.path, p.row_start, p.row_end) for p in p2]

    # rewrite one file with different content → its entry is stale by
    # key, re-read; the other four still hit
    _time.sleep(0.02)  # ensure mtime moves even on coarse filesystems
    fw.write_fits(files[0], [fw.bintable_hdu(
        [("Index", "K", np.arange(25, dtype=">i8"))])])
    ds._HDU_CACHE_STATS.update(hits=0, misses=0)
    p3 = r.plan_for_files(files)
    assert ds._HDU_CACHE_STATS == {"hits": 4, "misses": 1}
    assert sum(p.row_end - p.row_start for p in p3) == 25 + 4 * 10


def test_partitions_ship_without_raw_header(spark):
    """Partitions carry only the typed HduInfo fields — the raw header
    dict is plan-time state (telescope headers run 10-20 KB; at 800k
    part files shipping them is GBs of dead weight). The longheader
    fixture must still decode correctly without it."""
    from spark_fits_spark.sources.fits_datasource import FitsScanReader

    r = FitsScanReader(f"{REF}/test_longheader_file.fits", 1, None, None,
                       None, "PERMISSIVE", 8 * 1024 * 1024, False)
    parts = r.plan_for_files([f"{REF}/test_longheader_file.fits"])
    assert all(p.hdu.header == {} for p in parts)
    # and the DataFrame read over the same fixture stays correct
    df = read_fits(spark, f"{REF}/test_longheader_file.fits")
    assert df.count() == 100


def test_verbose_partitions_logs_extname_hdu(tmp_path, caplog):
    """verbose=true logs the scan plan; an EXTNAME ``hdu`` (a string)
    must format without a logging error."""
    import logging

    import numpy as np

    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.sources import fits_datasource as ds

    f = str(tmp_path / "ev.fits")
    fw.write_fits(f, [fw.bintable_hdu(
        [("Index", "K", np.arange(3, dtype=">i8"))],
        extra_cards=[fw._card("EXTNAME", "EVENTS")])])
    r = ds.FitsScanReader(f, "EVENTS", None, None, None, "PERMISSIVE",
                          8 * 1024 * 1024, True)
    with caplog.at_level(logging.INFO, logger=ds.logger.name):
        parts = r.partitions()
    assert len(parts) == 1
    assert "fits scan: 1 file(s), hdu=EVENTS" in caplog.messages


def test_plancache_option_bypasses_lru(tmp_path):
    """.option('plancache', False): every planning re-reads headers —
    the escape hatch for same-size same-mtime in-place rewrites."""
    import numpy as np

    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.sources import fits_datasource as ds

    f = str(tmp_path / "x.fits")
    fw.write_fits(f, [fw.bintable_hdu(
        [("Index", "K", np.arange(3, dtype=">i8"))])])
    r = ds.FitsScanReader(f, 1, None, None, None, "PERMISSIVE",
                          8 * 1024 * 1024, False, plan_cache=False)
    ds._HDU_CACHE.clear()
    ds._HDU_CACHE_STATS.update(hits=0, misses=0)
    r.plan_for_files([f])
    r.plan_for_files([f])
    assert ds._HDU_CACHE_STATS == {"hits": 0, "misses": 0}
    assert len(ds._HDU_CACHE) == 0


def test_stats_file_pruning(spark, tmp_path):
    """File-level data skipping: the sink's TDMINn/TDMAXn zone maps let
    the scan drop whole files whose range contradicts pushed filters —
    plan-level (fewer partitions) and end-to-end correct."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import GreaterThan, LessThan

    from spark_fits_spark.sources.fits_datasource import FitsDataSource

    d = str(tmp_path / "zoned")
    df = spark.range(300).select(
        F.col("id").alias("Index"),
        (F.col("id") * 0.5).alias("val"))
    (df.repartitionByRange(3, "Index")
       .write.format("fits").mode("overwrite").save(d))

    def planned_files(filters):
        ds = FitsDataSource(options={"path": d, "hdu": "1"})
        r = ds.reader(ds.schema())
        leftover = list(r.pushFilters(filters))
        assert leftover == []
        return {p.hdu.path for p in r.partitions() if p.hdu is not None}

    assert len(planned_files([])) == 3
    assert len(planned_files([LessThan(("Index",), 50)])) == 1
    assert len(planned_files([GreaterThan(("Index",), 150)])) <= 2
    # double-precision stats prune on the float column too
    assert len(planned_files([LessThan(("val",), 10.0)])) == 1
    # a range no file covers -> zero files planned
    assert len(planned_files([GreaterThan(("Index",), 10_000)])) == 0

    # end-to-end: pruned scan returns the same rows as the full scan
    got = (spark.read.format("fits").option("hdu", 1).load(d)
           .where(F.col("Index") < 50).agg(F.sum("Index")).first()[0])
    assert got == sum(range(50))
    # the empty-after-pruning scan is a valid empty DataFrame
    assert (spark.read.format("fits").option("hdu", 1).load(d)
            .where(F.col("Index") > 10_000).count()) == 0

    # .option("stats", False) writes no cards -> nothing prunes
    d2 = str(tmp_path / "nostats")
    (df.repartitionByRange(3, "Index").write.format("fits")
       .option("stats", False).mode("overwrite").save(d2))
    ds2 = FitsDataSource(options={"path": d2, "hdu": "1"})
    r2 = ds2.reader(ds2.schema())
    list(r2.pushFilters([LessThan(("Index",), 50)]))
    assert len({p.hdu.path for p in r2.partitions()
                if p.hdu is not None}) == 3


def test_manifest_planning(spark, tmp_path, monkeypatch):
    """_fits_manifest.json (r5): the sink records per-part HDU
    boundaries + schema + zone-map stats, and the planner builds
    partitions from ONE manifest read instead of opening every part
    file — the metadata-file pattern (Delta/Iceberg) applied to FITS,
    where planning cost is the first thing that bites at a
    100k-part-file catalog. Entries are size-validated; stale or
    foreign files fall back to a header read and self-heal."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql.datasource import LessThan

    import spark_fits_spark.sources.fits_datasource as ds
    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.sources.fits_datasource import (
        FitsDataSource, FitsScanReader, _HDU_CACHE,
    )

    d = str(tmp_path / "mdir")
    df = spark.range(1000).select(
        F.col("id").alias("Index"), (F.col("id") * 0.5).alias("val"))
    df.repartitionByRange(4, "Index").write.format("fits").mode(
        "overwrite").save(d)
    mpath = os.path.join(d, "_fits_manifest.json")
    m = json.load(open(mpath))
    assert m["version"] == 1 and m["hdu"] == 1 and len(m["files"]) == 4
    entry = next(iter(m["files"].values()))
    assert {"boundaries", "row_bytes", "n_rows", "col_names",
            "col_tforms", "theap", "size", "stats"} <= set(entry)
    assert "TDMIN1" in entry["stats"]  # zone maps ride the manifest

    src = FitsDataSource(options={"path": d, "hdu": "1"})
    schema = src.schema()
    calls = []
    orig = ds.open_hdu
    monkeypatch.setattr(
        ds, "open_hdu", lambda *a, **k: (calls.append(1), orig(*a, **k))[1])

    def plan(filters=None, **kw):
        _HDU_CACHE.clear()
        calls.clear()
        r = FitsScanReader(d, 1, schema, None, None, "PERMISSIVE",
                           8 * 1024 * 1024, False, plan_cache=False, **kw)
        if filters:
            list(r.pushFilters(filters))
        return r.partitions()

    # manifest planning opens ZERO data files
    parts = plan()
    assert len(calls) == 0
    assert sum(p.row_end - p.row_start for p in parts
               if p.hdu is not None) == 1000
    # zone-map pruning works straight off manifest stats
    pruned = plan(filters=[LessThan(("Index",), 100)])
    assert len(calls) == 0
    assert len({p.hdu.path for p in pruned if p.hdu is not None}) == 1
    # .option("manifest", False) => full header walk
    plan(use_manifest=False)
    assert len(calls) == 4
    # a rewritten (stale-size) part self-heals with exactly one read
    import numpy as np

    victim = sorted(f for f in os.listdir(d) if f.endswith(".fits"))[0]
    fw.write_fits(os.path.join(d, victim), [fw.bintable_hdu(
        [("Index", "K", np.arange(7, dtype=">i8")),
         ("val", "D", np.zeros(7))])])
    parts2 = plan()
    assert len(calls) == 1
    assert sum(p.row_end - p.row_start for p in parts2
               if p.hdu is not None) == 757  # 3 x 250 + 7

    monkeypatch.undo()
    # end-to-end equality: scan with and without the manifest
    with_m = (spark.read.format("fits").option("hdu", 1).load(d)
              .agg(F.count("*"), F.sum("Index")).first())
    no_m = (spark.read.format("fits").option("hdu", 1)
            .option("manifest", False).load(d)
            .agg(F.count("*"), F.sum("Index")).first())
    assert with_m == no_m


def test_manifest_append_merges(spark, tmp_path):
    """mode('append') folds the new parts into the existing manifest —
    the layout stays plannable from one read as the dataset grows."""
    import json

    from pyspark.sql import functions as F

    d = str(tmp_path / "adir")
    base = spark.range(100).select(F.col("id").alias("Index"))
    base.coalesce(2).write.format("fits").mode("overwrite").save(d)
    more = spark.range(100, 150).select(F.col("id").alias("Index"))
    more.coalesce(1).write.format("fits").mode("append").save(d)
    m = json.load(open(os.path.join(d, "_fits_manifest.json")))
    n_fits = len([f for f in os.listdir(d) if f.endswith(".fits")])
    assert len(m["files"]) == n_fits == 3
    got = (spark.read.format("fits").option("hdu", 1).load(d)
           .agg(F.count("*"), F.sum("Index")).first())
    assert tuple(got) == (150, sum(range(150)))
    # write-side opt-out produces no manifest
    d2 = str(tmp_path / "nodir")
    base.coalesce(1).write.format("fits").option("manifest", False).mode(
        "overwrite").save(d2)
    assert not os.path.exists(os.path.join(d2, "_fits_manifest.json"))


def test_fits_build_manifest_over_existing_archive(spark, tmp_path,
                                                   monkeypatch):
    """`fits_build_manifest`: catalog a directory of FITS files written
    OUTSIDE the sink, after which scans plan from the manifest. Files
    whose selected HDU is not a BINTABLE are skipped (recorded
    nowhere), and the planner header-walks them as before."""
    import numpy as np

    import spark_fits_spark as sfs
    import spark_fits_spark.sources.fits_datasource as ds
    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.sources.fits_datasource import (
        FitsDataSource, FitsScanReader, _HDU_CACHE,
    )

    d = tmp_path / "arch"
    d.mkdir()
    for i in range(3):
        fw.write_fits(str(d / f"t{i}.fits"), [fw.bintable_hdu(
            [("Index", "K", np.arange(i * 10, i * 10 + 10, dtype=">i8"))])])
    n = sfs.fits_build_manifest(str(d))
    assert n == 3

    src = FitsDataSource(options={"path": str(d), "hdu": "1"})
    schema = src.schema()
    calls = []
    orig = ds.open_hdu
    monkeypatch.setattr(
        ds, "open_hdu", lambda *a, **k: (calls.append(1), orig(*a, **k))[1])
    _HDU_CACHE.clear()
    r = FitsScanReader(str(d), 1, schema, None, None, "PERMISSIVE",
                       8 * 1024 * 1024, False, plan_cache=False)
    parts = r.partitions()
    assert len(calls) == 0
    assert sum(p.row_end - p.row_start for p in parts
               if p.hdu is not None) == 30
    monkeypatch.undo()
    got = (spark.read.format("fits").option("hdu", 1).load(str(d))
           .agg(F.count("*"), F.sum("Index")).first())
    assert tuple(got) == (30, sum(range(30)))
    # an image HDU in the mix is skipped by the builder
    fw.write_fits(str(d / "img.fits"),
                  [fw.image_hdu(np.arange(12, dtype="i4").reshape(3, 4))])
    assert sfs.fits_build_manifest(str(d)) == 3


def test_stats_prune_never_wrong_on_scaled_columns(spark, tmp_path):
    """Adversarial zone-map cases that must NEVER prune a matching file.

    (a) Foreign file with TSCAL/TZERO scaling: the standard defines
    TDMINn/TDMAXn as PHYSICAL (scaled) values, but a scan with scaling
    off compares RAW stored values — raw 0..9 under TZERO=50000 carries
    TDMIN=50000/TDMAX=50009, so pruning against `Raw < 10` on the
    physical stats would wrongly drop a file where every raw row
    matches. Scaled columns must contribute nothing to pruning.

    (b) int64 stats past 2^53: float64 rounds 2^53+1 to 2^53, so a
    non-strict `hi <= v` prune on GreaterThan(2^53) would drop a file
    whose exact TDMAX=2^53+1 row satisfies the filter. The strict
    compare keeps it."""
    import numpy as np
    from pyspark.sql.datasource import GreaterThan, LessThan

    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.sources.fits_datasource import (
        FitsDataSource, _stats_prune,
    )

    # (a) end-to-end: foreign scaled file
    d = tmp_path / "scaled"
    d.mkdir()
    raw = np.arange(10, dtype=">i8")
    cards = [
        fw._card("TZERO1", 50000.0), fw._card("TSCAL1", 1.0),
        fw._card("TDMIN1", 50000), fw._card("TDMAX1", 50009),
    ]
    fw.write_fits(str(d / "f.fits"),
                  [fw.bintable_hdu([("Raw", "K", raw)], extra_cards=cards)])
    ds = FitsDataSource(options={"path": str(d), "hdu": "1"})
    r = ds.reader(ds.schema())
    list(r.pushFilters([LessThan(("Raw",), 10)]))
    kept = {p.hdu.path for p in r.partitions() if p.hdu is not None}
    assert len(kept) == 1  # physical-valued stats never prune a raw scan

    # (b) unit-level: exact int bounds past float53 under strict compares
    from spark_fits_spark.fitscore.file import BlockBoundaries, HduInfo

    hdu = HduInfo(
        path="x", hdu_index=1, hdu_type="BINTABLE",
        boundaries=BlockBoundaries(0, 0, 0, 0),
        header={"TDMIN1": "0", "TDMAX1": "9007199254740993"},  # 2^53+1
        col_names=("Index",), col_tforms=("K",),
        col_tscal=(1.0,), col_tzero=(0.0,),
    )
    assert not _stats_prune(hdu, [GreaterThan(("Index",), 2 ** 53)])
    # sanity: a genuinely excluded range still prunes
    assert _stats_prune(hdu, [GreaterThan(("Index",), 2 ** 53 + 2)])
    assert _stats_prune(hdu, [LessThan(("Index",), -1)])


def test_imgindex_plane_pruning(spark, tmp_path):
    """Plane pruning (r5): a pushed ImgIndex predicate bounds the
    partition row/tile range at PLAN time, so asking for one plane of
    a cube never reads the other planes' bytes — for plain images and
    tile-compressed images alike — while non-contiguous predicates
    stay exact through the post-decode mask."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import (
        EqualTo, GreaterThanOrEqual, In, IsNull, LessThan,
    )

    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.sources.fits_datasource import FitsDataSource

    cube = np.arange(6 * 4 * 3, dtype="i4").reshape(6, 4, 3)
    plain = str(tmp_path / "cube.fits")
    fw.write_fits(plain, [fw.image_hdu(cube)])
    comp = str(tmp_path / "cube.fits.fz")
    fw.write_fits(comp, [fw.compressed_image_hdu(
        cube, "GZIP_2", tile_rows=2)])

    def planned_rows(path, filters):
        ds = FitsDataSource(options={"path": path, "hdu": "1"})
        r = ds.reader(ds.schema())
        assert list(r.pushFilters(filters)) == []
        return sum(p.row_end - p.row_start for p in r.partitions()
                   if p.hdu is not None)

    for path, unit in ((plain, 4), (comp, 2)):  # rows/plane, tiles/plane
        assert planned_rows(path, []) == 6 * unit
        assert planned_rows(path, [EqualTo(("ImgIndex",), 2)]) == unit
        assert planned_rows(path, [GreaterThanOrEqual(("ImgIndex",), 4)]) \
            == 2 * unit
        assert planned_rows(path, [LessThan(("ImgIndex",), 2)]) == 2 * unit
        # In prunes to its hull; the gap plane is masked post-decode
        assert planned_rows(path, [In(("ImgIndex",), (1, 3))]) == 3 * unit
        # ImgIndex is never NULL: IsNull plans nothing
        assert planned_rows(path, [IsNull(("ImgIndex",))]) == 0
        # contradictory conjunction -> empty plan, not a negative range
        assert planned_rows(
            path, [EqualTo(("ImgIndex",), 1), EqualTo(("ImgIndex",), 4)]
        ) == 0

    # end-to-end: pruned scans return exactly the filtered planes
    for path in (plain, comp):
        df = spark.read.format("fits").option("hdu", 1).load(path)
        got = (df.where(F.col("ImgIndex") == 2)
               .agg(F.sum(F.aggregate(
                   "Image", F.lit(0).cast("long"), lambda a, x: a + x)))
               .first()[0])
        assert got == int(cube[2].sum())
        gaps = (df.where(F.col("ImgIndex").isin(1, 3))
                .select("ImgIndex").distinct().collect())
        assert sorted(r[0] for r in gaps) == [1, 3]
        assert df.where(F.col("ImgIndex").isNull()).count() == 0


def test_image_columns_option(spark, tmp_path):
    """`columns` on image HDUs (r5): prunes/reorders the (Image,
    ImgIndex) projection; selecting only ImgIndex is a ZERO-I/O plane
    enumeration (plane index is header arithmetic) for plain and
    compressed images, composing with ImgIndex plane pruning."""
    import numpy as np
    from pyspark.sql import functions as F

    from spark_fits_spark.fitscore import writer as fw

    cube = np.arange(5 * 3 * 4, dtype="i4").reshape(5, 3, 4)
    plain = str(tmp_path / "cube.fits")
    fw.write_fits(plain, [fw.image_hdu(cube)])
    comp = str(tmp_path / "cube.fits.fz")
    # tile_rows=2 over 3-row planes: partial trailing tiles per plane
    fw.write_fits(comp, [fw.compressed_image_hdu(cube, "GZIP_2",
                                                 tile_rows=2)])
    for path in (plain, comp):
        ix = (spark.read.format("fits").option("hdu", 1)
              .option("columns", "ImgIndex").load(path))
        assert [f.name for f in ix.schema.fields] == ["ImgIndex"]
        got = {r["ImgIndex"]: r["n"]
               for r in ix.groupBy("ImgIndex").agg(F.count("*").alias("n"))
               .collect()}
        assert got == {p: 3 for p in range(5)}, (path, got)
        # composes with plane pruning: filter + projection, still exact
        assert (ix.where(F.col("ImgIndex") == 3).count()) == 3
        # reorder + case-insensitive
        both = (spark.read.format("fits").option("hdu", 1)
                .option("columns", "imgindex,image").load(path))
        assert [f.name for f in both.schema.fields] == ["ImgIndex", "Image"]
        row = both.where(F.col("ImgIndex") == 2).orderBy("Image").first()
        assert list(row["Image"]) == list(cube[2, 0])
        # Image-only projection drops the index column
        img = (spark.read.format("fits").option("hdu", 1)
               .option("columns", "Image").load(path))
        assert [f.name for f in img.schema.fields] == ["Image"]
        assert img.count() == 15
        # unknown name: loud
        import pytest as _pytest
        with _pytest.raises(Exception, match="not found"):
            (spark.read.format("fits").option("hdu", 1)
             .option("columns", "Pixels").load(path).schema)


def test_fits_headers_table(spark):
    """fits_headers: one row per card, strings unquoted, comments
    captured, COMMENT/HISTORY rows carry text in comment with NULL
    value, hdu filter restricts, END absent — queryable metadata."""
    from spark_fits_spark import fits_headers

    df = fits_headers(spark, f"{REF}/toTest/swift_events.fits")
    rows = df.collect()
    assert not any(r["keyword"] == "END" for r in rows)
    by = {}
    for r in rows:
        by.setdefault((r["hdu"], r["keyword"]), r)
    assert by[(0, "SIMPLE")]["value"] == "T"
    assert by[(1, "EXTNAME")]["value"] == "EVENTS"   # unquoted
    assert by[(1, "NAXIS2")]["value"] == "50000"
    # comments survive where present on standard cards
    assert any(r["comment"] for r in rows if r["hdu"] == 0)
    # per-card position is the card index within its header
    h0 = sorted(r["pos"] for r in rows if r["hdu"] == 0)
    assert h0[0] == 0 and h0 == sorted(set(h0))
    # hdu filter
    only1 = fits_headers(
        spark, f"{REF}/toTest/swift_events.fits", hdu=1).collect()
    assert {r["hdu"] for r in only1} == {1}
    # SQL over the archive's metadata — the point of the operator
    df.createOrReplaceTempView("hdrs")
    n = spark.sql("""
        SELECT COUNT(*) FROM hdrs
        WHERE keyword = 'EXTNAME' AND value = 'GTI'
    """).first()[0]
    assert n == 1


# ---------- zone-map prune soundness (hypothesis) ----------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False


if _HAVE_HYP:
    import math as _math

    # boundary-biased pools: float53 edges, int64 extremes, signed
    # zeros, subnormals, huge magnitudes — where double-rounding
    # pruning bugs would live
    _NASTY_INTS = [
        0, 1, -1, 2**53 - 1, 2**53, 2**53 + 1, -(2**53) - 1,
        2**62 - 1, 2**62, 2**62 + 1, 2**63 - 1, -(2**63),
    ]
    _NASTY_FLOATS = [
        0.0, -0.0, 5e-324, -5e-324, 1e308, -1e308, 1.5, -2.75,
        9007199254740993.0, _math.pi, 1e16, 1e16 + 2,
        float("nan"),  # r6: NaN rows vs hi-side prunes (TNANFR gate)
    ]

    _int_vals = st.one_of(st.sampled_from(_NASTY_INTS),
                          st.integers(-(2**63), 2**63 - 1))
    _float_vals = st.one_of(st.sampled_from(_NASTY_FLOATS),
                            st.floats(allow_nan=False, allow_infinity=False))

    @settings(max_examples=60, deadline=None)
    @given(data=st.data(), is_float=st.booleans())
    def test_zonemap_prune_soundness_property(data, is_float):
        """SOUNDNESS of file-level data skipping, the one code path
        where a bug is silent wrong results: for random column data
        and random pushed-filter conjunctions (values drawn from the
        same adversarial pools, ±1-ulp neighbors of the true bounds
        included), whenever _stats_prune says the file can be skipped,
        NO row may satisfy the conjunction — checked under BOTH
        Python-exact comparison semantics and double-cast (Arrow
        promotion) semantics. Goes end-to-end through the sink's real
        card formatting (fw._card) and the scan's header parse, so
        a TDMIN/TDMAX precision loss would fail here too."""
        import io

        import numpy as np
        from pyspark.sql.datasource import (
            EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan,
            LessThanOrEqual,
        )

        from spark_fits_spark.fitscore import writer as fw
        from spark_fits_spark.fitscore.file import open_hdu
        from spark_fits_spark.sources.fits_datasource import _stats_prune

        pool = _float_vals if is_float else _int_vals
        vals = data.draw(st.lists(pool, min_size=1, max_size=12))

        if is_float:
            arr = np.array(vals, dtype=">f8")
            # sink-faithful stats: extremes over the NON-NaN values
            # (Arrow min_max skips NaN), no cards if nothing finite
            # remains, and TNANFR1 exactly when the column is proven
            # NaN-free — the r6 hi-side-prune gate
            finite_pool = arr[~np.isnan(arr)]
            has_nan = bool(np.isnan(arr).any())
            if finite_pool.size == 0:
                return  # sink writes no stats; nothing to prune
            lo, hi = float(finite_pool.min()), float(finite_pool.max())
            tform = "D"
        else:
            arr = np.array(vals, dtype=">i8")
            lo, hi = min(vals), max(vals)
            has_nan = False
            tform = "K"
        cards = [fw._card("TDMIN1", lo, "min of x"),
                 fw._card("TDMAX1", hi, "max of x")]
        if is_float and not has_nan:
            cards.append(fw._card("TNANFR1", True, "proven NaN-free"))
        raw = fw.primary_hdu() + fw.bintable_hdu(
            [("x", tform, arr)], extra_cards=cards)
        hdu = open_hdu(io.BytesIO(raw), "<mem>", 1)

        # filter values: pools + the data's own values + 1-ulp/±1
        # neighbors of the true bounds
        neighbors = ([_math.nextafter(float(lo), -_math.inf),
                      _math.nextafter(float(hi), _math.inf)]
                     + ([lo - 1, hi + 1, lo, hi] if not is_float
                        else [float(lo), float(hi)]))
        vpool = st.one_of(pool, st.sampled_from(vals + neighbors))

        # SPARK float comparison semantics (NaN greatest + self-equal;
        # the engine the scan must agree with — raw Python/IEEE
        # comparisons would under-report matches and mask unsoundness)
        def _nan(x):
            return isinstance(x, float) and _math.isnan(x)

        def s_eq(x, v):
            if _nan(x) or _nan(v):
                return _nan(x) and _nan(v)
            return x == v

        def s_gt(x, v):
            if _nan(x):
                return not _nan(v)
            return False if _nan(v) else x > v

        def s_gte(x, v):
            if _nan(x):
                return True
            return False if _nan(v) else x >= v

        def s_lt(x, v):
            if _nan(x):
                return False
            return True if _nan(v) else x < v

        def s_lte(x, v):
            if _nan(x):
                return _nan(v)
            return True if _nan(v) else x <= v

        ops = [
            lambda v: (EqualTo(("x",), v),
                       lambda x: s_eq(x, v),
                       lambda x: s_eq(float(x), float(v))),
            lambda v: (GreaterThan(("x",), v),
                       lambda x: s_gt(x, v),
                       lambda x: s_gt(float(x), float(v))),
            lambda v: (GreaterThanOrEqual(("x",), v),
                       lambda x: s_gte(x, v),
                       lambda x: s_gte(float(x), float(v))),
            lambda v: (LessThan(("x",), v),
                       lambda x: s_lt(x, v),
                       lambda x: s_lt(float(x), float(v))),
            lambda v: (LessThanOrEqual(("x",), v),
                       lambda x: s_lte(x, v),
                       lambda x: s_lte(float(x), float(v))),
        ]
        n_filters = data.draw(st.integers(1, 3))
        filters, preds_exact, preds_double = [], [], []
        for _ in range(n_filters):
            if data.draw(st.booleans(), label="use_in"):
                vs = data.draw(st.lists(vpool, min_size=1, max_size=4))
                filters.append(In(("x",), tuple(vs)))
                preds_exact.append(
                    lambda x, vs=vs: any(s_eq(x, v) for v in vs))
                preds_double.append(
                    lambda x, vs=vs: any(s_eq(float(x), float(v))
                                         for v in vs))
            else:
                mk = data.draw(st.sampled_from(ops))
                v = data.draw(vpool)
                flt, pe, pd = mk(v)
                filters.append(flt)
                preds_exact.append(pe)
                preds_double.append(pd)

        if _stats_prune(hdu, filters):
            stored = [float(x) for x in arr] if is_float else \
                [int(x) for x in arr.astype("i8")]
            match_exact = any(all(p(x) for p in preds_exact)
                              for x in stored)
            match_double = any(all(p(x) for p in preds_double)
                               for x in stored)
            assert not match_exact and not match_double, (
                f"UNSOUND PRUNE: stats=({lo},{hi}) filters={filters} "
                f"data={stored[:6]}...")


if _HAVE_HYP:
    @settings(max_examples=80, deadline=None)
    @given(data=st.data())
    def test_imgindex_plane_bounds_soundness_property(data):
        """SOUNDNESS of plan-time plane pruning: for any pushed-filter
        conjunction (range ops, In, IsNull/IsNotNull, Not-wrapped,
        integral and NON-integral values, None, bools, foreign
        attributes), every plane index that satisfies the full
        conjunction must lie inside the planned [lo, hi) interval —
        under-inclusion would silently drop image rows before the
        residual mask ever runs."""
        from pyspark.sql.datasource import (
            EqualNullSafe, EqualTo, GreaterThan, GreaterThanOrEqual,
            In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not,
        )

        from spark_fits_spark.sources.fits_datasource import (
            _imgindex_plane_bounds,
        )

        attrs = st.sampled_from([("ImgIndex",), ("Image",), ("other",)])
        vals = st.one_of(
            st.integers(-3, 25), st.sampled_from(
                [3.0, 3.5, -0.5, 0.0, True, None, 2**40, 1e17]),
            st.floats(-5, 30))

        def mk(draw):
            a = draw(attrs)
            kind = draw(st.sampled_from(
                ["eq", "eqns", "gt", "gte", "lt", "lte", "in",
                 "isnull", "isnotnull"]))
            if kind == "in":
                f = In(a, tuple(draw(st.lists(vals, min_size=1,
                                              max_size=4))))
            elif kind == "isnull":
                f = IsNull(a)
            elif kind == "isnotnull":
                f = IsNotNull(a)
            else:
                cls = {"eq": EqualTo, "eqns": EqualNullSafe,
                       "gt": GreaterThan, "gte": GreaterThanOrEqual,
                       "lt": LessThan, "lte": LessThanOrEqual}[kind]
                f = cls(a, draw(vals))
            return Not(f) if draw(st.booleans()) else f

        filters = [mk(data.draw) for _ in range(data.draw(
            st.integers(1, 4)))]
        lo, hi = _imgindex_plane_bounds(filters)
        assert lo >= 0 and (hi is None or isinstance(hi, int))

        def _cmp_ok(v):
            return isinstance(v, (int, float, bool))

        def ev(f, p):
            """Truth of one pushed filter at ImgIndex == p; foreign
            attributes are assumed satisfiable (True) so the plane
            counts as matching — the strictest reading for the
            pruner."""
            if isinstance(f, Not):
                return not ev(f.child, p)
            if tuple(f.attribute) != ("ImgIndex",):
                return True
            if isinstance(f, IsNull):
                return False  # ImgIndex is never NULL
            if isinstance(f, IsNotNull):
                return True
            v = getattr(f, "value", None)
            if isinstance(f, In):
                return any(_cmp_ok(x) and p == x for x in v)
            if v is None or not _cmp_ok(v):
                return False
            if isinstance(f, (EqualTo, EqualNullSafe)):
                return p == v
            if isinstance(f, GreaterThan):
                return p > v
            if isinstance(f, GreaterThanOrEqual):
                return p >= v
            if isinstance(f, LessThan):
                return p < v
            if isinstance(f, LessThanOrEqual):
                return p <= v
            return True

        for p in range(0, 64):
            if all(ev(f, p) for f in filters):
                assert p >= lo and (hi is None or p < hi), (
                    f"UNSOUND PLANE PRUNE: plane {p} matches "
                    f"{filters} but planned interval is [{lo}, {hi})")


if _HAVE_HYP:
    @settings(max_examples=60, deadline=None)
    @given(data=st.data())
    def test_filter_mask_matches_duckdb_where_property(data):
        """The in-source Arrow mask evaluator (_apply_filters) must
        implement exactly SQL WHERE semantics — three-valued logic
        with NULL data, NULL comparison values, NULL-containing IN
        lists, Not-wrapped everything, across int/float/string
        columns. Oracle: DuckDB evaluating the same conjunction over
        the same Arrow table (values passed as bound parameters so no
        literal formatting is in the loop). Rows are compared by id."""
        import duckdb
        import pyarrow as pa
        from pyspark.sql.datasource import (
            EqualNullSafe, EqualTo, GreaterThan, GreaterThanOrEqual,
            In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not,
            StringContains, StringEndsWith, StringStartsWith,
        )

        from spark_fits_spark.sources.fits_datasource import (
            _apply_filters,
        )

        n = data.draw(st.integers(1, 40))
        ints = data.draw(st.lists(
            st.one_of(st.none(), st.integers(-5, 5)),
            min_size=n, max_size=n))
        # NaN is deliberately absent on BOTH sides here: DuckDB's
        # columnar comparisons are IEEE (NaN matches nothing) while
        # Spark's are NaN-greatest/self-equal, so DuckDB cannot oracle
        # NaN semantics — Spark itself does, in
        # test_pushdown_float_semantics_match_spark_parquet. Signed
        # zeros stay: both engines agree -0.0 == 0.0.
        flts = data.draw(st.lists(
            st.one_of(st.none(), st.sampled_from(
                [0.0, -0.0, 1.5, -2.5, 3.0, 100.0])),
            min_size=n, max_size=n))
        strs = data.draw(st.lists(
            st.one_of(st.none(), st.sampled_from(
                ["", "a", "ab", "abc", "ba", "bab", "z"])),
            min_size=n, max_size=n))
        batch = pa.RecordBatch.from_pydict({
            "_rid": pa.array(range(n), pa.int64()),
            "i": pa.array(ints, pa.int64()),
            "f": pa.array(flts, pa.float64()),
            "s": pa.array(strs, pa.string()),
        })

        # int-column values: non-integral floats exercise the In
        # truncation guard, but NO NaN — Catalyst wraps the attribute
        # in a Cast for `int_col <cmp> NaN`, so such filters are never
        # pushed (and exact-vs-double semantics would differ)
        int_vals = st.one_of(st.none(), st.integers(-6, 6),
                             st.sampled_from([1.5, -2.5, 0.0, 3.0]))
        # float-column values: -0.0 (= 0.0) is the adversarial case;
        # NaN is oracled against Spark itself (see the data pool note)
        flt_vals = st.one_of(st.none(), st.integers(-6, 6),
                             st.sampled_from(
                                 [1.5, -2.5, 0.0, -0.0, 3.0]))
        str_vals = st.one_of(st.none(), st.sampled_from(
            ["", "a", "ab", "b", "z"]))

        def mk(draw):
            col = draw(st.sampled_from(["i", "f", "s"]))
            vs = {"s": str_vals, "i": int_vals, "f": flt_vals}[col]
            kinds = ["eq", "eqns", "gt", "gte", "lt", "lte", "in",
                     "isnull", "isnotnull"]
            if col == "s":
                kinds += ["contains", "startswith", "endswith"]
            kind = draw(st.sampled_from(kinds))
            a = (col,)
            sql, params = None, []
            if kind == "in":
                lst = draw(st.lists(vs, min_size=1, max_size=4))
                f = In(a, tuple(lst))
                sql = f"{col} IN (" + ",".join(
                    "NULL" if v is None else "?" for v in lst) + ")"
                params = [v for v in lst if v is not None]
            elif kind == "isnull":
                f, sql = IsNull(a), f"{col} IS NULL"
            elif kind == "isnotnull":
                f, sql = IsNotNull(a), f"{col} IS NOT NULL"
            elif kind in ("contains", "startswith", "endswith"):
                v = draw(st.sampled_from(["", "a", "ab", "b"]))
                cls, fn = {
                    "contains": (StringContains, "contains"),
                    "startswith": (StringStartsWith, "starts_with"),
                    "endswith": (StringEndsWith, "ends_with")}[kind]
                f, sql, params = cls(a, v), f"{fn}({col}, ?)", [v]
            else:
                v = draw(vs)
                cls, op = {
                    "eq": (EqualTo, "="),
                    "eqns": (EqualNullSafe, "IS NOT DISTINCT FROM"),
                    "gt": (GreaterThan, ">"),
                    "gte": (GreaterThanOrEqual, ">="),
                    "lt": (LessThan, "<"),
                    "lte": (LessThanOrEqual, "<=")}[kind]
                # pyarrow compute can't compare against a None scalar
                # for the range family; the source never pushes those
                if v is None and kind != "eqns":
                    v = draw(st.integers(-6, 6)) if col != "s" else "a"
                f = cls(a, v)
                if v is None:
                    sql = f"{col} IS NULL"  # x <=> NULL
                else:
                    sql, params = f"{col} {op} ?", [v]
            if draw(st.booleans()):
                f = Not(f)
                sql = f"NOT ({sql})"
            return f, sql, params

        parts = [mk(data.draw) for _ in range(data.draw(
            st.integers(1, 3)))]
        filters = [p[0] for p in parts]
        where = " AND ".join(p[1] for p in parts)
        params = [x for p in parts for x in p[2]]

        got = sorted(_apply_filters(
            batch, filters).column("_rid").to_pylist())
        con = duckdb.connect()
        con.register("t", pa.Table.from_batches([batch]))
        want = sorted(r[0] for r in con.execute(
            f"SELECT _rid FROM t WHERE {where}", params).fetchall())
        assert got == want, (
            f"mask != SQL WHERE: filters={filters} where={where!r} "
            f"params={params} got={got} want={want}")


def test_pushdown_float_semantics_match_spark_parquet(spark, tmp_path):
    """AUTHORITATIVE float-semantics oracle for pushed filters: the
    same predicate over the same values must return the same rows from
    the fits scan (mask evaluated IN-SOURCE; Spark does not re-apply
    pushed filters) and from parquet (Spark evaluates it itself).
    Spark's float comparisons are NaN-greatest and NaN-self-equal and
    treat -0.0 == 0.0 — raw IEEE kernels disagree on every one of
    those, which made the pre-r6 mask silently DROP NaN rows for
    predicates like `flux > 5` (found via the hypothesis
    mask-vs-DuckDB property; fixed in _filter_mask). NaN is endemic in
    FITS floats (undefined pixels), so this is the wrong-results case
    a survey pipeline would actually hit."""
    import math

    import numpy as np

    from spark_fits_spark.fitscore import writer as fw

    nan = float("nan")
    vals = [1.0, nan, -0.0, 0.0, 5.5, -3.25, nan, 2.0]
    ids = list(range(len(vals)))
    path = str(tmp_path / "nan.fits")
    fw.write_fits(path, [fw.bintable_hdu(
        [("id", "K", np.arange(len(vals), dtype=">i8")),
         ("x", "D", np.array(vals, dtype=">f8"))])])
    pq = str(tmp_path / "nan.parquet")
    spark.createDataFrame(
        list(zip(ids, vals)), "id long, x double").write.parquet(pq)

    fits_df = read_fits(spark, path)
    pq_df = spark.read.parquet(pq)

    nan_lit = F.lit(nan).cast("double")
    preds = [
        F.col("x") > 0.0,
        F.col("x") >= 0.0,
        F.col("x") < 2.0,
        F.col("x") <= 2.0,
        F.col("x") == 0.0,
        F.col("x") == -0.0,
        F.col("x") == nan_lit,
        F.col("x") > nan_lit,
        F.col("x") >= nan_lit,
        F.col("x") < nan_lit,
        F.col("x") <= nan_lit,
        F.col("x").isin(0.0, 1.0),
        ~(F.col("x") > 0.0),
        ~(F.col("x") == nan_lit),
    ]
    for p in preds:
        got = sorted(r["id"] for r in fits_df.filter(p).collect())
        want = sorted(r["id"] for r in pq_df.filter(p).collect())
        assert got == want, f"pred {p}: fits={got} parquet={want}"
    # sanity that the semantics actually bite: NaN rows DO match x > 0
    assert sorted(
        r["id"] for r in fits_df.filter(F.col("x") > 0.0).collect()
    ) == [0, 1, 4, 6, 7]
    # and the predicate really was consumed in-source (no post-scan
    # Filter): Spark never re-checked these rows
    plan = fits_df.filter(F.col("x") > 0.0) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "PushedFilters" in plan or \
        "Filter" not in plan.split("RelationV2")[0]


def test_stats_prune_nan_rows_never_dropped(spark, tmp_path):
    """r6: hi-side zone-map prunes on FLOAT columns require proven
    NaN-freeness (the sink's TNANFRn card). Arrow min_max skips NaN,
    so a NaN-bearing file carries finite TDMAX — but Spark orders NaN
    GREATEST, so its NaN rows match `x > v` for any v. Pre-fix the
    prune fired on TDMAX alone and silently dropped those rows; the
    parquet twin of the same query returns them."""
    import math

    from pyspark.sql import functions as F
    from pyspark.sql.datasource import GreaterThan, LessThan

    from spark_fits_spark.sources.fits_datasource import FitsDataSource

    d = str(tmp_path / "nanzone")
    rows = [(0, 1.0), (1, 2.0), (2, float("nan")),   # part 1: has NaN
            (3, 900.0), (4, 901.0)]                  # part 2: NaN-free
    df = spark.createDataFrame(rows, "id long, x double")
    (df.repartitionByRange(2, "id")
       .write.format("fits").mode("overwrite").save(d))
    pq = str(tmp_path / "nanzone.parquet")
    df.write.parquet(pq)

    def planned_files(filters):
        ds = FitsDataSource(options={"path": d, "hdu": "1"})
        r = ds.reader(ds.schema())
        assert list(r.pushFilters(filters)) == []
        return {p.hdu.path for p in r.partitions() if p.hdu is not None}

    # hi-side prune on the float column: the NaN-bearing file must
    # stay planned even though its TDMAX (2.0) is far below the bound
    assert len(planned_files([GreaterThan(("x",), 100.0)])) == 2
    # the NaN-free file still hi-side-prunes (TNANFR present):
    # x < 500 proves nothing for part 1 but excludes part 2? no —
    # lo-side: part2 lo=900 > 500 prunes; part1 kept
    assert len(planned_files([LessThan(("x",), 500.0)])) == 1
    # and x > 100 with ONLY NaN-free files behaves as before:
    # part 2 matches, part 1 is kept only because of its NaN rows

    # end-to-end vs the parquet twin (the authoritative semantics)
    fits_df = spark.read.format("fits").option("hdu", 1).load(d)
    pq_df = spark.read.parquet(pq)
    for pred in [F.col("x") > 100.0, F.col("x") >= 2.5,
                 F.col("x") < 500.0, F.col("x") == 2.0]:
        got = sorted(r["id"] for r in fits_df.filter(pred).collect())
        want = sorted(r["id"] for r in pq_df.filter(pred).collect())
        assert got == want, f"{pred}: fits={got} parquet={want}"
    # the NaN row really is in the x > 100 answer
    assert 2 in {r["id"] for r in
                 fits_df.filter(F.col("x") > 100.0).collect()}
