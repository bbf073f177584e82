"""Tests for sources (registry/conform/drift, resolver, readers) and
sinks."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kp_data_pipelines_spark.sources import (
    SchemaRegistry,
    latest_snapshot,
    read_table,
    read_table_stream,
)
from kp_data_pipelines_spark.sources.registry import SchemaDriftError

SF_DIR = "/root/testdata/sf0.001"


def test_read_table_nanos_timestamps(spark, tmp_path):
    ev = read_table(spark, SF_DIR, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.count() > 0

    # The testdata tables are microsecond precision, so write a
    # nanosecond one. 2024-era nanos lie past double's 2^53 exact range;
    # the sub-microsecond digits must truncate, in batch and in stream.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kp_data_pipelines_spark.streaming.events import run_available_now

    nanos = [
        1_704_067_200_123_456_789,
        1_717_200_000_000_000_999,
        1_720_000_000_999_999_001,
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(nanos, pa.timestamp("ns")),
            }
        ),
        tmp_path / "events.parquet",
    )
    assert str(pq.read_schema(tmp_path / "events.parquet").field("ts").type) == (
        "timestamp[ns]"
    )
    want = [(i + 1, n // 1000) for i, n in enumerate(nanos)]
    try:
        batch = read_table(spark, str(tmp_path), "events")
        stream = run_available_now(
            read_table_stream(spark, str(tmp_path), "events")
        )
        for df in (batch, stream):
            assert dict(df.dtypes)["ts"] == "timestamp"
            got = df.select("event_id", F.unix_micros("ts").alias("us"))
            assert sorted(tuple(r) for r in got.collect()) == want
    finally:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")


def test_registry_conform_and_drift(spark):
    reg = SchemaRegistry()
    reg.register(
        "t",
        StructType(
            [
                StructField("a", LongType()),
                StructField("b", StringType()),
                StructField("c", DoubleType()),
            ]
        ),
    )
    df = spark.createDataFrame([(1, "x", "extra")], ["a", "b", "z"])
    out = reg.conform(df, "t")
    assert out.columns == ["a", "b", "c"]
    row = out.collect()[0]
    assert row["c"] is None
    with pytest.raises(SchemaDriftError):
        reg.check_drift(df, "t")
    reg.check_drift(out, "t")


def test_latest_snapshot(tmp_path):
    for name in ["report_0124.csv", "report_0324.csv", "report_0224.csv"]:
        (tmp_path / name).write_text("x")
    got = latest_snapshot(
        str(tmp_path / "report_*.csv"), date_regex=r"report_(\d{4})\.csv", date_parse="%m%y"
    )
    assert got.endswith("report_0324.csv")
    assert latest_snapshot(str(tmp_path / "nope_*.csv")) is None


def test_read_binary_dir(spark, tmp_path):
    from kp_data_pipelines_spark.sources.readers import read_binary_dir

    files = {"a.bin": b"\x00\x01payload", "b.bin": b"second file"}
    for name, data in files.items():
        (tmp_path / name).write_bytes(data)
    rows = read_binary_dir(spark, str(tmp_path / "*.bin")).collect()
    got = {
        os.path.basename(r["path"]): (bytes(r["content"]), r["length"])
        for r in rows
    }
    assert got == {name: (data, len(data)) for name, data in files.items()}


def test_csv_roundtrip(spark, tmp_path):
    from kp_data_pipelines_spark.sources import read_csv, write_report_csv

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    path = str(tmp_path / "out")
    write_report_csv(df, path)
    files = [f for f in os.listdir(path) if f.endswith(".csv")]
    assert len(files) == 1  # single-file contract
    back = read_csv(spark, path)
    assert back.count() == 2


def test_json_readers(spark, tmp_path):
    """S5-S7: a whole-document UTF-16 JSON array keeps its nested struct
    native (flattened with ``select("a.*")``), and NDJSON reads one row
    per line."""
    import json

    from kp_data_pipelines_spark.sources import read_json_doc, read_ndjson

    recs = [{"id": 1, "a": {"x": 1.5, "y": "p"}}, {"id": 2, "a": {"x": 2.5, "y": "q"}}]
    doc = tmp_path / "doc.json"
    doc.write_text(json.dumps(recs, indent=2), encoding="utf-16")
    flat = read_json_doc(spark, str(doc), encoding="UTF-16").select("id", "a.*")
    assert sorted(map(tuple, flat.collect())) == [(1, 1.5, "p"), (2, 2.5, "q")]

    nd = tmp_path / "rows.ndjson"
    nd.write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    assert sorted(r["id"] for r in read_ndjson(spark, str(nd)).collect()) == [1, 2]


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    from kp_data_pipelines_spark.sources.sinks import write_table

    df = spark.createDataFrame(
        [(i, f"src{i % 4}", float(i)) for i in range(100)],
        "id long, source string, v double",
    )
    path = str(tmp_path / "part_tbl")
    write_table(df, path, partition_by=["source"])
    back = spark.read.parquet(path).filter(F.col("source") == "src1")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # hive-partitioned layout: the filter must prune directories at plan
    # time, never scan-and-discard
    assert "PartitionFilters: [isnotnull(source" in plan
    assert back.count() == 25


def test_orc_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, s string, v double"
    )
    path = str(tmp_path / "t.orc")
    df.write.orc(path)
    back = spark.read.orc(path)
    assert sorted(map(tuple, back.collect())) == [(1, "a", 1.5), (2, "b", 2.5)]


def test_synthetic_corpus_datasource(spark):
    """Custom Python DataSource: partition-parallel, deterministic, and
    consumable by the text operators without changes."""
    from kp_data_pipelines_spark.sources.corpus_source import (
        SyntheticCorpusDataSource,
    )

    spark.dataSource.register(SyntheticCorpusDataSource)
    read = (
        spark.read.format("synthetic_corpus")
        .option("partitions", 4)
        .option("rows_per_partition", 50)
        .option("seed", 7)
    )
    df = read.load()
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 200
    assert [f.name for f in df.schema] == [
        "doc_id", "text", "lang", "source", "n_chars",
    ]
    # deterministic across reads
    a = sorted(r["text"] for r in df.collect())
    b = sorted(r["text"] for r in read.load().collect())
    assert a == b
    # unique ids across partitions; text ops run on it
    assert df.select("doc_id").distinct().count() == 200
    from kp_data_pipelines_spark.operators.textops import whitespace_token_count

    toks = df.select(whitespace_token_count("text").alias("n")).agg(
        {"n": "min"}
    ).head()[0]
    assert toks >= 20


def test_flatten_multiindex_columns(spark):
    """The reference's `tidy` header flatten, exercised without an xlsx
    engine: join header levels with '_', drop Unnamed slots, and the
    result loads into Spark."""
    import pandas as pd

    from kp_data_pipelines_spark.sources.readers import flatten_multiindex_columns

    pdf = pd.DataFrame(
        [[1, 2.0, "x"], [3, 4.0, "y"]],
        columns=pd.MultiIndex.from_tuples(
            [("Fiscal", "Year"), ("Fiscal", "Amount"), ("Unnamed: 2_level_0", "Code")]
        ),
    )
    out = flatten_multiindex_columns(pdf)
    assert list(out.columns) == ["Fiscal_Year", "Fiscal_Amount", "Code"]
    sdf = spark.createDataFrame(out)
    assert sdf.count() == 2
    assert set(sdf.columns) == {"Fiscal_Year", "Fiscal_Amount", "Code"}


def test_interactive_report_formula_helpers():
    """K3 interactive report: the dropdown source and spill FILTER
    formulas match the reference workbook's contract
    (`DOR VP Compare.ipynb:552-634`) — testable without an xlsx engine."""
    from kp_data_pipelines_spark.sources.sinks import (
        dropdown_source_range,
        excel_col,
        filter_formula,
    )

    assert [excel_col(i) for i in (0, 25, 26, 27, 701, 702)] == [
        "A", "Z", "AA", "AB", "ZZ", "AAA",
    ]
    assert (
        dropdown_source_range("Matched", 0, 100) == "=Matched!$A$2:$A$101"
    )
    assert filter_formula("Detail", 4, 0) == (
        "=FILTER(Detail!A2:D1048576, Detail!A2:A1048576=$B$1)"
    )
    assert filter_formula("VP", 28, 2, "$C$9") == (
        "=FILTER(VP!A2:AB1048576, VP!C2:C1048576=$C$9)"
    )


def test_interactive_report_writes_validation(spark, tmp_path):
    """Full workbook assertion: the xlsx is a zip of SpreadsheetML XML,
    so the dropdown dataValidation element and the spill FILTER formula
    are verified with stdlib zipfile/ElementTree."""
    import zipfile
    import xml.etree.ElementTree as ET

    from kp_data_pipelines_spark.sources.sinks import (
        write_report_excel_interactive,
    )

    matched = spark.createDataFrame(
        [(1, "a"), (2, "b")], "project_id int, title string"
    )
    detail = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "project_id int, amount double"
    )
    path = str(tmp_path / "report.xlsx")
    write_report_excel_interactive(
        {"Matched": matched, "DOR_Detail": detail},
        path,
        key_sheet="Matched",
    )

    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        names = [s.get("name") for s in wb.iter(f"{ns}sheet")]
        assert set(names) >= {"Matched", "DOR_Detail", "Detail"}
        sheet_xmls = [
            ET.fromstring(z.read(n))
            for n in z.namelist()
            if n.startswith("xl/worksheets/")
        ]
    dvs = [dv for x in sheet_xmls for dv in x.iter(f"{ns}dataValidation")]
    assert dvs and dvs[0].get("type") == "list"
    formula1 = dvs[0].find(f"{ns}formula1")
    assert formula1 is not None and "Matched" in formula1.text
    formulas = [
        f.text for x in sheet_xmls for f in x.iter(f"{ns}f") if f.text
    ]
    assert any("FILTER(" in f and "DOR_Detail" in f for f in formulas)


def test_write_versioned(spark, tmp_path):
    """K4 backup-before-overwrite: each version is an immutable
    ``version=`` directory, rewriting a version raises, and a
    schema-merging read unions columns added in newer versions (old
    rows null-filled)."""
    from pyspark.errors import AnalysisException

    from kp_data_pipelines_spark.sources.sinks import write_versioned

    base = str(tmp_path / "tbl")
    v1 = spark.createDataFrame([(1, "a")], "id long, name string")
    v2 = spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    )
    assert write_versioned(v1, base, "20240201T000000").endswith(
        "/version=20240201T000000"
    )
    write_versioned(v2, base, "20240301T000000")
    with pytest.raises(AnalysisException):
        write_versioned(v2, base, "20240301T000000")
    got = spark.read.option("mergeSchema", True).parquet(base)
    assert set(got.columns) == {"id", "name", "score", "version"}
    rows = {r["version"]: r for r in got.collect()}
    assert rows["20240301T000000"]["score"] == 9.5
    assert rows["20240201T000000"]["score"] is None


def test_jdbc_read_from_derby(spark):
    """S8 (Study Startup Data Download.sql): read_jdbc executed against
    the Derby engine already on Spark's classpath (in-memory DB, no new
    dependency) — plain read, SQL-subquery dbtable (the reference ships
    its extraction as a .sql file), and a partitioned parallel read."""
    url = "jdbc:derby:memory:kp_jdbc_test;create=true"
    dm = spark._jvm.java.sql.DriverManager
    conn = dm.getConnection(url)
    st = conn.createStatement()
    try:
        st.execute("DROP TABLE studies")
    except Exception:
        pass  # first run: table doesn't exist
    st.execute(
        "CREATE TABLE studies (study_id INT, site VARCHAR(20), enrolled INT)"
    )
    for i, (s, e) in enumerate([("davis", 10), ("sac", 20), ("fresno", 30)]):
        st.execute(f"INSERT INTO studies VALUES ({i}, '{s}', {e})")
    conn.commit()

    from kp_data_pipelines_spark.sources.readers import read_jdbc

    df = read_jdbc(spark, "jdbc:derby:memory:kp_jdbc_test", "studies")
    rows = {r["STUDY_ID"]: (r["SITE"], r["ENROLLED"]) for r in df.collect()}
    assert rows == {0: ("davis", 10), 1: ("sac", 20), 2: ("fresno", 30)}

    # dbtable as a pushed-down SQL subquery (the reference's .sql shape)
    sub = read_jdbc(
        spark,
        "jdbc:derby:memory:kp_jdbc_test",
        "(SELECT site, enrolled FROM studies WHERE enrolled >= 20) t",
    )
    assert {r["SITE"] for r in sub.collect()} == {"sac", "fresno"}

    # partitioned parallel read: numPartitions JDBC splits on study_id
    part = read_jdbc(
        spark,
        "jdbc:derby:memory:kp_jdbc_test",
        "studies",
        {
            "partitionColumn": "study_id",
            "lowerBound": "0",
            "upperBound": "3",
            "numPartitions": "2",
        },
    )
    assert part.rdd.getNumPartitions() == 2
    assert part.count() == 3


@pytest.mark.parametrize(
    "names, selector",
    [
        # the reference report's own sheets: the selector sheet's
        # default name repeats the detail sheet's
        (["Summary", "Matched", "Detail"], "Detail"),
        # equal in Excel's first 31 characters
        (["Matched", "Reconciliation_Detail_2024_Q1_Sites",
          "Reconciliation_Detail_2024_Q1_Sponsors"], "Select"),
        # equal ignoring case
        (["Matched", "Notes"], "NOTES"),
    ],
    ids=["selector", "prefix31", "case"],
)
def test_interactive_report_rejects_colliding_sheet_names(
    spark, tmp_path, names, selector
):
    """Excel rejects a workbook with two sheets of one name, so the
    report raises instead of writing one (or dropping a sheet)."""
    from kp_data_pipelines_spark.sources.sinks import (
        write_report_excel_interactive,
    )

    df = spark.createDataFrame([(1, "a")], "project_id int, title string")
    path = tmp_path / "report.xlsx"
    with pytest.raises(ValueError, match="collide"):
        write_report_excel_interactive(
            {n: df for n in names}, str(path), key_sheet="Matched",
            selector_sheet=selector,
        )
    assert not path.exists()


def test_interactive_report_cuts_selector_sheet_name(spark, tmp_path):
    """The selector sheet's name is cut to Excel's 31 characters, like
    the data sheets' names."""
    import re
    import zipfile

    from kp_data_pipelines_spark.sources.sinks import (
        write_report_excel_interactive,
    )

    df = spark.createDataFrame([(1, "a")], "project_id int, title string")
    path = str(tmp_path / "report.xlsx")
    selector = "Select a project to see every matching row"
    write_report_excel_interactive(
        {"Matched": df, "Detail": df}, path, key_sheet="Matched",
        selector_sheet=selector,
    )
    with zipfile.ZipFile(path) as z:
        names = re.findall(r'name="([^"]*)"', z.read("xl/workbook.xml").decode())
    assert names == ["Matched", "Detail", selector[:31]]


def test_xlsx_stdlib_reader_roundtrip(spark, tmp_path):
    """S4 read path executed on a REAL .xlsx with no optional deps: the
    stdlib zip/XML reader round-trips the stdlib ``_MiniXlsxBook``
    writer's output — mixed int/float/str/bool/None cells, sheet select
    by index and by name — and lands in a Spark DataFrame via
    ``read_excel_via_pandas``."""
    from kp_data_pipelines_spark.sources.readers import (
        read_excel_via_pandas,
        xlsx_to_pandas,
    )
    from kp_data_pipelines_spark.sources.sinks import _MiniXlsxBook

    path = str(tmp_path / "book.xlsx")
    book = _MiniXlsxBook()
    book.add_sheet(
        "Output",
        [
            ["study_id", "site", "enrolled", "rate", "active"],
            [1, "sac", 25, 0.5, True],
            [2, "fresno", None, 1.25, False],
        ],
    )
    book.add_sheet("Notes", [["note"], ["second sheet"]])
    book.save(path)

    pdf = xlsx_to_pandas(path, sheet_name="Output")
    assert list(pdf.columns) == [
        "study_id", "site", "enrolled", "rate", "active",
    ]
    assert pdf["study_id"].tolist() == [1, 2]
    assert pdf["site"].tolist() == ["sac", "fresno"]
    assert pdf["rate"].tolist() == [0.5, 1.25]
    assert pdf["active"].tolist() == [True, False]
    assert pdf["enrolled"][0] == 25 and pdf["enrolled"].isna()[1]

    # by index: second sheet
    notes = xlsx_to_pandas(path, sheet_name=1)
    assert notes["note"].tolist() == ["second sheet"]

    sdf = read_excel_via_pandas(spark, path, sheet_name="Output")
    assert sdf.count() == 2
    assert set(sdf.columns) == {
        "study_id", "site", "enrolled", "rate", "active",
    }
    assert {r["site"] for r in sdf.collect()} == {"sac", "fresno"}


def test_xlsx_stdlib_reader_multirow_header(spark, tmp_path):
    """The reference's most distinctive source shape (Financial Snapshot
    Preprocess.ipynb:199-228): 8 junk preamble rows, a 4-row header
    (``header=[8,9,10,11]``) with merged-cell blanks, then data. The
    stdlib reader forward-fills merged header cells, names empty slots
    ``Unnamed:`` so the ``tidy`` flatten drops them, and the flattened
    result loads into Spark."""
    from kp_data_pipelines_spark.sources.readers import (
        flatten_multiindex_columns,
        read_excel_via_pandas,
        xlsx_to_pandas,
    )
    from kp_data_pipelines_spark.sources.sinks import _MiniXlsxBook

    path = str(tmp_path / "snapshot.xlsx")
    rows: list = [[f"title row {i}"] for i in range(8)]
    # 4-level header: 'Fiscal' merges across two columns (blank inherits
    # leftward inside the merge); 'Meta' starts its own group, so its
    # lower blanks stay blank (-> Unnamed, dropped by tidy) rather than
    # leaking '2024'/'Q2' from the neighbor — pandas _fill_mi_header
    # semantics.
    rows += [
        ["Fiscal", None, "Meta"],
        ["2024", "2024", None],
        ["Q1", "Q2", None],
        ["Hours", "Hours", "Project"],
    ]
    rows += [[10.5, 20.5, "RNG000001"], [1.0, 2.0, "RNG000002"]]
    book = _MiniXlsxBook()
    book.add_sheet("CTP", rows)
    book.save(path)

    pdf = xlsx_to_pandas(path, header=[8, 9, 10, 11])
    flat = flatten_multiindex_columns(pdf)
    assert list(flat.columns) == [
        "Fiscal_2024_Q1_Hours", "Fiscal_2024_Q2_Hours", "Meta_Project",
    ]
    assert flat["Fiscal_2024_Q2_Hours"].tolist() == [20.5, 2.0]
    assert flat["Meta_Project"].tolist() == ["RNG000001", "RNG000002"]

    sdf = read_excel_via_pandas(spark, path, header=[8, 9, 10, 11])
    assert sdf.columns == [
        "Fiscal_2024_Q1_Hours", "Fiscal_2024_Q2_Hours", "Meta_Project",
    ]
    assert sdf.count() == 2


def test_xlsx_stdlib_reader_skiprows(tmp_path):
    """The ``skiprows=6`` shape (Financial Snapshot Preprocess.ipynb:77):
    preamble dropped before the header row is interpreted."""
    from kp_data_pipelines_spark.sources.readers import xlsx_to_pandas
    from kp_data_pipelines_spark.sources.sinks import _MiniXlsxBook

    path = str(tmp_path / "skip.xlsx")
    rows: list = [[f"preamble {i}"] for i in range(6)]
    rows += [["Project ID", "Amount"], ["RNG000001", 12.5]]
    book = _MiniXlsxBook()
    book.add_sheet("Sheet1", rows)
    book.save(path)
    pdf = xlsx_to_pandas(path, skiprows=6)
    assert list(pdf.columns) == ["Project ID", "Amount"]
    assert pdf["Amount"].tolist() == [12.5]


def test_xlsx_stdlib_reader_shared_strings(tmp_path):
    """Real Excel writers emit sharedStrings.xml (the mini-writer uses
    inline strings), so the shared-string / boolean / formula-string
    cell types are exercised on a hand-built SpreadsheetML package —
    including a rich-text <si> whose runs must concatenate."""
    import zipfile

    from kp_data_pipelines_spark.sources.readers import xlsx_to_pandas

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    ns_r = "http://schemas.openxmlformats.org/package/2006/relationships"
    ns_doc = (
        "http://schemas.openxmlformats.org/officeDocument/2006/"
        "relationships"
    )
    path = str(tmp_path / "shared.xlsx")
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1">'
        '<c r="A1" t="s"><v>0</v></c>'
        '<c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="s"><v>2</v></c>'
        "</row>"
        '<row r="2">'
        '<c r="A2" t="s"><v>3</v></c>'
        '<c r="B2"><v>42</v></c>'
        '<c r="C2" t="b"><v>1</v></c>'
        "</row>"
        '<row r="3">'
        '<c r="A3" t="str"><f>CONCAT("a","b")</f><v>ab</v></c>'
        '<c r="B3"><v>2.5</v></c>'
        "</row>"
        "</sheetData></worksheet>"
    )
    shared = (
        f'<sst xmlns="{ns}" count="4" uniqueCount="4">'
        "<si><t>name</t></si>"
        "<si><t>n</t></si>"
        "<si><t>flag</t></si>"
        "<si><r><t>rich </t></r><r><t>text</t></r></si>"
        "</sst>"
    )
    workbook = (
        f'<workbook xmlns="{ns}" xmlns:r="{ns_doc}">'
        '<sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets>'
        "</workbook>"
    )
    wb_rels = (
        f'<Relationships xmlns="{ns_r}">'
        '<Relationship Id="rId1" Type="x" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/sharedStrings.xml", shared)
        z.writestr("xl/worksheets/sheet1.xml", sheet)

    pdf = xlsx_to_pandas(path, sheet_name="Data")
    assert list(pdf.columns) == ["name", "n", "flag"]
    assert pdf["name"].tolist() == ["rich text", "ab"]
    assert pdf["n"].tolist() == [42, 2.5]
    assert pdf["flag"][0] is True and pdf["flag"].isna()[1]


def test_xlsx_stdlib_reader_numeric_headers_and_gaps(tmp_path):
    """Edge shapes real report workbooks hit: numeric header cells
    (years as ints become column names via str()), a fully-empty row in
    the middle (pads to None), and a sparse trailing cell (row padding
    to the widest row)."""
    from kp_data_pipelines_spark.sources.readers import xlsx_to_pandas
    from kp_data_pipelines_spark.sources.sinks import _MiniXlsxBook

    path = str(tmp_path / "edge.xlsx")
    book = _MiniXlsxBook()
    book.add_sheet(
        "S",
        [
            [2024, 2025, "note"],
            [1.5, 2.5, "a"],
            [None, None, None],
            [3.5],
        ],
    )
    book.save(path)
    pdf = xlsx_to_pandas(path)
    assert list(pdf.columns) == ["2024", "2025", "note"]
    assert pdf["2024"].tolist()[0] == 1.5
    assert pdf["2024"].isna()[1] and pdf["note"].isna()[2]
    assert pdf["2024"].tolist()[2] == 3.5
    assert len(pdf) == 3


def test_xlsx_stdlib_reader_date_serials(spark, tmp_path):
    """Date-STYLED numeric cells must decode to datetimes like
    pd.read_excel (reference date columns: Financial Snapshot
    Preprocess.ipynb:77-86): builtin date numFmt (14), custom date
    format code, time fraction, the 1900 leap-bug boundary (serial 59 =
    1900-02-28, 61 = 1900-03-01), and a NON-date custom format whose
    quoted "m" literal must NOT trigger date decoding. Decoded values
    then survive the C2/C3 cascade unchanged (already timestamps)."""
    import zipfile

    import pandas as pd

    from kp_data_pipelines_spark.sources.readers import xlsx_to_pandas

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    ns_r = "http://schemas.openxmlformats.org/package/2006/relationships"
    ns_doc = (
        "http://schemas.openxmlformats.org/officeDocument/2006/"
        "relationships"
    )
    path = str(tmp_path / "dates.xlsx")
    # styles: xf0 = General (not date), xf1 = builtin 14 (date),
    # xf2 = custom 164 yyyy-mm-dd (date), xf3 = custom 165 0.00"m" (NOT)
    styles = (
        f'<styleSheet xmlns="{ns}">'
        "<numFmts count=\"2\">"
        '<numFmt numFmtId="164" formatCode="yyyy\\-mm\\-dd hh:mm"/>'
        '<numFmt numFmtId="165" formatCode="0.00&quot;m&quot;"/>'
        "</numFmts>"
        "<cellXfs count=\"4\">"
        '<xf numFmtId="0"/><xf numFmtId="14"/>'
        '<xf numFmtId="164"/><xf numFmtId="165"/>'
        "</cellXfs></styleSheet>"
    )
    # 45292 = 2024-01-01; 45292.5 = noon; 59/61 straddle the phantom
    # 1900-02-29; 45000 with the non-date style stays numeric
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1">'
        '<c r="A1" t="inlineStr"><is><t>d</t></is></c>'
        '<c r="B1" t="inlineStr"><is><t>t</t></is></c>'
        '<c r="C1" t="inlineStr"><is><t>pre</t></is></c>'
        '<c r="D1" t="inlineStr"><is><t>post</t></is></c>'
        '<c r="E1" t="inlineStr"><is><t>meters</t></is></c>'
        "</row>"
        '<row r="2">'
        '<c r="A2" s="1"><v>45292</v></c>'
        '<c r="B2" s="2"><v>45292.5</v></c>'
        '<c r="C2" s="1"><v>59</v></c>'
        '<c r="D2" s="1"><v>61</v></c>'
        '<c r="E2" s="3"><v>45000</v></c>'
        "</row>"
        "</sheetData></worksheet>"
    )
    workbook = (
        f'<workbook xmlns="{ns}" xmlns:r="{ns_doc}">'
        '<sheets><sheet name="D" sheetId="1" r:id="rId1"/></sheets>'
        "</workbook>"
    )
    wb_rels = (
        f'<Relationships xmlns="{ns_r}">'
        '<Relationship Id="rId1" Type="x" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/styles.xml", styles)
        z.writestr("xl/worksheets/sheet1.xml", sheet)

    pdf = xlsx_to_pandas(path)
    assert pdf["d"].tolist() == [pd.Timestamp("2024-01-01")]
    assert pdf["t"].tolist() == [pd.Timestamp("2024-01-01 12:00:00")]
    assert pdf["pre"].tolist() == [pd.Timestamp("1900-02-28")]
    assert pdf["post"].tolist() == [pd.Timestamp("1900-03-01")]
    assert pdf["meters"].tolist() == [45000]  # quoted "m" is a literal

    # C2/C3 round-trip: a decoded date column cast to string re-parses
    # to the identical timestamp through the cascade
    from pyspark.sql import functions as F

    from kp_data_pipelines_spark.functions.dates import cascading_to_timestamp

    sdf = spark.createDataFrame(pdf[["d"]])
    out = sdf.select(
        cascading_to_timestamp(F.col("d").cast("string"), ["yyyy-MM-dd HH:mm:ss"]).alias("ts")
    ).collect()
    assert out[0]["ts"] == pdf["d"].iloc[0].to_pydatetime()


def test_xlsx_stdlib_reader_implied_positions(tmp_path):
    """OOXML allows omitting r= on <row> and <c> (implied sequential
    position, ECMA-376): a row with no r= lands after the previous row,
    and cells with no r= fill left-to-right — previously int(None)
    crashed / row[-1] silently overwrote the prior cell."""
    import zipfile

    from kp_data_pipelines_spark.sources.readers import xlsx_to_pandas

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    ns_r = "http://schemas.openxmlformats.org/package/2006/relationships"
    ns_doc = (
        "http://schemas.openxmlformats.org/officeDocument/2006/"
        "relationships"
    )
    path = str(tmp_path / "implied.xlsx")
    # row 1: explicit r=; row 2: NO r= on row or cells; row 3: mixed —
    # first cell explicit B4 (skips A4), next implied C4
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1">'
        '<c r="A1" t="inlineStr"><is><t>a</t></is></c>'
        '<c r="B1" t="inlineStr"><is><t>b</t></is></c>'
        '<c r="C1" t="inlineStr"><is><t>c</t></is></c>'
        "</row>"
        "<row>"
        "<c><v>1</v></c><c><v>2</v></c><c><v>3</v></c>"
        "</row>"
        '<row r="4">'
        '<c r="B4"><v>5</v></c><c><v>6</v></c>'
        "</row>"
        "</sheetData></worksheet>"
    )
    workbook = (
        f'<workbook xmlns="{ns}" xmlns:r="{ns_doc}">'
        '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets>'
        "</workbook>"
    )
    wb_rels = (
        f'<Relationships xmlns="{ns_r}">'
        '<Relationship Id="rId1" Type="x" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)

    pdf = xlsx_to_pandas(path)
    assert list(pdf.columns) == ["a", "b", "c"]
    assert pdf["a"].tolist()[0] == 1 and pdf["c"].tolist()[0] == 3
    # row 3 (after the implied-position row 2 and an empty row 3):
    # A empty, B=5 (explicit), C=6 (implied after B4)
    assert pdf["a"].isna()[2]
    assert pdf["b"].tolist()[2] == 5 and pdf["c"].tolist()[2] == 6
