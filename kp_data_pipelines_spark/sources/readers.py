"""Readers (SURVEY.md §2.1).

The reference infers schemas per file (``low_memory=False``); at 100 TB we
read with explicit schemas from the registry — inference is a full extra
pass and nondeterministic under drift. Encoding variants (UTF-16 CSV S2,
BOM S3, UTF-16 JSON S5, NDJSON S6) map to reader options.

Excel (S4) has no native Spark source: ``read_excel_via_pandas`` reads the
workbook on the driver with the stdlib xlsx engine (``xlsx_to_pandas``;
reference files are small report workbooks) and ships rows through Arrow
into a distributed DataFrame; at scale the ingest layer converts workbooks
to parquet on landing instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


# Per-table metadata, keyed by (path, freshness token): the parquet
# TIMESTAMP(NANOS) columns ("nanos") and, once a read has inferred it,
# the Spark schema ("schema").
_TABLE_META: dict[tuple, dict] = {}


def _freshness_token(path: str):
    """Cheap cache-invalidation token for the per-path metadata cache:
    (mtime, size) of the local file/dir. A table regenerated in-place
    within one process gets a new token, so the stale-schema hazard the
    round-11 advisor flagged can't silently apply an old explicit
    schema. Non-local paths (no os.stat) fall back to a static token —
    the original static-testdata assumption, now scoped to them only."""
    import os

    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def _nanos_timestamp_cols(path: str, token) -> list[str]:
    """Parquet TIMESTAMP(NANOS) columns (footer-only metadata read), kept
    in the table's ``_TABLE_META`` entry, which this first read creates.

    Spark's parquet reader rejects nano-precision timestamps; we read them
    as longs (legacy conf) and rebuild TimestampType at micro precision —
    a distributed per-row expression, never a driver collect."""
    key = (path, token)
    if key not in _TABLE_META:
        try:
            import pyarrow.parquet as pq

            schema = pq.read_schema(path)
            cols = [f.name for f in schema if str(f.type) == "timestamp[ns]"]
        except Exception:
            cols = []
        _TABLE_META[key] = {"nanos": cols, "schema": None}
    return _TABLE_META[key]["nanos"]


def _read_table(
    spark: SparkSession, sf_dir: str, name: str, stream: bool
) -> DataFrame:
    """The one timestamp and schema policy behind ``read_table`` and
    ``read_table_stream``."""
    from pyspark.sql import functions as F

    path = f"{sf_dir}/{name}.parquet"
    # One freshness token per call keys the metadata cache: a table
    # regenerated at the same path (new mtime/size) re-infers instead of
    # applying a stale schema (round-11 advisor note).
    token = _freshness_token(path)
    # Micros-precision parquet timestamps with isAdjustedToUTC=false would
    # otherwise infer TIMESTAMP_NTZ (Spark 4 default), which watermarks
    # reject and whose epoch math (unix_micros) is session-tz-dependent.
    # Read them as classic TIMESTAMP: the stored int64 is taken as
    # epoch-UTC micros, independent of the session timezone.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    ns_cols = _nanos_timestamp_cols(path, token)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Schema METADATA cache (the same _TABLE_META entry): the
    # first read of a path pays Spark's footer schema inference (one Spark
    # job); repeats pass the identical inferred schema explicitly, which
    # skips the inference pass (~100 ms/call on the driver — a fixed
    # per-query tax when a catalog sweep reads tables hundreds of times).
    # Pure driver-side metadata, session-independent, never touches data;
    # the cache key is (path, freshness token), and the nanos conf above
    # is set per-path BEFORE the first read so the cached schema always
    # matches what inference would produce.
    meta = _TABLE_META[path, token]
    schema = meta["schema"]
    if stream:
        if schema is None:
            schema = meta["schema"] = spark.read.parquet(path).schema
        # the streaming file source wants a directory: watch sf_dir with
        # a glob filter selecting just this table
        df = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir)
        )
    elif schema is None:
        df = spark.read.parquet(path)
        meta["schema"] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    for c in ns_cols:
        # integer division: `/ 1000` is DOUBLE division, and 2024-era nano
        # values (~1.7e18) exceed double's 2^53 exact range — ~12% of true
        # nano-precision stamps would come back 1us off
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Testdata convention: ``{sf_dir}/{name}.parquet``."""
    return _read_table(spark, sf_dir, name, stream=False)


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``read_table``'s streaming twin: a file-source stream over
    ``{sf_dir}/{name}.parquet`` with the same cached explicit schema and
    the same nanos/NTZ timestamp handling, so streaming queries run on
    foreign sessions too."""
    return _read_table(spark, sf_dir, name, stream=True)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    encoding: str = "UTF-8",
    header: bool = True,
) -> DataFrame:
    """S1/S2/S3: CSV with explicit schema; UTF-16/BOM via ``encoding``."""
    reader = (
        spark.read.option("header", header)
        .option("encoding", encoding)
        .option("mode", "PERMISSIVE")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_ndjson(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """S6: line-delimited JSON — Spark's native json source."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_json_doc(
    spark: SparkSession, path: str, encoding: str = "UTF-8", schema: StructType | None = None
) -> DataFrame:
    """S5/S7: whole-document JSON (array or object), optionally UTF-16.

    Nested structs stay native (StructType/ArrayType); callers flatten with
    ``select("field.*")`` / ``inline`` — the Spark-native json_normalize."""
    reader = spark.read.option("multiLine", True).option("encoding", encoding)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def flatten_multiindex_columns(pdf):
    """The reference's ``tidy`` (Financial Snapshot Preprocess.ipynb:199-228):
    multi-row Excel headers flatten by joining levels with '_' and dropping
    pandas' 'Unnamed: …' placeholder slots. Pure pandas — testable without
    an xlsx engine."""
    import pandas as pd

    if isinstance(pdf.columns, pd.MultiIndex):
        pdf.columns = [
            "_".join(
                str(level)
                for level in tup
                if str(level) and not str(level).startswith("Unnamed")
            )
            for tup in pdf.columns
        ]
    return pdf


_XLSX_MAIN_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_XLSX_REL_NS = (
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
)


def _xlsx_col_index(ref: str) -> int:
    """Cell reference column letters -> 0-based index ('A1'->0, 'AA3'->26)."""
    idx = 0
    for ch in ref:
        if ch.isalpha():
            idx = idx * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return idx - 1


# Built-in OOXML number-format ids that render as dates/times
# (ECMA-376 §18.8.30: 14-22 date/time, 27-36 locale date, 45-47
# elapsed/time, 50-58 locale date). Custom formats are classified by
# token inspection in _xlsx_is_date_format.
_XLSX_BUILTIN_DATE_FMT_IDS = frozenset(
    list(range(14, 23)) + list(range(27, 37)) + [45, 46, 47]
    + list(range(50, 59))
)


def _xlsx_is_date_format(code: str) -> bool:
    """True when an OOXML number-format code renders as a date/time:
    contains y/m/d/h/s tokens OUTSIDE quoted literals, [..] sections
    (colors, conditions — but [h]/[mm]/[ss] elapsed forms ARE dates),
    and backslash escapes. The usual xlsx-reader heuristic; a
    format like ``0.00"m"`` must NOT classify as a date."""
    import re

    if re.search(r"^\[(h+|m+|s+)\]", code, re.IGNORECASE):
        return True
    stripped = re.sub(r'"[^"]*"', "", code)
    stripped = re.sub(r"\[[^\]]*\]", "", stripped)
    stripped = re.sub(r"\\.", "", stripped)
    return bool(re.search(r"[dmhys]", stripped, re.IGNORECASE))


def _xlsx_date_styles(z) -> "list[bool]":
    """Per-cellXfs-index flags: does style s= render numerics as dates?

    Parses ``xl/styles.xml`` cellXfs -> numFmtId, joining custom
    ``numFmts`` format codes against the builtin date-id table. Missing
    styles.xml (minimal writers) -> empty list (nothing is a date)."""
    import xml.etree.ElementTree as ET

    if "xl/styles.xml" not in z.namelist():
        return []
    m = f"{{{_XLSX_MAIN_NS}}}"
    root = ET.fromstring(z.read("xl/styles.xml"))
    custom: dict[int, str] = {}
    fmts = root.find(f"{m}numFmts")
    if fmts is not None:
        for el in fmts.findall(f"{m}numFmt"):
            custom[int(el.get("numFmtId"))] = el.get("formatCode", "")
    flags: list[bool] = []
    xfs = root.find(f"{m}cellXfs")
    if xfs is not None:
        for xf in xfs.findall(f"{m}xf"):
            fmt_id = int(xf.get("numFmtId", "0"))
            if fmt_id in custom:
                flags.append(_xlsx_is_date_format(custom[fmt_id]))
            else:
                flags.append(fmt_id in _XLSX_BUILTIN_DATE_FMT_IDS)
    return flags


def _xlsx_serial_to_datetime(serial, date1904: bool = False):
    """Excel date serial -> naive datetime, reproducing the 1900-epoch
    lotus leap-year bug: serial 60 is the phantom 1900-02-29, so
    serials < 60 anchor at 1899-12-31 and serials >= 60 at 1899-12-30
    (the phantom maps to 1900-02-28). 1904 workbooks
    (``workbookPr date1904``) anchor at 1904-01-01 with no bug. Time
    fraction is rounded to whole milliseconds — serials store time as a
    binary day-fraction, so second-level values are not exactly
    representable and unrounded conversion yields 86399.999... artifacts."""
    from datetime import datetime, timedelta

    if date1904:
        base = datetime(1904, 1, 1)
    elif serial < 60:
        base = datetime(1899, 12, 31)
    else:
        base = datetime(1899, 12, 30)
    days = int(serial)
    ms = round((serial - days) * 86400_000)
    return base + timedelta(days=days, milliseconds=ms)


def _xlsx_sheet_grid(path: str, sheet_name=0) -> "list[list]":
    """Raw cell grid of one worksheet — pure stdlib (zipfile + ElementTree).

    The read mirror of the ``_MiniXlsxBook`` writer (sinks.py): xlsx is a
    zip of SpreadsheetML parts, so a scan is workbook.xml (sheet names,
    in order) -> workbook.xml.rels (r:id -> worksheet part) -> the sheet's
    ``<row>/<c>`` elements. Handles the cell types report workbooks use:
    shared strings (``t="s"``, rich-text runs concatenated), inline
    strings (``t="inlineStr"``), booleans (``t="b"``), formula string
    results (``t="str"``), and numerics (int when the lexeme is integral,
    else float). Date-STYLED numerics are decoded to datetimes: the
    cell's ``s=`` style index joins ``xl/styles.xml`` cellXfs/numFmts
    (builtin date ids + custom-code token heuristic,
    ``_xlsx_date_styles``) and the serial converts via
    ``_xlsx_serial_to_datetime`` with 1900-leap-bug / date1904
    semantics — matching ``pd.read_excel``'s datetime columns
    (reference: Financial Snapshot Preprocess.ipynb:77-86, Study
    Startup Legacy Data merge.ipynb:22,34). Sparse cells pad to None;
    rows pad to the widest row. ``sheet_name`` is an index or a name,
    matching ``pd.read_excel`` (CTP Data Compare.ipynb:136-139
    ``sheet_name="Output"``)."""
    import xml.etree.ElementTree as ET
    import zipfile

    m, r = f"{{{_XLSX_MAIN_NS}}}", f"{{{_XLSX_REL_NS}}}"
    pkg_rel = (
        "{http://schemas.openxmlformats.org/package/2006/relationships}"
    )
    with zipfile.ZipFile(path) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        wb_pr = wb.find(f"{m}workbookPr")
        date1904 = wb_pr is not None and wb_pr.get("date1904", "0").lower() in (
            "1",
            "true",
        )
        date_styles = _xlsx_date_styles(z)
        sheets = [
            (el.get("name"), el.get(f"{r}id"))
            for el in wb.find(f"{m}sheets")
        ]
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rid_to_target = {
            rel.get("Id"): rel.get("Target")
            for rel in rels.findall(f"{pkg_rel}Relationship")
        }
        if isinstance(sheet_name, int):
            name, rid = sheets[sheet_name]
        else:
            matches = [s for s in sheets if s[0] == sheet_name]
            if not matches:
                raise ValueError(
                    f"sheet {sheet_name!r} not in {[s[0] for s in sheets]}"
                )
            name, rid = matches[0]
        target = rid_to_target[rid].lstrip("/")
        part = target if target.startswith("xl/") else f"xl/{target}"

        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            sst = ET.fromstring(z.read("xl/sharedStrings.xml"))
            shared = [
                "".join(t.text or "" for t in si.iter(f"{m}t"))
                for si in sst.findall(f"{m}si")
            ]

        ws = ET.fromstring(z.read(part))
        grid: list[list] = []
        # OOXML makes the r= attribute OPTIONAL on both <row> and <c>:
        # when absent the element occupies the next sequential position
        # after the previous one (ECMA-376 §18.3.1.73/.4), so track the
        # implied indices instead of crashing (row) or writing to
        # row[-1] (cell).
        next_ri = 0
        for row_el in ws.iter(f"{m}row"):
            r_attr = row_el.get("r")
            ri = int(r_attr) - 1 if r_attr is not None else next_ri
            next_ri = ri + 1
            while len(grid) <= ri:
                grid.append([])
            row = grid[ri]
            next_ci = 0
            for c_el in row_el.findall(f"{m}c"):
                ref = c_el.get("r")
                ci = _xlsx_col_index(ref) if ref else next_ci
                next_ci = ci + 1
                t = c_el.get("t", "n")
                if t == "inlineStr":
                    is_el = c_el.find(f"{m}is")
                    v = (
                        "".join(x.text or "" for x in is_el.iter(f"{m}t"))
                        if is_el is not None
                        else None
                    )
                else:
                    v_el = c_el.find(f"{m}v")
                    raw = v_el.text if v_el is not None else None
                    if raw is None:
                        v = None
                    elif t == "s":
                        v = shared[int(raw)]
                    elif t == "b":
                        v = raw.strip() in ("1", "true")
                    elif t == "str":
                        v = raw
                    else:
                        try:
                            v = int(raw)
                        except ValueError:
                            v = float(raw)
                        s_attr = c_el.get("s")
                        if (
                            s_attr is not None
                            and int(s_attr) < len(date_styles)
                            and date_styles[int(s_attr)]
                        ):
                            v = _xlsx_serial_to_datetime(v, date1904)
                while len(row) <= ci:
                    row.append(None)
                row[ci] = v
        width = max((len(rw) for rw in grid), default=0)
        return [rw + [None] * (width - len(rw)) for rw in grid]


def xlsx_to_pandas(path: str, sheet_name=0, skiprows: int = 0, header=0):
    """S4 stdlib engine: xlsx -> pandas DataFrame with ``pd.read_excel``'s
    sheet_name / skiprows / header semantics, no optional deps.

    ``header`` may be an int (single header row) or a list of ints
    (multi-row header -> MultiIndex columns, the reference's
    ``header=[8,9,10,11]`` shape at Financial Snapshot
    Preprocess.ipynb:199-228). Multi-row header cells are forward-filled
    across columns (how merged header cells surface) and still-empty
    slots become ``Unnamed: {col}_level_{lvl}`` so
    ``flatten_multiindex_columns`` (the reference's ``tidy``) drops them
    — matching pandas' naming. Column dtypes get pandas-style light
    inference: all-numeric object columns become float64/int64."""
    import pandas as pd

    grid = _xlsx_sheet_grid(path, sheet_name)[skiprows:]
    header_rows = [header] if isinstance(header, int) else list(header)
    multi = len(header_rows) > 1
    if header_rows:
        data_start = max(header_rows) + 1
        width = max((len(grid[hr]) for hr in header_rows if hr < len(grid)), default=0)
        levels = []
        # pandas' merged-cell fill (io/parsers _fill_mi_header): a blank
        # header cell inherits leftward ONLY while its column is still
        # inside the same merged group — once a column has started its
        # own group in an upper row (control goes False), lower blanks
        # stay blank (-> Unnamed) instead of leaking the neighbor's name.
        control = [True] * width
        for hr in header_rows:
            cells = list(grid[hr]) if hr < len(grid) else []
            cells += [None] * (width - len(cells))
            filled = []
            last = cells[0] if cells and cells[0] not in (None, "") else None
            for ci, v in enumerate(cells):
                blank = v is None or str(v) == ""
                if ci > 0 and multi and not control[ci]:
                    last = None if blank else str(v)
                if blank:
                    filled.append(str(last) if multi and last is not None else None)
                else:
                    control[ci] = False
                    last = str(v)
                    filled.append(last)
            levels.append(filled)
        width = max((len(lv) for lv in levels), default=0)
        names = []
        for ci in range(width):
            parts = []
            for lvl, lv in enumerate(levels):
                v = lv[ci] if ci < len(lv) else None
                parts.append(
                    v if v is not None else f"Unnamed: {ci}_level_{lvl}"
                )
            names.append(tuple(parts))
        data = [rw[:width] + [None] * (width - len(rw)) for rw in grid[data_start:]]
        if len(header_rows) > 1:
            columns = pd.MultiIndex.from_tuples(names)
        else:
            columns = [p[0] for p in names]
        pdf = pd.DataFrame(data, columns=columns)
    else:
        pdf = pd.DataFrame(grid)
    import datetime as _dt

    for col in pdf.columns:
        s = pdf[col]
        non_null = s.dropna()
        if len(non_null) and all(
            isinstance(v, (int, float)) and not isinstance(v, bool)
            for v in non_null
        ):
            pdf[col] = pd.to_numeric(s)
        elif len(non_null) and all(
            isinstance(v, _dt.datetime) for v in non_null
        ):
            # date-styled serials decode to datetime objects; surface
            # them as datetime64 columns like pd.read_excel does
            pdf[col] = pd.to_datetime(s)
    return pdf


def read_excel_via_pandas(
    spark: SparkSession, path: str, sheet_name=0, skiprows: int = 0, header=0
) -> DataFrame:
    """S4: Excel ingest. Driver-side read + Arrow createDataFrame.

    Reads with the stdlib zip/XML engine (``xlsx_to_pandas``), which
    takes the reference's sheet_name / skiprows / multi-row header
    patterns with ``pd.read_excel``'s semantics; multi-row headers go
    through ``flatten_multiindex_columns``."""
    pdf = xlsx_to_pandas(path, sheet_name, skiprows, header)
    return spark.createDataFrame(flatten_multiindex_columns(pdf))


def read_jdbc(
    spark: SparkSession, url: str, table: str, partition_options: dict | None = None
) -> DataFrame:
    """S8: JDBC scan (Study Startup Data Download.sql). ``partition_options``
    should carry partitionColumn/lowerBound/upperBound/numPartitions for
    parallel reads at scale."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (partition_options or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def read_binary_dir(spark: SparkSession, glob: str) -> DataFrame:
    """S10: directory-of-files source (Protocol Data Gathering.ipynb) —
    binaryFile gives (path, modificationTime, length, content)."""
    return spark.read.format("binaryFile").load(glob)
