"""Sinks (SURVEY.md K1-K4).

``write_table`` is the scale path (partitioned parquet, versioned
overwrite). ``write_report_csv`` reproduces the reference's single-file CSV
contract (coalesce(1) — report outputs only, never the 100 TB path).
Excel report emission (K2/K3, ``write_report_excel_interactive``) collects
small results to pandas by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """K1-scale: parquet sink; partition by date/snapshot columns so the S9
    latest-snapshot pattern becomes partition pruning."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_versioned(df: DataFrame, base_path: str, version: str) -> str:
    """K4: backup-before-overwrite becomes versioned immutable writes."""
    path = f"{base_path}/version={version}"
    df.write.mode("error").parquet(path)
    return path


def write_report_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """K1: single-file CSV contract for report consumers (small outputs)."""
    df.coalesce(1).write.mode("overwrite").option("header", header).csv(path)


def excel_col(idx: int) -> str:
    """0-based column index -> Excel letters (0->A, 25->Z, 26->AA)."""
    out = ""
    n = idx + 1
    while n > 0:
        n, rem = divmod(n - 1, 26)
        out = chr(65 + rem) + out
    return out


def dropdown_source_range(sheet: str, col_idx: int, n_rows: int) -> str:
    """Absolute list-validation source over a sheet's data rows (headers in
    row 1, data from row 2): the dropdown contract of the reference report
    (`DOR VP Compare.ipynb:552-586`)."""
    c = excel_col(col_idx)
    return f"={sheet}!${c}$2:${c}${n_rows + 1}"


def filter_formula(
    sheet: str, n_cols: int, key_col_idx: int, selector_cell: str = "$B$1"
) -> str:
    """Spill FILTER formula pulling every row of ``sheet`` whose key column
    equals the selector cell — the interactive detail pane of the
    reference report (`DOR VP Compare.ipynb:588-634`,
    `DOP VP Compare.py:382-401`). Ranges run to the sheet floor so the
    formula keeps working as data grows."""
    last = excel_col(n_cols - 1)
    key = excel_col(key_col_idx)
    return (
        f"=FILTER({sheet}!A2:{last}1048576, "
        f"{sheet}!{key}2:{key}1048576={selector_cell})"
    )


class _MiniXlsxBook:
    """Minimal SpreadsheetML writer — pure stdlib (zipfile + escaped XML).

    xlsx is a zip of XML parts; this emits just the parts a workbook
    needs (content types, rels, workbook, worksheets) with inline-string
    cells, ``dataValidation`` elements, and formula cells: the one
    engine of the K3 interactive report, and the writer of the Excel
    reader's test workbooks. Not a general Excel writer: no
    styles/sharedStrings/dates, plain (non-array) formula storage."""

    def __init__(self) -> None:
        self._sheets: list[tuple[str, str]] = []  # (name, sheet xml)

    @staticmethod
    def _esc(s: str) -> str:
        from xml.sax.saxutils import escape

        return escape(s, {'"': "&quot;"})

    @classmethod
    def _cell(cls, row: int, col: int, value) -> str:
        """One <c> element; 0-based (row, col)."""
        ref = f"{excel_col(col)}{row + 1}"
        if value is None:
            return ""
        if isinstance(value, bool):
            return f'<c r="{ref}" t="b"><v>{int(value)}</v></c>'
        if isinstance(value, (int, float)):
            return f'<c r="{ref}"><v>{value!r}</v></c>'
        return (
            f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
            f"{cls._esc(str(value))}</t></is></c>"
        )

    def add_sheet(
        self,
        name: str,
        rows: "list[list]",
        validations: "list[tuple[str, str]] | None" = None,
        formulas: "list[tuple[int, int, str]] | None" = None,
    ) -> None:
        """``rows`` are cell values; ``validations`` are (sqref,
        list-source formula with leading '='); ``formulas`` are 0-based
        (row, col, formula-with-leading-'=') cells."""
        cells: dict[tuple[int, int], str] = {}
        for ri, row in enumerate(rows):
            for ci, v in enumerate(row):
                c = self._cell(ri, ci, v)
                if c:
                    cells[(ri, ci)] = c
        for ri, ci, f in formulas or []:
            ref = f"{excel_col(ci)}{ri + 1}"
            cells[(ri, ci)] = f'<c r="{ref}"><f>{self._esc(f.lstrip("="))}</f></c>'
        by_row: dict[int, list[str]] = {}
        for (ri, ci), c in sorted(cells.items()):
            by_row.setdefault(ri, []).append(c)
        rows_xml = "".join(
            f'<row r="{ri + 1}">{"".join(cs)}</row>'
            for ri, cs in sorted(by_row.items())
        )
        dv_xml = ""
        if validations:
            dvs = "".join(
                f'<dataValidation type="list" allowBlank="1" '
                f'showDropDown="0" sqref="{sq}">'
                f"<formula1>{self._esc(src.lstrip('='))}</formula1>"
                f"</dataValidation>"
                for sq, src in validations
            )
            dv_xml = (
                f'<dataValidations count="{len(validations)}">{dvs}'
                f"</dataValidations>"
            )
        self._sheets.append(
            (
                name,
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                '<worksheet xmlns="http://schemas.openxmlformats.org/'
                'spreadsheetml/2006/main">'
                f"<sheetData>{rows_xml}</sheetData>{dv_xml}</worksheet>",
            )
        )

    def save(self, path: str) -> None:
        import zipfile

        ns_ct = "http://schemas.openxmlformats.org/package/2006/content-types"
        ns_r = "http://schemas.openxmlformats.org/package/2006/relationships"
        ns_doc = (
            "http://schemas.openxmlformats.org/officeDocument/2006/"
            "relationships"
        )
        overrides = "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
            f'ContentType="application/vnd.openxmlformats-officedocument.'
            f'spreadsheetml.worksheet+xml"/>'
            for i in range(len(self._sheets))
        )
        content_types = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Types xmlns="{ns_ct}">'
            '<Default Extension="rels" ContentType="application/vnd.'
            'openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/'
            "vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"
            '"/>'
            f"{overrides}</Types>"
        )
        root_rels = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{ns_r}">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>'
        )
        sheet_entries = "".join(
            f'<sheet name="{self._esc(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
            for i, (n, _) in enumerate(self._sheets)
        )
        workbook = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/'
            f'spreadsheetml/2006/main" xmlns:r="{ns_doc}">'
            f"<sheets>{sheet_entries}</sheets></workbook>"
        )
        wb_rels = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{ns_r}">'
            + "".join(
                f'<Relationship Id="rId{i + 1}" Type="http://schemas.'
                "openxmlformats.org/officeDocument/2006/relationships/"
                f'worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
                for i in range(len(self._sheets))
            )
            + "</Relationships>"
        )
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr("[Content_Types].xml", content_types)
            z.writestr("_rels/.rels", root_rels)
            z.writestr("xl/workbook.xml", workbook)
            z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
            for i, (_, xml) in enumerate(self._sheets):
                z.writestr(f"xl/worksheets/sheet{i + 1}.xml", xml)


def write_report_excel_interactive(
    sheets: "dict[str, DataFrame]",
    path: str,
    key_sheet: str,
    key_col_idx: int = 0,
    detail_sheets: "list[str] | None" = None,
    selector_sheet: str = "Detail",
) -> None:
    """K2/K3: the multi-sheet reconciliation report (Summary / Matched /
    Detail — DOR VP Compare.ipynb:552-634) plus a selector sheet with
    (a) a dropdown (list data-validation) over ``key_sheet``'s key column
    and (b) one spill FILTER block per detail sheet showing the rows
    matching the selection — the reference's interactive
    reconciliation workbook re-expressed, written with ``_MiniXlsxBook``.

    Sheet names are cut to Excel's 31 characters; two names (the
    selector sheet included) that are equal after the cut, ignoring
    case, raise ValueError, since Excel rejects such a workbook.

    Sheet data is collected to pandas — report outputs only, never the
    100 TB path (the heavy reconciliation math runs in Spark upstream)."""
    names = [*sheets, selector_sheet]
    cut = [name[:31].lower() for name in names]
    clash = sorted({n for n, c in zip(names, cut) if cut.count(c) > 1})
    if clash:
        raise ValueError(
            f"sheet names collide in Excel (equal in their first 31 "
            f"characters, ignoring case): {clash}"
        )
    detail_sheets = detail_sheets or [s for s in sheets if s != key_sheet]
    pdfs = {name[:31]: df.toPandas() for name, df in sheets.items()}
    dropdown_src = dropdown_source_range(
        key_sheet[:31], key_col_idx, len(pdfs[key_sheet[:31]])
    )

    book = _MiniXlsxBook()
    for name, pdf in pdfs.items():
        rows = [list(pdf.columns)] + [
            [None if v != v else v for v in rec] for rec in pdf.itertuples(index=False)
        ]
        book.add_sheet(name, rows)
    sel_rows: list = [["Select key:", ""]]
    formulas = []
    row = 3
    for name in detail_sheets:
        name = name[:31]
        pdf = pdfs[name]
        while len(sel_rows) < row:
            sel_rows.append([])
        sel_rows.append([f"{name} rows for selected key"])
        sel_rows.append([str(c) for c in pdf.columns])
        formulas.append(
            (row + 2, 0, filter_formula(name, len(pdf.columns), key_col_idx))
        )
        row += 4 + len(pdf.columns)
    book.add_sheet(
        selector_sheet[:31],
        sel_rows,
        validations=[("B1", dropdown_src)],
        formulas=formulas,
    )
    book.save(path)
