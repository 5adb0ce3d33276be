"""Pure-python XLSX reader — no openpyxl/pandas.read_excel dependency.

The reference reads spreadsheets with pandas/openpyxl during import
profiling (profiler.py:219-259).  XLSX is a public format: a zip of XML
parts.  This reader covers the subset real import spreadsheets use —
shared strings, inline strings, numbers, booleans, multiple sheets — with
stdlib ``zipfile`` + ``xml.etree`` only, so the xlsx import path no longer
gates on openpyxl.  Spreadsheets are driver-small by nature (the reference
loads them whole with pandas); the result lands in a Spark DataFrame.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = ("{http://schemas.openxmlformats.org/officeDocument/2006/"
           "relationships}")


def _col_index(cell_ref: str) -> int:
    """'A1' -> 0, 'BC12' -> 54."""
    letters = re.match(r"[A-Z]+", cell_ref).group(0)
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch) - 64)
    return idx - 1


def read_xlsx_rows(path: str, sheet: int | str = 0) -> list[list]:
    """Sheet cells as a list of rows (python values: str/float/bool/None)."""
    with zipfile.ZipFile(path) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        sheets = [(s.get("name"), s.get(f"{_REL_NS}id"))
                  for s in wb.iter(f"{_NS}sheet")]
        if isinstance(sheet, str):
            match = [rid for name, rid in sheets if name == sheet]
            if not match:
                raise ValueError(f"sheet {sheet!r} not in {path!r} "
                                 f"(has {[n for n, _ in sheets]})")
            rid = match[0]
        else:
            rid = sheets[sheet][1]
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        target = next(r.get("Target") for r in rels
                      if r.get("Id") == rid)
        target = target.lstrip("/")
        if not target.startswith("xl/"):
            target = "xl/" + target
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            ss = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in ss.iter(f"{_NS}si"):
                shared.append("".join(t.text or ""
                                      for t in si.iter(f"{_NS}t")))
        sheet_xml = ET.fromstring(z.read(target))

    rows: list[list] = []
    for row_el in sheet_xml.iter(f"{_NS}row"):
        cells: dict[int, object] = {}
        for c in row_el.iter(f"{_NS}c"):
            ref = c.get("r")
            idx = _col_index(ref) if ref else len(cells)
            ctype = c.get("t", "n")
            v_el = c.find(f"{_NS}v")
            if ctype == "inlineStr":
                is_el = c.find(f"{_NS}is")
                cells[idx] = "".join(t.text or ""
                                     for t in is_el.iter(f"{_NS}t")) \
                    if is_el is not None else None
                continue
            if v_el is None or v_el.text is None:
                cells[idx] = None
                continue
            raw = v_el.text
            if ctype == "s":
                cells[idx] = shared[int(raw)]
            elif ctype == "b":
                cells[idx] = raw == "1"
            elif ctype == "str":
                cells[idx] = raw
            else:
                f = float(raw)
                cells[idx] = f
        if cells:
            width = max(cells) + 1
            rows.append([cells.get(i) for i in range(width)])
    if rows:
        width = max(len(r) for r in rows)
        rows = [r + [None] * (width - len(r)) for r in rows]
    return rows


def _arrow_column(values: list):
    """One sheet column as a typed Arrow array: boolean or double when
    every filled cell is one, null when no cell is filled, else string
    (numbers and booleans in a text column print as Spark casts them).
    Empty cells are nulls.  Declaring the type keeps a mixed column from
    failing the Arrow conversion of the whole sheet."""
    import pyarrow as pa

    filled = [v for v in values if v is not None]
    if not filled:
        return pa.array(values, type=pa.null())
    if all(isinstance(v, bool) for v in filled):
        return pa.array(values, type=pa.bool_())
    if all(isinstance(v, float) for v in filled):
        return pa.array(values, type=pa.float64())
    return pa.array([None if v is None
                     else str(v).lower() if isinstance(v, bool) else str(v)
                     for v in values], type=pa.string())


def read_xlsx_native(spark, path: str, sheet: int | str = 0,
                     header: bool = True):
    """XLSX -> Spark DataFrame via the pure-python parser."""
    import pyarrow as pa

    rows = read_xlsx_rows(path, sheet)
    if not rows:
        raise ValueError(f"empty sheet in {path!r}")
    if header:
        cols = [str(c) if c is not None else f"col{i}"
                for i, c in enumerate(rows[0])]
        body = rows[1:]
    else:
        cols = [f"col{i}" for i in range(len(rows[0]))]
        body = rows
    return spark.createDataFrame(pa.Table.from_arrays(
        [_arrow_column([r[i] for r in body]) for i in range(len(cols))],
        names=cols))
