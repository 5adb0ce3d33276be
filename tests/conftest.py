import os
import sys
import zipfile
from xml.sax.saxutils import escape

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("NIAMOTO_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from niamoto_spark.session import get_spark

    s = get_spark("niamoto_tests", master="local[4]",
                  extra_conf={"spark.sql.shuffle.partitions": "4",
                              "spark.driver.memory": "8g"})
    yield s


@pytest.fixture(scope="session")
def kernel_docs():
    """``docs(df, plugin, params, gid="g", entities=None)``: widget
    ``plugin``'s parsed JSON per entity, through its kernel with ``df``
    as the widget's source.  ``entities`` is the grouping table a kernel
    that reads the entity's own row needs."""
    import json

    from pyspark.sql import functions as F

    from niamoto_spark import refshapes as RS
    from niamoto_spark.pipeline import _kernel_frame

    def docs(df, plugin, params, gid="g", entities=None):
        k = RS.kernel(plugin, {"source": "s", **params},
                      RS.Scope({"s": df}, gid))
        out = _kernel_frame(k, gid, entities).select(gid, k.doc(F.col))
        return {r[0]: None if r[1] is None else json.loads(r[1])
                for r in out.collect()}

    return docs


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def testdata_registry(sf_dir):
    """An entity registry over the testdata tables (TESTDATA.md), with the
    TPC-H-ish id fields and key links."""
    from niamoto_spark.catalog import (Entity, EntityKind, EntityLink,
                                       EntityRegistry)

    ids = {
        "region": ("r_regionkey", EntityKind.REFERENCE),
        "nation": ("n_nationkey", EntityKind.REFERENCE),
        "customer": ("c_custkey", EntityKind.DATASET),
        "supplier": ("s_suppkey", EntityKind.REFERENCE),
        "part": ("p_partkey", EntityKind.REFERENCE),
        "orders": ("o_orderkey", EntityKind.DATASET),
        "lineitem": ("l_orderkey", EntityKind.DATASET),
        "events": ("event_id", EntityKind.DATASET),
        "documents": ("doc_id", EntityKind.DATASET),
        "embeddings": ("vec_id", EntityKind.DATASET),
    }
    reg = EntityRegistry()
    for name, (id_field, kind) in ids.items():
        p = os.path.join(sf_dir, f"{name}.parquet")
        reg.add(Entity(name=name, kind=kind, path=p, id_field=id_field))
    reg.get("nation").links.append(
        EntityLink(field="n_regionkey", references="region", ref_field="r_regionkey"))
    reg.get("customer").links.append(
        EntityLink(field="c_nationkey", references="nation", ref_field="n_nationkey"))
    reg.get("orders").links.append(
        EntityLink(field="o_custkey", references="customer", ref_field="c_custkey"))
    reg.get("lineitem").links.append(
        EntityLink(field="l_orderkey", references="orders", ref_field="o_orderkey"))
    return reg


def _write_xlsx(path: str, rows: list[list], sheet_name: str = "Sheet1") -> None:
    """Minimal XLSX writer: inline strings, numbers and booleans."""

    def col_letter(i: int) -> str:
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s

    cells_xml = []
    for ri, row in enumerate(rows, 1):
        cs = []
        for ci, v in enumerate(row):
            ref = f"{col_letter(ci)}{ri}"
            if v is None:
                continue
            if isinstance(v, bool):
                cs.append(f'<c r="{ref}" t="b"><v>{int(v)}</v></c>')
            elif isinstance(v, (int, float)):
                cs.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                cs.append(f'<c r="{ref}" t="inlineStr"><is><t>'
                          f"{escape(str(v))}</t></is></c>")
        cells_xml.append(f'<row r="{ri}">{"".join(cs)}</row>')
    sheet = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<worksheet xmlns="http://schemas.openxmlformats.org/'
             'spreadsheetml/2006/main"><sheetData>'
             + "".join(cells_xml) + "</sheetData></worksheet>")
    workbook = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                '<workbook xmlns="http://schemas.openxmlformats.org/'
                'spreadsheetml/2006/main" xmlns:r="http://schemas.'
                'openxmlformats.org/officeDocument/2006/relationships">'
                f'<sheets><sheet name="{sheet_name}" sheetId="1" '
                'r:id="rId1"/></sheets></workbook>')
    rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/'
            'package/2006/relationships"><Relationship Id="rId1" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/'
            'relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>")
    content_types = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                     '<Types xmlns="http://schemas.openxmlformats.org/'
                     'package/2006/content-types">'
                     '<Default Extension="xml" ContentType="application/xml"/>'
                     '<Override PartName="/xl/workbook.xml" ContentType='
                     '"application/vnd.openxmlformats-officedocument.'
                     'spreadsheetml.sheet.main+xml"/>'
                     '<Override PartName="/xl/worksheets/sheet1.xml" '
                     'ContentType="application/vnd.openxmlformats-'
                     'officedocument.spreadsheetml.worksheet+xml"/></Types>')
    root_rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                 '<Relationships xmlns="http://schemas.openxmlformats.org/'
                 'package/2006/relationships"><Relationship Id="rId1" '
                 'Type="http://schemas.openxmlformats.org/officeDocument/'
                 '2006/relationships/officeDocument" '
                 'Target="xl/workbook.xml"/></Relationships>')
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


@pytest.fixture(scope="session")
def write_xlsx():
    """Writes a one-sheet workbook: ``write_xlsx(path, rows)``."""
    return _write_xlsx
