"""Darwin Core Archive sink (reference:
exporters/dwc_archive_exporter.py): occurrence core as a tab-separated file
+ meta.xml descriptor + zip.

The projection itself is exporters/dwc.py (a Spark select); this module
writes the archive.  The TSV is written from executors via Spark's csv
writer (scales), then zipped with the descriptor on the driver (archive
assembly is inherently a single-file step)."""

from __future__ import annotations

import glob
import os
import shutil
import zipfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from niamoto_spark.registry import PluginType, register

# fieldsEnclosedBy must match Spark's csv writer quoting — fields containing
# tabs/newlines/quotes are emitted quoted, and DwC-A readers honor this
# attribute when splitting.
_META_TEMPLATE = """<?xml version="1.0" encoding="UTF-8"?>
<archive xmlns="http://rs.tdwg.org/dwc/text/">
  <core encoding="UTF-8" fieldsTerminatedBy="\\t" linesTerminatedBy="\\n"
        fieldsEnclosedBy="&quot;" ignoreHeaderLines="1"
        rowType="http://rs.tdwg.org/dwc/terms/Occurrence">
    <files><location>occurrence.txt</location></files>
    <id index="0"/>
{fields}
  </core>
</archive>
"""


@register("dwc_archive_exporter", PluginType.EXPORTER)
def export_dwc_archive(occurrences: DataFrame, out_path: str) -> dict:
    """Write a DwC-A zip from an already-projected occurrence DataFrame
    (columns = DwC terms; first column is the record id)."""
    staging = out_path + ".__tsv__"
    # CSV holds no VARIANT: a term read from JSON is written as its text
    occurrences = occurrences.select(*[
        F.col(f.name).cast("string").alias(f.name)
        if isinstance(f.dataType, T.VariantType) else F.col(f.name)
        for f in occurrences.schema.fields])
    # escape='"' makes embedded quotes come out DOUBLED (the DwC text spec's
    # only quoting model) instead of Spark's default backslash-escaping,
    # matching the fieldsEnclosedBy declaration below
    (occurrences.write.mode("overwrite")
     .option("header", True).option("sep", "\t")
     .option("escape", '"').csv(staging))

    fields = "\n".join(
        f'    <field index="{i}" '
        f'term="http://rs.tdwg.org/dwc/terms/{c}"/>'
        for i, c in enumerate(occurrences.columns) if i > 0)
    meta = _META_TEMPLATE.format(fields=fields)

    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        with z.open("occurrence.txt", "w") as occ:
            header_written = False
            for part in sorted(glob.glob(os.path.join(staging, "part-*"))):
                with open(part, "rb") as f:
                    lines = f.readlines()
                if not lines:
                    continue
                if header_written:
                    lines = lines[1:]
                header_written = True
                occ.writelines(lines)
        z.writestr("meta.xml", meta)
    shutil.rmtree(staging)
    return {"path": out_path, "terms": occurrences.columns}
