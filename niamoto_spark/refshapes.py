"""Reference-shaped widget JSON assembly.

Each widget kernel turns per-entity rows into the EXACT JSON object the
reference's transformer plugins persist (verified against the
reference's own output by tools/ref_pipeline_diff.py).  Everything is
Spark expressions — collect_list over already-grouped frames (entities
x few rows), map lookups for dense axes, to_json with
ignoreNullFields=false so explicit nulls survive like the reference's
json.dumps does.

Rounding parity: the reference rounds with Python round() = HALF_EVEN
over the double's binary value, so shapers round with
``functions.py_round2`` (a JVM expression that matches round(x, 2)
exactly), never F.round (HALF_UP) or F.bround (half-even on the
shortest decimal repr) — a 0.005-boundary value would otherwise differ
by a full cent.

Every widget but ``transform_chain`` and ``shape_processor`` is a
per-entity aggregate (:data:`KERNELS`).  Each is registered on a
function that :func:`kernel` runs: aggregate expressions over its
source plus a JSON expression over those aggregates, so the pipeline
computes every such widget on a source in ONE ``groupBy(gid).agg(...)``.
A widget that aggregates a per-(entity, key) pre-aggregate first —
top_ranking's item counts, the class_object series' per-axis sums,
grouped geospatial_extractor's per-coordinate rows — aggregates a
frame of its own, named by what defines it, so widgets that need the
same frame share it.

The class_object widgets read the RAW tagged EAV frame
(gid + class_object/class_name/class_value), as the reference plugins
receive the whole loaded stats frame per entity: each per-entity value
is a filtered aggregate such as ``sum(class_value)`` over the rows of
one class_object and class_name.

Ordering parity: several reference widgets (series_extractor with
sort:false, geospatial_extractor feature ids) emit values in SOURCE ROW
ORDER (pandas groupby sort=False).  The pipeline materializes a
``__src_order`` column at file scan so that order survives Spark's
shuffles as data, which is the only scale-safe way to express "file
order" anyway.
"""

from __future__ import annotations

import json as _json
import operator
import re
from functools import reduce
from typing import Any, Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from niamoto_spark.functions import bin_index, py_round2
from niamoto_spark.registry import PluginType, get_plugin, register

JSON_OPTS = {"ignoreNullFields": "false"}
SRC_ORDER = "__src_order"

CO, CN, CV = "class_object", "class_name", "class_value"

# time_series_analysis's default labels: the reference's pydantic
# defaults are ENGLISH (time_series_analysis.py:82-96), not the example
# config's French list
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def _obj_col(fields: list[Column]) -> Column:
    return F.to_json(F.struct(*fields), JSON_OPTS)


# ---------------------------------------------------------------------------
# JSON-fragment assembly (r13): the reference serializes PYTHON values,
# so a single JSON key can be int for one entity and float for the next
# (pydantic echoes, pandas to_numeric column dtypes, [0]*12 fills).  A
# to_json(struct(...)) plan cannot express per-row / per-element type
# choices — Catalyst unifies the branch types — so shapers that need
# them assemble the document from string fragments instead.  Every
# fragment is VALID JSON; the engine's exporter parses __json and
# re-serializes, so only token TYPES matter, not whitespace.

def _frag_scalar(c: Column) -> Column:
    """Fragment for an arbitrary scalar column, rendered exactly as
    to_json renders it elsewhere (1-element array, brackets stripped —
    keeps double formatting identical across shapers)."""
    t = F.to_json(F.array(c))
    return F.when(c.isNull(), F.lit("null")) \
            .otherwise(t.substr(F.lit(2), F.length(t) - 2))


def _frag_num_array(arr: Column) -> Column:
    """Fragment for a numeric array with pandas to_numeric COLUMN
    typing (the reference parses each entity's axis separately): all
    elements integral -> JSON ints, any fractional -> all doubles
    (to_numeric yields one dtype for the whole column)."""
    whole = F.forall(arr, lambda x: x.isNotNull() & (x == F.floor(x)))
    return F.when(arr.isNull(), F.lit("null")) \
            .when(whole, F.to_json(arr.cast("array<bigint>"))) \
            .otherwise(F.to_json(arr))


def _doc_col(frags: list[tuple[str, Column]]) -> Column:
    """``{name: <fragment>, ...}`` from JSON-fragment columns (the
    fragment-typed counterpart of :func:`_obj_col`)."""
    parts: list[Column] = [F.lit("{")]
    for i, (name, frag) in enumerate(frags):
        parts.append(F.lit(("," if i else "") + _json.dumps(name) + ":"))
        parts.append(F.coalesce(frag, F.lit("null")))
    parts.append(F.lit("}"))
    return F.concat(*parts)


def _frag_pct(counts: Column, int_zero_fill: bool) -> Column:
    """Percentages fragment: python round((count/total)*100, 2) when
    total > 0; the zero-total fill echoes the reference's literal —
    [0]*n INTS for binned_distribution / multi_column_extractor,
    [0.0]*n floats for categorical_distribution and friends (their code
    literally differs)."""
    total = F.aggregate(counts, F.lit(0.0),
                        lambda acc, x: acc + x.cast("double"))
    pcts = F.transform(
        counts, lambda c: py_round2(c.cast("double") * 100.0 / total))
    zero = "0" if int_zero_fill else "0.0"
    zeros = F.concat(F.lit("["),
                     F.array_join(F.transform(counts,
                                              lambda c: F.lit(zero)), ","),
                     F.lit("]"))
    return F.when(total > 0, F.to_json(pcts)).otherwise(zeros)


def empty_widget_json(plugin: str, p: dict) -> str | None:
    """The reference plugin's ``transform()`` result on an EMPTY frame —
    what a ZERO-OCCURRENCE entity gets (the reference's per-entity loop
    runs every widget on every taxonomy node; engine widgets are
    aggregates that emit no row for such entities, so the pipeline
    coalesces each widget column with this config-derived literal).
    ``None`` = the reference errors or returns a falsy result on empty
    (the service drops it, transformer.py:299) — the column stays NULL.

    Shapes pinned against the reference's own output on the r13 import
    axis (fill_unknown 'Unknown species' nodes have zero occurrences):

    - statistical_summary (:181-183): every stat null + units +
      params.max_value echo;
    - binned_distribution (:215-225): bins echo (pydantic floats),
      [0]*n int counts, [0]*n INT percentages;
    - categorical_distribution (:196-203): categories echo, [0]*n
      counts, labels, [0.0]*n FLOAT percentages;
    - binary_counter: 0/0 counts, 0.0 percents;
    - time_series_analysis: {name: [0]*12} int fills + labels;
    - top_ranking: empty lists.
    """
    if plugin == "statistical_summary":
        stats = p.get("stats") or ["min", "mean", "max"]
        doc: dict[str, Any] = {s: None for s in stats}
        doc["units"] = p.get("units", "")
        doc["max_value"] = p.get("max_value", 100)
        return _json.dumps(doc, ensure_ascii=False)
    if plugin == "binned_distribution":
        bins = [float(b) for b in p["bins"]]
        n = len(bins) - 1
        doc = {"bins": bins, "counts": [0] * n}
        if p.get("labels"):
            doc["labels"] = [str(x) for x in p["labels"]]
        if p.get("include_percentages"):
            doc["percentages"] = [0] * n
        return _json.dumps(doc, ensure_ascii=False)
    if plugin == "categorical_distribution":
        cats = p["categories"]
        labels = p.get("labels") or [str(c) for c in cats]
        doc = {"categories": cats, "counts": [0] * len(cats),
               "labels": [str(lb) for lb in labels]}
        if p.get("include_percentages"):
            doc["percentages"] = [0.0] * len(cats)
        return _json.dumps(doc, ensure_ascii=False)
    if plugin == "binary_counter":
        tl = p.get("true_label", "oui")
        fl = p.get("false_label", "non")
        doc = {tl: 0, fl: 0}
        if p.get("include_percentages"):
            doc[f"{tl}_percent"] = 0.0
            doc[f"{fl}_percent"] = 0.0
        return _json.dumps(doc, ensure_ascii=False)
    if plugin == "time_series_analysis":
        fields = p.get("fields") or {}
        return _json.dumps({"month_data": {k: [0] * 12 for k in fields},
                            "labels": p.get("labels") or _MONTHS},
                           ensure_ascii=False)
    if plugin == "top_ranking":
        return '{"tops": [], "counts": []}'
    if plugin == "field_aggregator":
        # an entity absent from EVERY source still gets a dict from the
        # reference (field_aggregator.py:232-271 over empty frames):
        # count -> 0, sum -> 0, stats -> null-stats with count 0,
        # direct -> None; units wrap when configured
        doc = {}
        for f in p.get("fields") or []:
            t = f.get("transformation", "direct")
            if t == "count":
                value: Any = 0
            elif t == "sum":
                value = 0
            elif t == "stats":
                value = {"mean": None, "min": None, "max": None,
                         "std": None, "count": 0}
            else:
                value = None
            target = f.get("target") or f.get("field")
            if f.get("units"):
                doc[target] = {"value": value, "units": f["units"]}
            else:
                doc[target] = {"value": value}
        return _json.dumps(doc, ensure_ascii=False) if doc else None
    return None


# ---------------------------------------------------------------------------
# aggregate widget kernels
# ---------------------------------------------------------------------------

class Scope(NamedTuple):
    """What a kernel function reads: the group's ``sources`` by name (a
    chain step also sees the frames of the steps before it), the entity
    id column ``gid``, the name of the grouping table, whose fields are
    read off the entity's own row, and ``load(name)``, the whole table of
    an imported entity or None."""
    sources: dict[str, DataFrame]
    gid: str
    row_source: str | None = None
    load: Callable[[str], DataFrame | None] = lambda name: None

    def source(self, name: str | None) -> DataFrame:
        """The frame a widget's ``source`` names: one of the group's
        sources, else an imported entity's whole table (the reference's
        _load_additional_source)."""
        df = self.sources.get(name)
        if name and name not in self.sources:
            df = self.load(name)
        if df is None:
            raise ValueError(
                f"source {name!r} is not loaded for this group")
        return df


class Kernel(NamedTuple):
    """One widget as expressions the pipeline fuses with its siblings:
    ``aggs`` maps a frame name to ``{name: aggregate}`` over that frame's
    ``groupBy(gid)``, and ``frames`` holds each such frame; ``rows`` maps
    ``{name: expression}`` over the grouping table's own row; ``doc(col)``
    is the widget JSON, where ``col(name)`` is the column holding that
    aggregate or row value.  An entity whose doc is NULL gets the
    widget's empty literal, like an entity with no rows."""
    aggs: dict[str, dict[str, Column]]
    rows: dict[str, Column]
    doc: Callable[[Callable[[str], Column]], Column]
    frames: dict[str, DataFrame]


# the widget plugins registered on a kernel function
KERNELS: set[str] = set()


def _kernel(name: str):
    """Register ``build(params, scope) -> Kernel`` as widget ``name``."""
    KERNELS.add(name)
    return register(name, PluginType.TRANSFORMER)


def kernel(plugin: str, p: dict, scope: Scope) -> Kernel:
    """The :class:`Kernel` of widget ``plugin``, one of :data:`KERNELS`."""
    return get_plugin(plugin, PluginType.TRANSFORMER)(p, scope)


def _over_source(p: dict, scope: Scope, aggs: dict[str, Column],
                 doc: Callable) -> Kernel:
    """The kernel of a widget that aggregates its one ``source``."""
    src = p.get("source")
    return Kernel({src: aggs}, {}, doc, {src: scope.source(src)})


_STATS = {"min": F.min, "mean": F.avg, "max": F.max, "median": F.median,
          "std": F.stddev_samp}


@_kernel("statistical_summary")
def _statistical_summary(p: dict, scope: Scope) -> Kernel:
    """{stat: round(v, 2)..., units, max_value}
    (reference aggregation/statistical_summary.py:152-233): sample std
    (pandas ddof=1), exact interpolated median."""
    stats = p.get("stats") or ["min", "mean", "max"]
    unknown = set(stats) - set(_STATS) - {"count"}
    if unknown:
        raise ValueError(f"unknown stats {sorted(unknown)}")
    c = F.col(p["field"]).cast("double")
    aggs = {s: F.count(c) if s == "count" else py_round2(_STATS[s](c))
            for s in stats}
    aggs["data_max"] = py_round2(F.max(c))
    conf = p.get("max_value", 100)

    def doc(col):
        frags = [(s, _frag_scalar(col(s).cast("double"))) for s in stats]
        frags.append(("units", F.lit(_json.dumps(p.get("units", "")))))
        # max_value is display metadata, never a clip: the reference
        # emits ``data_max if data_max > params.max_value else
        # params.max_value`` (statistical_summary.py:221-228) — STRICTLY
        # greater, so the config literal wins ties and keeps its YAML
        # type (Union[int, float], no pydantic coercion); only a
        # data-sourced max is always float
        dm = col("data_max")
        frags.append(("max_value", _frag_scalar(dm) if conf is None else
                      F.when(dm > float(conf), _frag_scalar(dm))
                      .otherwise(F.lit(_json.dumps(conf)))))
        return _doc_col(frags)

    return _over_source(p, scope, aggs, doc)


@_kernel("binned_distribution")
def _binned_distribution(p: dict, scope: Scope) -> Kernel:
    """{bins: edges as floats, counts dense,[ labels][, percentages]}
    (distribution/binned_distribution.py:210-247): np.histogram bins,
    one ``count_if`` per bin."""
    bins = p["bins"]
    b = bin_index(F.col(p["field"]).cast("double"), bins)
    aggs = {"counts": F.array(*[F.count_if(b == i)
                                for i in range(len(bins) - 1)])}

    def doc(col):
        # bins echo params.bins AFTER pydantic List[float] coercion ->
        # all floats regardless of YAML typing (byte-verified r13)
        frags = [("bins", F.lit(_json.dumps([float(x) for x in bins]))),
                 ("counts", F.to_json(col("counts")))]
        if p.get("labels"):
            frags.append(("labels", F.lit(_json.dumps(
                [str(lb) for lb in p["labels"]], ensure_ascii=False))))
        if p.get("include_percentages"):
            # zero-total fill is [0]*n INTS (binned_distribution.py:245)
            frags.append(("percentages",
                          _frag_pct(col("counts"), int_zero_fill=True)))
        return _doc_col(frags)

    return _over_source(p, scope, aggs, doc)


@_kernel("categorical_distribution")
def _categorical_distribution(p: dict, scope: Scope) -> Kernel:
    """{categories, counts, labels[, percentages]}
    (distribution/categorical_distribution.py:197-247) over the
    declared categories, matched as strings."""
    cats = p.get("categories")
    if cats is None:
        raise ValueError("categorical_distribution needs declared "
                         "categories")
    labels = p.get("labels") or [str(c) for c in cats]
    v = F.col(p["field"]).cast("string")
    aggs = {"counts": F.array(*[F.count_if(v == F.lit(str(c)))
                                for c in cats])}

    def doc(col):
        # categories echo params.categories verbatim (YAML types
        # preserved — the typed params model leaves the list untouched)
        frags = [("categories", F.lit(_json.dumps(cats,
                                                  ensure_ascii=False))),
                 ("counts", F.to_json(col("counts"))),
                 ("labels", F.lit(_json.dumps([str(lb) for lb in labels],
                                              ensure_ascii=False)))]
        if p.get("include_percentages"):
            # zero-total fill is [0.0]*n FLOATS
            # (categorical_distribution.py:246 — the binned plugin's
            # twin branch literally differs)
            frags.append(("percentages",
                          _frag_pct(col("counts"), int_zero_fill=False)))
        return _doc_col(frags)

    return _over_source(p, scope, aggs, doc)


@_kernel("binary_counter")
def _binary_counter(p: dict, scope: Scope) -> Kernel:
    """{true_label: n, false_label: m[, *_percent]} counting values
    that are exactly 1 / 0 (aggregation/binary_counter.py:136-202)."""
    tl = p.get("true_label", "oui")
    fl = p.get("false_label", "non")
    v = F.col(p["field"]).try_cast("int")
    aggs = {"true": F.count_if(v == 1), "false": F.count_if(v == 0)}

    def doc(col):
        t, f = col("true"), col("false")
        fields = [t.alias(tl), f.alias(fl)]
        if p.get("include_percentages"):
            total = (t + f).cast("double")
            fields += [F.when(total > 0, py_round2(n * 100.0 / total))
                       .otherwise(F.lit(0.0)).alias(f"{label}_percent")
                       for n, label in ((t, tl), (f, fl))]
        return _obj_col(fields)

    return _over_source(p, scope, aggs, doc)


_FIELD_AGGS = {"sum": F.sum, "mean": F.avg, "min": F.min, "max": F.max,
               "std": F.stddev_samp}


@_kernel("field_aggregator")
def _field_aggregator(p: dict, scope: Scope) -> Kernel:
    """{target: {value[, units]}} across sources
    (aggregation/field_aggregator.py:206-341): ``direct`` is the first
    non-null value, ``count`` counts non-null values (0 for an entity
    another source knows), the numeric transformations round to 2dp.
    JSON dot-paths (``extra_data.key``) read through get_json_object.
    Fields on the grouping table are read straight off the entity's
    row instead of being aggregated."""
    aggs: dict[str, dict[str, Column]] = {}
    frames: dict[str, DataFrame] = {}
    rows: dict[str, Column] = {}
    specs = list(p["fields"])
    for i, spec in enumerate(specs):
        src, fld = spec["source"], spec["field"]
        t = spec.get("transformation", "direct")
        if t not in _FIELD_AGGS and t not in ("direct", "count"):
            raise ValueError(f"unsupported transformation {t!r}")
        df = scope.source(src)
        root, _, path = fld.partition(".")
        c = F.get_json_object(F.col(root), f"$.{path}") \
            if path and root in df.columns else F.col(fld)
        if src == scope.row_source:
            # one grouping row per entity: the aggregate of that row
            if t == "direct":
                e = c
            elif t == "count":
                e = c.isNotNull().cast("bigint")
            elif t == "std":
                e = F.lit(None).cast("double")   # sample std of one value
            else:
                e = F.round(c.cast("double"), 2)
            rows[f"f{i}"] = e
        else:
            if t == "direct":
                e = F.first(c, ignorenulls=True)
            elif t == "count":
                e = F.count(c)
            else:
                e = F.round(_FIELD_AGGS[t](c.cast("double")), 2)
            aggs.setdefault(src, {})[f"f{i}"] = e
            frames[src] = df

    def doc(col):
        fields = []
        for i, spec in enumerate(specs):
            v = col(f"f{i}")
            if spec.get("transformation") == "count":
                v = F.coalesce(v, F.lit(0))
            inner = [v.alias("value")]
            if spec.get("units"):
                inner.append(F.lit(spec["units"]).alias("units"))
            fields.append(F.struct(*inner).alias(spec["target"]))
        return _obj_col(fields)

    return Kernel(aggs, rows, doc, frames)


@_kernel("top_ranking")
def _top_ranking(p: dict, scope: Scope) -> Kernel:
    """{tops, counts}: the ``count`` most frequent non-NULL items, by
    count desc then item (aggregation/top_ranking.py:246-315).  Items
    are counted per (entity, item) first; a ``hierarchy_table`` shows
    each item key by its name there, and a float key (a CSV id column
    with NULLs) matches the table's integer ids."""
    src, field, gid = p.get("source"), p["field"], scope.gid
    df = scope.source(src)
    key = F.col(field)
    table = p.get("hierarchy_table")
    if table:
        h = scope.load(table)
        if h is None:
            raise ValueError(f"hierarchy_table {table!r} is not an "
                             "imported entity")
        cols = p.get("hierarchy_columns", {})
        key_col = cols.get("id", "id")
        if dict(df.dtypes).get(field) in ("double", "float") and \
                dict(h.dtypes).get(key_col) in ("bigint", "int", "smallint"):
            key = key.cast("bigint")
    counts = (df.where(F.col(field).isNotNull())
              .groupBy(gid, key.cast("string").alias("__item"))
              .agg(F.count(F.lit(1)).alias("__n")))
    if table:
        names = h.select(F.col(key_col).cast("string").alias("__item"),
                         F.col(cols.get("name", "name")).alias("__name"))
        counts = counts.join(F.broadcast(names), "__item", "left").select(
            gid, F.coalesce("__name", "__item").alias("__item"), "__n")
    ranked = F.array_sort(F.collect_list(F.struct(
        (-F.col("__n")).alias("order"), F.col("__item").alias("item"),
        F.col("__n").alias("n"))))
    # every top_ranking over the same counts shares their aggregate
    name = "top_ranking " + _json.dumps(
        [src, field, table, p.get("hierarchy_columns")])

    def doc(col):
        top = col("top")
        return _obj_col([F.transform(top, lambda x: x["item"]).alias("tops"),
                         F.transform(top, lambda x: x["n"]).alias("counts")])

    return Kernel(
        {name: {"top": F.slice(ranked, 1, max(int(p.get("count", 10)), 0))}},
        {}, doc, {name: counts})


@_kernel("time_series_analysis")
def _time_series_analysis(p: dict, scope: Scope) -> Kernel:
    """{month_data: {label: [12 pcts]}, labels}
    (distribution/time_series_analysis.py:177-285): per month 1-12, the
    share of rows whose field is > 0, in percent and python-rounded.
    A month with no rows reads the reference's int 0 fill
    ([0] * 12, :247-259), so one array mixes 0 (no data) with 0.0
    (data, no presence).  An entity with no row in months 1-12 has no
    doc."""
    fields = p["fields"]
    if not (isinstance(fields, dict) and fields and all(
            isinstance(v, str) for v in fields.values())):
        raise ValueError(
            "time_series_analysis fields must map each output "
            f"label to a source column, got {fields!r}")
    labels = p.get("labels") or _MONTHS
    month = F.col(p.get("time_field", "month_obs")).cast("int")
    # each month's avg sums 0/1 doubles: exact, whatever the row order
    aggs = {f"{i}_{m}": py_round2(F.avg(F.when(
                month == m, F.when(F.col(c).cast("double") > 0, 1.0)
                .otherwise(0.0))) * 100.0)
            for i, c in enumerate(fields.values()) for m in range(1, 13)}

    def doc(col):
        parts: list[Column] = [F.lit("{")]
        for i, label in enumerate(fields):
            parts.append(F.lit(("," if i else "") + _json.dumps(label)
                               + ":["))
            for m in range(1, 13):
                pct = col(f"{i}_{m}")
                parts += [F.lit(",")] if m > 1 else []
                parts.append(F.when(pct.isNull(), F.lit("0"))
                             .otherwise(_frag_scalar(pct)))
            parts.append(F.lit("]"))
        parts.append(F.lit("}"))
        seen = F.coalesce(*[col(f"0_{m}") for m in range(1, 13)])
        return F.when(seen.isNotNull(), _doc_col([
            ("month_data", F.concat(*parts)),
            ("labels", F.lit(_json.dumps(labels, ensure_ascii=False)))]))

    return _over_source(p, scope, aggs, doc)


def _rstrip_str(c: Column) -> Column:
    """str(float) with the reference's trailing-zero strip."""
    s = c.cast("string")
    return F.when(s.contains("."),
                  F.regexp_replace(F.regexp_replace(s, "0+$", ""),
                                   "\\.$", "")).otherwise(s)


def _jesc(c: Column) -> Column:
    """JSON-quote an arbitrary string column (escape \\ and ")."""
    return F.concat(
        F.lit('"'),
        F.regexp_replace(F.regexp_replace(c, "\\\\", "\\\\\\\\"),
                         '"', '\\\\"'),
        F.lit('"'))


@_kernel("direct_attribute")
def _direct_attribute(p: dict, scope: Scope) -> Kernel:
    """{value, units[, max_value][, format]}: the field's smallest value
    over the entity's rows (its own value on the grouping table), with
    the reference's per-row typing (extraction/direct_attribute.py
    transform tail):

    - float values (np.float64 IS a python float) take the
      str().rstrip / precision branch -> JSON string;
    - unclipped ints stay numeric (np.int64 fails its
      isinstance(value, (float, int)) check) -> JSON number;
    - a CLIPPED value becomes python float(max_value) -> JSON string —
      so an int-typed widget emits "65" for clipped entities and 65
      for the rest IN THE SAME column (r13 config-variant find; a
      to_json struct cannot express that, hence manual assembly);
    - precision applies only on those float/clipped paths, never to a
      raw int or a pass-through string.
    """
    src = p.get("source")
    df = scope.source(src)
    field = p["field"]
    is_float = dict(df.dtypes).get(field) in ("double", "float")
    is_str = isinstance(df.select(F.col(field)).schema[0].dataType,
                        StringType)
    max_value = p.get("max_value")
    precision = p.get("precision")

    def doc(col):
        v = col("value")
        # a string that is not a number is never clipped (the reference
        # skips the cap when float(value) raises)
        num = v.try_cast("double")
        clipped = num > float(max_value) if max_value is not None \
            else F.lit(False)
        cv = F.when(clipped, F.lit(float(max_value))).otherwise(num) \
            if max_value is not None else num
        if precision is not None:
            float_form = F.format_string(f"%.{int(precision)}f", cv)
        else:
            float_form = _rstrip_str(cv)
        quoted_float = F.concat(F.lit('"'), float_form, F.lit('"'))
        if is_float:
            value_json = quoted_float
        elif is_str:
            # float(value) succeeding only matters for the clip
            # comparison; an unclipped (or non-numeric) string passes
            # through verbatim
            value_json = F.when(clipped, quoted_float).otherwise(_jesc(v))
        else:
            value_json = F.when(clipped, quoted_float) \
                          .otherwise(v.cast("string"))
        value_json = F.when(v.isNull(), F.lit("null")) \
                      .otherwise(value_json)
        parts = [F.lit('{"value":'), value_json,
                 F.lit(',"units":' + _json.dumps(p.get("units", "")))]
        if max_value is not None:
            # the reference serializes params.max_value AFTER pydantic
            # validation, and DirectAttributeParams types it
            # Optional[float] — a YAML int is coerced, so the JSON is
            # always a float (r13 byte differential; contrast
            # statistical_summary, whose Union[int, float] preserves the
            # YAML type)
            parts.append(F.lit(',"max_value":'
                               + _json.dumps(float(max_value))))
        if p.get("format") is not None:
            parts.append(F.lit(',"format":' + _json.dumps(p["format"])))
        parts.append(F.lit("}"))
        return F.concat(*parts)

    if src == scope.row_source:
        return Kernel({}, {"value": F.col(field)}, doc, {})
    # min(), not first(): the deterministic pick among several rows
    return Kernel({src: {"value": F.min(F.col(field))}}, {}, doc,
                  {src: df})


@_kernel("boolean_comparison")
def _boolean_comparison(p: dict, scope: Scope) -> Kernel:
    """[{category, true_count, false_count}...] by category: each
    field's true and false counts, NULLs in neither
    (analysis/boolean_comparison.py:108-150).  ``fields`` is a list of
    columns or a ``{label: column}`` mapping."""
    fields = p["fields"]
    if isinstance(fields, list):
        fields = {f: f for f in fields}
    cols = list(fields.values())
    aggs = {}
    for i, c in enumerate(cols):
        b = F.col(c).cast("boolean")
        aggs[f"t{i}"], aggs[f"f{i}"] = F.count_if(b), F.count_if(~b)
    order = sorted(range(len(cols)), key=lambda i: str(list(fields)[i]))

    def doc(col):
        labels = list(fields)
        return F.to_json(F.array(*[F.struct(
            F.lit(str(labels[i])).alias("category"),
            col(f"t{i}").alias("true_count"),
            col(f"f{i}").alias("false_count")) for i in order]))

    return _over_source(p, scope, aggs, doc)


@_kernel("scatter_analysis")
def _scatter_analysis(p: dict, scope: Scope) -> Kernel:
    """[{x, y}...] sorted: the entity's rows with both coordinates
    (analysis/scatter_analysis.py:113-146); no doc when it has none."""
    x = F.col(p["x_field"]).cast("double")
    y = F.col(p["y_field"]).cast("double")
    aggs = {"points": F.sort_array(F.collect_list(F.when(
        x.isNotNull() & y.isNotNull(),
        F.struct(x.alias("x"), y.alias("y")))))}

    def doc(col):
        return F.when(F.size(col("points")) > 0, F.to_json(col("points")))

    return _over_source(p, scope, aggs, doc)


# ---------------------------------------------------------------------------
# row-picking and geometry widgets
# ---------------------------------------------------------------------------

# a formula's number and column-name tokens (plans.guards validates it)
_FORMULA_PART = re.compile(r"(\d+(?:\.\d+)?)|([A-Za-z_][A-Za-z0-9_]*)")


@_kernel("multi_column_extractor")
def _multi_column_extractor(p: dict, scope: Scope) -> Kernel:
    """{labels, counts[, percentages][, named {value, units} fields]} —
    counts are int(first_row[col]) with derived formulas evaluated over
    the first row; missing columns/NaN -> 0
    (extraction/multi_column_extractor.py:275-340).  Every ``first()``
    of one aggregate reads the same row, and a derived column is its
    formula over those firsts, earlier derived columns inlined."""
    from niamoto_spark.plans.guards import (pin_double_literals,
                                            validate_formula)

    src = p.get("source")
    df = scope.source(src)
    columns = list(p["columns"])
    labels = p.get("labels") if p.get("labels") is not None else columns
    derived = p.get("derived_columns") or []
    sql = {c: f"first(`{c}`)" for c in df.columns if c != scope.gid}
    allowed = set(sql) | {d["name"] for d in derived}

    def part(m):
        if m.group(1):
            return pin_double_literals(m.group(1))
        if m.group(2) not in sql:
            raise ValueError(f"derived column {d['name']!r} reads "
                             f"{m.group(2)!r} before it is defined")
        return sql[m.group(2)]

    for d in derived:
        validate_formula(d["formula"], allowed_names=allowed)
        sql[d["name"]] = "(" + _FORMULA_PART.sub(part, d["formula"]) + ")"
    counts = F.array(*[
        F.coalesce(F.expr(sql[c]).cast("double"), F.lit(0.0))
        .cast("bigint") if c in sql else F.lit(0).cast("bigint")
        for c in columns])

    def doc(col):
        frags = [("labels", F.lit(_json.dumps([str(lb) for lb in labels],
                                              ensure_ascii=False))),
                 ("counts", F.to_json(col("counts")))]
        if p.get("include_percentages"):
            # zero-total fill is [0]*n INTS (multi_column_extractor.py:324)
            frags.append(("percentages",
                          _frag_pct(col("counts"), int_zero_fill=True)))
        if p.get("create_named_fields") and p.get("field_names"):
            for i, fname in enumerate(p["field_names"]):
                frags.append((fname, F.to_json(F.struct(
                    F.element_at(col("counts"), i + 1).alias("value"),
                    F.lit("").alias("units")), JSON_OPTS)))
        return _doc_col(frags)

    return _over_source(p, scope, {"counts": counts}, doc)


_POINT = r"POINT \(([-\d.]+) ([-\d.]+)\)"
_EMPTY_FC = '{"type": "FeatureCollection", "features": []}'


def _feature_collection(features: Column) -> Column:
    """The GeoJSON doc of ``features``, an array of ``(order, feature)``
    structs; no doc when it is empty."""
    return F.when(F.size(features) > 0, _obj_col([
        F.lit("FeatureCollection").alias("type"),
        F.transform(features, lambda s: s["f"]).alias("features")]))


@_kernel("geospatial_extractor")
def _geospatial_extractor(p: dict, scope: Scope) -> Kernel:
    """GeoJSON FeatureCollection — bug-for-bug with the reference (what
    the refdiff certifies):

    - group_by_coordinates=true iterates ``row.geometry``, which only
      resolves when the geometry FIELD is literally named 'geometry'
      (pandas attribute access); any other field name raises per-row,
      is swallowed, and yields an EMPTY FeatureCollection for every
      entity (extraction/geospatial_extractor.py:612-686); a field named
      'geometry' groups (unique coordinates, first-occurrence
      properties, a ``count`` per coordinate).
    - otherwise geopandas to_json emits features with id = source row
      index and all JSON-safe columns as properties.
    An entity with no point has no doc."""
    src, field, gid = p.get("source"), p["field"], scope.gid
    df = scope.source(src)
    grouped = p.get("group_by_coordinates", False)
    if grouped and field != "geometry":
        return Kernel({}, {"entity": F.col(gid)},
                      lambda col: F.lit(_EMPTY_FC), {})
    pt = F.regexp_extract(F.col(field), _POINT, 0)
    x = F.regexp_extract(F.col(field), _POINT, 1).cast("double")
    y = F.regexp_extract(F.col(field), _POINT, 2).cast("double")
    order = F.col(SRC_ORDER) if SRC_ORDER in df.columns \
        else F.monotonically_increasing_id()
    if grouped:
        # unique coordinates in first-occurrence order, properties from
        # the FIRST row at each coordinate (configured ``properties``
        # only), plus a ``count`` of rows sharing it: a per-coordinate
        # frame of its own
        keep = [c for c in (p.get("properties") or []) if c in df.columns]
        per_coord = (df.where(pt != "")
                     .select(F.col(gid), x.alias("x"), y.alias("y"),
                             order.alias("o"),
                             F.struct(*[F.col(c) for c in keep]).alias("p")
                             if keep else
                             F.struct(F.lit(1).alias("__dummy")).alias("p"))
                     .groupBy(gid, "x", "y")
                     .agg(F.min("o").alias("first"),
                          F.min_by("p", "o").alias("p"),
                          F.count(F.lit(1)).alias("count")))
        feature = F.struct(
            F.lit("Feature").alias("type"),
            F.struct(F.lit("Point").alias("type"),
                     F.array(F.col("x"), F.col("y")).alias("coordinates"))
            .alias("geometry"),
            F.struct(*[F.col("p")[c].alias(c) for c in keep],
                     F.col("count").alias("count")).alias("properties"))
        name = "geospatial_extractor " + _json.dumps([src, keep])
        features = F.sort_array(F.collect_list(
            F.struct(F.col("first").alias("o"), feature.alias("f"))))
        return Kernel({name: {"features": features}}, {},
                      lambda col: _feature_collection(col("features")),
                      {name: per_coord})
    # a loader may have shadowed the source's own gid-named column under
    # __src_<gid> (loaders._clear_gid_collision); the reference sees the
    # source column under its ORIGINAL name in GeoJSON properties
    props = [F.col(c).alias(c[len("__src_"):] if c.startswith("__src_")
                            else c)
             for c in df.columns
             if c not in (gid, field, SRC_ORDER)
             and not c.lower().endswith("_geom")
             and c.lower() not in ("geometry", "geom")]
    feature = F.struct(
        F.col(SRC_ORDER).cast("string").alias("id") if SRC_ORDER
        in df.columns else F.lit("0").alias("id"),
        F.lit("Feature").alias("type"),
        F.struct(*props).alias("properties"),
        F.struct(F.lit("Point").alias("type"),
                 F.array(x, y).alias("coordinates")).alias("geometry"))
    features = F.sort_array(F.collect_list(F.when(
        pt != "", F.struct(order.alias("o"), feature.alias("f")))))
    return _over_source(p, scope, {"features": features},
                        lambda col: _feature_collection(col("features")))


# ---------------------------------------------------------------------------
# class_object family — filtered aggregates over the raw tagged EAV frame
# ---------------------------------------------------------------------------

def _in_class(co: Any, name: Column | None = None) -> Column:
    """Rows of class_object ``co`` (and class ``name``): a NULL key
    matches no class, as pandas' groupby drops a NaN key."""
    cond = F.col(CO) == F.lit(co)
    return cond if name is None else cond & name.isNotNull()


def _class_sum(co: Any, cond: Column | None = None) -> Column:
    """sum(class_value) over the rows of class_object ``co`` matching
    ``cond``: NULL where there are none."""
    match = _in_class(co) if cond is None else _in_class(co) & cond
    return F.sum(F.when(match, F.col(CV)))


@_kernel("class_object_series_extractor")
def _co_series_extractor(p: dict, scope: Scope) -> Kernel:
    """{<size.output>: [...], <value.output>: [...]} — groupby(size,
    sort=False) preserves SOURCE ORDER unless sort is requested; an
    entity with no rows gets empty lists, not a missing widget
    (class_objects/series_extractor.py:120-205).  The per-(entity, size)
    sums are a frame of their own."""
    src, gid = p.get("source"), scope.gid
    df = scope.source(src)
    size_f = p.get("size_field", {}) or {}
    value_f = p.get("value_field", {}) or {}
    out_axis = size_f.get("output", "sizes")
    out_val = value_f.get("output", "values")
    numeric = bool(size_f.get("numeric"))
    # reference row filter: size fillna(-1) then size != -1 (NULL or
    # literal -1 size drops the row); value NULL rows are KEPT — the
    # pandas NaN-skipping sum makes an all-NULL group 0.0, so the
    # aggregate below coalesces instead of dropping
    sub = df.where(F.col(CO) == p["class_object"]) \
            .where(F.col(CN).isNotNull() & (F.col(CN) != "-1")
                   & (F.col(CV).isNull() | (F.col(CV) != -1)))
    axis = F.col(CN).cast("double" if numeric else "string")
    order = F.min(SRC_ORDER) if SRC_ORDER in df.columns \
        else F.min(F.lit(0))
    zero = F.lit(0).cast(dict(df.dtypes).get(CV, "double"))
    sums = (sub.groupBy(gid, axis.alias("axis"))
            .agg(F.coalesce(F.sum(CV), zero).alias("val"),
                 order.alias("o")))
    name = "class_object_series_extractor " + _json.dumps(
        [src, p["class_object"], numeric])
    key = F.col("axis") if size_f.get("sort") else F.col("o")
    pairs = F.sort_array(F.collect_list(
        F.struct(key.alias("k"), F.col("axis"), F.col("val"))))
    empty = _doc_col([(out_axis, F.lit("[]")), (out_val, F.lit("[]"))])

    def doc(col):
        a = col("pairs")
        # axis typing (r13 byte differential): the reference runs pandas
        # to_numeric over each ENTITY's axis column, so an all-integral
        # axis serializes as JSON ints, any fraction makes the whole
        # array doubles — a per-array choice no struct type can express
        sizes = F.transform(a, lambda x: x["axis"])
        return F.when(a.isNull(), empty).otherwise(_doc_col([
            (out_axis, _frag_num_array(sizes) if numeric
             else F.to_json(sizes)),
            (out_val, F.to_json(F.transform(a, lambda x: x["val"])))]))

    # every entity has a doc: the grouping row marks it present
    return Kernel({name: {"pairs": pairs}}, {"entity": F.col(gid)}, doc,
                  {name: sums})


def _axis_kernel(p: dict, scope: Scope, cos: list, doc: Callable,
                 name: str = "pairs") -> Kernel:
    """A kernel over the per-(entity, numeric class_name) sums of each
    class_object ``co`` of ``cos``: aggregate ``name`` is the entity's
    ``(axis, v_<co>...)`` rows in axis order, a missing sum read as
    0.0.  Every series widget over the same class_objects of a source
    shares the frame of sums."""
    cos = sorted(set(cos))
    src, gid = p.get("source"), scope.gid
    frame = (scope.source(src).where(F.col(CO).isin(cos))
             .groupBy(gid, F.col(CN).cast("double").alias("axis"))
             .agg(*[_class_sum(co).alias(f"v{j}")
                    for j, co in enumerate(cos)]))
    pairs = F.sort_array(F.collect_list(F.struct(F.col("axis"), *[
        F.coalesce(F.col(f"v{j}"), F.lit(0.0)).alias(f"v_{co}")
        for j, co in enumerate(cos)])))
    frame_name = "class_object axis " + _json.dumps([src, cos])
    return Kernel({frame_name: {name: pairs}}, {}, doc, {frame_name: frame})


@_kernel("class_object_field_aggregator")
def _co_field_aggregator(p: dict, scope: Scope) -> Kernel:
    """{target: {value[, units]}} / range {min, max[, units]}; missing
    class_objects -> null values, and every entity has a doc
    (class_objects/field_aggregator.py:_get_field_value — float(sum per
    class_object))."""
    def keys(spec):
        co = spec["class_object"]
        if isinstance(co, list) or spec.get("format") == "range":
            return {"min": co[0], "max": co[1]}
        return {"value": co}

    cos = list(dict.fromkeys(co for spec in p["fields"]
                             for co in keys(spec).values()))
    aggs = {f"s{j}": _class_sum(co) for j, co in enumerate(cos)}

    def doc(col):
        fields = []
        for spec in p["fields"]:
            inner = [col(f"s{cos.index(co)}").cast("double").alias(k)
                     for k, co in keys(spec).items()]
            if spec.get("units"):
                inner.append(F.lit(spec["units"]).alias("units"))
            fields.append(F.struct(*inner).alias(spec["target"]))
        return _obj_col(fields)

    k = _over_source(p, scope, aggs, doc)
    # every entity has a doc: the grouping row marks it present
    return k._replace(rows={"entity": F.col(scope.gid)})


@_kernel("class_object_categories_extractor")
def _co_categories_extractor(p: dict, scope: Scope) -> Kernel:
    """{tops: categories_order, counts} — categories missing from the
    data get 0, but an entity with NO rows for the class_object raises
    reference-side ("No data found"), so it gets no widget at all here
    either (class_objects/categories_extractor.py:85-130)."""
    co = p["class_object"]
    cats = p.get("categories_order") or []
    name = F.col(CN).cast("string")
    aggs = {"n": F.count_if(_in_class(co, name))}
    aggs.update({f"c{j}": _class_sum(co, name == F.lit(str(c)))
                 for j, c in enumerate(cats)})

    def doc(col):
        return F.when(col("n") > 0, _obj_col([
            F.array(*[F.lit(str(c)) for c in cats]).alias("tops"),
            F.array(*[F.coalesce(col(f"c{j}"), F.lit(0.0))
                      for j in range(len(cats))]).alias("counts")]))

    return _over_source(p, scope, aggs, doc)


@_kernel("class_object_binary_aggregator")
def _co_binary_aggregator(p: dict, scope: Scope) -> Kernel:
    """{group.label: {out_class: raw summed value}} — raw values, NOT
    re-normalized (class_objects/binary_aggregator.py:60-140).  A class
    name missing from ``class_mapping`` counts toward no class; an
    entity has a doc when one group has a row with a class."""
    aggs: dict[str, Column] = {}
    groups = []
    for gi, grp in enumerate(p["groups"]):
        mapping = grp.get("class_mapping") or {}
        classes = grp.get("classes") or sorted(set(mapping.values()))
        out = F.create_map(*[F.lit(x) for kv in mapping.items()
                             for x in kv])[F.col(CN)] \
            if mapping else F.col(CN)
        aggs[f"n{gi}"] = F.count_if(_in_class(grp["field"], out))
        aggs.update({f"g{gi}_{j}": _class_sum(grp["field"], out == F.lit(c))
                     for j, c in enumerate(classes)})
        groups.append((grp["label"], classes))

    def doc(col):
        present = reduce(operator.or_, [col(f"n{gi}") > 0
                                        for gi in range(len(groups))])
        return F.when(present, _obj_col([F.struct(*[
            F.coalesce(col(f"g{gi}_{j}"), F.lit(0.0)).alias(c)
            for j, c in enumerate(classes)]).alias(label)
            for gi, (label, classes) in enumerate(groups)]))

    return _over_source(p, scope, aggs, doc)


@_kernel("class_object_categories_mapper")
def _co_categories_mapper(p: dict, scope: Scope) -> Kernel:
    """{out_group: {mapped_label: value}}
    (class_objects/categories_mapper.py:94); an entity has a doc when
    one group's class_object has a row with a class."""
    name = F.col(CN).cast("string")
    aggs: dict[str, Column] = {}
    groups = list(p["categories"].items())
    for gi, (_, spec) in enumerate(groups):
        co = spec["class_object"]
        aggs[f"n{gi}"] = F.count_if(_in_class(co, name))
        aggs.update({f"g{gi}_{j}": _class_sum(co, name == F.lit(str(src)))
                     for j, src in enumerate((spec.get("mapping")
                                              or {}).values())})

    def doc(col):
        present = reduce(operator.or_, [col(f"n{gi}") > 0
                                        for gi in range(len(groups))])
        return F.when(present, _obj_col([F.struct(*[
            col(f"g{gi}_{j}").alias(label)
            for j, label in enumerate(spec.get("mapping") or {})])
            .alias(out_group) for gi, (out_group, spec) in enumerate(groups)]))

    return _over_source(p, scope, aggs, doc)


@_kernel("class_object_series_ratio_aggregator")
def _co_series_ratio_aggregator(p: dict, scope: Scope) -> Kernel:
    """{dist: {classes, subset, complement}} — difference mode emits
    ABSOLUTE total-subset; ratio mode max(0, 1-subset/total), 1.0 when
    total==0 (class_objects/series_ratio_aggregator.py:150-225).  Each
    distribution reads the sums of its own two class_objects."""
    dists = list(p["distributions"].items())

    def doc(col):
        frags = []
        for di, (dist_name, dist) in enumerate(dists):
            a = col(f"d{di}")
            tot, sub = f"v_{dist['total']}", f"v_{dist['subset']}"
            if dist.get("complement_mode") == "difference":
                complement = F.transform(a, lambda x: x[tot] - x[sub])
            else:
                complement = F.transform(a, lambda x: F.when(
                    x[tot] > 0,
                    F.greatest(F.lit(0.0), F.lit(1.0) - x[sub] / x[tot]))
                    .otherwise(F.lit(1.0)))
            # classes carry pandas to_numeric typing (r13 byte
            # differential) -> fragment assembly; an entity without this
            # distribution's class_objects reads nulls
            frags.append((dist_name, F.when(a.isNull(), F.lit(
                '{"classes":null,"subset":null,"complement":null}'))
                .otherwise(F.concat(
                    F.lit('{"classes":'),
                    _frag_num_array(F.transform(a, lambda x: x["axis"])),
                    F.lit(',"subset":'),
                    F.to_json(F.transform(a, lambda x: x[sub])),
                    F.lit(',"complement":'), F.to_json(complement),
                    F.lit("}")))))
        return _doc_col(frags)

    aggs: dict[str, dict[str, Column]] = {}
    frames: dict[str, DataFrame] = {}
    for di, (_, dist) in enumerate(dists):
        k = _axis_kernel(p, scope, [dist["total"], dist["subset"]], doc,
                         f"d{di}")
        for frame_name, agg in k.aggs.items():
            aggs.setdefault(frame_name, {}).update(agg)
        frames.update(k.frames)
    return Kernel(aggs, {}, doc, frames)


@_kernel("class_object_series_matrix_extractor")
def _co_series_matrix_extractor(p: dict, scope: Scope) -> Kernel:
    """{<axis.field>: [...], series: {name: [...]}}; complement
    = 100 - scaled value (class_objects/series_matrix_extractor.py)."""
    axis_field = (p.get("axis") or {}).get("field", "class_name")
    series = p["series"]

    def doc(col):
        a, cols = col("pairs"), []
        for s in series:
            co, scale = f"v_{s['class_object']}", float(s.get("scale", 1.0))
            if s.get("complement"):
                expr = F.transform(a, lambda x: F.lit(100.0) - x[co] * scale)
            else:
                expr = F.transform(a, lambda x: x[co] * scale)
            cols.append(expr.alias(s["name"]))
        return _doc_col([
            (axis_field,
             _frag_num_array(F.transform(a, lambda x: x["axis"]))),
            ("series", F.to_json(F.struct(*cols), JSON_OPTS))])

    return _axis_kernel(p, scope, [s["class_object"] for s in series], doc)


@_kernel("class_object_series_by_axis_extractor")
def _co_series_by_axis_extractor(p: dict, scope: Scope) -> Kernel:
    """{<axis.output_field>: [...], <type>: [...] ...}, 0.0 where a type
    has no row at an axis value
    (class_objects/series_by_axis_extractor.py:15-114)."""
    out_field = (p.get("axis") or {}).get("output_field", "axis")
    types = p["types"]

    def doc(col):
        a = col("pairs")
        return _doc_col(
            [(out_field,
              _frag_num_array(F.transform(a, lambda x: x["axis"])))]
            # F.transform calls each lambda at once, so it reads this co
            + [(out, F.to_json(F.transform(a, lambda x: x[f"v_{co}"])))
               for out, co in types.items()])

    return _axis_kernel(p, scope, list(types.values()), doc)
