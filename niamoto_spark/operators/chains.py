"""transform_chain — ordered widget steps whose outputs later steps read
(reference: transformers/chains/transform_chain.py:200-317, references
resolved by reference_resolver.py:53-67).

A chain's result is the reference's envelope: every step's per-entity
JSON doc under its ``output_key`` (transform_chain.py:305-311).

- A step other than ``custom_calculator`` is shaped exactly like a
  top-level widget with that plugin and those params.  A later step's
  ``source: "@key"`` reads the frame that step was shaped from (an
  aggregate widget's per-entity aggregates); a step that cannot read it,
  or names a step that has none (a chain, a shape_processor, a
  custom_calculator), fails naming both steps.
- A ``custom_calculator`` step reads the earlier steps' docs through
  ``@step.field[i]`` references (:func:`resolve_ref`).  One Python
  function, :func:`evaluate`, computes its doc, per entity, in one
  ``mapInPandas`` over the joined docs of the chain's other steps; a
  chain without such a step starts no Python worker.
- An entity with no rows gets :func:`evaluate` over the steps' empty
  docs (:func:`empty_chain_json`).
"""

from __future__ import annotations

import ast
import json
import re
from functools import reduce
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from niamoto_spark.operators.ecological import (CC_PURE_OPS,
                                                active_periods_dict,
                                                cc_pure_op,
                                                peak_detection_dict)
from niamoto_spark.registry import PluginType, register

CALCULATOR = "custom_calculator"
SERIES_OPS = ("peak_detection", "active_periods")
# what a custom_calculator step raises on an entity's docs: its doc is
# then null (or, for the empty-entity envelope, the whole widget)
FAILED = (KeyError, ValueError, TypeError)
_SEGMENT = re.compile(r"([A-Za-z0-9_]+)((?:\[\d+\])*)$")


def _is_ref(v: Any) -> bool:
    return isinstance(v, str) and v.startswith("@")


def resolve_ref(ref: str, docs: dict) -> Any:
    """The value an ``@step.field.sub[0]`` reference names in the earlier
    steps' docs: the reference ReferenceResolver's dotted and indexed
    grammar, without its ``|function`` pipes.  Raises KeyError when a
    segment is missing."""
    body = ref[1:]
    parts = body.split(".")
    if "|" in body or parts[0] not in docs:
        raise KeyError(ref)
    cur = docs[parts[0]]
    for seg in parts[1:]:
        m = _SEGMENT.match(seg)
        if not (m and isinstance(cur, dict) and m.group(1) in cur):
            raise KeyError(ref)
        cur = cur[m.group(1)]
        for i in map(int, re.findall(r"\[(\d+)\]", m.group(2))):
            if not (isinstance(cur, list) and i < len(cur)):
                raise KeyError(ref)
            cur = cur[i]
    return cur


def _refs(v: Any) -> list[str]:
    """Every reference string inside a params value."""
    if _is_ref(v):
        return [v]
    if isinstance(v, dict):
        v = list(v.values())
    return [r for x in v for r in _refs(x)] if isinstance(v, list) else []


def _resolved(v: Any, docs: dict) -> Any:
    if _is_ref(v):
        return resolve_ref(v, docs)
    if isinstance(v, dict):
        return {k: _resolved(x, docs) for k, x in v.items()}
    if isinstance(v, list):
        return [_resolved(x, docs) for x in v]
    return v


def _op_params(params: dict) -> dict:
    return {k: v for k, v in params.items()
            if k not in ("operation", "source")}


def _formula_refs(params: dict) -> dict[str, str]:
    """A custom_formula's dict literal as ``{key: reference}``: each
    entry is ``'key': variable``, and a variable is the reference
    ``variables`` gives it, ``@<variable>`` by default.  The reference's
    own safe-eval rejects the dict literal its example config uses
    (ast.Dict is not whitelisted), so here the engine is a superset."""
    tree = ast.parse(params["formula"], mode="eval").body
    if not isinstance(tree, ast.Dict):
        raise ValueError("chain custom_formula supports dict literals of "
                         "variables here")
    variables = params.get("variables", {})
    refs = {}
    for k, v in zip(tree.keys, tree.values):
        if not isinstance(k, ast.Constant) or not isinstance(v, ast.Name):
            raise ValueError("dict formula entries must be "
                             "'literal': variable")
        refs[k.value] = variables.get(v.id, f"@{v.id}")
        if not _is_ref(refs[k.value]):
            raise ValueError(f"formula variable {v.id!r} is not an "
                             "@step reference")
    return refs


def _check(params: dict, earlier: list[str]) -> None:
    """Reject, before anything runs, a custom_calculator step that
    :func:`evaluate` cannot run: an unknown operation, or references
    that name no earlier step."""
    op = params.get("operation")
    if op not in SERIES_OPS and op not in CC_PURE_OPS \
            and op != "custom_formula":
        raise ValueError(f"chain custom_calculator operation {op!r} "
                         "not supported")
    refs = _refs(_op_params(params))
    if op == "custom_formula":
        refs += list(_formula_refs(params).values())
    if not refs:
        raise ValueError(f"chain {op} step has no @step references")
    for r in refs:
        if r[1:].split(".")[0] not in earlier:
            raise ValueError(f"{r!r} names no earlier chain step")


def evaluate(params: dict, docs: dict) -> Any:
    """One custom_calculator step's doc from the earlier steps' docs
    (reference custom_calculator.py: peak_detection :1299,
    active_periods :1421, custom_formula :1603 and the ``CC_PURE_OPS``).
    Raises one of :data:`FAILED` when the docs do not fit."""
    op = params["operation"]
    if op in SERIES_OPS:
        series = resolve_ref(params["time_series"], docs)
        if not isinstance(series, dict):
            raise TypeError(f"{params['time_series']!r} is not a dict of "
                            "series")
        series = {k: [float(v) for v in vs] for k, vs in series.items()}
        if op == "peak_detection":
            return peak_detection_dict(
                series, threshold=params.get("threshold"),
                min_distance=int(params.get("min_distance", 1)),
                prominence=float(params.get("prominence", 0.0)))
        return active_periods_dict(
            series, threshold=float(params.get("threshold", 0.0)),
            min_duration=int(params.get("min_duration", 1)),
            labels=_resolved(params.get("labels"), docs))
    if op == "custom_formula":
        # the reference's _custom_formula envelope
        # (custom_calculator.py:1649-1654); "variables" echoes the
        # resolved variables
        return {
            "value": {k: resolve_ref(r, docs)
                      for k, r in _formula_refs(params).items()},
            "formula": params["formula"],
            "description": params.get("description", "Custom formula"),
            "variables": {n: resolve_ref(r, docs) for n, r
                          in params.get("variables", {}).items()
                          if _is_ref(r)},
        }
    return cc_pure_op(op, _resolved(_op_params(params), docs))


def _evaluate_frame(joined: DataFrame, keys: dict[str, str],
                    calculators: list[tuple[str, str, dict]]) -> DataFrame:
    """``joined`` plus the doc column of each custom_calculator step
    ``(column, key, params)``, from :func:`evaluate` over the docs of
    the steps before it.  ``keys`` maps each doc column of ``joined`` to
    its step's key."""
    schema = T.StructType(
        list(joined.schema.fields)
        + [T.StructField(c, T.StringType()) for c, _, _ in calculators])

    def run(batches):
        for pdf in batches:
            out: dict[str, list] = {c: [] for c, _, _ in calculators}
            for texts in zip(*(pdf[c] for c in keys)):
                docs = {keys[c]: json.loads(t) if isinstance(t, str)
                        else None for c, t in zip(keys, texts)}
                for c, key, params in calculators:
                    try:
                        docs[key] = evaluate(params, docs)
                    except FAILED:
                        docs[key] = None
                    out[c].append(json.dumps(docs[key], ensure_ascii=False))
            yield pdf.assign(**out)

    return joined.mapInPandas(run, schema)


Shaper = Callable[[str, dict, dict], "tuple[DataFrame, DataFrame]"]


@register("transform_chain", PluginType.TRANSFORMER)
def transform_chain(steps: list[dict], sources: dict[str, DataFrame],
                    gid: str, shape: Shaper) -> DataFrame:
    """A chain's per-entity envelope as ``(gid, __json)``.

    ``sources`` are the group's tagged sources.  ``shape(plugin, params,
    bindings)`` returns a step's ``(gid, __json)`` frame and the frame a
    later ``source: "@key"`` binds to, or None when it has none."""
    if not steps:
        raise ValueError("empty transform_chain")
    bindings = dict(sources)
    keys: dict[str, str] = {}                   # doc column -> step key
    frames: list[DataFrame] = []
    calculators: list[tuple[str, str, dict]] = []   # (column, key, params)
    for i, step in enumerate(steps):
        params = dict(step.get("params") or {})
        if step["plugin"] == CALCULATOR:
            _check(params, [s["output_key"] for s in steps[:i]])
            calculators.append((f"__j{i}", step["output_key"], params))
            continue
        src = params.get("source")
        if _is_ref(src):
            params["source"] = src[1:]
        try:
            jdf, bindings[step["output_key"]] = shape(step["plugin"],
                                                      params, bindings)
        except Exception as e:
            if not _is_ref(src):
                raise
            raise ValueError(
                f"chain step {step['output_key']!r} cannot read the "
                f"frame of step {src[1:]!r}: {e}") from e
        frames.append(jdf.select(F.col(gid), F.col("__json").alias(
            f"__j{i}")))
        keys[f"__j{i}"] = step["output_key"]
    if not frames:
        raise ValueError("a transform_chain needs a step that is not a "
                         "custom_calculator")
    joined = reduce(lambda a, b: a.join(b, gid, "full"), frames)
    if calculators:
        joined = _evaluate_frame(joined, keys, calculators)
    parts = [F.lit("{")]
    for i, step in enumerate(steps):
        parts.append(F.lit(("," if i else "")
                           + json.dumps(step["output_key"]) + ": "))
        parts.append(F.coalesce(F.col(f"__j{i}"), F.lit("null")))
    return joined.select(F.col(gid),
                         F.concat(*parts, F.lit("}")).alias("__json"))


def empty_chain_json(steps: list[dict]) -> str | None:
    """The envelope of an entity with no rows: the reference runs the
    chain on the empty frame, so each step's empty doc is keyed under
    its output_key — :func:`evaluate` for custom_calculator steps, over
    the ``refshapes.empty_widget_json`` docs of time_series_analysis
    steps.  Any other step, or a step :func:`evaluate` cannot run,
    leaves the widget NULL (None)."""
    from niamoto_spark.refshapes import empty_widget_json

    docs: dict[str, Any] = {}
    for step in steps:
        params = dict(step.get("params") or {})
        if step["plugin"] == CALCULATOR:
            try:
                docs[step["output_key"]] = evaluate(params, docs)
            except FAILED:
                return None
        elif step["plugin"] == "time_series_analysis":
            docs[step["output_key"]] = json.loads(
                empty_widget_json(step["plugin"], params))
        else:
            return None
    return json.dumps(docs, ensure_ascii=False) if docs else None
