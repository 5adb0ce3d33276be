"""The query catalog and its oracles, pinned.

``tests/data/query_catalog.json`` lists every catalog query name in order
with the sha256 of its DuckDB oracle SQL, or ``null`` for a rows-only
query.  The oracle gate and perfbench's oracle cache key on these exact
names and strings, so any change to the set, the order or one byte of an
oracle must show up here.
"""

import hashlib
import inspect
import json
import os

import __spark_entry__
from niamoto_spark.queries import build_oracles, build_queries

PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "data", "query_catalog.json")


def _pinned():
    with open(PINNED) as f:
        return [tuple(row) for row in json.load(f)]


def _digest(queries, oracles):
    return [(name, hashlib.sha256(oracles[name].encode()).hexdigest()
             if name in oracles else None) for name in queries]


def _check(queries, oracles):
    pinned = _pinned()
    assert list(queries) == [name for name, _ in pinned]
    assert list(oracles) == [name for name, sha in pinned if sha]
    assert _digest(queries, oracles) == pinned


def test_build_functions_match_pinned_catalog():
    _check(build_queries(), build_oracles())


def test_driver_contract_matches_pinned_catalog():
    _check(__spark_entry__.queries(), __spark_entry__.oracle_sql())


def test_every_query_takes_spark_and_sf_dir():
    for name, fn in build_queries().items():
        params = list(inspect.signature(fn).parameters)
        assert params == ["spark", "sf_dir"], name
