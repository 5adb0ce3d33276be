"""Direct differential for the pure custom_calculator kernels: every
op in ecological.CC_PURE_OPS runs against the REFERENCE'S OWN method
(imported via the refdiff shims) on randomized params, asserting
bit-level equality of the JSON-serialized result — stronger than shape
tests, and independent of the pipeline plumbing the grid exercises."""

import inspect
import json
import os

import numpy as np
import pytest

from niamoto_spark.operators.ecological import CC_PURE_OPS, cc_pure_op
from tools.refdiff import shims

# the reference checkout the shims put on sys.path
_REFERENCE = inspect.signature(shims.install).parameters[
    "reference_src"].default
pytestmark = pytest.mark.skipif(not os.path.isdir(_REFERENCE),
                                reason="reference tree not mounted")


@pytest.fixture(scope="module")
def ref_calc():
    import sys
    sys.path.insert(0, "/root/repo")
    from tools.refdiff import shims
    shims.install()
    from niamoto.core.plugins.transformers.ecological import \
        custom_calculator as cc
    return cc.CustomCalculator(db=None)


def _cases(rng):
    arr = [round(float(x), 2) for x in rng.uniform(0, 50, 12)]
    arr2 = [round(float(x), 2) for x in rng.uniform(1, 5, 12)]
    zeros_mixed = [0, 0.0, 3.5, 0, 12.25, 0.0] * 2
    yield ("shannon_entropy", {"probabilities": arr})
    yield ("shannon_entropy", {"probabilities": zeros_mixed,
                               "normalize": False})
    yield ("shannon_entropy", {"probabilities": [0] * 12})
    yield ("pielou_evenness", {"shannon_entropy": 2.173, "max_bins": 12})
    yield ("pielou_evenness", {"shannon_entropy": 0.0, "max_bins": 0})
    yield ("sum_array_slice", {"array": arr, "start_index": 0,
                               "end_index": 6})
    yield ("sum_array_slice", {"array": arr, "start_index": 3,
                               "total": "len"})
    yield ("sum_array_slice", {"array": arr, "start_index": 2,
                               "end_index": 9, "total": "value",
                               "total_value": 123.5})
    yield ("ratio_calculation", {"numerator": 13.25, "denominator": 4.0,
                                 "scale_factor": 100})
    yield ("ratio_calculation", {"numerator": 7.0, "denominator": 0.0})
    yield ("array_division", {"numerator": arr, "denominator": arr2})
    yield ("array_division", {"numerator": arr,
                              "denominator": [0.0] * 12,
                              "default_value": -1, "scale_factor": 2})
    yield ("array_multiplication", {"array1": arr, "array2": arr2})
    yield ("array_multiplication", {"array1": arr, "array2": [2.5],
                                    "scale_factor": 3})
    yield ("normalize_array", {"input": arr, "method": "minmax"})
    yield ("normalize_array", {"input": arr, "method": "minmax",
                               "min_value": 0, "max_value": 100})
    yield ("normalize_array", {"input": arr, "method": "zscore"})
    yield ("normalize_array", {"input": arr, "method": "percentage"})
    yield ("normalize_array", {"input": [0.0] * 5,
                               "method": "percentage"})
    yield ("weighted_sum", {"values": [
        {"value": 10.0, "weight": 2.0, "max": 20.0},
        {"value": 3.25, "weight": 1},
        {"value": 7.5}]})
    yield ("weighted_sum", {"values": [{"value": 4.0}],
                            "normalization": [0, 10]})
    yield ("conformity_index", {"observed": arr, "reference": arr2,
                                "method": "relative", "tolerance": 50})
    yield ("conformity_index", {"observed": 12.5, "reference": 10.0,
                                "method": "absolute", "tolerance": 3})
    yield ("conformity_index", {"observed": arr,
                                "reference": [0.0] * 12,
                                "method": "percentage"})
    yield ("resilience_score", {"csr_values": {"competitive": 0.4,
                                               "stress_tolerant": 0.35,
                                               "ruderal": 0.25},
                                "functional_diversity": 2.7,
                                "substrate_type": "UM"})
    yield ("resilience_score", {"csr_values": {"ruderal": 1.0},
                                "functional_diversity": 9.0})


def test_every_pure_op_matches_reference_bitwise(ref_calc):
    rng = np.random.RandomState(14)
    ops_hit = set()
    for op, params in _cases(rng):
        ops_hit.add(op)
        ref_method = getattr(ref_calc, f"_{op}")
        ref_out = ref_method({"operation": op, **params})
        ours = cc_pure_op(op, params)
        assert json.dumps(ref_out, sort_keys=True) == \
            json.dumps(ours, sort_keys=True), (op, params, ref_out, ours)
    assert ops_hit == set(CC_PURE_OPS), "every pure op must be covered"


def test_pure_op_error_contract(ref_calc):
    """Bad configs raise on both sides (the chain step then emits NULL
    engine-side; the reference raises DataTransformError)."""
    bad = [
        ("sum_array_slice", {"array": [1.0, 2.0], "start_index": 5}),
        ("array_division", {"numerator": [1.0], "denominator": [1.0, 2.0]}),
        ("normalize_array", {"input": [1.0], "method": "bogus"}),
        ("weighted_sum", {"values": [{"weight": 1.0}]}),
        ("conformity_index", {"observed": [1.0, 2.0],
                              "reference": [1.0], "method": "relative"}),
        ("resilience_score", {"csr_values": [1, 2],
                              "functional_diversity": 1.0}),
    ]
    for op, params in bad:
        with pytest.raises(Exception):
            getattr(ref_calc, f"_{op}")({"operation": op, **params})
        with pytest.raises((ValueError, KeyError, TypeError)):
            cc_pure_op(op, params)
