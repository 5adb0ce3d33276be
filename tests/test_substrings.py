"""Exact-substring duplication detection (operators/substrings.py)."""

import pytest
from pyspark.sql import functions as F

from niamoto_spark.operators.substrings import (substring_dup_pairs,
                                                substring_fingerprints)


def _corpus(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango")


def test_planted_span_found_all_positions(spark):
    shared = WORDS[:80]  # 80-char verbatim span
    df = _corpus(spark, [
        (1, "unrelated preamble one two three " + shared),
        (2, shared + " completely different tail material here"),
        (3, "no overlap with anything zz yy xx ww vv uu tt ss rr qq pp"),
    ])
    pairs = substring_dup_pairs(df, "doc_id", "text", gram_chars=30,
                                max_gram_df=None).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    p = pairs[0]
    # 80-char span, 30-char grams -> 51 shared windows; bounds exact
    assert p["n_shared_grams"] == 51
    assert p["b_start"] == 1 and p["b_end"] == 80
    assert p["a_end"] - p["a_start"] + 1 == 80


def test_short_docs_yield_nothing(spark):
    df = _corpus(spark, [(1, "tiny"), (2, "tiny")])
    assert substring_dup_pairs(df, "doc_id", "text", gram_chars=30,
                               max_gram_df=None).count() == 0


def test_winnowing_guarantee_and_reduction(spark):
    """Any shared span >= gram_chars + winnow_window - 1 must survive
    winnowing, with far fewer fingerprints shipped."""
    shared = WORDS  # 119 chars >> 30 + 8 - 1
    df = _corpus(spark, [
        (1, "prefix material aa bb cc " + shared),
        (2, shared + " suffix material dd ee ff"),
    ])
    full = substring_fingerprints(df, "doc_id", "text", 30).count()
    winnowed = substring_fingerprints(df, "doc_id", "text", 30,
                                      winnow_window=8).count()
    assert winnowed < full / 2  # ~2/(w+1) density
    pairs = substring_dup_pairs(df, "doc_id", "text", gram_chars=30,
                                winnow_window=8, max_gram_df=None).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_max_gram_df_drops_boilerplate(spark):
    """A gram present in MANY docs (license-header analogue) is excluded
    from pairing by the document-frequency cap."""
    boiler = "this exact boilerplate sentence appears everywhere verbatim"
    rows = [(i, f"doc {i} unique words u{i} v{i} w{i} " + boiler)
            for i in range(10)]
    df = _corpus(spark, rows)
    capped = substring_dup_pairs(df, "doc_id", "text", gram_chars=30,
                                 max_gram_df=5)
    uncapped = substring_dup_pairs(df, "doc_id", "text", gram_chars=30,
                                   max_gram_df=None)
    assert capped.count() == 0          # boilerplate suppressed
    assert uncapped.count() == 45       # all 10-choose-2 pairs


def test_normalization_survives_reformatting(spark):
    """Same content with different whitespace/case still collides."""
    span = WORDS[:80]
    df = _corpus(spark, [
        (1, "xx yy zz " + span),
        (2, span.upper().replace(" ", "   ") + " tail words here"),
    ])
    pairs = substring_dup_pairs(df, "doc_id", "text", gram_chars=30,
                                max_gram_df=None).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
