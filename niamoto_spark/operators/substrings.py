"""Exact-substring duplication detection (training-data pipelines).

Finds document pairs sharing long verbatim character spans — the
"substring dedup" lane of corpus curation (cf. Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better": repeated
50-token substrings in web corpora): distinct from MinHash/SimHash
whole-document near-dup because two documents can share a long quoted
block while being globally dissimilar.

Scale design
------------
- Fingerprints are 8-byte ``xxhash64`` values of length-``gram_chars``
  character windows, computed with built-in higher-order functions (no
  Python in the hot path); the explode ships (doc_id, pos, hash) rows, so
  the shuffle never carries document text.
- All-positions mode (stride 1) is the exact oracle-checked path: every
  shared span of length >= gram_chars is guaranteed to share a window.
- Winnowing (Schleimer, Wilkerson, Aiken 2003 — the MOSS fingerprinting
  scheme) is the 100 TB path: keep only each window-of-w minimum hash,
  cutting fingerprints per document by ~2/(w+1) while guaranteeing any
  shared span of length >= gram_chars + winnow_window - 1 still collides.
- The candidate join is an equi-join on the 8-byte hash.  Boilerplate
  grams (headers, license blocks) that occur in many documents would
  square the bucket, so ``max_gram_df`` drops grams seen in more than
  that many documents BEFORE the self-join — same hot-bucket policy as
  minhash_lsh_candidates (operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from niamoto_spark.functions import fan_out
from niamoto_spark.registry import PluginType, register


def _norm_text(text: Column) -> Column:
    """Whitespace-collapsed lowercase text: span positions survive
    reformatting (the reference normalizes the same way for its content
    keys, core/plugins/exporters and dedup_exact)."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def char_gram_hashes(text: Column, gram_chars: int) -> Column:
    """array<struct<pos int, gh bigint>>: xxhash64 of every
    ``gram_chars``-character window of the normalized text (1-based
    positions, stride 1).  Documents shorter than ``gram_chars`` yield an
    empty array."""
    norm = _norm_text(text)
    n = F.length(norm) - F.lit(gram_chars - 1)
    grams = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.xxhash64(F.substring(norm, i.cast("int"), gram_chars))
             .alias("gh")))
    return F.when(n >= 1, grams).otherwise(
        F.array().cast("array<struct<pos:int,gh:bigint>>"))


def winnow(fps: Column, winnow_window: int) -> Column:
    """Winnowing selection over an array<struct<pos,gh>>: for each window
    of ``winnow_window`` consecutive gram hashes keep the minimum (ties ->
    rightmost, per the MOSS paper's robust winnowing), then distinct.

    Guarantee: two documents sharing a verbatim normalized span of
    >= gram_chars + winnow_window - 1 chars keep at least one common
    (hash, aligned) fingerprint."""
    w = F.lit(winnow_window)
    n_windows = F.size(fps) - w + F.lit(1)
    picked = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda s: F.array_min(
            F.transform(
                # reverse scan so array_min's struct ordering (by gh then
                # pos) lands on the RIGHTMOST minimal hash of the window
                F.slice(fps, s.cast("int"), winnow_window),
                lambda e: F.struct(e["gh"].alias("gh"),
                                   (-e["pos"]).alias("negpos")))))
    back = F.transform(
        F.array_distinct(picked),
        lambda e: F.struct((-e["negpos"]).cast("int").alias("pos"),
                           e["gh"].alias("gh")))
    return F.when(n_windows >= 1, back).otherwise(
        # short docs: keep all grams (still < one full window)
        F.array_distinct(fps))


@register("substring_fingerprints", PluginType.TRANSFORMER)
def substring_fingerprints(df: DataFrame, id_col: str, text_col: str,
                           gram_chars: int = 30,
                           winnow_window: int | None = None) -> DataFrame:
    """(doc_id, pos, gh) fingerprint rows, one per retained window."""
    fps = char_gram_hashes(F.col(text_col), gram_chars)
    if winnow_window is not None:
        fps = winnow(fps, winnow_window)
    out = fan_out(df).select(F.col(id_col).alias("doc_id"), fps.alias("__f"))
    ex = out.select("doc_id", F.explode("__f").alias("f"))
    return ex.select("doc_id", F.col("f.pos").alias("pos"),
                     F.col("f.gh").alias("gh"))


@register("substring_dup_pairs", PluginType.TRANSFORMER)
def substring_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                        gram_chars: int = 30,
                        min_shared_grams: int = 1,
                        winnow_window: int | None = None,
                        max_gram_df: int | None = 1000) -> DataFrame:
    """Document pairs sharing verbatim character spans.

    Output: (id_a, id_b, n_shared_grams, a_start, a_end, b_start, b_end)
    with id_a < id_b; n_shared_grams counts DISTINCT shared window hashes,
    [x_start, x_end] bounds the shared material in each document's
    normalized text (1-based, end inclusive of the window tail).

    With ``winnow_window=None`` every shared span >= gram_chars chars is
    found and the span bounds are exact — this is the oracle-checked mode.
    With winnowing, detection needs spans >= gram_chars+winnow_window-1
    and bounds are fingerprint-aligned approximations.
    """
    fp = substring_fingerprints(df, id_col, text_col, gram_chars,
                                winnow_window)
    if max_gram_df is not None:
        df_counts = (fp.groupBy("gh")
                     .agg(F.count_distinct("doc_id").alias("__docs")))
        keep = df_counts.where(F.col("__docs") <= max_gram_df).select("gh")
        fp = fp.join(keep, "gh", "left_semi")
    left = fp.select(F.col("doc_id").alias("id_a"),
                     F.col("pos").alias("pos_a"), "gh")
    right = fp.select(F.col("doc_id").alias("id_b"),
                      F.col("pos").alias("pos_b"), "gh")
    pairs = (left.join(right, "gh")
             .where(F.col("id_a") < F.col("id_b")))
    agg = (pairs.groupBy("id_a", "id_b")
           .agg(F.count_distinct("gh").alias("n_shared_grams"),
                F.min("pos_a").alias("a_start"),
                (F.max("pos_a") + F.lit(gram_chars - 1)).alias("a_end"),
                F.min("pos_b").alias("b_start"),
                (F.max("pos_b") + F.lit(gram_chars - 1)).alias("b_end")))
    return agg.where(F.col("n_shared_grams") >= min_shared_grams)
