"""TF-IDF vectors + sparse cosine similarity over an inverted index.

Complements the dense-embedding lane (operators/similarity.py): when no
embedding model is in the loop, lexical TF-IDF cosine is the standard
document-similarity baseline (and the ranking core of BM25,
operators/retrieval.py, which shares the postings-join shape).

Spark-first design
------------------
- Vectors are POSTINGS ROWS (doc_id, token, weight), not array columns:
  the pairwise dot product is then an equi-join on token followed by a
  groupBy(pair) sum — the classic inverted-index formulation.  The
  shuffle carries only (token, doc, weight) triples.
- Stop-token pruning is load-bearing at scale: a token present in f% of
  N documents contributes (fN)² join rows.  ``max_df_frac`` drops those
  tokens BEFORE the self-join (their idf weight is near zero anyway) —
  same hot-bucket policy as minhash/substring dedup.
- Weights are L2-normalized per document, so dot == cosine and the join
  needs no per-pair norm lookup.

Formulas (sklearn TfidfVectorizer defaults, smooth_idf):
    tf(t, d)  = raw count of t in d
    idf(t)    = ln((1 + N) / (1 + df(t))) + 1
    w(t, d)   = tf * idf, then L2-normalized per document
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from niamoto_spark.functions import token_array
from niamoto_spark.registry import PluginType, register


@register("tfidf_postings", PluginType.TRANSFORMER)
def tfidf_postings(df: DataFrame, id_col: str, text_col: str,
                   min_df: int = 1,
                   max_df_frac: float | None = None) -> DataFrame:
    """L2-normalized TF-IDF postings: (doc_id, token, weight).

    One explode + two hash aggregates + one token-keyed join.  The IDF
    table is |vocab|-sized, and on adversarial web corpora (hashes,
    UUIDs, base64) vocabulary grows with the corpus, not Heaps-law —
    the same reason bpe_train caps its collect — so the join carries NO
    broadcast hint; AQE broadcasts it when the vocabulary is genuinely
    small."""
    toks = df.select(F.col(id_col).alias("doc_id"),
                     F.explode(token_array(F.lower(F.col(text_col))))
                      .alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.count_distinct(id_col)).collect()[0][0]
    docfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"))
    if max_df_frac is not None:
        docfreq = docfreq.where(F.col("df") <= int(max_df_frac * n_docs))
    if min_df > 1:
        docfreq = docfreq.where(F.col("df") >= min_df)
    idf = docfreq.withColumn(
        "idf", F.log((F.lit(1.0 + n_docs)) / (F.col("df") + 1)) + 1)
    w = (tf.join(idf.select("token", "idf"), "token")
           .withColumn("w_raw", F.col("tf") * F.col("idf")))
    norm = Window.partitionBy("doc_id")
    return (w.withColumn("__l2", F.sqrt(F.sum(F.col("w_raw") ** 2)
                                         .over(norm)))
             .select("doc_id", "token",
                     (F.col("w_raw") / F.col("__l2")).alias("weight")))


@register("tfidf_cosine_pairs", PluginType.TRANSFORMER)
def tfidf_cosine_pairs(df: DataFrame, id_col: str, text_col: str,
                       threshold: float = 0.5,
                       max_df_frac: float | None = 0.5,
                       round_dp: int = 4,
                       prefilter: str = "none",
                       sig_df: DataFrame | None = None) -> DataFrame:
    """Document pairs with TF-IDF cosine >= threshold.  Output
    (id_a, id_b, cosine), id_a < id_b.

    Two lanes (VERDICT r6 #3):

    - ``prefilter='none'`` — the EXACT postings self-join on token ->
      groupBy(pair) dot product.  This is the oracle mode (q97 refits
      the whole model in SQL against it), but its join cardinality is
      df-pruning-bounded only: one token in f% of N docs still emits
      (fN)² rows, so it is a verification/small-corpus lane.
    - ``prefilter='minhash'`` — the 100 TB lane: MinHash-LSH candidate
      pairs first (banded equi-join, hot-bucket capped — the same
      shape as dedup.ngram_jaccard_pairs), then the postings dot
      product computed ONLY for candidate pairs.  The shuffle is
      bounded by |candidates| x avg postings, not by token df.  Cosines
      reported are exact; recall follows the LSH banding curve (high
      near-duplicate pairs share shingles, hence buckets).

    ``sig_df`` (prefilter lanes only): a precomputed MinHash signature
    table (doc_id, sig) covering ``df``'s ids — the output contract of
    ``dedup.minhash_signatures`` (xxhash64, 64 hashes) for
    ``prefilter='minhash'`` or ``dedup.minhash_signatures_md5`` (16
    hashes) for ``'minhash_md5'``.  Callers whose input replicates one
    text under several ids compute each distinct text's signature ONCE
    below the id-explode and plant the ids over (doc_id, sig) rows
    (guide §1.2); the candidate set is bit-identical to the inline path
    (tests pin exact set equality).  A ``sig`` of any other width fails
    the job that consumes the result.
    """
    if sig_df is not None and prefilter == "none":
        raise ValueError("sig_df only applies to the minhash prefilter "
                         "lanes (prefilter='none' never computes "
                         "signatures)")
    p = tfidf_postings(df, id_col, text_col, max_df_frac=max_df_frac)
    left = p.select(F.col("doc_id").alias("id_a"), "token",
                    F.col("weight").alias("w_a"))
    right = p.select(F.col("doc_id").alias("id_b"), "token",
                     F.col("weight").alias("w_b"))
    if prefilter in ("minhash", "minhash_md5"):
        if sig_df is None:
            cand_in, cand_id, cand_text, sig_kw = df, id_col, text_col, {}
        else:
            # a wrong-width table would band silently and lose recall;
            # the check rides the signature projection (no extra job)
            n = 16 if prefilter == "minhash_md5" else 64
            cand_in = sig_df.withColumn("sig", F.when(
                F.size("sig") != n, F.raise_error(F.lit(
                    f"sig_df rows must hold {n} hashes for "
                    f"prefilter={prefilter!r}"))).otherwise(F.col("sig")))
            cand_id, cand_text, sig_kw = "doc_id", None, {"sig_col": "sig"}
        if prefilter == "minhash_md5":
            # cross-engine candidate generation (dedup.py md5 family):
            # an external engine can recompute the candidate set AND
            # the cosines, so this lane is value-oracled (q353); same
            # banded shape and recall behavior as the xxhash64 lane.
            from niamoto_spark.operators.dedup import \
                minhash_lsh_candidates_md5

            cand = (minhash_lsh_candidates_md5(cand_in, cand_id,
                                               cand_text,
                                               num_hashes=16, bands=4,
                                               jaccard_threshold=0.0,
                                               **sig_kw)
                    .select("id_a", "id_b"))
        else:
            from niamoto_spark.operators.dedup import \
                minhash_lsh_candidates

            cand = (minhash_lsh_candidates(cand_in, cand_id, cand_text,
                                           jaccard_threshold=0.0,
                                           **sig_kw)
                    .select("id_a", "id_b"))
        dots = (cand.join(left, "id_a")
                .join(right, ["id_b", "token"])
                .groupBy("id_a", "id_b")
                .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("__dot")))
    elif prefilter == "none":
        dots = (left.join(right, "token")
                .where(F.col("id_a") < F.col("id_b"))
                .groupBy("id_a", "id_b")
                .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("__dot")))
    else:
        raise ValueError(f"unknown prefilter {prefilter!r} "
                         "(expected 'none' or 'minhash')")
    return (dots.select("id_a", "id_b",
                        F.round("__dot", round_dp).alias("cosine"))
            .where(F.col("cosine") >= threshold))


@register("keywords_per_doc", PluginType.TRANSFORMER)
def keywords_per_doc(df: DataFrame, id_col: str, text_col: str,
                     top_k: int = 3, round_dp: int = 6) -> DataFrame:
    """TF-IDF keyword extraction: each document's top-k terms by
    tf·idf with smooth idf ln(N/df) (exact, deterministic: ties break
    lexically).  The df table is the one corpus aggregation; the
    per-doc ranking window partitions by doc id — each document sorts
    only its own terms.  Output: (id, keyword, tf, df, score, rank)."""
    from pyspark.sql import Window

    tok = (df.select(F.col(id_col).alias("__doc"),
                     F.explode(F.split(F.lower(F.col(text_col)),
                                       r"\s+")).alias("t"))
           .where(F.col("t") != ""))
    tf = tok.groupBy("__doc", "t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.col(id_col)).distinct().count()
    scored = (tf.join(dfreq, "t")
              .withColumn("score",
                          F.round(F.col("tf")
                                  * F.log(F.lit(float(n_docs))
                                          / F.col("df")), round_dp)))
    w = (Window.partitionBy("__doc")
         .orderBy(F.col("score").desc(), F.col("t").asc()))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_k)
            .select(F.col("__doc").alias(id_col),
                    F.col("t").alias("keyword"), "tf", "df",
                    "score", "rank"))
