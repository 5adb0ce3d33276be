"""N-gram language-model perplexity scoring for corpus quality filtering.

CCNet / Dolma-style pipelines rank web documents by the perplexity of a
small n-gram LM and keep the low-perplexity (fluent) tail.  The usual
recipe trains KenLM offline; on Spark the same statistic distributes
directly — fit bigram/unigram counts with two aggregations, score every
document with one join, never leaving the JVM:

- fit: tokens -> (BOS-padded) bigrams -> ``groupBy(w1, w2).count`` and
  ``groupBy(w1).count`` + vocabulary size V;
- score: each doc's bigrams LEFT-join the count tables (unseen bigrams
  hit add-k smoothing mass) and average
  ``ln((c(w1,w2)+k) / (c(w1)+k·V))`` — the per-doc mean log-probability;
  perplexity = exp(-mean).

Both count tables grow with vocabulary, not tokens — but on web corpora
the bigram TYPE table is itself huge (KenLM models run to tens of GB),
so the scoring joins carry NO broadcast hint: they key on (w1, w2) /
(w1), the same partitioning the count aggregations produced, and AQE
still broadcasts when a table is genuinely small.  Everything is
closed-form rational arithmetic, so the whole fit+score round-trips as
a DuckDB SQL refit (q129's oracle replays fit AND score in SQL).

The reference has no LM scoring (closest is its quality heuristics,
src/niamoto/core/plugins — covered by operators/text.py); this is an
extension-brief operator for the training-data lane.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from niamoto_spark.registry import PluginType, register

BOS = "\x02"  # sentinel outside the \s+ token alphabet


def _bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) bigram stream, BOS-padded, built with higher-order
    array functions — no UDF, no per-row Python."""
    toks = df.select(
        F.col(id_col),
        F.concat(F.array(F.lit(BOS)),
                 F.split(F.lower(F.col(text_col)), r"\s+")).alias("toks"))
    return (toks
            .select(id_col, F.expr(
                "explode(transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i-1] AS w1, toks[i] AS w2)))").alias("bg"))
            .select(id_col, F.col("bg.w1").alias("w1"),
                    F.col("bg.w2").alias("w2")))


def fit_bigram_lm(df: DataFrame, text_col: str,
                  id_col: str) -> tuple[DataFrame, DataFrame, int]:
    """(bigram_counts, unigram_counts, vocab_size).

    Counts are plain hash aggregations over the bigram stream; V counts
    distinct *successor* tokens (BOS excluded), matching the smoothing
    denominator's event space."""
    bg = _bigrams(df, id_col, text_col)
    bigram_counts = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    unigram_counts = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = bg.select("w2").distinct().count()
    return bigram_counts, unigram_counts, vocab


@register("lm_perplexity_score", PluginType.TRANSFORMER)
def lm_perplexity_score(df: DataFrame, text_col: str, id_col: str,
                        add_k: float = 0.5,
                        bigram_counts: DataFrame | None = None,
                        unigram_counts: DataFrame | None = None,
                        vocab_size: int | None = None) -> DataFrame:
    """Per-document mean log-probability under an add-k-smoothed bigram
    LM (self-fit on ``df`` when no model is passed).

    Returns (id_col, n_bigrams, avg_logprob, perplexity).  Lower
    perplexity = more fluent under the corpus model; filter with e.g.
    ``result.where('perplexity < t')`` or an approx-quantile cut.

    Scale shape: the count-table joins carry no broadcast hint — on a
    web corpus the bigram-type table is NOT broadcastable (it grows
    with vocabulary², KenLM-model sized); the joins key on the same
    columns the count aggregations shuffled on, and AQE broadcasts
    when a table is actually small.  The final per-doc re-aggregation
    re-uses the natural doc-id key."""
    if bigram_counts is None or unigram_counts is None or vocab_size is None:
        bigram_counts, unigram_counts, vocab_size = fit_bigram_lm(
            df, text_col, id_col)
    bg = _bigrams(df, id_col, text_col)
    scored = (bg
              .join(bigram_counts, ["w1", "w2"], "left")
              .join(unigram_counts, ["w1"], "left")
              .select(
                  id_col,
                  F.log(
                      (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(add_k)) /
                      (F.coalesce(F.col("c1"), F.lit(0)) +
                       F.lit(add_k) * F.lit(float(vocab_size)))
                  ).alias("lp")))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_bigrams"),
                 F.avg("lp").alias("avg_logprob"))
            .withColumn("perplexity", F.exp(-F.col("avg_logprob"))))


@register("kn_logprob_score", PluginType.TRANSFORMER)
def kn_logprob_score(df: DataFrame, text_col: str, id_col: str,
                     discount: float = 0.75) -> DataFrame:
    """Per-document mean log-probability under an interpolated
    Kneser-Ney bigram model (the KenLM/SRILM smoothing that add-k
    approximates badly):

        P(w2|w1) = max(c12 - D, 0)/c1
                   + (D * N1+(w1,.)/c1) * (N1+(.,w2) / B)

    where N1+(w1,.) is the number of distinct successors of w1,
    N1+(.,w2) the number of distinct predecessors of w2 (the
    "continuation" count — how many contexts w2 completes, the KN
    insight), and B the number of distinct bigram types.

    Everything is counting: the model is THREE aggregations over the
    bigram-type table (which is itself one aggregation over the bigram
    stream); scoring re-streams the corpus once.  No broadcast hints —
    the bigram-type table grows with vocabulary² (not broadcastable on
    a web corpus); the joins are key-aligned with the aggregations and
    AQE broadcasts the genuinely small ones.  An external SQL engine
    refits the identical model (the oracle does).

    Returns (id_col, n_bigrams, avg_logprob).
    """
    bg = _bigrams(df, id_col, text_col)
    bgc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    bgc = bgc.localCheckpoint(eager=True)  # three consumers below
    c1 = bgc.groupBy("w1").agg(F.sum("c12").alias("c1"),
                               F.count("*").alias("n1p_fw"))
    cont = bgc.groupBy("w2").agg(F.count("*").alias("n1p_bw"))
    n_types = bgc.count()

    d = float(discount)
    p = (F.greatest(F.col("c12") - F.lit(d), F.lit(0.0)) / F.col("c1") +
         (F.lit(d) * F.col("n1p_fw") / F.col("c1")) *
         (F.col("n1p_bw") / F.lit(float(n_types))))
    scored = (bg.join(bgc, ["w1", "w2"])
                .join(c1, "w1")
                .join(cont, "w2")
                .select(id_col, F.log(p).alias("lp")))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_bigrams"),
                 F.avg("lp").alias("avg_logprob")))


@register("pmi_collocations", PluginType.TRANSFORMER)
def pmi_collocations(df: DataFrame, id_col: str, text_col: str,
                     min_count: int = 5) -> DataFrame:
    """Pointwise-mutual-information collocation mining (the classic
    Church & Hanks bigram statistic): PMI(a,b) = ln( p(a,b) /
    (p(a)·p(b)) ) with p(a,b) over the bigram stream and p(a) over the
    unigram stream.  High-PMI pairs are multiword expressions
    ("new york", "machine learning") — the units a tokenizer or phrase
    vocabulary should not split.

    Distribution: two hash aggregations (unigram counts, bigram
    counts) + two broadcast-sized scalar totals folded in as literals
    via cross-joined 1-row frames; the unigram table joins back twice
    by key.  ``min_count`` prunes the long tail before the joins, so
    the PMI join runs over the (tiny) frequent-bigram set.  No BOS
    padding — PMI is only meaningful over real token pairs.
    """
    toks = (df.select(F.col(id_col),
                      F.split(F.lower(F.col(text_col)), r"\s+")
                      .alias("toks"))
            .select(F.col(id_col), F.expr(
                "filter(toks, t -> t != '')").alias("toks")))
    uni = (toks.select(F.explode("toks").alias("t"))
           .groupBy("t").agg(F.count(F.lit(1)).alias("cu")))
    # explicit >= 2 guard: sequence(1, 0) steps DOWNWARD ([1, 0]) and
    # greatest() skips a NULL size, so short/NULL docs would emit
    # phantom (token, NULL) bigrams that inflate the N_bigrams total
    bi = (toks.select(F.expr(
        "explode(CASE WHEN size(toks) >= 2 THEN "
        "transform(sequence(1, size(toks) - 1), "
        "i -> struct(toks[i-1] AS a, toks[i] AS b)) "
        "ELSE array() END)").alias("bg"))
        .select("bg.a", "bg.b")
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("cab")))
    n_uni = uni.agg(F.sum("cu").alias("nu"))
    n_bi = bi.agg(F.sum("cab").alias("nb"))
    freq = bi.where(F.col("cab") >= min_count)
    # The full unigram table is corpus-vocabulary sized — never
    # broadcast it.  Any token in a frequent bigram has cu >= cab >=
    # min_count, so pruning uni by the same threshold keeps every row
    # the join needs while shrinking it to the frequent vocabulary.
    uni_f = uni.where(F.col("cu") >= min_count)
    pmi = (freq
           .join(F.broadcast(uni_f.withColumnRenamed("t", "a")
                             .withColumnRenamed("cu", "ca")), "a")
           .join(F.broadcast(uni_f.withColumnRenamed("t", "b")
                             .withColumnRenamed("cu", "cb")), "b")
           .crossJoin(F.broadcast(n_uni))
           .crossJoin(F.broadcast(n_bi))
           .select("a", "b", "cab",
                   (F.log(F.col("cab") / F.col("nb"))
                    - F.log(F.col("ca") / F.col("nu"))
                    - F.log(F.col("cb") / F.col("nu"))).alias("pmi")))
    return pmi


@register("ppmi_vectors", PluginType.TRANSFORMER)
def ppmi_vectors(df: DataFrame, id_col: str, text_col: str,
                 window: int = 2, min_count: int = 5) -> DataFrame:
    """Sparse PPMI word vectors from skip-gram co-occurrence — the
    count-based distributional embedding (Levy & Goldberg showed
    word2vec SGNS factorizes exactly this matrix).  For every token
    position, contexts are the tokens within ±``window`` (self
    excluded); ppmi(w,c) = max(0, ln( #(w,c)·S / (#(w)·#(c)) )) over
    the pair stream, kept only for pairs with count >= ``min_count``.

    The ±window expansion is pure higher-order array functions — one
    explode of in-document index pairs, no position self-join — and
    the marginals are window-free aggregations.  Output: (w, c, n_wc,
    ppmi) — the nonzero entries of the PPMI matrix, ready for a
    sparse-join cosine."""
    toks = (df.select(F.expr(
        f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')")
        .alias("toks")))
    pair_expr = (
        "flatten(transform(sequence(1, size(toks)), i -> "
        f"transform(filter(sequence(greatest(i - {window}, 1), "
        f"least(i + {window}, size(toks))), j -> j != i), "
        "j -> struct(toks[i-1] AS w, toks[j-1] AS c))))")
    pairs = (toks.where(F.size("toks") > 0)
             .select(F.explode(F.expr(pair_expr)).alias("p"))
             .select("p.w", "p.c")
             .groupBy("w", "c").agg(F.count(F.lit(1)).alias("n_wc")))
    w_marg = pairs.groupBy("w").agg(F.sum("n_wc").alias("n_w"))
    c_marg = pairs.groupBy("c").agg(F.sum("n_wc").alias("n_c"))
    total = pairs.agg(F.sum("n_wc").alias("s"))
    freq = pairs.where(F.col("n_wc") >= min_count)
    # marginals pruned before broadcast, same guard as pmi_collocations
    w_f = w_marg.where(F.col("n_w") >= min_count)
    c_f = c_marg.where(F.col("n_c") >= min_count)
    ppmi = (F.log(F.col("n_wc").cast("double")) + F.log(F.col("s"))
            - F.log(F.col("n_w")) - F.log(F.col("n_c")))
    return (freq.join(F.broadcast(w_f), "w")
            .join(F.broadcast(c_f), "c")
            .crossJoin(F.broadcast(total))
            .select("w", "c", "n_wc",
                    F.greatest(ppmi, F.lit(0.0)).alias("ppmi"))
            .where(F.col("ppmi") > 0))


def ppmi_token_similarity(vectors: DataFrame, topk: int = 15,
                          round_dp: int = 4) -> DataFrame:
    """Cosine similarity between every token pair that shares at least
    one context, over the sparse PPMI vectors: a postings-style join
    on the context column (the tfidf.py inverted-index shape), norms
    from one aggregation.  Output: top-``topk`` (w_a, w_b, cosine)
    with w_a < w_b, tie-broken lexically."""
    norms = (vectors.groupBy("w")
             .agg(F.sqrt(F.sum(F.col("ppmi") * F.col("ppmi")))
                  .alias("norm")))
    a = vectors.select(F.col("w").alias("w_a"), "c",
                       F.col("ppmi").alias("pa"))
    b = vectors.select(F.col("w").alias("w_b"), "c",
                       F.col("ppmi").alias("pb"))
    dots = (a.join(b, "c")
            .where(F.col("w_a") < F.col("w_b"))
            .groupBy("w_a", "w_b")
            .agg(F.sum(F.col("pa") * F.col("pb")).alias("dot")))
    sim = (dots
           .join(norms.select(F.col("w").alias("w_a"),
                              F.col("norm").alias("na")), "w_a")
           .join(norms.select(F.col("w").alias("w_b"),
                              F.col("norm").alias("nb")), "w_b")
           .select("w_a", "w_b",
                   F.round(F.col("dot") / (F.col("na") * F.col("nb")),
                           round_dp).alias("cosine")))
    # TakeOrderedAndProject, not a global window: the pair table never
    # funnels through one task
    return sim.orderBy(F.col("cosine").desc(), "w_a", "w_b").limit(topk)


@register("good_turing_counts", PluginType.TRANSFORMER)
def good_turing_counts(df: DataFrame, id_col: str, text_col: str,
                       max_r: int = 10) -> DataFrame:
    """Good-Turing adjusted token counts: r* = (r+1)·S(r+1)/S(r) where
    S(r) is the frequency-of-frequencies (how many token types occur
    exactly r times) — the classic smoothing that reallocates mass
    toward unseen events, and the diagnostic table (singleton fraction
    = unseen-mass estimate) every corpus report should carry.

    Two aggregations: token counts, then counts-of-counts; the S table
    is at most max-frequency rows and the adjustment is scalar algebra
    over it.  Rows with r > ``max_r`` keep their raw count (the
    standard cutoff — S(r) is too sparse up there to divide by).
    Output: (r, s_r, r_star) for r <= max_r, plus the raw tail rows
    aggregated as r_star = r."""
    freq = (df.select(F.explode(F.split(F.lower(F.col(text_col)),
                                        r"\s+")).alias("t"))
            .where(F.col("t") != "")
            .groupBy("t").agg(F.count(F.lit(1)).alias("r")))
    s = freq.groupBy("r").agg(F.count(F.lit(1)).alias("s_r"))
    nxt = s.select((F.col("r") - 1).alias("r"),
                   F.col("s_r").alias("s_r1"))
    joined = s.join(nxt, "r", "left")
    r_star = F.when(
        (F.col("r") <= max_r) & F.col("s_r1").isNotNull(),
        (F.col("r") + 1) * F.col("s_r1")
        / F.col("s_r").cast("double")) \
        .otherwise(F.col("r").cast("double"))
    return joined.select("r", "s_r", r_star.alias("r_star"))
