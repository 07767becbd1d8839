"""The driver contract itself: registry consistency + plan hygiene."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_registry_consistent_without_session():
    # imports and builds WITHOUT touching any SparkSession
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert len(qs) >= 70
    assert set(os_) <= set(qs)  # every oracle belongs to a query
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in os_.values())
    rows_only = set(qs) - set(os_)
    # rows-only is the exception, not the rule: approximate ANN (ivf/lsh/
    # pq/semdedup), sketches, iterative fixpoints (pagerank), procedural
    # packing, pandas-UDF/UDAF paths, incremental streaming. Each one has
    # a recall/golden/invariant pytest instead.
    assert len(rows_only) <= 13, rows_only
    # and the oracle-checked majority keeps growing, never shrinks
    assert len(os_) >= 100


#: sf0.001 row-count floors for every rows-only registry entry (round-3
#: VERDICT item 5): the driver's rows-only check cannot catch a silent
#: collapse to fewer/zero rows, so pytest pins each entry's minimum here
#: (and tools/check_oracle.py independently fails on zero). Floors are
#: ~half the observed count — loose enough for parameter drift, tight
#: enough that a broken bucket join / empty stream / dead UDF path fails.
ROWS_ONLY_FLOORS = {
    "pack_sequences": 350,  # observed 705
    "graph_pagerank": 5,  # exactly the movie-graph node count
    "events_gmean_udaf": 5,  # exactly the event-type count
    "movies_incremental_merge": 75,  # exactly the merged key count
    "sim_ivf_topk": 50,  # exactly n_queries x k
    "sim_pq_topk": 50,
    "sim_lsh_topk": 25,  # observed 50; sparse buckets may under-fill
    "semdedup_pairs": 25,  # observed 50 (planted near-dups)
    "agg_approx_sketches": 3,  # one row per region bucket
    "agg_hll_mergeable": 3,  # exactly one row per returnflag
    "bpe_learn_merges": 6,  # exactly n_merges=12 on any non-trivial corpus
    "agg_kll_quantiles": 5,  # exactly one row per event_type
    "lr_train_quality": 33,  # exactly DIM=32 weights + the bias row
}


def test_rows_only_entries_meet_row_floors(spark, sf_dir):
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    rows_only = set(qs) - set(os_)
    # every rows-only entry must have a pinned floor (adding a new
    # rows-only query without one fails here by design)
    assert rows_only == set(ROWS_ONLY_FLOORS), rows_only ^ set(ROWS_ONLY_FLOORS)
    for name, floor in ROWS_ONLY_FLOORS.items():
        n = qs[name](spark, sf_dir).count()
        assert n >= floor, f"{name}: {n} rows < floor {floor}"


def test_q6_pushes_filters_to_scan(spark, sf_dir):
    from movie_data_transformer_spark.operators.tpch_queries import q_tpch_q6_forecast_revenue

    df = q_tpch_q6_forecast_revenue(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # discount/quantity predicates must reach the parquet scan
    assert "PushedFilters: [" in plan
    assert "l_discount" in plan.split("PushedFilters: [", 1)[1][:300]


def test_plan_shapes_hold(spark, sf_dir):
    """Plan-regression pins for the designs the engine's scale story
    rests on. These are the properties a refactor could silently lose
    while oracles stay green (correctness is plan-independent; cost is
    not)."""
    import __spark_entry__ as e

    qs = e.queries()
    # pin each entry's own plan: a frame an earlier test left persisted
    # (ordered_stats persists its input) would otherwise turn a pinned
    # subplan into an InMemoryTableScan
    spark.catalog.clearCache()

    def plan_of(name):
        return qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()

    # join_multiway: every dimension side broadcasts; the fact table is
    # the only shuffled input
    p = plan_of("join_multiway")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p

    # brute-force ANN: the broadcast side is the QUERY set — the corpus
    # must never hash-shuffle before scoring (only the (q x k) local
    # top-k rows move through the ranking window)
    p = plan_of("sim_brute_topk")
    assert "BroadcastNestedLoopJoin" in p  # by design: that IS brute force
    assert "CartesianProduct" not in p

    # incremental dedup: equi-joins only — a lost join condition would
    # silently turn candidate generation into a cross product
    for name in ("dedup_incremental_minhash", "dedup_apply_filter"):
        p = plan_of(name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name

    # simhash pair expansion: single-shuffle bucket-group form — the
    # bucket aggregation plus the final distinct, and no self-join of the
    # band table (which would add a third hash exchange chain)
    p = plan_of("dedup_simhash_pairs")
    assert "CartesianProduct" not in p
    assert p.count("SortMergeJoin") == 0

    # skyline: the per-cents aggregate feeds the ordered_stats running
    # max, which broadcasts back onto the order rows; the same-cents
    # window rides the one order-row shuffle. At this scale ordered_stats
    # takes its small path, and its one SinglePartition exchange sits on
    # the aggregated per-cents table — never on order rows.
    p = plan_of("orders_skyline")
    assert p.count("Exchange") == 4, "orders_skyline"
    assert p.count("Exchange hashpartitioning") == 2, "orders_skyline"
    assert p.count("BroadcastExchange") == 1, "orders_skyline"
    assert p.count("Exchange SinglePartition") == 1, "orders_skyline"
    assert p.count("BroadcastHashJoin") == 1, "orders_skyline"
    below_single = p.split("Exchange SinglePartition", 1)[1].splitlines()[1]
    assert "HashAggregate(keys=[cents" in below_single, "orders_skyline"
    for bad in ("SortMergeJoin", "CartesianProduct"):
        assert bad not in p, ("orders_skyline", bad)

    # r7 single-exchange operators: FIFO matching (the window and the agg
    # REUSE the user_id partitioning — one exchange total), CDC apply
    # (one sort-free max_by fold), hash sampling (map-side predicate +
    # one report agg). A second Exchange creeping in means the
    # partitioning reuse broke.
    for name in (
        "events_fifo_match",
        "cdc_apply_tombstones",
        "sample_hash_threshold_report",
    ):
        p = plan_of(name)
        assert p.count("Exchange") == 1, name
        for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
            assert bad not in p, (name, bad)

    # r8 single-exchange operators: ranking eval (BOTH rank windows and
    # the per-query agg share the one source-keyed exchange), preference
    # pairs (both rank windows + the self-join ride the user_id
    # partitioning — the join of two rank-1 slices of the SAME
    # partitioned frame must not re-shuffle), span corruption (one
    # doc-keyed island window; the zero-mask left join is doc-grain on
    # the same key).
    p = plan_of("search_ndcg_at_k")
    assert p.count("Exchange") == 1, "search_ndcg_at_k"
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in p, ("search_ndcg_at_k", bad)
    p = plan_of("search_mrr_map")
    assert p.count("Exchange") == 1, "search_mrr_map"
    p = plan_of("pref_pairs_build")
    assert p.count("Exchange hashpartitioning") == 1, "pref_pairs_build"
    assert "CartesianProduct" not in p
    # purchase filter must reach the parquet scan
    assert "PushedFilters: [" in p and "purchase" in p, "pref_pairs_build"

    # r8 map-side operators: readability scoring and PSI binning are
    # scan + (at most) one small-domain agg — a join or window creeping
    # in means the fused-projection design broke
    for name in ("text_readability_scores", "score_psi_bins"):
        p = plan_of(name)
        for bad in ("SortMergeJoin", "CartesianProduct", "Window"):
            assert bad not in p, (name, bad)

    # nearest as-of: the sort-merge-asof shape — ONE user shuffle, both
    # fill windows on it, and NO view x purchase join ever forms
    p = plan_of("asof_nearest_view_purchase")
    assert p.count("Exchange hashpartitioning") == 1
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in p, ("asof_nearest_view_purchase", bad)

    # fertility: lang/n_chars carry through the encode projection — one
    # scan, one agg, ZERO joins (a join back to documents would ship the
    # whole dimension at scale)
    p = plan_of("bpe_fertility_by_lang")
    assert p.count("Scan parquet") == 1
    for bad in ("Join", "Window"):
        assert bad not in p, ("bpe_fertility_by_lang", bad)

    # r9 additions to the pin set (r08 VERDICT advice #3 — deepen
    # evidence on the r8 families that lacked a plan pin):
    # DSIR selection: the <=1024-row LLR weight table comes back as ONE
    # broadcast — a shuffle join here would re-partition the whole corpus
    # by hash bucket (the exact skew the broadcast design avoids)
    p = plan_of("dsir_topk_selection")
    assert p.count("BroadcastHashJoin") == 1, "dsir_topk_selection"
    for bad in ("SortMergeJoin", "CartesianProduct"):
        assert bad not in p, ("dsir_topk_selection", bad)

    # Hill tail index: the rank window must keep its WindowGroupLimit —
    # that's the map-side top-(k+1) pruning the docstring's scale story
    # rests on (losing it ships EVERY row per type through the shuffle)
    p = plan_of("stats_hill_tail_index")
    assert "WindowGroupLimit" in p, "stats_hill_tail_index"
    assert "SortMergeJoin" not in p, "stats_hill_tail_index"

    # S-stemmer: a pure Catalyst CASE chain — any Python evaluation node
    # means the no-UDF design regressed to the slow path
    p = plan_of("text_sstem_vocab_reduction")
    for bad in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert bad not in p, ("text_sstem_vocab_reduction", bad)

    # Markov typicality + entropy rate: the tiny model table (transition
    # matrix / per-type ln constants) broadcasts back to the big side
    for name in ("events_markov_user_typicality", "text_entropy_rate_by_lang"):
        p = plan_of(name)
        assert p.count("BroadcastHashJoin") == 1, name
        assert "SortMergeJoin" not in p, name

    # r10 additions to the pin set (r9 VERDICT advice #3 — pin the r7
    # families entering the driver window this round):
    # stratified quota sampling: ONE stratum shuffle carries both the
    # rank window and the quota window — no join anywhere (a join-based
    # quota lookup would ship the stratum table per-row at scale)
    p = plan_of("sample_stratified_exact_quota")
    assert p.count("Exchange hashpartitioning") == 1, "sample_stratified"
    assert "Join" not in p, "sample_stratified_exact_quota"

    # equi-depth histogram: the documented exact-order-statistic choice —
    # one global-order exchange, one window, zero joins (SCALE.md's KLL
    # swap note applies at extreme SF; the SHAPE must not silently grow
    # a join or a second exchange)
    p = plan_of("stats_equidepth_histogram")
    assert p.count("Exchange") == 1, "stats_equidepth_histogram"
    assert "Join" not in p, "stats_equidepth_histogram"

    # TTL throttle: one (user, event_type) shuffle into ONE JVM fold —
    # collect_list (partial + final ObjectHashAggregate) then aggregate()
    # over the sorted events. No Python evaluation node and no join
    # (state lives in the fold's accumulator).
    p = plan_of("events_throttle_ttl")
    assert p.count("Exchange hashpartitioning") == 1, "events_throttle_ttl"
    assert p.count("ObjectHashAggregate") == 2, "events_throttle_ttl"
    for bad in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython", "Join"):
        assert bad not in p, ("events_throttle_ttl", bad)

    # Fellegi-Sunter linkage + Kendall concordance: every join
    # broadcasts (m/u weight tables are parameter-sized; the concordance
    # fold joins only a per-year scalar) — a SortMergeJoin appearing
    # means a model table started shuffling the fact side
    for name in ("er_fellegi_sunter", "stats_kendall_by_year"):
        p = plan_of(name)
        assert "SortMergeJoin" not in p, name
        assert "CartesianProduct" not in p, name

    # rolling-origin backtest: the day grain collapses BEFORE the single
    # ordered window — one day-grain exchange plus the (|days|-row)
    # global sort only
    p = plan_of("forecast_backtest_daily")
    assert p.count("Exchange hashpartitioning") == 1, "forecast_backtest"
    assert "Join" not in p, "forecast_backtest_daily"

    # item-item top-k: the rank windows must keep their map-side
    # WindowGroupLimit pruning (losing it ships every candidate pair
    # through the shuffle instead of k per item)
    p = plan_of("movies_item_item_topk")
    assert "WindowGroupLimit" in p, "movies_item_item_topk"
    assert "CartesianProduct" not in p, "movies_item_item_topk"


def test_text_feature_vocabulary_has_one_spark_home():
    """The Spark spellings of the md5 feature hash and of the
    hashed-linear logit live only in operators/text.py; every other
    module formats PORTABLE_HASH_SPARK_SQL / HASHED_LOGIT_SPARK_SQL or
    calls portable_hash. `conv` is Spark-only, so the DuckDB oracle
    twins never match the hash check; the logit's DuckDB twins are told
    apart by their '0x' hash."""
    import pathlib
    import re

    import movie_data_transformer_spark

    root = pathlib.Path(movie_data_transformer_spark.__file__).parent
    home = root / "operators" / "text.py"
    hashes = ("conv(substr(md5", "conv(substring(md5", "F.conv(F.substring(F.md5")
    logit = "%2001)-1000"
    duck_logit = "CAST('0x'||substr(md5(x),1,8)ASBIGINT)" + logit
    # the patterns must match the one home, or the check below is vacuous
    assert hashes[0] in re.sub(r"\s+", "", home.read_text())
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == home:
            continue
        src = re.sub(r"\s+", "", path.read_text())
        if any(h in src for h in hashes) or src.count(logit) != src.count(duck_logit):
            offenders.append(str(path.relative_to(root)))
    assert offenders == []


def test_all_queries_have_lowercase_unique_columns(spark, sf_dir):
    """Column-name discipline: the driver sorts by name before hashing —
    duplicated or case-colliding names would corrupt the comparison."""
    import __spark_entry__ as e

    for name, fn in e.queries().items():
        cols = fn(spark, sf_dir).columns
        assert len(cols) == len({c.lower() for c in cols}), f"{name}: {cols}"


def test_no_registered_query_returns_container_columns(spark, sf_dir):
    """Driver-canon schema contract (r06 VERDICT item 1): the driver
    canonicalizes results with pandas `sort_values`, which raises
    `TypeError: unhashable type: 'list'` on list/dict cells — proven
    twice (r01 agg_approx_sketches, r06 emb_int8_quantize). So NO
    registered query may expose a top-level ArrayType/MapType/StructType
    column: serialize containers (array_join / to_json) at the registry
    surface and keep typed arrays on the library functions."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    import __spark_entry__ as e

    bad = []
    for name, fn in e.queries().items():
        for f in fn(spark, sf_dir).schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not bad, bad


def test_no_query_plans_a_cartesian_product(spark, sf_dir):
    """Registry-WIDE scale guarantees, one compile pass (~3.5 min):

    1. No entry's physical plan may contain CartesianProduct — the one
       join shape that cannot survive a 100x scale-up
       (BroadcastNestedLoopJoin is deliberately allowed: the brute-force
       ANN and scalar-bound theta joins broadcast a SMALL side by
       design). First run as an ad-hoc sweep in r8, promoted to a
       contract test so a lost join condition anywhere fails loudly
       rather than at 100 TB.
    2. (r9) No entry may plan a scalar BatchEvalPython — the pickled
       row-at-a-time Python UDF path. Every scalar Python touchpoint in
       the registry is Arrow-batched (ArrowEvalPython / mapInPandas /
       FlatMapGroupsInPandas / SCALAR_ITER), including the deliberate
       scalar-UDF surface demo (useArrow=True). A BatchEvalPython node
       means someone added a bare @udf to a hot path. The
       BatchEvalPythonUDTF node is excluded: Python UDTFs are row-based
       by Spark's spec, and the three UDTF entries are declared surface
       demos (text_chunks_udtf, udtf_table_partitioned,
       udtf_polymorphic_columns), not hot-path operators.
    """
    import re

    import __spark_entry__ as e

    scalar_batch_eval = re.compile(r"BatchEvalPython(?!UDTF)")
    cartesian, row_udf = [], []
    for name, fn in e.queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if scalar_batch_eval.search(plan):
            row_udf.append(name)
    assert cartesian == []
    assert row_udf == []
