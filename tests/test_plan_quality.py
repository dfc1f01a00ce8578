"""Plan-quality gates: would this plan survive 100 TB? Pins the physical
strategies the engine relies on — pushdown, broadcast, bounded-heap
top-k, no Python in hot paths — the way the reference's
force_vector_engine.sql suites pin its vectorized plan shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opengauss_vectordb_spark import registry
from opengauss_vectordb_spark.plans.explain import (
    has_pushed_filter,
    physical_plan,
    python_eval_nodes,
    uses_broadcast_join,
    uses_take_ordered,
)

registry.load_all_queries()
from opengauss_vectordb_spark.registry import QUERIES  # noqa: E402

from .conftest import SF_CORRECT  # noqa: E402


def test_q6_filters_pushed_to_parquet(spark):
    df = QUERIES["tpch_q6"](spark, SF_CORRECT)
    # date + quantity + discount predicates must reach the parquet scan
    assert has_pushed_filter(df, "l_shipdate")
    assert has_pushed_filter(df, "l_quantity")


def test_q5_broadcasts_dimensions(spark):
    df = QUERIES["tpch_q5"](spark, SF_CORRECT)
    assert uses_broadcast_join(df)


def test_q3_topk_is_bounded_heap(spark):
    df = QUERIES["tpch_q3_adapted"](spark, SF_CORRECT)
    assert uses_take_ordered(df), "ORDER BY+LIMIT must be TakeOrderedAndProject"


def test_knn_is_single_pass_heap(spark):
    df = QUERIES["knn_l2"](spark, SF_CORRECT)
    assert uses_take_ordered(df)
    assert python_eval_nodes(df) == 0, "distance must stay JVM-side"


def test_no_python_in_hot_paths(spark):
    for name in ["tpch_q1", "tpch_q5", "dedup_minhash_lsh", "text_simhash",
                 "knn_cosine", "vector_avg_by_label"]:
        df = QUERIES[name](spark, SF_CORRECT)
        assert python_eval_nodes(df) == 0, f"{name} has row-at-a-time Python"


def test_db4ai_train_is_single_aggregation_pass(spark):
    from opengauss_vectordb_spark.plans.explain import exchange_count

    # OLS training = ONE partial/final hash aggregate (one shuffle); the
    # scoring queries are pure map stages (zero shuffles before the sort)
    df = QUERIES["db4ai_linreg_ols"](spark, SF_CORRECT)
    assert exchange_count(df) <= 2  # agg + final orderBy range exchange
    assert python_eval_nodes(df) == 0
    for name in ["db4ai_predict_scoring", "db4ai_pca_project"]:
        assert python_eval_nodes(QUERIES[name](spark, SF_CORRECT)) == 0


def test_bucketed_join_has_no_prejoin_exchange(spark):
    from opengauss_vectordb_spark.plans.explain import exchange_count
    from opengauss_vectordb_spark.sources.bucketed import bucketed_tables

    ob, lb = bucketed_tables(spark, SF_CORRECT)
    o, li = spark.table(ob), spark.table(lb)
    # at test SF the optimizer would broadcast the small side, hiding the
    # property under test — force the merge join a 100 TB fact⋈fact pair
    # would use, and pin that bucketing removes its shuffles AND sorts
    joined = o.hint("merge").join(li, li.l_orderkey == o.o_orderkey).select(
        "o_orderkey", "l_extendedprice"
    )
    plan = physical_plan(joined)
    assert "SortMergeJoin" in plan
    # zero Exchange is the 100 TB win (a partition-LOCAL sort remains —
    # buckets span >1 file at this SF — but no data moves between tasks)
    assert exchange_count(joined) == 0, plan
    assert "Bucketed: true" in plan, plan


def test_column_pruning_reaches_scan(spark):
    from opengauss_vectordb_spark.catalog import table

    df = table(spark, SF_CORRECT, "lineitem").select("l_orderkey", "l_quantity")
    plan = physical_plan(df)
    # ReadSchema must not include unprojected columns
    assert "l_extendedprice" not in plan


def test_ann_catalog_routes_to_ivf(spark, tmp_path):
    import numpy as np

    from opengauss_vectordb_spark.plans.ann_rewrite import AnnCatalog
    from opengauss_vectordb_spark.vector.ivf import IvfIndex

    rng = np.random.default_rng(3)
    vecs = rng.random((1000, 3)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id BIGINT, v ARRAY<FLOAT>",
    )
    idx = IvfIndex.build(df, "v", str(tmp_path / "idx"), lists=10, max_iter=10)
    cat = AnnCatalog()
    cat.register("items", "v", idx)

    q = [0.5, 0.5, 0.5]
    routed = cat.topk(spark, "items", df, "v", q, k=5, metric="l2", probes=10,
                      id_col="id")
    exact = cat.topk(spark, "missing", df, "v", q, k=5, metric="l2", id_col="id")
    # probes = lists → IVF must equal the exact scan
    assert [r.id for r in routed.collect()] == [r.id for r in exact.collect()]
    # metric mismatch falls back to exact
    fallback = cat.topk(spark, "items", df, "v", q, k=5, metric="cosine",
                        id_col="id")
    assert fallback.count() == 5


@pytest.mark.parametrize(
    "name",
    [
        "tpch_q1",
        # round-4 additions with float/decimal aggregation paths
        "incremental_agg_merge",
        "pack_sequences_report",
        "events_anomaly_zscore",
        "salted_skew_join",
        "fts_bm25_query",
        # round-4 second wave: order-sensitive aggregates and
        # fraction-producing pipeline stats
        "agg_ordered_concat",
        "setop_all_multiplicity",
        "text_repetition_filter",
        "source_mix_rebalance",
    ],
)
def test_results_shuffle_order_independent(spark, name):
    """The decimal-cast convention promise: identical results under a
    different shuffle partitioning (what a 1000-executor cluster would
    produce vs local[32])."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    base = sorted(map(tuple, QUERIES[name](spark, SF_CORRECT).collect()))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        alt = sorted(map(tuple, QUERIES[name](spark, SF_CORRECT).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert base == alt


def test_partitioned_write_prunes(spark, tmp_path):
    """write_partitionBy layout → a filter on the partition column must
    show up as PartitionFilters (pruned at the source, not post-scan)."""
    from opengauss_vectordb_spark.catalog import table
    from opengauss_vectordb_spark.plans.explain import formatted_plan
    from opengauss_vectordb_spark.sources.readers import write_partitioned_parquet

    ev = table(spark, SF_CORRECT, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    out = str(tmp_path / "events_part")
    write_partitioned_parquet(ev, out, ["event_date"])
    back = spark.read.parquet(out).filter(F.col("event_date") == "2024-01-05")
    plan = formatted_plan(back)
    assert "PartitionFilters" in plan
    # the partition predicate must appear in PartitionFilters, and the
    # filtered count must match the source
    expected = ev.filter(F.to_date("ts") == "2024-01-05").count()
    assert back.count() == expected


def test_sql_broadcast_hint(spark):
    """/*+ BROADCAST */ hint surface (hint_gram.y analogue)."""
    from opengauss_vectordb_spark.catalog import register_views

    register_views(spark, SF_CORRECT)
    df = spark.sql(
        """SELECT /*+ BROADCAST(n) */ n.n_name, COUNT(*) AS c
           FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
           GROUP BY n.n_name"""
    )
    assert uses_broadcast_join(df)


def test_inlist_to_join_rewrite(spark):
    """qrw_inlist2join analogue: small list = pushed predicate, huge list
    = broadcast semi join; results identical."""
    from opengauss_vectordb_spark.catalog import table
    from opengauss_vectordb_spark.plans.hints import in_list_filter

    li = table(spark, SF_CORRECT, "lineitem")
    small = in_list_filter(li, "l_partkey", [1, 2, 3])
    assert has_pushed_filter(small, "l_partkey")

    big_vals = list(range(0, 1500))
    big = in_list_filter(li, "l_partkey", big_vals, threshold=512)
    assert uses_broadcast_join(big)
    expected = li.filter(F.col("l_partkey").isin(big_vals)).count()
    assert big.count() == expected


def test_clustered_write_rowgroup_stats(spark, tmp_path):
    """Cluster-on-write gives tight row-group min/max (cstore_psort
    analogue): sorted stats ranges must not all overlap."""
    from opengauss_vectordb_spark.catalog import table
    from opengauss_vectordb_spark.sources.readers import write_clustered_parquet

    li = table(spark, SF_CORRECT, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    out = str(tmp_path / "clustered")
    write_clustered_parquet(li, out, ["ship_year"], ["l_partkey"])
    back = spark.read.parquet(out)
    assert back.count() == li.count()
    # inside one partition, files are sorted by l_partkey: read one file
    # and confirm monotone non-decreasing order
    import glob

    files = glob.glob(f"{out}/ship_year=*/part-*.parquet")
    assert files
    import pyarrow.parquet as pq

    tbl = pq.read_table(files[0], columns=["l_partkey"]).to_pydict()["l_partkey"]
    assert tbl == sorted(tbl)


def test_fts_prunes_to_id_and_text(spark):
    # full-text match must not read lang/source/n_chars: the scan's
    # ReadSchema is the proof the 100 TB corpus scan moves 2 columns
    df = QUERIES["fts_match_rank"](spark, SF_CORRECT)
    plan = physical_plan(df)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all(
        "lang" not in ln and "source" not in ln for ln in read
    ), plan
    assert python_eval_nodes(df) == 0


def test_new_queries_stay_jvm_side(spark):
    for name in ["range_types_overlap", "json_build_each"]:
        df = QUERIES[name](spark, SF_CORRECT)
        assert python_eval_nodes(df) == 0, f"{name} has row-at-a-time Python"


def test_interval_join_is_equi_join(spark):
    """The time-bounded event join must plan as an equi-join on
    (user, bin) — a range-only join would be a nested-loop/cartesian,
    which is the O(n²) shape that cannot run at corpus scale."""
    df = QUERIES["events_interval_join"](spark, SF_CORRECT)
    plan = physical_plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert python_eval_nodes(df) == 0


def test_connected_components_plan_depth_constant(spark):
    """The min-label-propagation loop persists each iteration's labels:
    the returned plan must read the LAST iteration's in-memory relation,
    not a join chain proportional to iteration count — the lineage
    blowup that kills deep fixpoints at scale."""
    from opengauss_vectordb_spark.operators.dedup import (
        connected_components_dedup,
    )

    # a path graph 0-1-2-...-9 needs several propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a BIGINT, id_b BIGINT"
    )
    ids = spark.createDataFrame([(i,) for i in range(10)], "doc_id BIGINT")
    labels = connected_components_dedup(pairs, ids, max_iter=15)
    assert {r.cluster_id for r in labels.collect()} == {0}
    plan = physical_plan(labels)
    # constant depth: the final labels are a materialized leaf (the
    # localCheckpoint RDD), not a 15-round join chain
    assert "ExistingRDD" in plan or "Scan" in plan, plan
    assert len(plan.splitlines()) < 15, plan


def test_bpe_vocab_plan_depth_bounded(spark):
    """32 merge rounds must NOT compose a 32-fold lineage: the vocab
    frame localCheckpoints every _BPE_CHECKPOINT_EVERY rounds, so the
    returned vocab is a materialized leaf and the segment query joins
    it without replaying the merge chain — the shape a real 30k-merge
    tokenizer run needs."""
    from opengauss_vectordb_spark.operators import pipeline as P

    assert P._BPE_ROUNDS >= 32  # the gate proves the deep-loop shape
    rules, vocab = P._learn_bpe(spark, "/root/testdata/sf0.001")
    assert len(rules) == P._BPE_ROUNDS
    plan = physical_plan(vocab)
    # a materialized leaf (localCheckpoint RDD), not a fold chain
    assert "ExistingRDD" in plan, plan
    assert plan.count("aggregate(") == 0, plan
    assert len(plan.splitlines()) < 10, plan
    # memoized training: a second learn is the cached artifact
    rules2, vocab2 = P._learn_bpe(spark, "/root/testdata/sf0.001")
    assert rules2 is rules and vocab2 is vocab


def test_ivf_probe_selection_is_jvm_side(spark, tmp_path):
    """Centroid ranking for single-query search runs on the driver over
    the index's held centroid matrix, with the JVM distance kernels'
    fold order, vectorized across centroids (no per-element Python loop
    over up to 32768 centroids, no Spark job); it must pick the lists a
    distance ranking over the stored centroid table picks.  The
    bit-for-bit match with the JVM kernels for every metric, ties and
    dimension mismatches is pinned in test_job_budget.py."""
    import numpy as np

    from opengauss_vectordb_spark.vector.ivf import IvfIndex

    rng = np.random.default_rng(11)
    vecs = rng.random((400, 4)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id BIGINT, v ARRAY<FLOAT>",
    )
    idx = IvfIndex.build(df, "v", str(tmp_path / "idx"), lists=8, max_iter=10)
    got = idx._probe_lists(spark, [0.5, 0.5, 0.5, 0.5], probes=3)
    assert len(got) == 3 and len(set(got)) == 3
    # ground truth via numpy over the stored centroids
    cents = (
        spark.read.parquet(str(tmp_path / "idx" / "centroids"))
        .orderBy("list_id")
        .collect()
    )
    q = np.array([0.5, 0.5, 0.5, 0.5])
    d = {r.list_id: float(np.linalg.norm(np.array(r.centroid) - q)) for r in cents}
    want = [lid for lid, _ in sorted(d.items(), key=lambda t: (t[1], t[0]))[:3]]
    assert got == want


def test_bm25_single_stats_broadcast_no_python(spark):
    # BM25 = tf scan + one-row stats aggregate re-entering via broadcast,
    # top-k as a bounded heap; zero Python in the scoring path
    df = QUERIES["fts_bm25"](spark, SF_CORRECT)
    assert uses_broadcast_join(df), "corpus stats must broadcast, not shuffle"
    assert uses_take_ordered(df)
    assert python_eval_nodes(df) == 0


def test_heavy_hitters_partial_agg_topk(spark):
    df = QUERIES["text_heavy_hitters"](spark, SF_CORRECT)
    plan = physical_plan(df)
    # map-side partial aggregation on the token key before the shuffle
    assert "partial_count" in plan or "HashAggregate" in plan
    assert uses_take_ordered(df), "top-k must be a heap, not a global sort"
    assert python_eval_nodes(df) == 0


def test_incremental_dedup_no_python_no_cartesian(spark):
    df = QUERIES["dedup_incremental_minhash"](spark, SF_CORRECT)
    plan = physical_plan(df)
    assert python_eval_nodes(df) == 0
    assert "CartesianProduct" not in plan, "candidate join must be band-bucketed"


def test_zorder_scan_prunes_partitions(spark):
    # the rectangle query must read a strict subset of zbuckets, with
    # the bucket filter applied as a partition filter at the source
    import json
    import math
    import os

    from opengauss_vectordb_spark.sources.zorder import (
        _zorder_layout,
        prune_buckets,
    )

    path = _zorder_layout(spark, SF_CORRECT)
    meta = json.load(open(os.path.join(path, "zorder_meta.json")))
    a_lo = math.floor(meta["a_lo"] + 0.40 * (meta["a_hi"] - meta["a_lo"]))
    a_hi = math.floor(meta["a_lo"] + 0.60 * (meta["a_hi"] - meta["a_lo"]))
    b_lo = math.floor(meta["b_lo"] + 0.30 * (meta["b_hi"] - meta["b_lo"]))
    b_hi = math.floor(meta["b_lo"] + 0.50 * (meta["b_hi"] - meta["b_lo"]))
    buckets = prune_buckets(path, (a_lo, a_hi), (b_lo, b_hi))
    assert 0 < len(buckets) < 16, f"expected strong pruning, got {len(buckets)}/64"
    df = QUERIES["zorder_pruned_scan"](spark, SF_CORRECT)
    assert "PartitionFilters" in physical_plan(df)
    assert python_eval_nodes(df) == 0


# Every registered query must keep row-at-a-time Python out of its plan.
# ArrowEvalPython (pandas UDFs) is tolerated only where declared: the
# multimodal decode plumbing, halfvec storage cast, PQ encode, and the
# Python UDTF surface, which are deliberately Python-path operators.
_ARROW_ALLOWED = {
    "plpython_function",
    "plpython_setof",
    # lazy gate return since r13 (the r12 shape collected to a local
    # relation, hiding the — intended — ArrowEvalPython node)
    "plpython_setof_composite",
    "multimodal_feature_stats",
    "knn_l2_halfvec",
    "knn_pq_rerank",
    "ivf_pq_search",
    "udtf_token_chunks",
}


def test_registry_wide_no_batch_eval_python(spark):
    sf = "/root/testdata/sf0.001"
    offenders = []
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf)
        except Exception:  # noqa: BLE001 — build failures surface elsewhere
            continue
        plan = physical_plan(df)
        if "BatchEvalPython" in plan and name not in _ARROW_ALLOWED:
            offenders.append(name)
        if "ArrowEvalPython" in plan and name not in _ARROW_ALLOWED:
            offenders.append(f"{name} (arrow)")
    assert not offenders, f"Python in query plans: {offenders}"


def test_pq_coarse_scan_prunes_vector_column(spark):
    # the ADC stage's wide scan must NOT read the float vector column —
    # that byte cut is the entire point of PQ; only the rerank join's
    # k-row side touches vectors
    from opengauss_vectordb_spark.vector.queries import (
        _ivf_pq_layout,
        _pq_books,
        QUERY_VEC,
    )
    from opengauss_vectordb_spark.vector.pq import pq_search

    books = _pq_books(spark, SF_CORRECT)
    layout = _ivf_pq_layout(spark, SF_CORRECT)
    codes = spark.read.parquet(layout)
    df = pq_search(codes, books, QUERY_VEC, k=10, rerank=100)
    plan = physical_plan(df)
    scans = [
        line
        for line in plan.splitlines()
        if "Scan parquet" in line or "FileScan" in line
    ]
    coarse_scans = [s for s in scans if "pq_codes" in s.split("ReadSchema:")[-1]]
    assert coarse_scans, "expected a codes scan"
    assert all(
        "embedding" not in s.split("ReadSchema:")[-1] for s in coarse_scans
    ), f"coarse scan reads the float vectors: {coarse_scans}"


def test_curation_ops_stay_jvm_side(spark):
    """Round-4 curation operators: no row-at-a-time Python anywhere, no
    cartesian product in the decontamination join, and the packing
    report is a single window pass (its only wide exchange is the
    final per-bin aggregation + ordering)."""
    for name in [
        "decontaminate_ngram_overlap",
        "pack_sequences_report",
        "pii_scrub_redact",
        "format_models2",
        "fts_bm25_query",
    ]:
        df = QUERIES[name](spark, SF_CORRECT)
        assert python_eval_nodes(df) == 0, f"{name} has row-at-a-time Python"
    decon = QUERIES["decontaminate_ngram_overlap"](spark, SF_CORRECT)
    plan = physical_plan(decon)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lateral_decorrelates_to_window(spark):
    """The LATERAL ORDER BY...LIMIT subquery must decorrelate into
    row_number-over-window with map-side WindowGroupLimit pruning — one
    shuffle on the join key, never a per-outer-row nested loop (the
    reference's parameterized-inner nestloop shape cannot run at
    100 TB)."""
    df = QUERIES["lateral_topn_per_group"](spark, SF_CORRECT)
    plan = physical_plan(df)
    assert "Window" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert python_eval_nodes(df) == 0


def test_round4_second_wave_stays_jvm_side(spark):
    """No row-at-a-time Python in any of the second-wave relational /
    text / function gates (HNSW's Arrow-batched build and search stages,
    FlatMapGroupsInPandas and MapInArrow, are the deliberate exception —
    graph traversal is the one operator Catalyst cannot express — and
    are not BatchEvalPython)."""
    for name in ["setop_all_multiplicity", "agg_ordered_concat",
                 "fts_plainto_websearch", "fts_headline",
                 "string_format_pg", "unpivot_metrics"]:
        df = QUERIES[name](spark, SF_CORRECT)
        assert python_eval_nodes(df) == 0, f"{name} has row-at-a-time Python"


def test_fts_headline_no_exchange_before_limit(spark):
    """Snippet generation is per-row map work: the only exchange allowed
    in the plan is the final ordered-limit's singlePartition gather."""
    df = QUERIES["fts_headline"](spark, SF_CORRECT)
    plan = physical_plan(df)
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 2, plan  # TakeOrderedAndProject plans 0


def test_repeated_spans_linear_no_cartesian(spark):
    """Span dedup must stay linear: no pair expansion (CartesianProduct
    or nested-loop join) anywhere, no Python, and the documents scan
    reads only doc_id + text."""
    df = QUERIES["dedup_repeated_spans"](spark, SF_CORRECT)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert python_eval_nodes(df) == 0
    assert "lang" not in plan.split("ReadSchema")[1][:400]


def test_maxsim_broadcasts_query_side_only(spark):
    """The 4-row query-token side must broadcast; the result is a
    bounded TakeOrdered heap; embeddings never shuffle at full width
    (the first exchange carries partial aggregates, not vectors)."""
    df = QUERIES["knn_maxsim_multivector"](spark, SF_CORRECT)
    plan = physical_plan(df)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoop" in plan
    assert uses_take_ordered(df)
    assert python_eval_nodes(df) == 0


def test_pack_sequences_window_is_sharded(spark):
    """The packing prefix sum must be PARTITIONED BY shard — a window
    with an empty partition spec funnels the whole corpus's token
    counts through one reducer (r4 scale flag, fixed in round 5)."""
    df = QUERIES["pack_sequences_report"](spark, SF_CORRECT)
    plan = physical_plan(df)
    assert "Window" in plan
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            # Spark prints windowspecdefinition(partition..., order ASC...,
            # frame); an unpartitioned window starts straight at the
            # ordering column
            spec = line.split("windowspecdefinition(", 1)[1]
            assert spec.startswith("shard"), line
    assert python_eval_nodes(df) == 0


def test_plpgsql_select_into_decorrelates(spark):
    """The SELECT ... INTO binding inlines as a correlated scalar
    subquery; Catalyst must decorrelate it to aggregate + join — never
    a per-row re-execution, never a cartesian, never Python."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION pin_cd(nk int) RETURNS text AS $$
        DECLARE
            c bigint;
            label text := 'none';
        BEGIN
            SELECT COUNT(*) INTO c FROM customer WHERE c_nationkey = nk;
            IF c > 0 THEN
                IF c >= 60 THEN label := 'high'; ELSE label := 'low';
                END IF;
            END IF;
            RETURN label;
        END;
        $$ LANGUAGE plpgsql
    """)
    try:
        df = eng.sql(
            "SELECT n_nationkey, pin_cd(n_nationkey) AS d FROM nation"
        )
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        assert "HashAggregate" in plan and "Join" in plan
        assert python_eval_nodes(df) == 0
        # the INTO fold binds the subquery ONCE: nation + customer,
        # no re-scan per mention of the bound variable (r7 verdict)
        assert plan.count("Scan parquet") == 2, plan
    finally:
        eng.sql("DROP FUNCTION pin_cd")


def test_plpgsql_for_loop_is_one_aggregation(spark):
    """A FOR-IN-SELECT accumulator loop compiles via the
    single-subquery fold: ALL accumulators live in ONE aggregate
    projection over ONE scan of the loop table, however many times
    the RETURN expression mentions them (r7 verdict: the old
    per-accumulator/per-mention bindings planned 10 scans of orders
    where the direct aggregate needs 2 — this test pins the scan
    count, not just 'HashAggregate in plan')."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION pin_loop(st text) RETURNS double AS $$
        DECLARE r RECORD; total double precision := 0.0; n bigint := 0;
        BEGIN
            FOR r IN SELECT o_orderkey FROM orders
                     WHERE o_orderstatus = st LOOP
                total := total + r.o_orderkey;
                n := n + 1;
            END LOOP;
            IF n = 0 THEN RETURN -1.0; END IF;
            RETURN total / n;
        END;
        $$ LANGUAGE plpgsql
    """)
    try:
        df = eng.sql(
            "SELECT o_orderstatus, pin_loop(o_orderstatus) AS v"
            " FROM (SELECT DISTINCT o_orderstatus FROM orders)"
        )
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan
        assert "HashAggregate" in plan
        assert python_eval_nodes(df) == 0
        # exactly 2 scans: the DISTINCT call-site source + the ONE
        # folded loop aggregate — same shape as the hand-written SQL
        assert plan.count("Scan parquet") == 2, plan
    finally:
        eng.sql("DROP FUNCTION pin_loop")


def test_gin_index_feeds_match_not_retokenization(spark):
    """The gin-routed @@ plan scans the POSTING table (lexeme
    pushdown) and never re-tokenizes the corpus; rank comes from the
    index alone (no documents.text in any ReadSchema)."""
    from opengauss_vectordb_spark.engine import Engine
    from opengauss_vectordb_spark.operators.gin_index import (
        gin_rank_search,
    )

    eng = Engine(spark, SF_CORRECT)
    eng.sql(
        "CREATE INDEX pin_gin ON documents"
        " USING gin (to_tsvector(text))"
    )
    try:
        df = eng.sql(
            "SELECT doc_id FROM documents"
            " WHERE to_tsvector(text) @@ to_tsquery('hash & join')"
        )
        plan = physical_plan(df)
        assert "_gin" in plan, plan             # posting table feeds it
        assert "regexp_replace" not in plan, plan  # no re-tokenization
        assert python_eval_nodes(df) == 0
        rk = gin_rank_search(eng, "pin_gin", ["hash", "join"], 10)
        rplan = physical_plan(rk)
        assert "_gin" in rplan and "regexp_replace" not in rplan
        # rank never opens the corpus: no 'text' column read anywhere
        reads = [ln for ln in rplan.splitlines() if "ReadSchema" in ln]
        assert reads and all("text" not in ln for ln in reads), rplan
        # the posting scan pushes the lexeme predicate down
        assert "PushedFilters" in rplan and "lexeme" in rplan, rplan
    finally:
        eng.sql("DROP INDEX pin_gin")


def test_trgm_gin_similarity_from_index_alone(spark):
    """pg_trgm GIN similarity never re-reads the corpus: the plan is
    one pruned posting scan (trigram pushdown) + aggregate +
    TakeOrdered — no p_name column read, no trigram recomputation."""
    from opengauss_vectordb_spark.engine import Engine
    from opengauss_vectordb_spark.operators.gin_index import (
        trgm_gin_search,
    )

    eng = Engine(spark, SF_CORRECT)
    eng.sql(
        "CREATE INDEX pin_trgm ON part USING gin (p_name gin_trgm_ops)"
    )
    try:
        df = trgm_gin_search(eng, "pin_trgm", "smal widgett", 10)
        plan = physical_plan(df)
        assert "_gin" in plan, plan
        reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert reads and all("p_name" not in ln for ln in reads), plan
        assert "TakeOrderedAndProject" in plan, plan
        assert python_eval_nodes(df) == 0
    finally:
        eng.sql("DROP INDEX pin_trgm")


def test_plpgsql_setof_inlines_with_pushdown(spark):
    """A set-returning plpgsql function (RETURN QUERY x2 → Spark SQL
    table function) inlines into the calling plan: one scan per
    RETURN QUERY branch (the same shape as the hand-written UNION
    ALL), the threshold predicates pushed to the parquet scans, zero
    Python nodes, no cartesian."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION pin_slices(minp float8)
        RETURNS TABLE(ck bigint, amt float8) AS $$
        DECLARE cap float8 := 250000.0;
        BEGIN
            RETURN QUERY SELECT o_custkey, o_totalprice FROM orders
                WHERE o_totalprice >= minp AND o_totalprice < cap;
            RETURN QUERY SELECT o_custkey, -1.0 * o_totalprice
                FROM orders WHERE o_totalprice >= cap;
        END;
        $$ LANGUAGE plpgsql
    """)
    try:
        df = eng.sql(
            "SELECT COUNT(*) AS n, SUM(amt) AS s"
            " FROM pin_slices(100000.0)"
        )
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan
        assert python_eval_nodes(df) == 0
        assert plan.count("Scan parquet") == 2, plan
        # the RETURN QUERY predicates reach the scans
        assert "PushedFilters: [IsNotNull(o_totalprice)" in plan, plan
    finally:
        eng.sql("DROP FUNCTION pin_slices")


def test_bloom_prefilter_sits_below_verify_join(spark):
    """decontaminate_bloom_prefilter: the bloom probe must be a plain
    map-side Filter BELOW the exact verify join (the whole point of
    the semi-join-reduction pattern — only bloom survivors shuffle).
    The joined form of this operator got reordered by Catalyst (join
    first, bloom after), which is why the sketch ships as a literal;
    this pins the fixed shape: probe below the join, no cartesian, no
    Python, and the corpus parquet scan read exactly twice (train +
    eval derivations)."""
    from opengauss_vectordb_spark.registry import QUERIES

    df = QUERIES["decontaminate_bloom_prefilter"](spark, SF_CORRECT)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert python_eval_nodes(df) == 0
    i_filter = plan.find("element_at")
    i_semi = plan.find("LeftSemi")
    assert i_filter > 0 and i_semi > 0
    # tree text: deeper (later) = executed earlier — the probe Filter
    # must hang BELOW the semi join
    assert i_filter > i_semi, plan[:4000]


def test_create_aggregate_fold_is_codegen(spark):
    """create_aggregate_sql: the user-aggregate fold must execute as a
    two-phase (partial/final) collect_list aggregation with the
    transition lambda in JVM codegen — no Python anywhere, no extra
    shuffle beyond the one grouping exchange.  This is the scale
    contract of compiling CREATE AGGREGATE to aggregate() folds."""
    from opengauss_vectordb_spark.engine import Engine
    from opengauss_vectordb_spark.plans.explain import exchange_count

    eng = Engine(spark, SF_CORRECT)
    eng.sql(
        "CREATE FUNCTION pq_ws(acc double precision, x double precision,"
        " w double precision) RETURNS double precision"
        " AS 'SELECT acc + x * w' LANGUAGE SQL"
    )
    eng.sql(
        "CREATE AGGREGATE pq_wsum(double precision, double precision)"
        " (SFUNC = pq_ws, STYPE = double precision, INITCOND = '0')"
    )
    df = eng.sql(
        "SELECT l_returnflag, pq_wsum(l_quantity, l_discount) AS s"
        " FROM lineitem GROUP BY l_returnflag"
    )
    plan = physical_plan(df)
    assert python_eval_nodes(df) == 0
    assert "ArrowEvalPython" not in plan
    # collect_list aggregates run as ObjectHashAggregate with a
    # partial phase before the exchange (map-side accumulation)
    assert "ObjectHashAggregate" in plan
    assert "partial_collect_list" in plan
    assert exchange_count(df) == 1, plan[:3000]
    eng.sql("DROP AGGREGATE pq_wsum(double precision, double precision)")
    eng.sql("DROP FUNCTION pq_ws")


def test_create_aggregate_combine_two_level_plan(spark):
    """create_aggregate_combine: a CFUNC-declaring aggregate must
    restructure into the TWO-LEVEL fold — an inner aggregation keyed
    by (group, slice) with map-side partial_collect_list, then an
    outer merge by group — exactly two exchanges, no Python, and the
    slice expression in the inner grouping keys.  This is the memory
    contract: task state is bounded by a (group × slice), never the
    whole group (the r11 verdict's O(group) hazard)."""
    from opengauss_vectordb_spark.engine import Engine
    from opengauss_vectordb_spark.plans.explain import exchange_count

    eng = Engine(spark, SF_CORRECT)
    eng.sql(
        "CREATE FUNCTION pq2_step(acc double precision,"
        " x double precision) RETURNS double precision"
        " AS 'SELECT acc + x' LANGUAGE SQL"
    )
    eng.sql(
        "CREATE FUNCTION pq2_merge(a double precision,"
        " b double precision) RETURNS double precision"
        " AS 'SELECT a + b' LANGUAGE SQL"
    )
    eng.sql(
        "CREATE AGGREGATE pq2_sum(double precision)"
        " (SFUNC = pq2_step, STYPE = double precision,"
        "  INITCOND = '0', CFUNC = pq2_merge)"
    )
    df = eng.sql(
        "SELECT l_returnflag, pq2_sum(l_quantity) AS s"
        " FROM lineitem GROUP BY l_returnflag"
    )
    plan = physical_plan(df)
    assert python_eval_nodes(df) == 0
    assert "partial_collect_list" in plan
    assert "__agg_slice" in plan or "pmod(hash" in plan, plan[:3000]
    # two grouping exchanges: (group, slice) then (group)
    assert exchange_count(df) == 2, plan[:3000]
    # the inner collect_list must be keyed by the slice too — its
    # grouping keys carry both the group column and the slice expr
    import re as _re

    assert _re.search(
        r"partial_collect_list", plan
    ) and _re.search(
        r"keys=\[l_returnflag#\d+, _groupingexpression", plan
    ), plan[:3000]
    eng.sql("DROP AGGREGATE pq2_sum(double precision)")
    eng.sql("DROP FUNCTION pq2_step")
    eng.sql("DROP FUNCTION pq2_merge")


def test_start_with_plans_native_recursion(spark):
    """start_with_sql_text: the SWCB desugar must plan as Spark's
    NATIVE recursive CTE (UnionLoop) — per-level equi-joins of the
    base relation against the frontier, zero Python, no
    CartesianProduct.  The isleaf post-pass is an equi-join on the
    keypath column (the documented second CTE consumption)."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    eng.sql("DROP TABLE IF EXISTS pq_sw")
    eng.sql("CREATE TABLE pq_sw AS SELECT CAST(r_regionkey + 1 AS "
            "BIGINT) AS id, CAST(0 AS BIGINT) AS pid, r_name AS name "
            "FROM region UNION ALL SELECT CAST(10 + n_nationkey AS "
            "BIGINT), CAST(n_regionkey + 1 AS BIGINT), n_name "
            "FROM nation")
    df = eng.sql(
        "SELECT name, LEVEL AS lvl, connect_by_isleaf AS leaf "
        "FROM pq_sw START WITH pid = 0 CONNECT BY PRIOR id = pid"
    )
    plan = physical_plan(df)
    assert python_eval_nodes(df) == 0
    assert "UnionLoop" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    eng.sql("DROP TABLE pq_sw")


def test_time_fill_pushdown_and_bounded_window(spark):
    """time_fill_sql_text's desugar: the WHERE predicate must reach
    the parquet scan UNDER the gapfill rewrite (the corpus scan is the
    only data-sized work), the spine join must be an equi-join on the
    bucket, and the LOCF window must order by the spine bucket —
    statement-bounded rows, zero Python."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    df = eng.sql(
        "SELECT time_fill(interval '1 hour', ts, "
        "'2024-01-05 00:00:00', '2024-01-07 00:00:00') AS b, "
        "fill_last(ROUND(MAX(value), 6)) AS v "
        "FROM events WHERE event_type = 'purchase' "
        "GROUP BY time_fill ORDER BY b"
    )
    plan = physical_plan(df)
    assert python_eval_nodes(df) == 0
    assert "EqualTo(event_type,purchase)" in plan, plan[:3000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "windowspecdefinition(__tf_b" in plan, plan[:3000]
