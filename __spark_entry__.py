"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The engine is ``opengauss_vectordb_spark``; the query inventory lives in
its registry (one entry per implemented operator from SURVEY.md §2).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from opengauss_vectordb_spark import registry
from opengauss_vectordb_spark.registry import ORACLES, QUERIES

registry.load_all_queries()

# The correctness gate verifies queries in registration order, so the
# ordering below is a rotation schedule.  After round 6 the registry
# stood at 256 queries, ALL gated at least once across r1-r6, 255
# green on their latest attempt, ONE red: source_mix_rebalance
# (hash_match=false) — root-caused this round to a THIRD
# representation-trap class: DuckDB's SUM over any integer type is
# HUGEINT, which pandas (the driver's transport) renders as float64
# ("1435.0") against Spark's int64 ("1435").  Fixed by CASTing the
# oracle SUM to BIGINT; tests/oracle_harness.py now compares pandas
# dtype KINDS on both sides (null-aware — nulls legitimately floatify
# both engines), and a full audit found no other null-free offender.
#
# ROUND 7 window (exactly 50): (a) the NEW registrations — named-
# partition DDL (operators/partition_ddl.py: PARTITION BY RANGE/LIST/
# HASH bounds grammar, write-side routing CASE with in-write
# raise_error validation, driver-side partition elimination →
# PartitionFilters, O(1) DROP/TRUNCATE/EXCHANGE PARTITION, MERGE/
# SPLIT PARTITIONS, INTERVAL auto-extension, two-level SUBPARTITION
# BY with both-key elimination, PARTITION/SUBPARTITION selector
# scans, pg_partitions) and PL/SQL PACKAGEs (operators/packages.py:
# spec/body DDL, members compiled via the plpgsql path under mangled
# names, pkg.member() call-site resolution), TIMECAPSULE flashback
# (operators/timecapsule.py: commit manifests over retained
# generations, CSN/TIMESTAMP snapshot scans, recyclebin + restore),
# stored GENERATED columns + AUTO_INCREMENT identity (+ serial
# pseudo-types), session TEMP tables, the column-store DDL dialect
# (WITH (ORIENTATION=COLUMN) / DISTRIBUTE BY HASH honored as write
# repartition) + SELECT INTO, GRANT/REVOKE ACLs with role membership,
# extended statistics, temperature-based source mixing, joined DML
# (UPDATE...FROM / DELETE...USING / ON DUPLICATE KEY UPDATE over
# recorded PRIMARY KEYs), and CREATE TYPE AS ENUM as a validated
# column type; (b) the
# source_mix_rebalance re-gate; (c) re-gates for every query whose
# code path churned this round (merge.py: INSERT-expression isolation
# via __ins_* columns, one-pass alias rewrite, first-match-wins clause
# order; plpython.py: verbatim bodies; ddl_tables.py: TableManager
# read()/spec-partitioning hooks touching the whole managed-table
# family incl. RLS/masking view registration); (d) rotation of the 31
# stalest rows — queries whose latest gate evidence is still round 1.
#
# The one engine surface deliberately left engine-test-only: CREATE
# MODEL / PREDICT BY SQL text (ml_stmt.py) — MLlib's iterative/WLS
# fits cannot hash-match a closed-form SQL oracle (the db4ai_* gate
# rows carry the closed-form math; the statement plumbing is pinned by
# test_create_model_predict_by_sql_text and
# test_predict_by_anchors_top_level_from).
# Registered AFTER this round's window froze (the 50 slots below are
# consumed by the stale-tail rotation the r8 verdict demanded):
# plpgsql_return_query (SETOF/RETURN QUERY table functions) and
# plpgsql_case_stmt (CASE ... END CASE statements), and
# decontaminate_bloom_prefilter (bloom semi-join reduction: distributed
# BIT_OR-packed sketch shipped as an 8 KB literal, probe pinned BELOW
# the verify join), and gist_box_overlap / gist_range_overlap /
# gist_knn_point (the GiST rtree analogue: Z-bucketed layout +
# bucket-MBR manifest + two-phase exact KNN, operators/gist_index.py),
# and do_block_for_loop (FOR loops in DO blocks/procedures: SELECT /
# bound-cursor / dynamic-EXECUTE sources, one aggregate statement per
# loop), and bpe_learn_merges / bpe_segment_tokens (distributed BPE
# vocabulary induction + corpus segmentation — corpus scanned once
# into a word-freq vocab, merge rounds as codegen folds on the vocab
# frame, apply via a vocab join), and bformat_convert_series (the
# regress-census compat batch: CONVERT/USING → CAST, generate_series
# FunctionScan → explode(sequence), last_insert_id, FOR UPDATE strip,
# ALTER INDEX/SEQUENCE), gin_array_ops (the GIN array-element
# opclass: @>/&&/<@/= index-only via per-doc element counts), and
# json_arrow_operators (->/->> chains composing into one JSONPath),
# and age_function (timestamp_age's calendar borrow cascade as one
# codegen'd struct expression, DuckDB's native age as the oracle).
#
# ROUND 10 window (exactly 50): (a) those 13 rows front-loaded as the
# first first-evers, per the r9 verdict; (b) the eight round-10
# registrations; (c) churn re-gates; (d) the oldest 25 rows of the
# 46-entry r3 stale tail (the 21-row remainder — setops, sql_compat,
# tpch_q12..q22 adapted, values/zorder scans, sql_entry_q6,
# string_funcs, sample_deterministic/cluster_balanced — rotates first
# in r11).
# ROUND 12 window (exactly 50): (a) the four NEW registrations —
# range types compiled to struct bound comparisons (range_types.py,
# census batch 9),
# CREATE AGGREGATE's two-level CFUNC fold (create_aggregate_combine:
# inner per-(group, slice) transition, outer CFUNC merge — the r11
# verdict's O(group)-memory fix), PL/Python RETURNS SETOF <composite>
# (ARRAY<STRUCT> + inline() star-expansion, plpython.py), and
# top-level EXCHANGE PARTITION on subpartitioned tables
# (partition_ddl.py — beyond the reference, whose regress refuses the
# shape); (b) split_subpartition — the r11 gate-debt row (registered
# at position 166 in r11, never driver-gated; front-loaded per the
# verdict's item #1); (c) churn re-gates — create_aggregate.py
# (builtin-SFUNC strictness, CFUNC compilation), plpython.py (compile
# path restructured for composite), create_function.py (RENAME chain
# fix, composite-SETOF drop), partition_ddl.py (top-level exchange
# branch), schemas.py's DML-only synonym rule rides the Engine.sql
# funnel every row exercises; (d) the ENTIRE 20-row r4 stale tail the
# r11 verdict demanded — after this window no row's latest evidence
# predates r5; (e) the oldest 21 rows of the 32-entry r5 tail
# (alphabetical prefix; the remaining 11 rotate in r13).
# ROUND 13 window (exactly 50) — the optimization-evidence window the
# r12 verdict demanded (item 1: "rotate the r13 gate window to
# front-load the touched-but-ungated paths").  Composition:
# (a) every path structurally changed in THIS round's optimization —
#     the statement family whose gate queries now return LAZY frames
#     through pin_schema instead of collect+createDataFrame round-trips
#     (plpgsql compiled-function gates, CALL OUT params, packages,
#     CREATE AGGREGATE/FUNCTION, dblink, PL/Python ×3), the
#     connected-components loop rewrite (dedup_cluster_resolve/
#     keep_best), the PQ ADC fold respelling + narrow-dedup restructure
#     (ivf_pq_search, knn_pq_rerank), and the cursor FETCH
#     determinism hardening (plpgsql_cursor_fetch, + dynexecute/
#     do_block_for_loop statement-family companions touched in r12);
# (b) the r12 dsum6/davg6 scaled-long conversions that were verified
#     only builder-side (the r12 window froze before the work): every
#     converted TPC-H query, agg_rollup/cube, bucketed_join_colocated,
#     inlist_join_rewrite, db4ai_linreg_ols, events tumbling/sliding;
# (c) the remaining r12 rewrites with no driver-gate evidence:
#     decontaminate ngram/bloom, text_simhash + dedup_simhash_pairs,
#     semdedup_keep, age_function, decontaminate_ngram_overlap.
# Displaced to keep the window at 50: the 7-row r5-tail remainder
# (hnsw_delete_then_search, hnsw_filtered_search,
# hnsw_search_halfvec_exhaustive, hnsw_search_sparsevec_exhaustive,
# ivf_search_bit_exhaustive, knn_maxsim_multivector,
# knn_subvector_rerank — all untouched in r12/r13, latest evidence r5),
# ivf_search_probed and embedding_dup_pairs_cosine (touched this round
# only through the one-call literal-array spelling, which is
# plan-identical, and the bit-pinned unrolled kernel that semdedup_keep
# also exercises) — they are the top of the next window.
GATE_PRIORITY: list[str] = [
    # (a) r13 structural changes
    "plpgsql_guard_function",
    "plpgsql_select_into_nested_if",
    "plpgsql_for_loop_agg",
    "plpgsql_int_for_loop",
    "plpgsql_while_loop",
    "plpgsql_foreach_array",
    "plpgsql_exception_guard",
    "plpgsql_return_query",
    "plpgsql_case_stmt",
    "plpgsql_do_while",
    "call_out_params",
    "plpgsql_setof_dynexecute",
    "package_member_function",
    "package_session_variable",
    "create_aggregate_sql",
    "create_aggregate_combine",
    "create_function_sql",
    "dblink_remote_agg",
    "plpython_function",
    "plpython_setof",
    "plpython_setof_composite",
    "dedup_cluster_resolve",
    "dedup_keep_best",
    "ivf_pq_search",
    "knn_pq_rerank",
    "plpgsql_cursor_fetch",
    "plpgsql_dynexecute_function",
    "do_block_for_loop",
    # (b) r12 dsum6/davg6 conversions, never driver-gated post-change
    "tpch_q1",
    "tpch_q3_adapted",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7_adapted",
    "tpch_q9_adapted",
    "tpch_q10_adapted",
    "tpch_q15",
    "tpch_q19_adapted",
    "agg_rollup",
    "agg_cube",
    "bucketed_join_colocated",
    "inlist_join_rewrite",
    "db4ai_linreg_ols",
    "events_tumbling_window",
    "events_sliding_window",
    # (c) r12 rewrites, never driver-gated post-change
    "decontaminate_ngram_overlap",
    "decontaminate_bloom_prefilter",
    "text_simhash",
    "semdedup_keep",
    "age_function",
    # r13 lazy-return conversion landed after the sections above were
    # drafted; takes the slot of dedup_simhash_pairs, whose r12 nibble
    # rewrite is the same path text_simhash (above) exercises
    "range_type_funcs",
]


def _ordered(mapping: dict) -> dict:
    missing = [n for n in GATE_PRIORITY if n not in QUERIES]
    if missing:
        raise KeyError(f"GATE_PRIORITY names not registered: {missing}")
    head = {n: mapping[n] for n in GATE_PRIORITY if n in mapping}
    tail = {n: v for n, v in mapping.items() if n not in head}
    return {**head, **tail}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    return QUERIES["tpch_q1"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted → rows-only)."""
    return _ordered(ORACLES)
