"""Physical-plan audits (SURVEY.md §4.1 'verify with explain()'): column
pruning reaches the scan, partition/predicate pushdown fires on the pruned
segment fetch, the query-side joins broadcast, global top-k plans as
TakeOrderedAndProject, and aggregates are partial+final."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def index_path(spark, docs_sf0001, tmp_path_factory):
    from sparksearch.build import build_index

    path = str(tmp_path_factory.mktemp("idx"))
    build_index(spark, docs_sf0001, path, n_buckets=8, n_ranges=4)
    return path


def test_postings_scan_prunes_unused_columns(spark, docs_sf0001):
    from sparksearch.stats import term_freq
    from sparksearch.tokenize import explode_postings, tokenize_sql

    tf = term_freq(
        explode_postings(tokenize_sql(docs_sf0001.select("doc_id", "text"), "text"))
    )
    plan = _plan(tf)
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    # Only the two needed columns reach the parquet scan.
    assert "doc_id" in scan[0] and "text" in scan[0]
    assert "lang" not in scan[0] and "n_chars" not in scan[0] and "source" not in scan[0]


def test_segment_fetch_pushes_down(spark, index_path, queries):
    from sparksearch.build import load_index
    from sparksearch.querying import parse_queries

    segments, dictionary, _ = load_index(spark, index_path)
    qterms = parse_queries(spark, queries[:3])
    terms = [r["term"] for r in qterms.select("term").distinct().collect()]
    pruned = segments.filter(F.col("bucket").isin(0, 1) & F.col("term").isin(terms))
    plan = _plan(pruned)
    # bucket is the partition column → PartitionFilters; term is a data
    # column → PushedFilters In(term, ...).
    assert "PartitionFilters" in plan and "bucket" in plan
    assert "PushedFilters" in plan and "term" in plan


def test_positional_block_fetch_pushes_down_and_daat_skips_poss(
    spark, docs_sf0001, tmp_path_factory
):
    """With positions folded into the segment rows (4th varint stream), the
    positional fetch must prune the SAME way DAAT does — bucket partition
    filter + pushed In(term) — and DAAT's own scan must NOT read the poss
    bytes it never uses (explicit projection keeps them out of the scan and
    the Arrow transfer). DAAT's scan is ``daat._pruned_blocks``, the one
    fetch both of its execution paths read: a local-path answer is a bare
    LocalTableScan with no segment scan left in its plan."""
    from sparksearch.build import build_index
    from sparksearch.phrase import _pruned_position_fetch

    path = str(tmp_path_factory.mktemp("posidx"))
    build_index(spark, docs_sf0001, path, n_buckets=8, n_ranges=4,
                with_positions=True)
    fetched = _pruned_position_fetch(spark, path, {(1, "hash"), (1, "join")})
    plan = _plan(fetched)
    assert "PartitionFilters" in plan and "bucket" in plan
    assert "PushedFilters" in plan and "In(term" in plan

    from sparksearch import daat

    view = daat._index_view(spark, path)
    dplan = _plan(daat._pruned_blocks(view, daat._resolve(view, [(1, "hash join")])))
    assert "PartitionFilters" in dplan and "bucket" in dplan
    assert "PushedFilters" in dplan and "In(term" in dplan
    scans = [ln for ln in dplan.splitlines()
             if "ReadSchema" in ln and "doc_gaps" in ln]
    assert scans, dplan
    for ln in scans:
        assert "poss" not in ln, ln


def test_query_joins_broadcast_and_topk_is_take_ordered(spark, docs_sf0001, queries):
    from sparksearch.querying import bm25_topk_from_docs, global_topk
    from sparksearch.stats import corpus_stats

    topk = bm25_topk_from_docs(spark, docs_sf0001, queries[:5], k=10)
    plan = _plan(topk)
    assert "BroadcastHashJoin" in plan  # query-terms side never shuffles tf

    tf_df, dl_df, ts, _ = corpus_stats(docs_sf0001)
    single = global_topk(
        tf_df.groupBy("doc_id").agg(F.sum("tf").cast("double").alias("score")), k=5
    )
    assert "TakeOrderedAndProject" in _plan(single)


def test_aggregates_are_partial_final(spark, docs_sf0001):
    from sparksearch.relational import events_hourly
    from tests.conftest import SF_SMOKE

    events = spark.read.parquet(str(SF_SMOKE / "events.parquet"))
    plan = _plan(events_hourly(events))
    # Two HashAggregate nodes (partial before the exchange, final after).
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def _tpch(spark, name):
    from tests.conftest import SF_SMOKE

    return spark.read.parquet(str(SF_SMOKE / f"{name}.parquet"))


def test_bm25_logical_needs_no_doclength_join(spark, docs_sf0001, queries):
    # dl rides the postings (tokenize_tf) — the scoring plan must contain
    # exactly ONE join (the broadcast query-terms join), not a doc_id join:
    # at 10^12 docs a doclens join is an unbroadcastable full shuffle.
    from sparksearch.querying import bm25_topk_from_docs

    plan = _plan(bm25_topk_from_docs(spark, docs_sf0001, queries[:5], k=10))
    # exactly: qterms⋈term_stats and postings⋈broadcast(q); a third join
    # would be the doc-length join this test exists to forbid. (Formatted
    # plans list every node twice — tree line + ") Node" detail header —
    # so count the detail headers.)
    assert plan.count(") BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_fact_chain_plans_sort_merge_join(spark):
    # lineitem⋈orders⋈customer: every side grows with SF — the encoded merge
    # hints must survive to the physical plan even though the 6k-row fixture
    # would auto-broadcast (a broadcast here OOMs a real cluster).
    from sparksearch.joins import revenue_by_nation

    df = revenue_by_nation(
        _tpch(spark, "lineitem"), _tpch(spark, "orders"),
        _tpch(spark, "customer"), _tpch(spark, "nation"), _tpch(spark, "region"),
    )
    plan = _plan(df)
    assert plan.count("SortMergeJoin") >= 2, plan   # lineitem⋈orders, ⋈customer
    assert "BroadcastHashJoin" in plan              # nation⋈region dim side


def test_dim_chain_plans_broadcast_only(spark):
    # region⋈nation⋈supplier: dims are constant-size → pure BHJ, the
    # SF-growing supplier side must never shuffle for a join.
    from sparksearch.joins import supplier_geo

    plan = _plan(supplier_geo(
        _tpch(spark, "supplier"), _tpch(spark, "nation"), _tpch(spark, "region")
    ))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_no_per_row_python_udf_anywhere(spark):
    # BatchEvalPython = per-row Python; only ArrowEvalPython / FlatMapGroups /
    # MapInPandas nodes are allowed in this codebase's plans.
    from sparksearch.tokenize import tokenize_pandas

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    plan = _plan(tokenize_pandas(df))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_synonym_postings_join_broadcasts(spark, docs_sf0001):
    # The blended-group fetch must broadcast the tiny (query, group, term)
    # table against the postings — at 10^12 docs a shuffle join here moves
    # the whole postings table.
    from sparksearch.build import tokenize_tf
    from sparksearch.search_ext import synonym_topk
    from sparksearch.stats import doc_freq, global_stats_df, with_idf

    tt = tokenize_tf(docs_sf0001.select("doc_id", "text"))
    tf_df = tt.select("term", "doc_id", "tf", "dl")
    ts = with_idf(doc_freq(tf_df), global_stats_df(tt.filter("lead").select("doc_id", "dl")))
    plan = _plan(synonym_topk(spark, [(1, [["hash", "join"]])], tf_df, ts))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_qlm_postings_join_broadcasts(spark, docs_sf0001, queries):
    from sparksearch.build import tokenize_tf
    from sparksearch.querying import parse_queries
    from sparksearch.rankers import qlm_topk
    from sparksearch.stats import doc_freq, global_stats_df, with_idf

    tt = tokenize_tf(docs_sf0001.select("doc_id", "text"))
    tf_df = tt.select("term", "doc_id", "tf", "dl")
    dl_df = tt.filter("lead").select("doc_id", "dl")
    ts = with_idf(doc_freq(tf_df), global_stats_df(dl_df))
    plan = _plan(qlm_topk(parse_queries(spark, queries[:5]), tf_df, dl_df, ts))
    # matched-postings join + per-query-const join both broadcast; the only
    # shuffles are the (query, doc) aggregation and the top-k window.
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_dictionary_expansion_is_single_scan_broadcast(spark, docs_sf0001):
    # Wildcard/fuzzy/regexp expansion: tiny query set broadcast against ONE
    # linear dictionary scan — a BroadcastNestedLoopJoin over (vocab × tiny)
    # with the predicate fused, never a shuffle of the dictionary.
    from sparksearch.build import tokenize_tf
    from sparksearch.search_ext import expand_fuzzy_queries
    from sparksearch.stats import doc_freq, global_stats_df, with_idf

    tt = tokenize_tf(docs_sf0001.select("doc_id", "text"))
    tf_df = tt.select("term", "doc_id", "tf", "dl")
    ts = with_idf(doc_freq(tf_df), global_stats_df(tt.filter("lead").select("doc_id", "dl")))
    plan = _plan(expand_fuzzy_queries(spark, [(1, "jion")], ts))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def _micro_stats(spark, docs_sf0001):
    from sparksearch.stats import corpus_stats

    return corpus_stats(docs_sf0001.select("doc_id", "text"))[:3]


def test_vsm_query_join_broadcasts_no_python(spark, docs_sf0001, queries):
    from sparksearch.querying import parse_queries
    from sparksearch.rankers import vsm_cosine_topk

    tf_df, _, ts = _micro_stats(spark, docs_sf0001)
    plan = _plan(vsm_cosine_topk(parse_queries(spark, queries[:5]), tf_df, ts))
    # dot product: tiny query-term table broadcast against postings; the
    # doc-norm join on doc_id may legitimately shuffle at scale, so only
    # the broadcast presence and UDF discipline are pinned.
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_stem_postings_is_one_exchange_no_python(spark, docs_sf0001):
    from sparksearch.analyzers import stem_postings

    tf_df, _, _ = _micro_stats(spark, docs_sf0001)
    plan = _plan(stem_postings(tf_df))
    # pure re-key + partial/final hash agg: exactly ONE shuffle, JVM-side
    # CASE expression (no Python), no corpus re-scan beyond tf's own.
    import re

    assert len(re.findall(r"hashpartitioning\(", plan)) == 1, plan
    assert "BatchEvalPython" not in plan
    assert "HashAggregate" in plan


def test_dsir_logratio_broadcasts_onto_postings(spark, docs_sf0001):
    from sparksearch.sampling import dsir_log_weights

    tf_df, _, ts = _micro_stats(spark, docs_sf0001)
    docs = docs_sf0001.select("doc_id", "lang")
    plan = _plan(dsir_log_weights(tf_df, docs, ts))
    # the vocabulary-sized log-ratio table broadcasts back onto postings
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_importance_resample_topk_is_take_ordered(spark, docs_sf0001):
    from sparksearch.sampling import importance_resample

    tf_df, _, ts = _micro_stats(spark, docs_sf0001)
    docs = docs_sf0001.select("doc_id", "lang")
    plan = _plan(importance_resample(tf_df, docs, ts, k=10))
    # global top-k = per-partition bounded heaps, never a full sort
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_sequence_packing_shuffles_once_on_shard(spark, docs_sf0001):
    from sparksearch.sampling import sequence_packing

    tf_df, dl_df, _ = _micro_stats(spark, docs_sf0001)
    plan = _plan(sequence_packing(dl_df))
    # ONE hash exchange on shard serves both the window cumsum and the
    # (shard, seq_id) aggregation (subset-clustered distribution)
    import re

    # formatted explain prints each Exchange's partitioning on its own
    # "Arguments: hashpartitioning(...)" line
    n_exchanges = len(re.findall(r"hashpartitioning\(", plan))
    assert n_exchanges == 1, plan
    assert "BatchEvalPython" not in plan


def test_salted_exchange_carries_no_string(spark, docs_sf0001):
    """The B1 exchange (the build's only full-data shuffle) must move only
    fixed-width columns — tid/doc_id int64, tf/dl/range_id int32. The term
    STRING riding this exchange was the round-3 scaling bottleneck (mean
    term length + offset bytes per posting, pure memory bandwidth); it is
    now restored post-encode via the vocab join on the block-sized frame."""
    import re

    from sparksearch.build import build_segments, tokenize_tf

    tf = tokenize_tf(docs_sf0001.select("doc_id", "text"))
    seg = build_segments(tf, None, range_size=100, n_buckets=8)
    plan = _plan(seg)
    # Find the REPARTITION_BY_NUM exchange on (tid, range_id) and its Input
    # row (printed directly above the Arguments line in formatted mode).
    m = re.search(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
        r"Arguments: hashpartitioning\(tid#\d+L, range_id#\d+",
        plan,
    )
    assert m, plan
    cols = m.group(1)
    assert "term#" not in cols, cols  # no string through the hot exchange
    assert "tid#" in cols and "doc_id#" in cols, cols
    # The string restore is a join of the block-sized frame against the
    # vocab map (broadcast at this scale), with the collision raise baked in.
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin)", plan), plan
    assert "raise_error" in plan, plan


def test_expansion_scans_are_range_pruned(spark, index_path):
    """Expansion queries must push their ranges into the sidecar scan:
    prefix/suffix/wildcard → GreaterThanOrEqual/LessThan on term (rterm),
    fuzzy → In on the p2 band column. A full-dictionary Filter with an
    empty PushedFilters list is the round-3 linear-scan shape this replaces."""
    from sparksearch.build import load_sorted_dictionary
    from sparksearch.querying import expand_prefix_indexed, expand_suffix_indexed
    from sparksearch.search_ext import expand_fuzzy_indexed

    ds = load_sorted_dictionary(spark, index_path)
    dr = load_sorted_dictionary(spark, index_path, reversed_=True)

    plan = _plan(expand_prefix_indexed(spark, [(1, "sor"), (2, "qu")], ds))
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(term,sor)" in plan and "LessThan(term,sos)" in plan, plan

    plan = _plan(expand_suffix_indexed(spark, [(1, "ing")], dr))
    assert "GreaterThanOrEqual(rterm,gni)" in plan and "LessThan(rterm,gnj)" in plan, plan

    plan = _plan(expand_fuzzy_indexed(spark, [(1, "jion")], ds))
    assert "In(p2, [" in plan or "In(p2,[" in plan, plan


# ------------------------------------------- round-4 session-2 plan audits


def test_gopher_rules_is_one_shuffleless_projection(spark, docs_sf0001):
    from sparksearch.textpipe import gopher_rules

    plan = _plan(gopher_rules(docs_sf0001))
    assert "BatchEvalPython" not in plan
    # the whole gate is map-side: NO exchange at any corpus size
    assert "Exchange" not in plan, plan
    assert "codegen id" in plan  # whole-stage codegen spans the projection


def test_kmv_and_stratified_stay_jvm_side(spark, docs_sf0001):
    from sparksearch.sampling import stratified_sample
    from sparksearch.textpipe import kmv_distinct_terms

    assert "BatchEvalPython" not in _plan(stratified_sample(docs_sf0001))
    # kmv materializes internally (persist+count); audit the plan pre-call
    # via its building blocks: distinct (lang, h) then two windows
    plan = _plan(kmv_distinct_terms(docs_sf0001))
    assert "BatchEvalPython" not in plan


def test_pq_ann_broadcasts_codebooks_and_lut(spark):
    from sparksearch.vectors import pq_ann_topk
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(str(SF_SMOKE / "embeddings.parquet"))
    plan = _plan(pq_ann_topk(emb, n_queries=2, k=3))
    assert "BatchEvalPython" not in plan
    # codebook assignment joins and the ADC lookup table must broadcast —
    # the corpus-sized codes table never shuffles for them
    assert "BroadcastHashJoin" in plan


def test_bigram_xent_no_python_and_line_boiler_no_python(spark, docs_sf0001):
    from sparksearch.stats import corpus_stats
    from sparksearch.textpipe import bigram_xent, line_boilerplate

    _, _, ts, _ = corpus_stats(docs_sf0001.select("doc_id", "text"))
    assert "BatchEvalPython" not in _plan(bigram_xent(docs_sf0001, ts))
    assert "BatchEvalPython" not in _plan(line_boilerplate(docs_sf0001))


def test_cdc_chunks_is_exchange_free(spark, docs_sf0001):
    """CDC boundaries are position-local: the whole operator must be a
    map-side projection chain — NO Exchange anywhere in the plan (the
    gopher_rules contract, one level down at chunk granularity)."""
    from sparksearch.textpipe import cdc_chunks

    df = cdc_chunks(docs_sf0001)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_asof_join_is_one_exchange_no_join(spark):
    """The union-merge as-of formulation: exactly one shuffle (the user_id
    window partitioning) and NO join operator — the inequality-join
    formulation Spark would otherwise pick (BroadcastNestedLoopJoin) is
    the quadratic plan this operator exists to avoid."""
    import datetime as dt

    from sparksearch.relational import events_asof_join

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1, "view"),
         (2, dt.datetime(2024, 1, 2), 1, "purchase")],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    import re

    plan = _plan(events_asof_join(df))
    assert len(re.findall(r"hashpartitioning\(", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_matrix_stats_single_pass_no_join(spark):
    """All 10 sums come from ONE aggregate over one scan: no Join anywhere,
    exactly one Exchange (the partial->final SinglePartition hop), no
    Python."""
    from tests.conftest import SF_SMOKE

    from sparksearch.joins import lineitem_matrix_stats

    import re

    li = spark.read.parquet(str(SF_SMOKE / "lineitem.parquet"))
    plan = _plan(lineitem_matrix_stats(li))
    assert "Join" not in plan, plan
    # one Exchange node (formatted plans name each node twice: tree+detail)
    assert len(re.findall(r"\n\(\d+\) Exchange", plan)) == 1, plan
    assert "BatchEvalPython" not in plan


def test_composite_page_is_take_ordered_with_pushdown(spark, docs_sf0001):
    """The page cut is TakeOrderedAndProject (never a global sort) and the
    after-key predicate prunes BEFORE the aggregate."""
    from sparksearch.stats import composite_buckets_page

    plan = _plan(composite_buckets_page(docs_sf0001))
    assert "TakeOrderedAndProject" in plan, plan
    # the filter sits below the aggregate: Filter appears after (deeper
    # than) HashAggregate in the formatted tree's node list
    assert "Filter" in plan and "BatchEvalPython" not in plan


def test_funnel_two_exchanges_no_python(spark):
    """The funnel is one user_id shuffle + one scalar-agg hop — the
    per-user fold must stay a Catalyst higher-order function (no
    BatchEvalPython), and no self-join may sneak in for the denominators."""
    import datetime as dt

    from sparksearch.relational import events_funnel

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1, "signup")],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    import re

    plan = _plan(events_funnel(df))
    assert len(re.findall(r"\n\(\d+\) Exchange", plan)) == 2, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_filtered_knn_and_boosting_no_python(spark, docs_sf0001):
    """The filtered-kNN candidate reduction happens BEFORE scoring (a join
    below the score projection, queries broadcast) and neither new
    retrieval variant introduces a Python boundary."""
    from tests.conftest import SF_SMOKE

    from sparksearch.vectors import cosine_topk_filtered

    emb = spark.read.parquet(str(SF_SMOKE / "embeddings.parquet"))
    plan = _plan(cosine_topk_filtered(emb, docs_sf0001))
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan

    from sparksearch.querying import parse_queries
    from sparksearch.scoring_ext import boosting_topk
    from sparksearch.stats import corpus_stats

    tf_df, dl_df, ts, _ = corpus_stats(docs_sf0001.select("doc_id", "text"))
    qterms = parse_queries(spark, [(1, "data stream")])
    plan2 = _plan(boosting_topk(qterms, tf_df, dl_df, ts))
    assert "BatchEvalPython" not in plan2


def test_max_struct_aggs_have_no_window_or_join(spark):
    """top_metrics and the latest transform are ONE map-side-combinable
    max(struct) aggregate: no Window (a per-group sort would skew on
    monster keys), no Join, exactly one Exchange, no Python."""
    import datetime as dt
    import re

    from tests.conftest import SF_SMOKE

    from sparksearch.joins import lineitem_top_metrics
    from sparksearch.relational import events_latest_by_user

    li = spark.read.parquet(str(SF_SMOKE / "lineitem.parquet"))
    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1, "view", 1.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    for df in (lineitem_top_metrics(li), events_latest_by_user(ev)):
        plan = _plan(df)
        assert "Window" not in plan, plan
        assert "Join" not in plan, plan
        assert len(re.findall(r"\n\(\d+\) Exchange", plan)) == 1, plan
        assert "BatchEvalPython" not in plan


def test_single_agg_entries_one_exchange(spark):
    """date_range, rate and multi_terms stay map-side-combinable: the
    when-chain / calendar bucketing is pure codegen (no join), and the only
    row-scaled exchange is the group-by hop. multi_terms' rank window then
    costs one more exchange over the bucket-count-sized frame only."""
    import re

    from tests.conftest import SF_SMOKE

    from sparksearch.joins import orders_date_range, orders_multi_terms
    from sparksearch.relational import events_rate

    od = spark.read.parquet(str(SF_SMOKE / "orders.parquet"))
    ev = spark.read.parquet(str(SF_SMOKE / "events.parquet"))
    for df in (orders_date_range(od), events_rate(ev)):
        plan = _plan(df)
        assert "Join" not in plan, plan
        assert len(re.findall(r"\n\(\d+\) Exchange", plan)) == 1, plan
    plan = _plan(orders_multi_terms(od))
    assert "Join" not in plan, plan
    # group-by hop (+ at most the single-partition window hop over the
    # bucket-count-sized frame)
    assert len(re.findall(r"\n\(\d+\) Exchange", plan)) <= 2, plan
    assert "BatchEvalPython" not in plan


def test_has_parent_page_is_take_ordered(spark):
    """The has_parent page cut plans as TakeOrderedAndProject (distributed
    top-k) — never a global single-partition sort of the joined children."""
    from tests.conftest import SF_SMOKE

    from sparksearch.joins import lineitem_has_parent_topk

    od = spark.read.parquet(str(SF_SMOKE / "orders.parquet"))
    li = spark.read.parquet(str(SF_SMOKE / "lineitem.parquet"))
    plan = _plan(lineitem_has_parent_topk(od, li))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan


def test_geotile_is_jvm_integer_math(spark):
    """The tile projection is pure codegen integer math — no Python, no
    join; the only exchanges are the two-level distinct-count aggregation
    over (tile, user) keys."""
    from tests.conftest import SF_SMOKE

    from sparksearch.relational import events_geotile

    ev = spark.read.parquet(str(SF_SMOKE / "events.parquet"))
    import re

    plan = _plan(events_geotile(ev))
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan
    # two-level distinct: (tile, user) partial hop + tile final hop, nothing
    # row-scaled beyond them
    assert len(re.findall(r"\n\(\d+\) Exchange", plan)) == 2, plan
    assert "pmod" in plan and "div" in plan, plan  # integer tile math, JVM-side


def test_session6_agg_plans(spark):
    """Round-4 session-6 agg family plan pins: bucket pipelines are
    map-combinable group-bys with at most the months/days-sized second
    hop; the synthetic-field buckets (ip_range, geohash) are pure JVM
    integer math with the two-level distinct-user exchanges; nothing
    plans a Python UDF."""
    import re

    from tests.conftest import SF_SMOKE

    from sparksearch.joins import orders_bucket_script, orders_stats_bucket
    from sparksearch.relational import events_geohash, events_ip_range

    od = spark.read.parquet(str(SF_SMOKE / "orders.parquet"))
    ev = spark.read.parquet(str(SF_SMOKE / "events.parquet"))

    # bucket_script: ONE exchange (the month group-by); the script part is
    # per-bucket scalar math — no join, no second shuffle
    plan = _plan(orders_bucket_script(od))
    assert "Join" not in plan and "BatchEvalPython" not in plan
    assert len(re.findall(r"\n\(\d+\) Exchange", plan)) == 1, plan

    # stats_bucket: month hop + the single-row sibling agg hop
    plan = _plan(orders_stats_bucket(od))
    assert "Join" not in plan and "BatchEvalPython" not in plan
    assert len(re.findall(r"\n\(\d+\) Exchange", plan)) <= 2, plan

    # ip_range / geohash: geotile's contract — integer math, two-level
    # distinct-user reduce, no join, no Python
    for df in (events_ip_range(ev), events_geohash(ev)):
        plan = _plan(df)
        assert "Join" not in plan and "BatchEvalPython" not in plan
        assert len(re.findall(r"\n\(\d+\) Exchange", plan)) == 2, plan
        assert "pmod" in plan, plan


def test_search_after_filters_before_rank_window(spark, docs_sf0001, queries):
    """The cursor predicate must reach the scored frame BEFORE the final
    rank window (that is the whole point of the physical search_after
    form — page N never re-ranks pages 1..N-1): in the formatted plan the
    cursor Filter appears below the last Window, and the window input is
    the filtered join, not the raw scored frame."""
    from sparksearch.build import tokenize_tf
    from sparksearch.querying import parse_queries
    from sparksearch.scoring_ext import search_after_topk
    from sparksearch.stats import doc_freq, global_stats_df, with_idf

    tt = tokenize_tf(docs_sf0001.select("doc_id", "text"))
    tf_df = tt.select("term", "doc_id", "tf", "dl")
    dl_df = tt.filter("lead").select("doc_id", "dl")
    ts = with_idf(doc_freq(tf_df), global_stats_df(dl_df))
    import re

    qterms = parse_queries(spark, queries)
    plan = _plan(search_after_topk(qterms, tf_df, dl_df, ts, k=10))
    assert "BatchEvalPython" not in plan
    # formatted-explain node ids grow toward the root (leaves low, root
    # high): the cursor predicate's node (a Filter or the cursor
    # BroadcastHashJoin whose detail references cs#) must have a LOWER id
    # than the final rank Window — i.e. the filter executes below it
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    cs_ids = [
        int(re.match(r"\((\d+)\)", b).group(1))
        for b in blocks
        if re.match(r"\(\d+\) (\*? ?)(Filter|BroadcastHashJoin)", b) and "cs#" in b
    ]
    win_ids = [
        int(re.match(r"\((\d+)\)", b).group(1))
        for b in blocks
        if re.match(r"\(\d+\) (\*? ?)Window\b", b)
    ]
    assert cs_ids and win_ids, plan
    assert min(cs_ids) < max(win_ids), (cs_ids, win_ids)
    # the multi-consumer scored frame is persisted (one scoring execution)
    assert "InMemoryRelation" in plan, plan


def test_session8_entry_plans(spark, docs_sf0001):
    """Round-4 session-8 plan pins: sparse_vector keeps the flagship
    broadcast-against-postings shape; Q10 pushes both predicates into the
    fact scans and broadcasts nation; bloom's filter side reduces to a
    broadcast; no BatchEvalPython anywhere."""
    from sparksearch.queries_catalog import reference_queries
    from sparksearch.querying import parse_queries
    from sparksearch.scoring_ext import sparse_vector_topk
    from sparksearch.build import tokenize_tf

    tt = tokenize_tf(docs_sf0001.select("doc_id", "text"))
    tf_df = tt.select("term", "doc_id", "tf", "dl")
    qterms = parse_queries(spark, reference_queries())
    sv = sparse_vector_topk(qterms, tf_df, k=10)
    plan = _plan(sv)
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # query table broadcast, not shuffled

    from tests.conftest import SF_SMOKE
    from sparksearch.joins import returned_items

    t = {
        n: spark.read.parquet(str(SF_SMOKE / f"{n}.parquet"))
        for n in ("lineitem", "orders", "customer", "nation")
    }
    q10 = returned_items(t["lineitem"], t["orders"], t["customer"], t["nation"])
    plan = _plan(q10)
    assert "TakeOrderedAndProject" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_returnflag" in ln for ln in pushed), plan
    assert any("o_orderdate" in ln for ln in pushed), plan
    assert "BatchEvalPython" not in plan

    from sparksearch.sampling import bloom_decontamination

    bl = bloom_decontamination(docs_sf0001)
    plan = _plan(bl)
    assert "BatchEvalPython" not in plan
    # the materialized bit set joins broadcast (kilobyte-scale by design)
    assert "BroadcastHashJoin" in plan


def test_session8_vector_entry_plans(spark):
    """BBQ packs words map-side and broadcasts queries; maxsim and the
    matryoshka audit stay JVM-side end to end."""
    from tests.conftest import SF_SMOKE
    from sparksearch.vectors import (
        bbq_ann_topk,
        matryoshka_overlap,
        rank_vectors_maxsim_topk,
    )

    emb = spark.read.parquet(str(SF_SMOKE / "embeddings.parquet"))
    for df in (bbq_ann_topk(emb), rank_vectors_maxsim_topk(emb),
               matryoshka_overlap(emb)):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_session9_tpch_plans(spark):
    """Round-4 session-9 plan pins for the TPC-H join-breadth batch:
    semi/anti joins stay SMJ on SF-growing sides, nation stays broadcast,
    Q6 is join-free with every predicate pushed, Q19's envelope reaches
    both scans, Q18 aggregates lineitem BEFORE any join."""
    import re

    from tests.conftest import SF_SMOKE
    from sparksearch.joins import (
        discount_revenue,
        idle_customers,
        large_orders,
        order_priority,
        promo_effect,
        revenue_forecast,
        volume_shipping,
    )

    t = {
        n: spark.read.parquet(str(SF_SMOKE / f"{n}.parquet"))
        for n in ("lineitem", "orders", "customer", "supplier", "part", "nation")
    }

    # Q4: LEFT SEMI sort-merge join, both filters pushed
    plan = _plan(order_priority(t["orders"], t["lineitem"]))
    assert re.search(r"SortMergeJoin .*LeftSemi", plan), plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln for ln in pushed), plan
    assert any("l_returnflag" in ln for ln in pushed), plan

    # Q6: no join at all; all five predicates at the scan
    plan = _plan(revenue_forecast(t["lineitem"]))
    assert "Join" not in plan, plan
    (pf,) = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pf, plan

    # Q7: three SMJ fact joins, exactly two broadcast nation joins
    plan = _plan(
        volume_shipping(
            t["lineitem"], t["orders"], t["customer"], t["supplier"], t["nation"]
        )
    )
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) == 3, plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2, plan

    # Q14: SMJ against the SF-growing part table (no fixture-stats broadcast)
    plan = _plan(promo_effect(t["lineitem"], t["part"]))
    assert "SortMergeJoin" in plan, plan

    # Q18: the quantity HAVING runs on a lineitem-only aggregate before joins
    plan = _plan(large_orders(t["lineitem"], t["orders"], t["customer"]))
    assert "TakeOrderedAndProject" in plan, plan
    blocks = plan.split("\n\n")
    agg_ids = [
        int(m.group(1))
        for b in blocks
        if (m := re.match(r"\((\d+)\) (\*? ?)HashAggregate", b)) and "qty_d" in b
    ]
    smj_ids = [
        int(m.group(1))
        for b in blocks
        if (m := re.match(r"\((\d+)\) (\*? ?)SortMergeJoin", b))
    ]
    assert agg_ids and smj_ids and min(agg_ids) < min(smj_ids), (agg_ids, smj_ids)

    # Q19: brand IN-list and quantity envelope both reach PushedFilters
    plan = _plan(discount_revenue(t["lineitem"], t["part"]))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("p_brand" in ln and "In(" in ln for ln in pushed), plan
    assert any("l_quantity" in ln for ln in pushed), plan

    # Q22: LEFT ANTI SMJ on the date-filtered orders slice
    plan = _plan(idle_customers(t["customer"], t["orders"], t["nation"]))
    assert re.search(r"SortMergeJoin .*LeftAnti", plan), plan
    assert "BroadcastHashJoin" in plan, plan  # nation name join

    for df in (
        order_priority(t["orders"], t["lineitem"]),
        revenue_forecast(t["lineitem"]),
        promo_effect(t["lineitem"], t["part"]),
    ):
        assert "BatchEvalPython" not in _plan(df)


def test_session9_tpch_wave2_plans(spark):
    """Q8/Q13/Q15/Q17/Q21 plan pins: widest chain keeps 4 SMJ + 3
    broadcasts, Q13 is a real LEFT OUTER, Q15/Q21 scan lineitem once
    with the scalar/blame reduction broadcast back, no UDFs anywhere."""
    import re

    from tests.conftest import SF_SMOKE
    from sparksearch.joins import (
        blamed_suppliers,
        customer_distribution,
        regional_share,
        small_quantity_revenue,
        top_supplier,
    )

    t = {
        n: spark.read.parquet(str(SF_SMOKE / f"{n}.parquet"))
        for n in ("lineitem", "orders", "customer", "supplier", "part",
                  "nation", "region")
    }

    plan = _plan(
        regional_share(t["lineitem"], t["orders"], t["customer"],
                       t["supplier"], t["nation"], t["region"])
    )
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) == 3, plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 3, plan

    plan = _plan(customer_distribution(t["customer"], t["orders"]))
    assert re.search(r"SortMergeJoin .*LeftOuter", plan), plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderpriority" in ln for ln in pushed), plan

    plan = _plan(top_supplier(t["lineitem"], t["supplier"]))
    # the revenue view feeds both the MAX and the equality side; without a
    # cache Catalyst may re-derive it once, never more (each scan block
    # prints its Location path exactly once; the tree header prints none)
    assert 1 <= plan.count("lineitem.parquet") <= 2, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    plan = _plan(small_quantity_revenue(t["lineitem"], t["part"]))
    assert "BatchEvalPython" not in plan
    # the threshold compare is a decimal cross-multiplication, no division
    assert re.search(r"\(qty_d#\d+ \* 5\)", plan) or "* 5)" in plan, plan

    plan = _plan(
        blamed_suppliers(t["lineitem"], t["orders"], t["supplier"], t["nation"])
    )
    assert "TakeOrderedAndProject" in plan, plan
    # the agg rewrite: ONE lineitem scan (the reference's form is three
    # correlated self-joins = three scans)
    assert plan.count("lineitem.parquet") == 1, plan
    for df in (
        customer_distribution(t["customer"], t["orders"]),
        top_supplier(t["lineitem"], t["supplier"]),
    ):
        assert "BatchEvalPython" not in _plan(df)


def test_session10_tpch_plans(spark):
    """Q2/Q9/Q11/Q12/Q16/Q20 plan pins — the TPC-H completion batch:
    semi/anti joins stay SMJ, every swapped predicate still pushes into
    its scan, Q20's windowed-vs-total aggregate reads lineitem ONCE, and
    no per-row Python anywhere."""
    import re

    from tests.conftest import SF_SMOKE
    from sparksearch.joins import (
        important_stock,
        min_cost_supplier,
        parts_supplier_relation,
        product_profit,
        promotion_suppliers,
        shipping_modes,
    )

    t = {
        n: spark.read.parquet(str(SF_SMOKE / f"{n}.parquet"))
        for n in ("lineitem", "orders", "customer", "supplier", "part",
                  "nation", "region")
    }

    # Q2: part filters pushed, dims broadcast, top-k is TakeOrdered
    plan = _plan(
        min_cost_supplier(t["lineitem"], t["part"], t["supplier"],
                          t["nation"], t["region"])
    )
    assert "TakeOrderedAndProject" in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("p_type" in ln and "p_size" in ln for ln in pushed), plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" in plan

    # Q9: three SMJ fact joins (part, supplier, orders) + exactly one
    # nation broadcast; the name suffix filter reaches the part scan
    plan = _plan(
        product_profit(t["lineitem"], t["part"], t["supplier"],
                       t["orders"], t["nation"])
    )
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) == 3, plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1, plan
    assert "StringEndsWith" in plan, plan

    # Q11: the region scope applies as LEFT SEMI before the aggregate;
    # the 1-row total joins back without shuffling the value frame
    plan = _plan(
        important_stock(t["lineitem"], t["supplier"], t["nation"], t["region"])
    )
    assert re.search(r"SortMergeJoin .*LeftSemi", plan), plan
    assert "BroadcastNestedLoopJoin" in plan, plan

    # Q12: year window pushed, SMJ to orders
    plan = _plan(shipping_modes(t["lineitem"], t["orders"]))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln for ln in pushed), plan
    assert "SortMergeJoin" in plan, plan

    # Q16: complaint subset excluded by LEFT ANTI; size IN-list and brand
    # exclusion both reach the part scan
    plan = _plan(
        parts_supplier_relation(t["lineitem"], t["part"], t["supplier"])
    )
    assert re.search(r"SortMergeJoin .*LeftAnti", plan), plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("In(p_size" in ln for ln in pushed), plan
    assert any("Not(EqualTo(p_brand" in ln for ln in pushed), plan

    # Q20: both reductions are LEFT SEMI, the prefix pushes, and the
    # windowed/total pair comes from ONE lineitem scan (conditional sum)
    plan = _plan(
        promotion_suppliers(t["lineitem"], t["part"], t["supplier"],
                            t["nation"], t["region"])
    )
    assert len(re.findall(r"SortMergeJoin .*LeftSemi", plan)) >= 1, plan
    assert "StringStartsWith" in plan, plan
    assert plan.count("lineitem.parquet") == 1, plan

    for maker in (
        lambda: shipping_modes(t["lineitem"], t["orders"]),
        lambda: product_profit(t["lineitem"], t["part"], t["supplier"],
                               t["orders"], t["nation"]),
    ):
        assert "BatchEvalPython" not in _plan(maker())
