"""Q1–Q7: query parsing, BM25 scoring, top-k (SURVEY.md §2.5).

Two scoring paths, proven rank-identical to each other and to the NumPy
textbook oracle (tests/test_rank_identity.py):

* ``score_logical`` (Q5) — the pure-DataFrame reference path: no UDF, no
  pruning. Joins postings ⋈ dictionary ⋈ doclen, one score expression, one
  aggregation, window top-k. This is the flagship driver-oracle query and the
  forever cross-check for the physical engine.
* ``daat.topk_wand`` (Q3, sparksearch.daat) — the physical path over the
  compressed index: document-at-a-time traversal, block-max WAND pruning,
  bounded per-partition heap.

Determinism: the total order is always (score DESC, doc_id ASC) — rank
identity across retries / partitioning / engines (SURVEY.md §4.2).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .stats import bm25_term_score_col, corpus_stats, round6
from .tokenize import py_tokenize

TOPK_DEFAULT = 10


def parse_queries(spark: SparkSession, queries: list[tuple[int, str]]) -> DataFrame:
    """Q1: driver-side parse of the (tiny) query set into DF[query_id, term, qtf].

    Repeated query terms become qtf > 1 (textbook query-term-frequency
    multiplier); unknown terms are dropped later by the inner dictionary join.
    """
    rows = []
    for qid, text in queries:
        for term, qtf in sorted(Counter(py_tokenize(text)).items()):
            rows.append((int(qid), term, int(qtf)))
    return spark.createDataFrame(rows or [], "query_id int, term string, qtf int")


def parse_boosted_queries(
    spark: SparkSession, queries: list[tuple[int, str]]
) -> DataFrame:
    """Q1 with Lucene BoostQuery syntax: ``term^2.5`` weights that term's
    BM25 contribution by 2.5 → DF[query_id, term, qtf:double]. Weights for
    repeated terms ADD (a repeated unboosted term is the classic qtf > 1,
    so ``t t`` ≡ ``t^2.0``). Rides the standard scoring path unchanged —
    score_all multiplies each contribution by qtf, which may be fractional.
    """
    return spark.createDataFrame(
        [(q, t, w) for (q, t), w in sorted(py_parse_boosted(queries).items())],
        "query_id int, term string, qtf double",
    )


def py_parse_boosted(
    queries: list[tuple[int, str]],
) -> dict[tuple[int, str], float]:
    """Driver-side boosted-query parse shared by the Spark path and the
    oracle-SQL generator: {(query_id, term): weight}."""
    rows: dict[tuple[int, str], float] = {}
    for qid, text in queries:
        for raw in text.split():
            tok, _, boost = raw.partition("^")
            w = float(boost) if boost else 1.0
            for term in py_tokenize(tok):
                rows[(int(qid), term)] = rows.get((int(qid), term), 0.0) + w
    return rows


def unknown_terms(qterms: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Query terms absent from the corpus (left anti join on the dictionary)."""
    return qterms.join(dictionary, "term", "left_anti")


def score_logical(
    qterms: DataFrame,
    tf_df: DataFrame,
    dl_df: DataFrame,
    term_stats: DataFrame,
    k: int = TOPK_DEFAULT,
) -> DataFrame:
    """Q5: pure-DataFrame BM25 top-k → DF[query_id, rank, doc_id, score].

    Plan shape (verified via explain in tests): broadcast the per-query term
    stats (≤ a few rows per query) against the postings table, so the big
    side (tf) is never shuffled for the join; dl joins on doc_id (broadcast at
    fixture scale, sort-merge at cluster scale — Catalyst/AQE decides);
    groupBy(query_id, doc_id) is partial+final; top-k is a window per query.
    """
    return topk_per_query(score_all(qterms, tf_df, dl_df, term_stats), k)


def score_all(
    qterms: DataFrame,
    tf_df: DataFrame,
    dl_df: DataFrame,
    term_stats: DataFrame,
) -> DataFrame:
    """The pre-rank scored frame DF[query_id, doc_id, score] behind
    score_logical — exposed so ranking variants (field collapsing,
    minimum_should_match, function_score, rescoring) reuse the exact same
    broadcast-against-postings plan and float behavior instead of
    re-deriving BM25."""
    q = qterms.join(term_stats.select("term", "idf", "n_docs", "avgdl"), "term", "inner")
    contrib = _attach_dl(
        tf_df.join(F.broadcast(q), "term", "inner"), tf_df, dl_df
    )
    return (
        contrib.select(
            "query_id",
            "doc_id",
            bm25_term_score_col(qtf="qtf").alias("s"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").alias("score"))
    )


def _attach_dl(contrib: DataFrame, tf_df: DataFrame, dl_df: DataFrame) -> DataFrame:
    """Ensure the query-term-restricted posting rows carry dl. Free when
    tf_df already has the column (the one-pass tokenize_tf shape); the
    legacy fallback joins dl AFTER the broadcast query filter so only the
    query terms' postings — not the whole table — meet the doc-length join
    (at 10^12 docs the pre-filter join would be an unbroadcastable full
    shuffle, which is exactly why the engine carries dl on the postings)."""
    if "dl" in tf_df.columns:
        return contrib
    return contrib.join(dl_df, "doc_id")


def score_logical_conjunctive(
    qterms: DataFrame,
    tf_df: DataFrame,
    dl_df: DataFrame,
    term_stats: DataFrame,
    k: int = TOPK_DEFAULT,
) -> DataFrame:
    """Q5-AND: conjunctive ("posting-list intersection") BM25 top-k — only
    documents containing EVERY resolved query term rank; scores are the same
    BM25 sums as the disjunctive path. Queries whose terms are all unknown
    return nothing. Same plan shape as score_logical plus one broadcast join
    against the per-query required-term count."""
    q = qterms.join(term_stats.select("term", "idf", "n_docs", "avgdl"), "term", "inner")
    n_req = q.groupBy("query_id").agg(F.count_distinct("term").alias("n_req"))
    contrib = _attach_dl(
        tf_df.join(F.broadcast(q), "term", "inner"), tf_df, dl_df
    )
    scored = (
        contrib.select(
            "query_id", "doc_id", "term",
            bm25_term_score_col(qtf="qtf").alias("s"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").alias("score"), F.count_distinct("term").alias("n_hit"))
        .join(F.broadcast(n_req), "query_id")
        .filter(F.col("n_hit") == F.col("n_req"))
        .select("query_id", "doc_id", "score")
    )
    return topk_per_query(scored, k)


def topk_per_query(scored: DataFrame, k: int = TOPK_DEFAULT) -> DataFrame:
    """Q4 (batched form): deterministic top-k per query via window row_number.

    Tie-break (score DESC, doc_id ASC) is the engine-wide total order — with
    the score compared at its OUTPUT precision (round6): ranking on the raw
    double let the two engines break a 6-decimal tie differently whenever
    aggregation-order ULP noise straddled the boundary (measured at sf0.1:
    rank-10 picked different docs). Round-then-tiebreak makes rank identity
    hold by construction on any engine."""
    w = Window.partitionBy("query_id").orderBy(
        round6("score").desc(), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def global_topk(scored: DataFrame, k: int = TOPK_DEFAULT) -> DataFrame:
    """Q4 (single-query form): orderBy+limit → TakeOrderedAndProject —
    distributed per-partition top-k then single merge of ≤ P·k rows."""
    return (
        scored.orderBy(round6("score").desc(), F.asc("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(
            Window.orderBy(round6("score").desc(), F.asc("doc_id"))
        ))
        .select("rank", "doc_id", "score")
    )


def bm25_topk_from_docs(
    spark: SparkSession,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = TOPK_DEFAULT,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Q6 end-to-end logical path: raw document table + query set → rankings.

    One job for the whole query set: queries live in a small DF cross-woven
    into the scoring joins (no per-query driver loop)."""
    tf_df, dl_df, term_stats, _ = corpus_stats(docs, text_col, id_col)
    qterms = parse_queries(spark, queries)
    return score_logical(qterms, tf_df, dl_df, term_stats, k)


def rrf_fuse(
    rankings: list[DataFrame], k: int = TOPK_DEFAULT, rrf_k: int = 60
) -> DataFrame:
    """Reciprocal-rank fusion of ≥2 (query_id, rank, doc_id) rankings →
    DF[query_id, rank, doc_id, rrf_score]: score = Σ_r 1/(rrf_k + rank_r),
    docs absent from a ranking contribute nothing for it. The standard
    hybrid-search combiner (Cormack et al., SIGIR 2009) — deterministic with
    the engine-wide (score DESC, doc_id ASC) total order.

    Scale: each input is already a top-k (≤ queries·k rows), so the fusion
    union + aggregate is driver-trivial at any corpus size."""
    contrib = None
    for r in rankings:
        c = r.select(
            "query_id", "doc_id",
            (F.lit(1.0) / (F.lit(rrf_k) + F.col("rank"))).alias("c"),
        )
        contrib = c if contrib is None else contrib.unionByName(c)
    from .stats import round6

    fused = contrib.groupBy("query_id", "doc_id").agg(
        round6(F.sum("c")).alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "rrf_score")
    )


def term_suggestions(
    qterms: DataFrame,
    term_stats: DataFrame,
    max_dist: int = 2,
    n: int = 3,
) -> DataFrame:
    """Spell-correction for unknown query terms → DF[query_id, term,
    suggestion, dist, df]: for each query term absent from the corpus, the
    top-n dictionary terms within levenshtein distance ``max_dist``, ranked
    (dist ASC, df DESC, suggestion ASC) — deterministic.

    Scale: the unknown-terms side is tiny (per-query) → broadcast; the
    dictionary side is scanned linearly ONCE with the levenshtein filter
    fused into the scan (no shuffle of the vocabulary; the only exchange is
    the per-(query, term) top-n window over the ≤ |unknown|·|near| hits)."""
    unknown = unknown_terms(qterms, term_stats).select("query_id", "term")
    cand = term_stats.select(
        F.col("term").alias("suggestion"), F.col("df").cast("long").alias("df")
    ).join(F.broadcast(unknown))
    scored = cand.select(
        "query_id", "term", "suggestion", "df",
        F.levenshtein("term", "suggestion").cast("long").alias("dist"),
    ).filter(F.col("dist") <= max_dist)
    w = Window.partitionBy("query_id", "term").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("suggestion")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .select("query_id", "term", "suggestion", "dist", "df")
    )


def topk_snippets(
    docs: DataFrame,
    topk: DataFrame,
    qterms: DataFrame,
    window: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Snippet extraction for ranked results → DF[query_id, rank, doc_id,
    hit_pos, snippet]: for each (query, doc) in ``topk``, the ±window tokens
    around the FIRST occurrence of any of the query's resolved terms
    (deterministic center rule). Pure Catalyst array algebra over the bound
    token array — no UDF.

    Scale: only top-k rows (≤ queries × k) join the document table — a
    broadcast of the result set against the corpus scan, never a shuffle of
    the corpus."""
    from .tokenize import tokens_col

    qsets = qterms.groupBy("query_id").agg(
        F.array_sort(F.collect_set("term")).alias("qset")
    )
    hits = (
        topk.join(F.broadcast(qsets), "query_id")
        .join(docs.select(F.col(id_col).cast("long").alias("doc_id"), text_col), "doc_id")
        .select(
            "query_id", "rank", "doc_id", "qset",
            tokens_col(F.col(text_col)).alias("toks"),
        )
    )
    # hit_pos AND the snippet slice are computed in this ONE projection over
    # the materialized toks/qset columns: a second select indexing into
    # `toks` would be collapsed by Catalyst and re-inline the tokenize
    # expression per use site (the projection-collapse sharp edge — see
    # CLAUDE.md; same fix pattern as shingling / LSH band keys).
    pos = F.array_min(
        F.filter(
            F.transform(
                F.col("toks"),
                lambda x, i: F.when(F.array_contains(F.col("qset"), x), i + 1),
            ),
            lambda p: p.isNotNull(),
        )
    )
    start = F.greatest(pos - window, F.lit(1))
    return hits.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        pos.cast("long").alias("hit_pos"),
        F.array_join(
            F.slice(F.col("toks"), start, F.lit(2 * window + 1)), " "
        ).alias("snippet"),
    )


def facet_counts(
    qterms: DataFrame,
    tf_df: DataFrame,
    dl_df: DataFrame,
    term_stats: DataFrame,
    docs_meta: DataFrame,
    facet_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Faceted search: per-query aggregates over the FULL (disjunctive) BM25
    match set, grouped by a document-metadata facet → DF[query_id, <facet>,
    n_docs, top_score]. The standard search-UI sidebar (counts per language /
    source / tenant alongside the ranked page).

    Plan: same two broadcast joins as ``score_logical`` (postings never
    shuffle for the query join), then ONE metadata join on doc_id — the
    forward-index lookup. The match set is already reduced to one row per
    (query, doc) by the score aggregation before it meets the metadata
    table, so the join input is |matches|, not |postings|; at cluster scale
    Catalyst picks SMJ on doc_id, and the facet groupBy is partial+final on
    (query_id, facet) — a handful of groups. Facet values could instead be
    carried on the postings rows (index-time denormalization) to skip the
    join; that trades index bytes for query latency and is deliberately NOT
    done here — metadata stays one narrow columnar projection of the corpus.
    """
    q = qterms.join(term_stats.select("term", "idf", "n_docs", "avgdl"), "term", "inner")
    contrib = _attach_dl(tf_df.join(F.broadcast(q), "term", "inner"), tf_df, dl_df)
    scored = (
        contrib.select("query_id", "doc_id", bm25_term_score_col(qtf="qtf").alias("s"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").alias("score"))
    )
    meta = docs_meta.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(facet_col).alias("facet")
    )
    return (
        scored.join(meta, "doc_id")
        .groupBy("query_id", "facet")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.max("score"), 6).alias("top_score"),
        )
        .select("query_id", F.col("facet").alias(facet_col), "n_docs", "top_score")
    )


def expand_prefix_queries(
    spark: SparkSession,
    prefixes: list[tuple[int, str]],
    term_stats: DataFrame,
) -> DataFrame:
    """Prefix (trailing-wildcard) query expansion via the dictionary →
    qterms DF[query_id, term, qtf=1]: every vocabulary term starting with
    the query's prefix becomes a disjunctive query term, Lucene
    PrefixQuery-style (each expansion contributes its own BM25 weight; a doc
    matching several expansions sums them).

    Plan: the (tiny) prefix set broadcasts against ONE linear scan of the
    dictionary — ``startswith`` fuses into the scan, no vocabulary shuffle.
    The physical dictionary is term-bucketed, not term-sorted, so a range
    scan is not available; at 10^12-doc vocabulary sizes the linear scan is
    still a single narrow-column map stage (term + df), and a sorted
    dictionary sidecar would be the upgrade path if prefix queries dominated.
    """
    p = spark.createDataFrame(
        [(int(i), s) for i, s in prefixes], "query_id int, prefix string"
    )
    return (
        term_stats.select("term")
        .join(F.broadcast(p), F.col("term").startswith(F.col("prefix")), "inner")
        .select("query_id", "term", F.lit(1).alias("qtf"))
    )


def complete_prefixes(
    spark: SparkSession,
    prefixes: list[tuple[int, str]],
    term_stats: DataFrame,
    n: int = 3,
) -> DataFrame:
    """Suggest-as-you-type completion (Lucene AnalyzingSuggester semantics,
    weight = collection frequency) → DF[query_id, rank, term, cf]: the top-n
    dictionary terms completing each typed prefix, most-frequent first
    (cf DESC, term ASC — deterministic total order).

    Plan: same shape as expand_prefix_queries — the (tiny) prefix set
    broadcasts against ONE linear dictionary scan, then a per-prefix window
    over candidate sets that are vocabulary-bounded. No corpus access at
    all: completion is a dictionary-only operation, cost independent of
    corpus size."""
    p = spark.createDataFrame(
        [(int(i), s) for i, s in prefixes], "query_id int, prefix string"
    )
    cand = term_stats.select("term", "cf").join(
        F.broadcast(p), F.col("term").startswith(F.col("prefix")), "inner"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cf"), F.asc("term"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select("query_id", "rank", "term", "cf")
    )


def expand_suffix_queries(
    spark: SparkSession,
    suffixes: list[tuple[int, str]],
    term_stats: DataFrame,
) -> DataFrame:
    """Suffix (leading-wildcard, ``*fix``) query expansion via the
    dictionary → qterms DF[query_id, term, qtf=1] — the mirror of
    ``expand_prefix_queries``: every vocabulary term ENDING with the query's
    suffix becomes a disjunctive query term.

    Plan: identical to the prefix path — the tiny suffix set broadcasts
    against one linear (term, df) dictionary scan, ``endswith`` fused into
    the scan. Lucene serves leading wildcards from a reversed-term field;
    here the dictionary scan is already a single narrow map stage, and a
    reversed-term sorted sidecar is the same upgrade path noted for
    prefixes."""
    s = spark.createDataFrame(
        [(int(i), x) for i, x in suffixes], "query_id int, suffix string"
    )
    return (
        term_stats.select("term")
        .join(F.broadcast(s), F.col("term").endswith(F.col("suffix")), "inner")
        .select("query_id", "term", F.lit(1).alias("qtf"))
    )


def _prefix_upper(p: str) -> str:
    """Smallest string greater than every string with prefix ``p`` over the
    token alphabet — increment the last char ('z' → '{' sorts above every
    [a-z0-9_] char, so the bound stays exclusive-correct)."""
    return p[:-1] + chr(ord(p[-1]) + 1)


def prefix_range_pred(col, prefixes: list[str]):
    """OR of half-open term ranges [p, upper(p)) — the scan-pushable form of
    "starts with any of ``prefixes``": parquet converts each conjunct to
    GreaterThanOrEqual/LessThan filters, so row groups of a term-sorted
    dictionary sidecar outside every range are skipped without decoding.
    An empty prefix means "everything" → no pruning possible."""
    import functools

    ps = sorted(set(prefixes))
    if not ps or "" in ps:
        return F.lit(True)
    return functools.reduce(
        lambda a, b: a | b,
        [(col >= F.lit(p)) & (col < F.lit(_prefix_upper(p))) for p in ps],
    )


def expand_term_range_indexed(
    spark: SparkSession,
    ranges: list[tuple[int, str, str, bool, bool]],
    dict_sorted: DataFrame,
) -> DataFrame:
    """Lucene TermRangeQuery expansion over the TERM-SORTED dictionary
    sidecar → qterms DF[query_id, term, qtf=1]: every vocabulary term
    inside the query's lexicographic ``[lo, hi]`` range (per-query
    includeLower / includeUpper flags, the TermRangeQuery constructor's
    knobs) becomes a disjunctive query term — each expansion contributes
    its own BM25 weight, exactly the PrefixQuery rewrite discipline.

    Plan: the global OR of the literal ranges is a PUSHED filter on the
    sorted-dictionary scan (GreaterThan/LessThan conjuncts → row-group
    pruning on the term-sorted sidecar — Lucene's seek into its sorted
    terms dict); the tiny range set then broadcast-joins to assign query
    ids over the already-pruned candidates. A degenerate range (lo == hi,
    both inclusive) reduces to a single TermQuery; an empty range yields
    no qterms and therefore no result rows for that query on both
    engines."""
    import functools

    rows = [(int(i), lo, hi, bool(li), bool(ui)) for i, lo, hi, li, ui in ranges]
    r = spark.createDataFrame(
        rows, "query_id int, lo string, hi string, lo_inc boolean, hi_inc boolean"
    )
    # literal (pushable) pre-prune: OR of the per-query ranges
    pred = functools.reduce(
        lambda a, b: a | b,
        [
            ((F.col("term") >= lo) if li else (F.col("term") > lo))
            & ((F.col("term") <= hi) if ui else (F.col("term") < hi))
            for _, lo, hi, li, ui in rows
        ],
    )
    cand = dict_sorted.select("term").filter(pred)
    cond = (
        (F.col("term") > F.col("lo"))
        | (F.col("lo_inc") & (F.col("term") == F.col("lo")))
    ) & (
        (F.col("term") < F.col("hi"))
        | (F.col("hi_inc") & (F.col("term") == F.col("hi")))
    )
    return cand.join(F.broadcast(r), cond, "inner").select(
        "query_id", "term", F.lit(1).alias("qtf")
    )


def expand_prefix_indexed(
    spark: SparkSession,
    prefixes: list[tuple[int, str]],
    dict_sorted: DataFrame,
) -> DataFrame:
    """``expand_prefix_queries`` over the TERM-SORTED dictionary sidecar
    (build.write_dictionary_sidecars) — same output, range-scan plan:
    the per-prefix [p, upper) ranges push into the parquet scan
    (PushedFilters GreaterThanOrEqual/LessThan on term), so only the row
    groups covering the prefix ranges are decoded. At a 10^8–10^9-term
    vocabulary that's O(expansions) instead of a full linear vocab scan
    per query batch (Lucene serves PrefixQuery from its sorted terms dict
    the same way). The broadcast startswith join then assigns query ids —
    a re-check over already-range-pruned candidates."""
    p = spark.createDataFrame(
        [(int(i), s) for i, s in prefixes], "query_id int, prefix string"
    )
    cand = dict_sorted.select("term").filter(
        prefix_range_pred(F.col("term"), [s for _, s in prefixes])
    )
    return (
        cand.join(F.broadcast(p), F.col("term").startswith(F.col("prefix")), "inner")
        .select("query_id", "term", F.lit(1).alias("qtf"))
    )


def expand_suffix_indexed(
    spark: SparkSession,
    suffixes: list[tuple[int, str]],
    dict_rsorted: DataFrame,
) -> DataFrame:
    """``expand_suffix_queries`` over the REVERSED-term-sorted sidecar —
    Lucene's reversed-field trick: a leading wildcard (``*fix``) is a
    trailing wildcard on reverse(term), so the reversed suffix becomes a
    pushed prefix range on the rterm-sorted scan."""
    s = spark.createDataFrame(
        [(int(i), x[::-1]) for i, x in suffixes], "query_id int, rsuffix string"
    )
    cand = dict_rsorted.select("rterm", "term").filter(
        prefix_range_pred(F.col("rterm"), [x[::-1] for _, x in suffixes])
    )
    return (
        cand.join(F.broadcast(s), F.col("rterm").startswith(F.col("rsuffix")), "inner")
        .select("query_id", "term", F.lit(1).alias("qtf"))
    )


def complete_prefixes_indexed(
    spark: SparkSession,
    prefixes: list[tuple[int, str]],
    dict_sorted: DataFrame,
    n: int = 3,
) -> DataFrame:
    """``complete_prefixes`` over the term-sorted sidecar — same range-scan
    shape as ``expand_prefix_indexed`` (the sidecar carries cf, the
    suggester weight), candidate sets bounded by the pushed prefix ranges."""
    p = spark.createDataFrame(
        [(int(i), s) for i, s in prefixes], "query_id int, prefix string"
    )
    cand = (
        dict_sorted.select("term", "cf")
        .filter(prefix_range_pred(F.col("term"), [s for _, s in prefixes]))
        .join(F.broadcast(p), F.col("term").startswith(F.col("prefix")), "inner")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cf"), F.asc("term"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select("query_id", "rank", "term", "cf")
    )


def more_like_this(
    qdocs: list[int],
    tf_df: DataFrame,
    dl_df: DataFrame,
    term_stats: DataFrame,
    n_terms: int = 5,
    k: int = TOPK_DEFAULT,
) -> DataFrame:
    """More-like-this: for each seed document, extract its ``n_terms``
    highest-weight terms (tf·idf, the classic Lucene MLT selection) and run
    them as a disjunctive BM25 query, excluding the seed itself →
    DF[seed_doc_id, rank, doc_id, score].

    Determinism: term selection orders by (round(tf·idf, 6) DESC, term ASC)
    — rounding first makes near-ties exact ties, which the term tiebreak
    then resolves identically in any engine (raw-float ordering could flip
    on last-ulp idf differences across engines).

    Plan: the seed filter pushes down to the postings scan (doc_id IN ...),
    the per-seed top-n is a window over ≤ |seeds|·dl rows, and the scoring
    reuses ``score_logical``'s broadcast shape; the self-exclusion is a
    filter on the scored rows (query_id IS the seed doc_id), applied before
    the top-k window so the seed never occupies a rank.
    """
    seed_terms = (
        tf_df.filter(F.col("doc_id").isin([int(d) for d in qdocs]))
        .join(term_stats.select("term", "idf"), "term", "inner")
        .select(
            F.col("doc_id").cast("int").alias("query_id"),
            "term",
            F.round(F.col("tf") * F.col("idf"), 6).alias("w"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("w"), F.asc("term"))
    qterms = (
        seed_terms.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_terms)
        .select("query_id", "term", F.lit(1).alias("qtf"))
    )
    q = qterms.join(term_stats.select("term", "idf", "n_docs", "avgdl"), "term", "inner")
    contrib = _attach_dl(tf_df.join(F.broadcast(q), "term", "inner"), tf_df, dl_df)
    scored = (
        contrib.select("query_id", "doc_id", bm25_term_score_col(qtf="qtf").alias("s"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").alias("score"))
        .filter(F.col("doc_id") != F.col("query_id"))
    )
    return topk_per_query(scored, k).select(
        F.col("query_id").alias("seed_doc_id"), "rank", "doc_id", "score"
    )
