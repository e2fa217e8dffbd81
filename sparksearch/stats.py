"""A1–A6: index statistics as built-in Catalyst aggregations (SURVEY.md §2.3).

All of these compile to partial+final HashAggregate with map-side combine —
the shuffle moves one row per distinct key, not per posting. Nothing here
touches Python at runtime.

BM25 idf variant (pinned; the NumPy oracle and the DuckDB oracle SQL use the
same formula — SURVEY.md §5.3):

    idf(t) = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import BM25_B, BM25_K1


def term_freq(postings: DataFrame) -> DataFrame:
    """A1: DF[term, doc_id, tf] from exploded DF[doc_id, term]."""
    return postings.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))


def doc_len(tokenized: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """A2: DF[doc_id, dl] — computed pre-explode via size(tokens) (cheaper:
    no shuffle at all; the groupBy-after-explode variant is tested equal)."""
    return tokenized.select(F.col(id_col), F.size("tokens").alias("dl"))


def doc_len_via_agg(postings: DataFrame) -> DataFrame:
    """A2-alt: same result through groupBy on the exploded rows (tested equal)."""
    return postings.groupBy("doc_id").agg(F.count(F.lit(1)).cast("int").alias("dl"))


def doc_freq(tf_df: DataFrame) -> DataFrame:
    """A3: DF[term, df, cf] — rows of tf_df are already distinct per (term, doc)."""
    return tf_df.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )


def global_stats_df(dl_df: DataFrame) -> DataFrame:
    """A4 (lazy form): 1-row DF[n_docs:bigint, avgdl:double] — kept as a
    DataFrame so the whole build/query is one DAG (cross-joined broadcast),
    no driver collect on the hot path."""
    return dl_df.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )


def with_idf(df_stats: DataFrame, stats: DataFrame) -> DataFrame:
    """A5: attach idf to DF[term, df, cf] given the 1-row stats DF."""
    joined = df_stats.crossJoin(F.broadcast(stats))
    return joined.withColumn(
        "idf",
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        ),
    )


def bm25_term_score_col(tf="tf", idf="idf", dl="dl", avgdl="avgdl", qtf=None):
    """The BM25 per-(term, doc) contribution as a Catalyst column expression:

        idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))    (k1=1.2, b=0.75)

    Constant-folded by Catalyst; used identically by Q5 (pure-DataFrame path)
    and by the block-max metadata computation in build.encode (B3).
    """
    tf_c, idf_c, dl_c, avgdl_c = (F.col(c) for c in (tf, idf, dl, avgdl))
    score = (
        idf_c
        * (tf_c * F.lit(BM25_K1 + 1.0))
        / (tf_c + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dl_c / avgdl_c))
    )
    if qtf is not None:
        score = score * F.col(qtf)
    return score


def corpus_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"):
    """Convenience: (tf_df, dl_df, term_stats_with_idf, global_stats_df) from a
    raw document table — via the one-pass Arrow kernel (build.tokenize_tf):
    tf and dl are both map-side, no occurrence shuffle (same values as the
    declarative tokenize → explode → term_freq twin, tested equal)."""
    from .build import tokenize_tf

    tt = tokenize_tf(docs.select(F.col(id_col).alias("doc_id"), text_col), text_col)
    # dl rides the postings — querying.score_logical* skip the doc-length
    # join entirely when the column is present (at 10^12 docs that join is
    # an unbroadcastable full shuffle; carrying 4 bytes/posting kills it).
    tf_df = tt.select("term", "doc_id", "tf", "dl")
    dl_df = tt.filter("lead").select("doc_id", "dl")
    stats = global_stats_df(dl_df)
    ts = with_idf(doc_freq(tf_df), stats)
    return tf_df, dl_df, ts, stats


def corpus_profile(docs: DataFrame) -> DataFrame:
    """A6: per-(lang, source) rollup — ops-dashboard style multi-level agg."""
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select("lang", "source", "n_docs", "total_chars")
    )


def round6(c) -> "Column":
    """Exact-decimal 6-dp OUTPUT rounding, cross-engine-stable.

    ``ROUND(double, 6)`` implementations disagree between engines on
    half-boundary values (Spark rounds the double's exact binary expansion
    HALF_UP; DuckDB's scaled-multiply path can land on the other side —
    measured: 8/99 catalog entries flipped a 6th decimal at sf0.1), and
    aggregation-order ULP differences put sums exactly on those
    boundaries. Quantizing ONCE to decimal(28,9) (both engines round a
    double to a 9-scale decimal identically except within ~1 ULP of a
    9th-decimal half — three orders of magnitude rarer) makes the
    subsequent 6-dp round exact decimal arithmetic, hence identical.
    SQL twin: ``CAST(ROUND(CAST(x AS DECIMAL(28,9)), 6) AS DOUBLE)``
    (catalog_pipeline._r6)."""
    col = c if not isinstance(c, str) else F.col(c)
    return F.round(col.cast("decimal(28,9)"), 6).cast("double")


def round6_np(x: np.ndarray) -> np.ndarray:
    """NumPy twin of ``round6`` — Spark's
    ``round(cast(x as decimal(28,9)), 6)``, i.e. the shortest decimal repr of
    the double, HALF_UP to 9 dp, then HALF_UP to 6 dp.

    ``np.round(x, 6)`` equals that everywhere except near a 6th-decimal half,
    where the 9-dp pre-quantize and binary noise can decide the direction;
    those few values (within 1e-3 units of a half) take the exact Decimal
    route. The DAAT kernel rounds only its ≤ k + ties survivors per shard and
    query, so the slow path is rare."""
    from decimal import ROUND_HALF_UP, Decimal

    x = np.asarray(x, dtype=np.float64)
    out = np.round(x, 6)
    frac = np.abs(x) * 1e6 % 1.0
    for i in np.flatnonzero(np.abs(frac - 0.5) < 1e-3):
        d = Decimal(repr(float(x[i])))
        d = d.quantize(Decimal("1e-9"), ROUND_HALF_UP)
        out[i] = float(d.quantize(Decimal("1e-6"), ROUND_HALF_UP))
    return out


def zipf_fit(term_stats: DataFrame) -> DataFrame:
    """Zipf's-law fit over the term frequency distribution → one-row
    DF[n_terms, slope, intercept]: least-squares line through
    (ln rank, ln cf) with rank = position under the total order
    (cf DESC, term ASC). A healthy natural-language corpus fits slope ≈ −1
    (Zipf 1949); strong deviation flags templated/synthetic text — a
    corpus-level quality diagnostic next to the per-doc gates.

    Float discipline (the decimal-exact-sum remedy, engine-wide): each
    per-term ln / product is ONE double op on identical inputs in both
    engines, quantized to decimal(28,9); the four least-squares sums then
    run over exact decimals (order-independent under any partitioning);
    the closed-form numerator/denominator are exact decimal products of
    those sums, and the only order-free double ops left are the final two
    divisions. Plan: one vocabulary-sized window rank + one aggregate —
    nothing corpus-sized moves."""
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("cf"), F.asc("term"))
    ranked = term_stats.select("term", "cf").withColumn(
        "rank", F.row_number().over(w)
    )
    return loglog_fit(
        ranked,
        F.log(F.col("rank").cast("double")),
        F.log(F.col("cf").cast("double")),
        n_alias="n_terms",
    )


def loglog_fit(points: DataFrame, x_d, y_d, n_alias: str = "n_points") -> DataFrame:
    """Shared least-squares line fit through (x_d, y_d) double columns →
    one-row DF[n_alias, slope, intercept] (zipf_fit / heaps_fit tail).

    Per-point doubles are identical in both engines (same int inputs, same
    single ops), quantized once to decimal(28,9); the four sums run over
    exact decimals. Sums are narrowed to (18,9) (|ln| bounded by ~45 even
    at 10^12 docs × 10^6 cf, so Σ over a 10^9-term vocabulary still fits)
    so the closed-form products stay inside the 38-digit cap EXACTLY:
    n(9,0)×Sxy(18,9) → (28,9); Sx(18,9)×Sy(18,9) → (37,18); their
    difference → precision 38, scale 18 — no silent scale drop (CLAUDE.md
    sharp edge). SQL twin: catalog_pipeline._loglog_tail_sql."""
    q = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    pts = points.select(
        q(x_d).alias("x"), q(y_d).alias("y"),
        q(x_d * y_d).alias("xy"), q(x_d * x_d).alias("xx"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(18,9)").alias("sx"),
        F.sum("y").cast("decimal(18,9)").alias("sy"),
        F.sum("xy").cast("decimal(18,9)").alias("sxy"),
        F.sum("xx").cast("decimal(18,9)").alias("sxx"),
    )
    nd = F.col("n").cast("decimal(9,0)")
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return agg.select(
        F.col("n").alias(n_alias),
        round6(slope).alias("slope"),
        round6(intercept).alias("intercept"),
    )


def heaps_fit(tf_df: DataFrame, dl_df: DataFrame) -> DataFrame:
    """Heaps'-law fit V(n) = K·n^β over the corpus growth curve → one-row
    DF[n_points, slope, intercept] (slope = β, intercept = ln K; natural
    language sits at β ≈ 0.4–0.6 — Heaps 1978). The companion corpus-law
    diagnostic to zipf_fit: together they characterize whether a crawl
    slice looks like organic text or templated/synthetic output.

    Growth curve points: after each document (doc_id order), n = cumulative
    tokens, V = cumulative distinct vocabulary. First occurrences come from
    one min-aggregate on the postings (term → min doc_id) — NO per-prefix
    recount; both cumulatives are single global-order window sums over
    (doc_id, two ints), the narrow-key sort that scales (same class as the
    engine's rank windows). Zero-token docs (absent from dl_df) contribute
    no point; ln is defined because every dl_df doc has dl ≥ 1."""
    firsts = (
        tf_df.groupBy("term")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("new_terms"))
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        dl_df.join(firsts, "doc_id", "left")
        .select(
            "doc_id", "dl",
            F.coalesce("new_terms", F.lit(0).cast("long")).alias("new_terms"),
        )
        .select(
            F.sum("dl").over(w).cast("long").alias("cum_tokens"),
            F.sum("new_terms").over(w).cast("long").alias("cum_vocab"),
        )
    )
    return loglog_fit(
        curve,
        F.log(F.col("cum_tokens").cast("double")),
        F.log(F.col("cum_vocab").cast("double")),
    )


#: composite-agg page geometry: deterministic keyset pagination over the
#: (lang, source) bucket space — ES composite aggregation `after` semantics.
COMPOSITE_AFTER = ("en", "src15")
COMPOSITE_PAGE_SIZE = 20


def composite_buckets_page(
    docs: DataFrame,
    after: tuple[str, str] = COMPOSITE_AFTER,
    size: int = COMPOSITE_PAGE_SIZE,
) -> DataFrame:
    """ES composite aggregation page → DF[lang, source, n_docs,
    total_chars]: the first ``size`` (lang, source) buckets strictly AFTER
    the ``after`` key in the composite key order, with their metrics —
    keyset pagination over an unbounded bucket space (the scalable
    alternative to a giant terms agg: each page is an independent,
    restartable query).

    Plan: the after-key predicate is a lexicographic row comparison that
    pushes BELOW the aggregate (groups are filtered by their own keys, so
    bucket-pruning before the shuffle is semantics-preserving); the page
    cut is TakeOrderedAndProject on the unique group keys — deterministic
    without tie-break columns."""
    la, sa = after
    pred = (F.col("lang") > la) | (
        (F.col("lang") == la) & (F.col("source") > sa)
    )
    return (
        docs.filter(pred)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang", "source")
        .limit(size)
    )


def quantile_thresholds(
    df: DataFrame, col: str, n_buckets: int, relative_error: float = 1e-4
):
    """The production bucketing path the NTILE entries document
    (xent_buckets, user_rfm): (n_buckets−1) approximate quantile
    thresholds from one Greenwald-Khanna sketch pass — at 100 TB a global
    NTILE window is a single-partition sort, while the sketch is one
    map-side-combinable aggregate whose result (a handful of doubles)
    broadcasts. Returns the ascending threshold list.

    Exactness contract: sketch quantiles are within ``relative_error`` of
    the true ranks (GK bound), so bucket assignment can differ from exact
    NTILE only for rows within that band of a boundary —
    tests/test_operators pins ≥ 99% agreement on the fixture. The exact
    NTILE path stays the oracle-checked small-scale twin."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    return df.stat.approxQuantile(col, probs, relative_error)


def bucket_by_thresholds(df: DataFrame, col: str, thresholds) -> DataFrame:
    """Assign 1-based buckets by the broadcast threshold list: bucket k ⇔
    value > thresholds[k−2] and ≤ thresholds[k−1] (right-closed, NTILE
    orientation for ascending order). Pure codegen — one when-chain, no
    shuffle, no window."""
    expr = F.lit(len(thresholds) + 1)
    for i in range(len(thresholds) - 1, -1, -1):
        expr = F.when(F.col(col) <= F.lit(thresholds[i]), F.lit(i + 1)).otherwise(expr)
    return df.withColumn("bucket_approx", expr.cast("long"))
