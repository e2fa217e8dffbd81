"""Driver-oracle catalog entries for the training-data pipeline operators
(dedup / similarity / text analysis / multimodal / relational coverage).

Merged into ``queries_catalog.CATALOG``. Every deterministic operator gets an
exact DuckDB SQL twin; the md5-derived ``h60`` hash (textpipe.h60) is
bit-identical across engines, so MinHash signatures, SimHash bits and
winnowing fingerprints are value-checked, not just row-counted. Float outputs
are rounded to 6 decimals on both sides before ranking/filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ------------------------------------------------------------ SQL fragments

#: DuckDB twin of tokenize.tokens_col — list of [a-z0-9_]+ runs.
_TS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '')"


def _h60(expr: str) -> str:
    """DuckDB twin of textpipe.h60 — first 15 md5 hex chars as int64."""
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"


def _r6(expr: str) -> str:
    """DuckDB twin of stats.round6 — exact-decimal 6-dp output rounding
    (plain ROUND(double, 6) disagrees with Spark on half-boundary values)."""
    return f"CAST(ROUND(CAST({expr} AS DECIMAL(28,9)), 6) AS DOUBLE)"


#: tokenized docs + distinct 3-gram shingles (twin of textpipe.doc_shingles)
SHINGLE_SQL = f"""
tokd AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TS} AS ts FROM documents),
sh AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(ts) >= 3
      THEN list_transform(generate_series(1, len(ts) - 2),
                          i -> ts[i] || '|' || ts[i+1] || '|' || ts[i+2])
      ELSE [array_to_string(ts, '|')]
    END) AS shingle
  FROM tokd
)
"""

#: exact-jaccard tail shared by the brute-force and LSH-verified paths;
#: expects a CTE ``pairs(doc_id_a, doc_id_b)`` of candidate pairs.
#: MinHash(24) signatures → 8×3 band keys → LSH candidate pairs (twin of
#: textpipe.lsh_band_keys + the band-key self-join) — shared by the pairwise
#: dedup entry and the duplicate-cluster entry.
MINHASH_CAND_SQL = f"""
mh AS (
  SELECT doc_id, g.seed,
         MIN({_h60("g.seed::VARCHAR || '|' || shingle")}) AS minh
  FROM sh, (SELECT unnest(generate_series(0, 23)) AS seed) g
  GROUP BY 1, 2
),
bk AS (
  SELECT doc_id, CAST(seed // 3 AS INT) AS band,
         {_h60("string_agg(minh::VARCHAR, ',' ORDER BY seed)")} AS bkey
  FROM mh GROUP BY 1, 2
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
"""

JACCARD_TAIL_SQL = """
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT p.doc_id_a, p.doc_id_b, COUNT(*) AS i
  FROM pairs p
  JOIN sh a ON a.doc_id = p.doc_id_a
  JOIN sh b ON b.doc_id = p.doc_id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.doc_id_a, i.doc_id_b, ROUND(i.i / (ca.n + cb.n - i.i), 6) AS jaccard
FROM inter i
JOIN cnt ca ON ca.doc_id = i.doc_id_a
JOIN cnt cb ON cb.doc_id = i.doc_id_b
WHERE i.i / (ca.n + cb.n - i.i) >= 0.8
"""

SIMHASH_SIG_SQL = f"""
postings AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest({_TS}) AS term FROM documents)
  GROUP BY 1, 2
),
bits AS (
  SELECT doc_id, g.b,
         SUM(CASE WHEN (h >> g.b) & 1 = 1 THEN tf ELSE -tf END) AS wsum
  FROM (SELECT doc_id, tf, {_h60("term")} AS h FROM postings),
       (SELECT unnest(generate_series(0, 59)) AS b) g
  GROUP BY 1, 2
),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN wsum > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY 1
)
"""

EMB_SQL = """
e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
             list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings)
"""

COSINE_EXPR = (
    "list_dot_product(a_v, b_v) / "
    "(sqrt(list_dot_product(a_v, a_v)) * sqrt(list_dot_product(b_v, b_v)))"
)


# -------------------------------------------------------------- Spark sides


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")


def q_dedup_exact(spark, sf_dir):
    from .textpipe import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark, sf_dir):
    from .textpipe import ngram_jaccard_pairs

    df = ngram_jaccard_pairs(_docs(spark, sf_dir))
    return df.select("doc_id_a", "doc_id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_exact_substring(spark, sf_dir):
    from .textpipe import exact_substring_spans

    return exact_substring_spans(_docs(spark, sf_dir))


def q_ngram_decontamination(spark, sf_dir):
    from .sampling import ngram_decontamination

    return ngram_decontamination(_docs(spark, sf_dir))


def q_dedup_minhash_lsh(spark, sf_dir):
    from .textpipe import minhash_lsh_dedup

    df = minhash_lsh_dedup(_docs(spark, sf_dir))
    return df.select("doc_id_a", "doc_id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_simhash(spark, sf_dir):
    from .textpipe import simhash_dedup

    df = simhash_dedup(_docs(spark, sf_dir))
    return df.select("doc_id_a", "doc_id_b", F.col("hamming").cast("long").alias("hamming"))


def q_simhash_signatures(spark, sf_dir):
    from .textpipe import simhash_signatures

    return simhash_signatures(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("simhash").cast("long").alias("simhash"),
    )


def q_doc_fingerprints(spark, sf_dir):
    from .textpipe import doc_fingerprints

    return doc_fingerprints(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    from .textpipe import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_token_counts(spark, sf_dir):
    from .textpipe import token_counts

    return token_counts(_docs(spark, sf_dir))


def q_text_quality(spark, sf_dir):
    from .textpipe import text_quality

    return text_quality(_docs(spark, sf_dir))


def q_ann_cosine_topk(spark, sf_dir):
    from .vectors import cosine_topk

    return cosine_topk(_emb(spark, sf_dir))


def q_ann_lsh_topk(spark, sf_dir):
    from .vectors import lsh_ann_topk

    return lsh_ann_topk(_emb(spark, sf_dir))


def q_ann_ivf_topk(spark, sf_dir):
    from .vectors import ivf_ann_topk

    return ivf_ann_topk(_emb(spark, sf_dir))


def q_dedup_embedding_cosine(spark, sf_dir):
    from .vectors import embedding_neardup_pairs

    return embedding_neardup_pairs(_emb(spark, sf_dir))


def q_semdedup(spark, sf_dir):
    from .vectors import semdedup

    return semdedup(_emb(spark, sf_dir))


def _ascii_docs(spark, sf_dir):
    """Multimodal-oracle guard: Spark computes over the payload BYTES while
    the DuckDB twins compute over CHARACTERS (ord/substring/length) — equal
    only when every char is one byte. Restrict both engines to ASCII rows
    (char length == UTF-8 byte length) so the twins agree on ANY corpus, not
    just the all-ASCII fixture. The operators themselves stay byte-wise."""
    d = _docs(spark, sf_dir)
    return d.filter(F.length("text") == F.octet_length(F.encode(F.col("text"), "UTF-8")))


#: DuckDB side of the same guard.
_ASCII_WHERE = "length(text) = octet_length(encode(text))"


def q_multimodal_meta(spark, sf_dir):
    from .multimodal import payload_meta

    return payload_meta(_ascii_docs(spark, sf_dir))


def q_multimodal_byte_histogram(spark, sf_dir):
    from .multimodal import byte_histogram

    return byte_histogram(_ascii_docs(spark, sf_dir))


def q_multimodal_frame_sample(spark, sf_dir):
    from .multimodal import frame_sample

    return frame_sample(_ascii_docs(spark, sf_dir))


def q_distinct_terms_per_lang(spark, sf_dir):
    """count_distinct coverage: exact distinct vocabulary per language."""
    from .tokenize import tokens_col

    d = _docs(spark, sf_dir)
    return (
        d.select("lang", F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("lang")
        .agg(F.count_distinct("term").cast("long").alias("n_terms"))
    )


def q_shared_terms_setops(spark, sf_dir):
    """Set-operation coverage (R2 family): terms used by BOTH src0 and src1
    documents via intersect, minus single-source terms via exceptAll-style
    anti logic — expressed with Spark's native set operators."""
    from .tokenize import tokens_col

    d = _docs(spark, sf_dir)
    terms_of = lambda src: (
        d.filter(F.col("source") == src)
        .select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .distinct()
    )
    both = terms_of("src0").intersect(terms_of("src1"))
    only0 = terms_of("src0").exceptAll(terms_of("src1")).distinct()
    return both.withColumn("which", F.lit("both")).unionByName(
        only0.withColumn("which", F.lit("only_src0"))
    )


#: Fixed phrase-query set for the positional-search catalog entry (terms all
#: exist in the fixture vocab; includes a 3-term phrase and a single term).
PHRASES = [(1, "hash join"), (2, "sort merge join"), (3, "dup join"), (4, "join")]


def q_phrase_topk(spark, sf_dir):
    from .phrase import phrase_topk

    return phrase_topk(_docs(spark, sf_dir), PHRASES, k=10)


_POS_CACHE: dict[str, str] = {}


def _positions_for(spark, sf_dir):
    """Positional index for the phrase entries: positions are the 4th varint
    stream of the shared physical index's segment blocks
    (queries_catalog._index_for builds with ``with_positions=True``), so the
    whole catalog sweep tokenizes the corpus once and ONE artifact serves
    postings and positions — no separate sidecar build, no second corpus
    pass."""
    from .queries_catalog import _index_for

    return _index_for(spark, sf_dir)


def q_phrase_topk_indexed(spark, sf_dir):
    from .phrase import phrase_topk_indexed

    return phrase_topk_indexed(spark, _positions_for(spark, sf_dir), PHRASES, k=10)


def _phrase_sql(k: int = 10) -> str:
    """DuckDB twin of phrase_topk: per-doc contiguous-occurrence counts via a
    positional scan of the token list, same (n DESC, doc_id ASC) order."""
    from .tokenize import py_tokenize

    branches = []
    for qid, phrase in PHRASES:
        ts = py_tokenize(phrase)
        cond = " AND ".join(f"ts[i+{j}] = '{t}'" for j, t in enumerate(ts))
        branches.append(
            f"SELECT {qid} AS query_id, doc_id,\n"
            f"       CAST(len(list_filter(generate_series(1, len(ts) - {len(ts) - 1}),"
            f" i -> {cond})) AS BIGINT) AS n_occurrences\nFROM tokd"
        )
    union = "\nUNION ALL\n".join(branches)
    return f"""WITH tokd AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TS} AS ts FROM documents),
pc AS (
{union}
),
r AS (
  SELECT query_id, doc_id, n_occurrences,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY n_occurrences DESC, doc_id ASC) AS rnk
  FROM pc WHERE n_occurrences > 0
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rank,
       doc_id, n_occurrences
FROM r WHERE rnk <= {k}"""


def q_tpch_revenue_by_nation(spark, sf_dir):
    from .joins import revenue_by_nation

    return revenue_by_nation(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def q_tpch_supplier_geo(spark, sf_dir):
    from .joins import supplier_geo

    return supplier_geo(
        _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def q_tpch_top_parts_per_brand(spark, sf_dir):
    from .joins import top_parts_per_brand

    return top_parts_per_brand(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"))


def q_tpch_pricing_summary(spark, sf_dir):
    from .joins import pricing_summary

    return pricing_summary(_t(spark, sf_dir, "lineitem"))


def q_orders_cube(spark, sf_dir):
    from .joins import orders_cube

    return orders_cube(_t(spark, sf_dir, "orders"))


def q_orders_grouping_sets(spark, sf_dir):
    from .joins import orders_grouping_sets

    return orders_grouping_sets(_t(spark, sf_dir, "orders"))


def q_lineitem_quantiles(spark, sf_dir):
    from .joins import lineitem_quantiles

    return lineitem_quantiles(_t(spark, sf_dir, "lineitem"))


def q_orders_pivot(spark, sf_dir):
    from .joins import orders_pivot

    return orders_pivot(_t(spark, sf_dir, "orders"))


def q_customer_order_balance(spark, sf_dir):
    from .joins import customer_order_balance

    return customer_order_balance(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def q_dataset_splits(spark, sf_dir):
    from .sampling import dataset_splits

    return dataset_splits(_docs(spark, sf_dir))


def q_split_contamination(spark, sf_dir):
    from .sampling import split_contamination

    return split_contamination(_docs(spark, sf_dir))


def q_events_hourly(spark, sf_dir):
    from .relational import events_hourly

    return events_hourly(_events(spark, sf_dir))


def q_events_json_props(spark, sf_dir):
    from .relational import events_json_props

    return events_json_props(_events(spark, sf_dir))


def q_events_sessions(spark, sf_dir):
    from .relational import sessionize

    return sessionize(_events(spark, sf_dir))


def q_orders_monthly(spark, sf_dir):
    from .relational import orders_monthly

    return orders_monthly(spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet"))


def q_delta_encode_demo(spark, sf_dir):
    from .relational import delta_encode_demo

    return delta_encode_demo(_events(spark, sf_dir))


# ----------------------------------------------------------------- registry


def _neardup_oracle_sql() -> str:
    from .vectors import neardup_oracle_sql

    return neardup_oracle_sql()


def _lsh_oracle_sql() -> str:
    from .vectors import lsh_ann_oracle_sql

    return lsh_ann_oracle_sql()


def _semdedup_oracle_sql() -> str:
    from .vectors import semdedup_oracle_sql

    return semdedup_oracle_sql()


def _ivf_oracle_sql() -> str:
    from .vectors import ivf_ann_oracle_sql

    return ivf_ann_oracle_sql()


def _exact_substring_sql() -> str:
    """DuckDB twin of textpipe.exact_substring_spans — same tokenizer, same
    h60 window hash, same >=2-anywhere duplication rule, same closed-interval
    merge (overlap OR adjacency), same round6 fraction."""
    from .textpipe import EXACT_SUBSTR_K as K

    return f"""WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS ts
  FROM documents
),
wins0 AS (
  SELECT doc_id, len(ts) AS n_tokens, ts,
         unnest(CASE WHEN len(ts) >= {K} THEN generate_series(1, len(ts)-{K - 1})
                ELSE CAST([] AS BIGINT[]) END) AS start
  FROM toks
),
wins AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, start,
         ('0x'||substring(md5(array_to_string(ts[start:start+{K - 1}], '|')),1,15))::BIGINT AS whash
  FROM wins0
),
dup AS (SELECT whash FROM wins GROUP BY whash HAVING COUNT(*) >= 2),
hits AS (SELECT w.doc_id, w.n_tokens, w.start FROM wins w JOIN dup d USING (whash)),
marked AS (
  SELECT doc_id, n_tokens, start,
         CASE WHEN start <= COALESCE(MAX(start + {K - 1}) OVER (
              PARTITION BY doc_id ORDER BY start
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1, -1)
              THEN 0 ELSE 1 END AS brk
  FROM hits
),
isl AS (
  SELECT doc_id, n_tokens, start,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY start) AS island
  FROM marked
),
spans AS (
  SELECT doc_id, n_tokens, island, MIN(start) AS s, MAX(start) + {K - 1} AS e
  FROM isl GROUP BY doc_id, n_tokens, island
)
SELECT doc_id, n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
       CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
       CAST(ROUND(CAST(CAST(SUM(e - s + 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS DECIMAL(28,9)), 6) AS DOUBLE) AS dup_fraction
FROM spans GROUP BY doc_id, n_tokens"""


def _decontam_sql() -> str:
    """DuckDB twin of sampling.ngram_decontamination — same tokenizer, same
    h60 window hash, same h60-deterministic split assignment, same
    LEFT-join-against-distinct-train-hashes accounting."""
    from .sampling import DECONTAM_K as K

    return f"""WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_SPLIT_CASE} AS split,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS ts
  FROM documents
),
wins0 AS (
  SELECT doc_id, split, ts,
         unnest(CASE WHEN len(ts) >= {K} THEN generate_series(1, len(ts)-{K - 1})
                ELSE CAST([] AS BIGINT[]) END) AS s
  FROM toks WHERE split <> 'val'
),
wins AS (
  SELECT doc_id, split,
         ('0x'||substring(md5(array_to_string(ts[s:s+{K - 1}], '|')),1,15))::BIGINT AS whash
  FROM wins0
),
train AS (SELECT DISTINCT whash FROM wins WHERE split = 'train'),
testw AS (SELECT doc_id, whash FROM wins WHERE split = 'test'),
j AS (
  SELECT t.doc_id, CASE WHEN tr.whash IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM testw t LEFT JOIN train tr ON t.whash = tr.whash
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(hit) AS BIGINT) AS dirty_windows,
       CAST(ROUND(CAST(CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,9)), 6) AS DOUBLE) AS dirty_frac
FROM j GROUP BY doc_id"""


def build_pipeline_catalog():
    from . import joins as _J
    from .queries_catalog import QuerySpec

    return {
        "dedup_exact": QuerySpec(
            q_dedup_exact,
            """SELECT sha256(text) AS content_sha256, CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
FROM documents GROUP BY 1""",
            "exact dedup: hash-groupBy on sha256(content), canonical survivor",
        ),
        "dedup_ngram_jaccard": QuerySpec(
            q_dedup_ngram_jaccard,
            f"""WITH {SHINGLE_SQL.strip()},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
{JACCARD_TAIL_SQL.strip()}""",
            "brute-force word-3-gram jaccard near-dup pairs (small-scale baseline)",
        ),
        "dedup_exact_substring": QuerySpec(
            q_dedup_exact_substring,
            _exact_substring_sql(),
            "ExactSubstr span dedup: maximal duplicated token runs "
            "(k-token window hashes occurring >=2 anywhere, incl. "
            "self-repetition) merged gaps-and-islands per doc — the "
            "cut-list accounting a pretraining pipeline applies instead "
            "of whole-doc drops",
        ),
        "ngram_decontamination": QuerySpec(
            q_ngram_decontamination,
            _decontam_sql(),
            "eval-set decontamination (GPT-3 appendix-C rule): per test-"
            "split doc, the fraction of its k-token windows also present "
            "anywhere in the train split — distinct train window hashes "
            "left-joined onto test windows, all map-combinable",
        ),
        "dedup_minhash_lsh": QuerySpec(
            q_dedup_minhash_lsh,
            f"""WITH {SHINGLE_SQL.strip()},
{MINHASH_CAND_SQL.strip()},
{JACCARD_TAIL_SQL.strip()}""",
            "MinHash(24)+LSH(8 bands × 3) candidates, exact-jaccard verified — "
            "identical pipeline both engines (h60 is cross-engine)",
        ),
        "dedup_simhash": QuerySpec(
            q_dedup_simhash,
            f"""WITH {SIMHASH_SIG_SQL.strip()}
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
            "SimHash near-dups: Spark uses the exact pigeonhole chunk join, "
            "oracle brute-forces n² — equal output",
        ),
        "simhash_signatures": QuerySpec(
            q_simhash_signatures,
            f"WITH {SIMHASH_SIG_SQL.strip()} SELECT doc_id, simhash FROM sig",
            "60-bit tf-weighted-majority SimHash per document",
        ),
        "doc_fingerprints": QuerySpec(
            q_doc_fingerprints,
            f"""WITH tokd AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TS} AS ts FROM documents),
khs AS (
  SELECT doc_id,
         CASE WHEN len(ts) >= 5
           THEN list_transform(generate_series(1, len(ts) - 4),
                i -> {_h60("ts[i] || '|' || ts[i+1] || '|' || ts[i+2] || '|' || ts[i+3] || '|' || ts[i+4]")})
           ELSE [{_h60("array_to_string(ts, '|')")}]
         END AS khs
  FROM tokd
),
fps AS (
  SELECT doc_id,
         CASE WHEN len(khs) >= 4
           THEN list_transform(generate_series(1, len(khs) - 3),
                               j -> list_min(list_slice(khs, j, j + 3)))
           ELSE [list_min(khs)]
         END AS fps
  FROM khs
)
SELECT DISTINCT doc_id, fp FROM (SELECT doc_id, unnest(fps) AS fp FROM fps)""",
            "winnowing fingerprints: k=5-gram h60 hashes, window-4 local minima",
        ),
        "lang_id": QuerySpec(
            q_lang_id,
            f"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(list_filter({_TS}, x -> x IN ('a','the','of','to','and','in','is','it','on','for'))) AS BIGINT) AS en_hits,
       CAST(len(list_filter({_TS}, x -> x IN ('der','die','das','und','ist','nicht','mit','ein'))) AS BIGINT) AS de_hits,
       CAST(len(list_filter({_TS}, x -> x IN ('le','la','les','et','est','un','une','dans'))) AS BIGINT) AS fr_hits,
       CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
            WHEN de_hits >= fr_hits THEN 'de' ELSE 'fr' END AS predicted_lang
FROM documents""",
            "stopword-profile language ID with deterministic tiebreak",
        ),
        "token_counts": QuerySpec(
            q_token_counts,
            f"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len({_TS}) AS BIGINT) AS n_word_tokens,
       CAST(COALESCE(list_sum(list_transform({_TS},
            x -> CAST(ceil(length(x) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_subword_est
FROM documents""",
            "token accounting: whitespace, word-regex, BPE chars/4 estimate",
        ),
        "text_quality": QuerySpec(
            q_text_quality,
            f"""WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len({_TS}) AS BIGINT) AS n_tokens,
         CAST(COALESCE(list_sum(list_transform({_TS}, x -> length(x))), 0) AS DOUBLE) AS sum_len,
         CAST(len(list_filter({_TS}, x -> x IN ('a','the','of','to','and','in','is','it','on','for'))) AS BIGINT) AS sw
  FROM documents
),
r AS (
  SELECT doc_id, n_chars, n_tokens,
         CAST(ROUND(CAST(sum_len / nullif(n_tokens, 0) AS DECIMAL(28,9)), 6) AS DOUBLE) AS mean_token_len,
         CAST(ROUND(CAST(sw / nullif(n_tokens, 0) AS DECIMAL(28,9)), 6) AS DOUBLE) AS stopword_ratio
  FROM base
)
SELECT doc_id, n_chars, n_tokens, mean_token_len, stopword_ratio,
       CAST(ROUND(CAST(least(n_tokens / 100.0, 1.0) * 0.4
             + (1.0 - least(abs(mean_token_len - 5.0) / 5.0, 1.0)) * 0.3
             + least(stopword_ratio * 5.0, 1.0) * 0.3 AS DECIMAL(28,9)), 6) AS DOUBLE) AS quality_score
FROM r""",
            "heuristic quality score: length, token shape, stopword naturalness",
        ),
        "ann_cosine_topk": QuerySpec(
            q_ann_cosine_topk,
            f"""WITH {EMB_SQL.strip()},
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(list_dot_product(e.v, q.qv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
  FROM e, q WHERE e.vec_id <> q.query_id
),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rnk
      FROM scored)
SELECT query_id, CAST(rnk AS BIGINT) AS rank, vec_id, score FROM r WHERE rnk <= 10""",
            "exact brute-force cosine top-10 (ANN baseline); queries = vec_id < 5",
        ),
        "ann_lsh_topk": QuerySpec(
            q_ann_lsh_topk,
            _lsh_oracle_sql(),
            "hyperplane-LSH bucketed ANN — EXACT oracle: the DuckDB twin is "
            "generated from the same h60-derived plane weights, so buckets, "
            "candidates, cosines and ranks are value-identical; recall vs "
            "the exact scan additionally measured in tests/test_vectors.py",
        ),
        "ann_ivf_topk": QuerySpec(
            q_ann_ivf_topk,
            _ivf_oracle_sql(),
            "IVF ANN: deterministic Lloyd coarse quantizer, probe-4 inverted "
            "lists, exact re-rank — EXACT oracle: the DuckDB twin unrolls "
            "the same Lloyd iterations as CTEs (round6-quantized argmax, "
            "decimal-exact centroid means close every cross-engine ULP "
            "channel); recall vs exact additionally in tests/test_vectors.py",
        ),
        "dedup_embedding_cosine": QuerySpec(
            q_dedup_embedding_cosine,
            _neardup_oracle_sql(),
            "embedding-cosine near-dup pairs via LSH bucket-mates + exact "
            "re-check (the scale path — no n² join); the DuckDB twin is "
            "GENERATED from the same h60 planes (same buckets, candidates, "
            "quantized cosines) — an LSH dedup is approximate BY DESIGN "
            "(miss prob ~5e-4 per threshold-grade pair), so recall vs brute "
            "force is a pytest property at fixture scale, not the oracle",
        ),
        "semdedup": QuerySpec(
            q_semdedup,
            _semdedup_oracle_sql(),
            "SemDeDup semantic dedup: deterministic-Lloyd k-means clusters, "
            "within-cluster lower-id cosine-duplicate marking (pair cost "
            "n²/k, per-cluster parallel) → per-vector keep/drop + strongest "
            "duplication; EXACT oracle via the shared unrolled-Lloyd CTEs",
        ),
        "multimodal_meta": QuerySpec(
            q_multimodal_meta,
            f"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(text) AS BIGINT) AS n_bytes,
       sha256(text) AS payload_sha256,
       lower(hex(substring(text, 1, 8))) AS head_hex
FROM documents WHERE {_ASCII_WHERE}""",
            "binary-payload metadata extracted JVM-side (sha256/hex over binary)",
        ),
        "multimodal_byte_histogram": QuerySpec(
            q_multimodal_byte_histogram,
            f"""WITH ch AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(list_transform(generate_series(1, length(text)),
                               i -> ord(substring(text, i, 1)))) AS o
  FROM documents WHERE {_ASCII_WHERE}
)
SELECT doc_id, CAST(o % 16 AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n
FROM ch GROUP BY 1, 2""",
            "feature-extract over binary payloads via mapInPandas (NumPy "
            "bincount per Arrow batch) — oracle recomputes from characters",
        ),
        "multimodal_frame_sample": QuerySpec(
            q_multimodal_frame_sample,
            f"""WITH f AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
         unnest(generate_series(0, least(7, (length(text) - 1) // 7))) AS frame_idx
  FROM documents WHERE length(text) > 0 AND {_ASCII_WHERE}
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(ord(substring(text, 1 + frame_idx * 7, 1)) AS BIGINT) AS frame_val
FROM f""",
            "strided 'frame sampling' read pattern over the opaque payload",
        ),
        "distinct_terms_per_lang": QuerySpec(
            q_distinct_terms_per_lang,
            f"""SELECT lang, CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms
FROM (SELECT lang, unnest({_TS}) AS term FROM documents)
GROUP BY 1""",
            "count_distinct coverage: exact vocabulary size per language",
        ),
        "shared_terms_setops": QuerySpec(
            q_shared_terms_setops,
            f"""WITH t0 AS (SELECT DISTINCT unnest({_TS}) AS term FROM documents WHERE source = 'src0'),
t1 AS (SELECT DISTINCT unnest({_TS}) AS term FROM documents WHERE source = 'src1')
SELECT term, 'both' AS which FROM (SELECT term FROM t0 INTERSECT SELECT term FROM t1)
UNION ALL
SELECT term, 'only_src0' AS which FROM (SELECT term FROM t0 EXCEPT SELECT term FROM t1)""",
            "set-operation coverage: INTERSECT / EXCEPT over per-source vocabularies",
        ),
        "phrase_topk": QuerySpec(
            q_phrase_topk,
            _phrase_sql(),
            "positional phrase search: contiguous-occurrence counts via the "
            "per-doc (term → positions) map, top-10 per phrase",
        ),
        "phrase_topk_indexed": QuerySpec(
            q_phrase_topk_indexed,
            _phrase_sql(),
            "index-backed phrase search: positions in the segment blocks "
            "(delta+varint stream), pruned fetch of the phrase terms "
            "only, NumPy adjacency intersection — must equal the logical "
            "path and the SQL oracle exactly",
        ),
        "tpch_revenue_by_nation": QuerySpec(
            q_tpch_revenue_by_nation,
            _J.REVENUE_BY_NATION_SQL,
            "5-way star join (Q5-shaped): lineitem⋈orders⋈customer fact chain "
            "(SMJ) ⋈ broadcast nation⋈region dims, revenue rollup",
        ),
        "tpch_supplier_geo": QuerySpec(
            q_tpch_supplier_geo,
            _J.SUPPLIER_GEO_SQL,
            "region⋈nation⋈supplier pure-broadcast dim chain (BHJ, no shuffle "
            "of the SF-growing side)",
        ),
        "tpch_top_parts_per_brand": QuerySpec(
            q_tpch_top_parts_per_brand,
            _J.TOP_PARTS_PER_BRAND_SQL,
            "top-3-per-brand window over lineitem⋈part per-part revenue",
        ),
        "tpch_pricing_summary": QuerySpec(
            q_tpch_pricing_summary,
            _J.PRICING_SUMMARY_SQL,
            "Q1-shaped pricing summary: exact-decimal sums, partial+final agg",
        ),
        "orders_cube": QuerySpec(
            q_orders_cube,
            _J.ORDERS_CUBE_SQL,
            "A6: CUBE over (status, priority) — all four grouping combos",
        ),
        "orders_grouping_sets": QuerySpec(
            q_orders_grouping_sets,
            _J.ORDERS_GROUPING_SETS_SQL,
            "A6: explicit GROUPING SETS ((status),(priority),()) in one pass",
        ),
        "lineitem_quantiles": QuerySpec(
            q_lineitem_quantiles,
            _J.LINEITEM_QUANTILES_SQL,
            "exact percentile aggregates (p25/p50/p75) per returnflag — "
            "Spark percentile ≡ DuckDB quantile_cont (linear interpolation)",
        ),
        "orders_pivot": QuerySpec(
            q_orders_pivot,
            _J.ORDERS_PIVOT_SQL,
            "pivot with explicit value list (no discovery job at scale); "
            "oracle = conditional aggregation",
        ),
        "customer_order_balance": QuerySpec(
            q_customer_order_balance,
            _J.CUSTOMER_ORDER_BALANCE_SQL,
            "left-outer coverage: customers without orders surface with zeros; "
            "orders pre-aggregated so the outer join moves 1 row/customer",
        ),
        "dataset_splits": QuerySpec(
            q_dataset_splits,
            f"""WITH s AS (
  SELECT lang,
         CASE WHEN {_h60("CAST(doc_id AS BIGINT)::VARCHAR")} % 100 < 80 THEN 'train'
              WHEN {_h60("CAST(doc_id AS BIGINT)::VARCHAR")} % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs FROM s GROUP BY 1, 2""",
            "deterministic train/val/test assignment (h60 of doc id — no "
            "rand(), survives retries/resumes) with per-(lang, split) counts",
        ),
        "split_contamination": QuerySpec(
            q_split_contamination,
            f"""WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, sha256(text) AS h,
         CASE WHEN {_h60("CAST(doc_id AS BIGINT)::VARCHAR")} % 100 < 80 THEN 'train'
              WHEN {_h60("CAST(doc_id AS BIGINT)::VARCHAR")} % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
p AS (
  SELECT least(a.split, b.split) AS split_a, greatest(a.split, b.split) AS split_b
  FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id AND a.split <> b.split
)
SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM p GROUP BY 1, 2""",
            "cross-split exact-duplicate leakage (train/test contamination) "
            "per split pair",
        ),
        "events_hourly": QuerySpec(
            q_events_hourly,
            """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM events GROUP BY 1, 2""",
            "tumbling-hour rollup (batch twin of the streaming windowed count)",
        ),
        "events_json_props": QuerySpec(
            q_events_json_props,
            """SELECT event_type,
       CAST(floor(json_extract_string(props, '$.k')::BIGINT / 10.0) AS BIGINT) AS k_bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2""",
            "JSON props parsed with from_json → typed map → bucketed rollup",
        ),
        "events_sessions": QuerySpec(
            q_events_sessions,
            """WITH m AS (
  SELECT user_id, event_id, ts,
         CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts)))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
s AS (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
  FROM m
)
SELECT CAST(user_id AS BIGINT) AS user_id, session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(floor(epoch(ts))) - MIN(floor(epoch(ts))) AS BIGINT) AS duration_sec
FROM s GROUP BY 1, 2""",
            "gap-based sessionization: lag + conditional cumsum per user",
        ),
        "orders_monthly": QuerySpec(
            q_orders_monthly,
            """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(month(o_orderdate) AS BIGINT) AS o_month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 6) AS total_price
FROM orders GROUP BY 1, 2""",
            "date-function coverage: monthly order rollup",
        ),
        "delta_encode_demo": QuerySpec(
            q_delta_encode_demo,
            """WITH l AS (
  SELECT CAST(user_id AS BIGINT) AS user_id,
         list_sort(list(CAST(event_id AS BIGINT))) AS ids
  FROM events GROUP BY 1
),
g AS (
  SELECT user_id, ids,
         list_transform(generate_series(2, len(ids)), i -> ids[i] - ids[i-1]) AS gaps
  FROM l
)
SELECT user_id, CAST(len(ids) AS BIGINT) AS n_ids,
       CAST(COALESCE(list_sum(gaps), 0) AS BIGINT) AS sum_gaps,
       CAST(COALESCE(list_max(gaps), 0) AS BIGINT) AS max_gap
FROM g""",
            "higher-order-function coverage: pure-SQL delta encoding of per-user "
            "event-id lists (cousin of codec.encode_sublist)",
        ),
    }


# ------------------------------------------------------ round-3 extensions
SLOP = 2  # proximity window for the sloppy-phrase entry


def q_dedup_clusters(spark, sf_dir):
    from .graph import neardup_clusters

    df = neardup_clusters(_docs(spark, sf_dir))
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "cluster_id",
        "cluster_size",
        F.col("is_keeper").cast("long").alias("is_keeper"),
    )


def q_phrase_topk_slop(spark, sf_dir):
    from .phrase import phrase_topk_indexed

    return phrase_topk_indexed(
        spark, _positions_for(spark, sf_dir), PHRASES, k=10, slop=SLOP
    )


def q_term_cooccurrence(spark, sf_dir):
    from .textpipe import term_cooccurrence

    return term_cooccurrence(_docs(spark, sf_dir)).select(
        "rank", "term_a", "term_b", "n_both", "pmi"
    )


def q_training_data_stats(spark, sf_dir):
    from .sampling import training_data_stats

    return training_data_stats(_docs(spark, sf_dir))


def _phrase_slop_sql(slop: int, k: int = 10) -> str:
    """DuckDB twin of the sloppy-phrase entry: per-term position lists, then
    the SAME greedy ordered-proximity chain (min next-position per step,
    span ≤ k−1+slop) evaluated with nested list lambdas."""
    from .tokenize import py_tokenize

    branches = []
    for qid, phrase in PHRASES:
        ts = py_tokenize(phrase)
        span = len(ts) - 1 + slop
        joins = "".join(
            f"\nJOIN (SELECT doc_id, ps AS ps{i} FROM pos WHERE term = '{t}') p{i} USING (doc_id)"
            for i, t in enumerate(ts[1:], start=1)
        )
        cur = "p"
        for i in range(1, len(ts)):
            cur = f"list_min(list_filter(ps{i}, q{i} -> q{i} > {cur}))"
        branches.append(
            f"SELECT {qid} AS query_id, doc_id,\n"
            f"       CAST(len(list_filter(p0.ps, p -> COALESCE({cur}, 2147483647) - p <= {span})) AS BIGINT) AS n_occurrences\n"
            f"FROM (SELECT doc_id, ps FROM pos WHERE term = '{ts[0]}') p0{joins}"
        )
    union = "\nUNION ALL\n".join(branches)
    return f"""WITH tokd AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TS} AS ts FROM documents),
pos AS (
  SELECT doc_id, u.term AS term, list(u.i ORDER BY u.i) AS ps
  FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(ts)),
                                             i -> {{'i': i, 'term': ts[i]}})) AS u
        FROM tokd)
  GROUP BY doc_id, u.term
),
pc AS (
{union}
),
r AS (
  SELECT query_id, doc_id, n_occurrences,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY n_occurrences DESC, doc_id ASC) AS rnk
  FROM pc WHERE n_occurrences > 0
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rank,
       doc_id, n_occurrences
FROM r WHERE rnk <= {k}"""


_CLUSTERS_SQL = f"""WITH RECURSIVE {SHINGLE_SQL.strip()},
{MINHASH_CAND_SQL.strip()},
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT p.doc_id_a, p.doc_id_b, COUNT(*) AS i
  FROM pairs p
  JOIN sh a ON a.doc_id = p.doc_id_a
  JOIN sh b ON b.doc_id = p.doc_id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
jp AS (
  SELECT i.doc_id_a, i.doc_id_b
  FROM inter i
  JOIN cnt ca ON ca.doc_id = i.doc_id_a
  JOIN cnt cb ON cb.doc_id = i.doc_id_b
  WHERE i.i / (ca.n + cb.n - i.i) >= 0.8
),
edges AS (
  SELECT doc_id_a AS u, doc_id_b AS v FROM jp
  UNION
  SELECT doc_id_b AS u, doc_id_a AS v FROM jp
),
reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
),
lbl AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       CAST(doc_id = cluster_id AS BIGINT) AS is_keeper
FROM lbl"""


_COOC_SQL = f"""WITH tokd AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TS} AS ts FROM documents),
dt AS (SELECT DISTINCT doc_id, unnest(ts) AS term FROM tokd),
dfreq AS (SELECT term, COUNT(*) AS df FROM dt GROUP BY 1),
vocab AS (
  SELECT term, df FROM (
    SELECT term, df, ROW_NUMBER() OVER (ORDER BY df DESC, term ASC) AS rn FROM dfreq
  ) WHERE rn <= 32
),
nd AS (SELECT COUNT(*) AS n FROM documents),
prs AS (
  SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_both
  FROM dt a
  JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
  JOIN vocab va ON va.term = a.term
  JOIN vocab vb ON vb.term = b.term
  GROUP BY 1, 2
),
scored AS (
  SELECT term_a, term_b, CAST(n_both AS BIGINT) AS n_both,
         ROUND(ln((n_both * nd.n)::DOUBLE / (va.df * vb.df)), 6) AS pmi
  FROM prs, nd
  JOIN vocab va ON va.term = prs.term_a
  JOIN vocab vb ON vb.term = prs.term_b
)
SELECT CAST(rank AS BIGINT) AS rank, term_a, term_b, n_both, pmi FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, term_a ASC, term_b ASC) AS rank
  FROM scored
) WHERE rank <= 50"""


_SPLIT_CASE = f"""CASE WHEN {_h60("CAST(doc_id AS BIGINT)::VARCHAR")} % 100 < 80 THEN 'train'
              WHEN {_h60("CAST(doc_id AS BIGINT)::VARCHAR")} % 100 < 90 THEN 'val'
              ELSE 'test' END"""

_TRAINING_SQL = f"""WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, sha256(text) AS h,
         {_SPLIT_CASE} AS split,
         CAST(len({_TS}) AS BIGINT) AS n_tokens,
         CAST(COALESCE(list_sum(list_transform({_TS}, x -> length(x))), 0) AS DOUBLE) AS sum_len,
         CAST(len(list_filter({_TS}, x -> x IN ('a','the','of','to','and','in','is','it','on','for'))) AS BIGINT) AS sw
  FROM documents
),
r AS (
  SELECT doc_id, lang, h, split, n_tokens,
         CAST(ROUND(CAST(sum_len / nullif(n_tokens, 0) AS DECIMAL(28,9)), 6) AS DOUBLE) AS mtl,
         CAST(ROUND(CAST(sw / nullif(n_tokens, 0) AS DECIMAL(28,9)), 6) AS DOUBLE) AS swr
  FROM base
),
q AS (
  SELECT doc_id, lang, h, split, n_tokens,
         CAST(ROUND(CAST(least(n_tokens / 100.0, 1.0) * 0.4
               + (1.0 - least(abs(mtl - 5.0) / 5.0, 1.0)) * 0.3
               + least(swr * 5.0, 1.0) * 0.3 AS DECIMAL(28,9)), 6) AS DOUBLE) AS quality_score
  FROM r
),
g AS (SELECT * FROM q WHERE quality_score >= 0.5),
s AS (SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS keep_id FROM g)
SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(ROUND(CAST(CAST(SUM(CAST(quality_score AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS DECIMAL(28,9)), 6) AS DOUBLE) AS avg_quality
FROM s WHERE doc_id = keep_id GROUP BY 1, 2"""


def build_round3_extras():
    """Round-3 extension entries — appended to CATALOG *after* the existing
    tail so driver-side truncation cannot displace previously-green entries."""
    from .queries_catalog import QuerySpec

    return {
        "dedup_clusters": QuerySpec(
            q_dedup_clusters,
            _CLUSTERS_SQL,
            "duplicate GROUPS, not pairs: MinHash+LSH verified pairs → "
            "connected components (iterative min-label propagation on the "
            "pairs-sized graph) → per-doc cluster id/size + canonical-"
            "survivor flag; oracle = recursive-CTE transitive closure",
        ),
        "phrase_topk_slop": QuerySpec(
            q_phrase_topk_slop,
            _phrase_slop_sql(SLOP),
            f"ordered proximity phrase search (slop={SLOP}): greedy minimal "
            "chain over the indexed positions (vectorized searchsorted per "
            "doc shard), span ≤ k−1+slop — Lucene sloppy-PhraseQuery-style, "
            "slop=0 degenerates to exact contiguity (tested)",
        ),
        "term_cooccurrence_pmi": QuerySpec(
            q_term_cooccurrence,
            _COOC_SQL,
            "related-terms panel: top-50 within-document co-occurring term "
            "pairs by PMI over the top-32-df vocabulary (vocabulary-bounded "
            "pair expansion — map-combinable at any corpus size)",
        ),
        "training_data_stats": QuerySpec(
            q_training_data_stats,
            _TRAINING_SQL,
            "the composed training-data gauntlet: quality gate → exact-dedup "
            "survivors → deterministic splits → per-(split, lang) doc/token/"
            "quality accounting in one plan",
        ),
    }


# ---------------------------------------------- round-4 session-2 entries
# (Gopher rule gate, bigram LM xent, KMV distinct sketch, stratified
# sampling, PQ-ADC ANN — each with an exact DuckDB twin)


def q_gopher_rules(spark, sf_dir):
    from .textpipe import gopher_rules

    return gopher_rules(_docs(spark, sf_dir))


def q_bigram_xent(spark, sf_dir):
    from .queries_catalog import _stats_for
    from .textpipe import bigram_xent

    _, _, term_stats, _ = _stats_for(spark, sf_dir)
    return bigram_xent(_docs(spark, sf_dir), term_stats)


def q_kmv_distinct_terms(spark, sf_dir):
    from .textpipe import kmv_distinct_terms

    return kmv_distinct_terms(_docs(spark, sf_dir))


def q_stratified_sample(spark, sf_dir):
    from .sampling import stratified_sample

    return stratified_sample(_docs(spark, sf_dir))


def _gopher_sql() -> str:
    from .textpipe import (
        GOPHER_MAX_BULLET_FRAC, GOPHER_MAX_ELLIPSIS_FRAC, GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MEAN_LEN, GOPHER_MIN_ALPHA_FRAC, GOPHER_MIN_STOPWORD_HITS,
        GOPHER_MIN_WORDS, GOPHER_MAX_WORDS,
    )

    sw = "('a','the','of','to','and','in','is','it','on','for')"
    return f"""WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TS} AS ts,
         string_split(text, chr(10)) AS lines,
         (length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) / 3 AS n_symbols
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(ts) AS BIGINT) AS n_tokens,
         COALESCE(list_sum(list_transform(ts, x -> length(x))), 0) AS sum_len,
         len(list_filter(ts, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
         len(list_filter(ts, x -> x IN {sw})) AS sw_hits,
         n_symbols,
         len(lines) AS n_lines,
         len(list_filter(lines, x -> ltrim(x) LIKE '-%' OR ltrim(x) LIKE '*%'
                                   OR ltrim(x) LIKE '•%')) AS n_bullet,
         len(list_filter(lines, x -> rtrim(x) LIKE '%...')) AS n_ellipsis
  FROM base
),
r AS (
  SELECT doc_id, n_tokens,
         {_r6('sum_len / nullif(n_tokens, 0)')} AS mean_len,
         {_r6('n_symbols / nullif(n_tokens, 0)')} AS symbol_ratio,
         {_r6('n_bullet / nullif(n_lines, 0)')} AS bullet_frac,
         {_r6('n_ellipsis / nullif(n_lines, 0)')} AS ellipsis_frac,
         {_r6('n_alpha / nullif(n_tokens, 0)')} AS alpha_frac,
         sw_hits
  FROM m
),
f AS (
  SELECT doc_id, n_tokens,
    CAST(CASE WHEN n_tokens >= {GOPHER_MIN_WORDS} AND n_tokens <= {GOPHER_MAX_WORDS}
         THEN 1 ELSE 0 END AS BIGINT) AS flag_wordcount,
    CAST(CASE WHEN mean_len >= {GOPHER_MEAN_LEN[0]} AND mean_len <= {GOPHER_MEAN_LEN[1]}
         THEN 1 ELSE 0 END AS BIGINT) AS flag_meanlen,
    CAST(CASE WHEN symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
         THEN 1 ELSE 0 END AS BIGINT) AS flag_symbol,
    CAST(CASE WHEN bullet_frac <= {GOPHER_MAX_BULLET_FRAC}
          AND ellipsis_frac <= {GOPHER_MAX_ELLIPSIS_FRAC}
         THEN 1 ELSE 0 END AS BIGINT) AS flag_bullet,
    CAST(CASE WHEN alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
         THEN 1 ELSE 0 END AS BIGINT) AS flag_alpha,
    CAST(CASE WHEN sw_hits >= {GOPHER_MIN_STOPWORD_HITS}
         THEN 1 ELSE 0 END AS BIGINT) AS flag_stopwords
  FROM r
)
SELECT *, CAST(LEAST(flag_wordcount, flag_meanlen, flag_symbol, flag_bullet,
                     flag_alpha, flag_stopwords) AS BIGINT) AS passes
FROM f"""


def _bigram_xent_sql() -> str:
    return f"""WITH tokd AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TS} AS ts FROM documents
),
bgx AS (
  SELECT doc_id, unnest(CASE WHEN len(ts) >= 2
    THEN list_transform(generate_series(1, len(ts) - 1), i -> ts[i] || '|' || ts[i+1])
    ELSE CAST([] AS VARCHAR[]) END) AS bg
  FROM tokd
),
dbt AS (SELECT doc_id, bg, COUNT(*) AS tf FROM bgx GROUP BY 1, 2),
cbg AS (SELECT bg, SUM(tf) AS c FROM dbt GROUP BY 1),
cw1 AS (SELECT split_part(bg, '|', 1) AS w1, SUM(c) AS cw FROM cbg GROUP BY 1),
vv AS (SELECT COUNT(DISTINCT term) AS v
       FROM (SELECT unnest({_TS}) AS term FROM documents)),
lp AS (
  SELECT c.bg,
         CAST(ROUND(ln(CAST(c.c + 1 AS DOUBLE) / CAST(w.cw + vv.v AS DOUBLE)), 9)
              AS DECIMAL(28,9)) AS lp
  FROM cbg c JOIN cw1 w ON split_part(c.bg, '|', 1) = w.w1 CROSS JOIN vv
)
SELECT d.doc_id, CAST(SUM(d.tf) AS BIGINT) AS n_bigrams,
       {_r6('-(CAST(SUM(CAST(d.tf AS DECIMAL(9,0)) * l.lp) AS DOUBLE)) / CAST(SUM(d.tf) AS DOUBLE)')} AS xent
FROM dbt d JOIN lp l ON d.bg = l.bg
GROUP BY 1"""


def _kmv_sql() -> str:
    from .textpipe import KMV_K

    two60 = float(1 << 60)
    return f"""WITH pairs AS (
  SELECT DISTINCT lang, {_h60('term')} AS h
  FROM (SELECT lang, unnest({_TS}) AS term FROM documents)
),
ex AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_exact FROM pairs GROUP BY 1),
sk AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sketch, MAX(h) AS kth_hash
  FROM (SELECT lang, h,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
        FROM pairs)
  WHERE rn <= {KMV_K} GROUP BY 1
)
SELECT ex.lang, ex.n_exact, sk.n_sketch, sk.kth_hash,
       {_r6(f'CASE WHEN sk.n_sketch < {KMV_K} THEN CAST(sk.n_sketch AS DOUBLE) '
            f'ELSE {float(KMV_K - 1)} / (CAST(sk.kth_hash AS DOUBLE) / {two60}) END')} AS est_distinct
FROM ex JOIN sk ON ex.lang = sk.lang"""


def _stratified_sql() -> str:
    from .sampling import STRATA_QUOTA

    return f"""SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id FROM (
  SELECT lang, CAST(doc_id AS BIGINT) AS doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
           ORDER BY {_h60('CAST(doc_id AS VARCHAR)')} ASC, doc_id ASC) AS rank
  FROM documents)
WHERE rank <= {STRATA_QUOTA}"""


def build_round4_extras():
    from .queries_catalog import QuerySpec

    out = {
        "gopher_rules": QuerySpec(
            q_gopher_rules,
            _gopher_sql(),
            "Gopher/MassiveText rule-based quality gate: 6 published rules "
            "as one map-side codegen projection, per-rule flags + pass",
        ),
        "bigram_xent": QuerySpec(
            q_bigram_xent,
            _bigram_xent_sql(),
            "CCNet-style bigram LM cross-entropy per doc (add-one "
            "smoothing, left-marginal from the bigram counts), "
            "decimal-exact per-doc sums",
        ),
        "kmv_distinct_terms": QuerySpec(
            q_kmv_distinct_terms,
            _kmv_sql(),
            "KMV distinct-cardinality sketch of the per-language term "
            "vocabulary (k=64, salted two-phase k-smallest) + exact count",
        ),
        "stratified_sample": QuerySpec(
            q_stratified_sample,
            _stratified_sql(),
            "exact-quota per-language stratified sample on deterministic "
            "h60 keys (salted two-phase per-stratum top-k)",
        ),
    }
    return _register_pq(out)


def q_ann_pq_topk(spark, sf_dir):
    from .vectors import pq_ann_topk

    return pq_ann_topk(_emb(spark, sf_dir))


def _pq_oracle_sql() -> str:
    from .vectors import pq_ann_oracle_sql

    return pq_ann_oracle_sql()


def _register_pq(extras: dict) -> dict:
    from .queries_catalog import QuerySpec

    extras["ann_pq_topk"] = QuerySpec(
        q_ann_pq_topk,
        _pq_oracle_sql(),
        "product-quantization ANN (ADC, Jégou et al. 2011): per-subspace "
        "deterministic-Lloyd codebooks, m int codes per vector, "
        "lookup-table distance sum — exact unrolled-Lloyd DuckDB twin",
    )
    return extras


# ---------------------------------------------- round-4 session-3 entries
# (term-graph PageRank with an unrolled-power-iteration oracle, content-
# defined chunking, perplexity-bucketed curation, Zipf-law fit — each with
# an exact DuckDB twin)

PAGERANK_ITERS = 10
PAGERANK_DAMPING = "0.85"  # 2-dp decimal STRING — see graph.pagerank


def q_term_pagerank(spark, sf_dir):
    from .graph import pagerank
    from .textpipe import cooccurrence_edges

    pairs = cooccurrence_edges(_docs(spark, sf_dir))
    edges = pairs.select(
        F.col("term_a").alias("src"), F.col("term_b").alias("dst"),
        F.col("n_both").alias("w"),
    ).union(
        pairs.select(
            F.col("term_b").alias("src"), F.col("term_a").alias("dst"),
            F.col("n_both").alias("w"),
        )
    )
    pr = pagerank(edges, iterations=PAGERANK_ITERS, damping=PAGERANK_DAMPING)
    out = pr.select(
        F.col("node").alias("term"),
        F.col("wdeg").cast("long").alias("wdeg"),
        F.round(F.col("r"), 6).cast("double").alias("pagerank"),
    )
    pairs.unpersist()
    return out


def _pagerank_sql(iterations: int = PAGERANK_ITERS,
                  damping: str = PAGERANK_DAMPING) -> str:
    """Unrolled power-iteration twin of graph.pagerank over the
    cooccurrence_edges graph: one CTE per iteration (the _lloyd_ctes
    pattern), every step the same exact-decimal arithmetic as the Spark
    side — identical teleport/share doubles, identical decimal(28,9)
    per-step quantization."""
    tele = f"CAST((1.0::DOUBLE - {damping}::DOUBLE) / nn.n AS DECIMAL(28,9))"
    iters = []
    for i in range(iterations):
        iters.append(f"""r{i + 1} AS (
  SELECT n.node,
         CAST(ROUND({tele}
           + CAST({damping} AS DECIMAL(3,2)) * CAST(COALESCE(s.insum, 0) AS DECIMAL(12,9)),
           9) AS DECIMAL(28,9)) AS r
  FROM nds n CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node,
           SUM(CAST(CAST(p.r AS DOUBLE) / CAST(n2.wdeg AS DOUBLE) AS DECIMAL(10,9))
               * CAST(e.w AS DECIMAL(19,0))) AS insum
    FROM r{i} p
    JOIN nds n2 ON n2.node = p.node AND n2.wdeg > 0
    JOIN ed e ON e.src = p.node
    GROUP BY 1
  ) s ON s.node = n.node
)""")
    chain = ",\n".join(iters)
    return f"""WITH tokd AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TS} AS ts FROM documents),
dt AS (SELECT DISTINCT doc_id, unnest(ts) AS term FROM tokd),
dfreq AS (SELECT term, COUNT(*) AS df FROM dt GROUP BY 1),
vocab AS (
  SELECT term FROM (
    SELECT term, ROW_NUMBER() OVER (ORDER BY df DESC, term ASC) AS rn FROM dfreq
  ) WHERE rn <= 32
),
prs AS (
  SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_both
  FROM dt a
  JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
  JOIN vocab va ON va.term = a.term
  JOIN vocab vb ON vb.term = b.term
  GROUP BY 1, 2
),
ed AS (
  SELECT term_a AS src, term_b AS dst, n_both AS w FROM prs
  UNION ALL
  SELECT term_b AS src, term_a AS dst, n_both AS w FROM prs
),
deg AS (SELECT src AS node, CAST(SUM(w) AS BIGINT) AS wdeg FROM ed GROUP BY 1),
nds AS (
  SELECT u.node, COALESCE(d.wdeg, 0) AS wdeg
  FROM (SELECT src AS node FROM ed UNION SELECT dst AS node FROM ed) u
  LEFT JOIN deg d ON d.node = u.node
),
nn AS (SELECT COUNT(*) AS n FROM nds),
r0 AS (SELECT node, CAST(1.0::DOUBLE / nn.n AS DECIMAL(28,9)) AS r FROM nds, nn),
{chain}
SELECT n.node AS term, CAST(n.wdeg AS BIGINT) AS wdeg,
       CAST(ROUND(r.r, 6) AS DOUBLE) AS pagerank
FROM nds n JOIN r{iterations} r ON r.node = n.node"""


def q_cdc_chunks(spark, sf_dir):
    from .textpipe import cdc_chunks

    return cdc_chunks(_docs(spark, sf_dir))


def q_xent_buckets(spark, sf_dir):
    from .queries_catalog import _stats_for
    from .textpipe import xent_buckets

    tf_df, _, ts, _ = _stats_for(spark, sf_dir)
    return xent_buckets(tf_df, ts).select(
        F.col("doc_id").cast("long").alias("doc_id"), "xent", "bucket"
    )


def q_zipf_fit(spark, sf_dir):
    from .queries_catalog import _stats_for
    from .stats import zipf_fit

    _, _, ts, _ = _stats_for(spark, sf_dir)
    return zipf_fit(ts)


def _cdc_sql() -> str:
    from .textpipe import CDC_DIVISOR, CDC_WINDOW

    w, d = CDC_WINDOW, CDC_DIVISOR
    st = "CASE WHEN j = 1 THEN 1 ELSE ends[j-1] + 1 END"
    return f"""WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text, CAST(length(text) AS INT) AS L
  FROM documents WHERE length(text) >= 1
),
cr AS (
  SELECT doc_id, text, L,
    CASE WHEN L >= {w} THEN list_filter(
      list_transform(generate_series(1, L - {w - 1}),
        i -> CASE WHEN {_h60(f"substring(text, i, {w})")} % {d} = 0
             THEN i + {w - 1} END),
      x -> x IS NOT NULL AND x < L)
    ELSE CAST([] AS BIGINT[]) END AS cuts
  FROM base
),
ea AS (SELECT doc_id, text, list_append(cuts, L) AS ends FROM cr),
ex AS (SELECT doc_id, text, ends, unnest(generate_series(1, len(ends))) AS j FROM ea)
SELECT doc_id,
       CAST(j AS BIGINT) AS chunk_idx,
       CAST({st} AS BIGINT) AS start,
       CAST(ends[j] - ({st}) + 1 AS BIGINT) AS chunk_len,
       {_h60(f"substring(text, {st}, ends[j] - ({st}) + 1)")} AS chunk_h60
FROM ex"""


def _xent_buckets_sql() -> str:
    from .queries_catalog import TOK_SQL

    return f"""WITH {TOK_SQL.strip()},
coll AS (SELECT CAST(SUM(cf) AS DOUBLE) AS c FROM termstats),
lp AS (
  SELECT term, CAST(ROUND(LN(cf / (SELECT c FROM coll)), 9) AS DECIMAL(28,9)) AS lp
  FROM termstats
),
x AS (
  SELECT p.doc_id, SUM(p.tf * l.lp) AS s, MAX(d.dl) AS dl
  FROM postings p JOIN lp l USING (term) JOIN doclen d ON p.doc_id = d.doc_id
  GROUP BY 1
),
xe AS (SELECT doc_id, ROUND(-(CAST(s AS DOUBLE)) / dl, 6) AS xent FROM x)
SELECT doc_id, xent,
       CAST(NTILE(3) OVER (ORDER BY xent ASC, doc_id ASC) AS BIGINT) AS bucket
FROM xe"""


def _loglog_tail_sql(points_cte: str, x: str, y: str, n_alias: str) -> str:
    """Twin of stats.loglog_fit: pts/ag CTEs + final select, parameterized
    on the upstream CTE producing the raw (pre-ln) columns and the two
    double expressions. Shared by _zipf_sql and _heaps_sql.

    n is cast to DECIMAL(19,0) here (NOT the Spark side's (9,0)): DuckDB
    sizes the multiply's intermediate by operand width and overflows int64
    on (9,0)×(18,9) once n·Σ exceeds 2^63/10^9 (seen at the sf0.1
    heaps curve, n=5000) — 19+18=37 forces int128 while staying inside
    the 38 cap; values are exact either way, so the engines still agree."""
    nd = "CAST(n AS DECIMAL(19,0))"
    slope = (f"CAST({nd} * sxy - sx * sy AS DOUBLE) / "
             f"CAST({nd} * sxx - sx * sx AS DOUBLE)")
    intercept = (f"(CAST(sy AS DOUBLE) - ({slope}) * CAST(sx AS DOUBLE)) "
                 "/ CAST(n AS DOUBLE)")
    return f"""pts AS (
  SELECT CAST(ROUND({x}, 9) AS DECIMAL(28,9)) AS x,
         CAST(ROUND({y}, 9) AS DECIMAL(28,9)) AS y,
         CAST(ROUND(({x}) * ({y}), 9) AS DECIMAL(28,9)) AS xy,
         CAST(ROUND(({x}) * ({x}), 9) AS DECIMAL(28,9)) AS xx
  FROM {points_cte}
),
ag AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(18,9)) AS sx, CAST(SUM(y) AS DECIMAL(18,9)) AS sy,
         CAST(SUM(xy) AS DECIMAL(18,9)) AS sxy, CAST(SUM(xx) AS DECIMAL(18,9)) AS sxx
  FROM pts
)
SELECT n AS {n_alias}, {_r6(slope)} AS slope, {_r6(intercept)} AS intercept
FROM ag"""


def _zipf_sql() -> str:
    from .queries_catalog import TOK_SQL

    return f"""WITH {TOK_SQL.strip()},
rk AS (
  SELECT cf, CAST(ROW_NUMBER() OVER (ORDER BY cf DESC, term ASC) AS BIGINT) AS rank
  FROM termstats
),
{_loglog_tail_sql("rk", "LN(rank)", "LN(cf)", "n_terms")}"""


def q_heaps_fit(spark, sf_dir):
    from .queries_catalog import _stats_for
    from .stats import heaps_fit

    tf_df, dl_df, _, _ = _stats_for(spark, sf_dir)
    return heaps_fit(tf_df, dl_df)


def q_events_trend(spark, sf_dir):
    from .relational import events_trend

    return events_trend(_events(spark, sf_dir))


def _heaps_sql() -> str:
    from .queries_catalog import TOK_SQL

    return f"""WITH {TOK_SQL.strip()},
firsts AS (
  SELECT doc_id, COUNT(*) AS new_terms
  FROM (SELECT term, MIN(doc_id) AS doc_id FROM postings GROUP BY 1)
  GROUP BY 1
),
curve AS (
  SELECT CAST(SUM(d.dl) OVER (ORDER BY d.doc_id) AS BIGINT) AS cum_tokens,
         CAST(SUM(COALESCE(f.new_terms, 0)) OVER (ORDER BY d.doc_id) AS BIGINT) AS cum_vocab
  FROM doclen d LEFT JOIN firsts f ON f.doc_id = d.doc_id
),
{_loglog_tail_sql("curve", "LN(cum_tokens)", "LN(cum_vocab)", "n_points")}"""


def build_round4_s3_extras():
    from .queries_catalog import QuerySpec

    return {
        "term_pagerank": QuerySpec(
            q_term_pagerank,
            _pagerank_sql(),
            "weighted PageRank over the within-document co-occurrence term "
            "graph (vocabulary-bounded edges, 10 fixed power steps, "
            "decimal-exact quantized iterations) — oracle UNROLLS the "
            "iterations as CTEs; generic graph.pagerank underneath",
        ),
        "cdc_chunks": QuerySpec(
            q_cdc_chunks,
            _cdc_sql(),
            "content-defined chunking (LBFS/rsync boundary rule, h60 "
            "rolling window % 64): position-local cuts, per-chunk h60 "
            "hashes for sub-document dedup — map-side only, zero shuffle",
        ),
        "xent_buckets": QuerySpec(
            q_xent_buckets,
            _xent_buckets_sql(),
            "CCNet-style perplexity tiers: unigram-LM cross-entropy NTILE'd "
            "into head/middle/tail on the quantized total order — the "
            "quality-tiered sampling key for pretraining curation",
        ),
        "zipf_fit": QuerySpec(
            q_zipf_fit,
            _zipf_sql(),
            "Zipf's-law least-squares fit over (ln rank, ln cf): corpus-"
            "level quality diagnostic; decimal-exact sums, closed-form "
            "slope/intercept inside the 38-digit cap",
        ),
        "events_trend": QuerySpec(
            q_events_trend,
            """WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start, event_type, n_events,
       CAST(SUM(n_events) OVER (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_events,
       CAST(n_events - LAG(n_events, 1) OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS delta,
       CAST(ROUND(CAST(CAST(SUM(n_events) OVER (PARTITION BY event_type ORDER BY h
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
            / CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY h
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS DECIMAL(28,9)), 6) AS DOUBLE) AS ma3
FROM hourly""",
            "ES pipeline aggregations (cumulative_sum / derivative / "
            "moving_fn avg) over the per-type hourly series — exact window "
            "ints, one double division, NULL first-bucket derivative",
        ),
        "heaps_fit": QuerySpec(
            q_heaps_fit,
            _heaps_sql(),
            "Heaps'-law vocabulary-growth fit V(n)=K·n^beta: cumulative "
            "(tokens, distinct vocab) after each doc via one min-aggregate "
            "+ two narrow global-order window sums; shared decimal-exact "
            "loglog_fit tail with zipf_fit",
        ),
    }


def q_ann_sq8_topk(spark, sf_dir):
    from .vectors import sq8_ann_topk

    return sq8_ann_topk(_emb(spark, sf_dir))


def _sq8_sql() -> str:
    from .vectors import SQ_LEVELS, SQ_QUERIES, SQ_TOPK

    lv = float(SQ_LEVELS)
    cos = ("list_dot_product(xh, qv) / "
           "(sqrt(list_dot_product(xh, xh)) * sqrt(list_dot_product(qv, qv)))")
    return f"""WITH {EMB_SQL.strip()},
d1 AS (SELECT vec_id, v, unnest(generate_series(1, len(v))) AS pos FROM e),
dimx AS (SELECT vec_id, pos, v[pos] AS x FROM d1),
pm AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM dimx GROUP BY 1),
prm AS (SELECT list(mn ORDER BY pos) AS mins, list(mx - mn ORDER BY pos) AS spans FROM pm),
codes AS (
  SELECT vec_id,
         list_transform(generate_series(1, len(v)),
           j -> CASE WHEN spans[j] > 0
                THEN floor((v[j] - mins[j]) * {lv} / spans[j] + 0.5)
                ELSE 0 END) AS q8
  FROM e, prm
),
xhat AS (
  SELECT vec_id,
         list_transform(generate_series(1, len(q8)),
           j -> mins[j] + q8[j] * spans[j] / {lv}) AS xh
  FROM codes, prm
),
qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {SQ_QUERIES}),
sc AS (
  SELECT q.query_id, x.vec_id, {_r6(cos)} AS score
  FROM xhat x, qs q WHERE x.vec_id <> q.query_id
),
rk AS (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM sc
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, score
FROM rk WHERE rank <= {SQ_TOPK}"""


def q_lineitem_percentile_ranks(spark, sf_dir):
    from .joins import lineitem_percentile_ranks

    return lineitem_percentile_ranks(_t(spark, sf_dir, "lineitem"))


def build_round4_s3_ann():
    from . import joins as _J2
    from .queries_catalog import QuerySpec

    return {
        "lineitem_percentile_ranks": QuerySpec(
            q_lineitem_percentile_ranks,
            _J2.PCT_RANKS_SQL,
            "ES percentile_ranks (inverse percentiles): fraction of values "
            "≤ fixed thresholds per returnflag — exact conditional-count "
            "ratios (TDigest is the approximate 100 TB variant)",
        ),
        "ann_sq8_topk": QuerySpec(
            q_ann_sq8_topk,
            _sq8_sql(),
            "scalar-quantization ANN (SQ8 / faiss ScalarQuantizer path): "
            "per-dim affine uint8 codes, asymmetric full-precision-query × "
            "dequantized-code cosine — completes the quantized-ANN family "
            "(LSH / IVF / PQ / SQ8); self-contained SQL twin (params "
            "derived in-query)",
        ),
    }


def q_events_asof_join(spark, sf_dir):
    from .relational import events_asof_join

    return events_asof_join(_events(spark, sf_dir))


def q_cdc_chunk_dedup(spark, sf_dir):
    from .textpipe import cdc_chunk_dedup

    return cdc_chunk_dedup(_docs(spark, sf_dir))


def _asof_sql() -> str:
    from .relational import ASOF_LEFT, ASOF_RIGHT

    win = ("OVER (PARTITION BY user_id ORDER BY ts, event_id "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    return f"""WITH t AS (
  SELECT CAST(user_id AS BIGINT) AS user_id, ts, CAST(event_id AS BIGINT) AS event_id, event_type
  FROM events WHERE event_type IN ('{ASOF_LEFT}', '{ASOF_RIGHT}')
),
m AS (
  SELECT user_id, ts, event_id, event_type,
         LAST_VALUE(CASE WHEN event_type = '{ASOF_RIGHT}' THEN event_id END IGNORE NULLS) {win} AS view_event_id,
         LAST_VALUE(CASE WHEN event_type = '{ASOF_RIGHT}' THEN ts END IGNORE NULLS) {win} AS view_ts
  FROM t
)
SELECT event_id AS purchase_event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       CAST(view_event_id AS BIGINT) AS view_event_id,
       strftime(view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       CAST(floor(epoch(ts)) - floor(epoch(view_ts)) AS BIGINT) AS lag_seconds
FROM m WHERE event_type = '{ASOF_LEFT}'"""


def _cdc_dedup_sql() -> str:
    return f"""WITH ch AS (SELECT * FROM (
{_cdc_sql()}
)),
shared AS (
  SELECT chunk_h60 FROM ch GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN s.chunk_h60 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(SUM(CASE WHEN s.chunk_h60 IS NOT NULL THEN c.chunk_len ELSE 0 END) AS BIGINT) AS dup_len,
       {_r6("CAST(SUM(CASE WHEN s.chunk_h60 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS dup_chunk_frac
FROM ch c LEFT JOIN shared s ON s.chunk_h60 = c.chunk_h60
GROUP BY 1"""


def build_round4_s3_temporal():
    from .queries_catalog import QuerySpec

    return {
        "events_asof_join": QuerySpec(
            q_events_asof_join,
            _asof_sql(),
            "LEFT as-of join (attribution): most recent view at-or-before "
            "each purchase per user in (ts, event_id) total order — "
            "union-merge window formulation, one user_id shuffle, linear "
            "per-key merge (never an inequality join)",
        ),
        "cdc_chunk_dedup": QuerySpec(
            q_cdc_chunk_dedup,
            _cdc_dedup_sql(),
            "chunk-level duplication accounting over CDC chunks (h60 in "
            "≥2 distinct docs) — sub-document dedup on content-defined "
            "boundaries; key-partitioned join back, line_boilerplate "
            "pattern one level down",
        ),
    }


# ------------------------------------------------- round-4 session-4 entries


def q_events_funnel(spark, sf_dir):
    from .relational import events_funnel

    return events_funnel(_events(spark, sf_dir))


def q_cohort_retention(spark, sf_dir):
    from .relational import cohort_retention

    return cohort_retention(_events(spark, sf_dir))


def q_matrix_stats(spark, sf_dir):
    from .joins import lineitem_matrix_stats

    return lineitem_matrix_stats(_t(spark, sf_dir, "lineitem"))


def q_mixture_weights(spark, sf_dir):
    from .sampling import lang_mixture_weights

    return lang_mixture_weights(_docs(spark, sf_dir))


def q_composite_page(spark, sf_dir):
    from .stats import composite_buckets_page

    return composite_buckets_page(_docs(spark, sf_dir))


def _funnel_sql() -> str:
    """Twin of relational.events_funnel, generated from FUNNEL_STEPS: the
    greedy per-user fold ≡ the nested earliest-completion chain, built here
    as k chained min-joins (each step's earliest event strictly after the
    previous step's match in the (ts, event_id) row order)."""
    from .relational import FUNNEL_STEPS

    steps = FUNNEL_STEPS
    in_list = ", ".join(f"'{s}'" for s in steps)
    ctes = [f"""t AS (
  SELECT CAST(user_id AS BIGINT) AS u, ts, CAST(event_id AS BIGINT) AS e, event_type
  FROM events WHERE event_type IN ({in_list})
)"""]
    for k, s in enumerate(steps, start=1):
        if k == 1:
            inner = f"""SELECT u, ts, e, ROW_NUMBER() OVER (PARTITION BY u ORDER BY ts, e) AS rn
    FROM t WHERE event_type = '{s}'"""
        else:
            inner = f"""SELECT t.u AS u, t.ts AS ts, t.e AS e,
           ROW_NUMBER() OVER (PARTITION BY t.u ORDER BY t.ts, t.e) AS rn
    FROM t JOIN s{k - 1} ON s{k - 1}.u = t.u
    WHERE t.event_type = '{s}' AND (t.ts, t.e) > (s{k - 1}.ts, s{k - 1}.e)"""
        ctes.append(f"s{k} AS (SELECT u, ts, e FROM (\n    {inner}) WHERE rn = 1)")
    ns = ", ".join(
        f"(SELECT COUNT(*) FROM s{k}) AS n{k}" for k in range(1, len(steps) + 1)
    )
    ctes.append(f"c AS (SELECT {ns})")
    selects = []
    for k, s in enumerate(steps, start=1):
        top = _r6(f"CAST(n{k} AS DOUBLE) / CAST(n1 AS DOUBLE)")
        if k == 1:
            prev = "CAST(NULL AS DOUBLE)"
        else:
            p = _r6(f"CAST(n{k} AS DOUBLE) / CAST(n{k - 1} AS DOUBLE)")
            prev = f"CASE WHEN n{k - 1} > 0 THEN {p} END"
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS step, '{s}' AS step_name, "
            f"CAST(n{k} AS BIGINT) AS n_users,\n"
            f"       CASE WHEN n1 > 0 THEN {top} END AS frac_top,\n"
            f"       {prev} AS frac_prev FROM c"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def _cohort_sql() -> str:
    from .relational import WEEK_EPOCH

    return f"""WITH t AS (
  SELECT CAST(user_id AS BIGINT) AS user_id,
         CAST(floor(date_diff('day', DATE '{WEEK_EPOCH}', CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week_idx
  FROM events
),
f AS (SELECT user_id, MIN(week_idx) AS cohort_week FROM t GROUP BY 1),
a AS (
  SELECT DISTINCT t.user_id, f.cohort_week, t.week_idx - f.cohort_week AS week_offset
  FROM t JOIN f USING (user_id)
),
s AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM f GROUP BY 1)
SELECT CAST(a.cohort_week AS BIGINT) AS cohort_week,
       CAST(a.week_offset AS BIGINT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       {_r6("CAST(COUNT(*) AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)")} AS retention
FROM a JOIN s USING (cohort_week)
GROUP BY a.cohort_week, a.week_offset, s.cohort_size"""


def _mixture_sql() -> str:
    return f"""WITH tl AS (
  SELECT lang, SUM(len({_TS})) AS n_tokens FROM documents GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total FROM tl),
q AS (
  SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(n_tokens AS DOUBLE) / (SELECT total FROM tot) AS p
  FROM tl
),
q2 AS (SELECT lang, n_tokens, p, CAST(ROUND(sqrt(p), 9) AS DECIMAL(28,9)) AS qd FROM q),
w AS (SELECT SUM(qd) AS ws FROM q2)
SELECT lang, n_tokens, {_r6("p")} AS p,
       {_r6("CAST(qd AS DOUBLE) / CAST((SELECT ws FROM w) AS DOUBLE)")} AS weight
FROM q2"""


def _composite_sql() -> str:
    from .stats import COMPOSITE_AFTER, COMPOSITE_PAGE_SIZE

    la, sa = COMPOSITE_AFTER
    return f"""SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE (lang, source) > ('{la}', '{sa}')
GROUP BY 1, 2
ORDER BY lang, source
LIMIT {COMPOSITE_PAGE_SIZE}"""


def build_round4_s4():
    from .joins import MATRIX_STATS_SQL
    from .queries_catalog import QuerySpec

    return {
        "events_funnel": QuerySpec(
            q_events_funnel,
            _funnel_sql(),
            "ordered funnel analysis: per-user greedy fold over the "
            "(ts, event_id)-sorted event list (one user_id shuffle, no "
            "self-joins) -> per-step user counts + conversion fractions",
        ),
        "cohort_retention": QuerySpec(
            q_cohort_retention,
            _cohort_sql(),
            "weekly cohort retention: first-active-week cohorts x week "
            "offset distinct-user counts, integer week grid (engine-stable "
            "vs date_trunc week semantics)",
        ),
        "lineitem_matrix_stats": QuerySpec(
            q_matrix_stats,
            MATRIX_STATS_SQL,
            "ES matrix_stats: pairwise covariance/correlation over the "
            "lineitem measures from ONE 10-sum aggregate pass; decimal-"
            "exact numerators, double only at the final division",
        ),
        "lang_mixture_weights": QuerySpec(
            q_mixture_weights,
            _mixture_sql(),
            "temperature-scaled language mixing weights (w ~ p^(1/2), "
            "sqrt-temperature sampling): per-lang token counts -> exact-"
            "decimal normalizer -> round6 weights",
        ),
        "composite_agg_page": QuerySpec(
            q_composite_page,
            _composite_sql(),
            "ES composite aggregation after-key page: keyset pagination "
            "over (lang, source) buckets, predicate pushed below the agg, "
            "TakeOrderedAndProject page cut",
        ),
    }


def q_ranking_eval(spark, sf_dir):
    from .evaluate import EVAL_K, conjunctive_qrels, ranking_eval
    from .queries_catalog import _stats_for, reference_queries
    from .querying import parse_queries, score_logical

    tf_df, dl_df, ts, _ = _stats_for(spark, sf_dir)
    qterms = parse_queries(spark, reference_queries())
    topk = score_logical(qterms, tf_df, dl_df, ts, k=EVAL_K).select(
        "query_id", "rank", "doc_id"
    )
    qrels = conjunctive_qrels(qterms, tf_df)
    return ranking_eval(qterms.select("query_id"), topk, qrels, k=EVAL_K)


def _rank_eval_sql() -> str:
    from .evaluate import DISCOUNTS, EVAL_K, IDCG
    from .queries_catalog import BM25_SCORE_SQL, TOK_SQL, query_values_sql

    disc_vals = ", ".join(
        f"({r}, {DISCOUNTS[r]}::DECIMAL(28,9))" for r in range(1, EVAL_K + 1)
    )
    idcg_vals = ", ".join(
        f"({m}, {IDCG[m]}::DECIMAL(28,9))" for m in range(0, EVAL_K + 1)
    )
    return f"""WITH {TOK_SQL.strip()},
{query_values_sql()},
{BM25_SCORE_SQL.strip()},
disc(rnk, g) AS (VALUES {disc_vals}),
idcgt(m, v) AS (VALUES {idcg_vals}),
qn AS (SELECT query_id, COUNT(*) AS nt FROM q GROUP BY 1),
qrels AS (
  SELECT h.query_id, h.doc_id FROM (
    SELECT q.query_id, p.doc_id, COUNT(*) AS hit
    FROM q JOIN postings p USING (term) GROUP BY 1, 2
  ) h JOIN qn USING (query_id) WHERE h.hit = qn.nt
),
nr AS (SELECT query_id, COUNT(*) AS n_rel FROM qrels GROUP BY 1),
topk AS (SELECT query_id, doc_id, rnk FROM ranked WHERE rnk <= {EVAL_K}),
j AS (
  SELECT t.query_id, t.rnk,
         CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM topk t LEFT JOIN qrels r ON r.query_id = t.query_id AND r.doc_id = t.doc_id
),
pq AS (
  SELECT j.query_id, COUNT(*) AS retrieved, SUM(j.rel) AS relevant_retrieved,
         MIN(CASE WHEN j.rel = 1 THEN j.rnk END) AS first_rel,
         SUM(CASE WHEN j.rel = 1 THEN d.g ELSE 0::DECIMAL(28,9) END) AS dcg
  FROM j JOIN disc d ON d.rnk = j.rnk GROUP BY 1
),
qs AS (SELECT DISTINCT query_id FROM q)
SELECT CAST(qs.query_id AS BIGINT) AS query_id,
       CAST(COALESCE(nr.n_rel, 0) AS BIGINT) AS n_rel,
       CAST(COALESCE(pq.retrieved, 0) AS BIGINT) AS retrieved,
       CAST(COALESCE(pq.relevant_retrieved, 0) AS BIGINT) AS relevant_retrieved,
       CASE WHEN COALESCE(pq.retrieved, 0) > 0
            THEN {_r6("CAST(pq.relevant_retrieved AS DOUBLE) / CAST(pq.retrieved AS DOUBLE)")}
       END AS precision_at_k,
       CASE WHEN COALESCE(nr.n_rel, 0) > 0
            THEN {_r6("CAST(COALESCE(pq.relevant_retrieved, 0) AS DOUBLE) / CAST(nr.n_rel AS DOUBLE)")}
       END AS recall_at_k,
       COALESCE({_r6("1.0 / CAST(pq.first_rel AS DOUBLE)")}, 0.0) AS mrr,
       CASE WHEN COALESCE(nr.n_rel, 0) > 0
            THEN {_r6("CAST(COALESCE(pq.dcg, 0::DECIMAL(28,9)) AS DOUBLE) / CAST(i.v AS DOUBLE)")}
       END AS ndcg_at_k
FROM qs
LEFT JOIN pq ON pq.query_id = qs.query_id
LEFT JOIN nr ON nr.query_id = qs.query_id
LEFT JOIN idcgt i ON i.m = LEAST(COALESCE(nr.n_rel, 0), {EVAL_K})"""


def build_round4_s4_eval():
    from .queries_catalog import QuerySpec

    return {
        "bm25_rank_eval": QuerySpec(
            q_ranking_eval,
            _rank_eval_sql(),
            "ES Ranking Evaluation API (_rank_eval): per-query precision@10 "
            "/ recall@10 / MRR / nDCG@10 of the BM25 run against "
            "conjunctive-containment qrels; DCG discounts are generated "
            "9-dp decimal CONSTANTS shared verbatim by both engines (no "
            "cross-engine log2), sums exact decimal",
        ),
    }


def q_pii_scan(spark, sf_dir):
    from .textpipe import pii_scan

    return pii_scan(_events(spark, sf_dir), "event_id", "props")


def q_adjacency_matrix(spark, sf_dir):
    from .textpipe import term_adjacency_matrix

    return term_adjacency_matrix(_docs(spark, sf_dir))


def q_extended_stats(spark, sf_dir):
    from .joins import lineitem_extended_stats

    return lineitem_extended_stats(_t(spark, sf_dir, "lineitem"))


def _pii_sql() -> str:
    from .textpipe import PII_EMAIL, PII_IPV4, PII_NUMBER

    cnt = lambda p: f"CAST(len(regexp_extract_all(c, '{p}')) AS BIGINT)"  # noqa: E731
    return f"""WITH s AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         lower(coalesce(props, '')) AS c FROM events
),
n AS (
  SELECT event_id,
         {cnt(PII_EMAIL)} AS n_emails,
         {cnt(PII_IPV4)} AS n_ipv4,
         {cnt(PII_NUMBER)} AS n_numbers
  FROM s
)
SELECT event_id, n_emails, n_ipv4, n_numbers,
       CAST(CASE WHEN n_emails + n_ipv4 + n_numbers > 0 THEN 1 ELSE 0 END AS BIGINT) AS has_pii
FROM n"""


def _adjacency_sql() -> str:
    from .textpipe import ADJACENCY_FILTERS

    whens = " ".join(
        f"WHEN '{t}' THEN '{k}'" for k, t in sorted(ADJACENCY_FILTERS.items())
    )
    in_list = ", ".join(f"'{t}'" for t in ADJACENCY_FILTERS.values())
    return f"""WITH m AS (
  SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id,
         CASE term {whens} END AS key
  FROM (SELECT doc_id, unnest({_TS}) AS term FROM documents)
  WHERE term IN ({in_list})
)
SELECT a.key AS key_a, b.key AS key_b, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.key <= b.key
GROUP BY 1, 2"""


def build_round4_s4b():
    from .joins import EXTENDED_STATS_SQL
    from .queries_catalog import QuerySpec

    return {
        "pii_scan": QuerySpec(
            q_pii_scan,
            _pii_sql(),
            "PII / sensitive-pattern scan (email, IPv4, digit runs) over "
            "the events.props payloads — exchange-free map-only curation "
            "gate; RE2-safe patterns shared verbatim by both engines",
        ),
        "term_adjacency_matrix": QuerySpec(
            q_adjacency_matrix,
            _adjacency_sql(),
            "ES adjacency_matrix agg: named term-membership filters -> "
            "all filter and pairwise-intersection doc counts; persisted "
            "membership frame, doc_id-co-partitioned self-join",
        ),
        "lineitem_extended_stats": QuerySpec(
            q_extended_stats,
            EXTENDED_STATS_SQL,
            "ES extended_stats per l_returnflag over l_extendedprice: "
            "count/min/max/sum/avg/sum_of_squares/variance/std_dev from "
            "one aggregate pass, decimal-exact numerators",
        ),
    }


def q_has_child(spark, sf_dir):
    from .joins import orders_has_child_topk

    return orders_has_child_topk(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


def build_round4_s4c():
    from .joins import HAS_CHILD_SQL
    from .queries_catalog import QuerySpec

    return {
        "orders_has_child_topk": QuerySpec(
            q_has_child,
            HAS_CHILD_SQL,
            "ES parent-child has_child query (score_mode=max): orders "
            "with >=1 matching lineitem child, scored by the best child's "
            "revenue; child query reduces BEFORE the parent join, "
            "TakeOrderedAndProject page cut",
        ),
    }


def q_term_triangles(spark, sf_dir):
    from .textpipe import term_triangles

    return term_triangles(_docs(spark, sf_dir))


def q_lang_token_fertility(spark, sf_dir):
    from .textpipe import lang_token_fertility

    return lang_token_fertility(_docs(spark, sf_dir))


def q_user_rfm(spark, sf_dir):
    from .relational import user_rfm

    return user_rfm(_events(spark, sf_dir))


#: shared vocab-bounded co-occurrence EDGE CTEs (twin of
#: textpipe.cooccurrence_edges without the weights) — triangles run on it.
_EDGE_CTES = f"""tokd AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TS} AS ts FROM documents),
dt AS (SELECT DISTINCT doc_id, unnest(ts) AS term FROM tokd),
dfreq AS (SELECT term, COUNT(*) AS df FROM dt GROUP BY 1),
vocab AS (
  SELECT term FROM (
    SELECT term, ROW_NUMBER() OVER (ORDER BY df DESC, term ASC) AS rn FROM dfreq
  ) WHERE rn <= 32
),
e AS (
  SELECT DISTINCT a.term AS term_a, b.term AS term_b
  FROM dt a
  JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
  JOIN vocab va ON va.term = a.term
  JOIN vocab vb ON vb.term = b.term
)"""


def _triangles_sql() -> str:
    return f"""WITH {_EDGE_CTES},
tri AS (
  SELECT e1.term_a AS a, e1.term_b AS b, e2.term_b AS c
  FROM e e1
  JOIN e e2 ON e2.term_a = e1.term_b
  JOIN e e3 ON e3.term_a = e1.term_a AND e3.term_b = e2.term_b
),
mem AS (
  SELECT a AS term FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
cnt AS (SELECT term, COUNT(*) AS n FROM mem GROUP BY 1),
nodes AS (
  SELECT DISTINCT term FROM (
    SELECT term_a AS term FROM e UNION ALL SELECT term_b AS term FROM e
  )
)
SELECT nodes.term, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_triangles
FROM nodes LEFT JOIN cnt USING (term)"""


def _fertility_sql() -> str:
    return f"""WITH per AS (
  SELECT lang, COUNT(*) AS n_docs, SUM(len({_TS})) AS n_tokens,
         SUM(n_chars) AS n_chars
  FROM documents GROUP BY 1
)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_chars AS BIGINT) AS n_chars,
       CASE WHEN n_tokens > 0
            THEN {_r6("CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)")}
       END AS chars_per_token,
       {_r6("CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)")} AS tokens_per_doc
FROM per"""


def _rfm_sql() -> str:
    from .relational import RFM_BUCKETS

    b = RFM_BUCKETS
    return f"""WITH per AS (
  SELECT CAST(user_id AS BIGINT) AS user_id, MAX(ts) AS last_ts,
         COUNT(*) AS frequency,
         SUM(CAST(ROUND(value, 9) AS DECIMAL(28,9))) AS msum
  FROM events GROUP BY 1
),
anc AS (SELECT MAX(ts) AS a FROM events),
base AS (
  SELECT user_id,
         date_diff('day', CAST(last_ts AS DATE), CAST((SELECT a FROM anc) AS DATE)) AS recency_days,
         CAST(frequency AS BIGINT) AS frequency,
         {_r6("CAST(msum AS DOUBLE)")} AS monetary
  FROM per
)
SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days, frequency, monetary,
       CAST(NTILE({b}) OVER (ORDER BY recency_days ASC, user_id ASC) AS BIGINT) AS r_q,
       CAST(NTILE({b}) OVER (ORDER BY frequency DESC, user_id ASC) AS BIGINT) AS f_q,
       CAST(NTILE({b}) OVER (ORDER BY monetary DESC, user_id ASC) AS BIGINT) AS m_q
FROM base"""


def build_round4_s4d():
    from .queries_catalog import QuerySpec

    return {
        "term_triangles": QuerySpec(
            q_term_triangles,
            _triangles_sql(),
            "per-node triangle counts on the co-occurrence graph: "
            "orientation via the stored a<b total order -> each triangle "
            "enumerated exactly once by the wedge join (degree-ordered "
            "variant documented for web scale)",
        ),
        "lang_token_fertility": QuerySpec(
            q_lang_token_fertility,
            _fertility_sql(),
            "tokenizer fertility per language: chars/token + tokens/doc "
            "from one map-side aggregate - the cross-lingual tokenizer-"
            "cost diagnostic",
        ),
        "user_rfm": QuerySpec(
            q_user_rfm,
            _rfm_sql(),
            "RFM segmentation: per-user recency/frequency/monetary + "
            "NTILE quintiles on the engine total order; monetary is a "
            "round9-quantized exact decimal sum",
        ),
    }


def q_bm25_topk_demoted(spark, sf_dir):
    from pyspark.sql import functions as FF

    from .queries_catalog import (
        K,
        _round6,
        _stats_for,
        reference_queries,
    )
    from .querying import parse_queries
    from .scoring_ext import boosting_topk

    tf_df, dl_df, ts, _ = _stats_for(spark, sf_dir)
    qterms = parse_queries(spark, reference_queries())
    df = boosting_topk(qterms, tf_df, dl_df, ts, k=K)
    return df.select(
        FF.col("query_id").cast("long").alias("query_id"),
        FF.col("rank").cast("long").alias("rank"),
        FF.col("doc_id").cast("long").alias("doc_id"),
        _round6("score").alias("score"),
    )


def q_ann_cosine_filtered(spark, sf_dir):
    from .vectors import cosine_topk_filtered

    return cosine_topk_filtered(_emb(spark, sf_dir), _docs(spark, sf_dir))


def _boosting_sql() -> str:
    from .queries_catalog import (
        BM25_SCORED_SQL,
        K,
        TOK_SQL,
        query_values_sql,
    )
    from .scoring_ext import BOOSTING_NEG_TERMS, BOOSTING_NEGATIVE_BOOST

    in_list = ", ".join(f"'{t}'" for t in BOOSTING_NEG_TERMS)
    return f"""WITH {TOK_SQL.strip()},
{query_values_sql()},
{BM25_SCORED_SQL},
negd AS (SELECT DISTINCT doc_id FROM postings WHERE term IN ({in_list})),
demoted AS (
  SELECT s.query_id, s.doc_id,
         CASE WHEN n.doc_id IS NOT NULL THEN s.score * {BOOSTING_NEGATIVE_BOOST}
              ELSE s.score END AS score
  FROM scored s LEFT JOIN negd n ON n.doc_id = s.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY CAST(ROUND(CAST(score AS DECIMAL(28,9)), 6) AS DOUBLE) DESC, doc_id ASC) AS rnk
  FROM demoted
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rank,
       doc_id, CAST(ROUND(CAST(score AS DECIMAL(28,9)), 6) AS DOUBLE) AS score
FROM ranked WHERE rnk <= {K}"""


def _ann_filtered_sql() -> str:
    return f"""WITH {EMB_SQL.strip()},
allowed AS (SELECT CAST(doc_id AS BIGINT) AS vec_id FROM documents WHERE lang = 'en'),
c AS (SELECT e.vec_id, e.v FROM e JOIN allowed USING (vec_id)),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id,
         {_r6("list_dot_product(c.v, q.qv) / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv)))")} AS score
  FROM c, q WHERE c.vec_id <> q.query_id
),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rnk FROM scored)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rank,
       CAST(vec_id AS BIGINT) AS vec_id, score
FROM r WHERE rnk <= 10"""


def build_round4_s4e():
    from .queries_catalog import QuerySpec

    return {
        "bm25_topk_demoted": QuerySpec(
            q_bm25_topk_demoted,
            _boosting_sql(),
            "ES boosting query: positive BM25 with negative-match docs "
            "demoted to score*0.5 BEFORE the rank cut ('relevant but "
            "prefer not', vs must_not's removal); 0.5 is a power of two "
            "so the demotion is IEEE-exact on both engines",
        ),
        "ann_cosine_filtered": QuerySpec(
            q_ann_cosine_filtered,
            _ann_filtered_sql(),
            "filtered kNN (ES knn+filter): exact cosine top-k over a "
            "metadata-PRE-filtered candidate set (lang='en') - correct-"
            "recall strategy, top-k computed over the allowed set, "
            "queries never filtered",
        ),
    }


def q_price_histogram(spark, sf_dir):
    from .joins import price_histogram

    return price_histogram(_t(spark, sf_dir, "lineitem"))


def q_weighted_avg(spark, sf_dir):
    from .joins import discount_weighted_avg

    return discount_weighted_avg(_t(spark, sf_dir, "lineitem"))


def build_round4_s4f():
    from .joins import PRICE_HISTOGRAM_SQL, WEIGHTED_AVG_SQL
    from .queries_catalog import QuerySpec

    return {
        "price_histogram": QuerySpec(
            q_price_histogram,
            PRICE_HISTOGRAM_SQL,
            "ES histogram agg (fixed interval 10k) over l_extendedprice "
            "- numeric sibling of date_histogram; one map-side aggregate, "
            "exact-decimal sums",
        ),
        "discount_weighted_avg": QuerySpec(
            q_weighted_avg,
            WEIGHTED_AVG_SQL,
            "ES weighted_avg agg: quantity-weighted mean discount per "
            "returnflag - exact decimal numerator/denominator, one double "
            "division (order-independent weighted mean)",
        ),
    }


def q_cumulative_cardinality(spark, sf_dir):
    from .relational import events_cumulative_cardinality

    return events_cumulative_cardinality(_events(spark, sf_dir))


def _cum_card_sql() -> str:
    return """WITH f AS (
  SELECT CAST(user_id AS BIGINT) AS user_id, MIN(date_trunc('hour', ts)) AS h
  FROM events GROUP BY 1
),
hourly AS (SELECT h, COUNT(*) AS n_new_users FROM f GROUP BY 1)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start,
       CAST(n_new_users AS BIGINT) AS n_new_users,
       CAST(SUM(n_new_users) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM hourly"""


def build_round4_s4g():
    from .queries_catalog import QuerySpec

    return {
        "events_cumulative_cardinality": QuerySpec(
            q_cumulative_cardinality,
            _cum_card_sql(),
            "ES cumulative_cardinality pipeline agg (cumulative distinct "
            "users / DAU curve): exact via the first-occurrence rewrite - "
            "a user counts at their FIRST hour, so one min-agg + hours-"
            "sized cumsum replaces any running-distinct or HLL merge",
        ),
    }


# ---------------------------------------------------- round-4 session-5 A


def q_orders_multi_terms(spark, sf_dir):
    from .joins import orders_multi_terms

    return orders_multi_terms(_t(spark, sf_dir, "orders"))


def q_lineitem_top_metrics(spark, sf_dir):
    from .joins import lineitem_top_metrics

    return lineitem_top_metrics(_t(spark, sf_dir, "lineitem"))


def q_orders_bucket_selector(spark, sf_dir):
    from .joins import orders_bucket_selector

    return orders_bucket_selector(_t(spark, sf_dir, "orders"))


def q_events_serial_diff(spark, sf_dir):
    from .relational import events_serial_diff

    return events_serial_diff(_events(spark, sf_dir))


def q_events_latest_by_user(spark, sf_dir):
    from .relational import events_latest_by_user

    return events_latest_by_user(_events(spark, sf_dir))


_SERIAL_DIFF_SQL = """WITH d AS (
  SELECT CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) AS day_i FROM events
),
c AS (SELECT day_i, COUNT(*) AS n_events FROM d GROUP BY 1),
rng AS (SELECT MIN(day_i) AS lo, MAX(day_i) AS hi FROM c),
grid AS (SELECT unnest(generate_series(lo, hi)) AS day_i FROM rng),
filled AS (
  SELECT g.day_i, COALESCE(c.n_events, 0) AS n_events
  FROM grid g LEFT JOIN c ON c.day_i = g.day_i
)
SELECT strftime(DATE '1970-01-01' + CAST(day_i AS INTEGER), '%Y-%m-%d') AS day,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_events - LAG(n_events, 7) OVER (ORDER BY day_i) AS BIGINT) AS diff7
FROM filled"""


_LATEST_BY_USER_SQL = """WITH r AS (
  SELECT CAST(user_id AS BIGINT) AS user_id, ts, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
           ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       CAST(event_id AS BIGINT) AS last_event_id,
       event_type AS last_event_type,
       CAST(ROUND(CAST(value AS DECIMAL(28,9)), 6) AS DOUBLE) AS last_value
FROM r WHERE rn = 1"""


def build_round4_s5a():
    from .joins import BUCKET_SELECTOR_SQL, MULTI_TERMS_SQL, TOP_METRICS_SQL
    from .queries_catalog import QuerySpec

    return {
        "orders_multi_terms": QuerySpec(
            q_orders_multi_terms,
            MULTI_TERMS_SQL,
            "ES multi_terms agg: top-k composite (priority, status) buckets "
            "by doc count — one map-side group-by, rank window on the "
            "bucket-count-sized frame, exact-decimal sums",
        ),
        "lineitem_top_metrics": QuerySpec(
            q_lineitem_top_metrics,
            TOP_METRICS_SQL,
            "ES top_metrics agg: metric columns from the latest-shipdate row "
            "per returnflag via ONE max(struct) map-combinable agg (negated "
            "tiebreakers make lexicographic max the wanted row) vs the "
            "oracle's row_number form — two algorithms, one answer",
        ),
        "orders_bucket_selector": QuerySpec(
            q_orders_bucket_selector,
            BUCKET_SELECTOR_SQL,
            "ES bucket_selector + bucket_sort pipeline aggs: above-mean "
            "monthly-revenue gate via exact-decimal cross-multiplication "
            "(revenue*n_months > total, no division), top-k by revenue",
        ),
        "events_serial_diff": QuerySpec(
            q_events_serial_diff,
            _SERIAL_DIFF_SQL,
            "ES serial_diff pipeline agg (lag=7): daily counts on a dense "
            "min_doc_count=0 day grid (integer epoch-day discipline), "
            "week-over-week difference, NULL for the first 7 buckets",
        ),
        "events_latest_by_user": QuerySpec(
            q_events_latest_by_user,
            _LATEST_BY_USER_SQL,
            "ES latest transform: most recent event per user via ONE "
            "max(struct) map-combinable agg (no window, monster-user-proof) "
            "vs the oracle's row_number form",
        ),
    }


# ---------------------------------------------------- round-4 session-5 B


def q_orders_date_range(spark, sf_dir):
    from .joins import orders_date_range

    return orders_date_range(_t(spark, sf_dir, "orders"))


def q_lineitem_boxplot(spark, sf_dir):
    from .joins import lineitem_boxplot

    return lineitem_boxplot(_t(spark, sf_dir, "lineitem"))


def q_lineitem_t_test(spark, sf_dir):
    from .joins import lineitem_t_test

    return lineitem_t_test(_t(spark, sf_dir, "lineitem"))


def q_lineitem_has_parent(spark, sf_dir):
    from .joins import lineitem_has_parent_topk

    return lineitem_has_parent_topk(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


def q_events_rate(spark, sf_dir):
    from .relational import events_rate

    return events_rate(_events(spark, sf_dir))


def q_events_geotile(spark, sf_dir):
    from .relational import events_geotile

    return events_geotile(_events(spark, sf_dir))


def build_round4_s5b():
    from .joins import (
        BOXPLOT_SQL,
        DATE_RANGE_SQL,
        HAS_PARENT_SQL,
        T_TEST_SQL,
    )
    from .relational import GEOTILE_SQL, RATE_SQL
    from .queries_catalog import QuerySpec

    return {
        "orders_date_range": QuerySpec(
            q_orders_date_range,
            DATE_RANGE_SQL,
            "ES date_range agg: keyed half-open [from, to) date buckets, "
            "one map-side when-chain group-by, exact-decimal sums",
        ),
        "lineitem_boxplot": QuerySpec(
            q_lineitem_boxplot,
            BOXPLOT_SQL,
            "ES boxplot agg: exact linear-interpolated quartiles (integer "
            "floor/frac + decimal interpolation — no engine percentile "
            "builtin executes) + 1.5·IQR whiskers; TDigest/GK documented "
            "as the 100 TB path with this as its oracle",
        ),
        "lineitem_t_test": QuerySpec(
            q_lineitem_t_test,
            T_TEST_SQL,
            "ES t_test agg (Welch): decimal-exact moments, identical final "
            "double op sequence; one 2-key map-combinable aggregate",
        ),
        "lineitem_has_parent": QuerySpec(
            q_lineitem_has_parent,
            HAS_PARENT_SQL,
            "ES has_parent query: parent predicate reduces to a keyset "
            "before the join, TakeOrderedAndProject page cut",
        ),
        "events_rate": QuerySpec(
            q_events_rate,
            RATE_SQL,
            "ES rate agg: monthly counts normalized to events/day via "
            "integer calendar math + one double division",
        ),
        "events_geotile": QuerySpec(
            q_events_geotile,
            GEOTILE_SQL,
            "ES geotile_grid agg: pure-BIGINT fixed-zoom tile bucketing "
            "over h60-derived deterministic positions; exact distinct "
            "users per tile",
        ),
    }


# ---------------------------------------------------- round-4 session-5 C


def q_events_auto_hist(spark, sf_dir):
    from .relational import events_auto_date_histogram

    return events_auto_date_histogram(_events(spark, sf_dir))


def q_doc_string_stats(spark, sf_dir):
    from .textpipe import doc_string_stats

    return doc_string_stats(_t(spark, sf_dir, "documents"))


def q_lineitem_mad(spark, sf_dir):
    from .joins import lineitem_mad

    return lineitem_mad(_t(spark, sf_dir, "lineitem"))


def q_orders_children_agg(spark, sf_dir):
    from .joins import orders_children_agg

    return orders_children_agg(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


def build_round4_s5c():
    from .joins import CHILDREN_AGG_SQL, MAD_SQL
    from .relational import AUTO_HIST_SQL
    from .textpipe import STRING_STATS_SQL
    from .queries_catalog import QuerySpec

    return {
        "events_auto_date_histogram": QuerySpec(
            q_events_auto_hist,
            AUTO_HIST_SQL,
            "ES auto_date_histogram: smallest ladder interval whose bucket "
            "count fits the target, chosen by integer epoch math from one "
            "min/max pass, broadcast onto the histogram group-by",
        ),
        "doc_string_stats": QuerySpec(
            q_doc_string_stats,
            STRING_STATS_SQL,
            "ES string_stats per lang: length stats + Shannon character "
            "entropy (9-dp-quantized ln, exact decimal sums, ln(2) shared "
            "as a literal — no cross-engine log2)",
        ),
        "lineitem_mad": QuerySpec(
            q_lineitem_mad,
            MAD_SQL,
            "ES median_absolute_deviation: the exact interpolated-median "
            "discipline applied twice (values, then absolute deviations)",
        ),
        "orders_children_agg": QuerySpec(
            q_orders_children_agg,
            CHILDREN_AGG_SQL,
            "ES children agg: per-parent-bucket child metrics; children "
            "reduce per (priority, parent) first so the distinct-parent "
            "count is a plain second-level COUNT",
        ),
    }


# ---------------------------------------------------- round-4 session-5 D


def q_events_geo_distance(spark, sf_dir):
    from .relational import events_geo_distance_topk

    return events_geo_distance_topk(_events(spark, sf_dir))


def q_events_geo_bounds(spark, sf_dir):
    from .relational import events_geo_bounds_centroid

    return events_geo_bounds_centroid(_events(spark, sf_dir))


def q_events_moving_percentiles(spark, sf_dir):
    from .relational import events_moving_percentiles

    return events_moving_percentiles(_events(spark, sf_dir))


def build_round4_s5d():
    from .relational import GEO_BOUNDS_SQL, GEO_DISTANCE_SQL, MOVING_PCT_SQL
    from .queries_catalog import QuerySpec

    return {
        "events_geo_distance": QuerySpec(
            q_events_geo_distance,
            GEO_DISTANCE_SQL,
            "ES geo_distance sort: k nearest events by pure-BIGINT squared "
            "equirect distance, TakeOrderedAndProject page",
        ),
        "events_geo_bounds": QuerySpec(
            q_events_geo_bounds,
            GEO_BOUNDS_SQL,
            "ES geo_bounds + geo_centroid aggs: integer bounding box + "
            "exact-decimal centroid sums, one map-combinable aggregate",
        ),
        "events_moving_percentiles": QuerySpec(
            q_events_moving_percentiles,
            MOVING_PCT_SQL,
            "ES moving_percentiles pipeline agg: exact interpolated p50/p90 "
            "of the trailing 7 daily counts (dense day grid; frames are "
            "days-sized so exact replaces TDigest for free)",
        ),
    }


# ---------------------------------------------------- round-4 session-6


def q_events_normalize(spark, sf_dir):
    from .relational import events_normalize

    return events_normalize(_events(spark, sf_dir))


def q_events_bucket_correlation(spark, sf_dir):
    from .relational import events_bucket_correlation

    return events_bucket_correlation(_events(spark, sf_dir))


def q_events_ip_range(spark, sf_dir):
    from .relational import events_ip_range

    return events_ip_range(_events(spark, sf_dir))


def q_events_global_missing(spark, sf_dir):
    from .relational import events_global_missing

    return events_global_missing(_events(spark, sf_dir))


def q_orders_stats_bucket(spark, sf_dir):
    from .joins import orders_stats_bucket

    return orders_stats_bucket(_t(spark, sf_dir, "orders"))


def q_orders_bucket_script(spark, sf_dir):
    from .joins import orders_bucket_script

    return orders_bucket_script(_t(spark, sf_dir, "orders"))


def q_lineitem_percentiles_bucket(spark, sf_dir):
    from .joins import lineitem_percentiles_bucket

    return lineitem_percentiles_bucket(_t(spark, sf_dir, "lineitem"))


def build_round4_s6():
    from .joins import BUCKET_SCRIPT_SQL, PCTL_BUCKET_SQL, STATS_BUCKET_SQL
    from .relational import (
        BUCKET_CORR_SQL,
        GLOBAL_MISSING_SQL,
        IP_RANGE_SQL,
        NORMALIZE_SQL,
    )
    from .queries_catalog import QuerySpec

    return {
        "events_normalize": QuerySpec(
            q_events_normalize,
            NORMALIZE_SQL,
            "ES normalize pipeline agg (percent_of_sum + rescale_0_1) over "
            "the dense min_doc_count=0 day histogram; exact-integer inputs, "
            "one double division per output",
        ),
        "events_bucket_correlation": QuerySpec(
            q_events_bucket_correlation,
            BUCKET_CORR_SQL,
            "ES bucket_correlation pipeline agg: Pearson r between two "
            "event types' daily-count series on the dense day grid — "
            "decimal-exact moments, pinned final double sequence",
        ),
        "events_ip_range": QuerySpec(
            q_events_ip_range,
            IP_RANGE_SQL,
            "ES ip_range agg (CIDR /2 blocks) over h60-derived "
            "deterministic IPv4s: pure-BIGINT bucketing + dotted-quad "
            "rendering, exact distinct users via two-level reduce",
        ),
        "events_global_missing": QuerySpec(
            q_events_global_missing,
            GLOBAL_MISSING_SQL,
            "ES global + missing + terms aggs in one search context: the "
            "global bucket escapes the query filter, the missing bucket "
            "counts docs lacking the (synthesized) field; one events pass",
        ),
        "orders_stats_bucket": QuerySpec(
            q_orders_stats_bucket,
            STATS_BUCKET_SQL,
            "ES stats_bucket sibling pipeline agg (subsumes "
            "min/max/avg/sum_bucket) over monthly revenue buckets; exact "
            "decimals, avg as one double division",
        ),
        "orders_bucket_script": QuerySpec(
            q_orders_bucket_script,
            BUCKET_SCRIPT_SQL,
            "ES bucket_script pipeline agg: per-month urgent-revenue share "
            "and avg order value from sibling agg outputs; conditional sums "
            "ride the one group-by pass",
        ),
        "lineitem_percentiles_bucket": QuerySpec(
            q_lineitem_percentiles_bucket,
            PCTL_BUCKET_SQL,
            "ES percentiles_bucket pipeline agg: exact interpolated "
            "p25/p50/p75 of monthly quantity buckets (boxplot discipline "
            "on the months-sized frame)",
        ),
    }


#: match_phrase_prefix query set: last token is a PREFIX (jo→join,
#: s→{scan,slow,small,sort,spark,stream}, qu→query); includes a pure-prefix
#: single-token query and a multi-expansion prefix.
MPP_QUERIES = [
    (1, "hash jo"),
    (2, "sort merge jo"),
    (3, "group s"),
    (4, "s"),
    (5, "the qu"),
]


def q_match_phrase_prefix(spark, sf_dir):
    from .phrase import match_phrase_prefix_topk

    return match_phrase_prefix_topk(_docs(spark, sf_dir), MPP_QUERIES, k=10)


def _mpp_sql(k: int = 10) -> str:
    """DuckDB twin of match_phrase_prefix_topk: a positional token-list
    scan — leading terms contiguous, the next token tested with
    starts_with. Generated from the SAME query parse (py_tokenize) as the
    Spark side."""
    from .tokenize import py_tokenize

    branches = []
    for qid, text in MPP_QUERIES:
        toks = py_tokenize(text)
        fixed, prefix = toks[:-1], toks[-1]
        m = len(fixed)
        if m:
            cond = " AND ".join(
                f"ts[i+{j}] = '{t}'" for j, t in enumerate(fixed)
            )
            cond += f" AND starts_with(ts[i+{m}], '{prefix}')"
            rng = f"generate_series(1, len(ts) - {m})"
        else:
            cond = f"starts_with(ts[i], '{prefix}')"
            rng = "generate_series(1, len(ts))"
        branches.append(
            f"SELECT {qid} AS query_id, doc_id,\n"
            f"       CAST(len(list_filter({rng}, i -> {cond})) AS BIGINT)"
            f" AS n_occurrences\nFROM tokd"
        )
    union = "\nUNION ALL\n".join(branches)
    return f"""WITH tokd AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TS} AS ts FROM documents),
pc AS (
{union}
),
r AS (
  SELECT query_id, doc_id, n_occurrences,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY n_occurrences DESC, doc_id ASC) AS rnk
  FROM pc WHERE n_occurrences > 0
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rank,
       doc_id, n_occurrences
FROM r WHERE rnk <= {k}"""


def q_events_geohash(spark, sf_dir):
    from .relational import events_geohash

    return events_geohash(_events(spark, sf_dir))


def q_events_geo_line(spark, sf_dir):
    from .relational import events_geo_line

    return events_geo_line(_events(spark, sf_dir))


def build_round4_s6b():
    from .relational import GEO_LINE_SQL, GEOHASH_SQL
    from .queries_catalog import QuerySpec

    return {
        "match_phrase_prefix": QuerySpec(
            q_match_phrase_prefix,
            _mpp_sql(),
            "ES match_phrase_prefix (Lucene MultiPhraseQuery): leading "
            "terms contiguous, last slot prefix-expanded per doc via the "
            "positions map keys; one corpus pass for the whole batch",
        ),
        "events_geohash": QuerySpec(
            q_events_geohash,
            GEOHASH_SQL,
            "ES geohash_grid agg (precision 4): pure-BIGINT bit interleave "
            "generated from one shared term table, base32 via substring — "
            "no floats; exact distinct users per cell",
        ),
        "events_geo_line": QuerySpec(
            q_events_geo_line,
            GEO_LINE_SQL,
            "ES geo_line agg: per-user (ts, event_id)-ordered linestring, "
            "size-capped; sortable-string encoding makes array_sort the "
            "deterministic order on both engines",
        ),
    }


def q_events_change_point(spark, sf_dir):
    from .relational import events_change_point

    return events_change_point(_events(spark, sf_dir))


def build_round4_s6c():
    from .relational import CHANGE_POINT_SQL
    from .queries_catalog import QuerySpec

    return {
        "events_change_point": QuerySpec(
            q_events_change_point,
            CHANGE_POINT_SQL,
            "ES change_point pipeline agg (x-pack), deterministic mean-"
            "shift variant: argmax |mean_left - mean_right| over the dense "
            "daily series — exact-integer prefix sums, round6-quantized "
            "ranking key, TakeOrderedAndProject LIMIT 1",
        ),
    }


#: SpanNotQuery set (include phrase, exclude term; pre=post=1): the exclude
#: term must not appear immediately before or after the include span.
SPAN_NOT_QUERIES = [
    (1, "join", "hash"),
    (2, "hash join", "dup"),
    (3, "sort merge", "join"),
    (4, "merge join", "sort"),
    (5, "scan", "filter"),
]


def q_span_not_topk(spark, sf_dir):
    from .phrase import span_not_topk

    return span_not_topk(_docs(spark, sf_dir), SPAN_NOT_QUERIES, k=10)


def _span_not_sql(k: int = 10, pre: int = 1, post: int = 1) -> str:
    """DuckDB twin of span_not_topk (pre=post=1): contiguous include scan
    with unrolled boundary-safe exclusion probes (coalesce('') absorbs the
    out-of-range NULL — position 0 / len+1 hold nothing, matching the
    Spark side's empty-sequence boundary)."""
    from .tokenize import py_tokenize

    assert pre == 1 and post == 1  # the unrolled form below
    branches = []
    for qid, inc, exc in SPAN_NOT_QUERIES:
        ts = py_tokenize(inc)
        (e,) = py_tokenize(exc)
        m = len(ts)
        cond = " AND ".join(f"ts[i+{j}] = '{t}'" for j, t in enumerate(ts))
        cond += (
            f" AND COALESCE(ts[i-1], '') <> '{e}'"
            f" AND COALESCE(ts[i+{m}], '') <> '{e}'"
        )
        branches.append(
            f"SELECT {qid} AS query_id, doc_id,\n"
            f"       CAST(len(list_filter(generate_series(1, len(ts) - {m - 1}),"
            f" i -> {cond})) AS BIGINT) AS n_occurrences\nFROM tokd"
        )
    union = "\nUNION ALL\n".join(branches)
    return f"""WITH tokd AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TS} AS ts FROM documents),
pc AS (
{union}
),
r AS (
  SELECT query_id, doc_id, n_occurrences,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY n_occurrences DESC, doc_id ASC) AS rnk
  FROM pc WHERE n_occurrences > 0
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rank,
       doc_id, n_occurrences
FROM r WHERE rnk <= {k}"""


def build_round4_s6d():
    from .queries_catalog import QuerySpec

    return {
        "span_not_topk": QuerySpec(
            q_span_not_topk,
            _span_not_sql(),
            "Lucene SpanNotQuery (pre=post=1): include-phrase occurrences "
            "with no exclude term adjacent to the span; completes the span "
            "family (near ordered/unordered, first, not)",
        ),
    }


_ROLLUP_CACHE: dict[str, str] = {}


def _rollup_for(spark, sf_dir):
    """Materialize (once per sf_dir per process) the hourly events rollup
    artifact the rollup-search entry queries — the _index_for pattern:
    deterministic content, atomic rename, parquet _SUCCESS as the marker."""
    import hashlib

    from .queries_catalog import build_artifact_atomic
    from .relational import build_events_rollup

    key = sf_dir.rstrip("/")
    if key not in _ROLLUP_CACHE:
        path = (
            "/tmp/sparksearch_rollup_"
            + hashlib.sha256((key + "|v1").encode()).hexdigest()[:12]
        )
        build_artifact_atomic(
            path, "_SUCCESS",
            lambda tmp: build_events_rollup(_events(spark, sf_dir), tmp),
        )
        _ROLLUP_CACHE[key] = path
    return _ROLLUP_CACHE[key]


def q_events_rollup_monthly(spark, sf_dir):
    from .relational import events_rollup_monthly

    return events_rollup_monthly(spark, _rollup_for(spark, sf_dir))


def q_events_frequent_item_sets(spark, sf_dir):
    from .relational import events_frequent_item_sets

    return events_frequent_item_sets(_events(spark, sf_dir))


def q_bm25_random_score(spark, sf_dir):
    from .queries_catalog import _stats_for, parse_queries, reference_queries
    from .scoring_ext import random_score_topk
    from pyspark.sql import functions as F

    tf_df, dl_df, ts, _ = _stats_for(spark, sf_dir)
    qterms = parse_queries(spark, reference_queries())
    df = random_score_topk(qterms, tf_df, dl_df, ts, k=10)
    from .stats import round6

    return df.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        round6(F.col("score")).alias("score"),
    )


def build_round4_s6e():
    from .relational import FREQUENT_ITEM_SETS_SQL, ROLLUP_MONTHLY_SQL
    from .queries_catalog import QuerySpec

    return {
        "events_rollup_monthly": QuerySpec(
            q_events_rollup_monthly,
            ROLLUP_MONTHLY_SQL,
            "ES rollup-search / TSDB downsampling: monthly answers served "
            "FROM the materialized hourly rollup artifact, oracle computes "
            "from RAW events — exact decimals make re-aggregation bit-"
            "equal (two data layouts, one answer)",
        ),
        "events_frequent_item_sets": QuerySpec(
            q_events_frequent_item_sets,
            FREQUENT_ITEM_SETS_SQL,
            "ES frequent_item_sets (exact Apriori, sizes 2-3): (user, day) "
            "baskets of distinct event types, wedge-join candidate lattice, "
            "relative support gate by cross-multiplication",
        ),
        "bm25_random_score": QuerySpec(
            q_bm25_random_score,
            None,  # replaced below — needs the BM25 CTE from queries_catalog
            "ES function_score random_score(seed, doc_id): reproducible "
            "per-doc jitter = h60(seed|doc_id) scaled to [0,1) — no rand(), "
            "value-checkable like any deterministic entry",
        ),
    }


def q_events_geo_polygon(spark, sf_dir):
    from .relational import events_geo_polygon

    return events_geo_polygon(_events(spark, sf_dir))


def build_round4_s6f():
    from .relational import geo_polygon_sql
    from .queries_catalog import QuerySpec

    return {
        "events_geo_polygon": QuerySpec(
            q_events_geo_polygon,
            geo_polygon_sql(),
            "ES geo_polygon query: ray-casting point-in-polygon with the "
            "crossing test cross-multiplied into pure-BIGINT sign "
            "comparisons (no division, no floats), generated from one "
            "vertex table for both engines",
        ),
    }


# ---------------------------------------------------- round-4 session-7


def q_events_hll_cardinality(spark, sf_dir):
    from .relational import events_hll_cardinality

    return events_hll_cardinality(_events(spark, sf_dir))


def q_events_kmv_overlap(spark, sf_dir):
    from .relational import events_kmv_overlap

    return events_kmv_overlap(_events(spark, sf_dir))


def q_price_vwh(spark, sf_dir):
    from .joins import price_variable_width_histogram

    return price_variable_width_histogram(_t(spark, sf_dir, "orders"))


def build_round4_s7():
    from .joins import VWH_SQL
    from .relational import HLL_SQL, KMV_OVERLAP_SQL
    from .queries_catalog import QuerySpec

    return {
        "events_hll_cardinality": QuerySpec(
            q_events_hll_cardinality,
            HLL_SQL,
            "HyperLogLog distinct-user sketch per event type (the ES "
            "cardinality agg's 100 TB estimator) made exact-checkable: "
            "integer registers via length(bin(w)), exact BIGINT power "
            "sum, one shared-literal division; n_exact rides along",
        ),
        "events_kmv_overlap": QuerySpec(
            q_events_kmv_overlap,
            KMV_OVERLAP_SQL,
            "Theta/KMV sketch set operations: union + intersection "
            "estimates across two event types' user sketches with one "
            "pinned op sequence covering both the estimate and the "
            "exact-degenerate regime; exact counts ride along",
        ),
        "price_variable_width_histogram": QuerySpec(
            q_price_vwh,
            VWH_SQL,
            "ES variable_width_histogram, deterministic variant: cut the "
            "sorted distinct o_totalprice at the 7 largest gaps (ES's "
            "arrival-order clusterer violates invariant #1); exact "
            "decimal gaps and means, broadcast bucket-boundary array",
        ),
    }


def q_categorize_text(spark, sf_dir):
    from .textpipe import categorize_text

    return categorize_text(_docs(spark, sf_dir))


def q_nb_lang_confusion(spark, sf_dir):
    from .textpipe import nb_lang_confusion

    return nb_lang_confusion(_docs(spark, sf_dir))


def q_embedding_outliers(spark, sf_dir):
    from .vectors import embedding_outliers

    return embedding_outliers(_emb(spark, sf_dir))


def build_round4_s7b():
    from .textpipe import CATEGORIZE_SQL, NB_LANG_SQL
    from .vectors import OUTLIER_SQL
    from .queries_catalog import QuerySpec

    return {
        "categorize_text": QuerySpec(
            q_categorize_text,
            CATEGORIZE_SQL,
            "ES categorize_text agg (log categorization), deterministic "
            "core: digit runs masked to '#', fixed leading-token template "
            "key, min-doc exemplar; two-level combinable terms-agg shape",
        ),
        "nb_lang_confusion": QuerySpec(
            q_nb_lang_confusion,
            NB_LANG_SQL,
            "multinomial naive-Bayes language classifier trained+evaluated "
            "in one job (label-quality audit): round9-quantized log probs "
            "as exact decimals, decimal argmax, confusion-matrix output",
        ),
        "embedding_outliers": QuerySpec(
            q_embedding_outliers,
            OUTLIER_SQL,
            "ES outlier detection (kth-NN cosine distance): round6 "
            "distances before every rank boundary, exact form on the "
            "deterministic sample prefix, IVF-bucketed as the scale path",
        ),
    }


def q_phrase_suggest(spark, sf_dir):
    from .search_ext import phrase_suggest

    return phrase_suggest(spark, _docs(spark, sf_dir))


def build_round4_s7c():
    from .search_ext import phrase_suggest_sql
    from .queries_catalog import QuerySpec

    return {
        "phrase_suggest": QuerySpec(
            q_phrase_suggest,
            phrase_suggest_sql(),
            "ES phrase suggester (did-you-mean): levenshtein<=2 per-slot "
            "candidates re-ranked as whole phrases by an add-one bigram "
            "LM — round9-decimal log-probs, exact-decimal ranking; "
            "completes the suggester family (term=query_suggestions, "
            "completion=completion_suggest)",
        ),
    }


#: intervals query set: (query_id, ordered pair, max_gaps, not_containing)
INTERVALS_QUERIES = [
    (1, "hash join", 2, "slow"),
    (2, "sort merge", 3, "join"),
    (3, "group agg", 1, "window"),
    (4, "table row", 4, "column"),
    (5, "key value", 2, "data"),
]


def q_intervals_topk(spark, sf_dir):
    from .phrase import intervals_topk

    return intervals_topk(_docs(spark, sf_dir), INTERVALS_QUERIES, k=10)


def _intervals_sql(k: int = 10) -> str:
    """DuckDB twin of intervals_topk: position lists per term via
    generate_series filters, then the same minimality/gaps/not_containing
    algebra as nested list lambdas — generated from the SAME py_tokenize
    parse."""
    from .tokenize import py_tokenize

    branches = []
    for qid, pair, gaps, notc in INTERVALS_QUERIES:
        ta, tb = py_tokenize(pair)
        (tc,) = py_tokenize(notc)
        pos = "list_filter(generate_series(1, len(ts)), i -> ts[i] = '{t}')"
        pa, pb, pc = (pos.format(t=t) for t in (ta, tb, tc))
        branches.append(f"""SELECT {qid} AS query_id, doc_id,
       CAST(len(list_filter(pb, b ->
         list_max(list_filter(pa, x -> x < b)) IS NOT NULL
         AND list_min(list_filter(pb, x -> x > list_max(list_filter(pa, y -> y < b)))) = b
         AND b - list_max(list_filter(pa, x -> x < b)) - 1 <= {gaps}
         AND len(list_filter(pc, x -> x >= list_max(list_filter(pa, y -> y < b)) AND x <= b)) = 0
       )) AS BIGINT) AS n_intervals
FROM (SELECT doc_id, {pa} AS pa, {pb} AS pb, {pc} AS pc FROM tokd)""")
    union = "\nUNION ALL\n".join(branches)
    return f"""WITH tokd AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TS} AS ts FROM documents),
pc AS (
{union}
),
r AS (
  SELECT query_id, doc_id, n_intervals,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY n_intervals DESC, doc_id ASC) AS rnk
  FROM pc WHERE n_intervals > 0
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rank,
       doc_id, n_intervals
FROM r WHERE rnk <= {k}"""


def build_round4_s7d():
    from .queries_catalog import QuerySpec

    return {
        "intervals_topk": QuerySpec(
            q_intervals_topk,
            _intervals_sql(),
            "ES intervals query: MINIMAL ordered two-term intervals "
            "(last-anchor/first-close contract) with max_gaps and a "
            "not_containing filter probing INSIDE the interval — the "
            "axis the span family's pre/post margins don't cover",
        ),
    }


def q_tpch_shipping_priority(spark, sf_dir):
    from .joins import shipping_priority

    return shipping_priority(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
    )


def build_round4_s7e():
    from .joins import SHIPPING_PRIORITY_SQL
    from .queries_catalog import QuerySpec

    return {
        "tpch_shipping_priority": QuerySpec(
            q_tpch_shipping_priority,
            SHIPPING_PRIORITY_SQL,
            "TPC-H Q3 shipping priority: date filters pushed into both "
            "fact scans before the join chain, exact-decimal revenue "
            "ranking, TakeOrderedAndProject top-10",
        ),
    }


# ------------------------------------------------------------- round-4 s8b
# Sketch/membership approximations made exact-checkable (Bloom, count-min),
# binary-quantized ANN, and passage-granularity retrieval.


def q_bloom_decontamination(spark, sf_dir):
    from .sampling import bloom_decontamination

    return bloom_decontamination(_docs(spark, sf_dir))


def q_events_count_min(spark, sf_dir):
    from .relational import events_count_min

    return events_count_min(_events(spark, sf_dir))


def q_ann_bbq_topk(spark, sf_dir):
    from .vectors import bbq_ann_topk

    return bbq_ann_topk(_emb(spark, sf_dir))


def q_passage_topk(spark, sf_dir):
    from .queries_catalog import K, reference_queries
    from .querying import parse_queries
    from .rankers import passage_topk
    from .stats import round6

    df = passage_topk(
        parse_queries(spark, reference_queries()), _docs(spark, sf_dir), k=K
    )
    from pyspark.sql import functions as F

    return df.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("passage_id").cast("long").alias("passage_id"),
        round6("score").alias("score"),
    )


def _bloom_sql() -> str:
    """DuckDB twin of sampling.bloom_decontamination — identical window
    hashes and bit derivations, so even the FALSE POSITIVES match."""
    from .sampling import BLOOM_K, BLOOM_M, DECONTAM_K as K

    def bits(src: str) -> str:
        return ", ".join(
            f"('0x'||substring(md5('bloom{j}|' || CAST({src} AS VARCHAR)),1,15))::BIGINT % {BLOOM_M}"
            for j in range(BLOOM_K)
        )

    return f"""WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_SPLIT_CASE} AS split,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS ts
  FROM documents
),
wins0 AS (
  SELECT doc_id, split, ts,
         unnest(CASE WHEN len(ts) >= {K} THEN generate_series(1, len(ts)-{K - 1})
                ELSE CAST([] AS BIGINT[]) END) AS s
  FROM toks WHERE split <> 'val'
),
wins AS (
  SELECT doc_id, split, s AS widx,
         ('0x'||substring(md5(array_to_string(ts[s:s+{K - 1}], '|')),1,15))::BIGINT AS whash
  FROM wins0
),
train AS (SELECT DISTINCT whash FROM wins WHERE split = 'train'),
tbits AS (SELECT DISTINCT unnest([{bits("whash")}]) AS bit FROM train),
testw AS (SELECT doc_id, widx, whash FROM wins WHERE split = 'test'),
probe AS (SELECT doc_id, widx, whash, unnest([{bits("whash")}]) AS bit FROM testw),
perwin AS (
  SELECT p.doc_id, p.widx, p.whash,
         CASE WHEN SUM(CASE WHEN tb.bit IS NOT NULL THEN 1 ELSE 0 END) = {BLOOM_K}
              THEN 1 ELSE 0 END AS bloom_pos
  FROM probe p LEFT JOIN tbits tb ON p.bit = tb.bit
  GROUP BY 1, 2, 3
),
j AS (
  SELECT w.doc_id, w.bloom_pos,
         CASE WHEN tr.whash IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM perwin w LEFT JOIN train tr ON w.whash = tr.whash
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(bloom_pos) AS BIGINT) AS bloom_dirty,
       CAST(SUM(hit) AS BIGINT) AS exact_dirty,
       CAST(SUM(bloom_pos) - SUM(hit) AS BIGINT) AS fp_windows
FROM j GROUP BY doc_id"""


def _passage_sql() -> str:
    from .queries_catalog import K, query_values_sql
    from .rankers import PASSAGE_SIZE as PS, PASSAGE_STRIDE as ST

    r6 = "CAST(ROUND(CAST({x} AS DECIMAL(28,9)), 6) AS DOUBLE)"
    return f"""WITH tokd AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS ts
  FROM documents
),
{query_values_sql()},
p0 AS (
  SELECT doc_id, unnest(generate_series(0, (len(ts)-1) // {ST})) AS passage_id, ts
  FROM tokd WHERE len(ts) > 0
),
passages AS (
  SELECT doc_id, passage_id,
         list_slice(ts, {ST}*passage_id+1, {ST}*passage_id+{PS}) AS ptoks
  FROM p0
),
occ AS (
  SELECT doc_id, passage_id, len(ptoks) AS pl, unnest(ptoks) AS term
  FROM passages
),
ptf AS (
  SELECT doc_id, passage_id, term, COUNT(*) AS tf, MAX(pl) AS pl
  FROM occ GROUP BY 1, 2, 3
),
pstats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_p,
         CAST(SUM(len(ptoks)) AS DOUBLE) / COUNT(*) AS avgpl
  FROM passages
),
pidf AS (
  SELECT term,
         LN(1.0 + ((SELECT n_p FROM pstats) - COUNT(*) + 0.5) / (COUNT(*) + 0.5)) AS idf
  FROM ptf GROUP BY 1
),
scored AS (
  SELECT q.query_id, p.doc_id, p.passage_id,
         SUM(q.qtf * t.idf * (p.tf * 2.2)
             / (p.tf + 1.2 * (0.25 + 0.75 * p.pl / (SELECT avgpl FROM pstats)))) AS score
  FROM q JOIN pidf t USING (term) JOIN ptf p USING (term)
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT query_id, doc_id, passage_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY {r6.format(x="score")} DESC,
                                     doc_id ASC, passage_id ASC) AS rnk
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rank,
       doc_id, CAST(passage_id AS BIGINT) AS passage_id,
       {r6.format(x="score")} AS score
FROM ranked WHERE rnk <= {K}"""


def build_round4_s8b():
    from .queries_catalog import QuerySpec
    from .relational import COUNT_MIN_SQL
    from .vectors import bbq_oracle_sql

    return {
        "bloom_decontamination": QuerySpec(
            q_bloom_decontamination,
            _bloom_sql(),
            "Bloom-filter n-gram decontamination (the Dolma-style scale "
            "path): m-bit filter over train window hashes, test windows "
            "probed bit-by-bit — bloom answer AND exact truth AND realized "
            "false positives all value-checked (deterministic h60 bits)",
        ),
        "events_count_min": QuerySpec(
            q_events_count_min,
            COUNT_MIN_SQL,
            "count-min sketch heavy hitters: d x w counter matrix over "
            "per-user event counts, est = min over rows, reported beside "
            "exact truth for the top-10 users (one-sided error surfaced "
            "as a checked overcount column)",
        ),
        "ann_bbq_topk": QuerySpec(
            q_ann_bbq_topk,
            bbq_oracle_sql(),
            "binary-quantized ANN (ES/Lucene BBQ shape): sign-bit pack to "
            "2x32-bit words map-side, hamming shortlist via bit_count(xor), "
            "exact cosine re-rank of the shortlist — integer candidate cut, "
            "round6 final order",
        ),
        "passage_topk": QuerySpec(
            q_passage_topk,
            _passage_sql(),
            "passage-level BM25 (the RAG chunk-retrieval shape): "
            "overlapping 32-token windows (stride 16) as the ranked unit, "
            "passage-granularity df/idf/length normalization, flagship "
            "plan with (doc_id, passage_id) keys",
        ),
    }


# ---------------------------------------------- round-4 session-10 entries
def q_dedup_quality_survivors(spark, sf_dir):
    from .graph import quality_survivors

    df = quality_survivors(_docs(spark, sf_dir))
    return df.select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "cluster_size",
        "quality_score",
        F.col("is_keeper").cast("long").alias("is_keeper"),
    )


def _survivors_sql() -> str:
    """DuckDB twin of graph.quality_survivors: the recursive transitive
    closure from _CLUSTERS_SQL composed with text_quality's score CTEs —
    LEFT join attaches labels to the whole corpus (singletons keep their
    own id), argmax-by-(round6 quality DESC, doc_id) picks the survivor."""
    return f"""WITH RECURSIVE {SHINGLE_SQL.strip()},
{MINHASH_CAND_SQL.strip()},
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT p.doc_id_a, p.doc_id_b, COUNT(*) AS i
  FROM pairs p
  JOIN sh a ON a.doc_id = p.doc_id_a
  JOIN sh b ON b.doc_id = p.doc_id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
jp AS (
  SELECT i.doc_id_a, i.doc_id_b
  FROM inter i
  JOIN cnt ca ON ca.doc_id = i.doc_id_a
  JOIN cnt cb ON cb.doc_id = i.doc_id_b
  WHERE i.i / (ca.n + cb.n - i.i) >= 0.8
),
edges AS (
  SELECT doc_id_a AS u, doc_id_b AS v FROM jp
  UNION
  SELECT doc_id_b AS u, doc_id_a AS v FROM jp
),
reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
),
lbl AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u),
qb AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len({_TS}) AS BIGINT) AS n_tokens,
         CAST(COALESCE(list_sum(list_transform({_TS}, x -> length(x))), 0) AS DOUBLE) AS sum_len,
         CAST(len(list_filter({_TS}, x -> x IN ('a','the','of','to','and','in','is','it','on','for'))) AS BIGINT) AS sw
  FROM documents
),
qr AS (
  SELECT doc_id, n_tokens,
         CAST(ROUND(CAST(sum_len / nullif(n_tokens, 0) AS DECIMAL(28,9)), 6) AS DOUBLE) AS mtl,
         CAST(ROUND(CAST(sw / nullif(n_tokens, 0) AS DECIMAL(28,9)), 6) AS DOUBLE) AS swr
  FROM qb
),
qs AS (
  SELECT doc_id,
         CAST(ROUND(CAST(least(n_tokens / 100.0, 1.0) * 0.4
               + (1.0 - least(abs(mtl - 5.0) / 5.0, 1.0)) * 0.3
               + least(swr * 5.0, 1.0) * 0.3 AS DECIMAL(28,9)), 6) AS DOUBLE) AS quality_score
  FROM qr
),
m AS (
  SELECT q.doc_id, q.quality_score,
         CAST(COALESCE(l.cluster_id, q.doc_id) AS BIGINT) AS cluster_id
  FROM qs q LEFT JOIN lbl l ON l.doc_id = q.doc_id
)
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       quality_score,
       CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
              ORDER BY quality_score DESC, doc_id ASC) = 1 AS BIGINT) AS is_keeper
FROM m"""


def build_round4_s10():
    from .queries_catalog import QuerySpec

    return {
        "dedup_quality_survivors": QuerySpec(
            q_dedup_quality_survivors,
            _survivors_sql(),
            "quality-aware dedup retention over the whole corpus: near-dup "
            "components (MinHash+LSH verified graph), survivor = highest "
            "round6 quality (doc_id tiebreak) instead of lowest id, "
            "singletons keep — the keep-the-best-copy curation policy",
        ),
    }
