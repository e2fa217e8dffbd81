"""sparksearch — PySpark-native inverted-index builder + BM25 top-k query engine.

A from-scratch, Spark-first reimplementation of the capabilities of
``sharesci/search-engine`` (reference tree empty at survey time; the operative
spec is BASELINE.json + SURVEY.md — see SURVEY.md §0).

Modules
-------
session     SparkSession builder with pinned configs (AQE, Arrow, shuffle partitions)
tokenize    T1–T3: vectorized tokenizers (SQL + pandas-UDF twins), explode, filters
stats       A1–A6: tf / dl / df / cf / idf / global stats as built-in aggregations
codec       pure-NumPy varint + delta-gap block codec (no Spark imports)
build       B1–B5 + S4: salted repartition, sort, block encode, merge, segment sink
querying    Q1–Q7: pure-DataFrame BM25 (Q5), top-k merge, batch
daat        Q2–Q3: pruned segment fetch, DAAT block-max-WAND top-k, ranked by
            (round6(score) DESC, doc_id ASC) in every shard
vectors     Q8 + ANN: cosine top-k, embedding near-dup, hyperplane-LSH ANN
checkpoint  S5 + R1–R3: manifest sink, resume planning, task metrics, segment
            generations (ids from stats.json next_gen), compaction
textpipe    training-data pipeline: dedup (exact / MinHash+LSH / SimHash /
            n-gram jaccard), winnowing fingerprints, lang-ID, quality, tokens
multimodal  opaque binary payloads + typed metadata; mapInPandas features;
            decode stub (codecs absent in this environment by design)
relational  events/date/JSON/window coverage: rollups, sessionization
streaming   incremental index maintenance (foreachBatch ≡ batch), watermarked
            tumbling + session windows
queries_catalog  one entry per operator behind __spark_entry__.queries(), each
            with its DuckDB SQL twin
"""

BM25_K1 = 1.2
BM25_B = 0.75

__all__ = ["BM25_K1", "BM25_B"]
