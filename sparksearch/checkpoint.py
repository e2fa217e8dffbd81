"""S5 + R1–R3: resumable index builds with per-unit lineage + metrics
(BASELINE.json:6: "resumable from per-partition … checkpoint snapshots with
lineage and postings/sec metrics emitted per task").

Table-format note (SURVEY.md §7.4.1): on a real cluster these commits are
Iceberg append snapshots (one per unit; snapshot metadata carries the
metrics). This sandbox has no iceberg-spark-runtime jar, so the same
semantics are emulated with the ``parquet-manifest`` layout:

    <index>/build_meta.json                  pinned build geometry (below)
    <index>/postings/unit_id=<u>/*.parquet   committed unit postings
    <index>/manifest/unit_<u>.json           atomic (tmp + os.replace) commit
                                             record: lineage + metrics
    <index>/segments/gen=<g>/bucket=<b>/     finalized segment generations
    <index>/dictionary_gen_<g>/              cumulative dictionary snapshot
    <index>/dict_sorted_gen_<g>/             its sorted expansion sidecars
    <index>/dict_rsorted_gen_<g>/            (build.write_dictionary_sidecars)
    <index>/stats.json                       atomic COMMIT RECORD of the last
                                             finalize (totals + finalized
                                             units + current dictionary dir
                                             + live generation count n_gens
                                             + next_gen, the next unused id)

All but build_meta.json, postings/ and manifest/ is the one index layout
(build.py module docstring): a single-shot build writes the same artifacts
through the same ``build._commit_generation``, as generation 0.

Unit geometry (the round-3 incremental-merge design, SURVEY.md §3.3):
units are CONTIGUOUS docID spans aligned to the segment range grid —
``unit_span = ranges_per_unit · range_size`` — the natural shape when doc
IDs are assigned per source partition (Iceberg file/partition order). A
(term, range) sub-list therefore lives entirely inside ONE unit, so a
finalize after new units commit encodes ONLY the new units' postings and
appends them as a new segment *generation*: committed generations are never
read, rewritten, or shuffled again. This is what the stats-free impact-pair
block metadata (codec.py) buys — block bytes don't depend on global
idf/avgdl, so old blocks stay valid as the corpus grows; only the
(vocab-sized) dictionary and the 1-row stats are refreshed per finalize.
Resume cost is O(new data) + O(vocab), not O(index).

Crash model: a unit's parquet write and its manifest rename are ordered; a
crash between them leaves an uncommitted (and overwrite-safe) unit dir, so a
resume redoes at most one unit. Within a finalize, ``stats.json`` (atomic
os.replace) is the commit record: artifacts of generation g (segments gen
dir, dictionary snapshots) are rebuilt from scratch by the next finalize if
stats.json never recorded them. Generation ids come from ``next_gen`` and
are never handed out twice — compaction folds the live generations into
``gen=0`` and resets ``n_gens`` but not ``next_gen`` — so the id a finalize
treats as a crash leftover can never name a live artifact. Unit membership
is derived from doc_id — deterministic across retries, cluster sizes and
resumes (never rand()).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .build import (
    _commit_generation,
    _persist_observed,
    _write_json_atomic,
    tokenize_tf,
)


def unit_col(id_col: str, unit_span: int):
    """Deterministic build-unit assignment: contiguous docID spans aligned
    to the range grid (module docstring) — unit = doc_id // unit_span."""
    return (F.col(id_col) / F.lit(int(unit_span))).cast("int")


def build_geometry(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    n_units: int,
    n_ranges: int | None,
    n_buckets: int,
    block_size: int,
    id_col: str = "doc_id",
) -> dict:
    """Pin the build geometry ONCE per index (build_meta.json): unit span,
    range size and layout params. Derived from max(doc_id) — a parquet
    footer-stats scan, no data read. Pinning before the first unit commits
    makes unit membership and range boundaries immutable across resumes.

    Alignment invariant: ``unit_span = ranges_per_unit · range_size`` ⇒
    every range lies inside exactly one unit, which is what makes the
    incremental finalize a pure append (no old (term, range) group is ever
    touched by new data)."""
    meta_path = os.path.join(index_path, "build_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    if os.path.exists(os.path.join(index_path, "stats.json")):
        # a single-shot index: its documents are in no unit, so appending
        # units would count them twice
        raise ValueError(
            f"{index_path} holds a single-shot index; build resumably into "
            "an empty path"
        )
    max_id = docs.agg(F.max(id_col)).collect()[0][0]
    if max_id is None:
        raise ValueError("cannot build an index from an empty corpus")
    domain = int(max_id) + 1
    n_ranges = int(n_ranges or n_units)
    ranges_per_unit = max(1, math.ceil(n_ranges / n_units))
    unit_span0 = max(1, math.ceil(domain / n_units))
    range_size = max(1, math.ceil(unit_span0 / ranges_per_unit))
    unit_span = range_size * ranges_per_unit
    meta = {
        "unit_span": int(unit_span),
        "range_size": int(range_size),
        "ranges_per_unit": int(ranges_per_unit),
        "n_units": int(n_units),
        "n_ranges": int(math.ceil(domain / range_size)),
        "n_buckets": int(n_buckets),
        "block_size": int(block_size),
        "max_id_at_init": int(max_id),
    }
    os.makedirs(index_path, exist_ok=True)
    _write_json_atomic(meta_path, meta)
    return meta


def load_geometry(index_path: str) -> dict:
    with open(os.path.join(index_path, "build_meta.json")) as f:
        return json.load(f)


def manifest_dir(index_path: str) -> str:
    return os.path.join(index_path, "manifest")


def committed_units(index_path: str) -> dict[int, dict]:
    """unit_id → manifest record, from the committed JSON files."""
    d = manifest_dir(index_path)
    out: dict[int, dict] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("unit_") and name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                rec = json.load(f)
            out[int(rec["partition_id"])] = rec
    return out


def resume_plan(index_path: str, n_units: int) -> list[int]:
    """R1 (driver form): unit ids not yet committed."""
    done = set(committed_units(index_path))
    return [u for u in range(n_units) if u not in done]


def resume_plan_df(spark: SparkSession, index_path: str, n_units: int) -> DataFrame:
    """R1 (DataFrame form — the left-anti-join operator demo)."""
    units = spark.range(n_units).select(F.col("id").cast("int").alias("partition_id"))
    done = committed_units(index_path)
    man = spark.createDataFrame(
        [(int(u),) for u in done] or spark.sparkContext.emptyRDD(),
        "partition_id int",
    ) if done else spark.createDataFrame([], "partition_id int")
    return units.join(man, "partition_id", "left_anti")


def manifest_df(spark: SparkSession, index_path: str) -> DataFrame:
    """The manifest as a DataFrame (lineage + metrics per unit)."""
    recs = list(committed_units(index_path).values())
    schema = (
        "partition_id int, n_docs long, n_postings long, n_terms long, "
        "build_secs double, postings_per_sec double, docs_per_sec double, "
        "committed_at string"
    )
    rows = [
        (
            int(r["partition_id"]), int(r["n_docs"]), int(r["n_postings"]),
            int(r["n_terms"]), float(r["build_secs"]),
            float(r["postings_per_sec"]), float(r["docs_per_sec"]),
            str(r["committed_at"]),
        )
        for r in recs
    ]
    return spark.createDataFrame(rows, schema)


def _commit_unit(index_path: str, rec: dict) -> None:
    d = manifest_dir(index_path)
    os.makedirs(d, exist_ok=True)
    _write_json_atomic(os.path.join(d, f"unit_{rec['partition_id']}.json"), rec)


def build_unit(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    unit: int,
    unit_span: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_positions: bool = False,
) -> dict:
    """Stage I for one unit: one-pass tokenize+tf (build.tokenize_tf) →
    commit postings (with the dl column riding along for the finalize).

    Metrics come from an Observation riding the write (no extra pass over the
    data) plus wall-clock around the unit job."""
    t0 = time.monotonic()
    docs_u = docs.filter(unit_col(id_col, unit_span) == unit)
    obs_docs = Observation(f"docs_u{unit}")
    observed = docs_u.select(F.col(id_col).alias("doc_id"), text_col).observe(
        obs_docs, F.count(F.lit(1)).alias("n_docs")
    )
    tf = tokenize_tf(observed, text_col, with_positions=with_positions)
    obs_tf = Observation(f"tf_u{unit}")
    tf = tf.observe(
        obs_tf,
        F.count(F.lit(1)).alias("n_postings"),
        F.approx_count_distinct("term").alias("n_terms"),
    )
    out = os.path.join(index_path, "postings", f"unit_id={unit}")
    tf.write.mode("overwrite").parquet(out)
    secs = max(time.monotonic() - t0, 1e-9)
    n_docs = int(obs_docs.get["n_docs"])
    n_postings = int(obs_tf.get["n_postings"])
    rec = {
        "partition_id": unit,
        "n_docs": n_docs,
        "n_postings": n_postings,
        "n_terms": int(obs_tf.get["n_terms"]),
        "build_secs": secs,
        "postings_per_sec": n_postings / secs,
        "docs_per_sec": n_docs / secs,
        "committed_at": datetime.now(timezone.utc).isoformat(),
    }
    _commit_unit(index_path, rec)
    return rec


def _next_gen(stats: dict) -> int:
    """The id the next finalize gives its generation. A stats.json written
    before ``next_gen`` existed lacks it; there every finalize named its
    dictionary after its own generation, so the committed dictionary's id is
    the last id handed out (compaction keeps the dictionary dir)."""
    if "next_gen" in stats:
        return int(stats["next_gen"])
    return int(stats["dictionary_dir"].rsplit("_", 1)[1]) + 1


def finalize_incremental(spark: SparkSession, index_path: str) -> dict:
    """Stage II, incremental (SURVEY.md §3.3 "segment_union + merge"):
    encode ONLY units committed since the last finalize and commit them as
    generation ``next_gen`` (build._commit_generation — the same code a
    single-shot build runs for generation 0), which appends a segment
    generation and refreshes the dictionary + global stats.

    O(new units) data work + O(vocab) dictionary work. Old generations are
    never read — range-aligned units guarantee no (term, range) group spans
    a generation, and the decoded union over generations IS the global
    docID-sorted index (ranges are disjoint, ordered intervals; the k-way
    merge is positional — zero compute, exactly the B4 contract).

    Returns the stats dict; ``finalize_input_postings`` records how many
    posting rows THIS finalize pushed through the salted exchange + encoder
    (the resume-cost audit the tests pin)."""
    meta = load_geometry(index_path)
    stats_path = os.path.join(index_path, "stats.json")
    prev = None
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            prev = json.load(f)
    done = set(prev.get("finalized_units", [])) if prev else set()
    committed = sorted(committed_units(index_path))
    new_units = [u for u in committed if u not in done]
    if prev is not None and not new_units:
        out = dict(prev)
        out["finalize_input_postings"] = 0
        return out

    tf_all = spark.read.parquet(os.path.join(index_path, "postings"))
    # Positional mode is a per-index invariant (every unit's postings carry
    # pos_blob, build_unit with_positions) — the new generation's blocks then
    # fold positions as the 4th varint stream, same as a single-shot build.
    sel_cols = ["term", "doc_id", "tf", "dl", "lead"] + (
        ["pos_blob"] if "pos_blob" in tf_all.columns else []
    )
    tf_new, new = _persist_observed(
        tf_all.filter(F.col("unit_id").isin([int(u) for u in new_units]))
        .select(*sel_cols)
    )
    try:
        if new["n_postings"] == 0:
            # New units carried no postings (empty/token-free docs): just
            # record them as finalized.
            if prev is None:
                raise ValueError("cannot finalize an index with zero postings")
            out = dict(prev)
            out["finalized_units"] = sorted(done | set(new_units))
            out["finalize_input_postings"] = 0
            _write_json_atomic(stats_path, out)
            return out
        # B1–B4 over the NEW postings only, with the PINNED range geometry.
        return _commit_generation(
            spark, index_path, tf_new, new, meta,
            _next_gen(prev) if prev else 0, prev, sorted(done | set(new_units)),
        )
    finally:
        tf_new.unpersist()


def compact_index(spark: SparkSession, index_path: str) -> dict:
    """Merge all segment generations into one (gen=0) — the operational
    complement of incremental finalize: every resume appends a generation,
    and at some point the accumulated small files cost more in scan/listing
    overhead than one rewrite.

    Because generations hold DISJOINT (term, range) groups (range-aligned
    units), compaction is a pure columnar REWRITE — blocks are copied
    as-is, never decoded, never re-encoded, never shuffled by key (the
    partitionBy(bucket) write re-buckets rows into one file set per
    bucket). Decoded content, dictionary and stats are unchanged; only
    n_gens collapses to 1 — next_gen keeps counting, so the next finalize
    never reuses the id of the live dictionary. Crash-safe the same way
    finalize is: the new generation dir is renamed into a fresh segments
    root, and stats.json (atomic replace) is the commit point."""
    stats_path = os.path.join(index_path, "stats.json")
    with open(stats_path) as f:
        stats = json.load(f)
    n_gens = int(stats.get("n_gens", 1))
    if n_gens <= 1:
        return stats  # nothing to compact
    seg_root = os.path.join(index_path, "segments")
    seg = spark.read.parquet(seg_root).drop("gen")
    tmp_root = os.path.join(index_path, "_segments_compacting")
    shutil.rmtree(tmp_root, ignore_errors=True)
    seg.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(tmp_root, "gen=0")
    )
    old_root = os.path.join(index_path, "_segments_old")
    shutil.rmtree(old_root, ignore_errors=True)
    os.rename(seg_root, old_root)
    os.rename(tmp_root, seg_root)
    stats["n_gens"] = 1
    _write_json_atomic(stats_path, stats)  # commit; old root now garbage
    shutil.rmtree(old_root, ignore_errors=True)
    return stats


def build_resumable(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    n_units: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    n_ranges: int | None = None,
    finalize: bool = True,
    fail_after_units: int | None = None,
    block_size: int | None = None,
    with_positions: bool = False,
) -> dict:
    """§3.3 entry point: commit missing units, then finalize INCREMENTALLY
    (only units not yet folded into a segment generation are encoded).

    ``fail_after_units`` injects a crash after N unit commits (test hook for
    the resume gate). Re-running after any crash is idempotent: committed
    units are skipped (R1), generation artifacts not recorded in stats.json
    are rebuilt, and the decoded index is byte-identical to a single-shot
    build with the same geometry."""
    from .codec import BLOCK_SIZE

    meta = build_geometry(
        spark, docs, index_path, n_units, n_ranges, n_buckets,
        block_size or BLOCK_SIZE, id_col,
    )
    todo = resume_plan(index_path, n_units)
    built = 0
    for u in todo:
        build_unit(spark, docs, index_path, u, meta["unit_span"], text_col,
                   id_col, with_positions=with_positions)
        built += 1
        if fail_after_units is not None and built >= fail_after_units:
            raise RuntimeError(f"injected crash after {built} units")
    if not finalize:
        return {"built_units": built}
    stats = finalize_incremental(spark, index_path)
    stats["built_units"] = built
    stats["n_units"] = n_units
    return stats
