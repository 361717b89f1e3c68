"""The end-to-end extraction pipeline (SURVEY.md §7.1 DAG).

    pages(url, warc_ts, html, text, lang)
      └─ resume gate: anti-join vs committed lineage buckets      [R1-R3]
      └─ mapInPandas extract (html | pubmed-xml | pdf routes)     [H*,B*,C*,P*]
      └─ language gate (input col ∥ seeded detector)              [F8]
      └─ salted bucket repartition over url-hash, persisted       [north rule]
      └─ dedup keys + keep-first duplicate marking, per bucket    [X1,X2]
      └─ write extracted, partitioned by bucket(url)
      └─ lineage rows (bucket, row_count, checksum, wall_time,
         n_buckets)                                               [R4]

Commit protocol (Iceberg-analog on plain parquet): extracted data for a
bucket is visible only once its lineage row exists — lineage is written
last (write-at-end-marks-success, ``extractor/parse.py:75-79`` analog).
Resume anti-joins the lineage table, so re-running after a crash reprocesses
only uncommitted buckets; dynamic partition overwrite makes that idempotent.
The lineage records the bucket count, which binds every later run on the
same ``out_dir``.

Scale notes:
- the shuffle key is ``pmod(xxhash64(url, SALT), n_buckets)`` — url hashing
  defeats domain skew (Zipf hosts), the salt constant decorrelates this
  shuffle from any earlier url-hash partitioning;
- the bucket exchange follows extraction, so it carries extracted rows,
  not raw html, and it is the ONLY exchange of the wide rows: the slim
  flags are shuffled onto ``hashpartitioning(bucket, n)`` and the flag
  join, the tuple collapse and the write reuse it, so each write task
  owns whole buckets (one file per bucket). Extraction itself runs on the
  input splits (``spread`` only re-balances a single-split input);
- ``n_buckets`` targets ~BYTES_PER_BUCKET of html per bucket, computed from
  a cheap (count, sum(length)) pre-agg — size-balanced partitions instead
  of file-boundary skew (the reference's per-file fan-out problem,
  BASELINE.md "parallelism model");
- AQE re-coalesces the slim keep-first shuffles at runtime; the bucket
  exchange has an explicit count and is never coalesced.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dedup_ops
from ..operators.extract import extract_pages
from ..operators.util import spread

SALT = 0x5CA1AB1E
BYTES_PER_BUCKET = 64 * 1024 * 1024  # ~64 MB of raw html per bucket


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("url"), F.lit(SALT)), F.lit(n_buckets))


def plan_buckets(pages: DataFrame, target_bytes: int = BYTES_PER_BUCKET,
                 min_buckets: int | None = None) -> int:
    """Size-balanced bucket count from a cheap pre-agg."""
    row = pages.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("html")).alias("b")).collect()[0]
    total = row["b"] or 0
    if min_buckets is None:
        min_buckets = pages.sparkSession.sparkContext.defaultParallelism
    return max(min_buckets, math.ceil(total / target_bytes))


class BucketCountMismatch(ValueError):
    """``n_buckets`` differs from the count the committed lineage was
    written with: bucket ``b`` of one count holds other urls than bucket
    ``b`` of another, so the resume gate would drop and re-add rows."""


def committed_buckets(spark: SparkSession, lineage_path: str
                      ) -> tuple[list[int], int | None]:
    """``(committed buckets, their bucket count)`` from the lineage.
    Missing/empty lineage → ``([], None)`` (nothing committed yet); a
    genuine read failure propagates — treating it as "nothing committed"
    would silently reprocess every bucket (idempotent but masks the
    failure; the ADVICE-r8 loader rule, applied consistently). Lineage
    written before ``n_buckets`` was recorded gives a None count."""
    raw = dedup_ops._read_index_or_none(spark, lineage_path)
    if raw is None:
        return [], None
    n_col = (F.col("n_buckets") if "n_buckets" in raw.columns
             else F.lit(None).cast("int"))
    rows = raw.select("bucket", n_col.alias("n")).distinct().collect()
    counts = {r["n"] for r in rows} - {None}
    if len(counts) > 1:
        raise BucketCountMismatch(
            f"lineage at {lineage_path} records several bucket counts "
            f"{sorted(counts)}")
    return (sorted({r["bucket"] for r in rows}),
            counts.pop() if counts else None)


def run_extraction(spark: SparkSession, pages: DataFrame, out_dir: str,
                   *, n_buckets: int | None = None, resume: bool = True,
                   lang_keep: str | None = None,
                   use_detector_gate: bool = False,
                   boilerplate_by_domain: dict[str, str] | None = None
                   ) -> dict:
    """Run the pipeline; returns run metrics. Idempotent under re-run.

    ``n_buckets=None`` adopts the bucket count of the committed lineage,
    or plans one from the input's size on a fresh ``out_dir``. An
    explicit count that differs from the committed one raises
    :class:`BucketCountMismatch`.

    ``boilerplate_by_domain`` maps url hosts onto the per-source B2
    rule-sets (``kernels/source_rules`` names, e.g. ``{"www.who.int":
    "who"}``); matched hosts get their reference processor, others the
    generic default — the pipeline emits ``clean_text`` + ``kept`` columns
    alongside the raw ``extracted_text`` (dedup keys stay derived from the
    raw text, so resume/fixture identities are unchanged).
    """
    extracted_path = os.path.join(out_dir, "extracted")
    lineage_path = os.path.join(out_dir, "lineage")

    # the committed bucket count binds every later run on this out_dir,
    # resumed or not: dynamic overwrite of another count's buckets would
    # leave the old buckets' rows beside the new ones
    buckets_done, committed_n = committed_buckets(spark, lineage_path)
    if n_buckets is None:
        n_buckets = committed_n or plan_buckets(pages)
    elif committed_n is not None and n_buckets != committed_n:
        raise BucketCountMismatch(
            f"n_buckets={n_buckets} but {lineage_path} was committed with "
            f"n_buckets={committed_n}; pass n_buckets={committed_n} or "
            "None, or write to a fresh out_dir")

    committed = None
    if resume and buckets_done:
        # partition-level resume: committed bucket list is tiny →
        # broadcast left-anti join prunes whole buckets before extraction
        committed = F.broadcast(spark.createDataFrame(
            [(b,) for b in buckets_done], "bucket long"))
        pages = pages.withColumn("bucket", bucket_col(n_buckets)).join(
            committed, "bucket", "left_anti")
    skipped = len(buckets_done) if committed is not None else 0

    # extract first, then the salted bucket exchange (north rule): the
    # wide rows shuffle exactly once, already extracted, and the flag join
    # and the write reuse that partitioning. mapInPandas emits fresh
    # attributes, so an exchange made before extraction could not be
    # reused downstream; spread() keeps single-file inputs parallel.
    extracted = extract_pages(spread(pages.select("url", "html")))

    if lang_keep is not None:
        if use_detector_gate:
            # native Catalyst detector (kernel-equal, test-enforced) —
            # no Python workers in the gate
            from ..operators.clean import with_detected_lang
            extracted = (with_detected_lang(extracted, "extracted_text",
                                            "__det")
                         .where(F.col("__det") == F.lit(lang_keep))
                         .drop("__det"))
        else:
            extracted = extracted.where(F.col("language") == F.lit(lang_keep))

    if boilerplate_by_domain is not None:
        from ..operators.boilerplate import strip_boilerplate
        extracted = extracted.withColumn(
            "__host", F.lower(F.expr("try_parse_url(url, 'HOST')")))
        extracted = strip_boilerplate(
            extracted, text_col="extracted_text", source_col="__host",
            source_map=boilerplate_by_domain,
            title_col="title").drop("__host")

    # the one wide shuffle: salted bucket exchange over the extracted
    # rows. The persist keeps its hashpartitioning(bucket, n) and feeds
    # both flag-join sides (otherwise mapInPandas would run twice).
    from pyspark.storagelevel import StorageLevel
    cached = (extracted.withColumn("bucket", bucket_col(n_buckets))
              .repartition(n_buckets, "bucket")
              .persist(StorageLevel.MEMORY_AND_DISK))

    # X1/X2 duplicate marking (keep-first by url — deterministic total
    # order): keepers over a slim (bucket, url, keys) projection, flags
    # joined back within each bucket. Cross-run correctness: keepers
    # committed by earlier runs win, so a resumed bucket still marks
    # duplicates of rows it cannot see.
    index_path = os.path.join(out_dir, "dedup_index")
    prior_index = dedup_ops.load_keeper_index(spark, index_path) \
        if resume else None
    marked, new_index = dedup_ops.mark_duplicates_incremental(
        cached, ["sha256", "dedup_key"], "url", prior_index,
        partition_col="bucket")

    # run-report counters (A4/R4) ride the write pass via observe() —
    # zero extra jobs (scripts/clean.py:863-869 analog)
    from pyspark.sql import Observation
    obs = Observation("run_report")
    observed_df = marked.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
        .alias("errors"),
        F.sum(F.when(F.length("extracted_text") == 0, 1).otherwise(0))
        .alias("empty"),
        F.sum(F.when(F.col("is_duplicate"), 1).otherwise(0)).alias("dups"))

    # write data first, lineage last (commit marker). Dynamic partition
    # overwrite keeps crashed half-written buckets idempotent. With the
    # co-partition conf off (this write only) the flag join reuses the
    # cache's hashpartitioning(bucket, n) instead of re-shuffling the wide
    # rows by every join key, so each write task owns whole buckets.
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    import time
    t0 = time.time()
    co_partition = "spark.sql.requireAllClusterKeysForCoPartition"
    prior = spark.conf.get(co_partition)
    spark.conf.set(co_partition, "false")
    try:
        observed_df.write.mode("overwrite").partitionBy("bucket") \
            .parquet(extracted_path)
    finally:
        spark.conf.set(co_partition, prior)
    wall = time.time() - t0
    observed = dict(obs.get)
    new_index.write.mode("append").parquet(index_path)
    dedup_ops.unpersist_input(marked)
    cached.unpersist()

    # empty run (everything committed already, or empty input): dynamic
    # overwrite writes no files, so there may be nothing to read. Probe
    # through the Hadoop FS API so s3a://hdfs:// out_dirs work (round-2
    # review: os.walk silently returns nothing for non-local paths)
    from . import fsutil
    has_files = fsutil.has_files(spark, extracted_path)
    if not has_files:
        return {"rows_written": 0, "buckets": n_buckets,
                "buckets_skipped": skipped, "write_wall_s": wall,
                "extracted_path": extracted_path,
                "lineage_path": lineage_path}

    # lineage from the *written* data: counts/checksum reflect committed rows;
    # only buckets processed this run get a lineage row (append-only log)
    written = spark.read.parquet(extracted_path)
    new_buckets = written
    if committed is not None:
        new_buckets = written.join(committed, "bucket", "left_anti")
    lineage = (new_buckets.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum(F.when(F.col("is_duplicate"), 1).otherwise(0)).alias("dup_count"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_count"),
        F.sum(F.crc32(F.concat_ws("|", "url", "sha256"))).alias("checksum"),
        F.sum("cpu_seconds").alias("wall_time_s"))
        .withColumn("n_buckets", F.lit(n_buckets))
        .withColumn("input_split", F.concat(F.lit("bucket="), F.col("bucket")))
        .withColumn("committed_at", F.current_timestamp()))
    # lineage is tiny (one row per bucket): cache it so the commit write and
    # the row-count report share one scan of the written table
    lineage = lineage.cache()
    lineage.write.mode("append").parquet(lineage_path)

    new_rows = lineage.agg(F.sum("row_count")).collect()[0][0] or 0
    lineage.unpersist()
    n_rows = new_rows if committed is None else written.count()
    return {"rows_written": n_rows, "buckets": n_buckets,
            "buckets_skipped": skipped, "write_wall_s": wall,
            "observed": observed,
            "extracted_path": extracted_path, "lineage_path": lineage_path}
