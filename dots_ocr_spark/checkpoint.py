"""Resumable extraction runs: per-unit lineage + metrics + idempotent
restart (north-rule X6; reference analog: MD5-of-input + output-existence
skip at the reference's ``app/dotsocr_service.py:253-348`` and its S3
page-index resume scan at ``app/utils/storage.py:199-228``).

Design (Iceberg semantics approximated on plain parquet — the container
ships no Iceberg catalog; on a real deployment swap the two writers for
``MERGE INTO`` on an Iceberg table and this module's logic is unchanged).
Two runners share one commit protocol and differ only in their work unit:

  * ``run_extraction`` — unit = **bucket**, ``pmod(xxhash64(doc_id),
    n_buckets)``: stable across runs, independent of input file layout.
    Output is the extracted document table (``output/``), lineage
    ``_lineage/`` (:data:`LINEAGE_SCHEMA`).
  * ``run_extraction_paged`` — unit = **(bucket, prange)**, ``prange =
    page_no // pages_per_range``. The bucket runner recomputes a WHOLE
    bucket after a mid-bucket crash — fine for uniform corpora, wasteful
    when one document holds 10k pages (the measured scatter-win regime,
    tools/bench_scatter.py). This runner is the Spark analog of the
    reference's page-index resume scan: a crash mid-giant-doc resumes at
    the first uncommitted page range of that document instead of its
    first page. Output is PARSED PAGE grain (``schemas.PARSED_PAGE`` +
    the unit columns, ``pages/``), lineage ``_page_lineage/``
    (:data:`PAGE_LINEAGE_SCHEMA`). A doc with no (or null) pages is one
    null-page row in prange 0, as in the scatter pipeline, so assembly
    still emits it. The unit domain is data-derived (bucket b has ranges
    0..max(max_page_no // r) over its docs, range 0 for a doc with no
    pages) — a bounded n_buckets-row collect, recomputed identically on
    every resume. ``assemble_from_page_checkpoint`` is the scatter
    pipeline's stage 2 (pure-JVM ``assemble_documents``) over the
    completed page table.

The lineage schema is the layout: the columns before ``run_id`` are the
unit keys (and the output's partition columns), the ones between it and
``completed_at_unix`` are the unit's counters. The commit protocol, per
group of ``*_per_commit`` units (one Spark job + one lineage append per
group — the knob trades restart granularity against job-scheduling
overhead, exactly like Iceberg snapshot batching):

  1. Output commit: the group's frame is written partitioned by the unit
     keys with dynamic partition overwrite — re-processing a unit
     atomically replaces its directory, so a crash mid-group can never
     duplicate rows.
  2. Lineage commit, AFTER the output is durable: the group's counters
     are read back from the written partitions and left-joined onto the
     group's unit list, zero-filled, so EVERY unit of the group gets one
     lineage row — an empty unit writes no partition and would otherwise
     be reprocessed on every resume. A crash between the two writes ⇒
     the unit is simply re-done (idempotent), never skipped-but-missing.

Resume = the set of units in the lineage table, pruned from the domain
BEFORE any Python work runs. A missing lineage table means nothing was
committed; any other lineage read error propagates, since resuming past
it would silently recompute (or skip) committed work. Metrics: per-unit
counters live in the lineage rows; ``metrics_summary`` /
``page_metrics_summary`` roll them up per run (A4/A5 analog).
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.errors import AnalysisException

from . import pipeline

LINEAGE_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("run_id", T.StringType()),
    T.StructField("n_docs", T.LongType()),
    T.StructField("n_spans", T.LongType()),
    T.StructField("n_failed_pages", T.LongType()),
    T.StructField("n_fallback_pages", T.LongType()),
    T.StructField("completed_at_unix", T.DoubleType()),
])

PAGE_LINEAGE_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("prange", T.IntegerType()),
    T.StructField("run_id", T.StringType()),
    T.StructField("n_pages", T.LongType()),
    T.StructField("n_failed_pages", T.LongType()),
    T.StructField("n_fallback_pages", T.LongType()),
    T.StructField("completed_at_unix", T.DoubleType()),
])

#: encodes (bucket, prange) into one long for an IN-list filter; no
#: corpus has 2^40 pages per document, so the encoding never collides
_PR_ENC = 1 << 40


def _lineage_path(base: str) -> str:
    return os.path.join(base, "_lineage")


def _output_path(base: str) -> str:
    return os.path.join(base, "output")


def _page_lineage_path(base: str) -> str:
    return os.path.join(base, "_page_lineage")


def _pages_path(base: str) -> str:
    return os.path.join(base, "pages")


def _bucket(n_buckets: int) -> Column:
    """The bucket of a row's ``doc_id``."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def _layout(columns: list[str]) -> tuple[list[str], list[str]]:
    """(unit keys, counters) of a lineage column list."""
    i = columns.index("run_id")
    return columns[:i], columns[i + 1:-1]


def _in_units(keys: list[str], group: list[tuple]) -> Column:
    """``unit IN (group)`` over the unit-key columns; a (bucket, prange)
    unit is matched as one ``_PR_ENC``-encoded long."""
    if len(keys) == 1:
        return F.col(keys[0]).isin([u for u, in group])
    return (F.col("bucket").cast("long") * _PR_ENC + F.col("prange")).isin(
        [b * _PR_ENC + p for b, p in group])


def _completed_units(read, spark: SparkSession, base: str) -> set[tuple]:
    """Unit-key tuples committed by any previous run (the resume scan)."""
    try:
        lineage = read(spark, base)
    except AnalysisException:
        return set()  # no lineage table yet: nothing committed
    keys, _ = _layout(lineage.columns)
    return {tuple(r) for r in lineage.select(*keys).distinct().collect()}


def _commit_groups(
    spark: SparkSession,
    schema: T.StructType,
    output: str,
    lineage: str,
    todo: list[tuple],
    per_commit: int,
    run_id: str,
    build,
    counts: list[Column],
) -> None:
    """Commit ``todo`` in groups of ``per_commit`` units (the protocol in
    the module docstring). ``build(group)`` returns the frame to write,
    carrying the unit-key columns of ``schema``; ``counts`` aggregate the
    written rows into the schema's counters, in schema order."""
    keys, counters = _layout(schema.fieldNames())
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    for lo in range(0, len(todo), per_commit):
        group = todo[lo:lo + per_commit]
        # 1) output commit: dynamic overwrite replaces exactly these units
        build(group).write.mode("overwrite").partitionBy(*keys).parquet(output)
        # 2) lineage commit, every unit of the group zero-filled
        try:
            got = spark.read.parquet(output).where(_in_units(keys, group)) \
                .groupBy(*keys) \
                .agg(*[c.alias(n) for c, n in zip(counts, counters)])
        except AnalysisException:
            # an all-empty commit group writes no part files at all, so
            # parquet schema inference fails (UNABLE_TO_INFER_SCHEMA /
            # PATH_NOT_FOUND) — every unit gets zeros. Only analysis
            # errors mean "no output"; IO errors must surface, otherwise
            # a transient read failure would silently commit zero-count
            # lineage and mark unprocessed units complete.
            got = spark.createDataFrame(
                [], T.StructType([schema[n] for n in keys + counters]))
        spark.createDataFrame(
            group, T.StructType([schema[k] for k in keys])
        ).join(got, keys, "left").select(
            *keys,
            F.lit(run_id).alias("run_id"),
            *[F.coalesce(n, F.lit(0)).cast("long").alias(n) for n in counters],
            F.lit(time.time()).alias("completed_at_unix"),
        ).write.mode("append").parquet(lineage)


def _rollup(lineage: DataFrame, n_units: str) -> DataFrame:
    """Run-level sums of a lineage table's counters."""
    _, counters = _layout(lineage.columns)
    return lineage.groupBy("run_id").agg(
        F.count("*").alias(n_units), *[F.sum(c).alias(c) for c in counters])


def completed_buckets(spark: SparkSession, base: str) -> set[int]:
    """Buckets already committed by any previous run (the resume scan)."""
    return {b for b, in _completed_units(read_lineage, spark, base)}


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    base: str,
    n_buckets: int = 64,
    buckets_per_commit: int = 16,
    mode: str = "fused",
    run_id: str | None = None,
    bucket_col: str | None = None,
) -> dict:
    """Run (or resume) a checkpointed extraction over ``docs``.

    Returns ``{"run_id", "processed_buckets", "skipped_buckets"}``.
    Safe to call again after any failure: completed buckets are never
    recomputed; a half-written bucket is overwritten atomically.

    ``bucket_col``: name of a PARTITION column on the input that
    already holds ``pmod(xxhash64(doc_id), n_buckets)`` — i.e. the
    input was written with ``partitionBy`` on a column computed by
    exactly that rule, the layout this module's own output uses. (NOT
    ``sinks.write_bucketed``: Hive ``bucketBy`` uses Murmur3 file
    bucketing with no partition column, which neither matches the pmod
    rule nor supports partition pruning.)
    When given, each commit group's filter is a partition predicate and
    the scan PRUNES to the group's files — G commit groups read the
    corpus once in total. Without it the bucket is computed as an
    expression, which no scan can prune, so every commit group rescans
    the full source: fine for a handful of groups, the dominant cost at
    100 TB with fine-grained commits (measured: each extra group adds a
    source scan, BENCH/BASELINE.md). The column MUST follow the pmod
    rule above — the resume domain, output partitioning, and lineage
    are all keyed on it; a value outside ``[0, n_buckets)`` or a commit
    group holding a doc of another bucket raises ``ValueError``.
    """
    run_id = run_id or uuid.uuid4().hex[:12]

    done = completed_buckets(spark, base)
    todo = [(b,) for b in range(n_buckets) if b not in done]

    if bucket_col is not None:
        # Domain guard: a doc whose bucket_col lies outside
        # [0, n_buckets) is in no commit group, so it would never be
        # selected — silently dropped while every group commits (e.g. an
        # input laid out with 2*n_buckets, which the per-group guard
        # below cannot see). A partition predicate: on a correct layout
        # every partition is pruned and no data file is read.
        c = F.col(bucket_col)
        if not docs.where(c.isNull() | (c < 0) | (c >= n_buckets)).isEmpty():
            raise ValueError(
                f"bucket_col={bucket_col!r} holds values outside "
                f"[0, {n_buckets}): those docs belong to no commit group "
                "and would be silently dropped. The input's partition "
                "layout disagrees with this run's n_buckets.")
    else:
        bucketed = docs.withColumn("bucket", _bucket(n_buckets))

    def build(group):
        buckets = [b for b, in group]
        if bucket_col is not None:
            # partition predicate: the scan prunes to the group's files
            chunk = docs.where(F.col(bucket_col).isin(buckets))
            # Layout guard: the fast path trusts that bucket_col follows
            # pmod(xxhash64(doc_id), n_buckets). If the input was written
            # with a different n_buckets or hash, this group would parse
            # the wrong docs, commit lineage for buckets it never
            # produced, and later groups' dynamic overwrites would wipe
            # the stray output partitions — silent doc loss behind a
            # clean lineage table. Recompute the rule over the pruned
            # files only (one cheap JVM-only job, no Python work) and
            # refuse to commit on any mismatch.
            stray = chunk.where(
                ~_bucket(n_buckets).isin(buckets)).limit(1).count()
            if stray:
                raise ValueError(
                    f"bucket_col={bucket_col!r} does not follow "
                    f"pmod(xxhash64(doc_id), {n_buckets}): commit group "
                    f"{buckets} selected docs whose recomputed bucket lies "
                    "outside the group. The input's partition layout "
                    "disagrees with this run's (n_buckets, hash) — "
                    "refusing to commit rather than silently lose docs.")
            chunk = chunk.drop(bucket_col)
        else:
            chunk = bucketed.where(F.col("bucket").isin(buckets)).drop("bucket")
        return pipeline.extract(chunk, mode=mode) \
            .withColumn("bucket", _bucket(n_buckets))

    _commit_groups(
        spark, LINEAGE_SCHEMA, _output_path(base), _lineage_path(base),
        todo, buckets_per_commit, run_id, build, [
            F.count("*"),
            F.sum("n_spans").cast("long"),
            F.sum("n_failed").cast("long"),
            F.sum("n_fallback").cast("long"),
        ])
    return {
        "run_id": run_id,
        "processed_buckets": len(todo),
        "skipped_buckets": len(done),
    }


def read_output(spark: SparkSession, base: str) -> DataFrame:
    return spark.read.parquet(_output_path(base))


def completed_page_units(spark: SparkSession, base: str) -> set[tuple[int, int]]:
    """(bucket, prange) units committed by any previous run."""
    return _completed_units(read_page_lineage, spark, base)


def _prange(pages_per_range: int):
    """The page-range unit key; a null-page row lands in prange 0."""
    return F.coalesce(
        F.floor(F.col("page_no") / F.lit(pages_per_range)).cast("int"),
        F.lit(0))


def _page_grain(docs: DataFrame, n_buckets: int, pages_per_range: int) -> DataFrame:
    """Explode the input to page grain with the (bucket, prange) unit key.
    ``explode_outer`` keeps a document with no (or null) pages as one
    null-page row (``pipeline.parse_pages`` does the same)."""
    return (
        docs.withColumn("bucket", _bucket(n_buckets))
        .select("doc_id", "bucket", F.explode_outer("pages").alias("page"))
        .select("doc_id", "bucket", "page.*")
        .withColumn("prange", _prange(pages_per_range))
    )


def run_extraction_paged(
    spark: SparkSession,
    docs: DataFrame,
    base: str,
    n_buckets: int = 64,
    pages_per_range: int = 8,
    units_per_commit: int = 16,
    run_id: str | None = None,
) -> dict:
    """Run (or resume) a page-granular checkpointed parse over ``docs``.

    Returns ``{"run_id", "processed_units", "skipped_units"}``. Safe to
    call again after any failure: committed page ranges are never
    re-parsed — including the completed ranges of a document whose later
    ranges crashed (the giant-doc case the bucket runner recomputes).
    """
    run_id = run_id or uuid.uuid4().hex[:12]

    # data-derived unit domain: one row per bucket → bounded collect.
    # Ranges are derived from the MAX page_no actually present (not from
    # size(pages)): the two agree on the canonical 0-based contiguous
    # numbering, but an externally-supplied table with 1-based or gapped
    # page_no would otherwise put its last page(s) in a prange outside
    # the domain — never selected, yet the unit lineage still commits,
    # i.e. pages silently dropped with no resumable trace.
    dom = (
        docs.select(
            _bucket(n_buckets).alias("bucket"),
            F.when(
                F.size("pages") > 0,
                F.floor(F.array_max("pages.page_no") / F.lit(pages_per_range))
                .cast("int") + 1,
            ).otherwise(F.lit(1)).alias("npr"),  # zero pages: prange 0
            F.when(
                F.size("pages") > 0, F.array_min("pages.page_no")
            ).otherwise(F.lit(0)).alias("min_pno"),
        )
        .groupBy("bucket")
        .agg(F.max("npr").alias("npr"), F.min("min_pno").alias("min_pno"))
        .collect()
    )
    # array_max covers 1-based/gapped numbering UPWARD, but a negative
    # page_no would get a negative prange that is never in the domain:
    # the page is silently never parsed while its bucket's units all
    # commit lineage — the same silent-drop mode the array_max bound
    # exists to prevent, in the other direction. Fail fast instead; the
    # min comes free in the same bounded domain collect.
    neg = sorted(r["bucket"] for r in dom
                 if r["min_pno"] is not None and r["min_pno"] < 0)
    if neg:
        raise ValueError(
            f"negative page_no in bucket(s) {neg}: pages with page_no < 0 "
            "would fall outside the (bucket, prange) unit domain and be "
            "silently skipped. Renumber pages to be >= 0 before the "
            "paged runner.")
    all_units = {(r["bucket"], p) for r in dom for p in range(r["npr"])}
    done = completed_page_units(spark, base) & all_units
    todo = sorted(all_units - done)

    pages = _page_grain(docs, n_buckets, pages_per_range)
    keys, _ = _layout(PAGE_LINEAGE_SCHEMA.fieldNames())

    def build(group):
        sel = pages.where(_in_units(keys, group)).drop(*keys)
        return pipeline.parse_pages_exploded(sel) \
            .withColumn("bucket", _bucket(n_buckets)) \
            .withColumn("prange", _prange(pages_per_range))

    _commit_groups(
        spark, PAGE_LINEAGE_SCHEMA, _pages_path(base), _page_lineage_path(base),
        todo, units_per_commit, run_id, build, [
            F.count("page_no"),
            F.sum((F.col("status") == "failed").cast("long")),
            F.sum((F.col("status") == "fallback").cast("long")),
        ])
    return {
        "run_id": run_id,
        "processed_units": len(todo),
        "skipped_units": len(done),
    }


def read_page_output(spark: SparkSession, base: str) -> DataFrame:
    return spark.read.parquet(_pages_path(base))


def read_page_lineage(spark: SparkSession, base: str) -> DataFrame:
    return spark.read.schema(PAGE_LINEAGE_SCHEMA) \
        .parquet(_page_lineage_path(base))


def assemble_from_page_checkpoint(spark: SparkSession, base: str) -> DataFrame:
    """Stage 2 of the scatter pipeline over the completed page table:
    pure-JVM document reassembly (identical combiner to
    ``pipeline.extract_scatter``)."""
    return pipeline.assemble_documents(
        read_page_output(spark, base)
        .select("doc_id", "page_no", "status", "md", "md_nohf", "spans"))


def page_metrics_summary(spark: SparkSession, base: str) -> DataFrame:
    """Run-level metrics rollup from the PAGE lineage table — the
    page-granular runner's analog of :func:`metrics_summary`."""
    return _rollup(read_page_lineage(spark, base), "n_units")


def read_lineage(spark: SparkSession, base: str) -> DataFrame:
    return spark.read.schema(LINEAGE_SCHEMA).parquet(_lineage_path(base))


def metrics_summary(spark: SparkSession, base: str) -> DataFrame:
    """Run-level metrics rollup from the lineage table (A4/A5 analog:
    per-run counters the reference keeps in task stats,
    ``app/utils/executor/stats.py:22-41``)."""
    return _rollup(read_lineage(spark, base), "n_buckets")
