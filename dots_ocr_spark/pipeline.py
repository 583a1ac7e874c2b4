"""The Spark extraction job: interleaved document table in, ordered span
table out.

Two physical strategies, both span-sequence-equal to the oracle
(tests/test_golden_e2e.py parametrizes the mode):

  * ``extract_fused`` (default, mode='fused') — document grain, ZERO
    shuffles. The input table is doc-grain with the full ``pages`` array
    nested per row, so parse (the shared spec rules) + reading order +
    cleaning + assembly all complete inside the scan task:
    scan → mapInPandas → sink. Parallelism/balance come from input split
    sizing (``spark.sql.files.maxPartitionBytes``): documents are ~KBs,
    so every split holds thousands of docs and per-doc skew averages
    out. Throughput and layer costs on a 4-core host:
    perfbench/BASELINE.md.
  * ``extract_scatter`` (mode='scatter') — page-scatter repartition by
    ``hash(doc_id, page_no)`` + JVM reassembly
    (``array_sort(collect_list(...))`` + higher-order functions). TWO
    shuffles, but page-level parallelism: for corpora whose largest
    documents are big enough to straggle a whole task (X7 skew note).

Both Python workers run every page through one call, ``_parse_page``.

The reference's analog of the Arrow batching here is its hand-rolled
micro-batch collector (task_executor_pool.py:84-142); its analog of the
skew handling is the bounded page queue (configs.py:8-61).
"""

from __future__ import annotations

import json
from operator import itemgetter
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .spec.assemble import TASK_FAIL_THRESHOLD, assemble_page_results
from .spec.page import process_page


def _parse_page(doc_id: str, page) -> dict:
    """The one per-page call of both workers: decode the page's JSON side
    layers and run the shared spec rules. ``page`` maps the PAGE field
    names to values; a page frame without a ``words_json`` column parses
    as if every page had no word layer."""
    toc_json, words_json = page["toc_json"], page.get("words_json")
    sf = page["scale_factor"]
    return process_page(
        page["payload"], int(page["width"]), int(page["height"]),
        doc_id=doc_id, page_no=int(page["page_no"]),
        scale_factor=float(sf) if sf is not None else 1.0,
        toc=None if toc_json is None else json.loads(toc_json),
        words=None if words_json is None else json.loads(words_json),
    )


# --------------------------------------------------------------------------
# stage 1 — page parse (the only Python stage)
# --------------------------------------------------------------------------

_PARSED_COLS = tuple(f.name for f in schemas.PARSED_PAGE.fields)
_PAGE_SPAN_FIELDS = itemgetter(*(f.name for f in schemas.PAGE_SPAN.fields))


def _parse_pages_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: page rows in, parsed page rows out.

    Arrow delivers columnar batches; the per-page loop below is the
    page-granular compute the reference runs per task (ocr_task.py:518-634),
    here amortized over a whole Arrow batch per Python call. A row with a
    null ``page_no`` is a document without pages (``explode_outer``); it
    passes through unparsed so assembly still emits the document.
    """
    for pdf in batches:
        out: list[tuple] = []
        cols = list(pdf.columns)
        for values in zip(*(pdf[c].tolist() for c in cols)):
            page = dict(zip(cols, values))
            doc_id = page["doc_id"]
            if pd.isna(page["page_no"]):
                out.append((doc_id, None, None, None, None, None, None))
                continue
            r = _parse_page(doc_id, page)
            out.append((
                doc_id, int(page["page_no"]), r["status"], r["md"], r["md_nohf"],
                list(map(_PAGE_SPAN_FIELDS, r["spans"])),
                len(r["cells"]),
            ))
        yield pd.DataFrame(out, columns=_PARSED_COLS)


def parse_pages(docs: DataFrame) -> DataFrame:
    """Stage 1: explode documents to page grain and run the parse UDF.
    ``explode_outer`` keeps a document with no (or null) pages as one
    null-page row."""
    pages = docs.select(
        "doc_id", F.explode_outer("pages").alias("page")
    ).select("doc_id", "page.*")
    return parse_pages_exploded(pages)


def parse_pages_exploded(pages: DataFrame) -> DataFrame:
    """Parse an already page-grain frame (doc_id + the PAGE columns) —
    the seam shared by ``parse_pages`` and the page-granular checkpoint
    runner (``checkpoint.run_extraction_paged``)."""
    # Skew-breaking scatter by hash(doc_id, page_no), with an explicit
    # partition count: an expression-only repartition is an
    # AQE-coalescible exchange, and page batches are small enough
    # (~8 MB) that AQE's 64 MB advisory size would collapse the Python
    # stage to a handful of tasks — starving the executors where the
    # work actually is. The count pins parallelism; pages stay
    # scattered by hash so table/formula-heavy docs can't clump (X7).
    n_part = pages.sparkSession.sparkContext.defaultParallelism * 4
    pages = pages.repartition(n_part, F.xxhash64("doc_id", "page_no"))
    return pages.mapInPandas(_parse_pages_batches, schema=schemas.PARSED_PAGE)


# --------------------------------------------------------------------------
# stage 2 — document assembly (pure JVM)
# --------------------------------------------------------------------------

def assemble_documents(parsed: DataFrame) -> DataFrame:
    """Stage 2: per-document assembly with built-in expressions only.

    Mirrors the reference combiner (dotsocr_service.py:430-515): pages
    sorted by page_no; failed pages excluded; page markdown joined with a
    trailing ``\\n\\n`` per page; document failed when failed/total > 0.1.
    A null-page row (a document without pages) contributes no page.
    """
    page = F.struct("page_no", "status", "md", "md_nohf", "spans")
    grouped = parsed.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.when(F.col("page_no").isNotNull(), page))
        ).alias("pr")
    )

    ok = F.filter("pr", lambda p: p["status"] != F.lit("failed"))
    out = grouped.select(
        "doc_id",
        ok.alias("ok_pages"),
        F.size("pr").alias("n_pages"),
        F.size(F.filter("pr", lambda p: p["status"] == F.lit("failed"))).alias("n_failed"),
        F.size(F.filter("pr", lambda p: p["status"] == F.lit("fallback"))).alias("n_fallback"),
    )

    flat_spans = F.flatten(F.transform("ok_pages", lambda p: p["spans"]))
    spans = F.transform(
        flat_spans,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    markdown = F.aggregate(
        "ok_pages", F.lit(""), lambda acc, p: F.concat(acc, p["md"], F.lit("\n\n"))
    )
    markdown_nohf = F.aggregate(
        "ok_pages", F.lit(""), lambda acc, p: F.concat(acc, p["md_nohf"], F.lit("\n\n"))
    )

    return out.select(
        "doc_id",
        spans.alias("spans"),
        markdown.alias("markdown"),
        markdown_nohf.alias("markdown_nohf"),
        "n_pages",
        "n_failed",
        "n_fallback",
        F.size(spans).alias("n_spans"),
        # try_divide: a document without pages is "ok", as in the oracle
        F.when(
            F.try_divide("n_failed", "n_pages") > TASK_FAIL_THRESHOLD, F.lit("failed")
        ).otherwise(F.lit("ok")).alias("status"),
    )


# --------------------------------------------------------------------------
# fused parse+assemble, document grain (default path — ZERO shuffles)
# --------------------------------------------------------------------------

_OUT_COLS = ("doc_id", "spans", "markdown", "markdown_nohf",
             "n_pages", "n_failed", "n_fallback", "n_spans", "status")
_SPAN_FIELDS = itemgetter(*(f.name for f in schemas.SPAN.fields))


def _out_row(d: dict) -> tuple:
    return (
        d["doc_id"],
        list(map(_SPAN_FIELDS, d["spans"])),
        d["markdown"], d["markdown_nohf"],
        d["n_pages"], d["n_failed"], d["n_fallback"], d["n_spans"], d["status"],
    )


def _extract_doc_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker, document grain: each input row carries the whole
    document (nested ``pages`` array), so parse + assembly complete inside
    the task — no shuffle anywhere in the job."""
    for pdf in batches:
        out: list[tuple] = []
        for doc_id, pages in zip(pdf["doc_id"].tolist(), pdf["pages"].tolist()):
            page_results = [
                _parse_page(doc_id, p)
                for p in sorted(pages if pages is not None else [],
                                key=lambda p: p["page_no"])]
            out.append(_out_row(assemble_page_results(doc_id, page_results)))
        yield pd.DataFrame(out, columns=_OUT_COLS)


def extract_fused(docs: DataFrame) -> DataFrame:
    """Fused parse+assemble at document grain: ZERO shuffles.

    The input table is document-grain with the full ``pages`` array nested
    in the row, so every document is parsed and assembled inside its scan
    task — the job is scan → mapInPandas → sink, embarrassingly parallel.
    Parallelism and balance come from input split sizing
    (``spark.sql.files.maxPartitionBytes``; docs are ~KBs, so every split
    holds thousands of documents and skew averages out). Per-task skew is
    bounded by the largest single document; for corpora with pathological
    page counts per doc, use ``extract_scatter``, which redistributes at
    page grain.
    """
    return docs.select("doc_id", "pages").mapInPandas(
        _extract_doc_batches, schema=schemas.OUTPUT)


def extract_scatter(docs: DataFrame) -> DataFrame:
    """Two-stage pipeline: page-scatter parse + JVM document reassembly.
    Use when single documents are so large that one document per task
    would straggle (page-grain parallelism is preserved here)."""
    return assemble_documents(parse_pages(docs))


def extract(docs: DataFrame, mode: str = "fused") -> DataFrame:
    """Full pipeline: input table → (doc_id, ordered spans, markdown, …).

    mode: 'fused' (doc-grain, zero shuffles — default) or 'scatter' (page
    scatter + JVM reassembly, two shuffles — giant-doc corpora)."""
    if mode == "fused":
        return extract_fused(docs)
    if mode == "scatter":
        return extract_scatter(docs)
    raise ValueError(f"unknown extract mode {mode!r}; valid modes: "
                     "'fused', 'scatter'")


# --------------------------------------------------------------------------
# distributed fixture generation
# --------------------------------------------------------------------------

def generate_input(spark: SparkSession, n_docs: int, seed: int = 42,
                   partitions: int | None = None, **knobs) -> DataFrame:
    """Build the synthetic interleaved input table distributedly: each
    executor generates its own documents from (seed, doc_index) — no driver
    materialization, so the same code scales from 500 docs to millions."""
    from .fixtures import generate_doc

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "spans", "pages", "n_pages", "size_class")}
            for i in pdf["id"].tolist():
                d = generate_doc(int(i), seed=seed, **knobs)
                rows["doc_id"].append(d["doc_id"])
                rows["spans"].append(
                    [(s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in d["spans"]]
                )
                rows["pages"].append(
                    [(p["page_no"], p["width"], p["height"], p["scale_factor"],
                      p["payload"], p["toc_json"], p.get("words_json"))
                     for p in d["pages"]]
                )
                rows["n_pages"].append(d["n_pages"])
                rows["size_class"].append(d["size_class"])
            yield pd.DataFrame(rows)

    n_part = partitions or max(spark.sparkContext.defaultParallelism, 8)
    return spark.range(n_docs, numPartitions=n_part).mapInPandas(
        _gen, schema=schemas.INPUT
    )
