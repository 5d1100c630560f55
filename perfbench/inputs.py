"""Seeded benchmark inputs.

The seed changes which documents are generated, never the shape of the
input: document count, skew-tail share and the near-dup layout shares
are fixed per workload. Span counts follow the exam grammar's own
random question counts, so they move by about 2 % between seeds; the
exact count is printed with every result.
"""

from __future__ import annotations

import os
from typing import Iterator

import pyarrow as pa
from pyspark.sql import SparkSession

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.sources import textgen
from pdf_parser_python_spark.sources.spans import generate_doc_spans

#: one skewed document (100x the questions) per this many documents
GIANT_EVERY = 1000

#: id stride between seeds of the exam corpus; a multiple of
#: GIANT_EVERY, so every seed holds the same number of giant documents
EXAM_SEED_STRIDE = 1_000_000

_SPAN_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
    ("offset", pa.int32()), ("page", pa.int32()),
]))


def exam_doc_index(seed: int, i: int) -> int:
    """Grammar index of the ``i``-th document of seed ``seed``."""
    return seed * EXAM_SEED_STRIDE + i


def exam_doc_id(index: int) -> str:
    return f"syn-{index:012d}"


def _exam_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for b in batches:
        idx = b.column("id").to_pylist()
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([exam_doc_id(i) for i in idx], pa.string()),
                pa.array([generate_doc_spans(i, 12, GIANT_EVERY) for i in idx],
                         _SPAN_TYPE),
            ],
            names=["doc_id", "spans"],
        )


def write_exam_docs(spark: SparkSession, path: str, n_docs: int, seed: int,
                    files: int) -> None:
    """``n_docs`` exam documents in the ``generate_doc_spans`` grammar
    (fault injection included), one giant per GIANT_EVERY documents,
    written as ``files`` parquet files."""
    start = exam_doc_index(seed, 0)
    spark.range(start, start + n_docs, numPartitions=files).mapInArrow(
        _exam_batches, schema=schema.DOCUMENT_SPANS_EXT
    ).write.mode("overwrite").parquet(path)


# ── curate: the textgen near-dup id layout ───────────────────────────

#: shares of the curate corpus: mega-cluster members, planted 5-member
#: cluster members, and unique background documents (the rest)
MEGA_SHARE = 0.05
PLANTED_SHARE = 0.25


def curate_slices(n_docs: int, seed: int) -> list[tuple[int, int]]:
    """(start id, count) slices of the textgen layout for one seed.

    The mega-cluster slice is fixed; the planted slice moves by whole
    clusters and the background slice by whole documents, so the seed
    picks other clusters and other background text at the same shares.
    """
    size = textgen.SMALL_SIZE
    mega = int(n_docs * MEGA_SHARE)
    planted = int(n_docs * PLANTED_SHARE) // size * size
    background = n_docs - mega - planted
    free_clusters = textgen.N_SMALL - planted // size
    if mega > textgen.MEGA or free_clusters < 0:
        raise ValueError(f"{n_docs} docs do not fit the textgen layout")
    planted_start = textgen.SMALL_START + (seed * 7919 % (free_clusters + 1)) * size
    background_start = textgen.SMALL_END + (seed % 1000) * n_docs
    return [(0, mega), (planted_start, planted), (background_start, background)]


def write_curate_docs(spark: SparkSession, path: str, n_docs: int, seed: int,
                      files: int) -> list[tuple[int, int]]:
    """documents(doc_id long, text string) from the textgen layout;
    returns the slices written (the planted ground truth)."""
    slices = curate_slices(n_docs, seed)
    parts = [
        textgen.dedup_bench_corpus(spark, count, partitions=1, start=start)
        for start, count in slices
    ]
    df = parts[0].unionByName(parts[1]).unionByName(parts[2])
    df.repartition(files).write.mode("overwrite").parquet(path)
    return slices


def parquet_bytes(path: str) -> int:
    """Bytes of the data files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
