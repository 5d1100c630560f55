"""Failure-path semantics of the lineage loop: a bucket that throws is
recorded status=failed, never poisons prior commits, and is retried on
the next run."""

import tempfile

import pyarrow as pa

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.plans.lineage import ExtractionJob
from pdf_parser_python_spark.sources.spans import generate_doc_spans


def test_failed_bucket_recorded_and_retried(spark):
    corpus = [
        (f"fl-{i:03d}", generate_doc_spans(8000 + i, mean_questions=4))
        for i in range(20)
    ]
    docs = spark.createDataFrame(corpus, schema=schema.DOCUMENT_SPANS_EXT)

    with tempfile.TemporaryDirectory() as td:
        job = ExtractionJob(td, n_buckets=4)
        real = job._write_bucket
        blown = []

        def flaky(bucket, bdocs, *meta):
            if bucket == 2 and not blown:
                blown.append(bucket)
                raise RuntimeError("simulated executor loss")
            return real(bucket, bdocs, *meta)

        job._write_bucket = flaky
        first = job.run(spark, docs)
        assert sorted(first["processed"]) == [0, 1, 3]
        statuses = {r["partition_id"]: r["status"] for r in job.lineage_rows()}
        assert statuses[2] == "failed"
        # look the failed row up by partition_id, not journal index:
        # r8's pooled commits append rows in completion order
        assert any(
            r["partition_id"] == 2
            and "simulated executor loss" in r.get("error", "")
            for r in job.lineage_rows()
        )

        # retry run: only the failed bucket reprocesses
        second = job.run(spark, docs)
        assert second["processed"] == [2]
        done = {r["partition_id"] for r in job.lineage_rows()
                if r["status"] == "done"}
        assert done == {0, 1, 2, 3}
        # final output complete and unique
        out = job.questions(spark)
        assert out.select("doc_id").distinct().count() == 20


class _Counter:
    """Driver-side stand-in for a Spark accumulator."""

    def __init__(self):
        self.value = 0

    def add(self, n):
        self.value += n


def _packed(docs):
    """Packed-projection Arrow batch from (doc_id, [texts]) pairs."""
    strs = pa.list_(pa.string())
    return pa.RecordBatch.from_arrays(
        [
            pa.array([d for d, _ in docs]),
            pa.array([["text"] * len(t) for _, t in docs], strs),
            pa.array([t for _, t in docs], strs),
            pa.array([[""] * len(t) for _, t in docs], strs),
            pa.array([[1] * len(t) for _, t in docs], pa.list_(pa.int32())),
        ],
        names=["doc_id", "kinds", "texts", "refs", "pages"],
    )


def test_fallback_fsm_failure_counted_not_emitted(monkeypatch):
    """A fallback document whose Python FSM raises is counted once and
    emits nothing — not even the parse_failed sentinel; vectorized
    documents in the same batch are unaffected."""
    from pdf_parser_python_spark.operators import dkernel, vkernel

    batch = _packed([
        ("clean", ["Question: 1\nWhat?\nA. x\nB. y", "Answer: A"]),
        ("broken", ["Question: 1\nWhere is İstanbul?\nA. x\nAnswer: A"]),
    ])
    assert [batch.column(0)[d].as_py()
            for d, *_ in vkernel._explode_batch(batch)[2]] == ["broken"]

    def explode(*args, **kwargs):
        raise RuntimeError("planted FSM failure")

    monkeypatch.setattr(dkernel, "_process_rows", explode)
    failures = _Counter()
    out = pa.Table.from_batches(
        list(vkernel.parse_docs_final_arrow(iter([batch]), failures)))
    assert failures.value == 1
    assert out.column("doc_id").to_pylist() == ["clean"]
    assert -1 not in out.column("question_number").to_pylist()


def test_fallback_parse_without_failure_counts_zero():
    from pdf_parser_python_spark.operators import vkernel

    batch = _packed([
        ("ok", ["Question: 1\nWhere is İstanbul?\nA. x\nAnswer: A"]),
    ])
    failures = _Counter()
    out = pa.Table.from_batches(
        list(vkernel.parse_docs_final_arrow(iter([batch]), failures)))
    assert failures.value == 0
    assert out.column("doc_id").to_pylist() == ["ok"]


def test_failure_counters_unique_across_commit_threads(spark, tmp_path):
    """Pooled commits each get their own accumulator: a duplicated id
    would merge two buckets' parse_failures."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    job = ExtractionJob(str(tmp_path), n_buckets=4)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [pool.submit(job._failure_counter, spark)
                       for _ in range(800)]
            ids = [f.result(timeout=60).aid for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert len(set(ids)) == len(ids)
