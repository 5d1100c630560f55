"""Checkpoint/resume with per-partition lineage (north-rule contract)."""

import tempfile

import pytest
from pyspark.sql import functions as F

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.plans import pipeline
from pdf_parser_python_spark.plans.lineage import ExtractionJob
from pdf_parser_python_spark.sources.spans import generate_doc_spans


def _spans(*parts):
    """Span list from ("text", s) / ("image", ref) parts."""
    return [
        {"kind": k, "text": v if k == "text" else "",
         "media_ref": v if k == "image" else "", "offset": i, "page": 1}
        for i, (k, v) in enumerate(parts)
    ]


#: a document the vectorized kernel routes to the Python fallback (İ
#: case-folds to ASCII i only in Python's re) and one whose second
#: question body is images only (orphan_image anomaly, map context)
SPECIAL_DOCS = [
    ("lin-fallback", _spans(
        ("text", "Question: 1\nWhich city was called İstanbul?"),
        ("text", "A. Ankara\nB. Constantinople"),
        ("text", "Answer: B\nExplanation: renamed in 1930"),
        ("text", "Question: 2\nPick one\nA. x\nB. y\nAnswer: A"),
    )),
    ("lin-imgonly", _spans(
        ("text", "Question: 1\nWhat is shown?\nA. cat\nB. dog"),
        ("text", "Answer: A"),
        ("text", "Question: 2"),
        ("image", "img-q2-a"),
        ("image", "img-q2-b"),
        ("text", "A. left\nB. right\nAnswer: B"),
    )),
]


@pytest.fixture(scope="module")
def docs(spark):
    corpus = [
        (f"lin-{i:04d}", generate_doc_spans(3000 + i, mean_questions=6))
        for i in range(40)
    ] + SPECIAL_DOCS
    return spark.createDataFrame(corpus, schema=schema.DOCUMENT_SPANS_EXT).cache()


def _settable(df):
    """Anomaly contexts are maps, which set operations reject: compare
    them as sorted entry arrays."""
    if "anomalies" not in df.columns:
        return df
    return df.withColumn("anomalies", F.transform(
        "anomalies",
        lambda a: a.withField(
            "context", F.array_sort(F.map_entries(a["context"]))),
    ))


def assert_same_rows(got, want):
    got, want = _settable(got), _settable(want.select(*got.columns))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_interrupt_and_resume(spark, docs):
    with tempfile.TemporaryDirectory() as td:
        job = ExtractionJob(td, n_buckets=8)

        # simulate a crash after 3 committed buckets
        first = job.run(spark, docs, max_buckets=3)
        assert len(first["processed"]) == 3
        assert len(first["remaining"]) == 5
        partial = job.questions(spark).count()
        assert partial > 0

        # resume: only pending buckets run; nothing reprocessed
        second = job.run(spark, docs)
        assert sorted(first["processed"] + second["processed"]) == list(range(8))
        assert second["remaining"] == []

        # lineage: 8 done rows with real metrics
        lin = {r["partition_id"]: r for r in job.lineage_rows()}
        assert len(lin) == 8
        assert all(r["status"] == "done" for r in lin.values())
        assert sum(r["docs_parsed"] for r in lin.values()) == 42
        assert all(r["parse_failures"] == 0 for r in lin.values())

        # results == single-shot pipeline row for row, no dupes, no loss
        direct = pipeline.extract_questions(docs)
        got = job.questions(spark)
        assert got.count() == direct.count()
        assert (
            got.select("doc_id", "seq").distinct().count() == direct.count()
        )
        assert_same_rows(got.drop("bucket"), direct)
        assert_same_rows(job.flat_spans(spark).drop("bucket"),
                         pipeline.extract_flat_spans(docs))
        assert sum(r["questions_emitted"] for r in lin.values()) == direct.count()
        assert sum(r["spans_emitted"] for r in lin.values()) == (
            job.flat_spans(spark).count())

        # the special documents really reach the output
        assert {d for d, _ in SPECIAL_DOCS} <= {
            r.doc_id for r in got.select("doc_id").collect()}
        orphan = got.where(
            (F.col("doc_id") == "lin-imgonly") & (F.col("question_number") == 2)
        ).first()
        assert orphan.question_text == ""
        assert orphan.question_images == ["img-q2-a", "img-q2-b"]
        assert "orphan_image" in {a.type for a in orphan.anomalies}


def test_rerun_is_noop(spark, docs):
    with tempfile.TemporaryDirectory() as td:
        job = ExtractionJob(td, n_buckets=4)
        job.run(spark, docs)
        n1 = job.questions(spark).count()
        out = job.run(spark, docs)  # everything already committed
        assert out["processed"] == []
        assert job.questions(spark).count() == n1
        assert len(job.lineage_rows()) == 4


def test_bucket_commit_runs_two_jobs(spark, docs):
    """A non-giant bucket commit is exactly two Spark jobs (questions
    write, flat-spans write): the staged input and the written questions
    are read with declared schemas, and the giant-document decision
    comes from staging metrics — no inference or probe job."""
    sc = spark.sparkContext
    with tempfile.TemporaryDirectory() as td:
        job = ExtractionJob(td, n_buckets=4)
        job.run(spark, docs, max_buckets=0)  # staging only
        group = "lineage-one-commit"
        sc.setJobGroup(group, "one bucket commit")
        try:
            out = job.run(spark, docs, max_buckets=1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert out["processed"] == [0]
        assert job.lineage_rows()[0]["docs_parsed"] > 0
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2


def test_giant_doc_dispatch_from_staging_metrics(spark, monkeypatch):
    """A bucket whose staged max span count exceeds GIANT_DOC_SPANS
    commits through the chunked giant branch; staging written by older
    versions (two metrics per bucket) falls back to "auto". Both equal
    the batch whole-document parse."""
    import json
    import os

    corpus = [
        (f"gd-{i}", generate_doc_spans(5000 + i, mean_questions=4))
        for i in range(6)
    ] + [("gd-giant", generate_doc_spans(5100, mean_questions=60))]
    gdocs = spark.createDataFrame(corpus, schema=schema.DOCUMENT_SPANS_EXT)
    n_giant = len(corpus[-1][1])
    assert n_giant > 3 * max(len(s) for _, s in corpus[:-1])
    want = pipeline.extract_questions(gdocs, giant_doc_spans=None)

    routed = []
    real = pipeline._parse_giant_final

    def spy(big, *a, **k):
        routed.append(big)
        return real(big, *a, **k)

    monkeypatch.setattr(pipeline, "GIANT_DOC_SPANS", n_giant - 1)
    monkeypatch.setattr(pipeline, "GIANT_CHUNK", n_giant // 4)
    monkeypatch.setattr(pipeline, "_parse_giant_final", spy)
    with tempfile.TemporaryDirectory() as td:
        job = ExtractionJob(os.path.join(td, "new"), n_buckets=2)
        job.run(spark, gdocs)
        assert len(routed) == 1
        assert_same_rows(job.questions(spark).drop("bucket"), want)

        legacy = ExtractionJob(os.path.join(td, "legacy"), n_buckets=2)
        legacy.run(spark, gdocs, max_buckets=0)
        path = os.path.join(td, "legacy", "input_bucketed",
                            "_input_metrics.json")
        with open(path) as fh:
            metrics = json.load(fh)
        assert all(len(m) == 3 for m in metrics.values())
        with open(path, "w") as fh:
            json.dump({b: m[:2] for b, m in metrics.items()}, fh)
        legacy.run(spark, gdocs)
        assert len(routed) == 2
        assert_same_rows(legacy.questions(spark).drop("bucket"), want)


def test_curation_job_interrupt_resume_and_parity(spark):
    """r6: CurationJob — same bucket-commit contract, gate output
    equals the batch gate after an interrupted run resumes."""
    from pyspark.sql import functions as F

    from pdf_parser_python_spark.operators.curation import curation_filter
    from pdf_parser_python_spark.operators.repetition import chunked_lines
    from pdf_parser_python_spark.plans.lineage import CurationJob

    docs = spark.createDataFrame(
        [(i,
          ("the quick brown fox is in that for with and of to "
           * (2 + i % 3)) if i % 4 else "zz")
         for i in range(60)],
        "doc_id long, text string",
    )
    with tempfile.TemporaryDirectory() as td:
        job = CurationJob(td, n_buckets=4)
        out1 = job.run(spark, docs, max_buckets=2)
        assert len(out1["processed"]) == 2 and len(out1["remaining"]) == 2
        out2 = job.run(spark, docs)  # resume
        assert not out2["remaining"]
        got = {tuple(r) for r in job.verdicts(spark).collect()}
        want = {tuple(r) for r in curation_filter(
            docs, lines=chunked_lines(F.col("text"), 10)).collect()}
        assert got == want
        lin = {r["partition_id"]: r for r in job.lineage_rows()}
        assert len(lin) == 4
        assert sum(r["docs_gated"] for r in lin.values()) == 60
        assert sum(r["docs_in"] for r in lin.values()) == 60
        kept = sum(r["docs_kept"] for r in lin.values())
        assert kept == sum(1 for t in got if t[-1])
        # rerun is a no-op
        assert job.run(spark, docs)["processed"] == []


def test_dedup_job_two_phase_resume_and_parity(spark):
    """r7: DedupJob — signatures commit per bucket, the LSH candidate
    pass commits per band, interrupt either phase and resume; the
    committed pairs equal a non-resumable minhash_lsh_pairs run."""
    from pdf_parser_python_spark.operators.dedup import minhash_lsh_pairs
    from pdf_parser_python_spark.plans.lineage import DedupJob

    base = [
        (i, f"alpha beta gamma delta epsilon zeta {i} eta theta iota "
            f"kappa lam mu nu xi omicron pi rho")
        for i in range(40)
    ]
    # guaranteed near-dups: a mutated copy of every doc
    mut = [(i + 1000, t + " trailing edit") for i, t in base]
    docs = spark.createDataFrame(base + mut, "doc_id long, text string")
    kw = dict(k=32, bands=8, shingle_k=3, threshold=0.5)
    with tempfile.TemporaryDirectory() as td:
        job = DedupJob(td, n_buckets=4, **kw)

        # crash mid-phase-1: 2 of 4 signature buckets committed, no
        # band may run before every signature bucket is in
        out1 = job.run(spark, docs, max_buckets=2)
        assert len(out1["processed"]) == 2
        assert out1["bands_processed"] == []
        assert len(out1["bands_remaining"]) == 8

        # resume phase 1, crash mid-phase-2 after 3 bands
        out2 = job.run(spark, docs, max_bands=3)
        assert not out2["remaining"]
        assert len(out2["bands_processed"]) == 3
        assert len(out2["bands_remaining"]) == 5

        # resume phase 2 to completion
        out3 = job.run(spark, docs)
        assert not out3["bands_remaining"]

        got = {tuple(r) for r in job.pairs(spark).collect()}
        want = {tuple(r)
                for r in minhash_lsh_pairs(docs, **kw).collect()}
        assert got == want and len(got) >= 40

        # signatures survive the roundtrip; rerun is a no-op
        assert job.signatures(spark).count() == 80
        out4 = job.run(spark, docs)
        assert out4["processed"] == [] and out4["bands_processed"] == []

        # lineage frame is homogeneous across both phases
        lin = job.lineage(spark)
        assert lin.count() == 4 + 8
        assert set(lin.columns) >= {"partition_id", "phase", "status",
                                    "rows_emitted", "error"}
