"""The benchmark workloads: ``extract`` and ``curate``.

Each workload writes its seeded input once per set-up, then runs whole
iterations from the input table to every output complete, calling the
package only through its public functions. A :class:`Probe` wraps
every call into a layer: untraced it only times the call; traced
(:class:`TracedProbe`) it also records a span and attributes the SQL
executions and jobs the call ran to it.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from collections import defaultdict

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.operators import dedup
from pdf_parser_python_spark.operators.contamination import decontaminated
from pdf_parser_python_spark.operators.curation import curation_filter
from pdf_parser_python_spark.operators.mixture import mixture_plan, mixture_sample
from pdf_parser_python_spark.operators.packing import pack_sequences, pack_stats
from pdf_parser_python_spark.operators.repetition import chunked_lines
from pdf_parser_python_spark.operators.textstats import tokens
from pdf_parser_python_spark.plans import pipeline
from pdf_parser_python_spark.plans.lineage import ExtractionJob
from pdf_parser_python_spark.sources import textgen

from perfbench import inputs
from perfbench.host import nproc
from perfbench.sqlmetrics import (
    JOIN_NODES, PYTHON_NODES, Execution, SqlMetrics, job_ids,
)
from perfbench.trace import Span, Tracer

MiB = 2.0**20

PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_TO = "data sent to Python workers"
PY_FROM = "data returned from Python workers"


#: (check name, passed, detail) rows from :meth:`Workload.checks`
Check = tuple[str, bool, str]


class OperationFailed(Exception):
    """A timed call raised; the iteration loop stops on it."""


# ── probes ───────────────────────────────────────────────────────────

class Probe:
    """Counts and times every call into a layer (untraced runs)."""

    def __init__(self) -> None:
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    @contextlib.contextmanager
    def call(self, name: str):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            yield
        except Exception as exc:
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
            raise OperationFailed(name) from exc
        self.walls[name].append(time.perf_counter() - t0)

    def count(self, attempted: int, failed: int, what: str) -> None:
        """Operations counted outside a call (bucket commits)."""
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.errors.append(f"{what}: {failed} of {attempted} failed")

    def sample_cache(self) -> None:
        pass


class TracedProbe(Probe):
    """Also records a span per call and, after it, the finished SQL
    executions and jobs the call ran (read from the status stores, so
    the reading itself runs no job)."""

    def __init__(self, spark: SparkSession, tracer: Tracer) -> None:
        super().__init__()
        self.spark = spark
        self.tracer = tracer
        self.sql = SqlMetrics(spark)
        self.execs: dict[int, list[Execution]] = {}
        self.jobs: dict[int, list[int]] = {}
        self.cache_bytes = 0
        self._exec_cursor = self.sql.last_execution_id()
        self._job_cursor = max(job_ids(spark), default=-1)

    @contextlib.contextmanager
    def call(self, name: str):
        with self.tracer.span(name) as span, super().call(name):
            yield
        execs = self.sql.executions_since(self._exec_cursor)
        jobs = [j for j in job_ids(self.spark) if j > self._job_cursor]
        if execs:
            self._exec_cursor = execs[-1].id
        if jobs:
            self._job_cursor = jobs[-1]
        self.execs[span.id] = execs
        self.jobs[span.id] = jobs
        for e in execs:
            self.tracer.child(span, f"sql.{e.id}", e.start, e.end,
                              jobs=e.jobs, write=e.write_path())

    def sample_cache(self) -> None:
        self.cache_bytes = max(self.cache_bytes, self.sql.cached_bytes())

    # ── aggregation over the spans of one traced iteration ──────────

    def spans(self, prefix: str = "") -> list[Span]:
        return [s for s in self.tracer.spans
                if s.id in self.execs and s.name.startswith(prefix)]

    def executions(self, prefix: str = "") -> list[Execution]:
        return [e for s in self.spans(prefix) for e in self.execs[s.id]]

    def job_list(self, prefix: str = "") -> list[int]:
        return [j for s in self.spans(prefix) for j in self.jobs[s.id]]

    def wall(self, name: str) -> float:
        return sum(s.seconds for s in self.tracer.named(name))

    def python(self, prefix: str, nodes: tuple[str, ...], layer: str) -> dict:
        ex = self.executions(prefix)
        tasks, _ = self.sql.task_totals(
            [j for e in ex if any(n.startswith(nodes) for n, _, _ in e.nodes)
             for j in e.jobs])
        return {
            f"{layer}.py_start_s": sum(e.total(nodes, PY_START) for e in ex),
            f"{layer}.py_init_s": sum(e.total(nodes, PY_INIT) for e in ex),
            f"{layer}.py_run_s": sum(e.total(nodes, PY_RUN) for e in ex),
            f"{layer}.mb_to_py": sum(e.total(nodes, PY_TO) for e in ex) / MiB,
            f"{layer}.mb_from_py": sum(e.total(nodes, PY_FROM) for e in ex) / MiB,
            f"{layer}.tasks": tasks,
        }

    def engine(self, root: Span) -> dict:
        """Scan, exchange, cache and scheduler totals of one iteration."""
        ex = self.executions()
        jobs = self.job_list()
        tasks, busy_s = self.sql.task_totals(jobs)
        return {
            "scan.mb_read": sum(e.total(("Scan",), "size of files read") for e in ex) / MiB,
            "scan.time_s": sum(e.total(("Scan",), "scan time") for e in ex),
            "exchange.shuffle_mb": sum(e.total(("Exchange",), "shuffle bytes written")
                                       for e in ex) / MiB,
            "exchange.records": sum(e.total(("Exchange",), "shuffle records written")
                                    for e in ex),
            "cache.stored_mb": self.cache_bytes / MiB,
            "spark.jobs": len(jobs),
            "spark.tasks": tasks,
            "spark.core_busy_frac": busy_s / (nproc() * root.seconds),
        }


def digest(df: DataFrame) -> tuple[int, int, int]:
    """Order-independent digest of a frame: row count and two sums over
    a 64-bit hash of each row's JSON form (columns in name order)."""
    cols = sorted(df.columns)
    h = F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in cols])))
    mask = F.lit(0x7FFFFFFF)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.bitwiseAND(mask)).alias("lo"),
        F.sum(F.shiftright(h, 32).bitwiseAND(mask)).alias("hi"),
    ).first()
    return int(row["n"]), int(row["lo"] or 0), int(row["hi"] or 0)


def _dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


# ── workloads ────────────────────────────────────────────────────────

class Workload:
    """One benchmark workload over the inputs of one seed."""

    name = ""
    n_docs = 0

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.input_dir = os.path.join(work, "input")
        self.out_dir = os.path.join(work, "out")
        self.n_spans = 0
        self.input_bytes = 0

    def setup(self, spark: SparkSession) -> None:
        """Generate and write the seeded input (timed as set-up)."""
        raise NotImplementedError

    def describe_input(self, spark: SparkSession) -> None:
        self.input_bytes = inputs.parquet_bytes(self.input_dir)

    def docs(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.input_dir)

    def warm_docs(self, docs: DataFrame) -> DataFrame:
        """Input of the untimed warm-up iteration."""
        return docs

    def prepare(self) -> None:
        """Untimed: clear the previous iteration's outputs."""
        shutil.rmtree(self.out_dir, ignore_errors=True)
        os.makedirs(self.out_dir)

    def iterate(self, spark: SparkSession, docs: DataFrame, probe: Probe) -> None:
        raise NotImplementedError

    def finish(self, spark: SparkSession, probe: Probe) -> None:
        """Untimed: release what the iteration cached."""
        spark.catalog.clearCache()

    def checks(self, spark: SparkSession) -> list[Check]:
        raise NotImplementedError

    def report(self, wall_s: float, probe: Probe) -> dict[str, tuple[float, str]]:
        """Workload-specific end-to-end figures for the printed report."""
        return {}

    def traced_extra(self, spark: SparkSession, probe: TracedProbe) -> None:
        """Untimed extra pass of the traced run (none by default)."""

    def layers(self, spark: SparkSession, probe: TracedProbe) -> dict[str, float]:
        raise NotImplementedError


class Extract(Workload):
    """Exam-document extraction two ways over the same input: the three
    batch entry points to a noop sink (map-only), then a resumable
    bucketed job that is interrupted halfway, resumed, and read back."""

    name = "extract"
    n_docs = 2000
    n_buckets = 2
    #: documents of the fixed sample compared against the native engine:
    #: the first 100 plus the first giant
    sample = tuple(range(100)) + (inputs.GIANT_EVERY - 1,)
    entry_points = (
        ("pipeline.extract_questions", pipeline.extract_questions),
        ("pipeline.extract_flat_spans", pipeline.extract_flat_spans),
        ("pipeline.extract_validation", pipeline.extract_validation),
    )

    def setup(self, spark):
        inputs.write_exam_docs(spark, self.input_dir, self.n_docs, self.seed,
                               files=nproc())

    def describe_input(self, spark):
        super().describe_input(spark)
        self.n_spans = int(self.docs(spark).select(
            F.sum(F.size("spans"))).first()[0])

    def warm_docs(self, docs):
        # a tenth: the batch kernels' imports and code generation cost
        # the same at any size, and the cold iteration is a third cheaper
        end = inputs.exam_doc_id(inputs.exam_doc_index(self.seed, self.n_docs // 10))
        return docs.where(F.col("doc_id") < end)

    def iterate(self, spark, docs, probe):
        counts = {}
        for name, fn in self.entry_points:
            ob = Observation()
            out = fn(docs).observe(
                ob, F.count(F.lit(1)).alias("rows"),
                *([F.sum("total_questions_detected").alias("questions")]
                  if name.endswith("validation") else []),
            )
            with probe.call(name):
                out.write.format("noop").mode("overwrite").save()
            counts[name] = ob.get
        self.last_counts = counts

        job = ExtractionJob(self.out_dir, n_buckets=self.n_buckets)
        with probe.call("lineage.stage"):
            job.run(spark, docs, max_buckets=0)
        with probe.call("lineage.first_half"):
            job.run(spark, docs, max_buckets=self.n_buckets // 2)
        with probe.call("lineage.resume"):
            self.last_run = job.run(spark, docs)
        with probe.call("lineage.questions"):
            job.questions(spark).write.format("noop").mode("overwrite").save()
        self.job = job

    def finish(self, spark, probe):
        super().finish(spark, probe)
        rows = self.job.lineage_rows()
        probe.count(len(rows), sum(r["status"] != "done" for r in rows),
                    "bucket commits")
        self.files_written, self.bytes_written = _dir_usage(self.out_dir)

    def checks(self, spark):
        c = self.last_counts
        n_q = c["pipeline.extract_questions"]["rows"]
        v_q = c["pipeline.extract_validation"]["questions"]
        ids = [inputs.exam_doc_id(inputs.exam_doc_index(self.seed, i))
               for i in self.sample]
        sample = self.docs(spark).where(F.col("doc_id").isin(ids))
        cols = [f.name for f in schema.QUESTION_FINAL.fields]
        batch = digest(pipeline.extract_questions(sample).select(*cols))
        native = digest(pipeline.extract_questions(sample, engine="native").select(*cols))
        lineage = digest(self.job.questions(spark).where(F.col("doc_id").isin(ids))
                         .select(*cols))
        done = self.job.done_buckets()
        return [
            ("validation totals equal questions rows", n_q == v_q, f"{v_q} vs {n_q}"),
            ("extract_questions equals native engine on sample", batch == native,
             f"{batch} vs {native}"),
            ("every bucket has a done row", done == set(range(self.n_buckets)),
             f"done {sorted(done)}"),
            ("nothing remains after resume", self.last_run["remaining"] == [],
             f"remaining {self.last_run['remaining']}"),
            ("lineage questions() equal batch extract_questions on sample",
             lineage == batch, f"{lineage} vs {batch}"),
        ]

    def report(self, wall_s, probe):
        resume = sorted(probe.walls["lineage.resume"])
        return {
            "spans_per_s": (self.n_spans / wall_s, "spans/s"),
            "resume_s": (resume[len(resume) // 2], "s"),
            "write_amp": (self.bytes_written / self.input_bytes, "bytes/byte"),
        }

    def layers(self, spark, probe):
        out = {f"{n}_s": probe.wall(n) for n, _ in self.entry_points}
        out.update(probe.python("pipeline.", ("MapInArrow",), "vkernel"))
        kinds = {"pipeline.parse_raw_s": "raw_questions",
                 "finalize.finalize_questions_s": "questions",
                 "flatten.flat_spans_s": "flat_spans"}
        ex = probe.executions("lineage.")
        out.update({
            k: sum(e.seconds for e in ex
                   if os.path.basename(os.path.dirname(e.write_path())) == d)
            for k, d in kinds.items()
        })
        py = probe.python("lineage.", ("MapInPandas",), "dkernel")
        out.update({k: py[k] for k in
                    ("dkernel.py_init_s", "dkernel.py_run_s", "dkernel.mb_to_py")})
        commit_jobs = (len(probe.job_list("lineage.first_half"))
                       + len(probe.job_list("lineage.resume")))
        out.update({
            "lineage.stage_s": probe.wall("lineage.stage"),
            "lineage.first_half_s": probe.wall("lineage.first_half"),
            "lineage.resume_s": probe.wall("lineage.resume"),
            "lineage.jobs_per_bucket": commit_jobs / self.n_buckets,
            "lineage.files_written": self.files_written,
            "lineage.mb_written": self.bytes_written / MiB,
            "lineage.write_amp": self.bytes_written / self.input_bytes,
        })
        return out


class Curate(Workload):
    """Shuffle-heavy curation: the composed training-data chain, then
    near-dup cluster assignment and SimHash near-dup pairs."""

    name = "curate"
    n_docs = 4000
    seq_len = 2048
    #: mixture weights of bench._e2e_phase (sources s8..s15 unplanned)
    weights = {f"s{i}": float(1 + (i % 3)) for i in range(8)}

    def setup(self, spark):
        self.slices = inputs.write_curate_docs(
            spark, self.input_dir, self.n_docs, self.seed, files=nproc())

    def _prompts(self, docs):
        return docs.where(F.col("doc_id") % 500 == 0).select(
            F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 12)).alias("text"))

    def _kept(self, docs):
        return curation_filter(
            docs, engine="arrow", line_width=10, min_quality=0,
            langs=("en", "und"), passthrough=("text",),
        ).where("keep").select("doc_id", "text")

    def _deduped(self, clean):
        return dedup.paragraph_dedup(
            clean, paragraphs=chunked_lines(F.col("text"), 15)
        ).where(F.col("n_kept") > 0).select(
            "doc_id", F.col("text_deduped").alias("text"))

    def _mixed(self, deduped):
        src = deduped.withColumn(
            "source", F.concat(F.lit("s"), (F.col("doc_id") % 16).cast("string")))
        # bench._e2e_phase's ratio: 10 target tokens per input document
        return mixture_sample(src, mixture_plan(src, self.weights, 10 * self.n_docs))

    def _rollup(self, mixed):
        packed = pack_sequences(
            mixed.select((F.col("doc_id") * 128 + F.col("epoch")).alias("doc_id"),
                         "text"),
            seq_len=self.seq_len)
        return pack_stats(packed, seq_len=self.seq_len).agg(
            F.count("*").alias("n_packs"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("n_docs").alias("n_docs"),
        ).first()

    def iterate(self, spark, docs, probe):
        with probe.call("curate.chain"):
            clean = decontaminated(self._kept(docs), self._prompts(docs))
            self.rollup = self._rollup(self._mixed(self._deduped(clean)))
        probe.sample_cache()
        with probe.call("dedup.minhash_dedup_clusters"):
            dedup.minhash_dedup_clusters(docs).write.parquet(
                os.path.join(self.out_dir, "labels"))
        with probe.call("dedup.simhash_near_dups"):
            dedup.simhash_near_dups(docs, vectorized=True).write.parquet(
                os.path.join(self.out_dir, "pairs"))

    def traced_extra(self, spark, probe):
        """The minhash signature kernel alone, then the chain again stage
        by stage: each operator's output is persisted and counted inside
        that operator's span, so the span holds that operator's own work
        on materialized input."""
        docs = self.docs(spark)
        staged = []

        def stage(name, df):
            with probe.call(name):
                df = df.persist()
                staged.append(df.count())
            return df

        with probe.call("dedup.minhash_signatures"):
            dedup.minhash_signatures(docs).write.format("noop").mode("overwrite").save()
        with probe.call("curate.breakdown"):
            kept = stage("curation.curation_filter", self._kept(docs))
            clean = stage("contamination.decontaminated",
                          decontaminated(kept, self._prompts(docs)))
            deduped = stage("dedup.paragraph_dedup", self._deduped(clean))
            mixed = stage("mixture.mixture_sample", self._mixed(deduped))
            with probe.call("packing.pack_sequences"):
                self._rollup(mixed)
        self.kept = staged[0]
        spark.catalog.clearCache()

    def _labels(self, spark):
        return spark.read.parquet(os.path.join(self.out_dir, "labels"))

    def _pairs(self, spark):
        return spark.read.parquet(os.path.join(self.out_dir, "pairs"))

    def planted_recall(self, spark) -> float:
        start, count = self.slices[1]
        size = textgen.SMALL_SIZE
        first = textgen.SMALL_START + (
            (F.col("doc_id") - textgen.SMALL_START) / size).cast("long") * size
        hit = self._labels(spark).where(
            F.col("doc_id").between(start, start + count - 1)
            & (F.col("cluster_rep") == first)
        ).count()
        return hit / count

    def checks(self, spark):
        r = self.rollup
        self.recall = self.planted_recall(spark)
        bad_pairs = self._pairs(spark).where(
            (F.col("doc_a") >= F.col("doc_b")) | (F.col("hamming") > 3)).count()
        return [
            ("pack rollup is non-empty", bool(r["n_packs"]) and bool(r["tokens"]),
             f"{r['n_packs']} packs, {r['tokens']} tokens"),
            ("planted clusters found", self.recall > 0, f"recall {self.recall}"),
            ("simhash pairs ordered and within hamming 3", bad_pairs == 0,
             f"{bad_pairs} bad pairs"),
        ]

    def report(self, wall_s, probe):
        return {"planted_recall": (self.recall, "ratio")}

    def layers(self, spark, probe):
        out = {f"{n}_s": probe.wall(n) for n in (
            "curation.curation_filter", "contamination.decontaminated",
            "dedup.paragraph_dedup", "mixture.mixture_sample",
            "packing.pack_sequences", "dedup.minhash_dedup_clusters",
            "dedup.simhash_near_dups")}
        # inside minhash_dedup_clusters and simhash_near_dups the signature
        # kernels run under a local checkpoint, whose plan metrics Spark
        # never updates; the extra pass runs minhash_signatures on its own
        sig = probe.executions("dedup.minhash_signatures")
        simhash = probe.executions("dedup.simhash_near_dups")
        candidates = sum(e.total(JOIN_NODES, "number of output rows", "Inner")
                         for e in simhash)
        pairs = self._pairs(spark).count()
        out.update({
            "curation.kept_frac": self.kept / self.n_docs,
            "dedup.sig_mb_to_py": sum(e.total(PYTHON_NODES, PY_TO) for e in sig) / MiB,
            "dedup.clusters": self._labels(spark).select("cluster_rep").distinct().count(),
            "dedup.simhash_pairs": pairs,
            "dedup.verified_per_candidate": pairs / candidates if candidates else 0.0,
            "dedup.planted_recall": self.recall,
        })
        return out


WORKLOADS = {w.name: w for w in (Extract, Curate)}
