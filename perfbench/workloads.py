"""The benchmark workloads, each driven through the library's public
functions.

A workload has four parts:

* ``make_inputs(root, seed)``: pure-Python input generation (set-up);
* ``prepare(spark)``: session-side set-up (reference answers);
* ``run(spark, state, tracer)``: the measured call chain, writing only
  under the fresh ``state`` directory, returning what the check needs;
* ``check(result, state)``: the correctness check, a list of errors.

``layers(spark, state, tracer, result)`` runs after a traced run and
returns the per-layer metrics that the spans alone do not give.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import time
from dataclasses import dataclass

import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs
from probes import SparkProcs, Tracer

from textpipe_spark.io import TableIO
from textpipe_spark.kernel import doc as kdoc
from textpipe_spark.lineage import LineageLog, drop_reason_histogram, run_partitioned
from textpipe_spark.pipeline import PipelineConfig, build, salted_repartition
from textpipe_spark.queries import QUERIES, SQL_JACCARD_PAIRS

TRACE_GROUP = "trace/"
STEPS = PipelineConfig().steps
PAIR_QUERIES = ["jaccard_pairs", "fingerprint_overlap", "minhash_lsh_pairs", "simhash_dedup"]

# rows per workload at each size; "tiny" is for the benchmark's own tests.
# backfill is sized so the regex cascade is a measured share of the run
# next to the fixed per-partition cost of the lineage loop, and salted into
# 8 buckets, not the default 64, which would split each partition into
# tasks of about 8 rows (README, "What backfill's figures are made of")
SIZES = {
    "full": {"backfill": 6000, "pair_mining": 400},
    "tiny": {"backfill": 200, "pair_mining": 200},
}
SAMPLE_ROWS = 40  # kernel-checked sink rows per backfill run
BACKFILL_CFG = PipelineConfig(salt_buckets=8)
LAYER_PARTITIONS = 2  # partitions of the backfill warm-up and layer replays


def _read(path: str, columns: list[str]):
    """Spark-written parquet directory read with pyarrow, no partition
    discovery (the sink keeps part_id as a data column too)."""
    return pq.read_table(path, columns=columns, partitioning=None)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rows_digest(rows) -> str:
    return hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()


class Workload:
    name = ""
    procs: SparkProcs  # the session's processes, set once it has started
    warm_runs = 1  # untimed passes before measuring

    def __init__(self, size: str):
        self.n = SIZES[size][self.name]
        self.input_rows = 0
        self.input_bytes = 0

    def prepare(self, spark) -> None:
        pass

    def warm(self, spark, state: str) -> None:
        """Untimed first pass (codegen, JIT, Python workers); it also fixes
        the reference answers later runs are compared with."""
        result = self.run(spark, state, Tracer("warm", enabled=False))
        errors = self.check(result, state)
        if errors:
            raise RuntimeError(f"warm-up run failed its check: {errors}")


# --------------------------------------------------------------- backfill


@dataclass
class _TracedTable(TableIO):
    """TableIO whose calls are spans. The source role also opens one job
    group per partition, so the event log splits jobs by partition."""

    tracer: Tracer | None = None
    starts: dict | None = None  # source role: part_id -> first read time

    def read_partition(self, spark, part_id):
        role = "sink" if self.starts is None else "source"
        if role == "source":
            spark.sparkContext.setJobGroup(f"{TRACE_GROUP}part-{part_id}", "partition")
            self.starts[part_id] = time.monotonic()
        with self.tracer.span(f"io.read_partition.{role}", part=part_id):
            return super().read_partition(spark, part_id)

    def overwrite_partition(self, df, part_id):
        with self.tracer.span("io.overwrite_partition", part=part_id):
            super().overwrite_partition(df, part_id)


class _TracedLineage(LineageLog):
    """LineageLog whose calls are spans; an append closes its partition's
    span, opened by the traced source's read_partition."""

    def __init__(self, root: str, tracer: Tracer, starts: dict):
        super().__init__(root)
        self.tracer = tracer
        self.starts = starts

    def completed_partitions(self, spark, config_sha):
        with self.tracer.span("lineage.completed_partitions"):
            return super().completed_partitions(spark, config_sha)

    def append(self, spark, row):
        part = row["part_id"]
        with self.tracer.span("lineage.append", part=part):
            super().append(spark, row)
        self.tracer.record("lineage.partition", self.starts[part], time.monotonic(), part=part)


class Backfill(Workload):
    """lineage.run_partitioned over a 16-partition corpus into a fresh
    TableIO sink and a fresh LineageLog: the paper's production job."""

    name = "backfill"

    def make_inputs(self, root: str, seed: int) -> None:
        self.rows = inputs.corpus_rows(self.n, seed)
        self.corpus = os.path.join(root, "corpus")
        inputs.write_corpus(self.corpus, self.rows)
        self.input_rows = len(self.rows)
        self.input_bytes = inputs.dir_bytes(self.corpus)[1]
        self.partitions = sorted({r[5] for r in self.rows})
        rng = random.Random(seed)
        self.sample = {
            (r[0], r[1]): kdoc.process(r[4], BACKFILL_CFG.rules)
            for r in rng.sample(self.rows, min(SAMPLE_ROWS, len(self.rows)))
        }

    def run(self, spark, state: str, tracer: Tracer) -> dict:
        sink_root, log_root = os.path.join(state, "sink"), os.path.join(state, "lineage")
        if tracer.enabled:
            starts = {}
            source = _TracedTable(self.corpus, tracer=tracer, starts=starts)
            sink = _TracedTable(sink_root, tracer=tracer)
            log = _TracedLineage(log_root, tracer, starts)
        else:
            source = TableIO(self.corpus)
            sink = TableIO(sink_root)
            log = LineageLog(log_root)
        with tracer.span("lineage.run_partitioned"):
            return run_partitioned(spark, source, sink, log, BACKFILL_CFG, parallelism=1)

    def warm(self, spark, state: str) -> None:
        # a few partitions compile and warm the per-partition path; a full
        # cold pass costs twice a warm one and would not fit the run budget
        run_partitioned(
            spark,
            TableIO(self.corpus),
            TableIO(os.path.join(state, "sink")),
            LineageLog(os.path.join(state, "lineage")),
            BACKFILL_CFG,
            partitions=self.partitions[:LAYER_PARTITIONS],
        )

    def corrupt(self, state: str, result: dict) -> None:
        """Delete the largest sink data file, so the check must fail."""
        files = [
            os.path.join(d, f)
            for d, _, names in os.walk(os.path.join(state, "sink"))
            for f in names
            if f.endswith(".parquet")
        ]
        os.remove(max(files, key=os.path.getsize))

    def check(self, summary: dict, state: str) -> list[str]:
        errors = []
        lineage = _read(os.path.join(state, "lineage"), ["files_in", "files_out"])
        files_in = pc.sum(lineage["files_in"]).as_py()
        files_out = pc.sum(lineage["files_out"]).as_py()
        sink = _read(
            os.path.join(state, "sink"),
            ["repo", "path", "keep", "drop_reason", "scrubbed_sha256"],
        )
        kept = pc.sum(pc.cast(sink["keep"], "int64")).as_py()
        if files_in != self.input_rows:
            errors.append(f"lineage files_in {files_in} != corpus rows {self.input_rows}")
        if files_out != kept:
            errors.append(f"lineage files_out {files_out} != written keep {kept}")
        if summary["processed"] != len(self.partitions):
            errors.append(f"processed {summary['processed']} != {len(self.partitions)}")
        got = {(r["repo"], r["path"]): r for r in sink.to_pylist()}
        for key, want in self.sample.items():
            row = got.get(key)
            fields = ("scrubbed_sha256", "keep", "drop_reason")
            if row is None or any(row[f] != want[f] for f in fields):
                errors.append(f"sink row {key} differs from kernel/doc.py")
        return errors

    def layers(self, spark, state: str, tracer: Tracer, summary: dict) -> dict:
        cfg = BACKFILL_CFG
        parts = sorted(tracer.durations("lineage.partition"))
        files, written = inputs.dir_bytes(os.path.join(state, "sink"))
        m = {
            "lineage.partition_s.p50": statistics.median(parts),
            # nearest rank: with 16 partitions, the slowest one
            "lineage.partition_s.p95": parts[-(-len(parts) * 95 // 100) - 1],
            "lineage.append_s": statistics.median(tracer.durations("lineage.append")),
            "lineage.completed_partitions_s": tracer.total("lineage.completed_partitions"),
            "io.files_written": files,
            "io.bytes_written_per_input_byte": written / self.input_bytes,
        }
        # the frame run_partitioned writes for a partition, rebuilt call by
        # call for a few partitions: build(), write minus noop, histogram
        source = TableIO(self.corpus)
        scratch = TableIO(os.path.join(state, "io_scratch"))
        for part in self.partitions[:LAYER_PARTITIONS]:
            df = salted_repartition(source.read_partition(spark, part), cfg)
            with tracer.span("pipeline.build", part=part):
                labeled = build(df, cfg).drop("clean", cfg.raw_col)
            with tracer.span("io.noop_write", part=part):
                _noop(labeled)
            with tracer.span("io.parquet_write", part=part):
                scratch.overwrite_partition(labeled, part)
            with tracer.span("lineage.drop_reason_histogram", part=part):
                drop_reason_histogram(scratch.read_partition(spark, part).select("drop_reason"))
        write = zip(tracer.durations("io.parquet_write"), tracer.durations("io.noop_write"))
        m.update({
            "pipeline.build_s": statistics.median(tracer.durations("pipeline.build")),
            "io.write_s": statistics.median(w - n for w, n in write),
            "lineage.histogram_s": statistics.median(
                tracer.durations("lineage.drop_reason_histogram")
            ),
        })
        m.update(step_cpu(spark, self.corpus, tracer, self.procs))
        return m


def step_cpu(spark, corpus: str, tracer: Tracer, procs: SparkProcs) -> dict:
    """CPU-s of each flagship step: one noop write of build() over the
    whole corpus per growing step prefix, differenced. A step costs a few
    CPU-s here, so host noise can still turn one reading negative; their
    sum (the cascade) is steadier."""
    df = spark.read.parquet(corpus).drop("part_id")
    cpu = []
    for i in range(len(STEPS) + 1):
        out = build(df, PipelineConfig(steps=STEPS[:i]))
        with tracer.span("pipeline.step_prefix", steps=i):
            c0 = sum(procs.cpu_seconds())
            _noop(out)
            cpu.append(sum(procs.cpu_seconds()) - c0)
    return {
        f"pipeline.step_cpu_s.{step}": cpu[i + 1] - cpu[i] for i, step in enumerate(STEPS)
    }


# ------------------------------------------------------------ pair_mining


class PairMining(Workload):
    """The four declared pair-mining queries over a documents table below
    PAIR_PREFIX_MIN_ROWS: exhaustive pair cores with the 1%-sample
    pre-gate. Read-only; no pipeline.build."""

    name = "pair_mining"
    # the JIT is still settling for several passes (the pass after the
    # first costs about 35% more CPU-s than the steady state); two untimed
    # passes take the steepest part, and the measured passes always sit at
    # the same place on the curve, so one seed compares with the next
    warm_runs = 2

    def make_inputs(self, root: str, seed: int) -> None:
        rows = inputs.corpus_rows(self.n, seed)
        self.sf_dir = os.path.join(root, "sf")
        self.documents = inputs.write_documents(self.sf_dir, rows)
        self.input_rows = self.documents.num_rows
        self.input_bytes = inputs.dir_bytes(self.sf_dir)[1]
        self.first_digests = None

    def prepare(self, spark) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            con.register("documents", self.documents)
            self.jaccard_ref = _rows_digest(con.execute(SQL_JACCARD_PAIRS).fetchall())
        finally:
            con.close()

    def run(self, spark, state: str, tracer: Tracer) -> dict:
        out = {}
        for q in PAIR_QUERIES:
            c0 = sum(self.procs.cpu_seconds()) if tracer.enabled else 0.0
            with tracer.span("queries.build", query=q):
                df = QUERIES[q](spark, self.sf_dir)
            with tracer.span("queries.exec", query=q):
                rows = df.collect()
            out[q] = {"rows": rows}
            if tracer.enabled:
                out[q]["cpu_s"] = sum(self.procs.cpu_seconds()) - c0
        return out

    def corrupt(self, state: str, result: dict) -> None:
        result["jaccard_pairs"]["rows"] = result["jaccard_pairs"]["rows"][1:]

    def check(self, result: dict, state: str) -> list[str]:
        errors = []
        digests = {q: _rows_digest(r["rows"]) for q, r in result.items()}
        if digests["jaccard_pairs"] != self.jaccard_ref:
            errors.append("jaccard_pairs differs from SQL_JACCARD_PAIRS in DuckDB")
        if self.first_digests is None:
            self.first_digests = digests
        for q, d in digests.items():
            if d != self.first_digests[q]:
                errors.append(f"{q} rows differ from the first run")
        return errors

    def layers(self, spark, state: str, tracer: Tracer, result: dict) -> dict:
        m = {
            f"queries.{kind}_s.{s['query']}": s["end"] - s["start"]
            for s in tracer.spans
            for kind in ("build", "exec")
            if s["name"] == f"queries.{kind}"
        }
        for q in PAIR_QUERIES:
            m[f"queries.cpu_s.{q}"] = result[q]["cpu_s"]
            m[f"queries.pairs_out.{q}"] = len(result[q]["rows"])
        return m


WORKLOADS = {w.name: w for w in (Backfill, PairMining)}
