"""The three benchmark workloads.

Each workload makes its inputs from the seed in ``prepare`` (set-up), runs
one closed-loop operation in ``run`` (the timed part: a freshly built plan,
started after the previous one finished) and checks that operation's output
against an independent reference in ``check`` (untimed). ``run`` reaches the
engine only through its public module attributes, so the traced run sees
every layer call.
"""

from __future__ import annotations

import importlib
import random
import shutil
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq

import oracle


def _parquet_rows(path: Path) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in sorted(path.glob("*.parquet")))


class SeqClean:
    """Clean token table -> per-partition verdicts (the flagship).

    Generating token arrays costs about ten times what validating them
    does, so set-up generates one block of ``block_rows`` rows and copies
    its parquet files until the table holds ``copies`` blocks. Validation
    is row-local, so a copied row costs what a fresh one does."""

    name = "seq_clean"
    item = "rows"
    block_rows = 50_000
    copies = 4
    n_rows = block_rows * copies
    warmup_iterations = 5
    min_samples = 3

    def __init__(self, spark, work: Path, seed: int, nproc: int):
        self.spark, self.seed, self.nproc = spark, seed, nproc
        self.path = work / "seq_clean"

    def prepare(self):
        from schemasaurus_spark import datagen

        df = datagen.gen_sequences(self.spark, self.block_rows, 2 * self.nproc,
                                   start=self.seed * self.block_rows)
        datagen.finalize(df).write.mode("overwrite").parquet(str(self.path))
        parts = sorted(self.path.glob("part-*.parquet"))
        for k in range(1, self.copies):
            for f in parts:
                shutil.copyfile(f, f.with_name(f"copy{k}-{f.name}"))

    def run(self, i: int, tracer):
        import bench

        # the package re-exports the function under the module's name
        validate_mod = importlib.import_module("schemasaurus_spark.validate")
        res = validate_mod.validate(self.spark.read.parquet(str(self.path)),
                                    bench.full_sequences_suite())
        with tracer.span("validate.verdicts_s"):
            return res.verdicts().collect()

    def check(self, verdicts) -> tuple[bool, int, str]:
        rows = sum(r["n_rows"] for r in verdicts)
        bad = sum(r["n_violations"] for r in verdicts)
        ok = rows == self.n_rows and bad == 0 and all(r["pass"] for r in verdicts)
        return ok, rows, f"n_rows={rows} violations={bad}"


class SeqDirty:
    """Dirty token table -> full row + aggregate validation, violations
    written to parquet, verdicts collected (the validation job's shape)."""

    name = "seq_dirty"
    item = "rows"
    n_rows = 20_000
    warmup_iterations = 1
    min_samples = 2
    n_baseline = 10_000
    edges = [1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048, 2049]
    null_max = {"doc_id": 0.01}

    def __init__(self, spark, work: Path, seed: int, nproc: int):
        self.spark, self.seed, self.nproc = spark, seed, nproc
        self.path = work / "seq_dirty"
        self.base_path = work / "seq_dirty_baseline"
        self.work = work
        self.expected: dict = {}
        self.input_rows = 0
        self.baseline_rows: list = []
        self.last_violation_rows = 0

    def prepare(self):
        from schemasaurus_spark import datagen
        from schemasaurus_spark.operators import aggregates

        start = self.seed * self.n_rows
        df = datagen.gen_sequences(self.spark, self.n_rows, self.nproc, start=start)
        for corrupt in (datagen.corrupt_null_docid, datagen.corrupt_pattern,
                        datagen.corrupt_range, datagen.corrupt_enum,
                        datagen.corrupt_size_mismatch, datagen.corrupt_items,
                        datagen.corrupt_elem_range, datagen.corrupt_intra_dup,
                        datagen.corrupt_dup_docid, datagen.corrupt_ref_source):
            df = corrupt(df)
        datagen.finalize(df).write.mode("overwrite").parquet(str(self.path))
        # the drift baseline: a clean table from the next block of row ids
        base = datagen.gen_sequences(self.spark, self.n_baseline, self.nproc,
                                     start=start + self.n_rows)
        datagen.finalize(base).write.mode("overwrite").parquet(str(self.base_path))
        self.baseline_rows = [tuple(r) for r in aggregates.histogram(
            self.spark.read.parquet(str(self.base_path)), "n_tok", self.edges,
            by="source").collect()]
        self.input_rows = _parquet_rows(self.path)
        self.expected = oracle.expected_counts(
            str(self.path), str(self.base_path), sources=datagen.SOURCES,
            vocab=datagen.VOCAB, id_regex=r"^[a-z]+-[0-9]{8}$",
            null_col="doc_id", null_by="source", null_max=self.null_max["doc_id"],
            drift_col="n_tok", edges=self.edges, psi_max=0.2, ks_max=0.15)

    def run(self, i: int, tracer):
        import bench
        from schemasaurus_spark import datagen, engine

        spark = self.spark
        checks = engine.AggregateChecks(
            unique_key="doc_id",
            sources_dim=datagen.sources_dim(spark),
            ref_column="source",
            null_rate_max=dict(self.null_max),
            null_rate_by="source",
            drift_baseline=spark.createDataFrame(
                self.baseline_rows, "group_key string, bucket int, count long"),
            drift_edges=self.edges,
            drift_column="n_tok",
        )
        with tracer.span("engine.full_validation_call_s"):
            res = engine.run_full_validation(spark.read.parquet(str(self.path)),
                                             bench.full_sequences_suite(), checks)
        out = self.work / f"seq_dirty_violations_{i}"
        with tracer.span("validate.violations_s"):
            res.violations().write.mode("overwrite").parquet(str(out))
        with tracer.span("validate.verdicts_s"):
            return out, res.verdicts().collect()

    def check(self, result) -> tuple[bool, int, str]:
        out, verdicts = result
        got = Counter(pq.read_table(str(out), columns=["constraint_id"])
                      .column("constraint_id").to_pylist())
        shutil.rmtree(out)
        written = sum(got.values())
        rows = sum(r["n_rows"] for r in verdicts if r["partition_id"] >= 0)
        flagged = sum(r["n_violations"] for r in verdicts)
        ok = (dict(got) == self.expected and rows == self.input_rows
              and flagged == written)
        detail = f"violation_rows={written} rows={rows}"
        if dict(got) != self.expected:
            diff = {k: (got.get(k, 0), self.expected.get(k, 0))
                    for k in set(got) | set(self.expected)
                    if got.get(k, 0) != self.expected.get(k, 0)}
            detail += f" mismatch(engine, duckdb)={diff}"
        self.last_violation_rows = written
        return ok, rows, detail


class Draft4:
    """The vendored draft-4 corpus through the official-suite runner.

    The corpus is dealt file by file into ``n_slices`` slices, and every
    iteration runs the first: each file contributes about an eighth of its
    tests. The slice is the same for every seed, so a run's cost does not
    depend on which tests the seed picked; the seed permutes the slice's
    order, which changes the batch composition."""

    name = "draft4"
    item = "tests"
    n_slices = 8
    warmup_iterations = 3
    min_samples = 3

    def __init__(self, spark, work: Path, seed: int, nproc: int):
        self.spark, self.seed = spark, seed
        self.corpus = Path(__file__).resolve().parents[1] / "tests/data/official_draft4"
        self.tests: list = []
        self.corpus_size = 0
        self.counts = (0, 0, 0)  # agree, disagree, skipped of the last run

    def prepare(self):
        from schemasaurus_spark import official_suite

        corpus = official_suite.load_official_suite(self.corpus)
        self.corpus_size = len(corpus)
        self.tests = corpus[::self.n_slices]
        random.Random(self.seed).shuffle(self.tests)

    def run(self, i: int, tracer):
        from schemasaurus_spark import official_suite

        with tracer.span("official_suite.run_s"):
            return official_suite.run_official_tests(self.spark, self.tests)

    def check(self, res) -> tuple[bool, int, str]:
        engine_errors = [r for _, r in res.skipped if r.startswith("engine error")]
        self.counts = (len(res.passed), len(res.failed), len(res.skipped))
        ok = (sum(self.counts) == len(self.tests) and not res.failed
              and not engine_errors)
        return ok, len(self.tests), "agree=%d disagree=%d skipped=%d" % self.counts

    def corpus_summary(self) -> str:
        return ("slice of %d/%d corpus tests: agree=%d disagree=%d skipped=%d"
                % (len(self.tests), self.corpus_size, *self.counts))


WORKLOADS = {w.name: w for w in (SeqClean, SeqDirty, Draft4)}

