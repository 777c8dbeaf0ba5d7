"""The three workloads, each driven through ``validr_spark``'s public
functions.  A workload object is bound to one SparkSession: ``build``
compiles the schema and builds the queries, ``execute`` plans and runs
them (the timed call), ``after`` does untimed follow-up work, ``check``
compares the result with the expected output fixed at input generation,
and ``second_path_checks`` runs the checks of a traced run: row-by-row
parity with validr's pure-Python validators and, for ``verdict``, the
generic compiler's totals.  ``warmup`` is the number of untimed executions
after the first one, while the JIT still compiles the workload's hot paths
and its executions keep getting cheaper.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

SEQ_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"
EVENT_SCHEMA = "uid int, email string, ts string"
DIM_SCHEMA = "source string, weight double"
PARITY_ROWS = 1000


def _span(spans: list, name: str, t0: float) -> float:
    t1 = time.time()
    spans.append((name, t0, t1))
    return t1


def first_file(root: str) -> str:
    for dirpath, dirnames, filenames in sorted(os.walk(root)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".parquet"):
                return os.path.join(dirpath, name)
    raise FileNotFoundError(f"no parquet file under {root}")


def _head(path: str, names: list[str]) -> pa.Table:
    """The first ``PARITY_ROWS`` rows of one parquet file, with the hive
    partition value of its directory (``source=web``) restored as a
    column."""
    batch = next(pq.ParquetFile(path).iter_batches(batch_size=PARITY_ROWS))
    t = pa.Table.from_batches([batch])
    key, eq, value = os.path.basename(os.path.dirname(path)).partition("=")
    if eq and key not in t.column_names:
        t = t.append_column(key, pa.array([value] * t.num_rows, pa.string()))
    return t.select(names)


def parity_sample(spark, schema, path: str, spark_schema: str) -> list[str]:
    """Validate the first ``PARITY_ROWS`` rows of ``path`` with the Spark
    compiler and with validr's pure-Python validators; describe each row on
    which they disagree.

    Per row: a rejected row's first violation (schema-field order) must
    carry the Python validator's position and message; an accepted row
    must have no violations and the same coerced values.
    """
    from pyspark.sql import functions as F

    from validr_spark import Invalid, SparkCompiler
    from validr_spark.pyvalidate import Compiler

    validate = Compiler().compile(schema)
    names = [c.split()[0] for c in spark_schema.split(", ")]
    head = _head(path, names)
    sample = head.to_pylist()
    df = spark.createDataFrame(head.to_pandas(), spark_schema)
    df = df.withColumn("_rid", F.monotonically_increasing_id())
    got = (SparkCompiler().compile(schema).apply(df, id_cols=["_rid"]).df
           .orderBy("_rid").collect())
    mismatches = []
    if len(got) != len(sample):
        mismatches.append(f"{len(got)} rows back for {len(sample)}")
    for value, ours in zip(sample, got):
        viols = ours["_violations"]
        try:
            expect = validate(dict(value))
        except Invalid as ex:
            if not viols or (viols[0]["position"], viols[0]["message"]) != \
                    (ex.position, ex.message):
                mismatches.append(f"{value!r}: {viols[:1]} vs "
                                  f"{ex.position} {ex.message}")
            continue
        same = all((list(ours[k]) if isinstance(v, list) else ours[k]) == v
                   for k, v in expect.items())
        if viols or not same:
            mismatches.append(f"{value!r}: {viols[:1]} vs accepted {expect!r}")
    return mismatches


class Verdict:
    """``build_report_queries`` + ``collect_report`` on the sequences
    table: row checks + broadcast referential join, token explode-agg and
    the uniqueness shuffle, run as three concurrent jobs."""

    # the next executions still cost 1.2-1.5x the CPU of the later ones
    warmup = 2

    def __init__(self, spark, entry: str, state: str, expected: dict):
        self.spark, self.expected = spark, expected
        self.path = os.path.join(entry, "data")
        self.df = spark.read.schema(SEQ_SCHEMA).parquet(self.path)
        self.dim = spark.read.schema(DIM_SCHEMA).parquet(
            os.path.join(entry, "dim"))

    def build(self, spans: list):
        from validr_spark.datagen import SOURCES, VOCAB
        from validr_spark.operators.sequences import build_report_queries

        t = time.time()
        qs = build_report_queries(self.df, self.dim, vocab=VOCAB,
                                  maxlen=8192, sources=SOURCES,
                                  max_n_tok=8192)
        _span(spans, "compile", t)
        return qs

    def execute(self, qs, spans: list):
        from validr_spark.operators.sequences import collect_report

        t = time.time()
        for name in ("agg1", "agg2", "dup"):
            qs[name]._jdf.queryExecution().executedPlan()
        t = _span(spans, "plan", t)
        report = collect_report(qs)
        _span(spans, "collect", t)
        return report

    def after(self, report) -> dict:
        return {}

    def check(self, report) -> bool:
        exp = self.expected
        return (report["per_source"] == exp["per_source"]
                and report["dup_keys"] == exp["dup_keys"]
                and report["n_keys"] == exp["n_keys"])

    def second_path_checks(self) -> list[str]:
        from validr_spark import SparkCompiler
        from validr_spark.datagen import sequences_schema

        errors = parity_sample(self.spark, sequences_schema(),
                               first_file(self.path), SEQ_SCHEMA)
        generic = (SparkCompiler().compile(sequences_schema())
                   .apply(self.df).violations().count())
        fast = sum(r["n_row_violations"] + r["n_token_violations"]
                   for r in self.expected["per_source"])
        if not generic == fast == self.expected["violations"]:
            errors.append(f"generic compiler total {generic}, verdict total "
                          f"{fast}, expected {self.expected['violations']}")
        return errors


class Resume:
    """``ResumableValidation.run`` with the full sequences schema and the
    ``validr-spark validate`` defaults, into a fresh sink and manifest per
    execution; ``after`` times the no-op resume on the same paths."""

    warmup = 1

    def __init__(self, spark, entry: str, state: str, expected: dict):
        self.spark, self.expected = spark, expected
        self.path = os.path.join(entry, "data")
        self.out = os.path.join(state, "resume")
        self.df = spark.read.schema(SEQ_SCHEMA).parquet(self.path)
        self.n = 0

    def _run(self, rv):
        return rv.run(self.spark, self.df, id_cols=["doc_id"])

    def build(self, spans: list):
        from validr_spark import SparkCompiler
        from validr_spark.datagen import sequences_schema
        from validr_spark.plans.manifest import ResumableValidation

        self.n += 1
        base = os.path.join(self.out, f"{id(self)}-{self.n}")
        t = time.time()
        rv = ResumableValidation(
            SparkCompiler().compile(sequences_schema()), part_col="source",
            manifest_path=os.path.join(base, "manifest"),
            violations_path=os.path.join(base, "violations"),
            batch_parts=64, output_partitions=64, input_path=self.path)
        _span(spans, "compile", t)
        return rv, base

    def execute(self, built, spans: list):
        rv, base = built
        t = time.time()
        report = self._run(rv)
        _span(spans, "run", t)
        return {"rv": rv, "report": report, "base": base}

    def after(self, result) -> dict:
        t = time.time()
        result["noop"] = self._run(result["rv"])
        noop_s = time.time() - t
        sink = result["rv"].violations_path
        files = [os.path.join(d, f) for d, _, fs in os.walk(sink)
                 for f in fs if f.endswith(".parquet")]
        return {"noop_resume_s": noop_s,
                "phase_seconds": result["report"]["phase_seconds"],
                "sink_files": len(files),
                "sink_bytes": sum(os.path.getsize(f) for f in files)}

    def check(self, result) -> bool:
        from pyspark.sql import functions as F

        rv, exp = result["rv"], self.expected["parts"]
        try:
            manifest = {r["part"]: r for r in
                        self.spark.read.parquet(rv.manifest_path).collect()}
            written = {r["_part"]: r["n"] for r in
                       self.spark.read.parquet(rv.violations_path)
                       .groupBy("_part").agg(F.count("*").alias("n"))
                       .collect()}
            result["rows_written"] = sum(written.values())
            return (set(manifest) == set(exp)
                    and result["noop"]["n_parts_pending"] == 0
                    and all(manifest[p]["n_rows"] == e["n_rows"]
                            and manifest[p]["n_violations"] == e["n_violations"]
                            and written.get(p, 0) == e["n_violations"]
                            and manifest[p]["verdict"] ==
                            ("fail" if e["n_violations"] else "pass")
                            for p, e in exp.items()))
        finally:
            shutil.rmtree(result["base"], ignore_errors=True)

    def second_path_checks(self) -> list[str]:
        from validr_spark.datagen import sequences_schema

        return parity_sample(self.spark, sequences_schema(),
                             first_file(self.path), SEQ_SCHEMA)


class PyUdf:
    """email and datetime checks through the pandas/Arrow UDF backend,
    violations counted per rule."""

    # the next execution still often costs ~1.4x the later ones
    warmup = 2

    def __init__(self, spark, entry: str, state: str, expected: dict):
        self.spark, self.expected = spark, expected
        self.path = os.path.join(entry, "data")
        self.df = spark.read.schema(EVENT_SCHEMA).parquet(self.path)

    @staticmethod
    def schema():
        from validr_spark import T

        return T.dict(uid=T.int.min(0), email=T.email, ts=T.datetime)

    def build(self, spans: list):
        from validr_spark import SparkCompiler

        t = time.time()
        q = (SparkCompiler().compile(self.schema())
             .apply(self.df, id_cols=["uid"]).violations()
             .groupBy("rule_id").count())
        _span(spans, "compile", t)
        return q

    def execute(self, q, spans: list):
        t = time.time()
        q._jdf.queryExecution().executedPlan()
        t = _span(spans, "plan", t)
        rows = q.collect()
        _span(spans, "collect", t)
        return {r["rule_id"]: r["count"] for r in rows}

    def after(self, counts) -> dict:
        return {}

    def check(self, counts) -> bool:
        return counts == self.expected["rules"]

    def second_path_checks(self) -> list[str]:
        return parity_sample(self.spark, self.schema(),
                             first_file(self.path), EVENT_SCHEMA)


WORKLOADS = {"verdict": Verdict, "resume": Resume, "pyudf": PyUdf}
