"""Resumable validation runs with a per-partition manifest (checkpoint).

North-rule contract: the engine "checkpoints per-partition lineage + metrics
to a manifest table so runs resume idempotently".  The reference validr has
no distribution at all (one value per call, `_validator_c.pyx:381-409`), so
this module is engine-original design, built for the 10^12-row case:

* The unit of work is a **partition** of the input (a value of `part_col` —
  ideally the table's physical partition column so partition pruning makes
  the per-batch scan read only pending data).
* A run processes pending partitions in **batches** (one Spark job per
  batch).  Each batch first **deletes the violation partition dirs of every
  part in the batch** (driver-side FS call over at most ``batch_parts``
  dirs), then appends fresh rows partitioned by `_part` — re-running a
  half-finished batch replaces exactly its own output, and a partition
  that is now CLEAN ends up with no violation files at all (dynamic
  partition-overwrite alone cannot do this: it only replaces partitions
  present in the written data, so a clean partition would keep stale rows
  from an earlier lineage).  Violation rows additionally carry
  ``_lineage`` and ``_run_id`` columns so an external consumer can filter
  to the current rule-set provenance.
* The manifest row for a partition is appended **only after** that batch's
  violations write succeeded; a killed run leaves no manifest row for
  unfinished partitions and they are re-picked next time.
* A manifest row carries the **lineage hash** — schema rules + engine
  version + part column — so changing the schema invalidates old
  checkpoints automatically (different lineage → partition is pending
  again).
* Driver memory: only distinct partition keys are ever collected
  (table-partition cardinality, thousands — never row-shaped data).

Per-partition verdict metrics cost no job of their own: each part's
``compiler.verdict_counts`` are observed on the validation projection
and filled in by the violations write's tasks.
"""

from __future__ import annotations

import hashlib
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as st

from ..compiler import ValidationResult, verdict_counts

ENGINE_VERSION = "1"

NULL_PART = "__null__"

def _hash_safe(dt: st.DataType) -> bool:
    """True if xxhash64 accepts the type: Spark prohibits MAP anywhere in
    the type (same map, different hashcode) and variant is unhashable."""
    if isinstance(dt, (st.MapType, st.VariantType)):
        return False
    if isinstance(dt, st.ArrayType):
        return _hash_safe(dt.elementType)
    if isinstance(dt, st.StructType):
        return all(_hash_safe(f.dataType) for f in dt.fields)
    return True


MANIFEST_SCHEMA = st.StructType([
    st.StructField("lineage", st.StringType()),
    st.StructField("part", st.StringType()),
    st.StructField("status", st.StringType()),
    st.StructField("run_id", st.StringType()),
    st.StructField("n_rows", st.LongType()),
    st.StructField("n_bad_rows", st.LongType()),
    st.StructField("n_violations", st.LongType()),
    st.StructField("verdict", st.StringType()),
    st.StructField("finished_at", st.DoubleType()),
])


def lineage_hash(plan, part_col: str, extra: str = "") -> str:
    """Stable identity of 'these rules over this partitioning'."""
    payload = "\x00".join([ENGINE_VERSION, plan.rule_manifest(), part_col,
                           extra])
    return hashlib.sha256(payload.encode()).hexdigest()[:32]


class ManifestStore:
    """Parquet-backed manifest table (append-only; last writer wins)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        # Hadoop-FS existence probe (any scheme) — avoids a JVM-logged
        # path-not-found stack on the very first run of a pipeline.
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return bool(fs.exists(p))

    def read(self) -> DataFrame:
        try:
            if not self._exists():
                return self.spark.createDataFrame([], MANIFEST_SCHEMA)
            return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)
        except Exception:
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)

    def done_parts(self, lineage: str) -> set[str]:
        rows = (self.read()
                .filter((F.col("lineage") == lineage)
                        & (F.col("status") == "done"))
                .select("part").distinct().collect())
        return {r["part"] for r in rows}

    def append(self, rows: list[dict]) -> None:
        if not rows:
            return
        (self.spark.createDataFrame(
            [tuple(r.get(f.name) for f in MANIFEST_SCHEMA.fields)
             for r in rows], MANIFEST_SCHEMA)
         .coalesce(1).write.mode("append").parquet(self.path))


class ResumableValidation:
    """Run a compiled ValidationPlan over a partitioned input, resumably.

    >>> run = ResumableValidation(plan, part_col="source",
    ...                           manifest_path=..., violations_path=...)
    >>> report = run.run(spark, df, id_cols=["doc_id"])

    Calling ``run`` again after a crash (or on new data with the same
    lineage) validates only partitions without a ``done`` manifest row.
    """

    def __init__(self, plan, part_col: str, manifest_path: str,
                 violations_path: str, batch_parts: int = 64,
                 extra_lineage: str = "", quarantine_path: str | None = None,
                 output_partitions: int | None = None,
                 input_path: str | None = None):
        self.plan = plan
        self.part_col = part_col
        self.manifest_path = manifest_path
        self.violations_path = violations_path
        self.quarantine_path = quarantine_path
        self.batch_parts = max(1, batch_parts)
        # cap on files per batch write (see _run_batch._shape); None keeps
        # the scan's task layout (S splits × |parts| files upper bound)
        self.output_partitions = output_partitions
        # opt-in metadata-only partition discovery: when the input's ROOT
        # path is given AND its physical layout is hive-partitioned on
        # part_col (`.../part_col=value/` dirs), partition keys come from
        # ONE driver-side directory listing instead of a full-column
        # distinct scan.  At 10^12 rows the distinct scan reads the part
        # column of every row group just to learn ~10^3 keys; the listing
        # is O(|parts|).  (An Iceberg catalog's `.partitions` metadata
        # table is the same idea; this is the plain-parquet analog.)
        # Opt-in, not auto: the caller asserts part_col really is the
        # table's physical partition column, untransformed.
        self.input_path = input_path
        self.lineage = lineage_hash(plan, part_col, extra_lineage)

    # -- helpers ---------------------------------------------------------

    def _part_key(self) -> F.Column:
        return F.coalesce(F.col(self.part_col).cast("string"),
                          F.lit(NULL_PART))

    def _parts_from_layout(self, spark: SparkSession) -> list[str] | None:
        """Partition keys from the hive-style directory names under
        ``input_path`` — a metadata-only FS listing, no data read.

        Returns None (→ caller falls back to the distinct scan) unless
        every non-hidden entry under the root is a ``part_col=value``
        directory, so a flat or differently-partitioned layout can never
        be silently half-read.  Hive ``%XX``-escapes special characters
        in value dirs and spells NULL ``__HIVE_DEFAULT_PARTITION__``;
        both are mapped back to the scan-path's key space.
        """
        import urllib.parse

        if not self.input_path:
            return None
        jvm = spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(self.input_path)
        fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(root):
            return None
        prefix = f"{self.part_col}="
        vals: set[str] = set()
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            if name.startswith(("_", ".")):
                continue          # _SUCCESS, hidden metadata
            if not (status.isDirectory() and name.startswith(prefix)):
                return None       # not (purely) partitioned on part_col
            v = urllib.parse.unquote(name[len(prefix):])
            vals.add(NULL_PART if v == "__HIVE_DEFAULT_PARTITION__" else v)
        return sorted(vals) if vals else None

    def _canon_layout_keys(self, df: DataFrame,
                           raw: list[str]) -> list[str] | None:
        """Map raw directory-name values into `_part_key()`'s key space.

        Spark's partition type inference parses dir strings into a typed
        column (``src=01`` with int inference scans as 1), and
        ``_part_key()`` stringifies THAT — so the raw dir name ``'01'``
        would never match the scan key ``'1'`` and its rows would be
        silently skipped while the manifest records done/pass.  Round-trip
        each raw value through the scan column's actual dtype
        (string→dtype→string, the same conversion the scan applies);
        collapsed duplicates ('01' and '1' → '1') are fine because the
        batch filter on the canonical key picks up both dirs' rows.
        Returns None (→ distinct-scan fallback) if any value does not
        survive the cast, which means the listing and the scan disagree
        about the column — never guess in that case.
        """
        dtype = df.schema[self.part_col].dataType.simpleString()
        if dtype == "string":
            return sorted(set(raw))
        plain = [v for v in raw if v != NULL_PART]
        keys = set(v for v in raw if v == NULL_PART)
        if plain:
            tiny = df.sparkSession.createDataFrame(
                [(v,) for v in plain], "v string")
            # try_cast: under ANSI a raw cast of an unparseable dir value
            # would throw instead of signalling "fall back" via NULL
            rows = tiny.select(
                F.col("v").try_cast(dtype).cast("string").alias("k")
            ).collect()
            for r in rows:
                if r["k"] is None:
                    return None
                keys.add(r["k"])
        return sorted(keys)

    def all_parts(self, df: DataFrame) -> list[str]:
        fast = self._parts_from_layout(df.sparkSession)
        if fast is not None:
            fast = self._canon_layout_keys(df, fast)
        if fast is not None:
            return fast
        rows = df.select(self._part_key().alias("p")).distinct().collect()
        return sorted(r["p"] for r in rows)

    # -- the run ---------------------------------------------------------

    def run(self, spark: SparkSession, df: DataFrame,
            id_cols: list[str] | None = None) -> dict:
        store = ManifestStore(spark, self.manifest_path)
        phases = {"parts_scan": 0.0, "manifest_read": 0.0,
                  "validate_write": 0.0, "manifest_commit": 0.0}
        t0 = time.time()
        all_parts = self.all_parts(df)       # ONE distinct scan per run
        phases["parts_scan"] = time.time() - t0
        t0 = time.time()
        done = store.done_parts(self.lineage)
        phases["manifest_read"] = time.time() - t0
        pending = [p for p in all_parts if p not in done]
        run_id = uuid.uuid4().hex[:12]
        batches = [pending[i:i + self.batch_parts]
                   for i in range(0, len(pending), self.batch_parts)]
        processed: list[str] = []
        for batch in batches:
            self._run_batch(spark, store, df, batch, id_cols or [], run_id,
                            phases)
            processed.extend(batch)
        return {"run_id": run_id, "lineage": self.lineage,
                "n_parts_total": len(all_parts),
                "n_parts_pending": len(pending),
                "n_parts_processed": len(processed),
                "parts": processed,
                "phase_seconds": {k: round(v, 3)
                                  for k, v in phases.items()}}

    def _delete_part_dirs(self, spark, parts: list[str],
                          root_path: str | None = None) -> None:
        """Remove the violations partition dirs of every part in `parts`.

        Driver-side Hadoop-FS surgery over at most `batch_parts` dirs.
        Needed because dynamic partition-overwrite only replaces partitions
        PRESENT in the written data — a re-validated partition with zero
        violations would otherwise keep stale rows from an older lineage
        on disk.  Dir names use Hive `%XX`-escaping of special chars,
        which `urllib.parse.unquote` reverses.
        """
        import urllib.parse

        jvm = spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(
            root_path or self.violations_path)
        fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(root):
            return
        targets = set(parts)
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            if not name.startswith("_part="):
                continue
            val = urllib.parse.unquote(name[len("_part="):])
            if val in targets:
                fs.delete(status.getPath(), True)

    def _run_batch(self, spark, store, df, parts: list[str],
                   id_cols: list[str], run_id: str,
                   phases: dict | None = None) -> None:
        phases = phases if phases is not None else {}
        keyed = df.withColumn("_part", self._part_key())
        batch_df = keyed.filter(F.col("_part").isin(parts))
        res = self.plan.apply(batch_df, id_cols=["_part", *id_cols])
        # Each part's verdict counts, computed on the validation projection
        # by the violations write's own tasks: no job of their own, and
        # Spark merges only successful task attempts, so a retried task
        # counts once.  ``batch_parts`` bounds their number.
        counters = [F.struct(*verdict_counts(F.col("_violations"),
                                             F.col("_part") == p))
                    .alias(f"p{i}") for i, p in enumerate(parts)]
        obs = Observation()
        observed = ValidationResult(res.df.observe(obs, *counters),
                                    res.id_cols)

        def _shape(out):
            # Bound the files-per-batch: without this, partitionBy from an
            # S-split scan writes up to S×|parts| files, and the DRIVER
            # commits (renames) every one of them serially — a file-count
            # serial term that grows with cluster size.  A hash
            # repartition of the (small) violations output costs one tiny
            # shuffle and caps the commit at ~output_partitions files.
            #
            # Repartitioning by _part ALONE would collapse each part's
            # rows into ONE task (≤|parts| non-empty partitions) — with a
            # handful of sources and TBs of violations that single task
            # is the straggler.  A deterministic salt with range
            # output_partitions//|parts| spreads every part over ~equal
            # task counts while keeping the total file count bounded at
            # ~output_partitions (partitionBy still writes ≥1 file per
            # part).  The salt is xxhash64 of the row's columns, NOT
            # rand(): repartition keys must be deterministic or a task
            # retry can drop/duplicate rows.
            if not self.output_partitions:
                return out
            salt_n = max(1, self.output_partitions // max(1, len(parts)))
            # Spark refuses to hash MAP columns (same map, different
            # hashcode) and variant is likewise unhashable — quarantine
            # rows carry both when the schema uses dynamic dicts or
            # unions, so salt only over the hash-safe columns.
            cols = [f.name for f in out.schema.fields
                    if _hash_safe(f.dataType)]
            if not cols:
                return out.repartition(self.output_partitions,
                                       F.col("_part"))
            salt = F.pmod(F.xxhash64(*[F.col(c) for c in cols]),
                          F.lit(salt_n))
            return out.repartition(self.output_partitions,
                                   F.col("_part"), salt)

        # 1. violations out: replace this batch's partitions exactly —
        #    delete their dirs first (so a now-clean part really has zero
        #    rows on disk), then append fresh rows tagged with provenance.
        t0 = time.time()
        self._delete_part_dirs(spark, parts)
        (_shape(observed.violations()
                .withColumn("_lineage", F.lit(self.lineage))
                .withColumn("_run_id", F.lit(run_id)))
            .write.mode("append")
            .partitionBy("_part")
            .parquet(self.violations_path))
        phases["validate_write"] = (phases.get("validate_write", 0.0)
                                    + time.time() - t0)

        # 1b. optional quarantine sink: the failing ROWS in coerced shape
        #     (repair-loop input), same delete-then-append idempotence.
        #     Timed as its own phase — on violation-heavy data the full
        #     coerced-row write dwarfs the violations write, and leaving
        #     it out of phase_seconds made the breakdown sum far below
        #     the wall clock.
        if self.quarantine_path:
            t0 = time.time()
            self._delete_part_dirs(spark, parts, self.quarantine_path)
            (_shape(res.bad_rows()
                    .withColumn("_lineage", F.lit(self.lineage))
                    .withColumn("_run_id", F.lit(run_id)))
                .write.mode("append")
                .partitionBy("_part")
                .parquet(self.quarantine_path))
            phases["quarantine_write"] = (phases.get("quarantine_write", 0.0)
                                          + time.time() - t0)

        # 2. verdict metrics: the counters the violations write filled in.
        m = obs.get
        now = time.time()
        rows = [{"lineage": self.lineage, "part": p, "status": "done",
                 "run_id": run_id, **m[f"p{i}"].asDict(), "finished_at": now}
                for i, p in enumerate(parts)]
        # 3. manifest append LAST — the commit point for this batch.
        t0 = time.time()
        store.append(rows)
        phases["manifest_commit"] = (phases.get("manifest_commit", 0.0)
                                     + time.time() - t0)
