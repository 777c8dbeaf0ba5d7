"""Resumable manifest runs, sources layer, streaming validation, CLI."""

import json
import os

import pytest
from pyspark.sql import functions as F

from validr_spark import T
from validr_spark.compiler import SparkCompiler
from validr_spark.plans import ManifestStore, ResumableValidation
from validr_spark.sources import TableSource, read_table, write_table


def seq_schema():
    return T.dict(
        doc_id=T.str.minlen(1),
        n_tok=T.int.min(1).max(100),
        source=T.enum("a b c"),
    )


@pytest.fixture()
def seq_df(spark):
    rows = []
    for i in range(300):
        src = "abc"[i % 3]
        n_tok = 999 if i % 50 == 0 else (i % 90) + 1   # 2 bad per source
        rows.append((f"{src}-{i:04d}", n_tok, src))
    return spark.createDataFrame(rows, "doc_id string, n_tok int, source string")


def test_resumable_run_and_skip(spark, seq_df, tmp_path):
    plan = SparkCompiler().compile(seq_schema())
    rv = ResumableValidation(plan, part_col="source",
                             manifest_path=str(tmp_path / "manifest"),
                             violations_path=str(tmp_path / "violations"),
                             batch_parts=2)
    rep1 = rv.run(spark, seq_df, id_cols=["doc_id"])
    assert rep1["n_parts_processed"] == 3

    # violations landed partitioned by _part, 2 bad rows per source
    v = spark.read.parquet(str(tmp_path / "violations"))
    assert v.count() == 6
    assert set(v.select("_part").distinct().toPandas()["_part"]) == {"a", "b", "c"}

    # manifest has one done row per part with correct metrics
    man = ManifestStore(spark, str(tmp_path / "manifest")).read().collect()
    by_part = {r["part"]: r for r in man}
    assert set(by_part) == {"a", "b", "c"}
    assert all(r["status"] == "done" and r["verdict"] == "fail"
               and r["n_rows"] == 100 and r["n_violations"] == 2
               and r["n_bad_rows"] == 2 for r in man)

    # second run: everything checkpointed → nothing to do
    rep2 = rv.run(spark, seq_df, id_cols=["doc_id"])
    assert rep2["n_parts_processed"] == 0
    # and the violations output was not duplicated
    assert spark.read.parquet(str(tmp_path / "violations")).count() == 6


def test_pre_provenance_violation_files_do_not_false_pass(
        spark, seq_df, tmp_path):
    """A violations sink holding files written before provenance tagging
    (no _lineage/_run_id columns) must neither crash the run nor —
    worse — turn into n_violations=0/verdict=pass for partitions that
    really had violations."""
    vio = str(tmp_path / "violations")
    legacy = (spark.createDataFrame(
        [("legacy-1", "n_tok.max", "999")],
        "doc_id string, rule_id string, value string")
        .withColumn("_part", F.lit("z")))
    legacy.write.partitionBy("_part").parquet(vio)

    plan = SparkCompiler().compile(seq_schema())
    rv = ResumableValidation(plan, part_col="source",
                             manifest_path=str(tmp_path / "m"),
                             violations_path=vio, batch_parts=8)
    rv.run(spark, seq_df, id_cols=["doc_id"])
    by = {r["part"]: r for r in
          ManifestStore(spark, str(tmp_path / "m")).read().collect()}
    assert set(by) == {"a", "b", "c"}
    assert all(by[p]["n_violations"] == 2 and by[p]["verdict"] == "fail"
               for p in "abc")


def test_resume_picks_up_new_partition_only(spark, seq_df, tmp_path):
    plan = SparkCompiler().compile(
        T.dict(doc_id=T.str.minlen(1), n_tok=T.int.min(1).max(100),
               source=T.enum("a b c d")))
    rv = ResumableValidation(plan, part_col="source",
                             manifest_path=str(tmp_path / "m"),
                             violations_path=str(tmp_path / "v"))
    rv.run(spark, seq_df, id_cols=["doc_id"])
    grown = seq_df.union(spark.createDataFrame(
        [("d-0001", 5, "d"), ("d-0002", 0, "d")],
        seq_df.schema))
    rep = rv.run(spark, grown, id_cols=["doc_id"])
    assert rep["parts"] == ["d"]
    man = {r["part"]: r for r in
           ManifestStore(spark, str(tmp_path / "m")).read().collect()}
    assert man["d"]["n_rows"] == 2 and man["d"]["n_violations"] == 1


def test_lineage_change_invalidates_checkpoints(spark, seq_df, tmp_path):
    kw = dict(part_col="source", manifest_path=str(tmp_path / "m"),
              violations_path=str(tmp_path / "v"))
    plan1 = SparkCompiler().compile(seq_schema())
    rv1 = ResumableValidation(plan1, **kw)
    rv1.run(spark, seq_df, id_cols=["doc_id"])

    tighter = T.dict(doc_id=T.str.minlen(1), n_tok=T.int.min(1).max(50),
                     source=T.enum("a b c"))
    rv2 = ResumableValidation(SparkCompiler().compile(tighter), **kw)
    assert rv2.lineage != rv1.lineage
    rep = rv2.run(spark, seq_df, id_cols=["doc_id"])
    assert rep["n_parts_processed"] == 3      # all redone under new lineage


def test_relaxed_lineage_clears_stale_violations(spark, seq_df, tmp_path):
    """A re-validated partition that is now CLEAN must not keep stale
    violation rows on disk nor report verdict=fail from them (the old
    dynamic-overwrite path never touched partitions with zero new rows)."""
    kw = dict(part_col="source", manifest_path=str(tmp_path / "m"),
              violations_path=str(tmp_path / "v"))
    strict = SparkCompiler().compile(seq_schema())          # max=100 → fails
    ResumableValidation(strict, **kw).run(spark, seq_df, id_cols=["doc_id"])
    assert spark.read.parquet(str(tmp_path / "v")).count() == 6

    relaxed = SparkCompiler().compile(
        T.dict(doc_id=T.str.minlen(1), n_tok=T.int.min(1).max(1000),
               source=T.enum("a b c")))
    rv2 = ResumableValidation(relaxed, **kw)
    rv2.run(spark, seq_df, id_cols=["doc_id"])

    man = ManifestStore(spark, str(tmp_path / "m")).read() \
        .filter(F.col("lineage") == rv2.lineage).collect()
    assert len(man) == 3
    assert all(r["verdict"] == "pass" and r["n_violations"] == 0
               for r in man)
    # stale rows physically gone, not merely filtered
    try:
        n_left = spark.read.parquet(str(tmp_path / "v")).count()
    except Exception:
        n_left = 0          # whole sink dir empty
    assert n_left == 0


def test_crash_retry_same_batch_no_duplicates(spark, seq_df, tmp_path):
    """Re-running a batch whose manifest append never landed (crash between
    violations write and manifest commit) must replace, not duplicate,
    that batch's violation rows."""
    kw = dict(part_col="source", manifest_path=str(tmp_path / "m"),
              violations_path=str(tmp_path / "v"))
    plan = SparkCompiler().compile(seq_schema())
    rv = ResumableValidation(plan, **kw)

    # simulate the crash: run the batch body directly, skip manifest append
    class NoCommit:
        def append(self, rows):
            pass
    rv._run_batch(spark, NoCommit(), seq_df, ["a", "b", "c"],
                  ["doc_id"], run_id="crashed")
    assert spark.read.parquet(str(tmp_path / "v")).count() == 6

    rep = rv.run(spark, seq_df, id_cols=["doc_id"])   # retry commits
    assert rep["n_parts_processed"] == 3
    v = spark.read.parquet(str(tmp_path / "v"))
    assert v.count() == 6                              # replaced, not 12
    assert v.select("_run_id").distinct().count() == 1


def test_zero_violation_run(spark, tmp_path):
    df = spark.createDataFrame([("x-1", 5, "a"), ("x-2", 6, "b")],
                               "doc_id string, n_tok int, source string")
    plan = SparkCompiler().compile(seq_schema())
    rv = ResumableValidation(plan, part_col="source",
                             manifest_path=str(tmp_path / "m"),
                             violations_path=str(tmp_path / "v"))
    rv.run(spark, df, id_cols=["doc_id"])
    man = ManifestStore(spark, str(tmp_path / "m")).read().collect()
    assert all(r["verdict"] == "pass" and r["n_violations"] == 0
               for r in man)


def test_output_partitions_bounds_files_and_spreads_parts(
        spark, tmp_path, request):
    # violations-heavy input: 3 sources × 100 all-bad rows — with
    # output_partitions=12 the salt (range 12//3=4) must spread each
    # part's rows over multiple write tasks (files) instead of
    # collapsing every part into one, while the total file count stays
    # bounded at ~output_partitions.
    rows = [(f"{s}-{i:04d}", 999, s) for s in "abc" for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int, source string")
    plan = SparkCompiler().compile(seq_schema())
    rv = ResumableValidation(plan, part_col="source",
                             manifest_path=str(tmp_path / "m"),
                             violations_path=str(tmp_path / "v"),
                             output_partitions=12)
    rv.run(spark, df, id_cols=["doc_id"])
    v = spark.read.parquet(str(tmp_path / "v"))
    assert v.count() == 300
    import glob
    per_part = {s: glob.glob(str(tmp_path / "v" / f"_part={s}" / "*.parquet"))
                for s in "abc"}
    total = sum(len(f) for f in per_part.values())
    assert total <= 12
    # parallel, not collapsed: ≥2 files for every part (100 rows across
    # 4 deterministic xxhash salts — all landing in one salt is ~4^-99)
    assert all(len(f) >= 2 for f in per_part.values())
    # determinism of the salted layout: a lineage-forked rerun over the
    # same rows writes the identical per-part file counts
    rv2 = ResumableValidation(plan, part_col="source",
                              manifest_path=str(tmp_path / "m2"),
                              violations_path=str(tmp_path / "v2"),
                              output_partitions=12)
    rv2.run(spark, df, id_cols=["doc_id"])
    per_part2 = {s: glob.glob(str(tmp_path / "v2" / f"_part={s}"
                                  / "*.parquet")) for s in "abc"}
    assert {s: len(f) for s, f in per_part.items()} == \
        {s: len(f) for s, f in per_part2.items()}


def test_null_partition_key(spark, tmp_path):
    df = spark.createDataFrame([("x-1", 5, None), ("x-2", 200, "a")],
                               "doc_id string, n_tok int, source string")
    plan = SparkCompiler().compile(seq_schema())
    rv = ResumableValidation(plan, part_col="source",
                             manifest_path=str(tmp_path / "m"),
                             violations_path=str(tmp_path / "v"))
    rep = rv.run(spark, df, id_cols=["doc_id"])
    assert "__null__" in rep["parts"]
    man = {r["part"]: r for r in
           ManifestStore(spark, str(tmp_path / "m")).read().collect()}
    # null source row: enum violation counts under the __null__ part
    assert man["__null__"]["verdict"] == "fail"


# --- sources ----------------------------------------------------------------

def test_read_table_projection_predicate(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    write_table(df, p, mode="overwrite")
    out = read_table(spark, p, columns=["id"], predicate="id < 10")
    assert out.columns == ["id"] and out.count() == 10
    # projection+filter reach the scan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), LessThan(id,10)]" in plan


def test_read_table_auto_relative_parquet_path(spark):
    """fmt='auto' must read a relative dotted path like 'data.parquet' as
    parquet, not route it to the catalog as a db.table identifier."""
    import shutil

    from validr_spark.sources.tables import _looks_like_catalog_ident

    # extension allowlist: parquet-looking names are never catalog idents
    assert not _looks_like_catalog_ident(spark, "data.parquet")
    assert not _looks_like_catalog_ident(spark, "out.pq")
    # dotted, non-existent, no data extension → catalog identifier
    assert _looks_like_catalog_ident(spark, "mydb.mytable")
    assert not _looks_like_catalog_ident(spark, "plain")     # undotted

    # end-to-end: relative path in the process cwd (== JVM cwd)
    rel = "vs_test_tmp.pq"
    try:
        spark.range(5).write.mode("overwrite").parquet(rel)
        assert read_table(spark, rel).count() == 5
        # existence probe: a dotted dir that exists is NOT a catalog ident
        rel2 = "vs_test.tmpdir"
        spark.range(3).write.mode("overwrite").parquet(rel2)
        assert not _looks_like_catalog_ident(spark, rel2)
        assert read_table(spark, rel2).count() == 3
    finally:
        shutil.rmtree(rel, ignore_errors=True)
        shutil.rmtree("vs_test.tmpdir", ignore_errors=True)


def test_table_source_partitioned_write(spark, tmp_path):
    p = str(tmp_path / "pt")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    write_table(df, p, mode="overwrite", partition_by=["s"])
    src = TableSource(p, partition_col="s")
    assert src.load(spark).count() == 2


# --- streaming ----------------------------------------------------------------

def test_stream_violations_availablenow(spark, tmp_path):
    from validr_spark.streaming import stream_violations

    # file stream over a small parquet dir: deterministic, no timing games
    data = str(tmp_path / "in")
    rows = [(f"d-{i}", 999 if i % 10 == 0 else 5, "a") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int, source string")
    df.write.parquet(data)

    sdf = spark.readStream.schema(df.schema).parquet(data)
    viol = stream_violations(SparkCompiler().compile(seq_schema()), sdf,
                             id_cols=["doc_id"])
    assert viol.isStreaming
    q = (viol.writeStream.format("memory").queryName("viol_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM viol_test").collect()
    assert len(got) == 5
    assert all(r["rule_id"] == "n_tok.max" for r in got)


def test_stream_violations_pandas_udf_availablenow(spark, tmp_path):
    """An email field puts a pandas UDF behind the view's projection
    barrier; streaming must accept that barrier (it rejects
    monotonically_increasing_id) and return the batch rows."""
    from validr_spark.streaming import stream_violations

    data = str(tmp_path / "in_email")
    rows = [(f"d-{i}", "no-at-sign" if i % 10 == 0 else f"u{i}@example.com")
            for i in range(50)] + [("d-null", None)]
    df = spark.createDataFrame(rows, "doc_id string, email string")
    df.write.parquet(data)

    plan = SparkCompiler().compile(T.dict(email=T.email))
    sdf = spark.readStream.schema(df.schema).parquet(data)
    viol = stream_violations(plan, sdf, id_cols=["doc_id"])
    q = (viol.writeStream.format("memory").queryName("viol_email_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert q.exception() is None
    got = sorted(spark.sql("SELECT * FROM viol_email_test").collect())
    want = sorted(plan.apply(spark.read.parquet(data), id_cols=["doc_id"])
                  .violations().collect())
    assert len(got) == 6
    assert got == want
    assert {r["rule_id"] for r in got} == {"email.email", "email.required"}


def test_windowed_verdicts_stream(spark, tmp_path):
    from validr_spark.streaming import windowed_verdicts

    data = str(tmp_path / "in2")
    base = "2026-01-01 00:{m:02d}:00"
    rows = []
    for m in range(10):
        for i in range(6):
            bad = (m < 5 and i == 0)    # first 5 minutes each have 1 bad row
            rows.append((f"d-{m}-{i}", 999 if bad else 5, "a",
                         base.format(m=m)))
    df = spark.createDataFrame(
        rows, "doc_id string, n_tok int, source string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(data)

    sdf = spark.readStream.schema(
        "doc_id string, n_tok int, source string, ts timestamp").parquet(data)
    verd = windowed_verdicts(SparkCompiler().compile(seq_schema()), sdf,
                             ts_col="ts", window="5 minutes",
                             watermark="1 minute", partition_col="source")
    q = (verd.writeStream.format("memory").queryName("verd_test")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["window"]["start"].minute, r["verdict"]): r
           for r in spark.sql("SELECT * FROM verd_test").collect()}
    assert (0, "fail") in got and (5, "pass") in got
    assert got[(0, "fail")]["n_rows"] == 30
    assert got[(0, "fail")]["n_violations"] == 5


# --- cli ----------------------------------------------------------------------

def test_cli_validate_and_resume(spark, seq_df, tmp_path, capsys):
    from validr_spark.cli import main

    inp = str(tmp_path / "input")
    seq_df.write.parquet(inp)
    schema_file = str(tmp_path / "schema.json")
    with open(schema_file, "w") as f:
        json.dump({"$self": "dict", "doc_id": "str.minlen(1)",
                   "n_tok": "int.min(1).max(100)",
                   "source": "enum('a b c')"}, f)
    argv = ["validate", "--input", inp, "--schema", schema_file,
            "--part-col", "source", "--violations", str(tmp_path / "v"),
            "--manifest", str(tmp_path / "m"), "--id-cols", "doc_id"]
    assert main(argv) == 0
    rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep1["n_parts_processed"] == 3
    assert main(argv) == 0                      # resume: nothing pending
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["n_parts_processed"] == 0

    assert main(["manifest", "--manifest", str(tmp_path / "m")]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 3 and all(json.loads(x)["status"] == "done"
                                   for x in lines)


def test_cli_fresh_is_resumable(spark, seq_df, tmp_path, capsys):
    """--fresh forks the lineage deterministically: retrying the same fresh
    command resumes instead of restarting every partition."""
    from validr_spark.cli import main

    inp = str(tmp_path / "input")
    seq_df.write.parquet(inp)
    schema_file = str(tmp_path / "schema.json")
    with open(schema_file, "w") as f:
        json.dump({"$self": "dict", "doc_id": "str.minlen(1)",
                   "n_tok": "int.min(1).max(100)",
                   "source": "enum('a b c')"}, f)
    argv = ["validate", "--input", inp, "--schema", schema_file,
            "--part-col", "source", "--violations", str(tmp_path / "v"),
            "--manifest", str(tmp_path / "m"), "--id-cols", "doc_id"]
    assert main(argv) == 0
    capsys.readouterr()

    # fresh run with an explicit token redoes everything once…
    assert main(argv + ["--fresh", "retry-1"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_parts_processed"] == 3
    # …and the SAME fresh command resumes (0 pending), unlike a random
    # per-invocation lineage.
    assert main(argv + ["--fresh", "retry-1"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_parts_processed"] == 0
    # bare --fresh (no token) is also deterministic within the same day
    assert main(argv + ["--fresh"]) == 0
    capsys.readouterr()
    assert main(argv + ["--fresh"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_parts_processed"] == 0


def test_running_verdicts_stateful(spark, tmp_path):
    """applyInPandasWithState cumulative per-key verdicts: counters carry
    across micro-batches, verdict flips once the cumulative bad-row rate
    crosses the threshold."""
    from validr_spark.streaming import running_verdicts

    data = str(tmp_path / "in3")
    # batch 1 (file 1): a=10 rows 1 bad; b=10 rows clean
    rows1 = [(f"a-{i}", 999 if i == 0 else 5, "a") for i in range(10)] + \
            [(f"b-{i}", 5, "b") for i in range(10)]
    # batch 2 (file 2): a=10 rows 4 bad → cumulative a: 5/20 = 0.25 > 0.2
    rows2 = [(f"a2-{i}", 999 if i < 4 else 5, "a") for i in range(10)]
    df1 = spark.createDataFrame(rows1, "doc_id string, n_tok int, source string")
    df2 = spark.createDataFrame(rows2, "doc_id string, n_tok int, source string")
    df1.coalesce(1).write.parquet(data)
    df2.coalesce(1).write.mode("append").parquet(data)

    sdf = (spark.readStream.schema(df1.schema)
           .option("maxFilesPerTrigger", 1).parquet(data))
    verd = running_verdicts(SparkCompiler().compile(seq_schema()),
                            sdf, key_col="source", fail_rate=0.2)
    q = (verd.writeStream.format("memory").queryName("runverd")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(180)
    out = spark.sql("SELECT * FROM runverd").collect()

    # last emitted row per key reflects CUMULATIVE counts
    last = {}
    for r in out:
        last[r["key"]] = r
    a, b = last["a"], last["b"]
    assert a["n_rows"] == 20 and a["n_bad_rows"] == 5
    assert a["verdict"] == "fail" and abs(a["violation_rate"] - 0.25) < 1e-9
    assert b["n_rows"] == 10 and b["verdict"] == "pass"
    # key 'a' appeared in both batches → ≥2 update rows prove state carry
    assert sum(1 for r in out if r["key"] == "a") >= 2


def test_streaming_sessions_match_batch(spark, tmp_path):
    """session_window gap sessions agree with the batch sessionize on the
    same bounded input: same (user, n_events) multiset, same session
    starts; streaming end = last_event + gap by construction."""
    import datetime as dt

    from pyspark.sql import functions as F

    from validr_spark.operators.temporal import session_stats
    from validr_spark.streaming import streaming_sessions

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    for u in range(5):
        # two bursts per user, 2h apart; burst length varies by user
        for burst, start in ((0, 0), (1, 120)):
            for i in range(2 + u):
                rows.append((u, t0 + dt.timedelta(minutes=start + i * 5),
                             float(u + i)))
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    data = str(tmp_path / "sess_in")
    df.coalesce(1).write.parquet(data)
    # append-mode sessions flush only when the watermark passes their end:
    # a far-future sentinel event in a second micro-batch closes them all
    sentinel = spark.createDataFrame(
        [(999, t0 + dt.timedelta(days=1), 0.0)], df.schema)
    sentinel.coalesce(1).write.mode("append").parquet(data)

    sdf = (spark.readStream.schema(df.schema)
           .option("maxFilesPerTrigger", 1).parquet(data))
    sess = streaming_sessions(sdf, gap="30 minutes", watermark="0 seconds",
                              extra_aggs=[F.sum("value").alias("total_value")])
    assert sess.isStreaming
    q = (sess.writeStream.format("memory").queryName("sess_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = [r for r in spark.sql("SELECT * FROM sess_test").collect()
           if r.user_id != 999]

    batch = session_stats(df, gap_seconds=1800).collect()
    assert len(got) == len(batch) == 10
    s_stream = sorted((r.user_id, r.n_events, r.start_ts) for r in got)
    s_batch = sorted((r.user_id, r.n_events, r.start_ts) for r in batch)
    assert s_stream == s_batch
    # streaming end extends gap past the last event
    g = {(r.user_id, r.start_ts): r for r in got}
    b = {(r.user_id, r.start_ts): r for r in batch}
    for k in b:
        assert g[k].end_ts == b[k].end_ts + dt.timedelta(minutes=30)
    # extra agg rode along in the same state store
    assert all(r.total_value is not None for r in got)


def test_bad_rows_quarantine_view(spark, seq_df):
    plan = SparkCompiler().compile(seq_schema())
    res = plan.apply(seq_df.withColumn("_id", F.col("doc_id")),
                     id_cols=["_id"])
    bad = res.bad_rows()
    rows = bad.collect()
    assert len(rows) == 6                       # 2 bad per source
    assert all(r["n_violations"] == 1 for r in rows)
    # coerced shape: schema columns present, violations array dropped
    assert set(bad.columns) == {"_id", "doc_id", "n_tok", "source",
                                "n_violations"}
    # clean + bad partition the input
    assert res.clean().count() + len(rows) == 300


def test_resumable_quarantine_sink(spark, seq_df, tmp_path):
    plan = SparkCompiler().compile(seq_schema())
    q = str(tmp_path / "quarantine")
    rv = ResumableValidation(plan, part_col="source",
                             manifest_path=str(tmp_path / "manifest"),
                             violations_path=str(tmp_path / "violations"),
                             quarantine_path=q, batch_parts=2)
    rv.run(spark, seq_df, id_cols=["doc_id"])
    bad = spark.read.parquet(q)
    assert bad.count() == 6
    assert set(bad.select("_part").distinct().toPandas()["_part"]) \
        == {"a", "b", "c"}
    assert set(bad.columns) >= {"doc_id", "n_tok", "source",
                                "n_violations", "_lineage", "_run_id",
                                "_part"}
    # idempotent redo under a new lineage: stale quarantine rows replaced
    relaxed = T.dict(doc_id=T.str.minlen(1),
                     n_tok=T.int.min(1).max(2000),
                     source=T.enum("a b c"))
    rv2 = ResumableValidation(SparkCompiler().compile(relaxed),
                              part_col="source",
                              manifest_path=str(tmp_path / "manifest"),
                              violations_path=str(tmp_path / "violations"),
                              quarantine_path=q, batch_parts=2)
    rv2.run(spark, seq_df, id_cols=["doc_id"])
    try:
        n_left = spark.read.parquet(q).count()
    except Exception:
        n_left = 0          # whole sink dir empty (no part files at all)
    assert n_left == 0      # all rows now pass


def test_output_partitions_with_map_quarantine(spark, tmp_path):
    # the salted output_partitions repartition must skip unhashable
    # columns: a dynamic-dict field coerces to map<string,string> in the
    # quarantine rows, and Spark refuses xxhash64 over MAP
    rows = [(f"a-{i}", {"k": str(i)}, 500, "a") for i in range(10)]
    df = spark.createDataFrame(
        rows, "doc_id string, attrs map<string,string>, n_tok int, "
              "source string")
    schema = T.dict(doc_id=T.str.minlen(1),
                    attrs=T.dict.key(T.str).value(T.str),
                    n_tok=T.int.min(1).max(100),
                    source=T.enum("a b c"))
    plan = SparkCompiler().compile(schema)
    rv = ResumableValidation(plan, part_col="source",
                             manifest_path=str(tmp_path / "m"),
                             violations_path=str(tmp_path / "v"),
                             quarantine_path=str(tmp_path / "q"),
                             output_partitions=8)
    rv.run(spark, df, id_cols=["doc_id"])
    assert spark.read.parquet(str(tmp_path / "v")).count() == 10
    bad = spark.read.parquet(str(tmp_path / "q"))
    assert bad.count() == 10
    assert dict(bad.dtypes)["attrs"] == "map<string,string>"


def test_windowed_violation_rates_stream(spark, tmp_path):
    """Wilson-bounded per-window bad-row rates: the interval must cover
    the observed rate and be wide on tiny windows (the no-false-page
    property), matching the batch wilson_bounds algebra exactly."""
    import math

    from validr_spark.streaming import windowed_violation_rates

    data = str(tmp_path / "in_rates")
    base = "2026-01-01 00:{m:02d}:00"
    rows = []
    for m in (0, 5):
        n = 40 if m == 0 else 3              # big window, then tiny window
        bad_every = 4 if m == 0 else 3
        for i in range(n):
            rows.append((f"d-{m}-{i}",
                         999 if i % bad_every == 0 else 5, "a",
                         base.format(m=m)))
    df = spark.createDataFrame(
        rows, "doc_id string, n_tok int, source string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(data)

    sdf = spark.readStream.schema(
        "doc_id string, n_tok int, source string, ts timestamp").parquet(data)
    rates = windowed_violation_rates(
        SparkCompiler().compile(seq_schema()), sdf, ts_col="ts",
        window="5 minutes", watermark="1 minute")
    q = (rates.writeStream.format("memory").queryName("rate_test")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["window"]["start"].minute: r
           for r in spark.sql("SELECT * FROM rate_test").collect()}

    def ref_wilson(k, n, z=1.959964):
        p = k / n
        z2 = z * z
        d = 1 + z2 / n
        c = (p + z2 / (2 * n)) / d
        h = z * math.sqrt(p * (1 - p) / n + z2 / (4 * n * n)) / d
        return max(0.0, c - h), min(1.0, c + h)

    big = got[0]
    assert big["n_rows"] == 40 and big["n_bad_rows"] == 10
    assert big["bad_rate"] == 0.25
    lo, hi = ref_wilson(10, 40)
    assert big["rate_lo"] == round(lo, 6) and big["rate_hi"] == round(hi, 6)

    tiny = got[5]
    assert tiny["n_rows"] == 3 and tiny["n_bad_rows"] == 1
    # 1-of-3 bad: same point rate ballpark, but the lo bound collapses —
    # an "rate_lo > SLO" alert cannot fire off a 3-row window
    assert tiny["rate_lo"] < 0.07 < big["rate_lo"]


def test_testing_helpers_assert_plan(spark):
    import pytest
    from validr_spark.testing import (assert_no_python, assert_no_shuffle,
                                      assert_plan, count_exchanges)
    mapside = spark.range(100).selectExpr("id * 2 AS x").filter("x > 10")
    assert_no_shuffle(mapside)
    assert_no_python(mapside)
    grouped = spark.range(100).groupBy((F.col("id") % 3).alias("g")).count()
    assert count_exchanges(grouped) >= 1
    with pytest.raises(AssertionError, match="forbidden"):
        assert_plan(grouped, absent=["Exchange"])
    with pytest.raises(AssertionError, match="expected"):
        assert_plan(mapside, contains=["SortMergeJoin"])
    # a pandas-UDF plan is caught by assert_no_python
    from validr_spark.operators.encoding import is_nfc
    udfy = spark.createDataFrame([("é",)], "t string").select(is_nfc("t"))
    with pytest.raises(AssertionError):
        assert_no_python(udfy)


def test_assert_no_python_catches_grouped_agg_pandas_udf(spark):
    # review finding: ArrowAggregatePython was missing from the deny-list
    import pandas as pd
    import pytest
    from pyspark.sql.functions import pandas_udf
    from validr_spark.testing import assert_no_python

    @pandas_udf("double")
    def mean_udf(v: pd.Series) -> float:
        return float(v.mean())

    df = (spark.range(100)
          .groupBy((F.col("id") % 3).alias("g"))
          .agg(mean_udf(F.col("id").cast("double"))))
    with pytest.raises(AssertionError):
        assert_no_python(df)


# -- metadata-only partition discovery (hive layout fast path) ------------

def test_parts_from_layout_hive_dirs(spark, seq_df, tmp_path):
    """input_path + hive layout → partition keys come from the directory
    listing (incl. %XX-escaped and NULL dirs), and the run over the
    re-read table matches the scan-path run exactly."""
    inp = str(tmp_path / "seq_parted")
    weird = seq_df.withColumn(
        "source", F.when(F.col("source") == "c", F.lit("a b/c=%"))
                   .otherwise(F.col("source")))
    weird.write.partitionBy("source").parquet(inp)
    df = spark.read.parquet(inp)

    plan = SparkCompiler().compile(T.dict(
        doc_id=T.str.minlen(1), n_tok=T.int.min(1).max(100),
        source=T.str))
    rv = ResumableValidation(plan, part_col="source",
                             manifest_path=str(tmp_path / "manifest"),
                             violations_path=str(tmp_path / "violations"),
                             input_path=inp)
    # the fast path sees the escaped dir name and unescapes it
    assert rv._parts_from_layout(spark) == ["a", "a b/c=%", "b"]
    assert rv.all_parts(df) == ["a", "a b/c=%", "b"]

    rep = rv.run(spark, df, id_cols=["doc_id"])
    assert rep["n_parts_processed"] == 3
    man = ManifestStore(spark, str(tmp_path / "manifest")).read().collect()
    assert {r["part"] for r in man} == {"a", "a b/c=%", "b"}
    assert all(r["n_rows"] == 100 for r in man)


def test_parts_from_layout_falls_back(spark, seq_df, tmp_path):
    """Flat layout (no part dirs) or wrong part column → None, and
    all_parts falls back to the distinct scan."""
    flat = str(tmp_path / "seq_flat")
    seq_df.write.parquet(flat)
    plan = SparkCompiler().compile(seq_schema())
    rv = ResumableValidation(plan, part_col="source",
                             manifest_path=str(tmp_path / "m"),
                             violations_path=str(tmp_path / "v"),
                             input_path=flat)
    assert rv._parts_from_layout(spark) is None
    assert rv.all_parts(spark.read.parquet(flat)) == ["a", "b", "c"]

    # partitioned on a DIFFERENT column than part_col → also fall back
    other = str(tmp_path / "seq_other")
    seq_df.write.partitionBy("doc_id").parquet(other)
    rv2 = ResumableValidation(plan, part_col="source",
                              manifest_path=str(tmp_path / "m2"),
                              violations_path=str(tmp_path / "v2"),
                              input_path=other)
    assert rv2._parts_from_layout(spark) is None

    # no input_path at all (default) → scan path, unchanged behavior
    rv3 = ResumableValidation(plan, part_col="source",
                              manifest_path=str(tmp_path / "m3"),
                              violations_path=str(tmp_path / "v3"))
    assert rv3._parts_from_layout(spark) is None


def test_parts_from_layout_null_partition(spark, tmp_path):
    """NULL part values: hive spells them __HIVE_DEFAULT_PARTITION__ on
    disk; the fast path maps them to the scan path's __null__ key."""
    df = spark.createDataFrame(
        [("d1", 5, "a"), ("d2", 6, None), ("d3", 7, "a")],
        "doc_id string, n_tok int, source string")
    inp = str(tmp_path / "withnull")
    df.write.partitionBy("source").parquet(inp)
    plan = SparkCompiler().compile(T.dict(
        doc_id=T.str.minlen(1), n_tok=T.int.min(1).max(100),
        source=T.str.optional))
    rv = ResumableValidation(plan, part_col="source",
                             manifest_path=str(tmp_path / "m"),
                             violations_path=str(tmp_path / "v"),
                             input_path=inp)
    fast = rv._parts_from_layout(spark)
    scan = (ResumableValidation(plan, part_col="source",
                                manifest_path=str(tmp_path / "m4"),
                                violations_path=str(tmp_path / "v4"))
            .all_parts(spark.read.parquet(inp)))
    assert fast == scan == ["__null__", "a"]


def test_parts_from_layout_typed_inference(spark, tmp_path):
    """Dir names live in STRING space but the scan's partition column is
    type-inferred: src=01 and src=1 both scan as int 1, so the raw dir
    values '01'/'1' would never match the scan key '1' — their rows would
    be silently skipped while the manifest recorded done/pass with 0
    rows.  all_parts must round-trip the listing through the scan
    column's dtype (review finding, round 3)."""
    inp = str(tmp_path / "typed")
    one = spark.createDataFrame([("d1", 5)], "doc_id string, n_tok int")
    one.write.parquet(inp + "/src=01")
    spark.createDataFrame([("d2", 6)], "doc_id string, n_tok int") \
        .write.parquet(inp + "/src=1")
    df = spark.read.parquet(inp)
    assert df.schema["src"].dataType.simpleString() in ("int", "bigint")

    plan = SparkCompiler().compile(T.dict(
        doc_id=T.str.minlen(1), n_tok=T.int.min(1).max(100)))
    rv = ResumableValidation(plan, part_col="src",
                             manifest_path=str(tmp_path / "m"),
                             violations_path=str(tmp_path / "v"),
                             input_path=inp)
    # raw listing is in dir-name space; all_parts canonicalizes
    assert rv._parts_from_layout(spark) == ["01", "1"]
    assert rv.all_parts(df) == ["1"]
    rep = rv.run(spark, df, id_cols=["doc_id"])
    assert rep["n_parts_processed"] == 1
    man = ManifestStore(spark, str(tmp_path / "m")).read().collect()
    assert len(man) == 1 and man[0]["n_rows"] == 2   # BOTH dirs' rows

    # a dir value the column dtype cannot parse -> never guess: fall
    # back to the distinct scan's key space
    typed = df.withColumn("src", F.col("src").cast("int"))
    rv2 = ResumableValidation(plan, part_col="src",
                              manifest_path=str(tmp_path / "m2"),
                              violations_path=str(tmp_path / "v2"),
                              input_path=str(tmp_path / "badtyped"))
    os.makedirs(str(tmp_path / "badtyped" / "src=abc"))
    one.write.parquet(str(tmp_path / "badtyped" / "src=abc" / "x"))
    # listing sees 'abc'; cast to int nulls it -> canon returns None
    assert rv2._canon_layout_keys(typed, ["abc", "1"]) is None


# ------------------------------------- manifest counters on the write scan

def _verdict_rows(plan, df, part_col, id_cols=()):
    """Per-part (n_rows, n_violations, n_bad_rows, verdict) from
    ``verdicts()`` over the same keyed input a manifest run validates."""
    keyed = df.withColumn("_part", F.col(part_col).cast("string"))
    res = plan.apply(keyed, id_cols=["_part", *id_cols])
    return {r["_part"]: (r["n_rows"], r["n_violations"], r["n_bad_rows"],
                         r["verdict"])
            for r in res.verdicts("_part").collect()}


def _manifest_rows(spark, path):
    return {r["part"]: (r["n_rows"], r["n_violations"], r["n_bad_rows"],
                        r["verdict"])
            for r in ManifestStore(spark, path).read().collect()}


@pytest.mark.parametrize("output_partitions", [None, 8])
def test_manifest_counters_run_no_job_of_their_own(
        spark, tmp_path, monkeypatch, output_partitions):
    """The manifest rows come from counters observed by the violations
    write itself: no Spark job runs between that write returning and the
    manifest append, and the rows equal ``verdicts()``."""
    from pyspark.sql.readwriter import DataFrameWriter

    rows = [(None if i % 37 == 0 else f"d{i % 450}",
             999 if i % 11 == 0 else (i % 90) + 1, "pqrst"[i % 5])
            for i in range(500)]
    df = spark.createDataFrame(
        rows, "doc_id string, n_tok int, source string").repartition(5)
    plan = SparkCompiler().compile(
        T.dict(doc_id=T.str, n_tok=T.int.min(1).max(100), source=T.str))
    vio = str(tmp_path / "v")
    sc = spark.sparkContext
    group = f"manifest-counters-{output_partitions}"
    n_jobs = {}

    def jobs():
        return len(sc.statusTracker().getJobIdsForGroup(group))

    parquet = DataFrameWriter.parquet

    def spy_parquet(self, path, *a, **kw):
        parquet(self, path, *a, **kw)
        if path == vio:
            n_jobs["write_returned"] = jobs()

    append = ManifestStore.append

    def spy_append(self, rows):
        n_jobs["append"] = jobs()
        append(self, rows)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy_parquet)
    monkeypatch.setattr(ManifestStore, "append", spy_append)
    rv = ResumableValidation(plan, part_col="source",
                             manifest_path=str(tmp_path / "m"),
                             violations_path=vio,
                             output_partitions=output_partitions)
    sc.setJobGroup(group, group)
    try:
        rep = rv.run(spark, df, id_cols=["doc_id"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n_jobs["write_returned"] > 0
    assert n_jobs["append"] == n_jobs["write_returned"]
    assert "metrics" not in rep["phase_seconds"]
    monkeypatch.undo()
    assert _manifest_rows(spark, str(tmp_path / "m")) == \
        _verdict_rows(plan, df, "source", ["doc_id"])
    want_v = sum(v[1] for v in _verdict_rows(plan, df, "source").values())
    assert spark.read.parquet(vio).count() == want_v


def test_manifest_counters_batch_of_64_parts(spark, tmp_path):
    """A full batch of 64 parts carries 3 × 64 counters on one write."""
    rows = [(f"s{p:02d}-{i}", 999 if (p + i) % 4 == 0 else 5, f"s{p:02d}")
            for p in range(64) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int, source string")
    plan = SparkCompiler().compile(
        T.dict(doc_id=T.str, n_tok=T.int.min(1).max(100), source=T.str))
    rv = ResumableValidation(plan, part_col="source",
                             manifest_path=str(tmp_path / "m"),
                             violations_path=str(tmp_path / "v"),
                             batch_parts=64)
    rep = rv.run(spark, df, id_cols=["doc_id"])
    assert rep["n_parts_processed"] == 64
    got = _manifest_rows(spark, str(tmp_path / "m"))
    assert len(got) == 64
    assert got == _verdict_rows(plan, df, "source", ["doc_id"])


def test_manifest_counters_empty_partition_dir(spark, tmp_path):
    """A batch whose part has a directory but no rows reads nothing; its
    counters still arrive and record an empty, passing part."""
    data = str(tmp_path / "in")
    spark.createDataFrame([("a-1", 5, "a"), ("b-1", 999, "b")],
                          "doc_id string, n_tok int, source string") \
        .write.partitionBy("source").parquet(data)
    os.makedirs(os.path.join(data, "source=z"))
    plan = SparkCompiler().compile(
        T.dict(doc_id=T.str, n_tok=T.int.min(1).max(100)))
    rv = ResumableValidation(plan, part_col="source",
                             manifest_path=str(tmp_path / "m"),
                             violations_path=str(tmp_path / "v"),
                             batch_parts=1, input_path=data)
    rep = rv.run(spark, spark.read.parquet(data), id_cols=["doc_id"])
    assert rep["parts"] == ["a", "b", "z"]
    assert _manifest_rows(spark, str(tmp_path / "m")) == {
        "a": (1, 0, 0, "pass"), "b": (1, 1, 1, "fail"),
        "z": (0, 0, 0, "pass")}


def test_four_verdict_tallies_agree(spark, tmp_path):
    """``verdicts``, ``windowed_verdicts`` over one all-covering window,
    the manifest rows and the sequences report's ``agg1`` count the same
    rows, violations and bad rows per part on one input."""
    from validr_spark.operators.sequences import (build_report_queries,
                                                  rowlevel_schema)
    from validr_spark.streaming import windowed_verdicts

    rows = [(f"d{i}", None if i % 13 == 0 else [i % 7] * (1 + i % 6),
             99 if i % 11 == 0 else 1 + i % 6, "abqr"[i % 4])
            for i in range(120)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    plan = SparkCompiler().compile(rowlevel_schema(8, 4, ["a", "b"]))
    want = _verdict_rows(plan, df, "source", ["doc_id"])
    assert {p: v[3] for p, v in want.items()} == {
        "a": "fail", "b": "fail", "q": "fail", "r": "fail"}

    stamped = df.withColumn("ts", F.lit("2026-01-01").cast("timestamp")) \
        .withColumn("_part", F.col("source"))
    windowed = windowed_verdicts(plan, stamped, "ts", window="1 day",
                                 partition_col="_part")
    assert {r["_part"]: (r["n_rows"], r["n_violations"], r["n_bad_rows"],
                         r["verdict"])
            for r in windowed.collect()} == want

    ResumableValidation(plan, part_col="source",
                        manifest_path=str(tmp_path / "m"),
                        violations_path=str(tmp_path / "v")) \
        .run(spark, df, id_cols=["doc_id"])
    assert _manifest_rows(spark, str(tmp_path / "m")) == want

    dim = spark.createDataFrame([("a",), ("b",)], "source string")
    agg1 = build_report_queries(df, dim, vocab=8, maxlen=4,
                                sources=["a", "b"])["agg1"]
    assert {r["_src_raw"]: (r["n_rows"], r["n_row_violations"],
                            r["n_bad_rows"])
            for r in agg1.collect()} == \
        {p: v[:3] for p, v in want.items()}


_RETRY_CHILD = '''
import json
import sys

from pyspark import TaskContext
from pyspark.sql import SparkSession

from validr_spark import Invalid, SparkCompiler, T, validator
from validr_spark.plans import ResumableValidation


@validator(accept=str, output=str)
def flaky(compiler):
    def validate(value):
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            raise RuntimeError("injected first-attempt failure")
        if int(value) % 7 == 0:
            raise Invalid("multiple of 7")
        return value
    return validate


spark = (SparkSession.builder.master("local[2,2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
spark.sparkContext.setLogLevel("OFF")
sc = spark.sparkContext
tmp = sys.argv[1]
df = spark.createDataFrame(
    [(i, str(i), i, "abcd"[i % 4]) for i in range(400)],
    "id long, v string, w long, source string")
plan = SparkCompiler(py_validators={"flaky": flaky}).compile(
    T.dict(v=T.flaky, w=T.int.max(300)))
out = {}
for op in (None, 8):
    tag = f"op{op}"
    sc.setJobGroup(tag, tag)
    ResumableValidation(plan, part_col="source",
                        manifest_path=f"{tmp}/{tag}/m",
                        violations_path=f"{tmp}/{tag}/v",
                        output_partitions=op).run(spark, df, id_cols=["id"])
    st = sc.statusTracker()
    stages = [st.getStageInfo(s) for j in st.getJobIdsForGroup(tag)
              for s in st.getJobInfo(j).stageIds]
    out[tag] = {
        "failed_tasks": sum(s.numFailedTasks for s in stages if s),
        "manifest": [r.asDict() for r in spark.read.parquet(f"{tmp}/{tag}/m")
                     .select("part", "n_rows", "n_violations", "n_bad_rows")
                     .collect()],
        "sink": [[r["id"], r["rule_id"]] for r in
                 spark.read.parquet(f"{tmp}/{tag}/v").collect()]}
print(json.dumps(out))
spark.stop()
'''


@pytest.mark.slow
def test_manifest_counters_exactly_once_under_task_retry(tmp_path):
    """A validation task that fails its first attempt and succeeds on
    retry is counted once, whether the counters sit in the result stage
    (``output_partitions=None``) or in the shuffle-map stage below the
    write's repartition (``8``).  The test session allows no retries, so
    a child process runs its own ``local[2,2]`` session."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "child.py"
    script.write_text(_RETRY_CHILD)
    env = dict(os.environ, PYTHONPATH=repo)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    proc = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "out")],
        capture_output=True, text=True, timeout=600, env=env)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])

    truth, sink = {}, []
    for i in range(400):
        bad = [r for r, hit in (("v.flaky", i % 7 == 0),
                                ("w.max", i > 300)) if hit]
        n, v, b = truth.get("abcd"[i % 4], (0, 0, 0))
        truth["abcd"[i % 4]] = (n + 1, v + len(bad), b + bool(bad))
        sink += [[i, r] for r in bad]
    for tag in ("opNone", "op8"):
        run = out[tag]
        assert run["failed_tasks"] >= 1, tag
        got = {r["part"]: (r["n_rows"], r["n_violations"], r["n_bad_rows"])
               for r in run["manifest"]}
        assert got == truth, tag
        assert sorted(run["sink"]) == sorted(sink), tag
