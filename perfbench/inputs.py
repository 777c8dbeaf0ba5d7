"""Seeded benchmark inputs, and the expected outputs of each workload.

The sequence tables (``verdict``, ``resume``) are written by
``validr_spark.datagen.make_sequences`` in the benchmark's own Spark
session, after its set-up time is taken; their expected outputs are then
computed here from the files read back with pyarrow, without
validr_spark's checks.  The events table (``pyudf``) is
drawn with NumPy; its expected per-rule counts come from validr's
pure-Python validators.  Every table lives in a cache directory keyed by every
generator input; a cached table is reused only if its manifest repeats the
key, the row count and the file fingerprint.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

# workload -> generator parameters (everything that shapes the table)
SPECS = {
    "verdict": {"kind": "sequences", "rows": 240_000, "maxlen": 256,
                "late_bad_every": 0, "files": 4, "layout": "flat"},
    "resume": {"kind": "sequences", "rows": 40_000, "maxlen": 256,
               "late_bad_every": 50, "files": 4, "layout": "source"},
    "pyudf": {"kind": "events", "rows": 20_000, "bad_email_frac": 0.05,
              "bad_ts_frac": 0.04, "files": 8},
}
MAX_CACHED = 6          # tables kept per cache directory (oldest evicted)


# --------------------------------------------------------------------------
# sequences (verdict, resume)
# --------------------------------------------------------------------------

def _generate_sequences(spark, entry: str, seed: int, spec: dict) -> None:
    """Write the table to ``entry/data`` with ``datagen.make_sequences``,
    and ``datagen.make_sources_dim`` to ``entry/dim``: the dimension is a
    Python-local DataFrame, and read from parquet it keeps Python workers
    out of the verdict job, as a stored dimension table would.  When
    ``late_bad_every`` is non-zero, about one row in that many non-empty
    rows gets its *last* token set out of range, so that a per-element
    check must walk the whole array to find it."""
    from pyspark.sql import functions as F

    from validr_spark.datagen import VOCAB, make_sequences, make_sources_dim

    df = make_sequences(spark, spec["rows"], maxlen=spec["maxlen"],
                        seed=seed, partitions=spec["files"])
    if spec["late_bad_every"]:
        tokens = F.col("tokens")
        late = ((F.abs(F.hash(F.lit(seed), F.lit("late"), tokens)
                       .cast("long")) % spec["late_bad_every"] == 0)
                & (F.size(tokens) > 0))
        df = df.withColumn("tokens", F.when(late, F.concat(
            F.slice(tokens, 1, F.size(tokens) - 1),
            F.array(F.lit(VOCAB)))).otherwise(tokens))
    w = df.write.mode("error")
    if spec["layout"] != "flat":
        w = w.partitionBy(spec["layout"])
    w.parquet(os.path.join(entry, "data"))
    make_sources_dim(spark).coalesce(1).write.parquet(os.path.join(entry, "dim"))


def _sequences_columns(entry: str) -> dict:
    """The generated table read back with pyarrow, as plain columns, and
    the dimension's sources."""
    t = pads.dataset(os.path.join(entry, "data"), format="parquet",
                     partitioning="hive").to_table()
    dim = pads.dataset(os.path.join(entry, "dim"), format="parquet").to_table()
    tokens = t.column("tokens").combine_chunks()
    lengths = tokens.value_lengths().to_numpy(zero_copy_only=False)
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return {"doc_id": t.column("doc_id").to_pylist(),
            "tokens": tokens.flatten().to_numpy(),
            "offsets": offsets,
            "n_tok": t.column("n_tok").to_numpy(),
            "source": [str(s) for s in t.column("source").to_pylist()],
            "dim_sources": set(dim.column("source").to_pylist())}


def _sequences_expected(c: dict) -> dict:
    """Verdict report and per-part violation counts, from the generated
    columns alone (validr_spark gives only the generator's constants)."""
    from validr_spark.datagen import SOURCES, VOCAB

    dim_sources = c["dim_sources"]
    offsets, tokens = c["offsets"], c["tokens"]
    sizes = np.diff(offsets)
    bad_tok = np.append((tokens < 0) | (tokens >= VOCAB), False)
    n_bad_tok = np.add.reduceat(bad_tok.astype(np.int64), offsets[:-1])
    n_bad_tok[sizes == 0] = 0   # reduceat repeats the next element there
    per, parts = {}, {}
    for i, src in enumerate(c["source"]):
        size, nt = int(sizes[i]), int(c["n_tok"][i])
        row_v = ((c["doc_id"][i] is None) + (size == 0) + (nt < 1)
                 + (src not in SOURCES))
        p = per.setdefault(src, Counter())
        p["n_rows"] += 1
        p["n_tokens"] += size
        p["n_row_violations"] += row_v
        p["n_bad_rows"] += row_v > 0
        p["n_orphans"] += src not in dim_sources
        p["n_inconsistent"] += nt != size
        p["n_token_violations"] += int(n_bad_tok[i])
        # the full sequences schema reports one violation per failing field
        q = parts.setdefault(src, Counter())
        q["n_rows"] += 1
        q["n_violations"] += row_v + int(size > 0 and n_bad_tok[i] > 0)
    ids = Counter(c["doc_id"])
    return {
        "per_source": [dict(sorted(per[s].items()), source=s)
                       for s in sorted(per)],
        "dup_keys": sum(1 for v in ids.values() if v > 1),
        "n_keys": len(ids),
        "parts": {s: dict(v) for s, v in sorted(parts.items())},
        "violations": sum(v["n_violations"] for v in parts.values()),
    }


# --------------------------------------------------------------------------
# events (pyudf)
# --------------------------------------------------------------------------

_BAD_EMAILS = ["user{i}@@mail.example.com", "user{i}.example.com",
               "user {i}@mail.example.com", "user{i}@"]
_BAD_TS = ["2016-13-{d:02d}T00:00:00.000000Z", "2016-07-{d:02d} 00:00:00",
           "2016-07-{d:02d}T25:00:00.000000Z", "not-a-date-{d}"]
POOL = 4096             # distinct values per column


def _events(rng: np.random.Generator, spec: dict) -> dict:
    n = spec["rows"]
    good_email = [f"user{i}.{rng.integers(1 << 20)}@host{i % 97}.example.com"
                  for i in range(POOL)]
    bad_email = [_BAD_EMAILS[i % 4].format(i=i) for i in range(POOL)]
    secs = rng.integers(1_400_000_000, 1_800_000_000, POOL)
    micros = rng.integers(0, 1_000_000, POOL)
    good_ts = [np.datetime_as_string(np.datetime64(int(s), "s")) + f".{u:06d}Z"
               for s, u in zip(secs, micros)]
    bad_ts = [_BAD_TS[i % 4].format(d=1 + i % 28) for i in range(POOL)]
    pick = rng.integers(0, POOL, (2, n))
    email_bad = rng.random(n) < spec["bad_email_frac"]
    ts_bad = rng.random(n) < spec["bad_ts_frac"]
    email = np.where(email_bad, np.array(bad_email, object)[pick[0]],
                     np.array(good_email, object)[pick[0]])
    ts = np.where(ts_bad, np.array(bad_ts, object)[pick[1]],
                  np.array(good_ts, object)[pick[1]])
    return {"uid": np.arange(n, dtype=np.int32), "email": list(email),
            "ts": list(ts)}


def _events_table(c: dict) -> pa.Table:
    return pa.table({"uid": pa.array(c["uid"]),
                     "email": pa.array(c["email"], pa.string()),
                     "ts": pa.array(c["ts"], pa.string())})


def _events_expected(c: dict) -> dict:
    """Per-rule violation counts from validr's pure-Python validators,
    evaluated once per distinct value."""
    from validr_spark import Invalid, T
    from validr_spark.pyvalidate import Compiler

    counts = {}
    for field, schema in (("email", T.email), ("ts", T.datetime)):
        validate = Compiler().compile(schema)
        n_bad = 0
        for value, k in Counter(c[field]).items():
            try:
                validate(value)
            except Invalid:
                n_bad += k
        if n_bad:
            counts[f"{field}.{schema.__schema__.validator}"] = n_bad
    return {"rules": counts, "violations": sum(counts.values())}


# --------------------------------------------------------------------------
# cache
# --------------------------------------------------------------------------

def cache_key(workload: str, seed: int, spec: dict) -> str:
    blob = json.dumps(dict(spec, seed=seed, workload=workload),
                      sort_keys=True).encode()
    return f"{workload}-{seed}-{hashlib.sha256(blob).hexdigest()[:16]}"


def _fingerprint(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".parquet"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _write(table: pa.Table, root: str, files: int) -> None:
    step = -(-table.num_rows // files)
    os.makedirs(root)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(root, f"part-{k:05d}.parquet"))


def _valid(entry: str, key: str, spec: dict) -> bool:
    try:
        with open(os.path.join(entry, "meta.json")) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return False
    data = os.path.join(entry, "data")
    if meta.get("key") != key or meta.get("rows") != spec["rows"]:
        return False
    if pads.dataset(data, format="parquet",
                    partitioning="hive").count_rows() != spec["rows"]:
        return False
    return meta.get("fingerprint") == _fingerprint(entry)


def ensure(cache_dir: str, workload: str, seed: int, spark,
           spec: dict | None = None) -> str:
    """Return the cache entry holding ``data/`` and ``meta.json`` (with the
    expected outputs) for this workload and seed, generating it (sequence
    tables with ``spark``) if the cached copy is missing or does not
    verify.  ``spec`` replaces ``SPECS[workload]`` (tests use smaller
    tables)."""
    spec = spec or SPECS[workload]
    key = cache_key(workload, seed, spec)
    entry = os.path.join(cache_dir, key)
    if _valid(entry, key, spec):
        os.utime(entry)
        return entry
    shutil.rmtree(entry, ignore_errors=True)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = entry + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if spec["kind"] == "sequences":
        _generate_sequences(spark, tmp, seed, spec)
        expected = _sequences_expected(_sequences_columns(tmp))
    else:
        cols = _events(np.random.default_rng(seed), spec)
        _write(_events_table(cols), os.path.join(tmp, "data"), spec["files"])
        expected = _events_expected(cols)
    meta = {"key": key, "rows": spec["rows"], "spec": spec,
            "fingerprint": _fingerprint(tmp),
            "expected": expected}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.rename(tmp, entry)
    _evict(cache_dir, keep=entry)
    return entry


def _evict(cache_dir: str, keep: str) -> None:
    entries = sorted((os.path.join(cache_dir, e) for e in os.listdir(cache_dir)),
                     key=os.path.getmtime, reverse=True)
    for old in entries[MAX_CACHED:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)
