"""Sequence-table operators for the tokenized-sequence table
(doc_id, tokens:array<int>, n_tok, source) — the north-star workload.

Per-row violations come from the generic compiler:
``SparkCompiler().compile(T.dict(..., tokens=T.list(T.int.min(0)
.max(vocab - 1)).maxlen(maxlen), ...)).apply(df, id_cols=[...])``.  Its
``_list_core`` screens each whole array with codegen'd ``array_min`` /
``array_max`` and an ``array_contains`` null probe first, so the
interpreted per-element lambda (PERF.md Finding 1) runs only on the rows
the screen flags.

This module adds what the compiler does not cover:

* ``rowlevel_schema`` + ``build_report_queries`` / ``sequence_report`` —
  the aggregate verdict (per-source rows, tokens, violations, bad
  tokens, orphans, n_tok consistency, key duplication) from one codegen
  scan and one uniqueness shuffle; the bad-token count is gathered on
  the row-check scan behind the same element screen;
* ``frame_violations`` — BOS/EOS/padding framing checks;
* ``position_token_stats`` / ``token_ngram_stats`` — template and
  degenerate-repetition profiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..compiler import SparkCompiler, verdict_counts
from ..schema import T
from ._barrier import nonnull_array


def rowlevel_schema(vocab: int, maxlen: int, sources: list[str],
                    max_id_len: int = 64, max_n_tok: int | None = None):
    """The sequence schema MINUS the per-element rule (length rules only —
    compiles to pure CASE expressions, no higher-order functions)."""
    return T.dict(
        doc_id=T.str.minlen(1).maxlen(max_id_len),
        tokens=T.list.minlen(1).maxlen(maxlen),
        n_tok=T.int.min(1).max(max_n_tok if max_n_tok is not None else maxlen),
        source=T.enum(" ".join(sources)),
    )


def build_report_queries(df: DataFrame, dim: DataFrame, *, vocab: int,
                         maxlen: int = 8192, sources: list[str],
                         max_id_len: int = 64,
                         max_n_tok: int | None = None) -> dict:
    """Build (don't run) the verdict queries; see sequence_report.

    ``n_token_violations`` counts EVERY element that breaks the token
    rule ``T.int.min(0).max(vocab - 1)``, several per row if need be.  It
    is a data-quality stat, not a violation count: the compiler's element
    rule reports only a row's first bad token.  An element is coerced as
    ``T.int`` coerces it before the bounds apply: in an integral array a
    bad token is NULL or outside ``[0, vocab)``; a float truncates toward
    zero first (-0.5 reads 0 and is good) and NaN or infinity is bad.
    It rides ``agg1``'s scan; the compiler's native ``array_invalid``
    screen gates it, so the per-element filter runs only on rows with a
    bad token.
    """
    from .uniqueness import duplication_report

    sc = SparkCompiler()
    plan = sc.compile(
        rowlevel_schema(vocab, maxlen, sources, max_id_len, max_n_tok))
    tok = F.col("tokens")
    elem = sc.compile_node(T.int.min(0).max(vocab - 1).__schema__,
                           df.schema["tokens"].dataType.elementType,
                           "tokens[]")
    screen = elem.array_invalid or (lambda a: F.exists(a, elem.invalid))
    n_bad_tok = F.when(screen(tok), F.size(F.filter(tok, elem.invalid))) \
        .otherwise(0)
    dimj = F.broadcast(dim.select("source").withColumn("_in_dim", F.lit(1)))

    # one scan: row-level checks + verdict dimensions (codegen)
    res = plan.apply(
        df.withColumn("_n_tok_raw", F.col("n_tok"))
          .withColumn("_size_raw", F.size(tok))
          .withColumn("_bad_tok_raw", n_bad_tok)
          .withColumn("_src_raw", F.col("source")),
        id_cols=["_n_tok_raw", "_size_raw", "_bad_tok_raw", "_src_raw"])
    n_rows, n_viol, n_bad, _ = verdict_counts(F.col("_violations"))
    agg1 = (res.df
            .join(dimj, res.df["source"] == dimj["source"], "left")
            .groupBy("_src_raw")
            .agg(n_rows,
                 F.coalesce(F.sum("_size_raw"), F.lit(0)).alias("n_tokens"),
                 n_viol.alias("n_row_violations"), n_bad,
                 F.sum("_bad_tok_raw").alias("n_token_violations"),
                 F.sum(F.when(F.col("_in_dim").isNull(), 1).otherwise(0))
                  .alias("n_orphans"),
                 F.sum(F.when(F.col("_n_tok_raw") != F.col("_size_raw"), 1)
                       .otherwise(0)).alias("n_inconsistent")))
    # "agg2" aliases agg1 until perfbench stops planning it (ROADMAP item 1)
    return {"agg1": agg1, "agg2": agg1,
            "dup": duplication_report(df, "doc_id")}


def collect_report(queries: dict) -> dict:
    """Execute the verdict queries (the scan/shuffle work — time THIS for
    throughput numbers; planning is one-time at real scale).

    The two jobs, the row-check scan and the uniqueness shuffle, are
    submitted CONCURRENTLY (Spark's scheduler shares executor cores
    between jobs): driver-side submit/collect latency overlaps, and stage
    tails of one job fill idle cores of the other — the serial fraction
    that would otherwise cap N→4N scaling.
    """
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(queries["agg1"].collect)
        f2 = pool.submit(queries["dup"].collect)
        agg1_rows, dup = f1.result(), f2.result()[0]
    per_source = []
    for r in agg1_rows:
        row = r.asDict()
        row["source"] = row.pop("_src_raw")
        per_source.append(row)
    per_source.sort(key=lambda r: (r["source"] is None, r["source"]))
    return {"per_source": per_source,
            "dup_keys": int(dup["n_dup_keys"]),
            "n_keys": int(dup["n_keys"])}


def sequence_report(df: DataFrame, dim: DataFrame, **kw) -> dict:
    """One-shot verdict metrics (what the perfbench ``verdict`` workload
    runs, as ``build_report_queries`` + ``collect_report``): per-source
    rows, tokens, row-level violations, bad tokens, referential orphans,
    n_tok consistency — one codegen scan plus one uniqueness shuffle, in
    two jobs.  The only lambda is the bad-token filter, which runs on the
    rows the native screen flags (``nonnull_array`` compacts natively).

    Returns {"per_source": [...rows...], "dup_keys": int, "n_keys": int}.
    """
    return collect_report(build_report_queries(df, dim, **kw))


def frame_violations(df: DataFrame, *, id_col: str = "doc_id",
                     tokens_col: str = "tokens",
                     bos: int | None = None, eos: int | None = None,
                     pad: int | None = None) -> DataFrame:
    """Token-frame integrity checks for pre-tokenized sequences: BOS/EOS
    placement, trailing-only padding, and non-empty content — the framing
    invariants a tokenizer + packer must leave behind, which plain
    range/length rules cannot see.

    Checks (each emitted as one violation row, engine formatting —
    ``(id, rule_id, position, message, value)``):

    * ``tokens.bos``  — first token is not ``bos`` (when ``bos`` given);
    * ``tokens.eos``  — last NON-PAD token is not ``eos`` (when ``eos``
      given; with ``pad=None`` the literal last token);
    * ``tokens.pad``  — a pad token occurs before a non-pad token (only
      trailing padding is legal; when ``pad`` given);
    * ``tokens.content`` — no non-pad tokens at all (empty array or
      all-pad).

    Scale shape: one map-side projection per row, with a per-row
    FAST/SLOW split (both pure codegen, no lambda HOF — PERF.md Finding
    1 — no shuffle, no Python):

    * **fast path** (the well-formed majority): pure native array ops —
      ``array_position`` finds the first pad, ``slice`` + ``array_min/
      max`` prove the tail is one clean pad run, ``try_element_at``
      reads the frame tokens.  No string materialization at all.
      Eligible when the row has no null elements AND (no pad occurs, or
      everything from the first pad onward is pad).
    * **slow path** (corrupt rows — interior pads or null elements): the
      token array is rendered ONCE to a comma string, the trailing pad
      run is stripped with a single anchored regex, and the checks read
      that rendering.  Runs only for the ~violation-rate fraction
      (``CASE`` branches evaluate lazily per row in codegen).

    Measured on the 1M-row bench table (local[32], warm, ~128 tok/row):
    the all-string formulation ran 18.9 s (53k seqs/s); this split runs
    4.5–6.5 s (150k–220k seqs/s) on both a pad-free corpus and an
    adversarial interior-pad corpus (PERF.md Finding 11).

    Null ELEMENTS are skipped by the slow path's ``concat_ws`` rendering
    and force the row onto that path — run this alongside the compiled
    schema's element rule, which reports them as ``tokens[].required``.  Positions are indices in the null-skipped
    rendering (identical to array indices when no element is null).
    Rows with a NULL array are skipped entirely (that is the schema's
    ``required`` rule).
    """
    t = F.col(tokens_col)
    size_t = F.size(t)
    no_nulls = F.size(F.array_compact(t)) == size_t
    # ",t0,t1,...," — outer commas make every token delimiter-bounded so
    # substring probes can't false-match inside multi-digit ids
    s = F.concat(F.lit(","), F.concat_ws(",", t), F.lit(","))
    if pad is not None:
        # one greedy anchored match strips the whole trailing pad run.
        # The run must START at a delimiter — a bare "(?:0,)+$" would eat
        # the tail of a multi-digit token ("100," ends with "0,").  The
        # leading comma is consumed and re-emitted (no lookbehind: the
        # DuckDB oracle twin runs RE2, which has none).
        stripped = F.regexp_replace(s, r",(?:%d,)+$" % pad, ",")
        # fast-path eligibility: first pad onward is ONE clean pad run
        p = F.array_position(t, F.lit(pad))          # 1-based; 0 = absent
        tail = F.slice(t, F.greatest(p, F.lit(1)).cast("int"),
                       F.greatest(size_t - p.cast("int") + 1, F.lit(0)))
        tail_all_pad = ((F.array_min(tail) == pad)
                        & (F.array_max(tail) == pad))
        fast = no_nulls & ((p == 0) | tail_all_pad)
        n_trail_fast = F.when(p == 0, F.lit(0).cast("long")) \
            .otherwise((size_t - p + 1).cast("long"))
        interior_slow = stripped.contains(f",{pad},")
        pad_w = len(str(pad)) + 1
    else:
        stripped = s
        fast = no_nulls
        n_trail_fast = F.lit(0).cast("long")
        interior_slow = F.lit(False)
        pad_w = 1

    # slow-path quantities (string rendering; evaluated per row only on
    # the slow branch — codegen CASE is lazy)
    last_tok_slow = F.regexp_extract(stripped, r",([^,]+),$", 1)
    n_trail_slow = ((F.char_length(s) - F.char_length(stripped))
                    / F.lit(pad_w)).cast("long")
    # k rendered tokens produce k+1 commas in s — except k=0 (all
    # elements null), where s is ",," (2 commas): count that as 0, not
    # 1, so has_content stays false and tokens.content fires instead of
    # spurious bos/eos
    n_visible_slow = F.when(F.char_length(s) <= 2, F.lit(0)) \
        .otherwise(F.regexp_count(s, F.lit(",")) - 1)

    # combined per-row quantities
    content_n = F.when(fast, size_t.cast("long") - n_trail_fast) \
        .otherwise(n_visible_slow.cast("long") - n_trail_slow)
    has_content = content_n > 0
    last_tok = F.when(fast, F.try_element_at(
        t, content_n.cast("int")).cast("string")).otherwise(last_tok_slow)
    last_idx = content_n - 1
    interior = F.when(fast, F.lit(False)).otherwise(interior_slow)
    # try_element_at: plain element_at throws under ANSI on empty arrays
    first_tok = F.try_element_at(t, F.lit(1))

    def viol(rule, position, message, value):
        return F.struct(F.lit(rule).alias("rule_id"),
                        position.cast("string").alias("position"),
                        F.lit(message).alias("message"),
                        value.cast("string").alias("value"))

    checks = []
    if bos is not None:
        # gated on content: an empty/all-pad row reports tokens.content
        # alone, not three cascading framing errors
        checks.append(F.when(
            has_content & ((first_tok != bos) | first_tok.isNull()),
            viol("tokens.bos", F.lit(f"{tokens_col}[0]"),
                 f"first token must be {bos}", first_tok)))
    if eos is not None:
        checks.append(F.when(
            has_content & (last_tok != F.lit(str(eos))),
            viol("tokens.eos",
                 F.concat(F.lit(f"{tokens_col}["), last_idx.cast("string"),
                          F.lit("]")),
                 f"last non-pad token must be {eos}", last_tok)))
    if pad is not None:
        checks.append(F.when(
            interior,
            viol("tokens.pad", F.lit(tokens_col),
                 "pad tokens must be trailing only", F.lit(pad))))
    checks.append(F.when(
        ~has_content,
        viol("tokens.content", F.lit(tokens_col),
             "sequence has no content tokens", F.size(t))))

    vs = nonnull_array(checks)
    return (df.filter(t.isNotNull())
            .select(F.col(id_col), vs.alias("_v"))
            .filter(F.size("_v") > 0)
            .select(id_col, F.explode("_v").alias("_e"))
            .select(id_col, "_e.rule_id", "_e.position", "_e.message",
                    "_e.value"))


def position_token_stats(df: DataFrame, tokens_col: str = "tokens",
                         max_pos: int = 64) -> DataFrame:
    """Per-POSITION token distribution over the sequence corpus: for each
    of the first ``max_pos`` positions — sequences covering it, distinct
    tokens, top token + its share, and Shannon entropy (bits).

    The template detector for pre-tokenized data: a corpus whose first
    40 positions have entropy ≈ 0 (every sequence opens with the same
    boilerplate header) wastes context window and skews loss; a
    position whose top-token share suddenly jumps mid-corpus marks
    injected template data.  Normal text shows high entropy at every
    position after BOS.

    Shape at scale: ``slice`` BEFORE ``posexplode`` bounds the explode
    at ``max_pos`` rows per sequence regardless of sequence length; two
    chained hash-aggs ((pos, token) then pos — map-side partials, the
    shuffle carries distinct (pos, token) pairs ≤ max_pos·vocab); the
    per-position top token rides the same aggregate via ``max_by``.
    All codegen, no lambda HOFs, no Python.
    """
    pre = (df.filter(F.col(tokens_col).isNotNull())
           .select(F.posexplode(F.slice(tokens_col, 1, max_pos))
                   .alias("pos", "token")))
    per_tok = (pre.groupBy("pos", "token")
               .agg(F.count(F.lit(1)).alias("c")))
    cnt = F.col("c").cast("double")
    n = F.sum("c").cast("double")
    return (per_tok.groupBy("pos")
            .agg(F.sum("c").alias("n_seqs"),
                 F.count(F.lit(1)).alias("n_distinct_tokens"),
                 F.max_by("token", F.struct(F.col("c"), -F.col("token")))
                 .alias("top_token"),
                 F.round(F.max("c") / F.sum("c"), 6).alias("top_share"),
                 F.round(F.log2(n) - F.sum(cnt * F.log2(cnt)) / n, 6)
                 .alias("entropy"))
            .orderBy("pos"))


def token_ngram_stats(df: DataFrame, tokens_col: str = "tokens",
                      id_col: str = "doc_id", n: int = 2) -> DataFrame:
    """Per-SEQUENCE token n-gram repetition profile — the degenerate-
    generation detector for pre-tokenized corpora: a sequence that loops
    ("the the the …" or a repeated phrase) shows a high duplicate-n-gram
    fraction / top-n-gram share long before a human reads it.  The
    token-array twin of the text-side ``repetition_features`` /
    ``top_ngram_stats`` (operators/textstats.py), for tables that ship
    only the north-rule sequence shape (tokens, no raw text) — exactly
    the synthetic-data QC gate a generation pipeline needs.

    Columns per sequence with ≥ ``n`` tokens (shorter sequences carry no
    n-gram signal and are absent — left-join from the corpus if you need
    them as NULL rows): ``(id, n_ngrams, n_distinct, dup_ngram_frac,
    top_ngram_share, loop_frac)`` where ``dup_ngram_frac`` is
    ``1 − n_distinct/n_ngrams``, ``top_ngram_share`` is the most frequent
    n-gram's share, and ``loop_frac`` is the share of n-grams whose
    tokens are ALL identical (the single-token loop; trivially 1.0 when
    ``n == 1``).

    Shape at scale: ``slice``+``arrays_zip`` n-gram construction (pure
    codegen — no lambda HOFs, PERF.md Finding 1; same idiom as
    operators/spans.positioned_ngrams) → explode → two chained hash
    aggregates ((id, gram) then id) with map-side partials; the shuffle
    carries distinct (id, gram) int structs, never text.  Zero Python.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    sz = F.size(F.col(tokens_col))
    m = sz - (n - 1)
    zipped = F.arrays_zip(
        *[F.slice(tokens_col, i + 1, m) for i in range(n)])
    pre = (df.filter(F.col(tokens_col).isNotNull() & (sz >= n))
           .select(F.col(id_col), F.explode(zipped).alias("_g")))
    gf = [F.col("_g")[str(i)] for i in range(n)]
    allsame = F.lit(True)
    for g in gf[1:]:
        allsame = allsame & g.eqNullSafe(gf[0])
    per = (pre.groupBy(id_col, "_g")
           .agg(F.count(F.lit(1)).alias("_c"),
                # function of the group key — max() just carries it
                F.max(allsame.cast("int")).alias("_eq")))
    tot = F.sum("_c").cast("double")
    return (per.groupBy(id_col)
            .agg(F.sum("_c").alias("n_ngrams"),
                 F.count(F.lit(1)).alias("n_distinct"),
                 F.round(F.lit(1.0) - F.count(F.lit(1)) / tot, 6)
                 .alias("dup_ngram_frac"),
                 F.round(F.max("_c") / tot, 6).alias("top_ngram_share"),
                 F.round(F.sum(F.col("_c") * F.col("_eq")) / tot, 6)
                 .alias("loop_frac")))
