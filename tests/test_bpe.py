"""True merge-based BPE: training determinism, the published-algorithm
application loop, the single-occurrence equivalence the DuckDB oracle
relies on, and the tokens_match_tokenizer violation rule."""

import random

import pytest
from pyspark.sql import functions as F

from validr_spark.operators.bpe import (
    apply_bpe, bpe_encode_word, bpe_vocab, learn_bpe,
    learn_bpe_from_counts, tokens_match_tokenizer)

# the classic Sennrich-2016 toy corpus (no end-of-word marker)
TOY = {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def test_learn_bpe_from_counts_classic_corpus():
    merges = learn_bpe_from_counts(TOY, num_merges=4)
    # ('e','s') and ('s','t') both count 9 -> lexicographic tie-break
    assert merges == [("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")]


def test_learn_bpe_training_is_deterministic():
    wc = {f"w{i}{'ab' * (i % 5)}": i + 1 for i in range(50)}
    assert (learn_bpe_from_counts(wc, 30)
            == learn_bpe_from_counts(dict(reversed(list(wc.items()))), 30))


def test_bpe_encode_word_applies_merges_in_rank_order():
    merges = learn_bpe_from_counts(TOY, num_merges=4)
    ranks = {m: i for i, m in enumerate(merges)}
    assert bpe_encode_word("lowest", ranks) == ["low", "est"]
    assert bpe_encode_word("low", ranks) == ["low"]
    assert bpe_encode_word("xyz", ranks) == ["x", "y", "z"]
    assert bpe_encode_word("", ranks) == []


def _encode_single_occurrence(word, ranks):
    """Independent reference: merge ONE occurrence per step — the
    leftmost occurrence of the lowest-rank pair present.  This is the
    exact semantics the DuckDB driver oracle's recursive CTE replays."""
    syms = list(word)
    while True:
        best = None
        for i, p in enumerate(zip(syms, syms[1:])):
            r = ranks.get(p)
            if r is not None and (best is None or (r, i) < best):
                best = (r, i)
        if best is None:
            return syms
        i = best[1]
        syms[i:i + 2] = [syms[i] + syms[i + 1]]


def test_trained_table_single_occurrence_equivalence():
    """For a TRAINED merge table, the all-occurrences GPT-2 loop and
    the single-occurrence-per-step loop agree (training creates a
    symbol before any pair containing it, so merging cannot introduce
    a lower-rank pair) — the property the recursive-CTE oracle needs."""
    rng = random.Random(11)
    words = ["".join(rng.choice("abcdeft ") for _ in range(rng.randint(1, 12)))
             .strip() or "a" for _ in range(400)]
    wc = {}
    for w in words:
        wc[w] = wc.get(w, 0) + 1
    merges = learn_bpe_from_counts(wc, num_merges=60, min_pair_count=2)
    assert merges, "training produced no merges; corpus too small"
    ranks = {m: i for i, m in enumerate(merges)}
    probes = words + ["aaaa", "aaaaa", "abababab", "deftdeft"]
    for w in probes:
        assert bpe_encode_word(w, ranks) == \
            _encode_single_occurrence(w, ranks), w


def test_trained_table_single_occurrence_equivalence_fuzz():
    """Hypothesis sweep of the same property: for ANY table trained by
    learn_bpe_from_counts, the oracle's single-occurrence loop agrees
    with the engine's all-occurrences loop on arbitrary words —
    including words never seen in training."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    alph = "abcd"
    words_s = st.text(alphabet=alph, min_size=1, max_size=10)

    @settings(max_examples=120, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.dictionaries(words_s, st.integers(1, 9),
                           min_size=2, max_size=25),
           st.lists(words_s, min_size=1, max_size=8))
    def run(wc, probes):
        merges = learn_bpe_from_counts(wc, num_merges=30,
                                       min_pair_count=2)
        ranks = {m: i for i, m in enumerate(merges)}
        for w in list(wc) + probes:
            assert bpe_encode_word(w, ranks) == \
                _encode_single_occurrence(w, ranks), (w, merges)

    run()


def test_merges_txt_round_trip(tmp_path):
    from validr_spark.operators.bpe import load_merges, save_merges

    merges = learn_bpe_from_counts(TOY, num_merges=4)
    p = str(tmp_path / "merges.txt")
    save_merges(merges, p)
    text = open(p).read()
    assert text.startswith("#version") and "e s\n" in text
    assert load_merges(p) == merges
    bad = tmp_path / "bad.txt"
    bad.write_text("#version: 0.2\na b c\n")
    with pytest.raises(ValueError, match="expected 'left right'"):
        load_merges(str(bad))


def test_load_merges_keeps_hash_symbol_merges(tmp_path):
    from validr_spark.operators.bpe import load_merges, save_merges

    merges = [("#", "#"), ("#", "a"), ("##", "a")]
    p = str(tmp_path / "merges.txt")
    save_merges(merges, p)
    assert load_merges(p) == merges
    # no header: a first line starting with '#' is a merge too
    bare = tmp_path / "bare.txt"
    bare.write_text("# #\n\n#a b\n")
    assert load_merges(str(bare)) == [("#", "#"), ("#a", "b")]


def test_bpe_vocab_ids_are_alphabet_then_merge_order():
    merges = [("a", "b"), ("ab", "c")]
    v = bpe_vocab(merges, ["c", "a", "b"])
    assert v == {"a": 0, "b": 1, "c": 2, "ab": 3, "abc": 4}


def test_apply_bpe_pieces_and_ids(spark):
    merges = learn_bpe_from_counts(TOY, num_merges=4)
    df = spark.createDataFrame(
        [(1, "low lowest"), (2, "  newest\tlow "), (3, None), (4, "")],
        "doc_id long, text string")
    pieces = {r["doc_id"]: r["tokens"]
              for r in apply_bpe(df, merges).collect()}
    assert pieces[1] == ["low", "low", "est"]
    assert pieces[2] == ["n", "e", "w", "est", "low"]
    assert pieces[3] is None
    assert pieces[4] == []
    vocab = bpe_vocab(merges, list("abcdefghijklmnopqrstuvwxyz"))
    ids = {r["doc_id"]: r["tokens"]
           for r in apply_bpe(df, merges, vocab=vocab).collect()}
    assert ids[1] == [vocab["low"], vocab["low"], vocab["est"]]
    # unknown piece (not in vocab/alphabet) -> unk_id
    df2 = spark.createDataFrame([(9, "l√w")], "doc_id long, text string")
    got = apply_bpe(df2, merges, vocab=vocab).collect()[0]["tokens"]
    assert got == [vocab["l"], -1, vocab["w"]]


def test_apply_bpe_matches_local_loop_on_corpus(spark):
    """Distributed apply == the local published-algorithm loop on a
    trained table over real corpus text (round-trip differential)."""
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("text").isNotNull()).limit(60))
    merges = learn_bpe(docs, num_merges=80, max_words=5_000)
    assert len(merges) > 10
    ranks = {m: i for i, m in enumerate(merges)}
    got = {r["doc_id"]: r["tokens"]
           for r in apply_bpe(docs, merges).collect()}
    import re
    for row in docs.select("doc_id", "text").collect():
        expect = []
        for w in re.findall(r"[^ \t\n\r\f\x0B]+", row["text"]):
            expect.extend(bpe_encode_word(w, ranks))
        assert got[row["doc_id"]] == expect, row["doc_id"]


def test_learn_bpe_distributed_equals_local_counts(spark):
    df = spark.createDataFrame(
        [(w,) for w, c in TOY.items() for _ in range(c)], "text string")
    assert learn_bpe(df, num_merges=4) == \
        learn_bpe_from_counts(TOY, num_merges=4)


def test_tokens_match_tokenizer_flags_only_corrupted_rows(spark):
    merges = learn_bpe_from_counts(TOY, num_merges=4)
    vocab = bpe_vocab(merges, list("abcdefghijklmnopqrstuvwxyz"))
    base = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["low lowest", "newest", "widest low", "lower"])],
        "doc_id long, text string")
    good = apply_bpe(base, merges, vocab=vocab)
    # corrupt doc 1 (drop last token) and doc 3 (flip first token)
    tampered = good.withColumn(
        "tokens",
        F.when(F.col("doc_id") == 1,
               F.slice("tokens", 1, F.size("tokens") - 1))
        .when(F.col("doc_id") == 3,
              F.concat(F.array(F.lit(9999)),
                       F.slice("tokens", 2, F.size("tokens"))))
        .otherwise(F.col("tokens")))
    v = {r["id"]: r for r in tokens_match_tokenizer(
        tampered, merges, vocab=vocab).collect()}
    assert set(v) == {1, 3}
    assert v[1]["rule_id"] == "tokens.bpe_mismatch"
    # doc 1: prefix of expected -> first diff at the truncated tail
    n1 = len(good.filter("doc_id = 1").first()["tokens"])
    assert v[1]["value"] == str(n1 - 1)
    assert v[3]["value"] == "0"
    assert "expected" in v[1]["message"] and "got" in v[1]["message"]


def test_tokens_match_tokenizer_null_asymmetry(spark):
    merges = learn_bpe_from_counts(TOY, num_merges=2)
    df = spark.createDataFrame(
        [(1, None, [0]), (2, "low", None), (3, None, None)],
        "doc_id long, text string, tokens array<int>")
    vocab = bpe_vocab(merges, list("abcdefghijklmnopqrstuvwxyz"))
    got = {r["id"]: r for r in tokens_match_tokenizer(
        df, merges, vocab=vocab).collect()}
    assert set(got) == {1, 2}                 # both-NULL row 3 agrees
    assert got[1]["value"] is None
    assert "null" in got[1]["message"]


def test_check_suite_tokens_match_gate(spark):
    """Check.tokens_match folds the BPE recompute into the declarative
    suite's single scan and gates on the match ratio."""
    from validr_spark.operators.checks import Check, CheckSuite

    merges = learn_bpe_from_counts(TOY, num_merges=4)
    vocab = bpe_vocab(merges, list("abcdefghijklmnopqrstuvwxyz"))
    base = spark.createDataFrame(
        [(i, t) for i, t in enumerate(["low", "newest", "widest",
                                       "lower"])],
        "doc_id long, text string")
    good = apply_bpe(base, merges, vocab=vocab)
    tampered = good.withColumn(
        "tokens", F.when(F.col("doc_id") == 0,
                         F.array(F.lit(1), F.lit(2)))
        .otherwise(F.col("tokens")))
    suite = CheckSuite("bpe", [
        Check.tokens_match(merges, vocab=vocab, min_ratio=1.0),
        Check.row_count(min=1)])
    rep = {r["check_id"]: r for r in suite.run(tampered).collect()}
    gate = rep["tokens_match(tokens)"]
    assert gate["observed"] == pytest.approx(0.75)
    assert not gate["passed"]
    clean = {r["check_id"]: r for r in suite.run(good).collect()}
    assert clean["tokens_match(tokens)"]["passed"]


def test_check_suite_single_scan_with_tokens_match(spark):
    """tokens_match composes into the suite's ONE aggregation pass next
    to JVM-only checks: a single source scan, one partial/final agg
    pair, and exactly one ArrowEvalPython projection feeding it."""
    from validr_spark.operators.checks import Check, CheckSuite

    merges = learn_bpe_from_counts(TOY, num_merges=4)
    vocab = bpe_vocab(merges, list("abcdefghijklmnopqrstuvwxyz"))
    df = apply_bpe(
        spark.createDataFrame([(1, "low"), (2, "newest")],
                              "doc_id long, text string"),
        merges, vocab=vocab)
    suite = CheckSuite("gate", [
        Check.tokens_match(merges, vocab=vocab),
        Check.row_count(min=1),
        Check.null_rate("text", max=0.5)])
    plan = (suite.run(df)._jdf.queryExecution().executedPlan()
            .toString())
    # apply_bpe's own guarded UDF + the validator's recompute = 2 max;
    # the three checks must NOT multiply scans or aggs
    assert plan.count("ArrowEvalPython") == 2
    assert (plan.count("Scan ExistingRDD") + plan.count("LocalTableScan")
            + plan.count("FileScan")) == 1
    assert plan.count("HashAggregate") <= 2       # partial + final


def test_apply_bpe_single_python_stage(spark):
    """The expected-tokens column is computed by ONE ArrowEvalPython
    pass even though the validator references it several times (the
    nondeterministic barrier must keep CollapseProject from inlining
    the pandas_udf per reference)."""
    merges = learn_bpe_from_counts(TOY, num_merges=4)
    df = spark.createDataFrame([(1, "low", [0])],
                               "doc_id long, text string, tokens array<int>")
    plan = (tokens_match_tokenizer(df, merges,
                                   vocab=bpe_vocab(merges, ["l", "o", "w"]))
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("ArrowEvalPython") == 1
