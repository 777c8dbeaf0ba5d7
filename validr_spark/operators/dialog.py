"""Structural validation of chat/instruction-tuning dialogs.

SFT and preference datasets ship conversations as an ordered turn list —
``array<struct<role:string, content:string>>`` — and the classic data
bugs are STRUCTURAL, invisible to per-field validators: a system prompt
buried mid-conversation, two consecutive user turns (a merge artifact),
empty assistant contents (a failed generation), dialogs that end on the
user (nothing to learn from), unknown roles from a schema drift.  This
module emits those as rows in the engine's standard violations shape
``(id, rule_id, position, message, value)`` with validr-style positions
(``turns[3].role``), so dialog checks union with the compiled schema
plan's violations and flow through the same quarantine/repair/manifest
machinery.

Unlike the reference's ``dict``/``list`` validators this collects ALL
violations per dialog (ModelInvalid-style accumulation, reference
_validator_c.pyx:1320-1355 — the useful behavior for a repair loop),
not fail-fast; the rule inventory is engine-original (the reference has
no ordering semantics, schema.py has no sequence-of-turns notion).

Scale shape: one ``posexplode`` over the turn list (dialogs are short —
the fan-out is bounded by max turns, not tokens) with the adjacent turn
read from the carried array column (``turns[i-1]``) — no window, no
shuffle, no Python; plus a row-level projection for the dialog-level
rules.  Everything is whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._barrier import nonnull_array

__all__ = ["dialog_violations", "dialog_stats", "render_dialogs",
           "preference_violations", "preference_stats", "loss_spans",
           "turn_stats"]


def _rule_violations(df: DataFrame, id_col: str, rules) -> DataFrame:
    """One row per rule that fires on a row of ``df``; ``rules`` holds
    ``(condition, rule_id, position, message, value)`` columns."""
    parts = [F.when(cond, F.struct(r.alias("rule_id"), p.alias("position"),
                                   m.alias("message"), v.alias("value")))
             for cond, r, p, m, v in rules]
    return (df.select(F.col(id_col),
                      F.explode(nonnull_array(parts)).alias("_v"))
            .select(id_col, "_v.rule_id", "_v.position", "_v.message",
                    "_v.value"))


def dialog_violations(df: DataFrame, turns_col: str = "turns",
                      id_col: str = "doc_id",
                      roles: tuple = ("system", "user", "assistant"),
                      system_role: str = "system",
                      require_alternation: bool = True,
                      must_end_with: str | None = "assistant",
                      max_turns: int = 1024) -> DataFrame:
    """All structural violations over a dialog column, one row each.

    Rules (rule_id → when it fires):

    * ``turns.required``      — NULL or empty turn list.
    * ``turns.maxlen``        — more than ``max_turns`` turns.
    * ``turns[].role.enum``   — role not in ``roles`` (NULL role included).
    * ``turns[].content.required`` — NULL or empty content.
    * ``turns.system_position``    — a ``system_role`` turn after index 0.
    * ``turns.alternation``   — two consecutive non-system turns with the
      same role (``require_alternation=True``; the merge-artifact
      detector — "two user turns in a row").
    * ``turns.last_role``     — final turn's role != ``must_end_with``
      (skip by passing ``must_end_with=None``; a dialog ending on the
      user contributes no assistant target).

    Positions follow validr rendering: dialog-level rules at ``turns``,
    per-turn rules at ``turns[i].role`` / ``turns[i].content``.
    """
    roles = tuple(roles)
    t = F.col(turns_col)
    n = F.size(t)

    # --- dialog-level rules: plain projection, no explode ---------------
    empty = t.isNull() | (n == 0)
    # try_element_at, not element_at: under ANSI (Spark 4 default) a bare
    # element_at(-1) on an empty array throws INVALID_ARRAY_INDEX, and the
    # ~empty guard in the rule conjuncts is not a contract that the
    # subexpression never evaluates (repo convention: sequences.py).
    last_role = F.try_element_at(t, F.lit(-1))["role"]
    row_rules = [
        (empty, F.lit("turns.required"), F.lit("turns"),
         F.lit("required"), F.lit(None).cast("string")),
        (~empty & (n > max_turns), F.lit("turns.maxlen"), F.lit("turns"),
         F.lit(f"list length must <= {max_turns}"), n.cast("string")),
    ]
    if must_end_with is not None:
        row_rules.append((
            ~empty & ~last_role.eqNullSafe(F.lit(must_end_with)),
            F.lit("turns.last_role"), F.lit("turns"),
            F.lit(f"last turn must be {must_end_with}"),
            F.coalesce(last_role, F.lit("null"))))
    row_v = _rule_violations(df, id_col, row_rules)

    # --- per-turn rules: one posexplode, prev turn read from the carried
    # array (turns[i-1] — element_at is 1-based so element_at(t, i) is
    # the 0-based i-1 element); dialogs are short, so carrying the array
    # through the generator is bounded fan-out, not a blow-up ----------
    ex = (df.filter(t.isNotNull() & (n > 0))
          .select(F.col(id_col), t.alias("_t"),
                  F.posexplode(t).alias("_i", "_turn")))
    i = F.col("_i")
    role = F.col("_turn")["role"]
    content = F.col("_turn")["content"]
    # F.get is 0-based and NULL-safe for out-of-range (element_at would
    # throw on index 0 — and Spark's AND does not short-circuit)
    prev_role = F.get(F.col("_t"), i - 1)["role"]
    pos_role = F.concat(F.lit("turns["), i.cast("string"), F.lit("].role"))
    pos_content = F.concat(F.lit("turns["), i.cast("string"),
                           F.lit("].content"))
    roles_msg = "expect one of {%s}" % ", ".join(repr(r) for r in roles)
    turn_rules = [
        (~role.isin(*roles) | role.isNull(),
         F.lit("turns[].role.enum"), pos_role,
         F.lit(roles_msg), F.coalesce(role, F.lit("null"))),
        (content.isNull() | (content == ""),
         F.lit("turns[].content.required"), pos_content,
         F.lit("required"), F.lit(None).cast("string")),
        ((role == system_role) & (i > 0),
         F.lit("turns.system_position"), pos_role,
         F.lit(f"{system_role} turn only allowed at index 0"),
         role),
    ]
    if require_alternation:
        turn_rules.append((
            (i > 0) & role.isin(*roles) & (role != system_role)
            & role.eqNullSafe(prev_role),
            F.lit("turns.alternation"), pos_role,
            F.lit("consecutive turns share a role"), role))
    return row_v.unionByName(_rule_violations(ex, id_col, turn_rules))


def dialog_stats(df: DataFrame, turns_col: str = "turns",
                 id_col: str = "doc_id",
                 group_col: str | None = "source",
                 roles: tuple = ("system", "user", "assistant"),
                 system_role: str = "system",
                 must_end_with: str | None = "assistant") -> DataFrame:
    """Per-group dialog-corpus scorecard: dialog count, turn-count
    mean/max, and how many dialogs trip any structural rule — the
    dataset-card view of :func:`dialog_violations` (which it calls).

    Shape: the violations are aggregated to per-dialog counts (rows =
    flagged dialogs only) and joined back on ``id_col`` — only the
    violation-rate fraction of dialogs reaches the join; the corpus side
    is one projection + one group-sized aggregate.
    """
    v = dialog_violations(df, turns_col=turns_col, id_col=id_col,
                          roles=roles, system_role=system_role,
                          must_end_with=must_end_with)
    per_dialog = (v.groupBy(id_col)
                  .agg(F.count(F.lit(1)).alias("_nv")))
    grp = (F.col(group_col) if group_col else F.lit("all")).alias("grp")
    key = group_col or "group"
    base = df.select(grp, F.col(id_col),
                     F.coalesce(F.size(F.col(turns_col)), F.lit(0))
                     .alias("_n"))
    flagged = base.join(per_dialog, id_col, "left")
    return (flagged.groupBy(F.col("grp").alias(key))
            .agg(F.count(F.lit(1)).alias("n_dialogs"),
                 F.round(F.avg("_n"), 2).alias("avg_turns"),
                 F.max("_n").alias("max_turns"),
                 # coalesce like n_violations below: a group with zero bad
                 # dialogs sums an all-NULL _nv column, and sum(NULLs) is
                 # NULL — the all-clean group must report 0, not NULL
                 F.coalesce(F.sum((F.col("_nv") > 0).cast("long")),
                            F.lit(0)).alias("n_bad_dialogs"),
                 F.coalesce(F.sum("_nv"), F.lit(0))
                 .alias("n_violations")))


def _norm(c):
    return F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))


def preference_violations(df: DataFrame, prompt_col: str = "prompt",
                          chosen_col: str = "chosen",
                          rejected_col: str = "rejected",
                          id_col: str = "doc_id") -> DataFrame:
    """Structural validation of preference/reward-model pairs — the RLHF
    twin of :func:`dialog_violations`.  Rules:

    * ``prompt.required`` / ``chosen.required`` / ``rejected.required``
      — NULL or empty field.
    * ``pair.identical`` — chosen == rejected byte-for-byte (a labeling
      pipeline bug: the comparison carries zero preference signal).
    * ``pair.identical_normalized`` — equal after casefold + whitespace
      collapse but NOT byte-identical (near-identical labels whose
      "preference" is formatting noise; fires only when
      ``pair.identical`` does not).

    Violations in the engine's standard shape; offending values
    truncated to 75 chars (reference Invalid rendering length,
    _validator_c.pyx:20-23).  Pure projection — zero shuffle, zero
    Python.  Quality SIGNALS (length bias etc.) live in
    :func:`preference_stats`, not here: a long chosen answer is a bias,
    not a defect.
    """
    p, c, r = F.col(prompt_col), F.col(chosen_col), F.col(rejected_col)

    def short(x):
        return F.substring(x, 1, 75)

    both = c.isNotNull() & (c != "") & r.isNotNull() & (r != "")
    rules = [
        (p.isNull() | (p == ""), "prompt.required", prompt_col,
         F.lit("required"), F.lit(None).cast("string")),
        (c.isNull() | (c == ""), "chosen.required", chosen_col,
         F.lit("required"), F.lit(None).cast("string")),
        (r.isNull() | (r == ""), "rejected.required", rejected_col,
         F.lit("required"), F.lit(None).cast("string")),
        (both & (c == r), "pair.identical", chosen_col,
         F.lit("chosen and rejected are identical"), short(c)),
        (both & (c != r) & (_norm(c) == _norm(r)),
         "pair.identical_normalized", chosen_col,
         F.lit("chosen and rejected differ only in case/whitespace"),
         short(c)),
    ]
    return _rule_violations(df, id_col, [
        (cond, F.lit(rid), F.lit(pos), msg, val)
        for cond, rid, pos, msg, val in rules])


def preference_stats(df: DataFrame, prompt_col: str = "prompt",
                     chosen_col: str = "chosen",
                     rejected_col: str = "rejected",
                     group_col: str | None = "source") -> DataFrame:
    """Per-group preference-data scorecard: pair counts, identical /
    normalized-identical counts, and the LENGTH-BIAS signal — the
    fraction of pairs whose chosen answer is longer than the rejected
    one (reward models learn "longer is better" from exactly this skew;
    ~0.5 is balanced).  One hash aggregate on the group key."""
    c, r = F.col(chosen_col), F.col(rejected_col)
    both = c.isNotNull() & (c != "") & r.isNotNull() & (r != "")
    grp = (F.col(group_col) if group_col else F.lit("all"))
    key = group_col or "group"
    return (df.groupBy(grp.alias(key))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum((both & (c == r)).cast("long"))
                 .alias("n_identical"),
                 F.sum((both & (c != r) & (_norm(c) == _norm(r)))
                       .cast("long")).alias("n_identical_normalized"),
                 F.round(F.avg(F.when(
                     both & (F.length(c) != F.length(r)),
                     (F.length(c) > F.length(r)).cast("double"))), 6)
                 .alias("chosen_longer_frac"),
                 F.round(F.avg(F.when(both, F.length(c))), 2)
                 .alias("avg_chosen_len"),
                 F.round(F.avg(F.when(both, F.length(r))), 2)
                 .alias("avg_rejected_len")))


def render_dialogs(df: DataFrame, turns_col: str = "turns",
                   id_col: str = "doc_id", role_sep: str = ": ",
                   turn_sep: str = "\n\n",
                   out_col: str = "text") -> DataFrame:
    """Render a dialog column into a single training-text string —
    ``role<role_sep>content`` per turn, turns joined with ``turn_sep`` —
    the pre-tokenization step that feeds :mod:`tokenize` /
    :func:`~validr_spark.operators.textstats.quality_filter` for SFT
    corpora (validate structure FIRST with :func:`dialog_violations`;
    rendering is representation, not repair).

    Output: every input column except ``turns_col``, plus ``out_col``
    and ``n_turns``.  NULL/empty dialogs render as '' with n_turns 0;
    NULL roles/contents render as empty strings.

    Shape at scale: posexplode → per-turn codegen ``concat`` →
    ``groupBy`` reassembly via ``array_sort(collect_list(struct(i,
    line)))`` — the tokenize.py reassembly idiom: ONE shuffle carrying
    (i, rendered line) pairs, everything whole-stage codegen.  (The
    zero-shuffle alternative, ``array_join(transform(...))``, is an
    interpreted lambda HOF — ~20 µs/turn, PERF.md Finding 1 — which at
    10^12 dialogs costs more than the shuffle it avoids.)  Carried
    columns ride the groupBy key, so they must be hashable scalars
    (drop map/variant columns first).  Reassembly groups on a
    per-input-row surrogate id, NOT on the carried values alone — two
    input rows with identical carried columns stay two output rows
    instead of silently merging into one interleaved dialog.
    """
    carried = [c for c in df.columns if c != turns_col]
    # the surrogate key exists only inside this job (never output), so
    # monotonically_increasing_id's partition-dependence is harmless —
    # it is constant per row between the select and the groupBy
    ex = (df.withColumn("_rid", F.monotonically_increasing_id())
          .select("_rid", *carried,
                  F.posexplode_outer(F.col(turns_col)).alias("_i", "_t")))
    line = F.concat(
        F.coalesce(F.col("_t")["role"], F.lit("")),
        F.lit(role_sep),
        F.coalesce(F.col("_t")["content"], F.lit("")))
    pre = ex.select("_rid", *carried, "_i",
                    F.when(F.col("_t").isNotNull(), line).alias("_line"))
    agg = (pre.groupBy("_rid", *carried)
           .agg(F.array_sort(F.collect_list(
                    F.struct(F.col("_i"), F.col("_line")))).alias("_ls"),
                F.count(F.col("_line")).alias("n_turns")))
    # field extraction over the sorted struct array is a native
    # GetArrayStructFields (codegen) — NOT a lambda transform
    rendered = F.concat_ws(turn_sep, F.col("_ls")["_line"])
    return agg.select(*carried, rendered.alias(out_col), "n_turns")


def loss_spans(df: DataFrame, turns_col: str = "turns",
               id_col: str = "doc_id", role_sep: str = ": ",
               turn_sep: str = "\n\n",
               learn_roles=("assistant",)) -> DataFrame:
    """SFT loss-mask spans: for each turn, the character span of its
    CONTENT inside the :func:`render_dialogs` output with the same
    separators, plus a ``learn`` flag (True for ``learn_roles`` — the
    assistant-only supervision mask).  The standard SFT prep step after
    rendering: downstream tokenization maps [start_char, end_char) to
    token offsets and masks the loss outside learned spans.

    Output: ``(id, turn_idx, role, start_char, end_char, learn)``, one
    row per turn; NULL/empty dialogs contribute no rows (their render
    is '' — nothing to learn).  NULL roles/contents are treated as ''
    and NULL turn STRUCTS are dropped before position numbering —
    both exactly like the renderer (whose ``concat_ws`` skips the NULL
    line entirely, separator included), so the invariant
    ``substring(rendered, start_char + 1, end_char - start_char) ==
    coalesce(content, '')`` holds byte-for-byte (pytest-pinned,
    including the null-turn case) and ``turn_idx`` indexes the RENDERED
    turn order.

    ``id_col`` must uniquely identify rows — spans are meaningless
    without a join key back to the rendered text (render_dialogs itself
    tolerates duplicates via a surrogate key, but a duplicated id here
    would interleave two dialogs' prefix sums).

    Shape at scale: one posexplode bounded by turns/dialog, then ONE
    window shuffle partitioned by id (prefix sums of line lengths) —
    everything whole-stage codegen, no Python, no lambda HOFs.  Offsets
    count what Spark/DuckDB ``length()`` counts (Unicode code points).
    """
    # drop NULL turn structs BEFORE posexplode so turn_idx and the
    # prefix sums match the renderer, which skips the NULL line AND its
    # separator (a kept-but-empty turn would shift every later span by
    # len(role_sep) + len(turn_sep)).  One bounded lambda per dialog
    # row — not a per-token hot path.
    ex = df.select(F.col(id_col),
                   F.posexplode(F.filter(F.col(turns_col),
                                         lambda t: t.isNotNull()))
                   .alias("turn_idx", "_t"))
    role = F.coalesce(F.col("_t")["role"], F.lit(""))
    content = F.coalesce(F.col("_t")["content"], F.lit(""))
    line_len = F.length(role) + F.lit(len(role_sep)) + F.length(content)
    w = (Window.partitionBy(id_col).orderBy("turn_idx")
         .rowsBetween(Window.unboundedPreceding, -1))
    prev = F.coalesce(F.sum(line_len + F.lit(len(turn_sep))).over(w),
                      F.lit(0))
    start = (prev + F.length(role) + F.lit(len(role_sep))).cast("long")
    return ex.select(
        F.col(id_col), F.col("turn_idx"), role.alias("role"),
        start.alias("start_char"),
        (start + F.length(content)).cast("long").alias("end_char"),
        role.isin(list(learn_roles)).alias("learn"))


def turn_stats(df: DataFrame, turns_col: str = "turns",
               group_col: str | None = "source") -> DataFrame:
    """Per-(group, role) turn scorecard for a dialog corpus: turn count,
    content-length mean/max, and empty-content count — the SFT data
    card's "are assistant turns substantive, are user prompts
    degenerate" table, and the pre-flight for loss-mask budgeting
    (assistant-content mass ≈ supervised-token mass).

    Output: ``(group, role, n_turns, avg_content_chars,
    max_content_chars, n_empty)``; NULL turn structs are skipped (they
    render to nothing), NULL roles are reported under the out-of-band
    ``'<null>'`` label so schema drift stays visible instead of
    vanishing into a dropped group.  Unlike the violation labelers in
    this module (which tag individual messages with ``'null'``), this
    label keys an AGGREGATION group — a genuine role literally named
    "null" would silently merge with the drift group, so the sentinel
    uses ``<>`` (illegal in every chat-template role grammar) to keep
    the two populations separable.

    Shape at scale: one bounded posexplode + one hash aggregate keyed by
    (group, role) — group-sized output, everything codegen.
    """
    grp = (F.col(group_col) if group_col else F.lit("all")).alias("grp")
    key = group_col or "group"
    ex = df.select(grp, F.posexplode(
        F.filter(F.col(turns_col), lambda t: t.isNotNull()))
        .alias("_i", "_t"))
    content = F.col("_t")["content"]
    clen = F.coalesce(F.length(content), F.lit(0))
    return (ex.groupBy(F.col("grp").alias(key),
                       F.coalesce(F.col("_t")["role"], F.lit("<null>"))
                       .alias("role"))
            .agg(F.count(F.lit(1)).alias("n_turns"),
                 F.round(F.avg(clen), 2).alias("avg_content_chars"),
                 F.max(clen).alias("max_content_chars"),
                 F.sum((content.isNull() | (content == ""))
                       .cast("long")).alias("n_empty")))
