"""Data-quality expectations — single-pass constraint checking.

The Deequ/Great-Expectations idea reduced to its Spark-native core: a
set of named constraints over a table is ONE aggregation pass (every
violation counter is a conditional SUM computed map-side), unpivoted to
a long-format report `(check, n_violations, passed)`. At 100 TB this is
the shape that matters — k constraints cost one scan, not k scans, and
the report is small enough to gate a pipeline step on `.collect()`.

Uniqueness is the one constraint that can't be a conditional sum; it is
expressed as `COUNT(*) - COUNT(DISTINCT key)`, which Spark plans into
the same aggregate (two-phase with a distinct expand — still one scan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def violation(name: str, predicate: Column) -> tuple[str, Column]:
    """A named constraint; `predicate` is TRUE where the row VIOLATES it
    (null-safe: NULL predicate counts as a violation — unknown is not
    a pass)."""
    bad = F.when(predicate.isNull() | predicate, 1).otherwise(0)
    return (name, F.sum(bad).cast("long"))


def tag_failures(
    df: DataFrame,
    violations: list[tuple[str, Column]],
    out_col: str = "failed_checks",
) -> DataFrame:
    """Row-level twin of `violation`: annotate every row with the array
    of check names it violates, same null-safe semantics (a NULL
    predicate IS a violation — unknown is not a pass). Pure Column
    expressions, so the tagging is map-side and whole-stage-codegen'd;
    `q_quality_gate_routing` routes rows through it under the DuckDB
    gate."""
    failed = F.array_compact(
        F.array(
            *[
                F.when(pred.isNull() | pred, F.lit(name))
                for name, pred in violations
            ]
        )
    )
    return df.withColumn(out_col, failed)


def unique_violation(name: str, *cols: str) -> tuple[str, Column]:
    """Rows beyond the first per distinct key combination."""
    return (
        name,
        (F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in cols]))
        .cast("long"),
    )


def expectations_report(
    df: DataFrame, checks: list[tuple[str, Column]]
) -> DataFrame:
    """(check, n_violations, passed) — one row per constraint, one scan
    total. Column order in the stack is the caller's check order."""
    aggs = [expr.alias(f"__c{i}") for i, (_, expr) in enumerate(checks)]
    wide = df.agg(*aggs)
    # check names are caller-supplied strings interpolated into a SQL
    # expression — double any single quotes so a name like "o'clock"
    # can't break (or inject into) the stack() expr
    stack_args = ", ".join(
        "'{}', __c{}".format(name.replace("'", "''"), i)
        for i, (name, _) in enumerate(checks)
    )
    return wide.select(
        F.expr(f"stack({len(checks)}, {stack_args}) AS (check, n_violations)")
    ).select(
        "check",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def repetition_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, Table A1 —
    MassiveText's quality rules; the signals that catch boilerplate,
    scraped nav bars, and keyword-stuffed spam that length/stopword
    ratios miss):

      * dup_line_frac       — occurrences beyond the first per distinct
                              non-empty line / total non-empty lines
      * dup_line_char_frac  — characters in those repeated occurrences
                              / characters in all non-empty lines
      * top_bigram_char_frac— characters covered by the most frequent
                              word bigram (count × its char length) /
                              total word characters; overlapping
                              occurrences can push it past 1.0 — it is
                              a repetition SIGNAL, not a partition

    Every numerator/denominator is an exact BIGINT (line counts, char
    lengths); each fraction is one IEEE division, so a DuckDB twin
    hash-matches. The top bigram tie-breaks by (count desc, w1, w2) so
    the winner is total-order deterministic.

    Shape: one line-level and one token-level explode, each collapsed
    by map-side-combined aggregation to per-(doc, line)/(doc, bigram)
    rows; the per-doc rollups shuffle doc-id-keyed rows only. No
    cross-doc state — embarrassingly parallel at 100 TB."""
    from pyspark.sql import Window

    from ..functions.text import split_words

    # NOTE: no scan fan here — measured flat standalone and ~0.2 s
    # SLOWER composed into corpus_pipeline_v2 (line/token explodes
    # feed map-side-combined aggregates; the extra exchange never
    # pays); both explodes still share one projected base
    base = docs.select(F.col(id_col), F.col(text_col))
    lines = base.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("line"),
    ).filter(F.trim("line") != "")
    lc = lines.groupBy(id_col, "line").agg(
        F.count("*").alias("c"), F.length("line").alias("ln")
    )
    ld = lc.groupBy(id_col).agg(
        F.sum("c").alias("n_lines"),
        F.sum(F.col("c") - 1).alias("dup_lines"),
        F.sum((F.col("c") - 1) * F.col("ln")).alias("dup_chars"),
        F.sum(F.col("c") * F.col("ln")).alias("tot_line_chars"),
    )
    toks = base.select(
        F.col(id_col),
        F.posexplode(
            F.filter(split_words(text_col), lambda t: t != "")
        ).alias("pos", "w"),
    )
    wchars = toks.groupBy(id_col).agg(
        F.sum(F.length("w")).alias("word_chars")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    bg = (
        toks.withColumn("w2", F.lead("w").over(w))
        .filter(F.col("w2").isNotNull())
        .groupBy(id_col, "w", "w2")
        .agg(F.count("*").alias("n"))
    )
    rk = Window.partitionBy(id_col).orderBy(
        F.desc("n"), F.asc("w"), F.asc("w2")
    )
    top = (
        bg.withColumn("__rk", F.row_number().over(rk))
        .filter(F.col("__rk") == 1)
        .select(
            id_col,
            F.concat_ws(" ", "w", "w2").alias("top_bigram"),
            F.col("n").alias("top_bigram_n"),
            (F.length("w") + F.length("w2")).alias("__blen"),
        )
    )
    return (
        docs.select(id_col)
        .join(ld, id_col, "left")
        .join(wchars, id_col, "left")
        .join(top, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            (F.col("dup_lines") / F.col("n_lines")).alias("dup_line_frac"),
            (F.col("dup_chars") / F.col("tot_line_chars")).alias(
                "dup_line_char_frac"
            ),
            "top_bigram",
            "top_bigram_n",
            (
                F.col("top_bigram_n")
                * F.col("__blen")
                / F.col("word_chars")
            ).alias("top_bigram_char_frac"),
        )
    )


def gopher_rules(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021, Table A1
    — the MassiveText filters; public recipe) as ONE pass of integer
    arithmetic: word count band, mean-word-length band, symbol-to-word
    ratio, bullet-start and ellipsis-end line fractions, alphabetic-
    word fraction, and the minimum-stopword rule. Every verdict is an
    INTEGER comparison on exact counts (e.g. `symbols·10 ≤ n_words`
    instead of `symbols/n_words ≤ 0.1`), so there is no float
    boundary anywhere — any engine reproduces the booleans bit-for-bit,
    which is what lets DuckDB hash-gate a seven-rule quality filter.

    Thresholds (the published ones, denominators scaled away):
      words 50..100,000 · mean word length 3..10 · symbol ratio ≤ 0.1
      (# + '...') · bullet lines ≤ 90% · ellipsis lines ≤ 30% ·
      alphabetic words ≥ 80% · ≥ 2 English stopword hits

    Shape: one narrow map for the token/char/symbol counts plus one
    line-level explode collapsed map-side to per-doc line counters,
    joined on doc id. No cross-doc state — embarrassingly parallel;
    the rules gate 100 TB corpora at scan cost.

    Returns the exact counters, the 7 rule booleans, and
    `passes_gopher` (their AND)."""
    from ..functions.text import (
        STOPWORDS,
        split_words,
        stopword_hits,
        whitespace_token_count,
    )

    t = F.col(text_col)
    words = F.filter(split_words(text_col), lambda w: w != "")
    base = docs.select(
        F.col(id_col),
        whitespace_token_count(t).alias("n_words"),
        F.length(F.regexp_replace(t, r"\s+", "")).alias("n_chars_nospace"),
        (
            F.regexp_count(t, F.lit("#"))
            + F.regexp_count(t, F.lit(r"\.\.\."))
        ).cast("long").alias("n_symbols"),
        F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
        .cast("long")
        .alias("n_alpha_words"),
        stopword_hits(t, STOPWORDS["en"]).alias("n_stopword_hits"),
    )
    lines = docs.select(
        F.col(id_col),
        F.explode(F.split(t, "\n")).alias("line"),
    ).filter(F.trim("line") != "")
    lagg = lines.groupBy(id_col).agg(
        F.count("*").alias("n_lines"),
        F.sum(
            F.when(F.ltrim(F.col("line")).rlike(r"^[-*•]"), 1).otherwise(0)
        ).cast("long").alias("n_bullet_lines"),
        F.sum(
            F.when(F.rtrim(F.col("line")).rlike(r"\.\.\.$"), 1).otherwise(0)
        ).cast("long").alias("n_ellipsis_lines"),
    )
    j = base.join(lagg, id_col, "left").select(
        id_col,
        "n_words",
        "n_chars_nospace",
        "n_symbols",
        "n_alpha_words",
        "n_stopword_hits",
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("n_bullet_lines", F.lit(0)).alias("n_bullet_lines"),
        F.coalesce("n_ellipsis_lines", F.lit(0)).alias("n_ellipsis_lines"),
    )
    ok_words = F.col("n_words").between(50, 100_000)
    ok_mwl = (
        (F.col("n_chars_nospace") >= 3 * F.col("n_words"))
        & (F.col("n_chars_nospace") <= 10 * F.col("n_words"))
    )
    ok_symbol = F.col("n_symbols") * 10 <= F.col("n_words")
    ok_bullet = F.col("n_bullet_lines") * 10 <= 9 * F.col("n_lines")
    ok_ellipsis = F.col("n_ellipsis_lines") * 10 <= 3 * F.col("n_lines")
    ok_alpha = F.col("n_alpha_words") * 5 >= 4 * F.col("n_words")
    ok_stop = F.col("n_stopword_hits") >= 2
    return j.select(
        "*",
        ok_words.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_symbol.alias("ok_symbol_ratio"),
        ok_bullet.alias("ok_bullet_lines"),
        ok_ellipsis.alias("ok_ellipsis_lines"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stopwords"),
        (
            ok_words & ok_mwl & ok_symbol & ok_bullet & ok_ellipsis
            & ok_alpha & ok_stop
        ).alias("passes_gopher"),
    )
