"""Name-probability subsystem (reference: ``name_probability/
counter.py``, ``nm_prob.py``; consumed via ``comparison_functions.py:
20-146`` and ``generate_data_rows.py:130-259``).

Three capabilities, each re-expressed as distributed DataFrame ops:

* **A7 — char-n-gram name model**: counts of every 5-gram and 4-gram
  occurrence over all records' ``'*first last*'`` strings
  (``counter.py:22-31``); ``P(name) = Π (c₅+s)/(c₄+s)`` over the name's
  5-gram positions (``counter.py:34-43``).  Counting is one
  explode+groupBy; per-name log-probs are an explode+join+sum — no
  driver-side state, fully SQL-expressible for the oracle.
* **A3 — count-percentile features**: min-method percentile rank of
  per-name record counts for full name / first / last
  (``generate_data_rows.py:144-146``); the ONLY name-prob features the
  reference keeps in its data rows are the pairwise ``diff``/``max`` of
  these (``generate_data_rows.py:253-259`` — the prob columns are
  computed then dropped).
* **F12 — first/last swap repair**: if the reversed name is closer in
  edit distance, swap fn/ln of the *less probable* side
  (``comparison_functions.py:77-146``).  The percentile lookups and the
  swap run in the data-rows stage, fused into one per-name dim join per
  pair side (:func:`pairs._attach_name_prob_features`); this module
  builds the dims.

**A8 — edit-op probabilities** (``counter.py:5-19``) is quadratic in
the sample by construction (editops over all name pairs); the reference
runs it driver-side on a subsample (``nm_prob.py:76-86``) and
:func:`edit_op_probs` does the same.  Nothing in the pipeline consumes
it: the reference's pairwise ``prob_same_person`` (``counter.py:46-77``)
is not among the data-rows features it keeps.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SMOOTHING = 0.001   # reference nm_prob.py:16
NGRAM_LEN = 5       # reference nm_prob.py:10


def name_prob_str(fn: Column, ln: Column) -> Column:
    """``'*first last*'`` with inner spaces removed
    (``comparison_functions.py:41-46``)."""
    return F.concat(F.lit("*"), F.regexp_replace(fn, " ", ""),
                    F.lit(" "), F.regexp_replace(ln, " ", ""),
                    F.lit("*"))


def _grams(col: Column, n: int) -> Column:
    """All n-gram positions of a string (empty array when too short —
    ``F.sequence`` would otherwise count DOWN for negative lengths)."""
    k = F.length(col) - (n - 1)
    return F.when(
        k >= 1,
        F.transform(F.sequence(F.lit(1), k),
                    lambda i: col.substr(i, F.lit(n)))
    ).otherwise(F.array().cast("array<string>"))


def ngram_counts(all_names: DataFrame,
                 fn_col: str = "first_name",
                 ln_col: str = "last_name") -> DataFrame:
    """A7 — occurrence counts of every 5-gram AND 4-gram over all
    records' name strings (multiplicity counts: the reference counts
    over the full name list, not distinct names).

    Output: (gram, cnt) — gram length distinguishes the two orders.
    One explode + one groupBy; at 10^12 rows the distinct-gram table is
    bounded by the alphabet (≤ 28⁵), so the shuffle fan-in is fixed.
    """
    s = name_prob_str(F.col(fn_col), F.col(ln_col))
    return (
        all_names
        .select(F.explode(F.concat(_grams(s, NGRAM_LEN),
                                   _grams(s, NGRAM_LEN - 1))).alias("gram"))
        .groupBy("gram").agg(F.count("*").alias("cnt"))
    )


def name_log_probs(all_names: DataFrame, counts: DataFrame,
                   fn_col: str = "first_name",
                   ln_col: str = "last_name",
                   smoothing: float = SMOOTHING) -> DataFrame:
    """Per-DISTINCT-name log P(name) under the n-gram model
    (``counter.py:34-43``): Σ over 5-gram positions of
    ``log((c₅+s)/(c₄+s))``; names shorter than 5 chars get NULL
    (reference returns probability 0, ``nm_prob.py:92-94``).

    Output: (name_prob_str, log_prob, prob).
    """
    names = (all_names
             .select(name_prob_str(F.col(fn_col), F.col(ln_col))
                     .alias("name_prob_str"))
             .distinct())
    pos = names.select(
        "name_prob_str",
        F.explode(F.when(
            F.length("name_prob_str") >= NGRAM_LEN,
            F.transform(
                F.sequence(F.lit(1),
                           F.length("name_prob_str") - (NGRAM_LEN - 1)),
                lambda i: F.struct(
                    F.col("name_prob_str").substr(i, F.lit(NGRAM_LEN))
                    .alias("g5"),
                    F.col("name_prob_str").substr(i, F.lit(NGRAM_LEN - 1))
                    .alias("g4")))
        ).otherwise(F.array().cast(
            "array<struct<g5:string,g4:string>>"))).alias("p"))
    c5 = counts.select(F.col("gram").alias("__g5"),
                       F.col("cnt").alias("__c5"))
    c4 = counts.select(F.col("gram").alias("__g4"),
                       F.col("cnt").alias("__c4"))
    terms = (
        pos
        .join(c5, pos["p.g5"] == c5["__g5"], "left")
        .join(c4, pos["p.g4"] == c4["__g4"], "left")
        .select(
            "name_prob_str",
            F.log((F.coalesce("__c5", F.lit(0)) + F.lit(smoothing))
                  / (F.coalesce("__c4", F.lit(0)) + F.lit(smoothing)))
            .alias("__t"))
    )
    probs = terms.groupBy("name_prob_str").agg(
        F.sum("__t").alias("log_prob"))
    return (names.join(probs, "name_prob_str", "left")
            .select("name_prob_str", "log_prob",
                    F.coalesce(F.exp("log_prob"), F.lit(0.0))
                    .alias("prob")))


def count_percentiles(all_names: DataFrame, expr: Column,
                      out_col: str) -> DataFrame:
    """A3 — min-method percentile rank (rounded to 2) of per-value
    record counts (``generate_data_rows.py:144-146``: pandas
    ``rank(pct=True, method='min').round(2)``).

    Output: (value, <out_col>).  Distributed rank decomposition (same
    scheme as the commonness penalty, ``blocking.py:135-190``): a naive
    ``rank() OVER (ORDER BY __cnt)`` funnels every distinct name
    through ONE task — at web scale distinct names ~ O(records), the
    next Amdahl term.  Min-method rank = 1 + #values with a strictly
    smaller count, so the only window needed runs over the
    *frequency-of-frequencies* table (#distinct counts rows — hundreds
    at any scale); the per-value join back is an ordinary broadcast.
    Identical output, no single-task stage over values.
    """
    counts = (all_names.select(expr.alias("value"))
              .groupBy("value").agg(F.count("*").alias("__cnt")))
    cnts = counts.groupBy("__cnt").agg(F.count("*").alias("__n_same"))
    w = Window.orderBy("__cnt") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = (cnts
           .withColumn("__below",
                       F.sum("__n_same").over(w) - F.col("__n_same"))
           .select("__cnt", "__below"))
    total = counts.select(F.count("*").alias("__n"))
    return (
        counts.join(F.broadcast(cum), "__cnt")
        .crossJoin(F.broadcast(total))
        .withColumn(out_col,
                    F.round((F.col("__below") + 1) / F.col("__n"), 2))
        .select("value", out_col)
    )


def percentile_dims(all_names: DataFrame,
                    fn_col: str = "first_name",
                    ln_col: str = "last_name"
                    ) -> dict[str, DataFrame]:
    """The three reference percentile lookups
    (``generate_data_rows.py:144-146``): full name / first / last."""
    fn = F.regexp_replace(F.col(fn_col), " ", "")
    ln = F.regexp_replace(F.col(ln_col), " ", "")
    return {
        "name": count_percentiles(
            all_names, name_prob_str(F.col(fn_col), F.col(ln_col)),
            "count_pctl_name"),
        "fn": count_percentiles(all_names, fn, "count_pctl_fn"),
        "ln": count_percentiles(all_names, ln, "count_pctl_ln"),
    }


# ---------------------------------------------------------------------------
# A8 — edit-op probabilities (driver-side sampled, like the reference)
# ---------------------------------------------------------------------------

def editops(a: str, b: str) -> list[tuple[str, int, int]]:
    """Minimal Levenshtein edit operations ``(op, src_pos, dst_pos)``
    with op ∈ {replace, insert, delete}, matching python-Levenshtein's
    ``editops`` semantics (``counter.py:12``): standard DP matrix +
    backtrace preferring replace > insert > delete on ties."""
    m, n = len(a), len(b)
    d = [[0] * (n + 1) for _ in range(m + 1)]
    for i in range(m + 1):
        d[i][0] = i
    for j in range(n + 1):
        d[0][j] = j
    for i in range(1, m + 1):
        for j in range(1, n + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d[i][j] = min(d[i - 1][j - 1] + cost,
                          d[i][j - 1] + 1, d[i - 1][j] + 1)
    ops = []
    i, j = m, n
    while i > 0 or j > 0:
        if i > 0 and j > 0 and d[i][j] == d[i - 1][j - 1] \
                and a[i - 1] == b[j - 1]:
            i, j = i - 1, j - 1
        elif i > 0 and j > 0 and d[i][j] == d[i - 1][j - 1] + 1:
            ops.append(("replace", i - 1, j - 1))
            i, j = i - 1, j - 1
        elif j > 0 and d[i][j] == d[i][j - 1] + 1:
            ops.append(("insert", i, j - 1))
            j -= 1
        else:
            ops.append(("delete", i - 1, j))
            i -= 1
    ops.reverse()
    return ops


def edit_op_probs(names: list[str]) -> tuple[dict, int]:
    """A8 — edit-op counts over all pairs of a (sampled) name list
    (``counter.py:5-19``).  Quadratic: keep the sample bounded like the
    reference's ``edit_count_max`` (``nm_prob.py:76-86``)."""
    edit_count: dict = defaultdict(int)
    total = 0
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            for op in editops(names[i], names[j]):
                edit_count[op] += 1
                total += 1
    return dict(edit_count), total
