"""SQL-expressible quality rules: the C4/Gopher subset as native Catalyst
expressions, whose oracles are static DuckDB SQL.

Five rules over one whitespace token split per row: word count, mean word
length, "lorem ipsum", "{" and the '#'-per-word ratio. `_staged_rules`
defines them once for both stages below. The ratio thresholds are written
integer-exact (cross-multiplied), as is the filter_ablation oracle, so no
boundary case depends on how an engine rounds a double division.

The full caption rule set (language-ID, perplexity, line rules) runs over
the frozen core in operators/fused.py.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import functions as F

# Java regex \s+ spelled as its explicit ASCII class so the DuckDB
# oracles can use the IDENTICAL pattern (RE2's \s omits \x0B)
ASCII_WS = "[ \\t\\n\\x0B\\f\\r]+"


def _staged_rules(df, text_col: str, carry_cols):
    """(staged frame, {rule: fail column}): the token split is staged once
    per row into word count, token chars and '#' count; each fail column
    reads only those and the text."""
    c = F.col(text_col)
    staged = df.select(
        *carry_cols, c, F.split(F.trim(c), ASCII_WS).alias("_toks")
    ).select(
        *carry_cols,
        c,
        F.size("_toks").alias("_wc"),
        F.aggregate("_toks", F.lit(0), lambda a, t: a + F.length(t)).alias(
            "_tok_chars"
        ),
        (F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))).alias(
            "_hashes"
        ),
    )
    wc, tok_chars = F.col("_wc"), F.col("_tok_chars")
    fails = {
        "word_count": ~((wc >= 3) & (wc <= 256)),
        # mean word length in [2, 14]
        "mean_word_len": ~((tok_chars >= 2 * wc) & (tok_chars <= 14 * wc)),
        "lorem_ipsum": F.contains(F.lower(c), F.lit("lorem ipsum")),
        "brace": F.contains(c, F.lit("{")),
        # '#' per word > 0.1
        "hash_ratio": 10 * F.col("_hashes") > wc,
    }
    return staged, fails


def heuristic_keep(df, text_col: str, carry_cols):
    """SQL-expressible C4/Gopher rule subset as a reusable stage: returns
    (carry_cols..., keep boolean), keep = no rule fails. Shared by the
    standalone quality_filter_heuristic query and the
    curation_pipeline composite so the thresholds cannot drift between
    them (their DuckDB oracles render the same rules)."""
    staged, fails = _staged_rules(df, text_col, carry_cols)
    return staged.select(*carry_cols, (~reduce(or_, fails.values())).alias("keep"))


def rule_ablation(df, text_col: str = "text"):
    """Per-rule loss accounting over the heuristic_keep rule set: for
    every rule, how many docs FAIL it (n_fail) and how many are dropped
    by it ALONE (n_unique_fail — the docs that rule uniquely costs the
    corpus; the number ablation studies argue about). ONE pass: five
    boolean columns → one partial-aggregated global row → a 5-row stack;
    no UDF, one tiny final exchange."""
    staged, fails = _staged_rules(df, text_col, [])
    flagged = staged.select(
        *[v.alias(f"_f_{k}") for k, v in fails.items()]
    )
    n_fails = [F.col(f"_f_{k}").cast("int") for k in fails]
    total_fails = sum(n_fails[1:], n_fails[0])
    aggs = []
    for k in fails:
        f = F.col(f"_f_{k}").cast("int")
        aggs.append(F.sum(f).alias(f"nf_{k}"))
        aggs.append(
            F.sum(
                ((f == 1) & (total_fails == 1)).cast("int")
            ).alias(f"uf_{k}")
        )
    wide = flagged.agg(*aggs)
    stack_args = ", ".join(
        f"'{k}', nf_{k}, uf_{k}" for k in fails
    )
    return wide.select(
        F.expr(
            f"stack({len(fails)}, {stack_args}) "
            "AS (rule, n_fail, n_unique_fail)"
        )
    )
