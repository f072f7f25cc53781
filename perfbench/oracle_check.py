"""Oracle comparison of one analytics output, aware of rounding ties.

The comparison is ``tests/oracle_harness.compare_frames`` (reused
read-only). Several headline queries and their DuckDB oracles apply
``round(x, n)`` to a double aggregate, e.g. TPC-H Q5's
``round(sum(l_extendedprice * (1 - l_discount)), 2)``. The generated
prices have two decimals and the discounts are whole percents, so the
exact sum has four decimals, and about one group in a hundred lands
exactly on a half unit of the rounding, such as 339742.8350. There the
two engines may disagree by one unit in the last kept digit even on
bit-identical doubles: Spark rounds the double 339742.83499999996 half
up on its exact binary value (.83), DuckDB gives .84. Neither result
is wrong for ``round`` of a double whose exact decimal value is a tie.

So when ``compare_frames`` reports a mismatch, the output is accepted
only if every differing cell is such a tie: a float cell where the two
values are adjacent at some rounding scale 10^-k and the oracle's own
unrounded value (the oracle SQL re-run with every ``round`` call
replaced by its first argument) lies on the half unit between them.
Every other mismatch still fails. The number of accepted ties is
reported, so they stay visible.
"""

from __future__ import annotations

import math
import re

import pandas as pd

_ROUND = re.compile(r"\bround\s*\(", re.IGNORECASE)


def strip_round(sql: str) -> str:
    """``sql`` with every ``round(a[, n])`` call replaced by ``(a)``
    (``sql`` unchanged if a call does not close)."""
    out, pos = [], 0
    while (m := _ROUND.search(sql, pos)) is not None:
        out.append(sql[pos: m.start()])
        i, depth, quote, comma = m.end(), 1, None, None
        while depth:
            if i == len(sql):  # unbalanced, e.g. "round(" inside a literal
                return sql
            ch = sql[i]
            if quote:
                quote = None if ch == quote else quote
            elif ch in "'\"":
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1 and comma is None:
                comma = i
            i += 1
        first = sql[m.end(): comma if comma is not None else i - 1]
        out.append("(" + strip_round(first) + ")")
        pos = i
    out.append(sql[pos:])
    return "".join(out)


def _aligned(df: pd.DataFrame, keys: list[str], floats: list[str]) -> pd.DataFrame:
    """Columns by name, rows by the non-float columns first, so the
    rounded and unrounded frames pair up row by row."""
    from tests.oracle_harness import normalize

    out = normalize(df)
    return out.sort_values(by=keys + floats, kind="mergesort").reset_index(drop=True)


def _is_tie(a: float, b: float, raw: float) -> bool:
    d = abs(a - b)
    if not d or not math.isfinite(raw):
        return False
    k = round(-math.log10(d))
    if not 0 <= k <= 8:
        return False
    scale = 10.0**k
    # rounding error of the doubles themselves, at their magnitude
    slack = 4 * math.ulp(max(abs(a), abs(b), abs(raw))) * scale
    scaled = raw * scale
    lo = math.floor(scaled)
    pair = sorted((a * scale, b * scale))
    return (
        abs(d * scale - 1) <= 1e-9 + slack
        and abs(scaled - (lo + 0.5)) <= 1e-9 + 2e-12 * abs(scaled)
        and abs(pair[0] - lo) <= 1e-6 + slack
        and abs(pair[1] - lo - 1) <= 1e-6 + slack
    )


def round_ties(got: pd.DataFrame, want: pd.DataFrame, raw: pd.DataFrame) -> int | None:
    """Number of differing cells if every one is a rounding tie (see
    the module doc), else None."""
    cols = sorted(want.columns)
    if sorted(got.columns) != cols or sorted(raw.columns) != cols or not len(got) == len(want) == len(raw):
        return None
    floats = [c for c in cols if pd.api.types.is_float_dtype(want[c])]
    keys = [c for c in cols if c not in floats]
    g, w, r = (_aligned(df, keys, floats) for df in (got, want, raw))
    if not g[keys].equals(w[keys]) or not w[keys].equals(r[keys]):
        return None
    ties = 0
    for c in floats:
        for a, b, v in zip(g[c], w[c], r[c]):
            if (pd.isna(a) and pd.isna(b)) or abs(a - b) <= 1e-9 + 1e-9 * abs(b):
                continue
            if not _is_tie(float(a), float(b), float(v)):
                return None
            ties += 1
    return ties


def check(got: pd.DataFrame, want: pd.DataFrame, sql: str, data: str, name: str) -> tuple[list[str], int]:
    """(problems, accepted rounding ties) of one query output ``got``
    against ``want``, the result of the oracle ``sql`` over ``data``."""
    from tests.oracle_harness import compare_frames, run_oracle

    problems = compare_frames(got, want, name)
    if not problems or _ROUND.search(sql) is None:
        return problems, 0
    ties = round_ties(got, want, run_oracle(strip_round(sql), data))
    return (problems, 0) if ties is None else ([], ties)
