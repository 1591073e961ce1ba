"""Central query registry backing ``__spark_entry__.py``.

Every named capability of the engine registers here as a pair:
a Spark callable ``(spark, sf_dir) -> DataFrame`` and an equivalent
DuckDB ANSI-SQL oracle string. The driver's correctness gate
runs both sides at sf=0.01 and hash-compares.

Conventions (driver contract):
- alias every computed column identically on both sides;
- round floating aggregates (usually 6 dp; 2 dp for large sums) on BOTH
  sides so cross-engine double summation-order noise cannot flip the hash;
- no ``current_timestamp()`` / randomness in compared output;
- every ORDER BY ... LIMIT query carries a total-order tiebreak key.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str  # DuckDB SQL
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def _sql_code_mask(sql: str) -> list[bool]:
    """``mask[i]`` is True where ``sql[i]`` is SQL code: outside
    single-quoted string literals (a doubled '' stays inside) and outside
    ``--`` comments, which run to the end of the line. An apostrophe in a
    comment therefore opens no literal."""
    mask = [True] * len(sql)
    i, n = 0, len(sql)
    while i < n:
        if sql[i] == "'":
            j = i + 1
            while j < n and (sql[j] != "'" or sql.startswith("''", j)):
                j += 2 if sql[j] == "'" else 1
            end = min(j + 1, n)
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            end = n if j == -1 else j
        else:
            i += 1
            continue
        mask[i:end] = [False] * (end - i)
        i = end
    return mask


def _rewrite_rounds(sql: str) -> str:
    """Rewrite every ``round(expr, n)`` in oracle SQL into the shared
    floor-based formula (functions/rounding.py): Spark's round() rounds the
    double's shortest decimal string while DuckDB rounds the binary value,
    so they disagree on boundary values like 0.5183125; floor(x·10ⁿ+0.5)/10ⁿ
    evaluated in double is bit-identical across engines. The Spark side
    uses functions.rounding.fround, the exact same arithmetic.

    Only code is rewritten: a ``round(`` inside a string literal or a
    ``--`` comment stays verbatim, and the argument scan counts only
    parentheses and commas that are code (_sql_code_mask)."""
    code = _sql_code_mask(sql)
    out = []
    i = 0
    low = sql.lower()
    while True:
        j = low.find("round(", i)
        # skip matches inside identifiers (e.g. "around(") — require a
        # non-word char before — and inside literals and comments
        while j != -1 and (
            not code[j] or (j > 0 and (sql[j - 1].isalnum() or sql[j - 1] == "_"))
        ):
            j = low.find("round(", j + 1)
        if j == -1:
            out.append(sql[i:])
            break
        out.append(sql[i:j])
        depth = 0
        k = j + len("round(")
        start = k
        last_comma = -1
        while True:
            ch = sql[k] if code[k] else ""
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                last_comma = k
            k += 1
        if last_comma == -1:
            # round(x) with no scale — leave untouched
            out.append(sql[j : k + 1])
        else:
            # recurse: a round() nested INSIDE the expression must also
            # rewrite, or it would stay engine-native on the DuckDB side
            expr = _rewrite_rounds(sql[start:last_comma])
            n = int(sql[last_comma + 1 : k].strip())
            p = float(10**n)
            out.append(f"(floor(({expr}) * {p} + 0.5) / {p})")
        i = k + 1
    return "".join(out)


# avg(quality_score) over many rows is order-sensitive double summation
# (scores are binary-inexact multiples of 0.2); both sides aggregate the
# exact integer completeness count q_int instead and divide once.
_AVG_QUALITY_SQL = "avg(quality_score)"
_AVG_QUALITY_INT_SQL = "(CAST(sum(q_int) AS DOUBLE) / (5.0 * count(*)))"


def register(name: str, oracle: str, doc: str = ""):
    """Decorator: register a query callable under ``name`` with its
    DuckDB ``oracle`` SQL.

    The registered form releases caches tracked by PREVIOUS queries on
    entry (caching.release_caches): harnesses that run many queries in one
    session (the parity sweep runs all of them) would otherwise
    accumulate every persist()ed intermediate (d4 signatures, ivf corpus)
    in executor storage memory with no release point. Releasing at
    next-query entry is safe because each harness materializes a query
    before building the next; a caller that interleaves construction
    merely loses the cache (recompute), never correctness. Direct imports
    of the undecorated functions (the test modules) are unaffected.
    """
    oracle = _rewrite_rounds(oracle.replace(_AVG_QUALITY_SQL, _AVG_QUALITY_INT_SQL))

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from .caching import release_caches

            release_caches()
            return fn(spark, sf_dir)

        _REGISTRY[name] = Query(name=name, fn=wrapped, oracle=oracle, doc=doc)
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    _ensure_loaded()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in all_queries().values()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in all_queries().values()}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every operator module for its registration side effects;
    the registry keeps registration (import) order."""
    global _LOADED
    if _LOADED:
        return
    from .operators import analytics, joins  # noqa: F401
    from .streaming import pipeline  # noqa: F401
    from .operators import (  # noqa: F401
        multimodal,
        dedup,
        similarity,
        sketches,
        textstats,
        advanced,
        serving,
        monitoring,
    )

    _LOADED = True
