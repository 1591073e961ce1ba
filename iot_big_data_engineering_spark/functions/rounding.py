"""Cross-engine deterministic rounding.

Spark's ``round(x, n)`` rounds the SHORTEST DECIMAL REPRESENTATION of the
double (``BigDecimal.valueOf`` → HALF_UP on the string), while DuckDB
rounds the binary value (multiply/floor). For doubles whose shortest
representation terminates with a 5 at digit n+1 (e.g. 0.5183125 at n=6 —
common for small-integer ratios), the engines disagree by 1 ulp of the
target scale and the oracle hash breaks.

``fround`` sidesteps the whole class: floor(x·10ⁿ + 0.5) / 10ⁿ computed in
double — both engines evaluate the identical float expression on the
identical input double, so the result is bit-identical by construction.
For negative inputs this is half-up toward +∞, not half-away-from-zero —
which is exactly why any quantity that CAN go negative (the t17b/j23b
log-space sort keys: PMI/log-lift < 0 is routine) must round through
``fround`` on the Spark side, never Spark's or DuckDB's native ``round``
(half away from zero): on a negative .5 boundary the two conventions
land one quantum apart and can reorder near-ties in a rank-compared
surface. Oracle SQL writes plain ``round(x, n)``: ``registry.register``
rewrites every such call into the same floor expression
(``registry._rewrite_rounds``), so with both engines on one formula the
convention difference is unobservable.

The second determinism hazard — double summation ORDER across partitions —
is handled at the query level: money sums go through exact DECIMAL
arithmetic, quality-score averages through integer sums (see operator
modules).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def fround(col: Column | str, n: int = 6) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    p = float(10**n)
    return F.floor(c * F.lit(p) + F.lit(0.5)) / F.lit(p)
