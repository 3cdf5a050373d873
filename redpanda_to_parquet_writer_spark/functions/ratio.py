"""The exact-ratio rule every averaged or ratio column follows.

`round(num / den, 6)` on a double splits Spark from DuckDB at exact .5
ties (Spark rounds the shortest decimal repr via BigDecimal, DuckDB the
binary value), which is invisible at 9 significant digits but breaks a
value hash. Integer arithmetic on micro-units has no such tie: the
rounded quotient is an exact integer, and its one division by 1e6 is a
correctly rounded IEEE operation on every engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def exact_ratio(num: str, den: str) -> Column:
    """DOUBLE `num / den` rounded half away from zero at 6 dp, as
    `sign(num) * ((2*|num|*10^6 + den) DIV (2*den)) / 10^6`.

    `num` and `den` are SQL expressions; `num` is integral or a DECIMAL
    of at most 6 dp (so |num|*10^6 is integral), `den` is positive.
    Percentages pass `100 * num`. The micro-unit numerator is carried in
    DECIMAL(38,0) (`1000000BD` keeps a BIGINT `num` out of int64
    arithmetic), so the only int64 term is the quotient: the result must
    stay under ~9.2e12. NULL when `den` is 0.
    """
    # a CASE guard, not nullif(): Spark plans nullif as a common
    # expression whose session-wide `_common_expr_N` name would make
    # every plan's text depend on what the session planned before it
    n, d = f"({num})", f"({den})"
    return F.expr(
        f"CASE WHEN {d} <> 0 THEN CAST((CASE WHEN {n} < 0 THEN -1 ELSE 1 END)"
        f" * ((2 * CAST(abs({n}) * 1000000BD AS DECIMAL(38,0)) + {d})"
        f"    DIV (2 * {d})) AS DOUBLE) / 1000000.0 END"
    )
