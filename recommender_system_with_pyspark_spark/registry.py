"""Query registry — the driver contract surface.

Every implemented operator from SURVEY.md §2 registers here as a named query
(a ``(spark, sf_dir) -> DataFrame`` callable) plus, where the semantics are
ANSI-SQL-expressible, an equivalent DuckDB oracle SQL string. The driver
runs both at sf=0.01 and compares row-count + schema + order-insensitive
value hash, so:

- every computed column is aliased identically on both sides;
- float aggregates are rounded identically on both sides (sums of doubles
  are order-sensitive in the last ulps; rounding makes the hash stable);
- integer aggregates are cast to BIGINT on the DuckDB side (DuckDB sums
  integers into INT128).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` marks a non-SQL-expressible op
    (driver falls back to a rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all_queries() -> None:
    """Import every query module so registration side effects run.
    ``QUERIES`` keeps registration order; consumers look queries up by name."""
    from . import queries_relational  # noqa: F401
    from . import queries_text  # noqa: F401
    from . import queries_ml  # noqa: F401
    from . import queries_streaming  # noqa: F401
    from . import queries_temporal  # noqa: F401
    from . import queries_composite  # noqa: F401
    from . import queries_tpch_shapes  # noqa: F401
    from . import queries_corpus  # noqa: F401
    from . import queries_round5  # noqa: F401
    from . import queries_round6  # noqa: F401
    from . import queries_round7  # noqa: F401
    from . import queries_round8  # noqa: F401
    from . import queries_round9  # noqa: F401
    from . import queries_round10  # noqa: F401
    from . import queries_round11  # noqa: F401
    from . import queries_round12  # noqa: F401
    from . import queries_round13  # noqa: F401
