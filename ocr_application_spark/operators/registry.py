"""The one query registry behind the driver contract.

Every operator module registers its queries with ``@op(name, oracle)``.
``__spark_entry__.queries()`` and ``oracle_sql()`` import the operator
modules and read the two dicts below; importing this module alone
registers nothing.
"""

from __future__ import annotations

#: query name -> callable taking (spark, sf_dir) and returning a DataFrame
QUERIES: dict = {}
#: query name -> DuckDB SQL twin (absent for rows-only queries)
ORACLES: dict = {}


def op(name: str, oracle: str | None = None):
    """Register the decorated function as query ``name``, paired with
    its ``oracle`` SQL when given. A name registers once."""

    def deco(fn):
        if name in QUERIES:
            old = QUERIES[name]
            raise ValueError(
                f"query {name!r} is already registered to "
                f"{old.__module__}.{old.__qualname__}; "
                f"cannot register {fn.__module__}.{fn.__qualname__}"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
