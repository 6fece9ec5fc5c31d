"""The benchmark's workloads: what each one generates, registers and
runs, and the DuckDB SQL its outputs are checked against.

``flox_small`` runs rows of the repository's query registry
(``__spark_entry__.queries()``) over seeded sf0.1-shaped tables and
checks them against the registry's own ``oracle_sql()``.
``flox_big`` runs flox reductions and scans over a seeded long-format
array and checks them against the SQL in ``BIG_ORACLES``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import gen

# flox_small's registry rows, in the fixed order every pass runs them:
# flox reductions (the SQL-text fast path, the quantile "driver" route
# with its plan-build collect, a multi-aggregate), the kmeans operator
# with its plan-build collects, and lsh_sig_768, whose signature matmul
# runs in Python workers behind an Arrow ``mapInPandas`` hop.
#
# Both workloads run five queries whose walls rank in a fixed order, and
# a run keeps seven timed passes (``run.TIMED_PASSES``): the median of
# its 35 samples is then the middle sample of the third-ranked query and
# the tail (``stats.tail``, 10 samples beyond) the middle sample of the
# fourth, not a sample at the edge of the gap between two queries' walls.
FLOX_SMALL = ["sum", "quantile", "q1_multi", "kmeans", "lsh_sig_768"]

# flox_big's size: large enough that execution is most of every
# query's wall, small enough that a run fits its time budget
BIG_ROWS = 500_000
# flox_big runs with its size gates lowered from the 64 MB / 12 MB
# defaults, so this input (plan-stats estimate ~5 MB for a key and the
# value) takes the routes a default-gated input past 64 MB takes: the
# exact quantiles go "refine", and the scan pays one blocked-route
# probe job
BIG_OPTIONS = {
    "quantile_driver_max_bytes": 256 << 10,
    "quantile_agg_max_bytes": 1 << 20,
    "blocked_route_min_bytes": 1 << 20,
}

_W = "CASE WHEN isnan(v) THEN NULL ELSE v END"
BIG_ORACLES = {
    "nansum_k": f"SELECT k, coalesce(sum({_W}), 0) AS r FROM big WHERE k IS NOT NULL GROUP BY k",
    "nanargmax_hk": f"""
        SELECT hk, (list(id ORDER BY v DESC, id ASC) FILTER (WHERE NOT isnan(v)))[1] AS r
        FROM big WHERE hk IS NOT NULL GROUP BY hk""",
    "nanquantile_k": f"SELECT k, quantile_cont({_W}, 0.9) AS r FROM big WHERE k IS NOT NULL GROUP BY k",
    "nanmedian_hk": f"SELECT hk, quantile_cont({_W}, 0.5) AS r FROM big WHERE hk IS NOT NULL GROUP BY hk",
    "nancumsum_hk": f"""
        SELECT id, hk, sum(coalesce({_W}, 0)) OVER (PARTITION BY hk ORDER BY id) AS nancumsum
        FROM big""",
}


def _big_queries() -> dict[str, Callable]:
    # the engine's functions are looked up when a query is built, so a
    # traced run sees them through the ledger's wrappers
    import flox_spark

    def reduce(by, func, **kw):
        return lambda spark, d, t: flox_spark.groupby_reduce(
            t["big"], by, func=func, value="v", alias="r", **kw
        )

    def scan(func):
        return lambda spark, d, t: flox_spark.groupby_scan(
            t["big"], "hk", func=func, value="v", order_by="id"
        ).select("id", "hk", func)

    return {
        "nansum_k": reduce("k", "nansum"),
        "nanargmax_hk": reduce("hk", "nanargmax", order_by="id"),
        "nanquantile_k": reduce("k", "nanquantile", finalize_kwargs={"q": 0.9}),
        "nanmedian_hk": reduce("hk", "nanmedian"),
        "nancumsum_hk": scan("nancumsum"),
    }


@dataclass
class Workload:
    name: str
    tables: list[str]
    # query name -> callable(spark, data_dir, tables) -> DataFrame,
    # where tables maps each table name to its registered DataFrame
    queries: dict[str, Callable]
    oracles: dict[str, str]
    generate: Callable[[int, str], dict[str, int]]
    # "registry" rows compare with the registry checker's normalisation,
    # "numeric" rows with a sorted, tolerance-based array comparison
    check: str = "registry"
    options: dict = field(default_factory=dict)

    def register(self, spark, data_dir: str) -> dict:
        """Input registration: one reader per table, made the way the
        workload's queries read it (registry rows go through the entry
        module's per-session reader memo)."""
        if self.check == "registry":
            import __spark_entry__ as entry

            return {t: entry._t(spark, data_dir, t) for t in self.tables}
        from flox_spark.sources import load_table

        return {t: load_table(spark, data_dir, t) for t in self.tables}


def _registry_row(fn: Callable) -> Callable:
    """A registry row takes ``(spark, sf_dir)`` and reaches its tables
    through the entry module's reader memo, which ``register`` filled."""
    return lambda spark, data_dir, tables: fn(spark, data_dir)


def get(name: str) -> Workload:
    if name == "flox_big":
        return Workload(
            name=name,
            tables=["big"],
            queries=_big_queries(),
            oracles=BIG_ORACLES,
            generate=lambda seed, d: {"big": gen.write_long_array(seed, BIG_ROWS, d)},
            check="numeric",
            options=BIG_OPTIONS,
        )
    if name == "flox_small":
        import __spark_entry__ as entry

        tables = ["lineitem", "events", "embeddings"]
        registry, oracles = entry.queries(), entry.oracle_sql()
        return Workload(
            name=name,
            tables=tables,
            queries={n: _registry_row(registry[n]) for n in FLOX_SMALL},
            oracles={n: oracles[n] for n in FLOX_SMALL},
            generate=lambda seed, d: gen.tpch_like(seed, d, tables),
        )
    raise KeyError(f"unknown workload {name!r}; known: {', '.join(NAMES)}")


NAMES = ["flox_small", "flox_big"]
