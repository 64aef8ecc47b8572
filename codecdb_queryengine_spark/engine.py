"""Engine facade — the "engine as a library" entry point.

The reference is embedded as a library (an Arrow fork exposing LQF's
operator vocabulary, SURVEY.md §0/§3); this facade is the PySpark
equivalent: one object that owns the session, the table catalog, the
named-query registry, and the plan-builder, so a user of the reference
can switch with three lines:

    from codecdb_queryengine_spark.engine import Engine
    eng = Engine.local(sf_dir="/root/testdata/sf0.1")
    eng.query("q3").show()              # any of the 150+ named queries
    eng.sql("SELECT count(*) FROM lineitem").show()
    eng.plan("lineitem").filter("l_quantity < 5").done()   # builder API

Everything is thin delegation — no logic lives here — so the facade can
never drift from the gated query surface.

Plan once, run many: `query` goes through the registry, which analyzes a
pure base-table entry (one whose build launches no job, writes no file and
starts no stream; each query module declares them in `PLAN_ONCE`) once per
(session, sf_dir) and returns a fresh Dataset over the kept analyzed plan
on later calls (catalog.plan_once).  Optimization, physical planning and
execution run on every call: the DataFrame itself is never reused, because
re-collecting one under AQE reuses its materialized shuffle stages, which
would make it a result cache.  A new session, another sf_dir,
catalog.reload_tables, or a change of session time zone, ANSI mode or case
sensitivity builds afresh.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from codecdb_queryengine_spark.catalog import (
    DEFAULT_SF_DIR,
    load_tables,
    register_views,
)


class Engine:
    """Session + catalog + named queries + plan builder in one handle."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir
        register_views(spark, sf_dir)

    @classmethod
    def local(
        cls, sf_dir: str = DEFAULT_SF_DIR, app_name: str = "codecdb-queryengine-spark"
    ) -> "Engine":
        """Engine on a tuned local session (session.get_spark defaults)."""
        from codecdb_queryengine_spark.session import get_spark

        return cls(get_spark(app_name), sf_dir)

    # --- catalog ----------------------------------------------------------
    def tables(self) -> dict[str, DataFrame]:
        return load_tables(self.spark, self.sf_dir)

    def table(self, name: str) -> DataFrame:
        try:
            return self.tables()[name]
        except KeyError:
            raise KeyError(
                f"unknown table {name!r}; available: {sorted(self.tables())}"
            ) from None

    # --- queries ----------------------------------------------------------
    @staticmethod
    def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
        """Every gated named query (the __spark_entry__ registry)."""
        import __spark_entry__ as entry

        return entry.queries()

    def query(self, name: str) -> DataFrame:
        qs = self.queries()
        try:
            fn = qs[name]
        except KeyError:
            raise KeyError(
                f"unknown query {name!r}; {len(qs)} available, e.g. "
                f"{sorted(qs)[:8]}"
            ) from None
        return fn(self.spark, self.sf_dir)

    def sql(self, text: str) -> DataFrame:
        """SQL over the registered table views (entry point A of §3)."""
        return self.spark.sql(text)

    # --- plan builder (entry point B: imperative operator chaining) -------
    def plan(self, table: str, columns=None):
        from codecdb_queryengine_spark.plans.builder import Plan

        return Plan.scan(self.table(table), columns)
