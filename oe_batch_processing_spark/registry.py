"""Query registry shared by all operator modules.

Every implemented operator registers a named query callable
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) a DuckDB oracle SQL
string. ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
this registry, so the driver's differential harness sees every operator.

Exact-match discipline (why the DECIMAL dance exists):
The driver hash-compares values between Spark and DuckDB. Floating-point SUM is
order-dependent, and the two engines sum in different orders, so raw
``SUM(double)`` would differ in final ULPs and break the hash. Instead every
double aggregate is computed as ``CAST(SUM(CAST(term AS DECIMAL(18,6))) AS
DOUBLE)``: each *term* is a deterministic double expression (identical in both
engines), the cast to decimal is identical, decimal summation is exact and
order-independent, and the final decimal->double cast is identical. Result:
bit-equal doubles on both sides with no rounding fuzz.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# The driver's differential harness checks a registration-order PREFIX of
# about 50 queries; DRIVER_CHECK_PRIORITY fills that window. It leads with
# the queries whose code changed last, then takes the queries checked
# longest ago, so every query is re-checked on a rolling basis.
DRIVER_CHECK_PRIORITY: tuple[str, ...] = (
    # (1) re-checks of the latest changed code
    "pipeline_bpe_train",
    "pipeline_bpe_train_apply",
    "graph_kcore_trade",
    "graph_label_propagation",
    "graph_connected_components_star",
    "dedup_jaccard_shingles",
    "dedup_shingle_containment",
    "dedup_shingle_containment_clusters",
    "dedup_pipeline_tiered",
    "dedup_cluster_canonical",
    "pipeline_split_leakage_report",
    "stream_split_leakage_gate",
    "stream_foreachbatch_upsert",
    "stream_quality_classifier",
    # (2) the rows the previous window deferred, re-inserted
    "set_union_by_name",
    "sql_pipe_revenue_by_flag",
    "stats_anova_oneway",
    "stats_corr_regression",
    "stats_equidepth_bins",
    "stats_rank_correlation_battery",
    "stream_forecast_croston",
    "stream_periodogram_goertzel",
    "text_lexical_mattr",
    "users_churn_labels",
    "win_percent_of_total",
    # (3) the queries checked longest ago, alphabetically
    "ab_test_conversion_lift",
    "agg_bitwise_mode",
    "agg_ordered_set_percentiles",
    "alloc_largest_remainder",
    "arrow_user_value_stats",
    "asof_nearest_click",
    "customer_rfm_scores",
    "events_anomaly_seasonal",
    "events_ewma_user",
    "events_funnel_staged_windows",
    "events_gap_fill_locf",
    "events_late_arrival_profile",
    "events_pattern_sequence",
    "events_resample_interp_linear",
    "events_type_transitions",
    "events_weekly_seasonality",
    "intervals_coalesce_shipping",
    "join_range_pure_bucketized",
    "join_salted_orders_segment",
    "lineitem_abc_classification",
    "orders_open_backlog_daily",
    "quality_control_pchart",
    "scalar_collation_lcase",
    "scalar_try_arith_battery",
    "sql_udf_parameterized",
)

# Names owed to the next window (rotated out of the 50 slots by this
# window's re-checks), kept machine-readable so the rotation cannot be
# silently forgotten: tests assert these are registered, disjoint from the
# current window, and re-inserted next time.
DRIVER_CHECK_DEFERRED: tuple[str, ...] = (
    "stats_chi2_type_dow",
    "stream_ewma_user",
    "subquery_exists_projection",
    "subquery_not_in_null_trap",
    "udtf_python_word_stats",
    "win_rolling_distinct_users",
)



def driver_ordered(mapping: dict[str, object]) -> dict[str, object]:
    """Reorder a registry view so DRIVER_CHECK_PRIORITY names come first
    (in that order), then everything else in registration order."""
    ordered = {k: mapping[k] for k in DRIVER_CHECK_PRIORITY if k in mapping}
    ordered.update({k: v for k, v in mapping.items() if k not in ordered})
    return ordered

# Confs every query depends on, applied at call time because the harness may
# hand us a session built elsewhere (session.py's factory is not guaranteed).
# All of these are runtime-settable SQL confs.
_RUNTIME_CONFS = {
    # events.parquet is TIMESTAMP(NANOS): version-dependent read, normalized
    # in tables.load_table (bigint on <=3.x legacy conf, TIMESTAMP_NTZ on 4.1+)
    # date/time formatting must agree with the (UTC) DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    # Operators are written and oracle-matched for non-ANSI semantics
    # (element_at / strict CAST): pin it off even when the harness hands us
    # a session built elsewhere with Spark 4's ANSI-on default.
    "spark.sql.ansi.enabled": "false",
}


_PYFILES_SENT: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors even when the session was
    built elsewhere (no PYTHONPATH propagation): zip the package once and
    addPyFile it. Required by every Python-worker operator (``map_rows``,
    ``applyInPandas``, ...)."""
    import hashlib
    import os
    import zipfile

    app_id = spark.sparkContext.applicationId
    if app_id in _PYFILES_SENT:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # one zip per checkout: a shared name would let another checkout's newer
    # zip stand in for this one's sources on the executors
    digest = hashlib.md5(pkg_dir.encode()).hexdigest()[:12]
    zip_path = os.path.join("/tmp", f"oe_batch_processing_spark_pyfiles-{digest}.zip")
    newest_src = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _d, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest_src:
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fname in files:
                    if not fname.endswith(".py"):
                        continue
                    full = os.path.join(root, fname)
                    rel = os.path.join(
                        "oe_batch_processing_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:  # noqa: BLE001 — already added under this name
        pass
    _PYFILES_SENT.add(app_id)


_CONF_WARNED: set[str] = set()


def apply_runtime_confs(spark: SparkSession) -> None:
    # A conf that fails to apply (locked, or removed by a Spark upgrade —
    # how nanosAsLong silently died in 4.1.2) must be visible, not swallowed:
    # warn once per conf on stderr so the driver log shows environment drift.
    import sys

    for k, v in _RUNTIME_CONFS.items():
        problem = None
        try:
            spark.conf.set(k, v)
            got = spark.conf.get(k, None)
            if got != v:
                problem = f"set to {v!r} but reads back {got!r}"
        except Exception as exc:  # noqa: BLE001 — conf locked => keep going
            problem = f"failed to set: {exc}"
        if problem and k not in _CONF_WARNED:
            _CONF_WARNED.add(k)
            print(f"[oebp] WARNING: conf {k} {problem}", file=sys.stderr)
    _ship_package(spark)


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query recipe; ``oracle=None`` => rows-only driver check."""

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_runtime_confs(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE[name] = oracle
        return fn  # module-level name keeps the raw fn (composable)

    return deco


def dsum(col: Column | str, scale: int = 6) -> Column:
    """Order-independent, engine-exact sum of a double expression.

    SQL-side equivalent: ``CAST(SUM(CAST(x AS DECIMAL(18,{scale}))) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def davg(col: Column | str, scale: int = 6) -> Column:
    """Exact-match average: exact decimal sum divided by count, in double.

    Both engines perform one identical double division at the end.
    """
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, scale) / F.count(c)
