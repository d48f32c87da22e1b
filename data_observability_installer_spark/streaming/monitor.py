"""Serving face of the continuous-monitoring pane: compose the five
screens from the CONTINUOUS STORES instead of recomputing them from
raw events.

The oracle-checked pane (plans/registry.py monitor_events) recomputes
every screen from the events table — the correctness face. In
production the same verdicts should come from the stores the streaming
sinks maintain (that is why the stores exist): daily type counts and
per-run rollup counters from two :func:`streaming.aggstore.agg_sink`
cubes, and SLA percentiles from the keyed
:func:`streaming.sketch.qsketch_sink` store. Serving latency is then
O(store size) — distinct keys and sketch nodes — with the raw event
log never rescanned.

Parity: the agg-store folds (sum/min/max) are exact under any batch
split, and the screens are deterministic integer arithmetic, so the
four count-based screens are ROW-identical to the recomputed pane over
the same ingest (pytest-pinned). The SLA screen reads the MERGED
per-batch sketches; node-residual merge keeps every count at an
ancestor of its true leaf, so estimates match the one-shot sketch
whenever per-batch sketches stay uncompressed (k budget not hit) and
stay within the q-digest rank bound beyond that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CP_FLAG_Q = 1_000_000      # changepoint alert floor on the 1e-4-quantized gain
SLA_P99_FLAG_S = 6 * 3600  # SLA screen: flag pipelines with p99 >= 6h
_SLA_BPS = [5000, 9000, 9900]  # quantiles read off the SLA sketch

COUNTS_KEYS = ["k", "o"]
COUNTS_FOLDS = {"v": "sum"}
RUNS_KEYS = ["pipeline_key", "run_key"]
RUNS_FOLDS = {"start_ts": "min", "end_ts": "max",
              "err_ct": "sum", "pur_ct": "sum"}


def monitor_pane(
    daily: DataFrame,
    runs: DataFrame,
    sk: DataFrame,
    cp_flag_q: int = CP_FLAG_Q,
    sla_flag_s: int = SLA_P99_FLAG_S,
    qs_lo: int = 0,
    qs_hi: int = (1 << 17) - 1,
) -> DataFrame:
    """The five screens composed to (screen, entity, flagged, detail),
    ordered by screen and entity — the one composition the recomputed
    pane (plans/registry.py monitor_events) and the stored pane share.

    ``daily``: (k, o='yyyy-MM-dd', v) daily volume per event type; ISO
    day strings sort like days, so Mann-Kendall orders on ``o``.
    ``runs``: (pipeline_key, start_ts, failed) one row per run.
    ``sk``: keyed quantile-sketch nodes of run durations in whole
    seconds per pipeline_key (k_key, level, idx, cnt)."""
    from pyspark.sql import functions as F

    from ..operators.drift import changepoint, cusum_screen, mann_kendall, p_chart
    from ..operators.sketch import qsketch_quantiles

    mk = mann_kendall(daily, ord_col="o").selectExpr(
        "'mk_trend' AS screen", "k AS entity",
        "significant AS flagged", "CAST(s_stat AS STRING) AS detail",
    )
    cs = cusum_screen(daily).selectExpr(
        "'cusum' AS screen", "k AS entity",
        "out_of_control AS flagged",
        "CAST(upper_alarms + lower_alarms AS STRING) AS detail",
    )
    cp = changepoint(daily).selectExpr(
        "'changepoint' AS screen", "k AS entity",
        f"gain_q >= {cp_flag_q} AS flagged",
        "CAST(gain_q AS STRING) AS detail",
    )
    pc_counts = runs.groupBy(
        F.concat(
            F.col("pipeline_key"), F.lit("|"),
            F.date_format("start_ts", "yyyy-MM-dd"),
        ).alias("k")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("failed").cast("long")).alias("x"),
    )
    pc = (
        p_chart(pc_counts)
        .groupBy(F.split_part(F.col("k"), F.lit("|"), F.lit(1)).alias("entity"))
        .agg(
            F.max(F.col("breach")).alias("flagged"),
            F.sum(F.col("breach").cast("int")).cast("long").cast("string")
            .alias("detail"),
        )
        .selectExpr("'p_chart' AS screen", "entity", "flagged", "detail")
    )
    sla = (
        qsketch_quantiles(sk, _SLA_BPS, lo=qs_lo, hi=qs_hi)
        .filter(F.col("q_bp") == 9900)
        .selectExpr(
            "'sla_p99' AS screen", "k_key AS entity",
            f"est >= {sla_flag_s} AS flagged", "CAST(est AS STRING) AS detail",
        )
    )
    return (
        cp.unionByName(cs)
        .unionByName(mk)
        .unionByName(pc)
        .unionByName(sla)
        .orderBy("screen", "entity")
    )


def monitor_pane_stored(
    spark,
    counts_store: str,
    runs_store: str,
    qsketch_store: str,
    cp_flag_q: int = CP_FLAG_Q,
    sla_flag_s: int = SLA_P99_FLAG_S,
    qs_lo: int = 0,
    qs_hi: int = (1 << 17) - 1,
) -> DataFrame:
    """The five-screen pane (screen, entity, flagged, detail) read from
    the stores (see module docstring).

    ``counts_store``: agg_sink cube keyed (k, o='yyyy-MM-dd') with
    ``{"v": "sum"}`` — daily volume per event type. ``runs_store``:
    agg_sink cube keyed (pipeline_key, run_key) with min start / max
    end / summed error+purchase counters — the mergeable run rollup; a
    run with any error event counts as failed. ``qsketch_store``:
    keyed qsketch_sink store (``key_col=``) of run durations in whole
    seconds per pipeline_key."""
    from pyspark.sql import functions as F

    from .aggstore import read_agg_store
    from .sketch import read_qsketch_store

    runs = read_agg_store(spark, runs_store, RUNS_KEYS, RUNS_FOLDS).select(
        "pipeline_key", "start_ts", (F.col("err_ct") > 0).alias("failed")
    )
    return monitor_pane(
        read_agg_store(spark, counts_store, COUNTS_KEYS, COUNTS_FOLDS),
        runs,
        read_qsketch_store(spark, qsketch_store),
        cp_flag_q, sla_flag_s, qs_lo, qs_hi,
    )
