"""Streaming data-quality monitors — the "Poll" use case
(reference README.md:207: "auto-generation of data anomaly tests:
freshness, schema, volume, and data drift" running continually).

Each monitor is a windowed/stateless streaming transformation over an
arriving fact stream; anomaly rows append once event-time windows seal,
so a downstream rule/alert sink treats them exactly like instance
alerts (A3/A6 shapes).

State-size story at scale: every aggregate below is keyed by
(entity, tumbling window) under a watermark — state is
O(active entities × windows in horizon), independent of stream length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .aggstore import store_sink


def volume_anomaly_stream(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    expected_per_window: float,
    tolerance_pct: float = 50.0,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Volume drift: per-(key, window) record counts compared against
    the profiled baseline rate; rows outside ±tolerance% append as
    anomalies (the streaming face of Row_Ct_Pct)."""
    w = stream.withWatermark(ts_col, watermark).groupBy(
        F.window(ts_col, window).alias("w"), F.col(key_col)
    ).agg(F.count(F.lit(1)).alias("record_ct"))
    dev = F.round(
        100.0 * F.abs(F.col("record_ct") - F.lit(expected_per_window)) / F.lit(max(expected_per_window, 1.0)),
        2,
    )
    return (
        w.select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.col(key_col),
            "record_ct",
            dev.alias("deviation_pct"),
        )
        .filter(F.col("deviation_pct") > tolerance_pct)
        .withColumn("alert_type", F.lit("VOLUME_ANOMALY"))
    )


def freshness_stream(
    stream: DataFrame, ts_col: str, key_col: str, watermark: str = "2 hours"
) -> DataFrame:
    """Freshness: newest event time per key (update mode). Staleness =
    now - last_seen is evaluated by the consumer at read time — the
    absence-timeout variant (alert WHEN stale) is ``run_tracker.py``'s
    timer pattern."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .agg(F.max(ts_col).alias("last_seen"), F.count(F.lit(1)).alias("event_ct"))
    )


def schema_drift_stream(stream: DataFrame, expected_cols: list[str]) -> DataFrame:
    """Schema check: stateless per-batch projection guard. Missing
    columns surface as one anomaly row per micro-batch element (JSON
    sources yield null columns rather than failing, so null-rate per
    required column is the drift signal)."""
    checks = []
    for c in expected_cols:
        if c not in stream.columns:
            # column absent entirely: constant anomaly rows
            checks.append(F.lit(c))
        else:
            checks.append(F.when(F.col(c).isNull(), F.lit(c)))
    present = F.array_compact(F.array(*checks))
    return (
        stream.select(F.explode(present).alias("missing_column"))
        .withColumn("alert_type", F.lit("SCHEMA_DRIFT"))
    )


def psi_drift_stream(
    stream: DataFrame,
    col: str,
    edges: list[float],
    baseline_counts: list[float],
    ts_col: str = "ts",
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Distribution drift, live: one PSI row per sealed event-time
    window against the frozen profiling baseline — the streaming face
    of ``operators/drift.py:psi_trend`` (identical bin/EPS/term math,
    so a replayed history matches the batch trend row-for-row; see the
    parity test in tests/test_streaming.py).

    Pure windowed aggregation: the PSI folds conditional bin sums
    inside ONE agg, so state per (window) is just bins+1 counters and
    rows append when the watermark seals the window — no custom state,
    no second pass.
    """
    from ..operators.drift import EPS, _bucket_expr, _psi_terms

    if len(baseline_counts) != len(edges) + 1:
        raise ValueError("need len(edges) + 1 baseline counts")
    base = _psi_terms(baseline_counts)
    b = _bucket_expr(col, edges)
    n = F.count(col).cast("double")
    terms = []
    for i, p1 in enumerate(base):
        cur = F.sum(((b == i) & F.col(col).isNotNull()).cast("int")) / F.nullif(
            n, F.lit(0.0)
        )
        p2 = F.greatest(cur, F.lit(EPS))
        terms.append((p2 - F.lit(p1)) * F.log(p2 / F.lit(p1)))
    psi = F.round(sum(terms[1:], terms[0]), 6)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(
            psi.alias("psi"),
            F.when(psi > 0.25, "MAJOR")
            .when(psi > 0.1, "MODERATE")
            .otherwise("STABLE")
            .alias("drift"),
        )
        .select(F.col("w.start").alias("window_start"), "psi", "drift")
    )


def burn_rate_stream(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    error_pred: Column,
    slo: float = 0.01,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming error-budget burn rate: per-(key, window) error
    fraction against the SLO — the live face of the batch
    ``error_budget_burn`` analytic (the 6 h rolling window stays a
    batch/serving concern; streaming emits the 1 h spot rate and the
    consumer rolls it up, exactly how multi-window burn alerts are
    deployed). Windowed conditional counts only — state per key-window
    is two longs, evicted at the watermark."""
    w = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), F.col(key_col))
        .agg(
            F.sum(error_pred.cast("long")).alias("err_ct"),
            F.count(F.lit(1)).alias("tot_ct"),
        )
    )
    return w.select(
        F.col("w.start").alias("window_start"),
        F.col(key_col),
        "err_ct",
        "tot_ct",
        F.round((F.col("err_ct") / F.col("tot_ct")) / F.lit(slo), 4).alias("burn_1h"),
    )


def lateness_stats_stream(
    stream: DataFrame,
    ts_col: str,
    arrival_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermark calibration: per event-time window, how late rows
    actually arrive — max/avg lateness (arrival - event time, seconds)
    and the count arriving later than common candidate horizons. This
    is the metric that says whether the configured watermark drops
    data: if p_late beyond your horizon is nonzero, sealed windows
    undercount and the horizon must widen (or the producer's clock is
    skewed).

    ``arrival_col`` is an ingest-time column stamped by the source
    (e.g. a Kafka/ingest timestamp) — NOT processing time, so the same
    expression is deterministic in batch replays and the DuckDB twin
    can value-check it. Epoch math uses ``cast("double")`` (keeps
    microseconds; ``unix_timestamp`` truncates to seconds and would
    diverge from DuckDB's ``epoch()`` at boundaries).

    One windowed aggregation; state per window is five numbers."""
    late_s = F.col(arrival_col).cast("double") - F.col(ts_col).cast("double")
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("event_ct"),
            F.round(F.max(late_s), 3).alias("max_late_s"),
            F.round(
                F.sum(F.round(late_s * 1000, 0).cast("long")) / F.count(F.lit(1)) / 1000.0,
                3,
            ).alias("avg_late_s"),
            F.sum((late_s > 3600.0).cast("long")).alias("late_1h_ct"),
            F.sum((late_s > 7200.0).cast("long")).alias("late_2h_ct"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_ct",
            "max_late_s",
            "avg_late_s",
            "late_1h_ct",
            "late_2h_ct",
        )
    )


CUSUM_OUTPUT_SCHEMA = (
    "k string, o string, v long, s_up long, s_dn long,"
    " alarm_up boolean, alarm_dn boolean"
)
_CUSUM_STATE_SCHEMA = "s_up long, s_dn long"
# saturate the accumulators at 100x the decision interval: a shift that
# persists for years would otherwise grow S without bound (int64
# overflow); past 100h the chart has long since alarmed, and decay back
# below h still takes <= 100 windows — document, don't overflow
_CUSUM_SAT = 100


def _make_cusum_update(center_e4: int, k_bp: int, h_bp: int):
    up_ref = 10000 * center_e4 + k_bp * center_e4  # 1e8*(c + k), exact ints
    dn_ref = 10000 * center_e4 - k_bp * center_e4  # 1e8*(c - k)
    h_scaled = h_bp * center_e4
    sat = _CUSUM_SAT * max(h_scaled, 1)

    def update(key, pdfs, state):
        import pandas as pd  # noqa: PLC0415 (worker-side import)

        s_up, s_dn = state.get if state.exists else (0, 0)
        out = []
        for pdf in pdfs:
            # counts for one ordinal sum WITHIN a micro-batch (raw
            # per-event increments collapse to one fold step per
            # ordinal), then fold in ordinal order — vectorized, never
            # a per-row Python loop over the raw stream
            agg = pdf.groupby("o", sort=True)["v"].sum()
            for o, v in agg.items():
                v = int(v)
                s_up = min(max(0, s_up + (100000000 * v - up_ref)), sat)
                s_dn = min(max(0, s_dn + (dn_ref - 100000000 * v)), sat)
                out.append(
                    (key[0], o, v, s_up, s_dn, s_up > h_scaled, s_dn > h_scaled)
                )
        state.update((int(s_up), int(s_dn)))
        if out:
            yield pd.DataFrame(
                out,
                columns=["k", "o", "v", "s_up", "s_dn", "alarm_up", "alarm_dn"],
            )

    return update


def cusum_stream(
    counts: DataFrame,
    center_e4: int,
    key_col: str = "k",
    ord_col: str = "o",
    val_col: str = "v",
    k_bp: int = 2500,
    h_bp: int = 20000,
) -> DataFrame:
    """Unbounded CUSUM level-shift monitor over a PRE-AGGREGATED
    (key, ordinal, count) stream — the streaming face of
    ``operators/drift.py:cusum_screen``. Batch CUSUM centers on the
    pooled mean; a stream cannot know it, so the reference center is
    FIXED (``center_e4``, 1e-4 units — production centers come from
    the profiled baseline, exactly like PSI's frozen bins).

    Same integer recursion, scaled by 1e8 so all state is exact int64:
    d+ = 1e8*v - 1e8*c - 1e8*k, S+ = max(0, S+ + d+) saturated at
    100x the decision interval (a years-long shift must not overflow;
    past 100h the chart alarmed long ago), alarm when S+ > h_bp *
    center_e4. State per key is TWO integers forever — the smallest
    state footprint in the streaming family.

    Precondition: ordinals arrive non-decreasing per key across
    micro-batches (rows within a batch are sorted here); an
    out-of-order replay changes which window the alarm lands on, not
    whether a sustained shift alarms."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = counts.select(
        F.col(key_col).cast("string").alias("k"),
        F.col(ord_col).cast("string").alias("o"),
        F.col(val_col).cast("long").alias("v"),
    )
    return src.groupBy("k").applyInPandasWithState(
        _make_cusum_update(int(center_e4), int(k_bp), int(h_bp)),
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=_CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def wasserstein_stream(
    stream: DataFrame,
    col: str,
    edges: list[float],
    baseline_counts: list[int],
    ts_col: str = "ts",
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Wasserstein-1 against the frozen profiling baseline, live: one
    row per sealed event-time window with the area between the
    window's binned CDF and the baseline's — 'by how much has this
    window's distribution moved', complementing psi_drift_stream the
    way batch W1 complements KS.

    The whole statistic folds inside ONE windowed agg: per fixed bin
    j, the cumulative count is a sum of conditional sums, and W1 =
    sum_j |cumA_j * Nb - B_j * Na| with B_j frozen integer constants —
    exact DECIMAL(38,0) arithmetic, w1_e6 = floor(1e6 * W1 /
    (Na*Nb*bins)). State per window is bins+1 counters; rows append on
    watermark seal. NULL for an empty window-side (no rows)."""
    from ..operators.drift import _bucket_expr

    if len(baseline_counts) != len(edges) + 1:
        raise ValueError("need len(edges) + 1 baseline counts")
    nbins = len(baseline_counts)
    b = _bucket_expr(col, edges)
    nb = int(sum(baseline_counts))
    na = F.sum(F.col(col).isNotNull().cast("long"))
    cum_b = 0
    terms = []
    cum_a = None
    for j, bc in enumerate(baseline_counts[:-1]):  # last cum gap is 0
        c_j = F.sum(((b == j) & F.col(col).isNotNull()).cast("long"))
        cum_a = c_j if cum_a is None else (cum_a + c_j)
        cum_b += int(bc)
        terms.append(
            F.abs(
                cum_a.cast("decimal(38,0)") * F.lit(nb)
                - F.lit(cum_b).cast("decimal(38,0)") * na
            )
        )
    s = terms[0]
    for t in terms[1:]:
        s = s + t
    w1 = F.expr(
        f"CAST((_s * 1000000) DIV (CAST(_na AS DECIMAL(38,0)) * {nb} * {nbins})"
        " AS BIGINT)"
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(na.alias("_na"), s.alias("_s"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("_na").cast("long").alias("n"),
            F.when(F.col("_na") > 0, w1).alias("w1_e6"),
        )
    )


def profile_partial_sink(
    stream: DataFrame,
    store: str,
    checkpoint: str,
    table_name: str,
    columns: list[str] | None = None,
    retain: int | None = None,
    **trigger,
):
    """CONTINUOUS PROFILING: every micro-batch reduces to its mergeable
    partial-profile state (one agg pass, O(columns x stats) rows), a
    profile-store partial of :func:`streaming.aggstore.store_sink` —
    the streaming face of the no-rescan profile
    (operators/profile.py: profile_partial / merge_partials /
    finalize_profile). A monitoring job then reads the store, merges
    the partials, and finalizes, WITHOUT ever re-scanning history; the
    partial algebra is associative, so batch boundaries (and retention
    rollups) are invisible in the result (parity-pinned by pytest)."""
    from ..operators.profile import merge_partials, profile_partial

    return store_sink(
        stream, store, checkpoint,
        lambda df, _: profile_partial(df, table_name, columns=columns),
        lambda parts: merge_partials(*parts),
        retain, **trigger,
    )
