"""Grouped-map feature factory: ``groupBy(conv_id).applyInPandas``.

The graft analogue of the reference's per-spectrum ``extract_features``
kernel (reference: src/pipeline/feature_engineering.py:1222-1358) run
under its process pool (reference: src/pipeline/processing.py:124-143,
387-444): Spark's scan replaces the I/O thread pool, Arrow replaces the
buffer-protocol IPC, reused Python workers replace the long-lived
ProcessPool, and the module-level kernel import replaces
``_init_cpu_worker``'s once-per-process init.

The kernel is the SAME code as the pandas oracle
(:func:`astrospectro_spark.oracle.pandas_oracle.featurize_pdf`) — one
source of truth for per-entity semantics; tests cross-check this path
against the pure-expression path (:func:`engine.windows.featurize_expr`).

When to use which: the expression path is the default (JVM-side, no
Arrow hop); this path exists for kernels that genuinely need NumPy/SciPy
per entity (the reference's savgol/gaussian-fit analogues) and as the
semantics oracle at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from astrospectro_spark.engine.windows import FEATURE_SCHEMA, WIDE_FEATURE_COLS
from astrospectro_spark.oracle.pandas_oracle import featurize_pdf

_WIDE_TYPES = {
    "accel_text_len": "double",
    "active_time_run_s": "double",
    "clip_text_len_600": "double",
    "cum_mean_text_len": "double",
    "cum_tool_set": "long",
    "days_since_start": "long",
    "gap_capped_600": "double",
    "gap_max_run": "double",
    "gap_roll_max_10": "double",
    "gap_roll_mean_10": "double",
    "gauss_narrow_text_len": "double",
    "high_gap_count_run": "long",
    "hour_of_week": "int",
    "is_month_start": "int",
    "is_night": "int",
    "is_zero_gap": "int",
    "lag4_text_len_delta": "double",
    "lag5_text_len_delta": "double",
    "log2_text_len": "double",
    "mean_gap_run": "double",
    "pct_change_text_len": "double",
    "pct_system_so_far": "double",
    "pct_tool_set_so_far": "double",
    "pct_user_so_far": "double",
    "rate_3600s": "double",
    "relu_text_len": "double",
    "roll_max_text_len_20": "double",
    "roll_mean_text_len_20": "double",
    "roll_min_text_len_20": "double",
    "roll_std_text_len_10": "double",
    "roll_sum_text_len_20": "long",
    "run_depth_text_len": "int",
    "sess_frac_of_turns": "double",
    "sigmoid_steep_text_len": "double",
    "text_len_cube_scaled": "double",
    "text_len_is_even": "int",
    "text_len_range_norm": "double",
    "text_sum_3600s": "long",
    "time_since_start_s": "double",
    "tool_len": "int",
    "turn_rate_conv": "double",
    "week_of_month": "long",
    "zscore_roll_text_len_5": "double",
    "cum_text_len": "long",
    "day_of_month": "int",
    "day_of_week": "int",
    "exp_decay_text_len": "double",
    "gap_bucket_min": "long",
    "gauss_text_len": "double",
    "hour_bucket": "long",
    "inv1p_text_len": "double",
    "is_business_hours": "int",
    "is_empty_text": "int",
    "is_long_text": "int",
    "is_prev_assistant": "int",
    "is_prev_user": "int",
    "log1p_gap": "double",
    "month": "int",
    "quarter": "int",
    "ramp_text_len": "double",
    "roll_max_text_len_10": "double",
    "roll_mean_text_len_10": "double",
    "roll_min_text_len_10": "double",
    "roll_sum_text_len_10": "long",
    "softsign_text_len": "double",
    "sqrt_text_len": "double",
    "text_len_bin": "long",
    "text_len_sq": "double",
    "tool_is_set": "int",
    "gap_roll_max_5": "double",
    "gap_roll_mean_5": "double",
    "hour_of_day": "int",
    "is_assistant": "int",
    "is_system": "int",
    "is_tool": "int",
    "is_user": "int",
    "is_weekend": "int",
    "lag2_text_len_delta": "double",
    "lag3_text_len_delta": "double",
    "log1p_text_len": "double",
    "minute_of_hour": "int",
    "pct_assistant_so_far": "double",
    "pct_tool_so_far": "double",
    "prev_role": "string",
    "rate_300s": "double",
    "role_changed": "int",
    "roll_max_text_len_5": "double",
    "roll_min_text_len_5": "double",
    "roll_std_text_len_5": "double",
    "roll_sum_text_len_5": "long",
    "run_max_text_len": "int",
    "run_min_text_len": "int",
    "sess_cum_text_len": "long",
    "sess_mean_text_len": "double",
    "session_elapsed_s": "double",
    "sigmoid_text_len": "double",
    "text_len_zscore_run": "double",
    "text_sum_300s": "long",
    "tool_changed": "int",
    "turn_frac_day": "double",
    "turn_idx_conv": "int",
    "turn_rate_session": "double",
    # growth tier 4
    "alpha_proxy_idx": "double",
    "cbrt_text_len": "double",
    "cos_dow": "double",
    "cos_hour": "double",
    "ew_balance_text": "double",
    "feh_proxy_idx": "double",
    "gap_is_long": "double",
    "gap_over_text": "double",
    "geo_mean_text_tool": "double",
    "harmonic_text_tool": "double",
    "is_dawn": "int",
    "is_evening": "int",
    "is_first_turn": "int",
    "is_short_text": "int",
    "is_very_long_text": "int",
    "log10_text_len": "double",
    "logg_proxy_idx": "double",
    "minute_of_day": "int",
    "role_code": "int",
    "second_of_minute": "int",
    "sin_dow": "double",
    "sin_hour": "double",
    "signed_log1p_delta": "double",
    "tanh_text_len": "double",
    "teff_proxy_idx": "double",
    "text_kb_bucket": "long",
    "text_minus_tool": "int",
    "text_tool_ratio": "double",
    "gap_roll_min_5": "double",
    "gap_roll_min_10": "double",
    "gap_roll_range_5": "double",
    "lag2_ts_gap_s": "double",
    "lag3_ts_gap_s": "double",
    "lag6_text_len_delta": "double",
    "lag7_text_len_delta": "double",
    "rate_900s": "double",
    "roll_assistant_rate_10": "double",
    "roll_range_text_len_10": "double",
    "roll_range_text_len_20": "double",
    "roll_role_changes_10": "long",
    "roll_std_text_len_20": "double",
    "roll_tool_rate_10": "double",
    "text_sum_60s": "long",
    "text_sum_900s": "long",
    "wing_asym_5": "double",
    "wing_auc_4": "double",
    "zscore_roll_text_len_10": "double",
    "conv_first_text_len": "int",
    "cum_empty_text": "long",
    "cum_long_text": "long",
    "cum_role_changes": "long",
    "is_session_start": "int",
    "run_std_text_len": "double",
    "sess_auc_trapezoid": "double",
    "sess_depth_text_len": "int",
    "sess_gap_max_s": "double",
    "sess_max_text_len": "int",
    "sess_min_text_len": "int",
    "sess_start_hour": "int",
    "sess_std_text_len": "double",
    "text_len_vs_first": "int",
}
WIDE_SCHEMA = FEATURE_SCHEMA + ", " + ", ".join(
    f"{c} {_WIDE_TYPES[c]}" for c in WIDE_FEATURE_COLS
)


def featurize_grouped(
    df: DataFrame,
    gap_s: float = 1800.0,
    wide: bool = False,
) -> DataFrame:
    """One Arrow batch per conversation → pandas kernel → feature rows.

    The kernel re-sorts by (ts, turn_idx) internally — Spark does not
    guarantee group ordering into ``applyInPandas`` (SURVEY.md §4
    custom-work 2), so ordering is enforced where it is cheapest:
    inside the already-grouped pandas frame.

    Skew: a mega-conversation arrives as ONE group in ONE task. For
    skewed tables wrap with
    :func:`astrospectro_spark.engine.skew.featurize_salted` instead.
    """

    def kernel(pdf):
        return featurize_pdf(pdf, gap_s=gap_s, wide=wide)

    return df.groupBy("conv_id").applyInPandas(
        kernel, schema=WIDE_SCHEMA if wide else FEATURE_SCHEMA
    )
