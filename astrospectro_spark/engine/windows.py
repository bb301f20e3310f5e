"""Windowed / ordered-sequence operators — the heart of the engine.

Everything here is a pure DataFrame expression over
``Window.partitionBy(conv_id).orderBy(ts, turn_idx)`` — JVM-side,
whole-stage-codegen'd, ONE shuffle for the whole feature set (all
windows share the same partitioning, so Catalyst reuses the exchange).
No Python crosses the hot path.

Sort-pass discipline: windows are CLUSTERED by ordering family — all
(ts, turn_idx) row/cumulative frames first, then the
(conv_id, session_id) session family, then every rangeBetween frame
ordered by ONE staged epoch-µs column (``_usq``; a fresh
``unix_micros(ts)`` projection per window would give each frame its own
sort key). Catalyst inserts one Sort per family switch, so the 175-
column wide plan runs 3 sorts instead of 16 — at 10^12 rows each
avoided Sort is a full pass over every partition.

Every feature is defined once, in :func:`feature_plan`, which takes its
window partition columns: ``("conv_id",)`` here, ``("conv_id", "_tgt")``
for the salted chunks of :mod:`engine.skew`, which recombine the running
columns at the plan's stitch point by their stitch kind.

Leakage contract: every frame ends at the CURRENT ROW
(``rowsBetween(..., 0)`` / ``rangeBetween(..., 0)``) — no feature may
read turns with ``ts >`` the current turn. Lead-based columns are
emitted only under ``include_labels=True`` with a ``label_`` prefix:
they are training *targets*, never features (SURVEY.md §4 hard part c).

Reference parity: these are the graft analogues of the reference's
wavelength-axis kernels — sessionization ≙ peak detection
(reference: src/pipeline/peak_detector.py:94-132), lag/lead deltas ≙
np.gradient derivatives (src/pipeline/feature_engineering.py:683-698),
rolling means ≙ band means (src/pipeline/feature_engineering.py:291-337),
backfill ≙ post-merge NaN fill (src/pipeline/feature_engineering.py:1586-1615).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

SESSION_GAP_S = 1800.0
RATE_WINDOW_S = 60
ROLL_ROWS = 5
ROLES = ("assistant", "system", "tool", "user")

# Locked output schema — the analogue of the reference's dry-run
# feature-name lock (reference: src/pipeline/feature_engineering.py:277-285,
# 1354-1358), but explicit in code instead of runtime-discovered.
# Keys first, then features in alphabetical order.
KEY_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
FEATURE_COLS = [
    "cum_count_assistant",
    "cum_count_system",
    "cum_count_tool",
    "cum_count_user",
    "lag1_text_len_delta",
    "lag1_ts_gap_s",
    "rate_60s",
    "roll_mean_text_len_5",
    "session_id",
    "text_len",
    "tool_backfill",
    "turn_in_session",
]
LABEL_COLS = ["label_lead1_text_len", "label_lead1_ts_gap_s"]
# Wide tier (featurize_expr(wide=True)): row-local composites, extra
# bounded lags/rolls, range windows, and stitched cumulative/carry
# features. Alphabetical, appended after FEATURE_COLS.
WIDE_FEATURE_COLS = [
    "accel_text_len",
    "active_time_run_s",
    "alpha_proxy_idx",
    "cbrt_text_len",
    "clip_text_len_600",
    "conv_first_text_len",
    "cos_dow",
    "cos_hour",
    "cum_empty_text",
    "cum_long_text",
    "cum_mean_text_len",
    "cum_role_changes",
    "cum_text_len",
    "cum_tool_set",
    "day_of_month",
    "day_of_week",
    "days_since_start",
    "ew_balance_text",
    "exp_decay_text_len",
    "feh_proxy_idx",
    "gap_bucket_min",
    "gap_capped_600",
    "gap_is_long",
    "gap_max_run",
    "gap_over_text",
    "gap_roll_max_10",
    "gap_roll_max_5",
    "gap_roll_mean_10",
    "gap_roll_mean_5",
    "gap_roll_min_10",
    "gap_roll_min_5",
    "gap_roll_range_5",
    "gauss_narrow_text_len",
    "gauss_text_len",
    "geo_mean_text_tool",
    "harmonic_text_tool",
    "high_gap_count_run",
    "hour_bucket",
    "hour_of_day",
    "hour_of_week",
    "inv1p_text_len",
    "is_assistant",
    "is_business_hours",
    "is_dawn",
    "is_empty_text",
    "is_evening",
    "is_first_turn",
    "is_long_text",
    "is_month_start",
    "is_night",
    "is_prev_assistant",
    "is_prev_user",
    "is_session_start",
    "is_short_text",
    "is_system",
    "is_tool",
    "is_user",
    "is_very_long_text",
    "is_weekend",
    "is_zero_gap",
    "lag2_text_len_delta",
    "lag2_ts_gap_s",
    "lag3_text_len_delta",
    "lag3_ts_gap_s",
    "lag4_text_len_delta",
    "lag5_text_len_delta",
    "lag6_text_len_delta",
    "lag7_text_len_delta",
    "log10_text_len",
    "log1p_gap",
    "log1p_text_len",
    "log2_text_len",
    "logg_proxy_idx",
    "mean_gap_run",
    "minute_of_day",
    "minute_of_hour",
    "month",
    "pct_assistant_so_far",
    "pct_change_text_len",
    "pct_system_so_far",
    "pct_tool_set_so_far",
    "pct_tool_so_far",
    "pct_user_so_far",
    "prev_role",
    "quarter",
    "ramp_text_len",
    "rate_300s",
    "rate_3600s",
    "rate_900s",
    "relu_text_len",
    "role_changed",
    "role_code",
    "roll_assistant_rate_10",
    "roll_max_text_len_10",
    "roll_max_text_len_20",
    "roll_max_text_len_5",
    "roll_mean_text_len_10",
    "roll_mean_text_len_20",
    "roll_min_text_len_10",
    "roll_min_text_len_20",
    "roll_min_text_len_5",
    "roll_range_text_len_10",
    "roll_range_text_len_20",
    "roll_role_changes_10",
    "roll_std_text_len_10",
    "roll_std_text_len_20",
    "roll_std_text_len_5",
    "roll_sum_text_len_10",
    "roll_sum_text_len_20",
    "roll_sum_text_len_5",
    "roll_tool_rate_10",
    "run_depth_text_len",
    "run_max_text_len",
    "run_min_text_len",
    "run_std_text_len",
    "second_of_minute",
    "sess_auc_trapezoid",
    "sess_cum_text_len",
    "sess_depth_text_len",
    "sess_frac_of_turns",
    "sess_gap_max_s",
    "sess_max_text_len",
    "sess_mean_text_len",
    "sess_min_text_len",
    "sess_start_hour",
    "sess_std_text_len",
    "session_elapsed_s",
    "sigmoid_steep_text_len",
    "sigmoid_text_len",
    "signed_log1p_delta",
    "sin_dow",
    "sin_hour",
    "softsign_text_len",
    "sqrt_text_len",
    "tanh_text_len",
    "teff_proxy_idx",
    "text_kb_bucket",
    "text_len_bin",
    "text_len_cube_scaled",
    "text_len_is_even",
    "text_len_range_norm",
    "text_len_sq",
    "text_len_vs_first",
    "text_len_zscore_run",
    "text_minus_tool",
    "text_sum_300s",
    "text_sum_3600s",
    "text_sum_60s",
    "text_sum_900s",
    "text_tool_ratio",
    "time_since_start_s",
    "tool_changed",
    "tool_is_set",
    "tool_len",
    "turn_frac_day",
    "turn_idx_conv",
    "turn_rate_conv",
    "turn_rate_session",
    "week_of_month",
    "wing_asym_5",
    "wing_auc_4",
    "zscore_roll_text_len_10",
    "zscore_roll_text_len_5",
]
WIDE_RATE_S = 300
WIDE_RATE_MAX_S = 3600
WIDE_ROLL10 = 10
WIDE_ROLL20 = 20
FEATURE_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, "
    "cum_count_assistant int, cum_count_system int, cum_count_tool int, "
    "cum_count_user int, lag1_text_len_delta double, lag1_ts_gap_s double, "
    "rate_60s double, roll_mean_text_len_5 double, session_id int, "
    "text_len int, tool_backfill string, turn_in_session int"
)


_TAU = 6.283185307179586  # 2π, identical literal in the pandas oracle


def wide_local_exprs(enum_shuffle: bool = False) -> dict[str, Column]:
    """Row-local wide-tier composites (the graft of the reference's
    post-merge composite battery, src/pipeline/feature_engineering.py:
    1403-1712): pure per-row expressions over already-present columns
    (``text_len``, ``lag1_ts_gap_s``, ``prev_role``, ``tool``, ``ts``).
    ``prev_role`` and ``lag1_ts_gap_s`` must exist before applying.

    ``enum_shuffle``: role/prev_role hold 64-bit codes, ``tool_len`` is
    already staged below the exchange (length can't be read off a
    code), and registry comparisons use constant-folded code literals —
    value-identical outputs, locked by the wide bit-parity tests."""
    tl = F.col("text_len")
    tll = tl.cast("long")
    ssx = (tl - 300) / F.lit(150.0)
    nsx = (tl - 300) / F.lit(50.0)

    def rlit(r: str) -> Column:
        return enum_code_lit(r) if enum_shuffle else F.lit(r)

    tool_len = (
        F.col("tool_len")
        if enum_shuffle
        else F.coalesce(F.length("tool"), F.lit(0)).cast("int")
    )
    return {
        "clip_text_len_600": F.least(F.greatest(tl, F.lit(50)), F.lit(600)).cast("double"),
        "day_of_month": F.dayofmonth("ts").cast("int"),
        "exp_decay_text_len": F.exp(-tl / F.lit(500.0)),
        "gap_capped_600": F.when(
            F.col("lag1_ts_gap_s").isNotNull(),
            F.least(F.col("lag1_ts_gap_s"), F.lit(600.0)),
        ),
        "gauss_narrow_text_len": F.exp(F.lit(-0.5) * nsx * nsx),
        "hour_of_week": ((F.dayofweek("ts") - 1) * 24 + F.hour("ts")).cast("int"),
        "is_month_start": (F.dayofmonth("ts") == 1).cast("int"),
        "is_night": (F.hour("ts") < 6).cast("int"),
        "is_zero_gap": F.when(F.col("lag1_ts_gap_s") == 0, 1).otherwise(0).cast("int"),
        "log2_text_len": F.when(tl > 0, F.log2(tl)),
        "relu_text_len": F.greatest(F.lit(0.0), (tl - 300).cast("double")),
        "sigmoid_steep_text_len": F.lit(1.0)
        / (F.lit(1.0) + F.exp(-(tl - 200) / F.lit(20.0))),
        "text_len_cube_scaled": (tll * tll * tll).cast("double") / F.lit(1_000_000.0),
        "text_len_is_even": (tl % 2 == 0).cast("int"),
        "tool_len": tool_len,
        "week_of_month": (F.floor((F.dayofmonth("ts") - 1) / 7) + 1).cast("long"),
        # least/greatest SKIP nulls in Spark (unlike numpy's NaN
        # propagation), so the first-row null gap must be guarded
        "gap_bucket_min": F.floor(
            F.when(
                F.col("lag1_ts_gap_s").isNotNull(),
                F.least(F.col("lag1_ts_gap_s"), F.lit(86_400.0)),
            )
            / 60
        ).cast("long"),
        "gauss_text_len": F.exp(F.lit(-0.5) * ssx * ssx),
        "hour_bucket": F.floor(F.hour("ts") / 6).cast("long"),
        "inv1p_text_len": F.lit(1.0) / (1 + tl),
        "is_business_hours": F.hour("ts").between(9, 17).cast("int"),
        "is_empty_text": (tl == 0).cast("int"),
        "is_long_text": (tl > 500).cast("int"),
        "is_prev_assistant": F.when(F.col("prev_role") == rlit("assistant"), 1)
        .otherwise(0)
        .cast("int"),
        "is_prev_user": F.when(F.col("prev_role") == rlit("user"), 1)
        .otherwise(0)
        .cast("int"),
        "log1p_gap": F.when(
            F.col("lag1_ts_gap_s").isNotNull(),
            F.log1p(F.greatest(F.col("lag1_ts_gap_s"), F.lit(0.0))),
        ),
        "month": F.month("ts").cast("int"),
        "quarter": F.quarter("ts").cast("int"),
        "ramp_text_len": F.greatest(
            F.lit(0.0), F.least(F.lit(1.0), (tl - 100) / F.lit(400.0))
        ),
        "softsign_text_len": ssx / (1 + F.abs(ssx)),
        "sqrt_text_len": F.sqrt(tl),
        "text_len_bin": (F.floor(tl / 100) * 100).cast("long"),
        "text_len_sq": (tll * tll).cast("double"),
        "tool_is_set": F.col("tool").isNotNull().cast("int"),
        # ---- growth tier 4: proxy composites (graft of the reference's
        # Teff/logg/[Fe/H]/[α/Fe] composite indices,
        # src/pipeline/feature_engineering.py:1044-1114), cyclical time
        # encodings, text×tool interactions, signed-log1p stabilizer
        # (src/pipeline/feature_engineering.py:1755-1793) ----
        "alpha_proxy_idx": (F.greatest(F.lit(0.0), (tl - 300).cast("double")) / 100)
        * (F.lit(1.0) / (F.lit(1.0) + F.exp(-(tl - 200) / F.lit(80.0)))),
        "cbrt_text_len": F.cbrt(tl),
        "cos_dow": F.cos(F.lit(_TAU) * (F.dayofweek("ts") - 1) / F.lit(7.0)),
        "cos_hour": F.cos(F.lit(_TAU) * F.hour("ts") / F.lit(24.0)),
        "ew_balance_text": (tl - 120) / (tl + 120),
        "feh_proxy_idx": F.exp(F.lit(-0.5) * ssx * ssx) - F.exp(F.lit(-0.5) * nsx * nsx),
        "gap_is_long": F.when(
            F.col("lag1_ts_gap_s").isNotNull(),
            (F.col("lag1_ts_gap_s") > 600).cast("double"),
        ),
        "gap_over_text": F.col("lag1_ts_gap_s") / (tl + 1),
        "geo_mean_text_tool": F.sqrt(tll * tool_len),
        "harmonic_text_tool": (F.lit(2) * tll * tool_len).cast("double")
        / (tll + tool_len + F.lit(1)),
        "is_dawn": ((F.hour("ts") >= 6) & (F.hour("ts") < 9)).cast("int"),
        "is_evening": (F.hour("ts") >= 18).cast("int"),
        "is_first_turn": F.col("lag1_ts_gap_s").isNull().cast("int"),
        "is_short_text": (tl < 50).cast("int"),
        "is_very_long_text": (tl > 1000).cast("int"),
        "log10_text_len": F.when(tl > 0, F.log10(tl)),
        "logg_proxy_idx": F.lit(0.6) * F.log1p(tl) + F.lit(0.4) * F.sqrt(tl),
        "minute_of_day": (F.hour("ts") * 60 + F.minute("ts")).cast("int"),
        "role_code": F.when(F.col("role") == rlit("assistant"), 1)
        .when(F.col("role") == rlit("user"), 2)
        .when(F.col("role") == rlit("system"), 3)
        .when(F.col("role") == rlit("tool"), 4)
        .otherwise(0)
        .cast("int"),
        "second_of_minute": F.second("ts").cast("int"),
        "signed_log1p_delta": F.signum("lag1_text_len_delta")
        * F.log1p(F.abs("lag1_text_len_delta")),
        "sin_dow": F.sin(F.lit(_TAU) * (F.dayofweek("ts") - 1) / F.lit(7.0)),
        "sin_hour": F.sin(F.lit(_TAU) * F.hour("ts") / F.lit(24.0)),
        "tanh_text_len": F.tanh((tl - 300) / F.lit(150.0)),
        "teff_proxy_idx": F.lit(0.5)
        * (F.lit(1.0) / (F.lit(1.0) + F.exp(-(tl - 200) / F.lit(80.0))))
        + F.lit(0.3) * F.exp(F.lit(-0.5) * ssx * ssx)
        + F.lit(0.2)
        * F.greatest(F.lit(0.0), F.least(F.lit(1.0), (tl - 100) / F.lit(400.0))),
        "text_kb_bucket": F.floor(tl / F.lit(1024)).cast("long"),
        "text_minus_tool": (tl - tool_len).cast("int"),
        "text_tool_ratio": tl / (tool_len + F.lit(1)),
    }


def _enum_code(c: str) -> Column:
    """64-bit shuffle code for a short string column (NULL stays NULL —
    ``xxhash64(NULL)`` would return the seed, aliasing NULL with a real
    value). The code is globally consistent with no dictionary pass:
    any executor computes the same code for the same string."""
    return F.when(
        F.col(c).isNull(), F.lit(None).cast("long")
    ).otherwise(F.xxhash64(F.col(c)))


def enum_code_lit(value: str) -> Column:
    """The enum code of a literal — constant-folded by Catalyst, so
    coded-column equality against registry values stays codegen."""
    return F.xxhash64(F.lit(value))


def enum_decode(out: DataFrame, src: DataFrame, cols: dict[str, str]) -> DataFrame:
    """Decode enum-coded string columns via tiny broadcast dims.

    ``cols`` maps output column → source column (several outputs may
    share one source dim, e.g. ``tool`` and ``tool_backfill``). Each
    dim is a column-pruned distinct scan of ``src`` — at 100 TB that
    reads ONE dictionary-encoded parquet column and partial-aggregates
    map-side to a handful of rows, which is the trade: a cheap narrow
    scan buys string-free shuffle rows for the whole wide table. The
    joins are broadcast (no exchange added). 64-bit codes make a
    cross-string collision (which would duplicate rows through the dim
    join) ~2e-20·n² — the row-parity tests would catch one at any
    realistic domain size."""
    for out_col, src_col in cols.items():
        dim = (
            src.select(src_col)
            .where(F.col(src_col).isNotNull())
            .distinct()
            .select(
                F.xxhash64(src_col).alias("__code"),
                F.col(src_col).alias("__str"),
            )
        )
        out = (
            out.join(F.broadcast(dim), out[out_col] == dim["__code"], "left")
            .drop(out_col, "__code")
            .withColumnRenamed("__str", out_col)
        )
    return out


def _ts_us(col: str = "ts") -> Column:
    """Exact integer microseconds — gap arithmetic stays in int64 and
    divides once, so Spark and the pandas oracle produce bit-identical
    doubles (SURVEY.md §7.3 hard part a: float parity via fixed
    reduction order)."""
    return F.unix_micros(F.col(col).cast("timestamp"))


# ---- the O(1)-per-row window tricks, each defined once. Spark
# re-aggregates a SLIDING frame from scratch for every row
# (SlidingWindowFunctionFrame: O(rows-in-frame) updates per row), while a
# frame from UNBOUNDED PRECEDING is evaluated incrementally (rows are only
# ever added as the upper bound advances: O(1) per row amortized). Each
# helper states when its rewrite is exact.
def _growing(wr: WindowSpec, upper: int) -> WindowSpec:
    return wr.rangeBetween(Window.unboundedPreceding, upper)


def range_count(wr: WindowSpec, width_us: int) -> Column:
    """Rows with an order key in ``[t - width_us, t]``, over the range
    spec ``wr`` (partitioned, ordered by an integer-µs key), as the
    difference of two growing frames: rows in ``(-inf, t]`` minus rows
    in ``(-inf, t - width_us)``. Keys are integers, so
    ``(-inf, t - X) == (-inf, t - X - 1]`` exactly, and a difference of
    int counts equals the sliding count bit for bit."""
    return F.count(F.lit(1)).over(_growing(wr, 0)) - F.count(F.lit(1)).over(
        _growing(wr, -width_us - 1)
    )


def range_sum(c, wr: WindowSpec, width_us: int) -> Column:
    """Sum of ``c`` over ``[t - width_us, t]`` as a growing-frame
    difference (see :func:`range_count`); the empty "before" frame sums
    to NULL and is coalesced to 0. Exact when ``c`` is an integer
    column (int64 sums), which is how every caller uses it."""
    return F.sum(c).over(_growing(wr, 0)) - F.coalesce(
        F.sum(c).over(_growing(wr, -width_us - 1)), F.lit(0)
    )


def lagz(c: Column, k: int, w: WindowSpec) -> Column:
    """``c`` k rows back, 0 before the partition head. With ``c`` a
    running sum over ``w``'s rows, ``c - lagz(c, k, w)`` is the sum over
    the last k rows (fewer at the head, as the sliding frame) in O(1)
    per row; exact for int64 sums and their int counts, so the sums,
    means and moment formulas built on them match the sliding originals
    bit for bit."""
    return F.coalesce(F.lag(c, k).over(w), F.lit(0))


def block_minmax(agg, base: str, width: int, w: WindowSpec) -> Column:
    """Rolling max/min over ``width`` rows (a multiple of ``ROLL_ROWS``)
    from ``base``, the ``ROLL_ROWS``-row sliding max/min: ``agg``
    (``F.greatest``/``F.least``) of base at lags 0, 5, ..., width - 5.
    The blocks tile the frame exactly; at partition heads the early
    blocks already cover ``[1, t]`` and the missing lags are NULL, which
    greatest/least skip. Comparisons, not sums: exact for any type."""
    return agg(
        F.col(base), *[F.lag(base, j).over(w) for j in range(ROLL_ROWS, width, ROLL_ROWS)]
    )


def boundary_carry(x: Column, wcum: WindowSpec, at: Column | None = None) -> Column:
    """``x`` at the latest row where ``at`` holds (default: a session
    boundary, ``_sb == 1``), NULL before the first one:
    ``last(when(at, x), ignorenulls)`` over the running frame ``wcum``.
    With ``x`` = a running sum minus the row's own term, it is the sum
    just before the boundary, so ``sum - carry`` is the within-session
    running sum without a (conv, session) window: exact for int64."""
    flag = F.col("_sb") == 1 if at is None else at
    return F.last(F.when(flag, x), ignorenulls=True).over(wcum)


def session_max(sid: Column, x: Column, wcum: WindowSpec) -> Column:
    """``max(struct(sid, x))`` over the running frame: session ids are
    nondecreasing in the window order, so the lexicographic max lands
    in the CURRENT session and its field ``x`` is the within-session
    running max of ``x`` (min via ``-x``). Exact, comparisons only."""
    return F.max(F.struct(sid.alias("s"), x.alias("x"))).over(wcum)


# ---- stitch kinds. The plan runs over one window partition; the salted
# path (engine.skew) runs it per (conv_id, chunk) over the chunk's rows
# plus a copied suffix of the history before the chunk (its context
# rows). Bounded columns — lags, rows frames, growing-frame range
# differences, lag differences of running sums, block min/max — read at
# most plan_lookback() of history, so they are already exact on the
# chunk's rows. Only the RUNNING columns below (frames from UNBOUNDED
# PRECEDING whose value is used undifferenced) need recombining, and
# each needs only its kind:
#   SUM            running sum/count: + (exclusive prefix of the earlier
#                  chunks' totals) - (local value at the last context row)
#   MAX/MIN        greatest/least with the earlier chunks' value
#   FIRST/LAST     coalesce with the earlier chunks' first/last value
#   (CARRY, run)   last(when(_sb == 1, run - x)): shifts with ``run``'s
#                  SUM offset; with no local boundary, the earlier carry
#   (SMAX, key)    max(struct(key, x)) with a SUM key: shift the key,
#                  then greatest with the earlier chunks' struct
# A context suffix's oldest row lacks its lag-1 predecessor; every kind
# is exact regardless (its contribution cancels in a SUM offset, and a
# NULL lag only ever hides a value that the earlier chunks carry).
SUM, MAX, MIN, FIRST, LAST, CARRY, SMAX = (
    "sum", "max", "min", "first", "last", "carry", "smax"
)
_BASE_STITCH = {
    "_rn": SUM,
    "tool_backfill": LAST,
    **{f"cum_count_{r}": SUM for r in ROLES},
    "session_id": SUM,
    "_tis_carry": (CARRY, "_rn"),
}
_WIDE_STITCH = {
    "cum_text_len": SUM,
    "_ctl2": SUM,
    "cum_tool_set": SUM,
    "cum_empty_text": SUM,
    "cum_long_text": SUM,
    "high_gap_count_run": SUM,
    "_active_us": SUM,
    "cum_role_changes": SUM,
    "_ctrap": SUM,
    "_ctrapn": SUM,
    "run_max_text_len": MAX,
    "gap_max_run": MAX,
    "run_min_text_len": MIN,
    "conv_first_text_len": FIRST,
    "_first_us": FIRST,
    "_bnd_us": LAST,
    "_sess_carry": (CARRY, "cum_text_len"),
    "_s2carry": (CARRY, "_ctl2"),
    "_trapcarry": (CARRY, "_ctrap"),
    "_trapncarry": (CARRY, "_ctrapn"),
    "_sess_max": (SMAX, "session_id"),
    "_sess_min": (SMAX, "session_id"),
    "_sgap": (SMAX, "session_id"),
}


def plan_lookback(wide: bool) -> tuple[int, int]:
    """(rows, microseconds) of history the plan's bounded columns read
    behind a row. Wide: the 20-row rolls reach 19 rows back (lag7 and
    the 10-row gap rolls, whose oldest gap needs its predecessor, reach
    fewer) and the widest range frame is 3600 s."""
    if wide:
        return WIDE_ROLL20 - 1, WIDE_RATE_MAX_S * 1_000_000
    return ROLL_ROWS - 1, RATE_WINDOW_S * 1_000_000


def _wide_windows(df, w, wcum, wr, us, gap_s) -> DataFrame:
    """The wide tier's window columns, in DEPENDENCY LAYERS: each layer
    is one projection of mutually independent window expressions, so
    Catalyst extracts the whole layer into a single WindowExec pass
    (one row-copy per layer instead of one per column). Layers:

    - **RANGE** — every rangeBetween frame, ordered by the ONE staged
      ``_usq`` column so the whole family shares a single us-Sort (a
      fresh unix_micros projection per window would give each frame its
      own sort key). Merges with the caller's ``rate_60s`` node.
    - **W0** — every window over raw/base-staged columns (lags, the
      5-row frames, cumulative sums/extremes, the boundary timestamp).
    - **W1** — windows over W0-derived columns (role-change sums, the
      wing trapezoid integral, rolling sums as lag differences, block
      min/max) and the (conv, session) family as struct-max/carry forms
      over the same cumulative frame, so the family costs no extra pass.

    Row-wise derivations are left to :func:`_wide_derived`, after the
    stitch point. Requires ``_sb``, ``_rn``, ``_gap_us`` from the base
    layers.
    """
    w5 = w.rowsBetween(-(ROLL_ROWS - 1), Window.currentRow)
    w10 = w.rowsBetween(-(WIDE_ROLL10 - 1), Window.currentRow)
    w4a = w.rowsBetween(-1, 0)
    w4b = w.rowsBetween(-4, -3)
    wtrap = w.rowsBetween(-3, 0)
    tl = F.col("text_len")
    tll = tl.cast("long")
    gap = F.col("lag1_ts_gap_s")
    rn = F.col("_rn")

    # ---- RANGE first: every rangeBetween frame while the row is
    # narrow (merges with the caller's rate_60s node — same spec,
    # adjacent, independent), as growing-frame differences (a sliding
    # 3600 s frame is ~110 rows per row on a dense mega-conversation).
    def _rate(sec: int) -> Column:
        return range_count(wr, sec * 1_000_000).cast("double")

    def _tsum(sec: int) -> Column:
        return range_sum(tl, wr, sec * 1_000_000).cast("long")

    df = df.withColumns(
        {
            "rate_300s": _rate(WIDE_RATE_S),
            "text_sum_300s": _tsum(WIDE_RATE_S),
            "rate_3600s": _rate(WIDE_RATE_MAX_S),
            "text_sum_3600s": _tsum(WIDE_RATE_MAX_S),
            "rate_900s": _rate(900),
            "text_sum_900s": _tsum(900),
            "text_sum_60s": _tsum(RATE_WINDOW_S),
        }
    )

    # ---- W0: one WindowExec over (conv)(ts, turn_idx) frames ----
    df = df.withColumns(
        {
            "_lag_tll": F.lag(tll).over(w),
            "_lag2_tll": F.lag(tll, 2).over(w),
            "prev_role": F.lag("role").over(w),
            "_prev_tool": F.lag("tool").over(w),
            "cum_text_len": F.sum(tl).over(wcum).cast("long"),
            "_ctl2": F.sum(tll * tll).over(wcum).cast("long"),
            "lag2_text_len_delta": (tl - F.lag(tl, 2).over(w)).cast("double"),
            "lag3_text_len_delta": (tl - F.lag(tl, 3).over(w)).cast("double"),
            "lag4_text_len_delta": (tl - F.lag(tl, 4).over(w)).cast("double"),
            "lag5_text_len_delta": (tl - F.lag(tl, 5).over(w)).cast("double"),
            "lag6_text_len_delta": (tl - F.lag(tl, 6).over(w)).cast("double"),
            "lag7_text_len_delta": (tl - F.lag(tl, 7).over(w)).cast("double"),
            "lag2_ts_gap_s": (us - F.lag(us, 2).over(w)).cast("double") / F.lit(1e6),
            "lag3_ts_gap_s": (us - F.lag(us, 3).over(w)).cast("double") / F.lit(1e6),
            # only the base-width min/max frames are sliding; the
            # 10/20-row ones are block_minmax compositions in W1
            "roll_max_text_len_5": F.max(tl).over(w5).cast("double"),
            "roll_min_text_len_5": F.min(tl).over(w5).cast("double"),
            "gap_roll_max_5": F.max(gap).over(w5),
            "gap_roll_min_5": F.min(gap).over(w5),
            "wing_asym_5": (F.sum(tll).over(w4a) - F.sum(tll).over(w4b)).cast(
                "double"
            ),
            "run_max_text_len": F.max(tl).over(wcum).cast("int"),
            "run_min_text_len": F.min(tl).over(wcum).cast("int"),
            "conv_first_text_len": F.first(tl).over(wcum).cast("int"),
            "cum_tool_set": F.sum(F.col("tool").isNotNull().cast("int"))
            .over(wcum)
            .cast("long"),
            "cum_empty_text": F.sum((tl == 0).cast("int")).over(wcum).cast("long"),
            "cum_long_text": F.sum((tl > 500).cast("int")).over(wcum).cast("long"),
            "gap_max_run": F.max(gap).over(wcum),
            "high_gap_count_run": F.sum(F.when(gap > 3600, 1).otherwise(0))
            .over(wcum)
            .cast("long"),
            "_active_us": F.coalesce(F.sum("_gap_us").over(wcum), F.lit(0)).cast(
                "long"
            ),
            # us is non-decreasing within a conversation, so first ==
            # min and the unordered partition-only window (its own
            # WindowExec) is not needed
            "_first_us": F.first(us).over(wcum),
            "_bnd_us": F.last(F.when(gap > gap_s, us), ignorenulls=True).over(wcum),
        }
    )

    # ---- row-wise inputs of W1 (no window) ----
    gl = F.least(F.col("_gap_us"), F.lit(3_600_000_000))
    gms_cap = ((gl - gl % 1000) / 1000).cast("long")
    gms_sess = ((F.col("_gap_us") - F.col("_gap_us") % 1000) / 1000).cast("long")
    lag_tll = F.col("_lag_tll")
    df = df.withColumns(
        {
            "role_changed": (~F.col("role").eqNullSafe(F.col("prev_role"))).cast(
                "int"
            ),
            # trapezoid areas in exact integers: (len_i + len_{i-1}) ×
            # the gap floored to whole ms (floor via % is exact long
            # arithmetic both engines). The wing trap caps the gap at
            # 3600 s so int64 holds for ~10^9-row frames; the session
            # trap's gap is <= gap_s by definition of a non-boundary row.
            "_trap_w": F.when(
                F.col("_gap_us").isNotNull(), (tll + lag_tll) * gms_cap
            ),
            "_trap_s": F.when(
                (F.col("_sb") == 0) & F.col("_gap_us").isNotNull(),
                (tll + lag_tll) * gms_sess,
            ),
        }
    )

    # ---- W1: windows over W0-derived columns, one node: the rolling
    # sum/mean/std family as lag differences of the W0 running sums
    # (lagz), min/max as compositions of the W0 5-row blocks.
    cum_tl = F.col("cum_text_len")
    ctl2 = F.col("_ctl2")
    act = F.col("_active_us")
    n5 = F.least(rn, F.lit(ROLL_ROWS))
    n10 = F.least(rn, F.lit(WIDE_ROLL10))
    n20 = F.least(rn, F.lit(WIDE_ROLL20))
    s5 = cum_tl - lagz(cum_tl, ROLL_ROWS, w)
    s10 = cum_tl - lagz(cum_tl, WIDE_ROLL10, w)
    s20 = cum_tl - lagz(cum_tl, WIDE_ROLL20, w)
    m5 = s5 / n5
    m10 = s10 / n10
    m20 = s20 / n20
    m5_2 = (ctl2 - lagz(ctl2, ROLL_ROWS, w)) / n5
    m10_2 = (ctl2 - lagz(ctl2, WIDE_ROLL10, w)) / n10
    m20_2 = (ctl2 - lagz(ctl2, WIDE_ROLL20, w)) / n20
    # the (conv, session) family WITHOUT its own WindowExec: a (conv,
    # session) window costs a dedicated Sort + full buffer pass, so
    # max/min are session_max structs and sums boundary carries over the
    # existing wcum frame. Sentinel −1 stands in for "no real gap yet"
    # (gaps are >= 0; boundary rows and the rn=1 NULL-gap row map to −1,
    # translated back to NULL at the end).
    sid = F.col("session_id")
    sgap_in = F.when((F.col("_sb") == 0) & gap.isNotNull(), gap).otherwise(
        F.lit(-1.0)
    )
    ctrap = F.sum("_trap_s").over(wcum)
    ctrapn = F.count("_trap_s").over(wcum)
    df = df.withColumns(
        {
            "_sess_max": session_max(sid, tl, wcum),
            "_sess_min": session_max(sid, -tl, wcum),
            "_sgap": session_max(sid, sgap_in, wcum),
            "_sess_carry": boundary_carry(cum_tl - tll, wcum),
            "_s2carry": boundary_carry(ctl2 - tll * tll, wcum),
            "_ctrap": F.coalesce(ctrap, F.lit(0)),
            "_trapcarry": boundary_carry(F.coalesce(ctrap, F.lit(0)), wcum),
            "_ctrapn": ctrapn,
            "_trapncarry": boundary_carry(ctrapn, wcum),
            "cum_role_changes": F.sum("role_changed").over(wcum).cast("long"),
            "roll_role_changes_10": F.sum("role_changed").over(w10).cast("long"),
            "wing_auc_4": F.sum("_trap_w").over(wtrap) / F.lit(2000.0),
            "roll_sum_text_len_5": s5.cast("long"),
            "roll_sum_text_len_10": s10.cast("long"),
            "roll_sum_text_len_20": s20.cast("long"),
            "roll_mean_text_len_10": m10,
            "roll_mean_text_len_20": m20,
            "roll_std_text_len_5": F.sqrt(F.greatest(F.lit(0.0), m5_2 - m5 * m5)),
            "roll_std_text_len_10": F.sqrt(
                F.greatest(F.lit(0.0), m10_2 - m10 * m10)
            ),
            "roll_std_text_len_20": F.sqrt(
                F.greatest(F.lit(0.0), m20_2 - m20 * m20)
            ),
            "zscore_roll_text_len_5": F.when(
                m5_2 - m5 * m5 > 0, (tll - m5) / F.sqrt(m5_2 - m5 * m5)
            ).otherwise(F.lit(0.0)),
            "zscore_roll_text_len_10": F.when(
                m10_2 - m10 * m10 > 0, (tll - m10) / F.sqrt(m10_2 - m10 * m10)
            ).otherwise(F.lit(0.0)),
            "roll_assistant_rate_10": (
                F.col("cum_count_assistant")
                - lagz(F.col("cum_count_assistant"), WIDE_ROLL10, w)
            )
            / n10,
            "roll_tool_rate_10": (
                F.col("cum_tool_set") - lagz(F.col("cum_tool_set"), WIDE_ROLL10, w)
            )
            / n10,
            # rn=1 guard: the sliding original divided a NULL sum by a
            # zero count (NULL under ANSI); the diff form's dividend is
            # 0, which ANSI-errors on /0 — so the head row is NULLed
            # explicitly, which is the identical value.
            "gap_roll_mean_5": F.when(
                rn > 1,
                (act - lagz(act, ROLL_ROWS, w)) / F.least(rn - 1, F.lit(ROLL_ROWS)),
            )
            / F.lit(1e6),
            "gap_roll_mean_10": F.when(
                rn > 1,
                (act - lagz(act, WIDE_ROLL10, w)) / F.least(rn - 1, F.lit(WIDE_ROLL10)),
            )
            / F.lit(1e6),
            **{
                f"roll_{m}_text_len_{n}": block_minmax(agg, f"roll_{m}_text_len_5", n, w)
                for n in (WIDE_ROLL10, WIDE_ROLL20)
                for m, agg in (("max", F.greatest), ("min", F.least))
            },
            "gap_roll_max_10": block_minmax(F.greatest, "gap_roll_max_5", WIDE_ROLL10, w),
            "gap_roll_min_10": block_minmax(F.least, "gap_roll_min_5", WIDE_ROLL10, w),
        }
    )
    return df


def _wide_derived(df, us, enum_shuffle) -> DataFrame:
    """The wide tier's row-wise features over the (stitched) window
    columns of :func:`_wide_windows`: no windows, so they are evaluated
    once, after the stitch point. Running mean/std (zscore) come from
    exact int64 cumulative sums so every path produces bit-identical
    doubles."""
    def _rl(r: str) -> Column:
        # registry literal in whatever shape `role` currently has:
        # plain string, or its constant-folded 64-bit code
        return enum_code_lit(r) if enum_shuffle else F.lit(r)

    tl = F.col("text_len")
    tll = tl.cast("long")
    rn = F.col("_rn")
    lag_tll = F.col("_lag_tll")
    m_run = F.col("cum_text_len") / rn
    var_run = F.col("_ctl2") / rn - m_run * m_run
    first_us = F.col("_first_us")
    start = F.coalesce(F.col("_bnd_us"), first_us)
    run_max = F.col("run_max_text_len")
    run_min = F.col("run_min_text_len")
    df = df.withColumns(
        {
            "tool_changed": (~F.col("tool").eqNullSafe(F.col("_prev_tool"))).cast(
                "int"
            ),
            "accel_text_len": (tll - 2 * lag_tll + F.col("_lag2_tll")).cast("double"),
            "pct_change_text_len": F.when(lag_tll > 0, (tl - lag_tll) / lag_tll),
            "gap_roll_range_5": F.col("gap_roll_max_5") - F.col("gap_roll_min_5"),
            "roll_range_text_len_10": F.col("roll_max_text_len_10")
            - F.col("roll_min_text_len_10"),
            "roll_range_text_len_20": F.col("roll_max_text_len_20")
            - F.col("roll_min_text_len_20"),
            "turn_idx_conv": rn.cast("int"),
            "text_len_vs_first": (tl - F.col("conv_first_text_len")).cast("int"),
            "run_depth_text_len": (run_max - run_min).cast("int"),
            "text_len_range_norm": F.when(
                run_max - run_min > 0,
                (tl - run_min).cast("double") / (run_max - run_min),
            ),
            "active_time_run_s": F.col("_active_us").cast("double") / F.lit(1e6),
            "is_session_start": (F.col("turn_in_session") == 1).cast("int"),
            "text_len_zscore_run": F.when(
                var_run > 0, (tll - m_run) / F.sqrt(var_run)
            ).otherwise(F.lit(0.0)),
            "run_std_text_len": F.sqrt(F.greatest(F.lit(0.0), var_run)),
            "session_elapsed_s": (us - start).cast("double") / F.lit(1e6),
            "sess_start_hour": F.hour(F.timestamp_micros(start.cast("long"))).cast(
                "int"
            ),
            "time_since_start_s": (us - first_us).cast("double") / F.lit(1e6),
            "days_since_start": F.floor((us - first_us) / F.lit(86_400_000_000)).cast(
                "long"
            ),
            "sess_cum_text_len": (
                F.col("cum_text_len") - F.coalesce(F.col("_sess_carry"), F.lit(0))
            ).cast("long"),
            "sess_max_text_len": F.col("_sess_max").getField("x").cast("int"),
            "sess_min_text_len": (-F.col("_sess_min").getField("x")).cast("int"),
        }
    )
    tic = F.col("turn_idx_conv")
    tis = F.col("turn_in_session")
    df = df.withColumns(
        {
            "pct_assistant_so_far": F.col("cum_count_assistant").cast("double") / tic,
            "pct_tool_so_far": F.col("cum_count_tool").cast("double") / tic,
            "pct_user_so_far": F.col("cum_count_user").cast("double") / tic,
            "pct_system_so_far": F.col("cum_count_system").cast("double") / tic,
            "pct_tool_set_so_far": F.col("cum_tool_set").cast("double") / tic,
            "cum_mean_text_len": F.col("cum_text_len") / tic,
            "mean_gap_run": F.when(
                tic > 1, (F.col("_active_us") / (tic - 1)) / F.lit(1e6)
            ),
            "turn_rate_session": tis.cast("double")
            / (F.col("session_elapsed_s") + F.lit(1.0)),
            "turn_rate_conv": tic.cast("double")
            / (F.col("time_since_start_s") + F.lit(1.0)),
            "sess_frac_of_turns": tis.cast("double") / tic,
            "sess_mean_text_len": F.col("sess_cum_text_len").cast("double") / tis,
        }
    )
    # ---- the (conv, session) family's derived values
    sm = F.col("sess_mean_text_len")
    sgap = F.col("_sgap").getField("x")
    sess_tlen2 = F.col("_ctl2") - F.coalesce(F.col("_s2carry"), F.lit(0))
    trapn_sess = F.col("_ctrapn") - F.coalesce(F.col("_trapncarry"), F.lit(0))
    df = df.withColumns(
        {
            "sess_depth_text_len": (
                F.col("sess_max_text_len") - F.col("sess_min_text_len")
            ).cast("int"),
            "sess_gap_max_s": F.when(sgap >= 0, sgap),
            "sess_std_text_len": F.sqrt(
                F.greatest(F.lit(0.0), sess_tlen2 / tis - sm * sm)
            ),
            "sess_auc_trapezoid": F.when(
                trapn_sess > 0,
                F.col("_ctrap") - F.coalesce(F.col("_trapcarry"), F.lit(0)),
            )
            / F.lit(2000.0),
        }
    )

    # ---- final locals: calendar + composite battery (no windows) ----
    df = df.withColumns(
        {
            "day_of_week": F.dayofweek("ts").cast("int"),
            "hour_of_day": F.hour("ts").cast("int"),
            "minute_of_hour": F.minute("ts").cast("int"),
            "is_assistant": (F.col("role") == _rl("assistant")).cast("int"),
            "is_system": (F.col("role") == _rl("system")).cast("int"),
            "is_tool": (F.col("role") == _rl("tool")).cast("int"),
            "is_user": (F.col("role") == _rl("user")).cast("int"),
            "is_weekend": F.dayofweek("ts").isin(1, 7).cast("int"),
            "log1p_text_len": F.log1p(tl),
            "sigmoid_text_len": F.lit(1.0)
            / (F.lit(1.0) + F.exp(-(tl - 200) / F.lit(80.0))),
            "turn_frac_day": (us % F.lit(86_400_000_000)).cast("double")
            / F.lit(86_400_000_000.0),
        }
    )
    return df.withColumns(wide_local_exprs(enum_shuffle))


def sessionize(
    df: DataFrame,
    gap_s: float = SESSION_GAP_S,
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
) -> DataFrame:
    """ts-gap sessionization: ``session_id`` = running count of gaps
    > ``gap_s`` (graft analogue of find_peaks boundary detection,
    reference: src/pipeline/peak_detector.py:94-132)."""
    w = Window.partitionBy(entity_col).orderBy(ts_col, tiebreak_col)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = (_ts_us(ts_col) - F.lag(_ts_us(ts_col)).over(w)).cast("double") / F.lit(1e6)
    return df.withColumn(
        "session_id",
        F.sum(F.when(gap > gap_s, 1).otherwise(0)).over(wcum).cast("int"),
    )


def stage_columns(
    df: DataFrame,
    include_text: bool = True,
    wide: bool = False,
    enum_shuffle: bool = False,
) -> DataFrame:
    """Project a turns table to what :func:`feature_plan` reads, BELOW
    any exchange: ``text_len`` from ``text``, and per contract

    - ``include_text=True``: every input column plus ``text_len``;
    - ``include_text=False``: ``text`` dropped — the feature table is
      keyed by (conv_id, turn_idx) and the raw text stays in the source
      table, so the shuffle carries an int instead of the corpus;
    - ``enum_shuffle=True`` (``include_text=False`` only): ``role`` and
      ``tool`` as 64-bit codes, plus ``tool_len`` for the wide tier — a
      row-local feature of the STRING, staged here because a code
      carries no length.
    """
    if enum_shuffle and include_text:
        raise ValueError(
            "enum_shuffle supports the include_text=False feature-table "
            "contract only (the text-carrying variant keeps strings)"
        )
    text_len = F.length(F.coalesce(F.col("text"), F.lit(""))).cast("int")
    if include_text:
        return df.withColumn("text_len", text_len)
    if not enum_shuffle:
        return df.select(
            *[c for c in KEY_COLS if c != "text"], text_len.alias("text_len")
        )
    extra = (
        [F.coalesce(F.length("tool"), F.lit(0)).cast("int").alias("tool_len")]
        if wide
        else []
    )
    return df.select(
        "conv_id",
        "turn_idx",
        _enum_code("role").alias("role"),
        _enum_code("tool").alias("tool"),
        "ts",
        text_len.alias("text_len"),
        *extra,
    )


def feature_plan(
    df: DataFrame,
    part: tuple[str, ...] = ("conv_id",),
    gap_s: float = SESSION_GAP_S,
    wide: bool = False,
    enum_shuffle: bool = False,
    include_labels: bool = False,
    stitch=None,
) -> DataFrame:
    """Every feature, defined once: the window plan over
    ``partitionBy(*part).orderBy(ts, turn_idx)`` of a
    :func:`stage_columns` frame, then the row-wise derivations.

    ``stitch(df, kinds)`` runs at the STITCH POINT, between the last
    window layer and the derived features, with ``kinds`` mapping each
    running column to its stitch kind (see ``_BASE_STITCH``). The
    single-window plan (``part=("conv_id",)``) needs none — its stitch
    point is the identity; the salted path passes
    ``("conv_id", "_tgt")`` and its chunk stitch. Labels (lead-based)
    read the partition's next row and are only valid unchunked.
    """
    w = Window.partitionBy(*part).orderBy("ts", "turn_idx")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    wr = Window.partitionBy(*part).orderBy(F.col("_usq"))

    us = _ts_us("ts")
    key_cols = [c for c in KEY_COLS if c in df.columns]
    # ONE staged epoch-µs column for every rangeBetween frame: ordering
    # by the same physical column (not a fresh unix_micros projection
    # per window) lets Catalyst share a single us-Sort across the whole
    # range family instead of one sort per frame.
    df = df.withColumn("_usq", us)
    gap_us = us - F.lag(us).over(w)
    # ---- layer 0: every window expression over RAW columns in ONE
    # projection — Catalyst extracts them into a single WindowExec
    # (frames may differ within one node), so this is ONE pass over
    # each partition instead of one per withColumn. tool_backfill is
    # the fill-forward graft (≙ add_photometric_composites,
    # reference: src/pipeline/feature_engineering.py:1586-1615).
    df = df.withColumns(
        {
            "lag1_ts_gap_s": gap_us.cast("double") / F.lit(1e6),
            "_gap_us": gap_us,
            "lag1_text_len_delta": (
                F.col("text_len") - F.lag("text_len").over(w)
            ).cast("double"),
            "_rn": F.row_number().over(w),
            "tool_backfill": F.last("tool", ignorenulls=True).over(wcum),
            **{
                f"cum_count_{r}": F.sum(
                    F.when(
                        F.col("role")
                        == (enum_code_lit(r) if enum_shuffle else F.lit(r)),
                        1,
                    ).otherwise(0)
                )
                .over(wcum)
                .cast("int")
                for r in ROLES
            },
            "roll_mean_text_len_5": F.avg("text_len").over(
                w.rowsBetween(-(ROLL_ROWS - 1), Window.currentRow)
            ),
        }
    )
    # ---- layer 1: session ids + the turn_in_session carry, ONE window
    # pass (both are wcum aggregates of W0 outputs and independent of
    # each other). turn_in_session avoids a second exchange: a (conv,
    # session) partition would re-shuffle the whole table; instead count
    # rows since the most recent session boundary inside the SAME window
    # (rn - rn just before the last boundary).
    df = df.withColumn(
        "_sb", F.when(F.col("lag1_ts_gap_s") > gap_s, 1).otherwise(0)
    )
    df = df.withColumns(
        {
            "session_id": F.sum("_sb").over(wcum).cast("int"),
            "_tis_carry": boundary_carry(F.col("_rn") - 1, wcum),
        }
    )
    # rolling turn-rate on the REAL time axis: count of turns with
    # ts in [t-60s, t] — a rangeBetween frame on integer microseconds.
    # Note: rows sharing this exact ts are included regardless of
    # turn_idx (time-based semantics; equal-ts is not leakage).
    # The range family runs EARLY, while the row is still narrow: its
    # us-Sort materializes ~20 fields per row here, vs ~100 if it ran
    # after the wide tier (the wide tier's own range batch merges into
    # this node — same partition/order spec, adjacent, independent).
    df = df.withColumn(
        "rate_60s", range_count(wr, RATE_WINDOW_S * 1_000_000).cast("double")
    )
    kinds = dict(_BASE_STITCH)
    if wide:
        df = _wide_windows(df, w, wcum, wr, us, gap_s)
        kinds.update(_WIDE_STITCH)
    if stitch is not None:
        df = stitch(df, kinds)
    df = df.withColumn(
        "turn_in_session",
        (F.col("_rn") - F.coalesce(F.col("_tis_carry"), F.lit(0))).cast("int"),
    )
    cols = key_cols + FEATURE_COLS
    if wide:
        df = _wide_derived(df, us, enum_shuffle)
        cols = cols + WIDE_FEATURE_COLS
    if include_labels:
        df = df.withColumn(
            "label_lead1_text_len", F.lead("text_len").over(w).cast("double")
        ).withColumn(
            "label_lead1_ts_gap_s",
            (F.lead(us).over(w) - us).cast("double") / F.lit(1e6),
        )
        cols = cols + LABEL_COLS
    return df.select(*cols)


def featurize_expr(
    df: DataFrame,
    gap_s: float = SESSION_GAP_S,
    include_labels: bool = False,
    include_text: bool = True,
    wide: bool = False,
    enum_shuffle: bool = False,
) -> DataFrame:
    """The full per-turn feature vector as ONE window-expression plan:
    :func:`stage_columns` then :func:`feature_plan` over ``conv_id``.

    ``enum_shuffle=True`` (narrow ``include_text=False`` contract only)
    replaces the ``role``/``tool`` strings with 64-bit hash codes BELOW
    the exchange — the shuffle rows then carry no string except the
    conv_id key. Features only need equality on these columns
    (registry-literal comparisons use the code of the literal).

    The feature-table contract KEEPS the codes in the output
    (``role``/``tool``/``tool_backfill`` — and ``prev_role`` in the
    wide tier — come back as BIGINT): strings are recovered lazily at
    read time via :func:`enum_decode` with :func:`enum_decode_map`
    against the source table (or the dims ``featurize_job`` writes
    next to the feature table), bit-identical to the string path.

    Scale notes (100 TB): all windows share ``partitionBy(conv_id)`` —
    Catalyst plans a single hash exchange on conv_id followed by one
    sort; every feature is computed in that one pipelined stage. A
    mega-conversation lands in a single task: for that case use
    :func:`astrospectro_spark.engine.skew.featurize_salted`, which runs
    this same :func:`feature_plan` per ts-range chunk of the hot
    conversations (plus copied lookback rows) and recombines the running
    columns at the plan's stitch point, one rule per stitch kind.

    ``include_text=False`` projects ``text`` down to ``text_len``
    BEFORE the exchange: at 10^12 turns this cuts shuffled bytes by
    roughly the mean turn length. This is the production featurize-job
    default; the text-carrying variant exists for pipelines that
    materialise a denormalised table.
    """
    return feature_plan(
        stage_columns(df, include_text, wide, enum_shuffle),
        gap_s=gap_s,
        wide=wide,
        enum_shuffle=enum_shuffle,
        include_labels=include_labels,
    )


def enum_decode_map(wide: bool) -> dict[str, str]:
    """Coded output column → source dim column, per tier."""
    m = {"role": "role", "tool": "tool", "tool_backfill": "tool"}
    if wide:
        m["prev_role"] = "role"
    return m
