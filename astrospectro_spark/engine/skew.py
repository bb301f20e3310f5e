"""Salted range partitioning for mega-conversations (skew engine).

``Window.partitionBy(conv_id)`` puts an entire conversation in ONE
task; a conversation holding 30% of a 10^12-turn table would serialise
the job. AQE's skew-join splitting cannot split a window/groupBy key
(SURVEY.md §4 custom-work 1), so this module does it explicitly:

1. **Census** — row counts per conv_id (one cheap agg). Conversations
   above ``hot_threshold`` rows are "hot"; the rest take the normal
   single-window path.
2. **Range salting** — per hot conversation, ``approx_percentile`` of
   the ts axis yields k-1 boundaries → ``chunk_id`` per row (array
   fold, no window). This is the graft analogue of the reference's
   5,000-row chunking (reference: src/pipeline/processing.py:108-110),
   but range-based so chunks are contiguous in event time.
3. **Overlap margin** — bounded features need history: the last
   ``k_rows`` rows before each chunk plus every row within the widest
   range frame of its start (:func:`engine.windows.plan_lookback`) are
   COPIED into that chunk flagged ``_ctx=1``. Context rows always sort
   strictly before real rows (chunk ranges are half-open on ts), so the
   context is a contiguous suffix of the chunk's history.
4. **Shared plan** — :func:`engine.windows.feature_plan`, the plan the
   single-window path runs, over ``(conv_id, _tgt)``: every feature is
   defined once, there. Bounded features come out exact on real rows;
   running columns come out chunk-local.
5. **Per-kind stitch** — at the plan's stitch point, one summary row
   per (conv, chunk) holds each running column's value at the chunk's
   last context row and at its end (k chunks per hot conv, tiny);
   exclusive prefix windows over it give one offset or carry per
   column, joined back broadcast and applied by the column's stitch
   kind (``windows.SUM`` …). Derived features follow the stitch.

The result is bit-identical to :func:`engine.windows.featurize_expr`
(asserted in tests with chunking forced on, including pathological
tiny chunks from duplicate-ts boundaries — the row margin reaches back
across as many chunks as needed to collect ``k_rows`` rows).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from astrospectro_spark.engine.windows import (
    CARRY,
    FIRST,
    LAST,
    MAX,
    MIN,
    SESSION_GAP_S,
    SMAX,
    SUM,
    enum_decode,
    enum_decode_map,
    feature_plan,
    plan_lookback,
    stage_columns,
)

DEFAULT_HOT_THRESHOLD = 2_000_000
DEFAULT_CHUNK_TARGET = 500_000


def _us(col="ts"):
    return F.unix_micros(F.col(col).cast("timestamp"))


def featurize_salted(
    df: DataFrame,
    gap_s: float = SESSION_GAP_S,
    hot_threshold: int = DEFAULT_HOT_THRESHOLD,
    chunk_target_rows: int = DEFAULT_CHUNK_TARGET,
    include_text: bool = True,
    wide: bool = False,
    enum_shuffle: bool = False,
    decode_enums: bool = False,
) -> DataFrame:
    """featurize_expr semantics with hot conversations split into
    ts-range chunks that run as parallel tasks.

    ``enum_shuffle=True`` (narrow ``include_text=False`` contract only,
    see :func:`featurize_expr`) carries ``role``/``tool`` as 64-bit
    codes through every exchange of BOTH the cold and hot branches.
    The default output KEEPS the codes (BIGINT columns; decode lazily
    at read via ``windows.enum_decode``); ``decode_enums=True`` decodes
    once after the union via broadcast dims — bit-identical to the
    string path.

    The hot slice is cached after chunk assignment: the salted plan
    consumes it three times (real rows + two context-copy branches) and
    without a persist each consumer re-scans and re-decompresses the
    source (string decode dominates CPU). The hot slice is by
    definition a bounded fraction of the table (the skewed
    conversations), so MEMORY_AND_DISK is safe at scale. The cached
    handle is registered on the returned DataFrame — call
    :func:`release_cached` (FeatureRun does) after materialising the
    result so long multi-bucket runs don't accumulate cached blocks.
    """
    staged = stage_columns(df, include_text, wide, enum_shuffle)
    census = df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("_n"))
    hot_ids = census.filter(F.col("_n") > hot_threshold).select("conv_id")

    cold = staged.join(F.broadcast(hot_ids), "conv_id", "left_anti")
    cold_out = feature_plan(cold, gap_s=gap_s, wide=wide, enum_shuffle=enum_shuffle)

    hot = staged.join(F.broadcast(hot_ids), "conv_id", "left_semi")
    hot_out, handles = _featurize_hot(
        hot, chunk_target_rows, gap_s=gap_s, wide=wide, enum_shuffle=enum_shuffle
    )
    out = cold_out.unionByName(hot_out)
    if enum_shuffle and decode_enums:
        out = enum_decode(out, df, enum_decode_map(wide)).select(cold_out.columns)
    out._astrospectro_cached = handles  # fast path for the exact object
    with _REGISTRY_LOCK:
        _CACHE_REGISTRY.extend(handles)  # survives downstream transformations
    return out


# Handles of every hot-slice persist not yet released. The dynamic
# attribute on the returned DataFrame is lost as soon as a caller
# transforms it (.select/.filter return new objects), so the registry is
# the source of truth; the attribute just lets release_cached target one
# specific result when several are in flight. All mutations go through
# _REGISTRY_LOCK so concurrent featurize_salted calls from multiple
# driver threads cannot race extend() against the drain (a double
# unpersist or a skipped handle).
_CACHE_REGISTRY: list[DataFrame] = []
_REGISTRY_LOCK = threading.Lock()


def release_cached(df: DataFrame | None = None) -> None:
    """Unpersist intermediates the salted featurizer cached.

    Pass the DataFrame returned by :func:`featurize_salted` to release
    exactly that result's handles. If the dynamic attribute was lost in
    a transformation (``.select``/``.filter`` return new objects), or
    no argument is given, the WHOLE registry is drained — including
    handles belonging to any other in-flight salted result. The
    fallback is therefore only safe when a single salted result is in
    flight (the FeatureRun loop's case: one bucket at a time); callers
    running several salted featurizations concurrently must keep the
    returned DataFrame and pass it here untransformed. Call after the
    output is materialised (write/collect); idempotent either way.
    """
    handles = list(getattr(df, "_astrospectro_cached", [])) if df is not None else []
    with _REGISTRY_LOCK:
        if not handles:
            handles, _CACHE_REGISTRY[:] = list(_CACHE_REGISTRY), []
        else:
            drop = {id(g) for g in handles}
            _CACHE_REGISTRY[:] = [h for h in _CACHE_REGISTRY if id(h) not in drop]
    for h in handles:
        try:
            h.unpersist()
        except Exception:  # noqa: BLE001 — session may already be gone
            pass


GRID = 128


def compute_ts_bounds(
    df: DataFrame, chunk_target_rows: int, ts_col: str = "ts", entity_col: str = "conv_id"
) -> DataFrame:
    """Per-entity ts-range chunk boundaries: a fixed GRID-point
    approx-quantile grid, subsampled to ceil(n/target) chunks.
    Boundaries are actual data values, so after array_distinct every
    interior chunk holds >= 1 row; parallelism per entity caps at GRID.
    Returns (entity, _bounds array<bigint> of epoch-us cut points)."""
    fracs = ", ".join(str((i + 1) / GRID) for i in range(GRID - 1))
    return (
        df.groupBy(entity_col)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.expr(
                f"percentile_approx(unix_micros(cast({ts_col} as timestamp)), "
                f"array({fracs}), 10000)"
            ).alias("_raw"),
        )
        .withColumn(
            "_k",
            F.least(
                F.ceil(F.col("_n") / F.lit(chunk_target_rows)), F.lit(GRID)
            ).cast("int"),
        )
        .withColumn(
            "_bounds",
            F.when(F.col("_k") <= 1, F.expr("cast(array() as array<bigint>)")).otherwise(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.greatest(F.col("_k") - 1, F.lit(1))),
                        lambda i: F.element_at(
                            "_raw",
                            F.least(
                                F.greatest(
                                    F.round(i * GRID / F.col("_k")).cast("int"),
                                    F.lit(1),
                                ),
                                F.lit(GRID - 1),
                            ),
                        ),
                    )
                )
            ),
        )
        .select(entity_col, "_bounds")
    )


def chunk_of(ts_col: str = "ts") -> "F.Column":
    """chunk id = number of boundaries <= ts (requires joined _bounds)."""
    us = _us(ts_col)
    return F.aggregate(
        "_bounds", F.lit(0), lambda acc, b: acc + F.when(us >= b, 1).otherwise(0)
    )


def _featurize_hot(
    hot: DataFrame,
    chunk_target_rows: int,
    gap_s: float,
    wide: bool,
    enum_shuffle: bool,
) -> tuple[DataFrame, list[DataFrame]]:
    k_rows, margin_us = plan_lookback(wide)

    # ---- 2. range salting: ts-quantile boundaries per hot conv
    bounds = compute_ts_bounds(hot, chunk_target_rows)
    hot = hot.join(F.broadcast(bounds), "conv_id")
    us = _us("ts")
    hot = hot.withColumn("_chunk", chunk_of("ts")).persist()

    # ---- 3. overlap margin: copy context rows into later chunks
    real = hot.withColumn("_ctx", F.lit(0)).withColumn("_tgt", F.col("_chunk"))
    # (a) time margin: a row is context for every chunk whose lower
    # boundary b satisfies ts < b <= ts + margin (multi-chunk reach).
    n_time_copies = F.size(
        F.filter("_bounds", lambda b: (us < b) & (b <= us + F.lit(margin_us)))
    )
    time_ctx = (
        hot.withColumn("_ncopies", n_time_copies)
        .filter(F.col("_ncopies") > 0)
        .withColumn("_k", F.explode(F.sequence(F.lit(1), F.col("_ncopies"))))
        .withColumn("_tgt", F.col("_chunk") + F.col("_k"))
        .withColumn("_ctx", F.lit(1))
        .drop("_ncopies", "_k")
    )
    # (b) row margin with MULTI-CHUNK reach-back: a row must serve every
    # later chunk that starts fewer than k_rows rows after it — one
    # chunk back is not enough when duplicate-ts boundaries produce a
    # tiny chunk. Per-conv chunk row-counts (a <=GRID-entry array,
    # broadcast) give the rows-between prefix; only rows in the last
    # k_rows of their own chunk can ever qualify, so the O(k_chunks²)
    # fold runs on ~k_rows rows per chunk.
    ccounts = hot.groupBy("conv_id", "_chunk").agg(F.count(F.lit(1)).alias("_cnt"))
    carr = ccounts.groupBy("conv_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("_chunk").alias("c"), F.col("_cnt").alias("n")))
        ).alias("_carr")
    )
    wdesc = Window.partitionBy("conv_id", "_chunk").orderBy(
        F.col("ts").desc(), F.col("turn_idx").desc()
    )

    def _rows_between(t):
        return F.aggregate(
            F.filter(
                "_carr",
                lambda e: (e.getField("c") > F.col("_chunk")) & (e.getField("c") < t),
            ),
            F.lit(0).cast("long"),
            lambda acc, e: acc + e.getField("n"),
        )

    row_ctx = (
        hot.withColumn("_rn_end", F.row_number().over(wdesc))
        .filter(F.col("_rn_end") <= k_rows)
        .join(F.broadcast(carr), "conv_id")
        .withColumn(
            "_tgts",
            F.filter(
                F.transform("_carr", lambda e: e.getField("c")),
                lambda t: (t > F.col("_chunk"))
                & (_rows_between(t) + F.col("_rn_end") <= k_rows),
            ),
        )
        .withColumn("_tgt", F.explode("_tgts"))
        .withColumn("_ctx", F.lit(1))
        .drop("_rn_end", "_carr", "_tgts")
    )
    ctx = time_ctx.unionByName(row_ctx).dropDuplicates(
        ["conv_id", "turn_idx", "ts", "_tgt"]
    )
    u = real.unionByName(ctx).drop("_bounds", "_chunk")

    # ---- 4./5. the shared plan over (conv, target chunk), stitched
    out = feature_plan(
        u, ("conv_id", "_tgt"), gap_s=gap_s, wide=wide, enum_shuffle=enum_shuffle,
        stitch=_stitch,
    )
    return out, [hot]


def _stitch(df: DataFrame, kinds: dict) -> DataFrame:
    """Turn chunk-local running columns into conversation-global ones.

    Per (conv, chunk): ``end`` = a column's local value at the chunk's
    last row, ``ctx`` = at its last context row (the context is a
    suffix of the history before the chunk, and the chunk's own rows
    follow it). Exclusive prefix windows over the chunks give

    - SUM: ``off = P - ctx``, ``P`` the sum of the earlier chunks'
      ``end - ctx`` (their real-row totals);
    - MAX/MIN/FIRST/LAST: the same aggregate of the earlier ``end``s;
    - CARRY: the last non-NULL earlier ``end``, shifted by its own
      chunk's offset of the carried running column;
    - SMAX: the max of the earlier ``end`` structs, key shifted.

    Returns the chunks' real rows with every running column replaced.
    """
    key = ["conv_id", "_tgt"]
    dtype = {f.name: f.dataType for f in df.schema.fields}
    spec = {c: (k, None) if isinstance(k, str) else k for c, k in kinds.items()}
    sums = [c for c, (k, _) in spec.items() if k == SUM]
    others = [c for c in spec if c not in sums]
    order = F.struct("ts", "turn_idx")
    summ = df.groupBy(*key).agg(
        *[F.max_by(c, order).alias(f"{c}__end") for c in spec],
        *[
            F.max_by(c, F.when(F.col("_ctx") == 1, order)).alias(f"{c}__ctx")
            for c in sums
        ],
    )
    wprev = (
        Window.partitionBy("conv_id")
        .orderBy("_tgt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )

    def ctx(c):
        return F.coalesce(F.col(f"{c}__ctx"), F.lit(0))

    summ = summ.withColumns(
        {
            f"{c}__off": F.coalesce(
                F.sum(F.coalesce(F.col(f"{c}__end"), F.lit(0)) - ctx(c)).over(wprev),
                F.lit(0),
            )
            - ctx(c)
            for c in sums
        }
    )

    def shift(c, col):
        """A value of ``c`` moved by the SUM offset its kind refers to
        (for SMAX: the struct's first field, the key)."""
        kind, ref = spec[c]
        off = F.col(f"{ref or c}__off")
        if kind != SMAX:
            return (col + off).cast(dtype[c])
        k, *fields = dtype[c].fields
        return F.struct(
            (col.getField(k.name) + off).cast(k.dataType).alias(k.name),
            *[col.getField(f.name).alias(f.name) for f in fields],
        )

    def prefix(c):
        kind, end = spec[c][0], F.col(f"{c}__end")
        if kind == MAX:
            return F.max(end)
        if kind == MIN:
            return F.min(end)
        if kind == FIRST:
            return F.first(end)
        if kind == LAST:
            return F.last(end, ignorenulls=True)
        if kind == CARRY:
            return F.last(shift(c, end), ignorenulls=True)
        return F.max(shift(c, end))

    summ = summ.withColumns(
        {f"{c}__pre": prefix(c).over(wprev) for c in others}
    ).select(*key, *[f"{c}__off" for c in sums], *[f"{c}__pre" for c in others])

    def combine(c):
        kind, col, pre = spec[c][0], F.col(c), F.col(f"{c}__pre")
        if kind == SUM:
            return shift(c, col)
        if kind == MAX:
            return F.greatest(col, pre)
        if kind == MIN:
            return F.least(col, pre)
        if kind == FIRST:
            return F.coalesce(pre, col)
        if kind == LAST:
            return F.coalesce(col, pre)
        if kind == CARRY:
            return F.coalesce(shift(c, col), pre)
        return F.greatest(shift(c, col), pre)

    out = df.filter(F.col("_ctx") == 0).join(F.broadcast(summ), key)
    return out.withColumns({c: combine(c) for c in spec})
