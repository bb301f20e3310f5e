"""Skew engine: salted range partitioning must be bit-identical to the
single-window path, while splitting hot conversations into parallel
chunks (SURVEY.md §4 custom-work 1; north_rule skew gate)."""

from __future__ import annotations

from astrospectro_spark.engine.skew import compute_ts_bounds, featurize_salted
from astrospectro_spark.engine.windows import featurize_expr

from .conftest import assert_frames_match

SORT = ["conv_id", "ts", "turn_idx"]


def test_salted_identical_under_forced_chunking(spark, transcripts_sdf):
    """Every conversation chunked (~37 rows/chunk → the mega-conv splits
    into ~48 chunks) — exercises cross-chunk session stitches, backfill
    carry, cumulative offsets, and rate/roll overlap margins."""
    salted = featurize_salted(
        transcripts_sdf, hot_threshold=10, chunk_target_rows=37
    ).toPandas()
    plain = featurize_expr(transcripts_sdf).toPandas()
    assert_frames_match(salted, plain, SORT, rtol=0.0, atol=0.0)


def test_salted_noop_when_nothing_hot(spark, transcripts_sdf):
    salted = featurize_salted(transcripts_sdf, hot_threshold=10**9).toPandas()
    plain = featurize_expr(transcripts_sdf).toPandas()
    assert_frames_match(salted, plain, SORT, rtol=0.0, atol=0.0)


def test_salted_feature_only_matches_plain(spark, transcripts_sdf):
    """include_text=False (production contract: text projected to
    text_len below the exchange) must equal the text-carrying output
    minus the text column, on both the plain and salted paths."""
    plain = featurize_expr(transcripts_sdf, include_text=False).toPandas()
    full = featurize_expr(transcripts_sdf).toPandas()
    assert "text" not in plain.columns
    assert_frames_match(plain, full.drop(columns=["text"]), SORT, rtol=0.0, atol=0.0)
    salted = featurize_salted(
        transcripts_sdf, hot_threshold=10, chunk_target_rows=37, include_text=False
    ).toPandas()
    assert_frames_match(salted, plain, SORT, rtol=0.0, atol=0.0)


def test_salted_wide_identical_under_forced_chunking(spark, transcripts_sdf):
    """The wide tier's extra stitched features (cum_text_len,
    session_elapsed_s boundary carry) and bounded features (lag2/3,
    rate_300s, roll min/max/sum) must survive chunking bit-for-bit."""
    salted = featurize_salted(
        transcripts_sdf, hot_threshold=10, chunk_target_rows=37, wide=True
    ).toPandas()
    plain = featurize_expr(transcripts_sdf, wide=True).toPandas()
    assert_frames_match(salted, plain, SORT, rtol=0.0, atol=0.0)


def test_salted_identical_with_pathological_tiny_chunks(spark):
    """Heavy duplicate-ts boundaries make quantile chunks legitimately
    smaller than roll_rows-1: the row margin must reach back across
    multiple chunks or rolling features near chunk starts silently lose
    history."""
    import pandas as pd

    rows = []
    ts = pd.Timestamp("2024-01-01 00:00:00")
    rn = 0
    # bursts of duplicate timestamps; many distinct ts appear once, so
    # tiny chunk_target forces chunks with 1-2 rows between bursts
    for i in range(400):
        n_dup = 1 if i % 3 else 7
        for j in range(n_dup):
            rows.append(
                {
                    "conv_id": "conv-hot",
                    "turn_idx": rn,
                    "role": ["user", "assistant", "tool", "system"][rn % 4],
                    "text": "x" * (1 + (rn * 37) % 90),
                    "tool": None if rn % 5 else f"tool{rn % 3}",
                    "ts": ts,
                }
            )
            rn += 1
        ts += pd.Timedelta(seconds=[7, 45, 2401][i % 3])
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    salted = featurize_salted(sdf, hot_threshold=10, chunk_target_rows=2).toPandas()
    plain = featurize_expr(sdf).toPandas()
    assert_frames_match(salted, plain, SORT, rtol=0.0, atol=0.0)


def test_salted_only_mega_conv_hot(spark, transcripts_sdf, transcripts_pdf):
    """Realistic setting: only the 30%-mega-conversation crosses the
    threshold; cold convs take the plain path, outputs must agree."""
    sizes = transcripts_pdf.groupby("conv_id").size()
    thr = int(sizes.max()) - 1
    salted = featurize_salted(
        transcripts_sdf, hot_threshold=thr, chunk_target_rows=100
    ).toPandas()
    plain = featurize_expr(transcripts_sdf).toPandas()
    assert_frames_match(salted, plain, SORT, rtol=0.0, atol=0.0)


def test_session_stitch_adversarial_boundaries(spark):
    """Session-family stitch (group-carry: carry_out lags into the next
    chunk) under adversarial shapes: adjacent session boundaries,
    multiple boundary-free chunks inside one open session (the carry
    must accumulate across >1 chunk), duplicate timestamps at chunk
    cut points, a single-turn conversation, and an all-equal-ts
    conversation, and a chunk whose oldest context row is a true
    session boundary with the conversation's largest gap. Tiny
    chunk_target forces ~10 chunks through the 120-turn conversation."""
    import numpy as np
    import pandas as pd

    rows = []
    t0 = pd.Timestamp("2025-03-01 12:00:00")
    # conv a: engineered gap pattern
    gaps = [10.0] * 120
    gaps[17] = 2000.0  # boundary
    gaps[18] = 2500.0  # ADJACENT boundary (1-row session)
    gaps[55] = 4000.0  # boundary after a long boundary-free stretch
    gaps[30] = 0.0     # duplicate ts pair mid-session
    gaps[56] = 0.0     # duplicate ts right after a boundary
    ts = t0 + pd.to_timedelta(np.cumsum([0.0] + gaps[1:]), unit="s")
    for i in range(120):
        rows.append(("conv-a", i, "user" if i % 2 else "assistant",
                     "x" * ((i * 37) % 700), "grep" if i % 7 == 0 else None, ts[i]))
    # conv b: single turn
    rows.append(("conv-b", 0, "system", "solo", None, t0))
    # conv c: all rows share one timestamp (turn_idx tiebreak only)
    for i in range(25):
        rows.append(("conv-c", i, "user", "y" * (i % 50), None, t0))
    # conv d: row 40 opens a session after the conversation's largest
    # gap (25 h), and 10 s spacing after it. A chunk starting 19-360
    # rows later copies row 40 as its OLDEST context row (the 19-row
    # margin ends there and row 39 lies outside the 3600 s margin), so
    # the one row whose lag-1 inputs the chunk cannot see is a boundary
    # carrying the running gap maximum.
    d_gaps = [10.0] * 100
    d_gaps[40] = 90_000.0
    d_ts = t0 + pd.to_timedelta(np.cumsum([0.0] + d_gaps[1:]), unit="s")
    for i in range(100):
        rows.append(("conv-d", i, ["user", "assistant", "tool"][i % 3],
                     "z" * ((i * 53) % 400), "sed" if i % 4 == 0 else None, d_ts[i]))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    sdf = spark.createDataFrame(pdf)
    # the chunking really puts a chunk start 19..360 rows after row 40
    d_bounds = (
        compute_ts_bounds(sdf.filter(sdf.conv_id == "conv-d"), 13)
        .collect()[0]["_bounds"]
    )
    d_us = (d_ts - pd.Timestamp("1970-01-01")) // pd.Timedelta(microseconds=1)
    assert any(
        int((d_us[40:] < b).sum()) >= 19 and b - d_us[40] <= 3_600_000_000
        for b in d_bounds
    ), d_bounds
    salted = featurize_salted(
        sdf, hot_threshold=5, chunk_target_rows=13, wide=True
    ).toPandas()
    plain = featurize_expr(sdf, wide=True).toPandas()
    assert_frames_match(salted, plain, SORT, rtol=0.0, atol=0.0)
    # the fixture really exercised multi-chunk open sessions
    one = plain[plain.conv_id == "conv-a"]
    assert one["session_id"].nunique() == 4
    d = plain[plain.conv_id == "conv-d"]
    assert d["session_id"].nunique() == 2
    assert d["gap_max_run"].max() == 90_000.0


def test_skew_defines_no_feature():
    """One feature algebra: the salted path runs windows.feature_plan
    and stitches it per aggregate kind, so engine/skew.py never names a
    feature column — a string literal equal to one would mean a second,
    hand-written definition beside the plan."""
    import ast
    from pathlib import Path

    from astrospectro_spark.engine import skew
    from astrospectro_spark.engine.windows import FEATURE_COLS, WIDE_FEATURE_COLS

    names = set(FEATURE_COLS) | set(WIDE_FEATURE_COLS)
    tree = ast.parse(Path(skew.__file__).read_text())
    found = sorted(
        {
            n.value
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value in names
        }
    )
    assert not found, found
