"""The benchmark's workloads: each drives one public entry point of the
engine the way a user runs it, checks what it wrote, and knows which
calls to wrap in spans for the traced run.

Every workload has the same surface:

- ``call(out)``: the timed call, writing durable output under ``out``;
- ``check(out)``: problems found in that output (empty list = correct);
- ``deep_check(out)``: slower checks, run on the last timed output only;
- ``facts(out)``: input facts read back from an output, for the report;
- ``traced_call(tracer, out)``: the same call with span wrappers;
- ``layer_extras(tracer, out, work)``: per-layer metrics that need the
  traced call's spans or extra isolated calls on the same input, and the
  check results (one problem list each) of the outputs those calls wrote.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

from perfbench.inputs import FEED_DDL, Inputs, tree_bytes

# featurize_job flags: only the 1,800-turn mega-conversation passes the
# hot threshold (every other conversation stays under ~800 turns at
# this scale), and it is split into 4 chunks. The timed job commits one
# bucket; the traced run's resume scenario runs two and crashes after
# the first.
FEATURIZE_BUCKETS = 1
RESUME_BUCKETS = 2
HOT_THRESHOLD = 1_000
CHUNK_ROWS = 500
ORACLE_SAMPLE_CONVS = 5
STREAM_TIMEOUT_S = 150


def fingerprint(df, cols=None) -> tuple[int, int]:
    """Row count and order-insensitive checksum, the engine's lineage
    convention: ``bit_xor(xxhash64(row))``."""
    from pyspark.sql import functions as F

    cols = cols or df.columns
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def frame_problems(got: pd.DataFrame, want: pd.DataFrame, keys: list[str], what: str) -> list[str]:
    """Compare ``want``'s columns: floats allclose (rtol 1e-9), the rest
    exact with equal NULL masks."""
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    missing = [c for c in want.columns if c not in got.columns]
    if missing:
        return [f"{what}: missing columns {missing[:5]}"]
    g = got.sort_values(keys, kind="mergesort").reset_index(drop=True)
    w = want.sort_values(keys, kind="mergesort").reset_index(drop=True)
    bad = []
    for c in w.columns:
        a, b = g[c], w[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = np.allclose(
                a.to_numpy(dtype=float), b.to_numpy(dtype=float),
                rtol=1e-9, atol=1e-12, equal_nan=True,
            )
        else:
            ok = (
                a.astype(object).where(a.notna(), None).tolist()
                == b.astype(object).where(b.notna(), None).tolist()
            )
        if not ok:
            bad.append(c)
    return [f"{what}: values differ in {bad[:5]}"] if bad else []


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _salted(df):
    """The featurizer ``featurize_job`` builds from the workload's flags."""
    from astrospectro_spark.engine.skew import featurize_salted

    return featurize_salted(
        df, hot_threshold=HOT_THRESHOLD, chunk_target_rows=CHUNK_ROWS,
        include_text=False, wide=True, enum_shuffle=True,
    )


class Featurize:
    """``featurize_job.main --wide --enum-shuffle --anchors``: bucketed
    lineage commits, the salted hot-conversation path, the 183-column
    window plan and the as-of join."""

    def __init__(self, spark, inputs: Inputs):
        self.spark = spark
        self.inputs = inputs
        self.items = inputs.meta["n_turns"]
        self.input_bytes = tree_bytes(inputs.transcripts) + tree_bytes(inputs.anchors)
        self._reference = None
        self._pdf = None

    def _args(self, out: str, buckets: int) -> list[str]:
        return [
            "--input", self.inputs.transcripts, "--output", out,
            "--anchors", self.inputs.anchors,
            "--buckets", str(buckets),
            "--hot-threshold", str(HOT_THRESHOLD), "--chunk-rows", str(CHUNK_ROWS),
            "--wide", "--enum-shuffle",
        ]

    def call(self, out: str, buckets: int = FEATURIZE_BUCKETS) -> None:
        from astrospectro_spark.jobs import featurize_job

        featurize_job.main(self._args(out, buckets))

    # -- checks ---------------------------------------------------------
    def _turns(self):
        return self.spark.read.parquet(self.inputs.transcripts)

    def _input_pdfs(self) -> tuple[pd.DataFrame, pd.DataFrame]:
        if self._pdf is None:
            self._pdf = (
                pd.read_parquet(self.inputs.transcripts),
                pd.read_parquet(self.inputs.anchors),
            )
        return self._pdf

    def reference(self) -> tuple[list[str], tuple[int, int]]:
        """Columns and fingerprint of the unsalted single-plan features."""
        if self._reference is None:
            from astrospectro_spark.engine.windows import featurize_expr

            ref = featurize_expr(
                self._turns(), wide=True, enum_shuffle=True, include_text=False
            )
            self._reference = (ref.columns, fingerprint(ref))
        return self._reference

    def features(self, out: str):
        return self.spark.read.parquet(os.path.join(out, "features", "bucket=*"))

    def check(self, out: str) -> list[str]:
        cols, want = self.reference()
        problems = []
        got = fingerprint(self.features(out), cols)
        if got != want:
            problems.append(f"features: (rows, checksum) {got} != unsalted {want}")
        problems += self._check_asof(out)
        return problems

    def _check_asof(self, out: str) -> list[str]:
        from astrospectro_spark.oracle.pandas_oracle import oracle_asof

        tr, an = self._input_pdfs()
        got = self.spark.read.parquet(os.path.join(out, "asof")).toPandas()
        want = oracle_asof(tr, an, tolerance_col="tolerance_s")
        return frame_problems(got, want, ["anchor_id"], "asof")

    def deep_check(self, out: str) -> list[str]:
        """A seeded sample of conversations, the mega-conversation
        included, against the pandas oracle after ``enum_decode``."""
        from pyspark.sql import functions as F

        from astrospectro_spark.engine.windows import enum_decode, enum_decode_map
        from astrospectro_spark.oracle.pandas_oracle import oracle_features

        tr, _ = self._input_pdfs()
        mega = self.inputs.meta["mega_conv_id"]
        others = sorted(set(tr["conv_id"]) - {mega})
        rng = np.random.default_rng(self.inputs.seed)
        ids = [mega] + list(rng.choice(others, ORACLE_SAMPLE_CONVS, replace=False))
        got = enum_decode(
            self.features(out).where(F.col("conv_id").isin(ids)),
            self._turns(),
            enum_decode_map(wide=True),
        ).toPandas()
        want = oracle_features(tr[tr["conv_id"].isin(ids)], wide=True)
        want = want.drop(columns=["text"])
        return frame_problems(got, want, ["conv_id", "turn_idx"], "oracle sample")

    def facts(self, out: str) -> dict:
        ledger = self.spark.read.parquet(os.path.join(out, "_lineage")).toPandas()
        per_bucket = ledger.sort_values("bucket")["input_rows"].tolist()
        return {"rows_per_bucket": [int(n) for n in per_bucket]}

    # -- traced run -----------------------------------------------------
    def traced_call(self, tracer, out: str) -> None:
        from astrospectro_spark.engine import asof, lineage, skew

        targets = [
            (lineage.FeatureRun, "run", "lineage"),
            (skew, "featurize_salted", "skew"),
            (asof, "asof_join", "asof"),
        ]
        with tracer.wrapped(targets), tracer.span("featurize_job"):
            self.call(out)

    def layer_extras(self, tracer, out: str, work: str) -> tuple[dict, list[list[str]]]:
        from astrospectro_spark.engine import lineage
        from astrospectro_spark.engine.asof import asof_join
        from astrospectro_spark.engine.skew import release_cached
        from astrospectro_spark.engine.windows import featurize_expr
        from astrospectro_spark.sources import io

        m = {
            "lineage.run_s": tracer.total_s("lineage"),
            "lineage.self_s": tracer.self_s("lineage"),
            "lineage.bytes_written": sum(
                tree_bytes(os.path.join(out, d)) for d in ("features", "_lineage", "_staged")
            ),
            "skew.call_s": tracer.total_s("skew"),
            "asof.call_s": tracer.total_s("asof"),
        }
        asof_out = self.spark.read.parquet(os.path.join(out, "asof")).toPandas()
        m["asof.match_ratio"] = float(asof_out["asof_turn_idx"].notna().mean())

        # isolated noop-sink calls: inside the job these layers' stages
        # run under the lineage write
        turns = self._turns()
        anchors = self.spark.read.parquet(self.inputs.anchors)
        with tracer.span("sources") as s:
            _noop(io.read_table(self.spark, self.inputs.dir, "transcripts"))
        m["sources.scan_s"] = s["end"] - s["start"]
        with tracer.span("windows"):
            _noop(featurize_expr(turns, wide=True, enum_shuffle=True, include_text=False))
        with tracer.span("skew"):
            df = _salted(turns)
            _noop(df)
            release_cached(df)
        with tracer.span("asof"):
            _noop(asof_join(turns, anchors, tolerance_col="tolerance_s"))

        # resume: crash after half the buckets, then time the job that
        # finishes the run; its FeatureRun.run must skip the committed half
        out2 = os.path.join(work, "resume")
        shutil.rmtree(out2, ignore_errors=True)
        run = lineage.FeatureRun(self.spark, out2, n_buckets=RESUME_BUCKETS, featurizer=_salted)
        try:
            run.run(turns, fail_after=RESUME_BUCKETS // 2)
        except RuntimeError:
            pass  # the injected crash
        with tracer.wrapped([(lineage.FeatureRun, "run", "resume")]):
            t0 = time.perf_counter()
            self.call(out2, buckets=RESUME_BUCKETS)
            m["resume_s"] = time.perf_counter() - t0
        resumed = tracer.of("resume")[-1]["result"]
        m["lineage.buckets_processed"] = resumed["buckets_processed"]
        m["lineage.buckets_skipped"] = resumed["buckets_skipped"]
        want = {"buckets_skipped": RESUME_BUCKETS // 2,
                "buckets_processed": RESUME_BUCKETS - RESUME_BUCKETS // 2}
        problems = [f"resume: {k} = {resumed[k]}, expected {v}"
                    for k, v in want.items() if resumed[k] != v]
        checks = [problems + self.check(out2)]

        # the streaming form of the as-of join, on the same turns and
        # anchors interleaved into one feed
        stream = StreamAsof(self.spark, self.inputs)
        out3 = os.path.join(work, "stream")
        shutil.rmtree(out3, ignore_errors=True)
        with tracer.span("stream"):
            stream.call(out3)
        m.update(stream.layer_metrics())
        checks.append(stream.check(out3))
        return m, checks


class Curate:
    """``curate_job.run --atomic``: exact and MinHash/LSH dedup, the
    text filters, and the snapshot-log commit."""

    FLAGS = ["--atomic", "--min-quality", "0.3", "--min-tokens", "2"]

    def __init__(self, spark, inputs: Inputs):
        self.spark = spark
        self.inputs = inputs
        self.items = inputs.meta["n_documents"]
        self.input_bytes = tree_bytes(inputs.documents)
        self._reference = None

    def _args(self, out: str, flags: list[str]):
        from astrospectro_spark.jobs import curate_job

        return curate_job.build_parser().parse_args(
            ["--input", self.inputs.documents, "--output", out, *flags]
        )

    def call(self, out: str) -> dict:
        from astrospectro_spark.jobs import curate_job

        return curate_job.run(self.spark, self._args(out, self.FLAGS))

    def reference(self, work: str) -> tuple[dict, tuple[int, int]]:
        """Funnel and curated-table fingerprint of the same job writing
        plain parquet, without the snapshot log."""
        if self._reference is None:
            from astrospectro_spark.jobs import curate_job

            ref_out = os.path.join(work, "reference")
            shutil.rmtree(ref_out, ignore_errors=True)
            flags = [f for f in self.FLAGS if f != "--atomic"]
            report = curate_job.run(self.spark, self._args(ref_out, flags))
            table = self.spark.read.parquet(os.path.join(ref_out, "curated"))
            self._reference = (report, fingerprint(table))
        return self._reference

    def check(self, out: str) -> list[str]:
        from astrospectro_spark.sources import snapshot_log

        want_report, want_table = self.reference(os.path.dirname(out))
        with open(os.path.join(out, "report.json")) as f:
            report = json.load(f)
        problems = []
        if report.pop("snapshot_id", None) is None:
            problems.append("curate: no snapshot id in the report")
        if report != want_report:
            problems.append(f"curate funnel {report} != reference {want_report}")
        table = snapshot_log.read_table(self.spark, os.path.join(out, "curated"))
        got = fingerprint(table)
        if got != want_table:
            problems.append(f"curated table (rows, checksum) {got} != reference {want_table}")
        return problems

    def deep_check(self, out: str) -> list[str]:
        return []

    def facts(self, out: str) -> dict:
        with open(os.path.join(out, "report.json")) as f:
            return {"funnel": json.load(f)}

    def traced_call(self, tracer, out: str) -> None:
        from pyspark.sql import DataFrameWriter

        from astrospectro_spark.functions import dedup
        from astrospectro_spark.jobs import curate_job
        from astrospectro_spark.sources import snapshot_log

        targets = [
            (curate_job, "curate", "curate"),
            (dedup, "minhash_lsh_candidates", "dedup"),
            (snapshot_log, "commit", "snapshot_log"),
        ]
        with tracer.wrapped(targets), tracer.marked(DataFrameWriter, "parquet", "write"):
            with tracer.span("curate_job"):
                self.call(out)

    def layer_extras(self, tracer, out: str, work: str) -> tuple[dict, list[list[str]]]:
        from pyspark.sql import functions as F

        from astrospectro_spark.functions.dedup import (
            lsh_params_for_threshold,
            minhash_lsh_candidates,
        )
        from astrospectro_spark.functions.text import with_fingerprint
        from astrospectro_spark.jobs.curate_job import FUNNEL_STAGES, curate

        commits = tracer.of("snapshot_log")
        writes = tracer.marks("write")
        post = 0.0
        for c in commits:
            inside = [w for w in writes if c["start"] <= w["start"] and w["end"] <= c["end"]]
            post += c["end"] - max((w["end"] for w in inside), default=c["start"])
        m = {
            "curate.call_s": tracer.total_s("curate"),
            "snapshot_log.commit_s": tracer.total_s("snapshot_log"),
            "snapshot_log.post_write_s": post,
        }
        docs = self.spark.read.parquet(self.inputs.documents)
        # isolated noop-sink call: inside the job curate's stages run
        # under the snapshot-log write
        with tracer.span("curate"):
            _noop(curate(docs, min_quality=0.3, min_tokens=2).filter("keep").drop(*FUNNEL_STAGES))
        # LSH candidates versus verified pairs on the exact-dedup survivors
        survivors = (
            with_fingerprint(docs, "text")
            .groupBy("fingerprint")
            .agg(F.min("doc_id").alias("doc_id"))
            .join(docs, "doc_id")
            .select("doc_id", "text")
        )
        bands = lsh_params_for_threshold(0.5)
        with tracer.span("dedup"):
            pairs = minhash_lsh_candidates(
                survivors, verify_threshold=0.0, bands=bands
            ).cache()
            cand = pairs.count()
            verified = pairs.filter(F.col("jaccard") >= 0.5).count()
            pairs.unpersist()
        m["dedup.candidate_pairs"] = cand
        m["dedup.verified_pairs"] = verified
        m["dedup.verify_precision"] = verified / cand if cand else 0.0
        return m, []


class StreamAsof:
    """``stateful_asof_enrich`` over a parquet file stream, one file per
    trigger, ``availableNow``, checkpointed, into a parquet sink."""

    def __init__(self, spark, inputs: Inputs):
        self.spark = spark
        self.inputs = inputs
        self.progress: list[dict] = []

    def call(self, out: str) -> None:
        from astrospectro_spark.streaming import stateful_asof_enrich

        stream = (
            self.spark.readStream.schema(FEED_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.inputs.feed_dir)
        )
        q = (
            stateful_asof_enrich(stream)
            .writeStream.format("parquet")
            .option("path", os.path.join(out, "data"))
            .option("checkpointLocation", os.path.join(out, "_checkpoint"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(STREAM_TIMEOUT_S)
        finally:
            if q.isActive:
                q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        self.progress = [p for p in q.recentProgress if p["numInputRows"] > 0]

    def check(self, out: str) -> list[str]:
        from astrospectro_spark.oracle.pandas_oracle import oracle_asof

        tr = pd.read_parquet(self.inputs.transcripts)
        an = pd.read_parquet(self.inputs.anchors)
        got = self.spark.read.parquet(os.path.join(out, "data")).toPandas()
        want = oracle_asof(tr, an, value_cols=["turn_idx", "role", "ts"])
        # tool_backfill: as-of over the per-conversation ffilled tool
        tf = tr.sort_values(["ts", "turn_idx"], kind="mergesort").copy()
        tf["tool"] = tf.groupby("conv_id")["tool"].ffill()
        want["tool_backfill"] = oracle_asof(tf, an, value_cols=["tool", "ts"])["asof_tool"]
        gap = (
            want["anchor_ts"].to_numpy("datetime64[us]").astype(np.int64)
            - want["asof_ts"].to_numpy("datetime64[us]").astype(np.float64)
        ) / 1e6
        want["asof_gap_s"] = np.where(want["asof_ts"].isna().to_numpy(), np.nan, gap)
        want = want[["anchor_id", "asof_turn_idx", "asof_role", "tool_backfill", "asof_gap_s"]]
        return frame_problems(got, want, ["anchor_id"], "stream asof")

    def layer_metrics(self) -> dict:
        """Medians over the micro-batches of the last call, and the state
        store's size after the last one."""

        def med(key):
            return statistics.median(p["durationMs"].get(key, 0) for p in self.progress)

        state = (self.progress[-1].get("stateOperators") or [{}])[0]
        return {
            "batch_s": med("triggerExecution") / 1e3,
            "stream.add_batch_ms": med("addBatch"),
            "stream.query_planning_ms": med("queryPlanning"),
            "stream.wal_commit_ms": med("walCommit"),
            "stream.commit_offsets_ms": med("commitOffsets"),
            "stream.state_rows": state.get("numRowsTotal", 0),
            "stream.state_bytes": state.get("memoryUsedBytes", 0),
        }


WORKLOADS = {
    "featurize_wide": Featurize,
    "curate_snapshot": Curate,
}
