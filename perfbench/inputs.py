"""Seeded benchmark inputs, generated once per seed and cached.

Every table is a pure function of the seed: transcripts and anchors come
from ``astrospectro_spark.synth`` (the FIXTURES.md shape, with its 30%
mega-conversation), documents from :func:`make_documents` below, and the
stream feed interleaves the transcripts and anchors the way
``tests/test_streaming_events.py`` does. The cache lives under the
benchmark's work directory, one sub-directory per seed; ``meta.json`` is
written last and marks a complete set. It records a hash of the code
that generated the set (this file and the ``synth`` package), and a set
made by other code is generated again.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# synth scale of the transcripts table: 6,000 turns in 200
# conversations, one of them the 1,800-turn mega-conversation
TRANSCRIPT_SCALE = "sf0.001"
# a fifth of the measured table's 5,000 docs, at its shape: one curate call
# takes ~6 s on 4 cores, so a 10 s run times two
N_DOCUMENTS = 1_000
FEED_FILES = 4

FEED_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("kind", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
        ("anchor_id", pa.int64()),
    ]
)
FEED_DDL = (
    "conv_id string, kind string, turn_idx int, role string, "
    "tool string, ts timestamp, anchor_id long"
)

# The documents table reproduces the shape measured on the sf0.1
# documents table of the engine's test data (5,000 docs; README,
# "Curate input"): a 30-word vocabulary drawn uniformly, 10-99 tokens
# per document (uniform), a ``lang`` label with these shares, 20 sources
# by doc_id, and 5% near duplicates, each the text of a uniformly drawn
# document plus the token "dup". Two near duplicates of one base are
# exact duplicates of each other (8 pairs in the measured table).
VOCABULARY = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_TOKENS = (10, 100)  # [low, high)
LANG_SHARES = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05
NEAR_DUP_TOKEN = "dup"


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, row_group_size=100_000)


def make_documents(seed: int, n_docs: int = N_DOCUMENTS) -> pd.DataFrame:
    """A documents table of the measured sf0.1 shape (see above)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCABULARY)
    lengths = rng.integers(*DOC_TOKENS, size=n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=n)]) for n in lengths]
    langs = rng.choice(list(LANG_SHARES), size=n_docs, p=list(LANG_SHARES.values()))
    n_near = int(n_docs * NEAR_DUP_SHARE)
    dst = rng.choice(n_docs, size=n_near, replace=False)
    src = rng.integers(0, n_docs, size=n_near)
    for s, d in zip(src.tolist(), dst.tolist()):
        texts[d] = f"{texts[s]} {NEAR_DUP_TOKEN}"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": pd.array(texts, dtype="string"),
            "lang": pd.array(langs, dtype="string"),
            "source": pd.array([f"src{i % N_SOURCES}" for i in range(n_docs)], dtype="string"),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def make_feed(transcripts: pd.DataFrame, anchors: pd.DataFrame) -> pd.DataFrame:
    """One interleaved turn/anchor feed in global (ts, turns first,
    turn_idx) order, so no same-ts pair is split anchor-first."""
    turns = transcripts[["conv_id", "turn_idx", "role", "tool", "ts"]].copy()
    turns["kind"] = "turn"
    turns["anchor_id"] = pd.array([None] * len(turns), dtype="Int64")
    anc = anchors[["conv_id", "anchor_id", "anchor_ts"]].rename(columns={"anchor_ts": "ts"})
    anc["kind"] = "anchor"
    anc["turn_idx"] = pd.array([None] * len(anc), dtype="Int32")
    anc["role"] = pd.array([None] * len(anc), dtype="string")
    anc["tool"] = pd.array([None] * len(anc), dtype="string")
    cols = FEED_SCHEMA.names
    feed = pd.concat([turns[cols], anc[cols]], ignore_index=True)
    feed["turn_idx"] = feed["turn_idx"].astype("Int32")
    feed["_k"] = (feed["kind"] == "anchor").astype(int)
    feed = feed.sort_values(["ts", "_k", "turn_idx"], kind="mergesort")
    return feed.drop(columns="_k").reset_index(drop=True)


class Inputs:
    """Paths and shape facts of one seed's inputs."""

    def __init__(self, root: str, seed: int):
        self.seed = seed
        self.dir = os.path.join(root, f"seed-{seed}")
        self.transcripts = os.path.join(self.dir, "transcripts.parquet")
        self.anchors = os.path.join(self.dir, "anchors.parquet")
        self.documents = os.path.join(self.dir, "documents.parquet")
        self.feed_dir = os.path.join(self.dir, "feed")
        meta_path = os.path.join(self.dir, "meta.json")
        self.meta = None
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                self.meta = json.load(f)
        if self.meta is None or self.meta.get("generator") != generator_hash():
            shutil.rmtree(self.dir, ignore_errors=True)
            self._generate(meta_path)
            with open(meta_path) as f:
                self.meta = json.load(f)

    def _generate(self, meta_path: str) -> None:
        from astrospectro_spark.synth import generate_anchors, generate_transcripts

        os.makedirs(self.feed_dir, exist_ok=True)
        t0 = time.perf_counter()
        tr = generate_transcripts(TRANSCRIPT_SCALE, seed=self.seed)
        an = generate_anchors(tr, seed=self.seed + 1)
        docs = make_documents(self.seed)
        feed = make_feed(tr, an)
        generate_s = time.perf_counter() - t0
        _write(tr, self.transcripts)
        _write(an, self.anchors)
        _write(docs, self.documents)
        cuts = np.linspace(0, len(feed), FEED_FILES + 1).astype(int)
        # the file source orders files by modification time: stamp them
        # one second apart so micro-batches arrive in ts order
        stamp = time.time() - FEED_FILES
        for i in range(FEED_FILES):
            p = os.path.join(self.feed_dir, f"part-{i:03d}.parquet")
            _write(feed.iloc[cuts[i] : cuts[i + 1]], p, FEED_SCHEMA)
            os.utime(p, (stamp + i, stamp + i))
        sizes = tr.groupby("conv_id").size().sort_values(ascending=False)
        meta = {
            "seed": self.seed,
            "generator": generator_hash(),
            "generate_s": generate_s,
            "transcript_scale": TRANSCRIPT_SCALE,
            "n_turns": len(tr),
            "n_anchors": len(an),
            "n_documents": len(docs),
            "n_feed_rows": len(feed),
            "mega_conv_id": str(sizes.index[0]),
            "mega_share": float(sizes.iloc[0] / len(tr)),
            "mega_rows": int(sizes.iloc[0]),
            "second_largest_rows": int(sizes.iloc[1]),
        }
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, meta_path)


def generator_hash() -> str:
    """Hash of the sources that generate the inputs: this file (sizes,
    shapes, the documents generator) and the ``synth`` package."""
    import astrospectro_spark.synth as synth

    files = [os.path.abspath(__file__)]
    files += sorted(glob.glob(os.path.join(os.path.dirname(synth.__file__), "*.py")))
    h = hashlib.sha256()
    for path in files:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def tree_bytes(path: str) -> int:
    """Bytes of the regular files under ``path`` (or of ``path`` itself)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
