"""Seeded inputs for the benchmark workloads.

Every corpus is a function of (workload, seed, size) and is written as
parquet under the benchmark's work directory behind a ``_SUCCESS``
marker, so a run with a seed seen before reuses it and a half-written
one is rebuilt. The program under test only ever sees the parquet.

- ``fresh_mixed``: a ``datagen.generate_transcripts`` draw (60% HTML,
  25% base64 PDF, 10% text, 5% adversarial, Zipf lengths and one
  2,000-turn conversation).
- ``curate_ops``: ``documents``/``embeddings``/``events`` tables with
  the schema and value distributions of the operator library's test
  tables (30-word vocabulary, ~5% near-duplicate documents, 64-dim unit
  embeddings around 10 centroids, a uniform event stream).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Files per transcript corpus. Rows stay in conversation order, so each
# file holds whole conversations, as an export of chat logs would.
N_FILES = 8
KEEP_CORPORA = 6  # newest corpora kept in the cache; older ones are pruned

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def corpus_dir(work: str, workload: str, seed: int, size: int) -> str:
    return os.path.join(work, "corpora", f"{workload}-s{seed}-n{size}")


def ensure(work: str, workload: str, seed: int, size: int) -> tuple[str, dict]:
    """Build the corpus once per (workload, seed, size); return its
    directory and its stats (kept beside it as ``stats.json``)."""
    path = corpus_dir(work, workload, seed, size)
    stats_path = os.path.join(path, "stats.json")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        os.utime(path)  # most recently used survives pruning
        with open(stats_path) as fh:
            return path, json.load(fh)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    if workload == "curate_ops":
        stats = _write_curate_tables(path, seed, size)
    else:
        stats = _write_transcripts(
            os.path.join(path, "transcripts"), fresh_mixed_frame(seed, size)
        )
    with open(stats_path, "w") as fh:
        json.dump(stats, fh, sort_keys=True)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    _prune(os.path.dirname(path), keep=path)
    return path, stats


def _prune(root: str, keep: str) -> None:
    entries = sorted(
        (os.path.join(root, d) for d in os.listdir(root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in entries[KEEP_CORPORA:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


def fresh_mixed_frame(seed: int, size: int) -> pd.DataFrame:
    from service1_text_extraction_spark.pipeline.datagen import (
        generate_transcripts,
    )

    frame, _ = generate_transcripts(
        seed=seed, with_golden=False, target_turns=size, max_turns=2_000
    )
    return frame


def _write_transcripts(path: str, frame: pd.DataFrame) -> dict:
    from service1_text_extraction_spark.kernels.payload import sniff_payload

    os.makedirs(path)
    table = pa.Table.from_pandas(frame, preserve_index=False)
    # cut on conversation boundaries into N_FILES near-equal files
    convs = frame["conv_id"].to_numpy()
    starts = [0] + [
        i for i in range(1, len(convs)) if convs[i] != convs[i - 1]
    ]
    bounds, per = [0], len(frame) / N_FILES
    for s in starts:
        if s >= per * len(bounds) and s > bounds[-1]:
            bounds.append(s)
    bounds.append(len(frame))
    for k, (a, b) in enumerate(zip(bounds, bounds[1:])):
        pq.write_table(
            table.slice(a, b - a),
            os.path.join(path, f"part-{k:03d}.parquet"),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    texts = frame["text"]
    kinds = Counter(
        "empty" if not t.strip() else sniff_payload(t) for t in texts
    )
    lengths = frame.groupby("conv_id").size()
    return {
        "turns": int(len(frame)),
        "conversations": int(len(lengths)),
        "longest_conversation": int(lengths.max()),
        "distinct_share": round(texts.nunique() / len(frame), 4),
        "kind_shares": {
            k: round(v / len(frame), 4) for k, v in sorted(kinds.items())
        },
        "payload_bytes": int(sum(len(t.encode("utf-8")) for t in texts)),
        "files": len(bounds) - 1,
    }


def _write_curate_tables(path: str, seed: int, n_docs: int) -> dict:
    """``n_docs`` documents; embeddings and events scale with it in the
    proportions of the operator library's test tables (2,000 vectors and
    100,000 events per 5,000 documents)."""
    rng = np.random.default_rng(seed)
    pyrng = random.Random(seed)

    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and pyrng.random() < 0.05:
            texts.append(texts[pyrng.randrange(i)] + " dup")
        else:
            n = pyrng.randint(10, 100)
            texts.append(" ".join(pyrng.choice(_VOCAB) for _ in range(n)))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, size=n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )

    n_emb = max(100, n_docs * 2 // 5)
    labels = rng.integers(0, 10, size=n_emb).astype("int32")
    centroids = rng.normal(0.0, 0.07 / 8, size=(10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 0.125, size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
            "embedding": pa.array(
                list(vecs.astype("float32")), type=pa.list_(pa.float32())
            ),
            "label": pa.array(labels),
        }
    )

    n_ev = n_docs * 20
    t0 = dt.datetime(2024, 1, 1)
    offsets = np.sort(rng.uniform(0, 30 * 86400, size=n_ev))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": pd.to_datetime(t0) + pd.to_timedelta(offsets, unit="s"),
            "user_id": rng.integers(0, max(10, n_ev // 66), size=n_ev),
            "event_type": rng.choice(_EVENT_TYPES, size=n_ev),
            "value": np.round(rng.exponential(50.0, size=n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )

    for name, table in (
        ("documents", pa.Table.from_pandas(docs, preserve_index=False)),
        ("embeddings", emb),
        ("events", pa.Table.from_pandas(events, preserve_index=False)),
    ):
        pq.write_table(
            table,
            os.path.join(path, f"{name}.parquet"),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    return {
        "documents": n_docs,
        "embeddings": n_emb,
        "events": n_ev,
        "distinct_share": round(docs["text"].nunique() / n_docs, 4),
        "payload_bytes": int(sum(len(t.encode("utf-8")) for t in texts)),
    }
