"""Seeded benchmark inputs, made outside the timed region and cached.

The corpus is exactly what ``fixtures.generate_corpus_spark`` yields for the
same seed and partition count (``test_smoke.py`` checks this), built here in
plain Python by calling ``fixtures.generate_corpus`` once per partition with
seed ``seed + part``.  That keeps a JVM out of input generation, so a cache
hit and a cache miss leave the measured process equally warm, and it hands
back the planted duplicate pairs that the Spark generator drops.

Cache layout: ``<cache>/<key>/`` holds the parquet input plus ``truth.json``;
``_DONE`` is written last, so a half-written entry is regenerated.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from localitysensitivesketch_spark.fixtures import generate_corpus

#: fixture shape shared by every workload: 150–600 tokens a doc, 30%
#: planted exact/near duplicates, 2% substring-only pairs
CORPUS_ARGS = {
    "dup_fraction": 0.3,
    "substring_fraction": 0.02,
    "min_tokens": 150,
    "max_tokens": 600,
}

RAW_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
STREAM_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def generate(n_docs: int, seed: int, n_parts: int) -> tuple[pd.DataFrame, list]:
    """Rows in ``generate_corpus_spark`` order plus the planted pairs as
    ``(url_a, url_b, kind)``; planted clusters never cross a partition."""
    per_part = [n_docs // n_parts] * n_parts
    for i in range(n_docs - sum(per_part)):
        per_part[i] += 1
    frames, truth = [], []
    for part, n in enumerate(per_part):
        if n <= 0:
            continue
        c = generate_corpus(n_docs=n, seed=seed + part, **CORPUS_ARGS)
        urls = [u.replace("https://", f"https://part{part}.") for u in c.url]
        frames.append(pd.DataFrame({
            "url": urls, "warc_ts": c.warc_ts, "html": c.html,
            "text": c.text, "lang": c.lang,
        }))
        truth += [(urls[a], urls[b], kind) for a, b, kind in c.truth_pairs]
    return pd.concat(frames, ignore_index=True), truth


def _build(path: str, write) -> str:
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        write(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def raw_corpus(cache: str, n_docs: int, seed: int, n_parts: int) -> str:
    """``corpus.parquet`` in the crawl input shape (url, warc_ts, html,
    text, lang) for the curation funnel."""

    def write(tmp):
        rows, truth = generate(n_docs, seed, n_parts)
        rows["warc_ts"] = pd.to_datetime(rows["warc_ts"]).dt.tz_localize("UTC")
        pq.write_table(
            pa.Table.from_pandas(rows, schema=RAW_SCHEMA, preserve_index=False),
            os.path.join(tmp, "corpus.parquet"),
        )
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f)

    return _build(os.path.join(cache, f"funnel-n{n_docs}-s{seed}"), write)


def stream_files(cache: str, n_docs: int, seed: int, n_parts: int,
                 n_files: int) -> str:
    """``in/part-<k>.parquet`` files of ``(doc_id, text)``.  Ids are a
    seeded permutation, so planted clusters spread over many files; files
    hold ascending id ranges and get ascending mtimes, so the file source
    reads them in id order (the stream's first-seen exact keeper then
    equals the batch funnel's min-id keeper)."""

    def write(tmp):
        rows, _ = generate(n_docs, seed, n_parts)
        ids = np.random.default_rng(seed).permutation(len(rows))
        docs = pd.DataFrame({"doc_id": ids.astype("int64"), "text": rows["text"]})
        docs = docs.sort_values("doc_id", ignore_index=True)
        in_dir = os.path.join(tmp, "in")
        os.makedirs(in_dir)
        chunk = -(-len(docs) // n_files)
        for k in range(n_files):
            p = os.path.join(in_dir, f"part-{k:03d}.parquet")
            pq.write_table(
                pa.Table.from_pandas(
                    docs.iloc[k * chunk:(k + 1) * chunk],
                    schema=STREAM_SCHEMA, preserve_index=False,
                ),
                p,
            )
            os.utime(p, (1_700_000_000 + k, 1_700_000_000 + k))

    return _build(
        os.path.join(cache, f"stream-n{n_docs}-f{n_files}-s{seed}"), write
    )


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total
