"""Streaming variant, multimodal plumbing, incremental update tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from localitysensitivesketch_spark.config import SketchConfig
from localitysensitivesketch_spark.fixtures import corpus_to_spark, generate_corpus
from localitysensitivesketch_spark.operators.candidates import band_candidates
from localitysensitivesketch_spark.operators.signatures import (
    compute_signatures,
    with_doc_id,
)
from localitysensitivesketch_spark.plans.incremental import incremental_update
from localitysensitivesketch_spark.plans.pipeline import DedupPipeline
from localitysensitivesketch_spark.sources import multimodal as M
from localitysensitivesketch_spark.streaming import stream as ST

CFG = SketchConfig()


def _write_docs(spark, tmp_path, n=60, seed=21, n_files=2):
    corpus = generate_corpus(n_docs=n, seed=seed)
    docs = with_doc_id(corpus_to_spark(spark, corpus))
    path = str(tmp_path / "docs")
    docs.repartition(n_files).write.mode("overwrite").parquet(path)
    return path, docs


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------


def test_stream_signatures_match_batch(spark, tmp_path):
    path, docs = _write_docs(spark, tmp_path)
    stream = ST.read_document_stream(
        spark, path,
        schema="url string, warc_ts timestamp, html binary, text string, "
               "lang string, doc_id long",
        max_files_per_trigger=1,
    )
    q = ST.stream_signatures(
        stream, CFG, str(tmp_path / "sigs"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "sigs"))
    batch = compute_signatures(spark.read.parquet(path), CFG)
    g = {r["doc_id"]: (tuple(r["minhash"]), r["simhash"]) for r in got.collect()}
    b = {r["doc_id"]: (tuple(r["minhash"]), r["simhash"]) for r in batch.collect()}
    assert g == b


def test_incremental_candidates_stream_matches_batch(spark, tmp_path):
    path, docs = _write_docs(spark, tmp_path, n=80, seed=22)
    stream = ST.read_document_stream(
        spark, path,
        schema="url string, warc_ts timestamp, html binary, text string, "
               "lang string, doc_id long",
        max_files_per_trigger=1,
    )
    q = ST.incremental_candidates(
        spark, stream, CFG, str(tmp_path / "store")
    )
    q.awaitTermination(180)
    got = spark.read.parquet(str(tmp_path / "store/pairs"))
    got_pairs = {(r["id1"], r["id2"]) for r in got.collect()}
    batch_pairs, _ = band_candidates(
        compute_signatures(spark.read.parquet(path), CFG), CFG
    )
    expect = {(r["id1"], r["id2"]) for r in batch_pairs.collect()}
    assert got_pairs == expect


def test_incremental_candidates_pre_filter_gates_batches(spark, tmp_path):
    """``pre_filter`` runs a per-document curation tier inside the stream:
    the store must equal a batch run over ONLY the docs the filter keeps."""
    path, docs = _write_docs(spark, tmp_path, n=80, seed=23)
    keep = F.col("doc_id") % 3 != 0  # stateless per-doc rule, any tier shape
    stream = ST.read_document_stream(
        spark, path,
        schema="url string, warc_ts timestamp, html binary, text string, "
               "lang string, doc_id long",
        max_files_per_trigger=1,
    )
    q = ST.incremental_candidates(
        spark, stream, CFG, str(tmp_path / "store"),
        pre_filter=lambda d: d.filter(keep),
    )
    q.awaitTermination(180)
    got = spark.read.parquet(str(tmp_path / "store/pairs"))
    got_pairs = {(r["id1"], r["id2"]) for r in got.collect()}
    batch_pairs, _ = band_candidates(
        compute_signatures(spark.read.parquet(path).filter(keep), CFG), CFG
    )
    expect = {(r["id1"], r["id2"]) for r in batch_pairs.collect()}
    assert got_pairs == expect
    kept_ids = {
        r["doc_id"] for r in spark.read.parquet(path).filter(keep).collect()
    }
    sigs = spark.read.parquet(str(tmp_path / "store/sigs"))
    assert {r["doc_id"] for r in sigs.collect()} <= kept_ids


def test_windowed_event_counts_batch_semantics(spark):
    rows = [
        ("2024-01-01 00:00:10", "a"),
        ("2024-01-01 00:00:50", "a"),
        ("2024-01-01 00:01:10", "a"),
        ("2024-01-01 00:00:30", "b"),
    ]
    df = spark.createDataFrame(rows, "ts string, key string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {
        (str(r["window_start"]), r["key"]): r["cnt"]
        for r in ST.windowed_event_counts(df, window="1 minute").collect()
    }
    assert out[("2024-01-01 00:00:00", "a")] == 2
    assert out[("2024-01-01 00:01:00", "a")] == 1
    assert out[("2024-01-01 00:00:00", "b")] == 1


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def test_binary_metadata_sniffs_formats(spark):
    rows = [
        (1, b"\x89PNG\r\n\x1a\n" + b"x" * 10),
        (2, b"\xff\xd8\xff\xe0" + b"y" * 5),
        (3, b"zzzz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in M.binary_metadata(df).collect()}
    assert out[1]["format"] == "png" and out[1]["n_bytes"] == 18
    assert out[2]["format"] == "jpeg"
    assert out[3]["format"] == "unknown"
    assert out[1]["payload_crc32"] != out[2]["payload_crc32"]


def test_decode_features_deterministic_fake(spark):
    rows = [(1, b"\x89PNG1234" * 10), (2, b"\x89PNG1234" * 10), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in M.decode_features(df, strict=False).collect()}
    assert out[1]["decode_ok"] and out[2]["decode_ok"] and not out[3]["decode_ok"]
    assert out[1]["feature"] == out[2]["feature"]
    assert len(out[1]["feature"]) == 16


def test_decode_features_strict_raises(spark):
    df = spark.createDataFrame([(1, b"abc")], "doc_id long, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|no image codec"):
        M.decode_features(df, strict=True).collect()


def test_frame_sample_offsets(spark):
    df = spark.createDataFrame([(1, 3500), (2, 500)], "doc_id long, duration_ms int")
    out = M.frame_sample_offsets(df).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["offset_ms"])
    assert sorted(by_doc[1]) == [0, 1000, 2000, 3000]
    assert sorted(by_doc[2]) == [0]


# ---------------------------------------------------------------------------
# incremental update
# ---------------------------------------------------------------------------


def test_incremental_update_equals_full_run(spark, tmp_path):
    corpus = generate_corpus(n_docs=100, seed=31)
    docs = with_doc_id(corpus_to_spark(spark, corpus)).cache()
    # split: first 60 rows "old", rest "new" (split by url hash parity-free
    # deterministic order: use row_number over url)
    urls = sorted(corpus.url)
    old_urls = set(urls[:60])
    old_docs = docs.filter(F.col("url").isin(*old_urls)).cache()
    new_docs = docs.filter(~F.col("url").isin(*old_urls)).cache()

    pipe = DedupPipeline(spark, str(tmp_path / "inc"), CFG)
    pipe.run(old_docs)
    out = incremental_update(pipe.store, docs, new_docs, CFG)
    inc_clusters = sorted(
        (r["doc_id"], r["cluster_id"]) for r in out["clusters"].collect()
    )

    full = DedupPipeline(spark, str(tmp_path / "full"), CFG).run(docs)
    full_clusters = sorted(
        (r["doc_id"], r["cluster_id"]) for r in full.clusters.collect()
    )
    assert inc_clusters == full_clusters

    # store committed the merged state: a resume run reuses everything
    resumed = DedupPipeline(spark, str(tmp_path / "inc"), CFG)
    # signatures stage now covers all docs
    assert resumed.store.read("signatures").count() == 100


def test_incremental_update_prefilter_on_off_identical(
    spark, tmp_path, monkeypatch
):
    """The old-side bloom pre-filter is a shuffle reduction only: forced on
    and forced off through the pre-filter's decision, incremental_update
    commits identical tables, and only the filtered run probes
    might_contain on the old side of the new-vs-old join."""
    import shutil

    from localitysensitivesketch_spark.functions import bloom
    from localitysensitivesketch_spark.plans import incremental

    corpus = generate_corpus(n_docs=100, seed=31)
    docs = with_doc_id(corpus_to_spark(spark, corpus)).cache()
    old_urls = set(sorted(corpus.url)[:60])
    old_docs = docs.filter(F.col("url").isin(*old_urls)).cache()
    new_docs = docs.filter(~F.col("url").isin(*old_urls)).cache()

    plans: dict[bool, str] = {}
    real_verify = incremental.verify_pairs

    def spy_verify(candidates, *a, **kw):
        plans[on] = candidates._jdf.queryExecution().executedPlan().toString()
        return real_verify(candidates, *a, **kw)

    monkeypatch.setattr(incremental, "verify_pairs", spy_verify)
    DedupPipeline(spark, str(tmp_path / "base"), CFG).run(old_docs)
    tables = {}
    for on in (True, False):
        monkeypatch.setattr(bloom, "auto_prefilter_enabled", lambda df: on)
        root = str(tmp_path / f"inc_{on}")
        shutil.copytree(tmp_path / "base", root)
        store = DedupPipeline(spark, root, CFG).store
        out = incremental_update(store, docs, new_docs, CFG)
        tables[on] = {
            k: sorted(map(repr, v.collect())) for k, v in out.items()
        }
    assert tables[True] == tables[False]
    assert tables[False]["edges"]  # non-vacuous: old-vs-new dups exist
    assert "might_contain" not in plans[False]
    if bloom.bloom_supported(spark):
        assert "might_contain" in plans[True]


# ---------------------------------------------------------------------------
# binary KV record source (reference wire format)
# ---------------------------------------------------------------------------


def test_binary_kv_records_roundtrip(spark, tmp_path):
    from localitysensitivesketch_spark.sources.binary_records import (
        kv_records_to_counts,
        read_kv_records,
        write_kv_records,
    )

    recs = [
        (b"\x0a\x00\x00\x01", 3),
        (b"\x0a\x00\x00\x02", -7),          # negative int32 survives
        (b"\x0a\x00\x00\x01", 2_000_000_000),  # large int32
    ]
    p = tmp_path / "trace.dat"
    write_kv_records(str(p), recs, key_len=4)
    # truncated tail byte must be ignored
    with open(p, "ab") as f:
        f.write(b"\xff")
    out = read_kv_records(spark, str(p), key_len=4).collect()
    assert len(out) == 3
    got = [(bytes(r["key"]), r["count"]) for r in sorted(out, key=lambda r: r["record_idx"])]
    assert got == recs
    counts = {
        bytes(r["key"]): r["cnt"]
        for r in kv_records_to_counts(
            read_kv_records(spark, str(p), key_len=4)
        ).collect()
    }
    assert counts[b"\x0a\x00\x00\x01"] == 3 + 2_000_000_000
    assert counts[b"\x0a\x00\x00\x02"] == -7


# ---------------------------------------------------------------------------
# round-2: kafka projection, replay idempotence, bloom pre-filter
# ---------------------------------------------------------------------------


def test_project_kafka_records_batch(spark):
    """The Kafka branch's value→document projection, unit-tested on a
    batch DataFrame with the exact kafka source shape (no broker)."""
    import base64
    import json

    docs = [
        {"url": "http://a", "warc_ts": "2024-01-01 00:00:00",
         "html": base64.b64encode(b"<p>hi</p>").decode(), "text": "hi there",
         "lang": "en"},
        {"url": "http://b", "warc_ts": "2024-02-02 12:00:00", "html": None,
         "text": "hallo", "lang": "de"},
    ]
    rows = [
        (b"k1", json.dumps(d).encode(), "docs", 0, i, None)
        for i, d in enumerate(docs)
    ]
    raw = spark.createDataFrame(
        rows,
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp",
    )
    out = {r["url"]: r for r in ST.project_kafka_records(raw).collect()}
    assert set(out) == {"http://a", "http://b"}
    assert bytes(out["http://a"]["html"]) == b"<p>hi</p>"
    assert out["http://a"]["text"] == "hi there"
    assert out["http://b"]["lang"] == "de"
    assert str(out["http://b"]["warc_ts"]).startswith("2024-02-02")


def test_incremental_candidates_replay_is_idempotent(spark, tmp_path):
    """Structured Streaming's failure contract: after a crash between the
    sink write and the checkpoint commit, the LAST batch is replayed with
    the same batch_id against a store that already contains that batch's
    own writes.  The per-batch dynamic partition overwrite must make the
    replay rewrite its own partition instead of appending duplicates."""
    path, docs = _write_docs(spark, tmp_path, n=60, seed=23, n_files=2)
    store = str(tmp_path / "store")
    b0 = docs.filter(F.xxhash64("doc_id") % 2 == 0)
    b1 = docs.filter(F.xxhash64("doc_id") % 2 != 0)

    ST.process_incremental_batch(spark, b0, 0, CFG, store)
    ST.process_incremental_batch(spark, b1, 1, CFG, store)
    sigs1 = spark.read.parquet(f"{store}/sigs").count()
    pairs1 = sorted(
        (r["id1"], r["id2"], r["batch_id"])
        for r in spark.read.parquet(f"{store}/pairs").collect()
    )
    assert sigs1 == 60 and pairs1
    # replay the last batch (crash-before-commit): same batch_id, same rows,
    # store already holds batch 1's sigs/pairs
    ST.process_incremental_batch(spark, b1, 1, CFG, store)
    sigs2_df = spark.read.parquet(f"{store}/sigs")
    assert sigs2_df.count() == sigs1
    assert sigs2_df.select("doc_id").distinct().count() == sigs1
    pairs2 = sorted(
        (r["id1"], r["id2"], r["batch_id"])
        for r in spark.read.parquet(f"{store}/pairs").collect()
    )
    assert pairs2 == pairs1


def test_bloom_prefilter_members_and_plan(spark):
    from localitysensitivesketch_spark.functions.bloom import (
        bloom_build,
        might_contain,
        optimal_bits,
    )

    assert optimal_bits(1000, 0.001) > 1000  # ~14.4 bits/key
    keys = spark.range(2000).select(F.xxhash64("id").alias("key"))
    bloom = bloom_build(keys, "key", expected_items=2000, fpp=0.001)
    assert bloom is not None and len(bloom) > 1000
    pred = might_contain(keys, "key", bloom)
    assert pred is not None
    # no false negatives, ever
    assert keys.filter(pred).count() == 2000
    # the predicate is a real filter in the plan (pushable ahead of joins)
    others = spark.range(100_000, 110_000).select(F.xxhash64("id").alias("key"))
    pred2 = might_contain(others, "key", bloom)
    filtered = others.filter(pred2)
    assert "might_contain" in filtered._sc._jvm.PythonSQLUtils.explainString(
        filtered._jdf.queryExecution(), "formatted"
    )
    # false-positive rate near the configured 1e-3
    assert filtered.count() < 100


def test_streaming_full_pipeline_clusters_match_batch(spark, tmp_path):
    """full_pipeline=True: each micro-batch runs verify + edge merge + CC,
    so the final streaming cluster snapshot equals the batch pipeline's
    clusters on the same corpus — and replaying the last batch (the
    Structured Streaming crash contract) leaves the snapshot unchanged."""
    from localitysensitivesketch_spark.operators.dedup import minhash_lsh_dedup

    path, docs = _write_docs(spark, tmp_path, n=80, seed=29, n_files=3)
    store = str(tmp_path / "store")
    stream = ST.read_document_stream(
        spark, path,
        schema="url string, warc_ts timestamp, html binary, text string, "
               "lang string, doc_id long",
        max_files_per_trigger=1,
    )
    q = ST.incremental_candidates(
        spark, stream, CFG, store, full_pipeline=True
    )
    q.awaitTermination(300)

    got = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in spark.read.parquet(f"{store}/clusters").collect()
    )
    batch = minhash_lsh_dedup(spark.read.parquet(path), CFG)["clusters"]
    want = sorted((r["doc_id"], r["cluster_id"]) for r in batch.collect())
    assert got == want and len(got) == 80

    # replay the LAST batch with the same batch_id against the already-
    # written store: snapshot and per-batch tables must be unchanged
    last_bid = (
        spark.read.parquet(f"{store}/sigs")
        .agg(F.max("batch_id"))
        .collect()[0][0]
    )
    last_docs_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/docs")
        .filter(F.col("batch_id") == last_bid)
        .collect()
    }
    replay_df = docs.filter(F.col("doc_id").isin(last_docs_ids))
    ST.process_incremental_batch(
        spark, replay_df, int(last_bid), CFG, store, full_pipeline=True
    )
    got2 = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in spark.read.parquet(f"{store}/clusters").collect()
    )
    assert got2 == want
    assert spark.read.parquet(f"{store}/docs").count() == 80  # no dup rows


def test_streaming_snapshot_crash_between_renames_recovers(spark, tmp_path):
    """The snapshot swap's worst crash point — old snapshot renamed away,
    new one not yet in place (cluster_path absent) — must recover on
    replay: the fallback rebuilds the snapshot from the durably stored
    per-batch docs+edges.  Stale staging garbage must also be tolerated."""
    import shutil

    path, docs = _write_docs(spark, tmp_path, n=60, seed=33, n_files=2)
    store = str(tmp_path / "store_crash")
    stream = ST.read_document_stream(
        spark, path,
        schema="url string, warc_ts timestamp, html binary, text string, "
               "lang string, doc_id long",
        max_files_per_trigger=1,
    )
    q = ST.incremental_candidates(spark, stream, CFG, store, full_pipeline=True)
    q.awaitTermination(300)
    want = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in spark.read.parquet(f"{store}/clusters").collect()
    )

    # simulate: crash after rename(clusters -> old), before the new rename
    shutil.move(f"{store}/clusters", f"{store}/clusters__old")
    # plus stale staging garbage from the interrupted attempt
    (tmp_path / "store_crash" / "clusters__staging").mkdir()
    last_bid = (
        spark.read.parquet(f"{store}/sigs").agg(F.max("batch_id")).collect()[0][0]
    )
    last_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/docs")
        .filter(F.col("batch_id") == last_bid)
        .collect()
    }
    replay_df = docs.filter(F.col("doc_id").isin(last_ids))
    ST.process_incremental_batch(
        spark, replay_df, int(last_bid), CFG, store, full_pipeline=True
    )
    got = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in spark.read.parquet(f"{store}/clusters").collect()
    )
    assert got == want
    import os as _os

    assert not _os.path.exists(f"{store}/clusters__old")
    assert not _os.path.exists(f"{store}/clusters__staging")


# ---------------------------------------------------------------------------
# streaming curation (round-4 VERDICT #6)
# ---------------------------------------------------------------------------

_GOOD = "the quick brown fox jumps over the lazy dog and runs far away"
_DUP = "shared boilerplate text that appears again and again across the crawl"
_JUNK = "aa aa aa aa aa aa aa aa aa aa aa aa"  # fails chars/token + dup-2gram
_GQ = {"min_tokens": 5}


def _curation_batches(spark):
    """Three doc batches with ascending ids, planted cross-batch exact dups
    and quality-gate failures."""
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    b0 = mk([(0, _GOOD + " zero"), (1, _DUP), (2, _JUNK), (3, _GOOD + " alpha")])
    b1 = mk([(10, _DUP), (11, _GOOD + " beta"), (12, _JUNK), (13, _DUP)])
    b2 = mk([(20, _GOOD + " gamma"), (21, _DUP), (22, _GOOD + " zero")])
    return [b0, b1, b2]


def _batch_funnel(docs):
    """The batch-mode equivalent of the streamed tiers: exact dedup
    (min-id keeper per md5) then the quality gate."""
    from localitysensitivesketch_spark.operators.corpus import gopher_filter
    from localitysensitivesketch_spark.operators.dedup import exact_dedup

    kept = exact_dedup(docs)
    return kept.join(
        gopher_filter(kept, **_GQ).filter("keep").select("doc_id"),
        "doc_id",
        "left_semi",
    )


def test_curation_batches_match_batch_funnel_and_replay(spark, tmp_path):
    """Ordered micro-batches through process_curation_batch must land
    exactly the batch funnel's keep-list (quality+exact tiers), and
    replaying the last batch (Structured Streaming crash contract) must
    leave the store unchanged."""
    batches = _curation_batches(spark)
    alldocs = batches[0].unionByName(batches[1]).unionByName(batches[2])
    store = str(tmp_path / "cur_store")
    for i, b in enumerate(batches):
        ST.process_curation_batch(spark, b, i, store, gopher_kwargs=_GQ)

    want = sorted(r["doc_id"] for r in _batch_funnel(alldocs).collect())
    got = sorted(r["doc_id"] for r in ST.read_curated(spark, store).collect())
    assert got == want == [0, 1, 3, 11, 20]

    # replay the last batch: same batch_id, same rows, store already
    # holds batch 2's partitions — must be a perfect no-op
    ST.process_curation_batch(spark, batches[2], 2, store, gopher_kwargs=_GQ)
    again = sorted(r["doc_id"] for r in ST.read_curated(spark, store).collect())
    assert again == want
    hashes = spark.read.parquet(f"{store}/exact_hashes")
    assert hashes.count() == hashes.select("h").distinct().count()

    # per-batch metrics audit rows
    m = {
        r["batch_id"]: (r["n_in"], r["n_quality_kept"], r["n_curated"])
        for r in spark.read.parquet(f"{store}/curation_metrics").collect()
    }
    assert m == {0: (4, 3, 3), 1: (4, 3, 1), 2: (3, 3, 1)}


def test_curation_batch_blocklist_and_redact_tiers(spark, tmp_path):
    """The stateless streaming tiers: a host blocklist drops rows before
    any text work (suffix match through subdomains), redact=True lands a
    redacted_text column while the raw text stays byte-identical, and a
    replay is still a no-op."""
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id long, url string, text string"
    )
    b0 = mk(
        [
            (0, "https://ok.example.com/a", _GOOD + " email me a@b.com now"),
            (1, "https://spam.bad.net/x", _GOOD + " spam one"),
            (2, "https://sub.spam.bad.net/y", _GOOD + " spam two"),
            (3, "https://fine.org/z", _GOOD + " clean"),
        ]
    )
    store = str(tmp_path / "blk_store")
    out = ST.process_curation_batch(
        spark, b0, 0, store, gopher_kwargs=_GQ,
        blocklist=["spam.bad.net"], redact=True,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert sorted(rows) == [0, 3]  # both blocklisted hosts dropped
    # raw text untouched; redaction is a derived column
    assert "a@b.com" in rows[0]["text"]
    assert "a@b.com" not in rows[0]["redacted_text"]
    assert rows[3]["redacted_text"] == rows[3]["text"]

    m = spark.read.parquet(f"{store}/curation_metrics").collect()[0]
    assert (m["n_in"], m["n_unblocked"], m["n_curated"]) == (4, 2, 2)

    # replay contract holds with the stateless tiers active
    ST.process_curation_batch(
        spark, b0, 0, store, gopher_kwargs=_GQ,
        blocklist=["spam.bad.net"], redact=True,
    )
    again = sorted(r["doc_id"] for r in ST.read_curated(spark, store).collect())
    assert again == [0, 3]


def test_stream_curation_end_to_end_with_dedup(spark, tmp_path):
    """stream_curation over a real file stream: the landed curated corpus
    keeps exactly one doc per surviving text (md5-set equality with the
    batch funnel regardless of file trigger order), and dedup=True chains
    the near-dup pipeline over survivors only."""
    batches = _curation_batches(spark)
    alldocs = batches[0].unionByName(batches[1]).unionByName(batches[2])
    path = str(tmp_path / "cur_docs")
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(path)
    store = str(tmp_path / "cur_stream_store")
    stream = ST.read_document_stream(
        spark, path, schema="doc_id long, text string", max_files_per_trigger=1
    )
    q = ST.stream_curation(
        spark, stream, store, cfg=CFG, gopher_kwargs=_GQ, dedup=True
    )
    q.awaitTermination(300)

    curated = ST.read_curated(spark, store)
    got_md5 = sorted(
        r["h"] for r in curated.select(F.md5("text").alias("h")).collect()
    )
    want_md5 = sorted(
        r["h"]
        for r in _batch_funnel(alldocs).select(F.md5("text").alias("h")).collect()
    )
    assert got_md5 == want_md5
    assert len(got_md5) == len(set(got_md5))  # one doc per surviving text

    # the chained near-dup tier ran per batch over survivors only
    clusters = spark.read.parquet(f"{store}/dedup/clusters")
    assert sorted(r["doc_id"] for r in clusters.collect()) == sorted(
        r["doc_id"] for r in curated.collect()
    )


def test_curation_all_dropped_first_batch_does_not_poison_store(spark, tmp_path):
    """An all-dropped micro-batch must not seed schema-less store dirs
    (a partitioned write of an empty frame lands no parquet footers and
    the NEXT batch's store read would fail schema inference).  The guard
    skips empty writes; later batches then create the dirs properly."""
    store = str(tmp_path / "cur_store_empty_first")
    junk = spark.createDataFrame([(0, _JUNK), (1, _JUNK)], "doc_id long, text string")
    ST.process_curation_batch(spark, junk, 0, store, gopher_kwargs=_GQ)
    # batch 0 dropped everything: no curated/exact_hashes dirs were seeded
    import os as _os

    assert not _os.path.exists(f"{store}/curated")
    assert not _os.path.exists(f"{store}/exact_hashes")
    # batch 1 has survivors and must process cleanly against the store
    good = spark.createDataFrame(
        [(10, _GOOD + " one"), (11, _GOOD + " two")], "doc_id long, text string"
    )
    ST.process_curation_batch(spark, good, 1, store, gopher_kwargs=_GQ)
    got = sorted(r["doc_id"] for r in ST.read_curated(spark, store).collect())
    assert got == [10, 11]
    # and a later all-dropped batch is a no-op, not a poisoned write
    ST.process_curation_batch(spark, junk, 2, store, gopher_kwargs=_GQ)
    again = sorted(r["doc_id"] for r in ST.read_curated(spark, store).collect())
    assert again == [10, 11]
