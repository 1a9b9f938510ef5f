"""Smoke test of the benchmark itself, at a tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs the benchmark command itself (plus ``--docs``), so it
takes a few minutes: every run starts a fresh JVM.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--docs", "120", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def digests(report: list[str]) -> list[str]:
    return [m.group(1) for line in report
            if (m := re.search(r"digest (\w+)", line))]


def assert_metrics(result: dict, kind: str) -> None:
    want = {d["name"]: d["unit"] for d in SPEC[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.fixture(scope="module")
def funnel_runs():
    return bench("funnel", 0), bench("funnel", 1)


def test_every_metric_prints_with_its_unit(funnel_runs):
    (plain, report), (traced, _) = funnel_runs
    assert plain["correct"] and plain["failed"] == 0 and plain["attempted"] >= 1
    assert_metrics(plain, "end_to_end")
    assert_metrics(traced, "per_layer")
    for name in ("setup_s", "wall_s", "docs_per_s", "peak_rss_mb",
                 "store_bytes_per_input_byte", "failed_ratio", "pair_recall",
                 "pair_precision"):
        assert any(line.split()[:1] == [name] for line in report), name
    assert all(v["value"] > 0 for v in plain["metrics"].values())


def test_traced_and_untraced_outputs_are_identical(funnel_runs):
    (_, plain), (traced_result, traced) = funnel_runs
    assert digests(plain) and digests(plain) == digests(traced)
    layers = traced_result["metrics"]
    assert layers["store.commits"]["value"] >= 14
    assert layers["trace.unattributed_s"]["value"] >= 0


def test_injected_failure_is_counted():
    result, report = bench("stream", 0, "--inject-fault")
    assert not result["correct"]
    assert result["failed"] == result["attempted"] > 0
    assert_metrics(result, "end_to_end")
    ratio = [line.split()[1] for line in report if line.split()[:1] == ["failed_ratio"]]
    assert ratio == ["1"]


@pytest.fixture(scope="module")
def spark():
    from localitysensitivesketch_spark.session import get_spark

    s = get_spark(master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


def test_corpus_matches_the_spark_generator(spark):
    from corpus import CORPUS_ARGS, generate

    from localitysensitivesketch_spark.fixtures import generate_corpus_spark

    rows, truth = generate(60, seed=5, n_parts=4)
    got = generate_corpus_spark(spark, 60, seed=5, n_parts=4, **CORPUS_ARGS)
    want = sorted((r.url, r.text, r.lang) for r in got.collect())
    assert sorted(zip(rows["url"], rows["text"], rows["lang"])) == want
    assert truth and all(a.split(".")[0] == b.split(".")[0] for a, b, _ in truth)


def test_spans_nest_and_self_times_are_non_negative(spark, tmp_path):
    from spans import Tracer, instrument_store

    from localitysensitivesketch_spark.fixtures import corpus_to_spark, generate_corpus
    from localitysensitivesketch_spark.operators.signatures import with_doc_id
    from localitysensitivesketch_spark.plans.pipeline import DedupPipeline

    docs = with_doc_id(corpus_to_spark(spark, generate_corpus(n_docs=40, seed=1)))
    pipe = DedupPipeline(spark, str(tmp_path / "store"))
    tracer = Tracer(spark)
    with instrument_store(tracer, pipe):
        pipe.run(docs, resume=False)
    assert "_stage" not in vars(pipe) and "write" not in vars(pipe.store)
    tracer.collect()
    by_id = {s.id: s for s in tracer.spans}
    kinds = {s.kind for s in tracer.spans}
    assert kinds == {"stage", "commit", "write"}
    for s in tracer.spans:
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start <= s.end <= p.end
            assert (p.kind, s.kind) in {("stage", "commit"), ("commit", "write")}
        else:
            assert s.kind == "stage"
    assert all(t >= 0 for t in tracer.self_times().values())
    assert sum(len(s.jobs) for s in tracer.spans) > 0
    layers = {s.layer for s in tracer.spans}
    assert {"signatures", "candidates", "verify", "cluster", "store"} <= layers
