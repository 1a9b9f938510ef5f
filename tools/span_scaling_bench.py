"""Two-parallelism scaling measurement for the ExactSubstr span tier.

Same methodology as tools/scaling_bench.py (the sandbox has no
multi-executor cluster, so N→4N is evidenced at local[N] vs local[4N],
fresh JVM per level, interleaved attempts, per-level best — see
BENCH/BASELINE.md "Measurement methodology"): the job is
``corpus.duplicate_span_stats`` (full sliding-window scan → hash agg →
keep-one → span merge → per-doc stats) over the shared fixture corpus,
forced by a global aggregate so nothing is written.

Usage:
    python tools/span_scaling_bench.py --all [--docs 200000]
    python tools/span_scaling_bench.py --cpus 8 --data <path>
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scaling_bench import build_corpus  # noqa: E402  (same tools/ dir)

# local mode shares one JVM across all task threads; 16g starved the
# 800k-doc legs (parquet-read heap OOM at local[32])
os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")

WINDOW_TOKENS = 50  # ExactSubstr's published window (Lee et al. ACL'22)


def run_level(cpus: int, data: str) -> dict:
    from pyspark.sql import functions as F

    from localitysensitivesketch_spark.operators.corpus import (
        duplicate_span_stats,
    )
    from localitysensitivesketch_spark.session import get_spark

    spark = get_spark(
        app_name=f"span-scaling-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(2 * cpus, 8),
    )
    docs = spark.read.parquet(data)
    n_docs = docs.count()

    t0 = time.time()
    stats = duplicate_span_stats(docs, window_tokens=WINDOW_TOKENS)
    agg = stats.agg(
        F.count("*").alias("rows"),
        F.sum("tokens_removed").alias("tokens_removed"),
        F.sum(F.when(F.col("tokens_removed") > 0, 1).otherwise(0)).alias(
            "docs_touched"
        ),
        F.sum("n_tokens").alias("n_tokens"),
    ).collect()[0]
    wall = time.time() - t0
    out = {
        "cpus": cpus,
        "n_docs": n_docs,
        "wall_s": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        "tokens_per_sec": round(agg["n_tokens"] / wall, 1),
        "rows": agg["rows"],
        "tokens_removed": agg["tokens_removed"],
        "docs_touched": agg["docs_touched"],
        "n_tokens": agg["n_tokens"],
    }
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--low", type=int, default=2)
    ap.add_argument("--high", type=int, default=8)
    ap.add_argument("--attempts", type=int, default=2)
    ap.add_argument("--cpus", type=int)
    ap.add_argument("--data")
    args = ap.parse_args()

    if not args.all:
        print(json.dumps(run_level(args.cpus, args.data)))
        return

    data = build_corpus(args.docs)
    runs: dict[int, list[dict]] = {args.low: [], args.high: []}
    # interleaved attempts so host-steal noise hits both levels alike
    for attempt in range(args.attempts):
        order = (
            [args.low, args.high] if attempt % 2 == 0 else [args.high, args.low]
        )
        for cpus in order:
            r = json.loads(
                subprocess.check_output(
                    [
                        sys.executable,
                        os.path.abspath(__file__),
                        "--cpus",
                        str(cpus),
                        "--data",
                        data,
                    ]
                )
                .decode()
                .strip()
                .splitlines()[-1]
            )
            runs[cpus].append(r)
            print(f"# attempt {attempt} local[{cpus}]: {r}", file=sys.stderr)

    # identical outputs across levels and attempts, or the numbers are void
    keys = ("rows", "tokens_removed", "docs_touched", "n_tokens")
    sigs = {
        (c, i): tuple(r.get(k) for k in keys)
        for c, rs in runs.items()
        for i, r in enumerate(rs)
    }
    assert len(set(sigs.values())) == 1, f"output mismatch: {sigs}"

    best = {c: min(r["wall_s"] for r in rs) for c, rs in runs.items()}
    factor = args.high / args.low
    eff = (best[args.low] / best[args.high]) / factor
    result = {
        "job": f"duplicate_span_stats(window_tokens={WINDOW_TOKENS})",
        "n_docs": args.docs,
        "levels": {
            str(c): {
                "best_wall_s": best[c],
                "docs_per_sec": round(args.docs / best[c], 1),
                "attempts_wall_s": [r["wall_s"] for r in rs],
            }
            for c, rs in runs.items()
        },
        "speedup": round(best[args.low] / best[args.high], 3),
        "scaling_efficiency": round(eff, 3),
        "output_identity": dict(zip(keys, next(iter(sigs.values())))),
        "method": "interleaved attempts, per-level best wall, fresh JVM "
        "per level (see BENCH/BASELINE.md methodology)",
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
