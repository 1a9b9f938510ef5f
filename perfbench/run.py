"""The engine's benchmark: one workload, one seed, one fresh Spark process.

    python3 perfbench/run.py --workload funnel --seed 1 --seconds 10 --trace 0

Run from the repository root.  It makes the workload's inputs from the seed
(cached under ``.perfbench/cache``, outside every timed region), starts
``worker.py`` in a fresh process fitted to the host (``local[nproc]``, a
heap derived from RAM, Spark scratch inside the tree, the repo on the
workers' ``PYTHONPATH``), and prints a report followed, on the last line,
by one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics named in ``BENCHMARK.json``,
``--trace 1`` the per-layer ones, from spans recorded around the engine's
public boundaries.  ``README.md`` holds the workload, metric and layer
tables and why each exists.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

#: input size per workload, fitted so that one run, fresh JVM included,
#: stays near a minute on a 4-core host (README.md, "Sizing")
SIZES = {
    "funnel": {"docs": 600, "parts": 8},
    "stream": {"docs": 600, "parts": 8, "files": 2},
}
RUN_TIMEOUT_S = 170


def host() -> dict:
    """Host fingerprint plus the launcher settings derived from it."""
    with open("/proc/meminfo") as f:
        ram_mb = int(f.readline().split()[1]) // 1024
    try:
        from importlib.metadata import version

        spark = version("pyspark")
    except Exception:  # noqa: BLE001 — reported, never needed
        spark = "unknown"
    sha, dirty = "unknown", None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, check=True,
            ).stdout.strip()
            dirty = bool(subprocess.run(
                ["git", "status", "--porcelain", "--untracked-files=no"],
                cwd=ROOT, capture_output=True, text=True, check=True,
            ).stdout.strip())
        except (OSError, subprocess.CalledProcessError):
            pass
    nproc = len(os.sched_getaffinity(0))
    return {
        "nproc": nproc,
        "ram_mb": ram_mb,
        # one local-mode JVM holds every task thread; a sixth of RAM leaves
        # room for the Python workers and the page cache, and the library's
        # 16 g default would exceed what a small host can give
        "driver_heap_mb": max(1024, min(8192, ram_mb // 6)),
        "python": platform.python_version(),
        "spark": spark,
        "git_sha": sha,
        "git_dirty": dirty,
    }


def make_inputs(workload: str, seed: int, docs: int) -> str:
    from corpus import raw_corpus, stream_files

    cache = os.path.join(STATE, "cache")
    size = SIZES[workload]
    if workload == "funnel":
        return raw_corpus(cache, docs, seed, size["parts"])
    return stream_files(cache, docs, seed, size["parts"], size["files"])


def worker_env(fp: dict, work: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(fp["nproc"]),
        "SPARK_DRIVER_MEMORY": f"{fp['driver_heap_mb']}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # the Python workers import the engine by module path
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
        ),
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONHASHSEED": "0",
    })
    return env


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(pgid: int, grace_s: float = 15.0) -> None:
    """Wait for every process of the worker's group to end; kill what is
    left after the grace period."""
    deadline = time.time() + grace_s
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.2)
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    while _group_alive(pgid):
        time.sleep(0.1)


def run_worker(args, fp: dict, inputs: str) -> dict | None:
    work = os.path.join(STATE, "work", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--inputs", inputs,
        "--work", work, "--docs", str(args.docs), "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--refs", os.path.join(HERE, "references.json"), "--out", out,
    ]
    if args.inject_fault:
        cmd.append("--inject-fault")
    spawned = time.time()
    proc = subprocess.Popen(
        cmd + ["--spawned-at", repr(spawned)], cwd=work,
        env=worker_env(fp, work), stdout=sys.stderr, start_new_session=True,
    )
    rc, result = None, None
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        # also on SIGTERM or an interrupt: never leave the worker behind
        stop_group(proc.pid, grace_s=0 if rc is None else 15.0)
        proc.wait()
        if rc == 0 and os.path.exists(out):
            with open(out) as f:
                result = json.load(f)
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        print(f"perfbench: worker exited with {rc}", file=sys.stderr)
    return result


def tail_percentile(values: list[float]) -> tuple[str, float] | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    for p in (99.9, 99, 95, 90, 75):
        if n * (1 - p / 100) >= 10:
            cuts = statistics.quantiles(values, n=1000, method="inclusive")
            return f"p{p:g}", cuts[int(p * 10) - 1]
    return None


def summarize(result: dict, workload: str) -> tuple[dict, dict]:
    """End-to-end metrics for the report and the metric line."""
    ops = result["ops"]
    good = [op for op in ops if op["error"] is None]
    timed = good or ops
    wall = statistics.median(op["wall_s"] for op in timed)
    attempted = sum(op["attempted"] for op in ops)
    failed = sum(op["attempted"] for op in ops if op["error"] is not None)
    m = {
        "setup_s": result["setup_s"],
        "wall_s": wall,
        "docs_per_s": result["docs"] / wall,
        "peak_rss_mb": result["peak_rss_mb"],
        "store_bytes_per_input_byte": statistics.median(
            op.get("store_bytes", 0) for op in timed
        ) / result["input_bytes"],
        "failed_ratio": failed / attempted if attempted else 1.0,
        "warm_pass_s": result["warm_pass_s"],
        "prepare_s": result["prepare_s"],
        "cpu_steal_s": result["cpu_steal_s"],
    }
    samples = {"wall_s": [op["wall_s"] for op in timed]}
    if workload == "stream":
        batches = [b for op in good for b in op.get("batches") or []]
        samples["batch_s"] = batches
        if batches:
            m["batch_p50_s"] = statistics.median(batches)
            m["batch_p90_s"] = (
                statistics.quantiles(batches, n=10, method="inclusive")[-1]
                if len(batches) > 1 else batches[0])
    if workload == "funnel" and good:
        m["pair_recall"] = min(op.get("pair_recall", 0.0) for op in good)
        m["pair_precision"] = min(op.get("pair_precision", 0.0) for op in good)
    counts = {"attempted": attempted, "failed": failed}
    return m, {"samples": samples, **counts}


UNITS = {
    "setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s", "batch_p50_s": "s",
    "batch_p90_s": "s", "peak_rss_mb": "MB", "warm_pass_s": "s",
    "prepare_s": "s", "cpu_steal_s": "s", "store_bytes_per_input_byte": "ratio",
    "failed_ratio": "failed/attempted", "pair_recall": "ratio",
    "pair_precision": "ratio",
}


def report(m: dict, extra: dict) -> None:
    for name, value in m.items():
        line = f"  {name:<28} {value:>14.6g} {UNITS.get(name, '')}"
        if name == "wall_s":
            vals = extra["samples"]["wall_s"]
            line += f"   median of {len(vals)}"
            tail = tail_percentile(vals)
            if tail:
                line += f", {tail[0]} {tail[1]:.4g}"
        if name == "batch_p50_s":
            line += f"   of {len(extra['samples']['batch_s'])} micro-batches"
        print(line)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="keep starting closed-loop rounds until this much "
                         "time has been measured (at least one round)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="input size; defaults to the workload's fitted size")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt each round's output before the check "
                         "(tests that failures are counted)")
    ap.add_argument("--record", action="store_true",
                    help="store this seed's funnel audit as its reference")
    args = ap.parse_args()
    args.docs = args.docs or SIZES[args.workload]["docs"]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "localitysensitivesketch_spark")):
        print("perfbench: the engine package is missing next to perfbench/",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)

    fp = host()
    inputs = make_inputs(args.workload, args.seed, args.docs)
    result = run_worker(args, fp, inputs)
    if result is None:
        return 1
    fp["java"] = result["java"]
    m, extra = summarize(result, args.workload)

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"docs={args.docs} trace={args.trace} warmed_up={result['warmed_up']}")
    print("host " + json.dumps(fp, sort_keys=True))
    for i, op in enumerate(result["ops"]):
        batches = " ".join(f"{b:.3f}" for b in op.get("batches") or [])
        print(f"  round {i}: wall {op['wall_s']:.3f} s, "
              f"digest {op.get('digest')}, problems {op.get('problems')}"
              + (f", batches {batches} s" if batches else ""))
    report(m, extra)

    if args.record and args.workload == "funnel" and extra["failed"] == 0:
        path = os.path.join(HERE, "references.json")
        refs = {}
        if os.path.exists(path):
            with open(path) as f:
                refs = json.load(f)
        refs.setdefault("funnel", {})[f"n{args.docs}-s{args.seed}"] = (
            result["ops"][0]["audit"])
        with open(path, "w") as f:
            json.dump(refs, f, indent=1, sort_keys=True)

    if args.trace:
        layers = [op["layers"] for op in result["ops"] if "layers" in op]
        metrics = {
            d["name"]: {
                "value": statistics.median(ls[d["name"]] for ls in layers)
                if layers else 0.0,
                "unit": d["unit"],
            }
            for d in spec["per_layer"]
        }
        for name, v in metrics.items():
            print(f"  {name:<36} {v['value']:>14.6g} {v['unit']}")
    else:
        metrics = {d["name"]: {"value": m[d["name"]], "unit": d["unit"]}
                   for d in spec["end_to_end"]}
    print(json.dumps({
        "correct": extra["failed"] == 0,
        "attempted": extra["attempted"],
        "failed": extra["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
