"""One fresh benchmark process: set up a session, run one workload's closed
loop, check its outputs and write the result as JSON.

``run.py`` starts this file in a new process with the host-fitted
environment; it is not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import nullcontext

from corpus import dir_bytes

#: the fixture vocabulary is synthetic, so the English char-ratio rules are
#: relaxed exactly as in ``tools/funnel_bench.py``; every other rule is stock
GOPHER = {"min_chars_per_token": 0.0, "max_chars_per_token": 100.0}
STREAM_GOPHER = {**GOPHER, "min_stopword_ratio": 0.0}
CONTAINMENT_T = 1.0
SPAN_WINDOW = 50


def session(tmp_dir: str):
    """``get_spark`` on ``local[$SPARK_GRAFT_CPUS]`` with the launcher's
    heap.  ``get_spark`` creates ``/dev/shm/spark-local`` when it can;
    ``SPARK_LOCAL_DIRS`` overrides that directory anyway, so /dev/shm is
    hidden from it here and every write stays in the benchmark's tree."""
    from unittest import mock

    from localitysensitivesketch_spark.session import get_spark

    real_access = os.access

    def access(path, mode, **kwargs):
        return False if path == "/dev/shm" else real_access(path, mode, **kwargs)

    with mock.patch("os.access", access):
        return get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
                # keep every job and stage of a run for the trace's reads
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )


def warm_pass(spark) -> None:
    """One tiny Arrow job on every task slot: starts the Python worker pool
    before anything is timed."""
    n = spark.sparkContext.defaultParallelism

    def identity(batches):
        yield from batches

    spark.range(0, 4 * n, 1, n).mapInPandas(identity, "id long").write.format(
        "noop").mode("overwrite").save()


def cpu_steal_s() -> float:
    """Time the hypervisor ran other guests on this host's CPUs, summed
    over CPUs (/proc/stat); reported so a noisy run can be recognised."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _resident_bytes(pid: int, page: int) -> int:
    """Resident bytes of one process.  Forked Python workers share most of
    their pages, so theirs are counted proportionally (PSS); the JVM's are
    read from ``statm``, because walking its mappings for PSS every sample
    takes its address-space lock and slows the run being measured."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * page
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            total += _resident_bytes(pid, self._page)
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


def _lineage_rows(store_root: str) -> dict[str, int]:
    """stage-key prefix → committed rows, from the store's lineage log."""
    rows: dict[str, int] = {}
    path = os.path.join(store_root, "lineage.jsonl")
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                rows[rec["stage"].split("@")[0]] = rec["rows"]
    return rows


# -- funnel -------------------------------------------------------------------


class Funnel:
    """``CurationPipeline.run`` with every tier on; one operation is one
    pipeline run into a fresh store."""

    def __init__(self, spark, cfg, inputs: str, args):
        self.spark, self.cfg = spark, cfg
        self.corpus = os.path.join(inputs, "corpus.parquet")
        with open(os.path.join(inputs, "truth.json")) as f:
            self.truth = json.load(f)
        self.input_bytes = os.path.getsize(self.corpus)
        self.docs = args.docs
        self.refs = _load_refs(args.refs, "funnel").get(
            f"n{args.docs}-s{args.seed}")

    def prepare(self) -> None:
        """Nothing: the funnel's checks need no Spark job."""

    def run(self, root: str, tracer):
        from localitysensitivesketch_spark.plans.curation import CurationPipeline

        from spans import instrument_store

        pipe = CurationPipeline(self.spark, root, self.cfg, gopher_kwargs=GOPHER)
        hooks = instrument_store(tracer, pipe) if tracer else nullcontext()
        with hooks:
            t0 = time.perf_counter()
            res = pipe.run(
                self.spark.read.parquet(self.corpus), resume=False,
                containment_threshold=CONTAINMENT_T,
                exactsubstr_window=SPAN_WINDOW,
            )
            wall = time.perf_counter() - t0
        return wall, (pipe, res), 1

    def outputs(self, handle) -> dict:
        pipe, res = handle
        return {
            "audit": sorted(
                [r.stage, r.n_in, r.n_out] for r in res.funnel.collect()
            ),
            "clusters": sorted(
                [r.doc_id, r.cluster_id] for r in res.clusters.collect()
            ),
            "edges": sorted(
                [r.id1, r.id2] for r in pipe.store.read(
                    "edges" + res.dedup_stage_suffix).collect()
            ),
            "ids": {r.url: r.doc_id
                    for r in res.captures.select("url", "doc_id").collect()},
        }

    def check(self, out: dict) -> tuple[list[str], dict]:
        """Problems found, and the near-dup tier's pair recall/precision.

        Independent of the engine: input counts, the exact tier against
        the distinct texts, the near-dup tier's emitted pairs against
        ``oracle.py`` exact Jaccard over the planted pairs, and the whole
        audit against the reference recorded for this seed, if any."""
        import pyarrow.parquet as pq

        from localitysensitivesketch_spark.oracle import oracle_shingles

        thr = self.cfg.jaccard_threshold
        corpus = pq.read_table(self.corpus, columns=["url", "text"]).to_pydict()
        text_by_url = dict(zip(corpus["url"], corpus["text"]))
        audit = {s: (n_in, n_out) for s, n_in, n_out in out["audit"]}
        members = {d for d, _ in out["clusters"]}
        expect = {
            "raw": self.docs,
            "latest_capture": self.docs,
            "exact_dedup": len(set(corpus["text"])),
            "quality_gate": len(members),
            "near_dup": len({c for _, c in out["clusters"]}),
            "exactsubstr": audit.get("containment", (0, -1))[1],
        }
        problems = [
            f"{stage}: n_out {audit.get(stage, (0, None))[1]} != {want}"
            for stage, want in expect.items()
            if audit.get(stage, (0, None))[1] != want
        ]
        text = {out["ids"][u]: t for u, t in text_by_url.items() if u in out["ids"]}
        shingles: dict[int, set] = {}

        def jaccard(a: int, b: int) -> float:
            for d in (a, b):
                if d not in shingles:
                    shingles[d] = oracle_shingles(text[d], self.cfg)
            sa, sb = shingles[a], shingles[b]
            union = len(sa | sb)
            return len(sa & sb) / union if union else 1.0

        truth = set()
        for ua, ub, _ in self.truth:
            a, b = out["ids"][ua], out["ids"][ub]
            if a in members and b in members and jaccard(a, b) >= thr:
                truth.add((min(a, b), max(a, b)))
        emitted = {(a, b) for a, b in out["edges"]}
        recall = len(emitted & truth) / len(truth) if truth else 1.0
        good = sum(1 for a, b in emitted if jaccard(a, b) >= thr)
        precision = good / len(emitted) if emitted else 1.0
        if recall < 0.99:
            problems.append(f"pair_recall {recall:.4f} < 0.99")
        if precision < 1.0:
            problems.append(f"pair_precision {precision:.4f} < 1.0")
        if self.refs is not None and out["audit"] != self.refs:
            problems.append(f"audit {out['audit']} != reference {self.refs}")
        return problems, {"pair_recall": recall, "pair_precision": precision,
                          "truth_pairs": len(truth), "emitted_pairs": len(emitted)}

    def digest(self, out: dict) -> str:
        return _digest([out["audit"], out["clusters"], out["edges"]])

    def inject(self, out: dict) -> None:
        out["edges"] = out["edges"][1:]


# -- stream -------------------------------------------------------------------


class Stream:
    """``stream_curation(dedup=True)`` over a directory of files, one file
    per trigger; one operation is one micro-batch, and a drain of every
    file into a fresh store is one closed-loop round."""

    def __init__(self, spark, cfg, inputs: str, args):
        self.spark, self.cfg = spark, cfg
        self.in_dir = os.path.join(inputs, "in")
        self.files = len(os.listdir(self.in_dir))
        self.input_bytes = dir_bytes(self.in_dir)
        self.docs = args.docs
        self._reference = None

    def run(self, root: str, tracer):
        from localitysensitivesketch_spark.streaming import stream as ST

        from spans import instrument_stream

        hooks = instrument_stream(tracer) if tracer else nullcontext()
        with hooks:
            t0 = time.perf_counter()
            docs = ST.read_document_stream(
                self.spark, self.in_dir, schema="doc_id long, text string",
                max_files_per_trigger=1,
            )
            q = ST.stream_curation(
                self.spark, docs, root, cfg=self.cfg,
                gopher_kwargs=STREAM_GOPHER, dedup=True,
            )
            q.awaitTermination()
            wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        batches = [
            p["durationMs"]["triggerExecution"] / 1000.0
            for p in q.recentProgress if p["numInputRows"] > 0
        ]
        return wall, (root, batches), len(batches)

    def outputs(self, handle) -> dict:
        from pyspark.sql import functions as F

        from localitysensitivesketch_spark.streaming import stream as ST

        root, batches = handle
        return {
            "batches": batches,
            "curated_md5": sorted(
                r.h for r in ST.read_curated(self.spark, root)
                .select(F.md5("text").alias("h")).collect()
            ),
            "partition": _partition(
                self.spark.read.parquet(os.path.join(root, "dedup", "clusters"))
                .select("doc_id", "cluster_id").collect()
            ),
        }

    def prepare(self) -> dict:
        """The batch funnel on the same input, the ``tools/stream_bench.py``
        audit: the quality tier and the exact tier (min id per text), then
        MinHash signatures, band candidates, exact-Jaccard verification and
        connected components over the survivors.  Spark computes the
        quality verdicts and the signatures; banding, verification
        (``oracle.py`` shingles) and components run here in Python, which
        keeps this step to a few seconds.  It runs before the timed loop,
        so the JVM is equally warm on every run."""
        if self._reference is None:
            import pyarrow.parquet as pq

            from localitysensitivesketch_spark.operators.corpus import gopher_filter
            from localitysensitivesketch_spark.operators.signatures import compute_signatures
            from localitysensitivesketch_spark.oracle import oracle_shingles

            docs = self.spark.read.parquet(self.in_dir)
            passed = {r.doc_id for r in gopher_filter(docs, **STREAM_GOPHER)
                      .filter("keep").select("doc_id").collect()}
            text = dict(zip(*pq.read_table(self.in_dir).to_pydict().values()))
            keeper: dict[str, int] = {}
            for doc_id in sorted(passed):
                keeper.setdefault(text[doc_id], doc_id)
            survivors = sorted(keeper.values())
            buckets: dict[int, list[int]] = {}
            for r in compute_signatures(
                docs.filter(docs.doc_id.isin(survivors)), self.cfg
            ).filter("n_shingles > 0").select("doc_id", "band_keys").collect():
                for key in r.band_keys:
                    buckets.setdefault(key, []).append(r.doc_id)
            parent = {d: d for d in survivors}

            def root(d: int) -> int:
                while parent[d] != d:
                    parent[d] = parent[parent[d]]
                    d = parent[d]
                return d

            shingles: dict[int, set] = {}
            for a, b in sorted({(x, y) for ids in buckets.values()
                                for x in ids for y in ids if x < y}):
                for d in (a, b):
                    if d not in shingles:
                        shingles[d] = oracle_shingles(text[d], self.cfg)
                union = len(shingles[a] | shingles[b])
                j = len(shingles[a] & shingles[b]) / union if union else 1.0
                if j >= self.cfg.jaccard_threshold or text[a] == text[b]:
                    parent[root(a)] = root(b)
            self._reference = {
                "curated_md5": sorted(
                    hashlib.md5(text[d].encode()).hexdigest() for d in survivors
                ),
                "partition": _partition((d, root(d)) for d in survivors),
            }
        return self._reference

    def check(self, out: dict) -> tuple[list[str], dict]:
        ref = self.prepare()
        problems = []
        if len(out["batches"]) != self.files:
            problems.append(f"{len(out['batches'])} batches != {self.files} files")
        if out["curated_md5"] != ref["curated_md5"]:
            problems.append("curated md5 set differs from the batch funnel")
        if out["partition"] != ref["partition"]:
            problems.append("cluster partition differs from the batch funnel")
        return problems, {"curated_docs": len(out["curated_md5"]),
                          "clusters": len(out["partition"])}

    def digest(self, out: dict) -> str:
        return _digest([out["curated_md5"], out["partition"]])

    def inject(self, out: dict) -> None:
        out["curated_md5"] = out["curated_md5"][1:]


def _partition(rows) -> list[list[int]]:
    by_cluster: dict[int, list[int]] = {}
    for doc_id, cluster_id in rows:
        by_cluster.setdefault(cluster_id, []).append(doc_id)
    return sorted(sorted(m) for m in by_cluster.values())


def _load_refs(path: str, workload: str) -> dict:
    if not path or not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f).get(workload, {})


WORKLOADS = {"funnel": Funnel, "stream": Stream}


# -- per-layer metrics from one traced operation ------------------------------


def layer_metrics(tracer, wall: float, root: str, workload: str) -> dict:
    totals = tracer.collect()
    selfs = tracer.self_times()
    layer: dict[str, dict[str, float]] = {}
    for s in tracer.spans:
        m = layer.setdefault(s.layer, {})
        m["wall_s"] = m.get("wall_s", 0.0) + selfs[s.id]
        m["jobs"] = m.get("jobs", 0.0) + len(s.jobs)
        for k, v in s.metrics.items():
            m[k] = m.get(k, 0.0) + v

    def get(name, key):
        return layer.get(name, {}).get(key, 0.0)

    rows = _lineage_rows(root)
    cand_stages = [sid for s in tracer.spans if s.layer == "candidates"
                   for sid in s.stages]
    skew = 0.0
    if cand_stages:
        slowest = max(cand_stages, key=lambda sid: tracer.stage_data[sid]["task_run_ms"])
        skew = tracer.task_max_over_median(slowest)
    commits = [s for s in tracer.spans if s.kind == "commit"]
    writes = [s for s in tracer.spans if s.kind == "write"]
    cur = [s for s in tracer.spans if s.name == "stream.curation"]
    ded = [s for s in tracer.spans if s.name == "stream.dedup"]
    cur.sort(key=lambda s: s.start)
    ded.sort(key=lambda s: s.start)
    per_batch_jobs = [len(c.jobs) + len(d.jobs) for c, d in zip(cur, ded)]
    state = sum(
        dir_bytes(os.path.join(root, d))
        for d in ("exact_hashes", "dedup")
    ) if workload == "stream" else 0
    roots = sum(s.duration for s in tracer.spans if s.parent is None)
    pairs_in, pairs_out = rows.get("candidates", 0), rows.get("edges", 0)
    return {
        "signatures.wall_s": get("signatures", "wall_s"),
        "signatures.task_run_s": get("signatures", "task_run_ms") / 1e3,
        "signatures.jvm_cpu_s": get("signatures", "cpu_ns") / 1e9,
        "signatures.docs": rows.get("signatures", 0),
        "candidates.wall_s": get("candidates", "wall_s"),
        "candidates.pairs": pairs_in,
        "candidates.shuffle_write_bytes": get("candidates", "shuffle_write_bytes"),
        "candidates.task_max_over_median": skew,
        "verify.wall_s": get("verify", "wall_s"),
        "verify.pairs_in": pairs_in,
        "verify.pairs_out": pairs_out,
        "verify.yield": pairs_out / pairs_in if pairs_in else 0.0,
        "cluster.wall_s": get("cluster", "wall_s"),
        "cluster.jobs": get("cluster", "jobs"),
        "store.commits": len(commits),
        "store.commit_overhead_s": sum(selfs[s.id] for s in commits),
        "store.jobs": get("store", "jobs"),
        "store.bytes_written": sum(
            s.metrics.get("output_bytes", 0.0) for s in commits + writes
        ),
        "exact.wall_s": get("exact", "wall_s"),
        "quality.wall_s": get("quality", "wall_s"),
        "quality.task_run_s": get("quality", "task_run_ms") / 1e3,
        "containment.wall_s": get("containment", "wall_s"),
        "containment.shuffle_write_bytes": get("containment", "shuffle_write_bytes"),
        "containment.spill_bytes": get("containment", "disk_spill_bytes"),
        "containment.jobs": get("containment", "jobs"),
        "exactsubstr.wall_s": get("exactsubstr", "wall_s"),
        "exactsubstr.shuffle_write_bytes": get("exactsubstr", "shuffle_write_bytes"),
        "exactsubstr.spill_bytes": get("exactsubstr", "disk_spill_bytes"),
        "audit.wall_s": get("audit", "wall_s"),
        "stream.curation_s": statistics.median([s.duration for s in cur]) if cur else 0.0,
        "stream.dedup_s": statistics.median([s.duration for s in ded]) if ded else 0.0,
        "stream.jobs_per_batch": statistics.median(per_batch_jobs) if per_batch_jobs else 0.0,
        "stream.state_bytes": state,
        "spark.jobs": totals["jobs"],
        "spark.tasks": totals["tasks"],
        "spark.task_run_s": totals["task_run_ms"] / 1e3,
        "spark.gc_s": totals["gc_ms"] / 1e3,
        "spark.failed_tasks": totals["failed_tasks"],
        "trace.unattributed_s": wall - roots,
        "trace.overhead_s": tracer.overhead_s,
    }


# -- main ---------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--refs", default="")
    ap.add_argument("--inject-fault", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from localitysensitivesketch_spark.config import SketchConfig

    cfg = SketchConfig()
    spark = session(os.path.join(args.work, "tmp"))
    t_warm = time.time()
    warm_pass(spark)
    ready = time.time()
    result = {
        "setup_s": ready - args.spawned_at,
        "warm_pass_s": ready - t_warm,
        "warmed_up": True,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "ops": [],
    }
    wl = WORKLOADS[args.workload](spark, cfg, args.inputs, args)
    result["docs"], result["input_bytes"] = wl.docs, wl.input_bytes
    t_prep = time.time()
    wl.prepare()
    result["prepare_s"] = time.time() - t_prep

    # closed loop: the next round starts only after the previous completes
    handles = []
    loop_start = time.perf_counter()
    steal0 = cpu_steal_s()
    with RssSampler() as rss:
        while True:
            root = os.path.join(args.work, f"store{len(handles)}")
            gc.collect()
            tracer = None
            if args.trace:
                from spans import Tracer

                tracer = Tracer(spark)
            op = {"root": root}
            t_op = time.perf_counter()
            try:
                wall, handle, n_ops = wl.run(root, tracer)
                op.update(wall_s=wall, attempted=n_ops, error=None)
            except Exception:  # noqa: BLE001 — a raising run is a failed op
                traceback.print_exc()
                handle = None
                op.update(wall_s=time.perf_counter() - t_op,
                          attempted=getattr(wl, "files", 1), error="raised")
            if tracer is not None and handle is not None:
                op["layers"] = layer_metrics(tracer, op["wall_s"], root,
                                             args.workload)
            handles.append(handle)
            result["ops"].append(op)
            if time.perf_counter() - loop_start >= args.seconds:
                break
    result["peak_rss_mb"] = rss.peak_bytes / 2**20
    result["cpu_steal_s"] = cpu_steal_s() - steal0

    # untimed: read back and check every round's outputs
    for op, handle in zip(result["ops"], handles):
        if handle is None:
            continue
        op["store_bytes"] = dir_bytes(op["root"])
        try:
            out = wl.outputs(handle)
            if args.inject_fault:
                wl.inject(out)
            problems, stats = wl.check(out)
            op.update(stats)
            op["digest"] = wl.digest(out)
            op["audit"] = out.get("audit")
            op["batches"] = out.get("batches")
        except Exception:  # noqa: BLE001 — a check that raises is a failure
            traceback.print_exc()
            problems = ["check raised"]
        op["problems"] = problems
        if problems:
            op["error"] = "wrong output"
            print("perfbench: wrong output: " + "; ".join(problems),
                  file=sys.stderr)
    for op in result["ops"]:
        shutil.rmtree(op.pop("root"), ignore_errors=True)
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
