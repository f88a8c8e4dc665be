"""Dedup engine benchmark.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 15 --trace 0

Generates (or reuses) the seeded corpus of the workload, starts one
local[nproc] Spark session, runs the engine's public entry points
(``dedup.pipeline.run_pipeline`` in the default resumable parquet mode, or
``dedup.streaming.stream_dedup``) for about ``--seconds`` of timed work,
checks the clusters of every timed pass against the exact truth, and prints
one JSON object as the last line of standard output: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. See
perfbench/README.md for the workloads and the metric definitions.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import benchsession as bs

bs.configure_env()
sys.path.insert(0, bs.ROOT)

import corpus  # noqa: E402
import eventlog  # noqa: E402
from check import Truth, read_clusters  # noqa: E402
from procstat import TreeSampler, cpu_seconds, gc_heap_after, heap_peak, tree_pids  # noqa: E402

from dedup.io import read_transcripts  # noqa: E402
from dedup.pipeline import run_pipeline  # noqa: E402
from dedup.streaming import current_clusters, stream_dedup  # noqa: E402

WORKLOADS = tuple(corpus.SIZES)
STATE = os.path.join(bs.WORK, "state")
DEADLINE_S = 170  # a run must exit within 180 s


@dataclass
class Pass:
    """One timed pass over the workload's input."""

    wall_s: float
    cpu_s: float  # whole process tree
    window: tuple[float, float]  # wall-clock start and end, for the event log
    turns: int
    state_bytes: int
    run_dirs: list[str]
    batch_s: list[float]  # commit time of each batch in the pass
    stream: list[dict] = field(default_factory=list)  # micro-batch durationMs maps
    peak_rss: int = 0
    peak_heap: int = 0  # JVM heap in use after GC
    check: dict = field(default_factory=dict)


def _timed(call) -> tuple[float, float, tuple[float, float]]:
    """Wall seconds, process-tree CPU seconds and wall-clock window of call()."""
    cpu0, w0, t0 = cpu_seconds(tree_pids()), time.time(), time.perf_counter()
    call()
    wall = time.perf_counter() - t0
    return wall, cpu_seconds(tree_pids()) - cpu0, (w0, time.time())


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class BatchWorkload:
    """One run_pipeline call over the whole corpus per pass."""

    def __init__(self, corpus_dir: str, meta: dict):
        self.input = f"{corpus_dir}/turns"
        self.turns = meta["turns"]

    def attach(self, spark) -> None:
        """Nothing to hook into a new session."""

    def prepare(self, spark) -> None:
        # one untimed pass: JIT, codegen and the Python workers' imports
        # settle before timing
        self.run(spark, "warm")

    def run(self, spark, tag: str) -> Pass:
        run_id = f"batch-{tag}"
        path = f"{STATE}/{run_id}"
        shutil.rmtree(path, ignore_errors=True)
        turns = read_transcripts(spark, self.input)
        wall, cpu, window = _timed(lambda: run_pipeline(spark, turns, bs.config(), STATE, run_id))
        return Pass(wall, cpu, window, self.turns, _du(path), [path], [wall])

    def clusters(self, spark, p: Pass) -> tuple[list[str], list[str]]:
        return read_clusters(f"{p.run_dirs[0]}/clusters")

    def edges_path(self, p: Pass) -> str:
        return f"{p.run_dirs[0]}/edges"


class StreamWorkload:
    """Set-up bootstraps the stream state from the 95% boot files; each pass
    restores that state in place (the streaming checkpoint records absolute
    paths) and drains the 5% delta as single-file micro-batches."""

    def __init__(self, corpus_dir: str, meta: dict):
        self.boot = sorted(glob.glob(f"{corpus_dir}/boot/*.parquet"))
        self.delta = sorted(glob.glob(f"{corpus_dir}/delta/*.parquet"))
        self.turns = meta["delta_turns"]
        self.input = f"{STATE}/stream-input"
        self.dir = f"{STATE}/stream"
        self.snapshot = f"{STATE}/stream-snapshot"
        self.recorder = None

    def attach(self, spark) -> None:
        self.recorder = eventlog.make_progress_recorder()
        spark.streams.addListener(self.recorder)

    def prepare(self, spark) -> None:
        for d in (self.input, self.dir, self.snapshot):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.input)
        for f in self.boot:
            shutil.copy(f, f"{self.input}/boot-{os.path.basename(f)}")
        stream_dedup(spark, self.input, self.dir, bs.config())
        shutil.copytree(self.dir, self.snapshot)
        self.base_bytes = _du(self.snapshot)
        # one untimed drain of two micro-batches: the incremental merge's
        # code paths warm up
        self.run(spark, "warm", self.delta[:2])

    def run(self, spark, tag: str, files: list[str] | None = None) -> Pass:
        files = self.delta if files is None else files
        shutil.rmtree(self.dir)
        shutil.copytree(self.snapshot, self.dir)
        for f in files:
            shutil.copy(f, f"{self.input}/delta-{os.path.basename(f)}")
        self.recorder.batches.clear()
        wall, cpu, window = _timed(
            lambda: stream_dedup(spark, self.input, self.dir, bs.config(), max_files_per_trigger=1)
        )
        deadline = time.monotonic() + 5  # progress events arrive asynchronously
        while len(self.recorder.batches) < len(files) and time.monotonic() < deadline:
            time.sleep(0.02)
        batches = list(self.recorder.batches)
        state = _du(self.dir) - self.base_bytes
        run_dirs = sorted(glob.glob(f"{self.dir}/incr_*"))
        for f in files:
            os.remove(f"{self.input}/delta-{os.path.basename(f)}")
        return Pass(
            wall, cpu, window, self.turns, state, run_dirs,
            [b["triggerExecution"] / 1000 for b in batches], batches,
        )

    def clusters(self, spark, p: Pass) -> tuple[list[str], list[str]]:
        t = current_clusters(spark, self.dir).select("conv_id", "cluster_id").toArrow()
        return t.column("conv_id").to_pylist(), t.column("cluster_id").to_pylist()

    def edges_path(self, p: Pass) -> str:
        return glob.glob(f"{self.snapshot}/cur_*/edges")[0]


def timed_passes(spark, wl, truth: Truth, seconds: float, tag: str) -> list[Pass]:
    """Run passes until `seconds` of timed work; check each one after its
    timer stops. A pass that raises is recorded with check ok=False."""
    sampler = TreeSampler()
    passes: list[Pass] = []
    timed = 0.0
    while timed < seconds:
        sampler.start()
        w0 = time.time()
        try:
            p = wl.run(spark, f"{tag}{len(passes)}")
        except Exception:
            traceback.print_exc()
            sampler.stop()
            passes.append(Pass(0.0, 0.0, (0.0, 0.0), 0, 0, [], [], check={"ok": False}))
            timed += time.time() - w0
            continue
        sampler.stop()
        p.peak_rss = sampler.peak_rss
        p.peak_heap = heap_peak(gc_heap_after(f"{bs.GC_LOG_DIR}/*.log"), p.window)
        timed += p.wall_s
        print(f"pass {tag}{len(passes)}: {p.wall_s:.3f} s, cpu {p.cpu_s:.1f} s", file=sys.stderr)
        try:
            p.check = truth.check(*wl.clusters(spark, p))
        except Exception:
            traceback.print_exc()
            p.check = {"ok": False}
        passes.append(p)
        # do not start a pass that would overrun the budget by more than half
        if timed + 0.5 * p.wall_s > seconds:
            break
    return passes


def end_to_end(passes: list[Pass], setup_s: float) -> dict[str, tuple[float, str]]:
    """Medians over the passes that passed the gate; recall and precision
    of the worst checked pass."""
    good = [p for p in passes if p.check.get("ok")]
    checked = [p.check for p in passes if "recall" in p.check]
    med = statistics.median
    return {
        "turns_per_sec": (med(p.turns / p.wall_s for p in good), "turns/s"),
        "batch_p50_s": (med(b for p in good for b in p.batch_s), "s"),
        "cpu_s_per_mturn": (med(p.cpu_s / (p.turns / 1e6) for p in good), "s"),
        "peak_rss_mb": (med(p.peak_rss / 1e6 for p in good), "MB"),
        "state_mb_per_mturn": (med(p.state_bytes / p.turns for p in good), "MB"),
        "setup_s": (setup_s, "s"),
        "dup_pair_recall": (min(c["recall"] for c in checked), "ratio"),
        "merge_precision": (min(c["merge_precision"] for c in checked), "ratio"),
    }


def kernel_rates(meta: dict, corpus_dir: str) -> dict[str, float]:
    """Feature and substring-verify kernels on fixed samples, without Spark."""
    import pandas as pd
    import pyarrow.parquet as pq

    from dedup.features import compute_features
    from dedup.verify import longest_shared_run

    cfg = bs.config()
    convs = corpus.generate(meta["workload"], meta["seed"])
    texts = corpus.doc_texts(convs[:256])
    ids = pd.Series([c.conv_id for c in convs[:256]])
    rates = []
    for _ in range(5):
        t0 = time.perf_counter()
        compute_features(ids, pd.Series(texts), cfg)
        rates.append(len(texts) / (time.perf_counter() - t0))
    out = {"features.kernel_docs_per_s": statistics.median(rates)}
    # up to 100 true duplicate pairs, topped up with neighbouring docs
    truth = pq.read_table(f"{corpus_dir}/truth.parquet").to_pydict()
    by_id = {c.conv_id: c for c in convs}
    pair_ids = list(zip(truth["a"][:100], truth["b"][:100]))
    pair_texts = corpus.doc_texts([by_id[c] for ab in pair_ids for c in ab])
    pairs = list(zip(pair_texts[0::2], pair_texts[1::2]))
    pairs += list(zip(texts[:-1], texts[1:]))[: 200 - len(pairs)]
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        for a, b in pairs:
            longest_shared_run(a, b, cfg.suffix_window)
        rates.append(len(pairs) / (time.perf_counter() - t0))
    out["verify.kernel_pairs_per_s"] = statistics.median(rates)
    return out


def distributed_cc(spark, wl, last: Pass) -> tuple[dict[str, float], bool]:
    """connected_components on the pipeline's edges with the driver-side
    fast path disabled; also whether its components match the pipeline's."""
    from dedup.cc import connected_components

    edges = spark.read.parquet(wl.edges_path(last)).select("a", "b")
    t0 = time.perf_counter()
    assignment, rounds = connected_components(edges, bs.config().with_(cc_local_threshold=0))
    dist = assignment.toArrow()
    out = {"cc.distributed_s": time.perf_counter() - t0, "cc.rounds": rounds, "cc.edges": edges.count()}
    pipe = dict(zip(*wl.clusters(spark, last)))
    cells = {(pipe[c], d) for c, d in zip(dist.column("conv_id").to_pylist(), dist.column("cluster_id").to_pylist())}
    return out, len(cells) == len({a for a, _ in cells}) == len({b for _, b in cells})


def stage_figures(last: Pass) -> dict[str, float]:
    """Candidate, verify and exact figures of the last traced pass, from the
    stage tables it wrote (batch) or its `_metrics` rows (stream)."""
    import pyarrow.parquet as pq

    rows = eventlog.stage_rows(last.run_dirs)
    run = last.run_dirs[0]
    if os.path.isdir(f"{run}/candidates"):
        pairs_in = len(pq.read_table(f"{run}/candidates", columns=["a", "b"]).to_pandas().drop_duplicates())
        source = pq.read_table(f"{run}/verified", columns=["source"]).column("source").to_pylist()
        accepted, substring = len(source), source.count("substring")
        reps = pq.read_table(f"{run}/exact_groups", columns=["exact_rep"]).column("exact_rep").to_pylist()
        rep_ratio = len(set(reps)) / max(len(reps), 1)
        docs = rows.get("docs", 0)
    else:  # the merge's candidate and verify stages are lazy: no tables
        pairs_in, accepted, substring = rows.get("incr_cands", 0), rows.get("incr_verified", 0), 0
        rep_ratio, docs = 0.0, rows.get("incr_docs", 0)
    return {
        "verify.pairs_in": pairs_in,
        "verify.accept_ratio": accepted / pairs_in if pairs_in else 0.0,
        "verify.substring_accepts": substring,
        "exact.rep_ratio": rep_ratio,
        "candidates.pairs_per_doc": pairs_in / docs if docs else 0.0,
    }


def stream_figures(passes: list[Pass]) -> dict[str, float]:
    import numpy as np

    batches = [b for p in passes for b in p.stream]
    trig = [b["triggerExecution"] / 1000 for b in batches]
    add = [b.get("addBatch", 0) / 1000 for b in batches]
    if not trig:
        return {k: 0.0 for k in ("streaming.batches", "streaming.batch_p90_s", "streaming.add_batch_s", "streaming.trigger_overhead_s")}
    return {
        "streaming.batches": len(batches) / len(passes),
        "streaming.batch_p90_s": float(np.percentile(trig, 90)),
        "streaming.add_batch_s": statistics.median(add),
        "streaming.trigger_overhead_s": statistics.median(t - a for t, a in zip(trig, add)),
    }


def per_layer(spark, wl, passes: list[Pass], untraced: list[Pass], log_dir: str, corpus_dir: str, meta: dict, session: dict) -> tuple[dict[str, float], bool]:
    """Every per-layer metric of a traced run, and whether the distributed
    connected components agreed. Stops the session (to finish the event log)."""
    good = [p for p in passes if p.check.get("ok")]
    out = kernel_rates(meta, corpus_dir)
    cc, cc_agrees = distributed_cc(spark, wl, good[-1])
    out.update(cc)
    spark.stop()  # finishes the event log
    out.update(eventlog.layer_metrics(eventlog.EventLog.latest(log_dir), [p.window for p in good], bs.NPROC))
    rows = eventlog.layer_rows(eventlog.stage_rows([d for p in good for d in p.run_dirs]))
    for layer in eventlog.STAGE_LAYERS:
        out[f"{layer}.rows_out"] = rows.get(layer, 0.0) / len(good)
    out.update(stage_figures(good[-1]))
    out.update(stream_figures(good))
    out["jvm.heap_peak_mb"] = statistics.median(p.peak_heap / 1e6 for p in good)
    out["session.start_s"] = session["start_s"]
    out["session.warm_s"] = session["warm_s"]
    tps = [statistics.median(p.turns / p.wall_s for p in ps if p.check.get("ok")) for ps in (untraced, good)]
    out["trace.overhead_ratio"] = tps[0] / tps[1]
    return out, cc_agrees


PER_LAYER_UNITS = {
    "span_s": "s", "busy_s": "s", "jobs": "count", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "gc_s": "s", "task_skew": "ratio", "rows_out": "rows",
}
EXTRA_UNITS = {
    "features.kernel_docs_per_s": "docs/s",
    "verify.pairs_in": "pairs",
    "verify.accept_ratio": "ratio",
    "verify.substring_accepts": "pairs",
    "verify.kernel_pairs_per_s": "pairs/s",
    "exact.rep_ratio": "ratio",
    "candidates.pairs_per_doc": "ratio",
    "cc.edges": "count",
    "cc.rounds": "count",
    "cc.distributed_s": "s",
    "pipeline.driver_gap_s": "s",
    "pipeline.slot_util": "ratio",
    "pipeline.unlabeled_jobs": "count",
    "streaming.batches": "count",
    "streaming.batch_p90_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.trigger_overhead_s": "s",
    "jvm.heap_peak_mb": "MB",
    "session.start_s": "s",
    "session.warm_s": "s",
    "trace.overhead_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {
        f"{layer}.{m}": u for layer in eventlog.STAGE_LAYERS for m, u in PER_LAYER_UNITS.items()
    }
    units.update(EXTRA_UNITS)
    return units


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    cfg = bs.config()
    corpus_dir = corpus.materialize(
        f"{bs.WORK}/corpus", args.workload, args.seed, cfg.k_shingle, cfg.jaccard_threshold
    )
    meta = corpus.load_meta(corpus_dir)
    truth = Truth(corpus_dir)
    shutil.rmtree(STATE, ignore_errors=True)
    os.makedirs(STATE)
    wl = (StreamWorkload if args.workload == "stream-drain" else BatchWorkload)(corpus_dir, meta)
    log_dir = f"{bs.WORK}/eventlog"
    shutil.rmtree(log_dir, ignore_errors=True)

    spark = None
    try:
        # set-up, measured once: JVM launch, session build, worker warm-up,
        # then the workload's own preparation (warm pass or stream bootstrap)
        t0 = time.perf_counter()
        spark = bs.build()
        t1 = time.perf_counter()
        bs.warm_up(spark)
        t2 = time.perf_counter()
        wl.attach(spark)
        wl.prepare(spark)
        setup_s = time.perf_counter() - t0
        session = {"start_s": t1 - t0, "warm_s": t2 - t1}

        seconds = args.seconds / 2 if args.trace else args.seconds
        passes = timed_passes(spark, wl, truth, seconds, "t")
        untraced: list[Pass] = []
        if args.trace:
            untraced = passes
            spark.stop()
            spark = bs.build(event_log_dir=log_dir)
            bs.warm_up(spark)
            wl.attach(spark)
            passes = timed_passes(spark, wl, truth, seconds, "traced")
        attempted = len(untraced) + len(passes)
        failed = sum(1 for p in untraced + passes if not p.check.get("ok"))
        phases = [untraced, passes] if args.trace else [passes]
        if not all(any(p.check.get("ok") for p in ps) for ps in phases):
            print(f"{failed} of {attempted} passes failed; no metrics without a passing pass", file=sys.stderr)
            return 1

        if args.trace:
            values, cc_agrees = per_layer(spark, wl, passes, untraced, log_dir, corpus_dir, meta, session)
            spark = None  # stopped by per_layer
            attempted += 1
            if not cc_agrees:
                print("distributed connected components disagree with the pipeline", file=sys.stderr)
                failed += 1
            units = per_layer_units()
            metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
        else:
            e2e = end_to_end(passes, setup_s)
            metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
            checked = [p.check for p in passes if "false_merge_pairs" in p.check]
            print(f"workload={args.workload} seed={args.seed} passes={attempted} failed={failed}")
            for k, m in metrics.items():
                print(f"  {k:20s} {m['value']:14.4f} {m['unit']}")
            print(f"  {'false_merge_pairs':20s} {max((c['false_merge_pairs'] for c in checked), default=0):14d} count")
            print(f"  {'error_rate':20s} {failed / attempted:14.4f} ratio")
    finally:
        bs.stop_all(spark)
        signal.alarm(0)
        shutil.rmtree(STATE, ignore_errors=True)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
