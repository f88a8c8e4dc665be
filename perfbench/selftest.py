"""Self-tests of the benchmark's own parts on tiny inputs:

    python3 perfbench/selftest.py

- corpus: the same seed gives the same corpus digest and truth count, a
  different seed a different digest;
- check: the gate passes the truth itself and catches a false merge, a
  missed duplicate and a lost conversation;
- eventlog: on a tiny traced pipeline run every job lands in one layer, the
  batch layers all show work, and rows_out matches the run's docs.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import benchsession as bs

bs.configure_env()
sys.path.insert(0, bs.ROOT)

import corpus  # noqa: E402
import eventlog  # noqa: E402
from check import Truth  # noqa: E402

TMP = os.path.join(bs.WORK, "selftest")


def test_corpus_determinism() -> None:
    for wl in corpus.SIZES:
        a = corpus.load_meta(corpus.materialize(f"{TMP}/a", wl, 1, 3, 0.8))
        b = corpus.load_meta(corpus.materialize(f"{TMP}/b", wl, 1, 3, 0.8))
        c = corpus.load_meta(corpus.materialize(f"{TMP}/c", wl, 2, 3, 0.8))
        assert a == b, (a, b)
        assert a["digest"] != c["digest"], wl
        if wl == "stream-drain":  # a fixed share of turns, to within one conversation
            assert 0 <= a["delta_turns"] - corpus.STREAM_DELTA_SHARE * a["turns"] < 20, a
        if wl == "unique-long":
            assert a["truth_pairs"] == c["truth_pairs"] == 0, (a, c)
        else:
            assert a["truth_pairs"] > 0 and c["truth_pairs"] > 0, (a, c)
        print(f"corpus {wl}: {a['convs']} convs, {a['turns']} turns, {a['truth_pairs']} truth pairs")


def test_check_gate() -> None:
    truth = Truth(corpus.materialize(f"{TMP}/a", "mixed", 1, 3, 0.8))
    ids = list(truth.group)
    perfect = truth.check(ids, [truth.cluster[c] for c in ids])
    assert perfect["ok"] and perfect["recall"] == 1.0 and perfect["false_merge_pairs"] == 0, perfect

    merged = [truth.cluster[c] for c in ids]
    merged[0] = merged[1] = "m"  # c00000000 and c00000001 are unrelated uniques
    bad = truth.check(ids, merged)
    assert bad["false_merge_pairs"] > 0 and not bad["ok"], bad

    flood = [c for c in ids if truth.group[c] == "flood"]
    split = {c: (c if c in flood[: len(flood) // 2] else truth.cluster[c]) for c in ids}
    bad = truth.check(ids, [split[c] for c in ids])
    assert bad["recall"] < 0.99 and not bad["ok"], bad

    bad = truth.check(ids[1:], [truth.cluster[c] for c in ids[1:]])
    assert bad["coverage_errors"] == 1 and not bad["ok"], bad
    print("check gate ok")


def test_eventlog_reader() -> None:
    assert eventlog.job_layer(None) is None
    assert eventlog.job_layer("stage:docs:count") == "reassemble"
    assert eventlog.job_layer("stage:incr_docs") == "incremental"
    assert eventlog.job_layer("view:docs:full") == "streaming"
    assert eventlog.job_layer("fold:clusters") == "streaming"
    assert eventlog.job_layer("cc:collect") == "cc"

    from dedup.io import read_transcripts
    from dedup.pipeline import run_pipeline

    convs = corpus._mixed(200, 1, "mixed")
    corpus._write_files(convs, f"{TMP}/tiny", 2)
    log_dir = f"{TMP}/eventlog"
    spark = bs.build(event_log_dir=log_dir)
    try:
        w0 = time.time()
        run_pipeline(spark, read_transcripts(spark, f"{TMP}/tiny"), bs.config(), f"{TMP}/state", "tiny")
        window = (w0, time.time())
        spark.stop()
        spark = None
        log = eventlog.EventLog.latest(log_dir)
        m = eventlog.layer_metrics(log, [window], bs.NPROC)
        total = len(log.jobs_in(*window))
        counted = sum(m[f"{l}.jobs"] for l in eventlog.STAGE_LAYERS) + m["pipeline.unlabeled_jobs"]
        assert total > 0 and counted == total, (counted, total)
        for layer in ("reassemble", "features", "exact", "candidates", "verify", "cc"):
            assert m[f"{layer}.jobs"] >= 1 and m[f"{layer}.busy_s"] > 0, (layer, m)
        assert m["incremental.jobs"] == m["streaming.jobs"] == 0, m
        assert 0 < m["pipeline.slot_util"] <= 1.0, m
        rows = eventlog.layer_rows(eventlog.stage_rows([f"{TMP}/state/tiny"]))
        assert rows["reassemble"] == len(convs), rows
        print(f"eventlog reader ok: {total} jobs, unlabeled {m['pipeline.unlabeled_jobs']:.0f}")
    finally:
        bs.stop_all(spark)


def main() -> int:
    shutil.rmtree(TMP, ignore_errors=True)
    try:
        test_corpus_determinism()
        test_check_gate()
        test_eventlog_reader()
    finally:
        shutil.rmtree(TMP, ignore_errors=True)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
