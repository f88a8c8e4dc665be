"""Seeded transcript corpora for the benchmark workloads, and the exact
duplicate truth cached beside each one.

Every conversation is drawn from a numpy Generator keyed by (seed, workload
salt, index), so the corpus depends only on (workload, seed) and not on how
it is written. Each conversation carries a generator group id: clones of
one source, a substring-sharing pair, or the flood share a group, so a
cluster that mixes groups is a false merge.

The truth is exact shingle-Jaccard over the documents as the engine
normalizes them (``dedup.normalize``), computed by the repository's DuckDB
posting-list self-join (``tools/recall_eval.py``) with the engine's own
shingle hashing: a pair that shares no shingle cannot reach any positive
threshold, so the join loses no true pair.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 4000
_VOCAB = np.array([f"w{j:05d}" for j in range(VOCAB_SIZE)], dtype=object)
_BASE_TS_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z

# conversations per workload. mixed sits just above the engine's 10k-doc
# small-run threshold (dedup/pipeline.py), so its passes take the large-run
# planning profile; the others are sized so one timed pass fits the run
# budget on a 4-core host (see perfbench/README.md for the measured figures)
SIZES = {
    "mixed": 10300,
    "unique-long": 700,
    "near-dup-dense": 60,  # families of FAMILY_SIZE near-copies
    "stream-drain": 1000,
}
FAMILY_SIZE = 40
HOT_FAMILY_SIZE = 100  # above DedupConfig.bucket_cap (64): one hot LSH key
STREAM_DELTA_SHARE = 0.05  # of the turns, drained per run
STREAM_DELTA_FILES = 5  # one micro-batch each
_SALT = {"mixed": 11, "unique-long": 23, "near-dup-dense": 37, "stream-drain": 11}

# Mixed family bands (cumulative fractions of n), the dedup.fixtures mix.
_MIXED_BANDS = (
    ("unique", 0.60),
    ("exact", 0.70),
    ("near_hi", 0.80),
    ("near_lo", 0.85),
    ("fuzzy", 0.90),
    ("substring", 0.95),
    ("flood", 1.00),
)


@dataclass(frozen=True)
class Conv:
    conv_id: str
    group: str
    texts: list[str]


def _tokens(rng: np.random.Generator, n: int) -> list[str]:
    # squared-uniform ids skew toward low word ids, like real token counts
    u = rng.random(n)
    return list(_VOCAB[(VOCAB_SIZE * u * u).astype(np.int64)])


def _text(rng: np.random.Generator, lo: int, hi: int) -> str:
    return " ".join(_tokens(rng, int(rng.integers(lo, hi + 1))))


def _turns(rng: np.random.Generator, turns: tuple[int, int], toks: tuple[int, int]) -> list[str]:
    n = int(rng.integers(turns[0], turns[1] + 1))
    return [_text(rng, *toks) for _ in range(n)]


def _perturb(texts: list[str], rng: np.random.Generator, rate: float) -> list[str]:
    """Substitute round(rate * tokens) random tokens across the document."""
    toks = [t.split(" ") for t in texts]
    bounds = np.cumsum([len(t) for t in toks])
    for pos in rng.integers(0, int(bounds[-1]), int(round(bounds[-1] * rate))):
        ti = int(np.searchsorted(bounds, int(pos), side="right"))
        off = int(pos) - (int(bounds[ti - 1]) if ti else 0)
        toks[ti][off] = _VOCAB[int(rng.integers(0, VOCAB_SIZE))]
    return [" ".join(t) for t in toks]


def _char_noise(texts: list[str], rng: np.random.Generator, edits: int) -> list[str]:
    """Typos and fullwidth digits (which NFKC folds back to ASCII)."""
    out = list(texts)
    for _ in range(edits):
        ti = int(rng.integers(0, len(out)))
        s = list(out[ti])
        p = int(rng.integers(0, len(s)))
        if s[p] != " ":
            s[p] = chr(0xFF10 + int(rng.integers(0, 10))) if rng.random() < 0.5 else "x"
        out[ti] = "".join(s)
    return out


def _rng(seed: int, workload: str, *key: int) -> np.random.Generator:
    return np.random.default_rng([seed, _SALT[workload], *key])


def _mixed(n: int, seed: int, workload: str) -> list[Conv]:
    n_u = max(1, int(n * 0.60))
    shape = ((3, 20), (8, 40))

    def base(i: int) -> list[str]:
        return _turns(_rng(seed, workload, i, 1), *shape)

    flood = [_text(_rng(seed, workload, 0, 3), 120, 120)]
    out = []
    for idx in range(n):
        fam = next(name for name, hi in _MIXED_BANDS if idx / n < hi)
        rng = _rng(seed, workload, idx, 2)
        src = (idx * 2654435761) % n_u
        group = f"g{src}"
        if fam == "unique":
            texts, group = base(idx), f"g{idx}"
        elif fam == "exact":
            texts = base(src)
        elif fam == "near_hi":
            texts = _perturb(base(src), rng, float(rng.uniform(0.005, 0.03)))
        elif fam == "near_lo":
            texts = _perturb(base(src), rng, float(rng.uniform(0.10, 0.25)))
        elif fam == "fuzzy":
            texts = _char_noise(base(src), rng, int(rng.integers(1, 4)))
        elif fam == "substring":
            # (2k, 2k+1) share one 220-token turn and nothing else
            k = (idx - int(n * 0.90)) // 2
            texts, group = base(idx), f"s{k}"
            texts[len(texts) // 2] = _text(_rng(seed, workload, k, 4), 220, 220)
        else:
            texts, group = flood, "flood"
        out.append(Conv(f"c{idx:08d}", group, texts))
    return out


def _unique_long(n: int, seed: int, workload: str) -> list[Conv]:
    return [
        Conv(f"c{i:08d}", f"g{i}", _turns(_rng(seed, workload, i, 1), (15, 35), (40, 120)))
        for i in range(n)
    ]


def _near_dup_dense(n_families: int, seed: int, workload: str) -> list[Conv]:
    """Families of FAMILY_SIZE short near-copies (exact, token-perturbed,
    char-noise, below-threshold), substring-sharing pairs, and one family
    of HOT_FAMILY_SIZE light perturbations that floods an LSH bucket."""
    shape = ((3, 6), (8, 20))
    convs: list[tuple[str, list[str]]] = []
    for f in range(n_families):
        base = _turns(_rng(seed, workload, f, 1), *shape)
        for m in range(FAMILY_SIZE):
            rng = _rng(seed, workload, f, m, 2)
            kind = m % 5
            if m == 0 or kind == 1:
                texts = base
            elif kind in (2, 3):
                texts = _perturb(base, rng, float(rng.uniform(0.01, 0.04)))
            elif kind == 4:
                texts = _char_noise(base, rng, int(rng.integers(1, 3)))
            else:
                texts = _perturb(base, rng, float(rng.uniform(0.20, 0.40)))
            convs.append((f"f{f}", texts))
    for k in range(n_families):
        shared = _text(_rng(seed, workload, k, 3), 60, 60)
        for side in range(2):
            texts = _turns(_rng(seed, workload, k, side, 4), *shape)
            texts.insert(1, shared)
            convs.append((f"s{k}", texts))
    hot = [_text(_rng(seed, workload, 0, 5), 20, 20) for _ in range(5)]
    for m in range(HOT_FAMILY_SIZE):
        rng = _rng(seed, workload, m, 6)
        texts = list(hot)
        ti, off = int(rng.integers(0, 5)), int(rng.integers(0, 20))
        toks = texts[ti].split(" ")
        toks[off] = _VOCAB[int(rng.integers(0, VOCAB_SIZE))]
        texts[ti] = " ".join(toks)
        convs.append(("hot", texts))
    # interleave families in id order: a seeded permutation of positions
    order = _rng(seed, workload, 0, 7).permutation(len(convs))
    return [Conv(f"c{int(pos):08d}", g, t) for pos, (g, t) in zip(order, convs)]


def generate(workload: str, seed: int) -> list[Conv]:
    n = SIZES[workload]
    if workload in ("mixed", "stream-drain"):
        return _mixed(n, seed, workload)
    if workload == "unique-long":
        return _unique_long(n, seed, workload)
    if workload == "near-dup-dense":
        return _near_dup_dense(n, seed, workload)
    raise ValueError(f"unknown workload {workload!r}")


def stream_delta(convs: list[Conv]) -> set[str]:
    """The conversations drained per stream-drain run: whole conversations in
    crc32(conv_id) order (so families straddle the boundary) up to
    STREAM_DELTA_SHARE of the turns. A fixed share of turns, not a fixed
    hash bucket, keeps the drained work alike across seeds."""
    budget = STREAM_DELTA_SHARE * sum(len(c.texts) for c in convs)
    out: set[str] = set()
    for c in sorted(convs, key=lambda c: (zlib.crc32(c.conv_id.encode()), c.conv_id)):
        if budget <= 0:
            break
        out.add(c.conv_id)
        budget -= len(c.texts)
    return out


def doc_texts(convs: list[Conv]) -> list[str]:
    """Each conversation's document as the engine builds it: turns joined by
    newlines, then dedup.normalize.normalize_text."""
    import pandas as pd

    from dedup.normalize import normalize_text

    return normalize_text.func(pd.Series(["\n".join(c.texts) for c in convs], dtype=object)).tolist()


def truth_pairs(convs: list[Conv], k: int, threshold: float) -> list[tuple[str, str]]:
    """Exact shingle-Jaccard pairs (a < b) with J >= threshold."""
    from tools.recall_eval import duckdb_truth_pairs

    texts = dict(zip((c.conv_id for c in convs), doc_texts(convs)))
    return sorted(duckdb_truth_pairs(texts, k, threshold))


def _turn_table(convs: list[Conv]) -> pa.Table:
    cid, tidx, role, text, tool, ts = [], [], [], [], [], []
    for n, c in enumerate(convs):
        for t, body in enumerate(c.texts):
            cid.append(c.conv_id)
            tidx.append(t)
            role.append("user" if t % 2 == 0 else "assistant")
            text.append(body)
            tool.append(f"tool_{(n + t) % 8}" if t % 2 and (n + t) % 5 == 0 else None)
            ts.append(_BASE_TS_US + (n * 60 + t) * 1_000_000)
    return pa.table(
        {
            "conv_id": pa.array(cid, pa.string()),
            "turn_idx": pa.array(tidx, pa.int32()),
            "role": pa.array(role, pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }
    )


def _write_files(convs: list[Conv], out_dir: str, n_files: int) -> None:
    """Whole conversations per file (the streaming input contract)."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(convs) // n_files)
    for i in range(n_files):
        chunk = convs[i * step : (i + 1) * step]
        if chunk:
            pq.write_table(_turn_table(chunk), f"{out_dir}/part-{i:05d}.parquet")


def digest(convs: list[Conv]) -> str:
    h = hashlib.sha256()
    for c in convs:
        h.update(f"{c.conv_id}\x00{c.group}\x00".encode())
        for t in c.texts:
            h.update(t.encode() + b"\x01")
    return h.hexdigest()


def materialize(root: str, workload: str, seed: int, k: int, threshold: float) -> str:
    """Write the (workload, seed) corpus and its truth under root once;
    later calls return the cached directory."""
    with open(__file__, "rb") as f:  # a changed generator never reuses a stale cache
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = f"{root}/{workload}-{seed}-{version}"
    if os.path.exists(f"{out}/meta.json"):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    convs = generate(workload, seed)
    delta = stream_delta(convs) if workload == "stream-drain" else set()
    if delta:
        _write_files([c for c in convs if c.conv_id not in delta], f"{tmp}/boot", 4)
        _write_files([c for c in convs if c.conv_id in delta], f"{tmp}/delta", STREAM_DELTA_FILES)
    else:
        _write_files(convs, f"{tmp}/turns", 4)
    truth = truth_pairs(convs, k, threshold)
    pq.write_table(
        pa.table({"a": [a for a, _ in truth], "b": [b for _, b in truth]},
                 schema=pa.schema([("a", pa.string()), ("b", pa.string())])),
        f"{tmp}/truth.parquet",
    )
    pq.write_table(
        pa.table({"conv_id": [c.conv_id for c in convs], "group": [c.group for c in convs]}),
        f"{tmp}/groups.parquet",
    )
    meta = {
        "workload": workload,
        "seed": seed,
        "digest": digest(convs),
        "convs": len(convs),
        "turns": sum(len(c.texts) for c in convs),
        "delta_turns": sum(len(c.texts) for c in convs if c.conv_id in delta),
        "truth_pairs": len(truth),
    }
    with open(f"{tmp}/meta.json", "w") as f:
        json.dump(meta, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def load_meta(corpus_dir: str) -> dict:
    with open(f"{corpus_dir}/meta.json") as f:
        return json.load(f)
