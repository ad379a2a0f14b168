"""Seeded input generator for the benchmark workloads.

Usage: python3 perfbench/gen.py --seed N --out DIR

Writes, under DIR, every workload's inputs as parquet plus
``manifest.json`` (shapes, planted ground truth, content hash):

- ``store/``  profile_store: 7 columns, 120 tags, 48 hourly buckets
- ``corpus/`` dedup_corpus: Zipf-vocabulary documents with planted exact
  copies and planted near-duplicates at known edit rates

The same seed gives byte-identical files and therefore the same
``content_sha256``. The program under test only ever sees these files.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STORE_ROWS = 4_000
STORE_TAGS = 80
STORE_HOURS = 48
CORPUS_BASE_DOCS = 5_000
CORPUS_EXACT_BASES = 250  # each gets 1-3 identical copies
CORPUS_NEAR_BASES = 1_200  # each gets one edited variant
NEAR_EDIT_RATES = (0.03, 0.06, 0.10, 0.15)
VOCAB = 6_000
ZIPF_S = 1.1
# the vocabulary is the same for every seed: which word strings are common,
# and so which shingles hash low, must not change the dedup work per seed
VOCAB_SEED = 20240101
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
HOUR_US = 3_600_000_000


def _vocab() -> np.ndarray:
    rng = np.random.default_rng(VOCAB_SEED)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < VOCAB:
        n = int(rng.integers(2, 11))
        words.add("".join(rng.choice(letters, n)))
    return np.array(sorted(words))


def _zipf_p(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return p / p.sum()


def _texts(rng, vocab, p, n_docs, lo, hi) -> list[str]:
    lens = rng.integers(lo, hi + 1, n_docs).tolist()
    words = vocab[rng.choice(len(vocab), sum(lens), p=p)].tolist()
    out, at = [], 0
    for n in lens:
        out.append(" ".join(words[at : at + n]))
        at += n
    return out


def _with_nulls(rng, values: list, share: float) -> list:
    mask = rng.random(len(values)) < share
    return [None if m else v for v, m in zip(values, mask)]


def gen_store(rng, vocab, p) -> pa.Table:
    n = STORE_ROWS
    tags = np.array([f"store_{i:05d}" for i in range(STORE_TAGS)])
    cats = np.array([f"sku_{k}" for k in range(40)])
    return pa.table(
        {
            # every tag appears at least once, the rest Zipf-skewed
            "tag": pa.array(
                np.concatenate(
                    [tags, tags[rng.choice(STORE_TAGS, n - STORE_TAGS, p=_zipf_p(STORE_TAGS))]]
                )
            ),
            "ts": pa.array(
                EPOCH_US + rng.integers(0, STORE_HOURS * HOUR_US, n),
                pa.timestamp("us", tz="UTC"),
            ),
            "amount": pa.array(
                np.round(rng.lognormal(3.0, 1.0, n), 2), mask=rng.random(n) < 0.08
            ),
            "qty": pa.array(rng.integers(1, 50, n)),
            "sku": pa.array(cats[rng.choice(40, n, p=_zipf_p(40))]),
            "returned": pa.array(rng.random(n) < 0.07),
            "note": pa.array(_with_nulls(rng, _texts(rng, vocab, p, n, 1, 6), 0.5)),
        }
    )


def _edit(rng, words: list[str], rate: float, draws) -> list[str]:
    """Substitute max(1, round(rate*len)) distinct positions with a
    different vocabulary word taken from the ``draws`` iterator."""
    out = list(words)
    k = max(1, int(round(rate * len(words))))
    for pos in rng.choice(len(words), k, replace=False).tolist():
        w = out[pos]
        while w == out[pos]:
            w = next(draws)
        out[pos] = w
    return out


def gen_corpus(rng, vocab, p) -> tuple[pa.Table, dict]:
    base = _texts(rng, vocab, p, CORPUS_BASE_DOCS, 40, 80)
    docs = list(base)
    exact_groups: list[list[int]] = []
    for b in range(CORPUS_EXACT_BASES):
        group = [b]
        for _ in range(int(rng.integers(1, 4))):
            group.append(len(docs))
            docs.append(base[b])
        exact_groups.append(group)
    near_pairs: list[list] = []
    draws = iter(vocab[rng.choice(len(vocab), 64 * CORPUS_NEAR_BASES, p=p)].tolist())
    for j in range(CORPUS_NEAR_BASES):
        b = CORPUS_EXACT_BASES + j
        rate = NEAR_EDIT_RATES[j % len(NEAR_EDIT_RATES)]
        near_pairs.append([b, len(docs), rate])
        docs.append(" ".join(_edit(rng, base[b].split(" "), rate, draws)))
    # shuffle document order so planted copies do not sit side by side;
    # ids are the shuffled positions
    perm = rng.permutation(len(docs))
    new_id = np.empty(len(docs), dtype=np.int64)
    new_id[perm] = np.arange(len(docs))
    texts = [docs[i] for i in perm]
    truth = {
        "exact_groups": sorted(sorted(int(new_id[i]) for i in g) for g in exact_groups),
        "near_pairs": sorted(
            [min(int(new_id[a]), int(new_id[b])), max(int(new_id[a]), int(new_id[b])), r]
            for a, b, r in near_pairs
        ),
    }
    table = pa.table({"doc_id": pa.array(np.arange(len(docs), dtype=np.int64)), "text": texts})
    return table, truth


def _write(table: pa.Table, path: str, row_group_rows: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_rows, compression="snappy")


def generate(seed: int, out: str) -> dict:
    t0 = time.perf_counter()
    rng = np.random.default_rng(seed)
    vocab = _vocab()
    p = _zipf_p(VOCAB)
    store = gen_store(rng, vocab, p)
    corpus, truth = gen_corpus(rng, vocab, p)
    files = {
        "store/part-0.parquet": (store, STORE_ROWS // 8),
        "corpus/part-0.parquet": (corpus, corpus.num_rows // 8),
    }
    digest = hashlib.sha256()
    for rel, (table, rg) in files.items():
        path = os.path.join(out, rel)
        _write(table, path, rg)
        with open(path, "rb") as f:
            digest.update(rel.encode())
            digest.update(f.read())
    manifest = {
        "seed": seed,
        "content_sha256": digest.hexdigest(),
        "gen_s": time.perf_counter() - t0,
        "shapes": {
            "store": [store.num_rows, store.num_columns],
            "corpus": [corpus.num_rows, corpus.num_columns],
        },
        "store_tags": STORE_TAGS,
        "corpus_truth": truth,
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    m = generate(a.seed, a.out)
    print(json.dumps({k: m[k] for k in ("seed", "content_sha256", "gen_s", "shapes")}))


if __name__ == "__main__":
    main()
