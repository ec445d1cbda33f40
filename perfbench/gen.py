"""Seeded input generators for the benchmark.

Every input is a pure function of the seed: the same seed gives
byte-identical files (numpy's PCG64 stream, fixed column order, pyarrow
parquet without timestamps). The program under test only ever sees the
written files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The mock client's rule keywords (ondine_spark.llm.client.DeterministicMockClient
# defaults), in rule order: the first keyword contained in a prompt wins.
RULES = (
    ("excellent", "positive"), ("great", "positive"), ("good", "positive"),
    ("love", "positive"), ("terrible", "negative"), ("bad", "negative"),
    ("awful", "negative"), ("poor", "negative"),
)
KEYWORDS = tuple(k for k, _ in RULES)
# Share of reviews carrying a positive / a negative keyword (independent).
POS_RATE, NEG_RATE = 0.35, 0.25
# Mean review length in words: the rendered prompt ("Review: " + text)
# averages ~297 bytes, the prompt size bench.py's prompt_bytes_avg_100k reads.
MEAN_WORDS = 39


def vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """Distinct lowercase pseudo-words that contain no rule keyword, so
    sentiment appears only where the generator puts it."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 11))
        w = "".join(rng.choice(letters, n))
        if w in seen or any(k in w for k in KEYWORDS):
            continue
        seen.add(w)
        words.append(w)
    return np.array(words, dtype=object)


def zipf_words(rng: np.random.Generator, vocab: np.ndarray, n: int,
               s: float = 1.1) -> np.ndarray:
    """n words drawn from a Zipf(s) rank distribution over ``vocab``:
    posting-list lengths in the knowledge index follow natural text's
    heavy head instead of a uniform vocabulary's flat one."""
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks ** -s
    return vocab[rng.choice(len(vocab), size=n, p=p / p.sum())]


def _texts(rng: np.random.Generator, vocab: np.ndarray, n: int,
           mean_words: int) -> list[list[str]]:
    lens = np.clip(rng.poisson(mean_words, n), 5, None)
    flat = zipf_words(rng, vocab, int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(list(flat[at:at + k]))
        at += k
    return out


def reviews(seed: int, n: int) -> pd.DataFrame:
    """``id, review`` rows; sentiment keywords at fixed rates."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng, 5000)
    texts = _texts(rng, vocab, n, MEAN_WORDS)
    pos = rng.random(n) < POS_RATE
    neg = rng.random(n) < NEG_RATE
    pos_kw = rng.choice(KEYWORDS[:4], n)
    neg_kw = rng.choice(KEYWORDS[4:], n)
    for i, words in enumerate(texts):
        for flag, kw in ((pos[i], pos_kw[i]), (neg[i], neg_kw[i])):
            if flag:
                words.insert(int(rng.integers(0, len(words) + 1)), kw)
    return pd.DataFrame({
        "id": [f"r{i:07d}" for i in range(n)],
        "review": [" ".join(w) for w in texts],
    })


def kb_docs(seed: int, n: int) -> pd.DataFrame:
    """``doc_id, text`` passages for the knowledge store. They carry no
    rule keyword, so a retrieved context never changes a mock label."""
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(rng, 5000)
    texts = _texts(rng, vocab, n, 60)
    # sentence breaks give grounding several sentences per passage
    docs = []
    for words in texts:
        for j in range(12, len(words), 13):
            words[j] += "."
        docs.append(" ".join(words) + ".")
    return pd.DataFrame({
        "doc_id": [f"d{i:06d}" for i in range(n)],
        "text": docs,
    })


def dedup_corpus(seed: int, files: int, docs_per_file: int,
                 mass_cluster: int) -> list[pd.DataFrame]:
    """Backlog of ``files`` document frames ``doc_id, text, cluster``.

    Near-duplicate clusters of 2-5 docs are spread across files, and file
    ``files // 2`` also carries one ``mass_cluster``-doc near-identical
    cluster. Every member of a cluster is its base text with the last
    word replaced, so any two members share ~96% of their word 3-gram
    shingles while unrelated docs share almost none; ``cluster`` is the
    ground-truth cluster id (unique docs are singleton clusters). At 96%
    a 16-hash MinHash misses a pair (agreement below 0.5, or no band of 2
    agreeing) with probability ~1e-9; with one word replaced at a random
    position (~88%) a seed's 1,300 cluster pairs held a pair agreeing on
    only 7 of 16 hashes.
    """
    rng = np.random.default_rng([seed, 3])
    vocab = vocabulary(rng, 20000)
    n_total = files * docs_per_file
    n_small = n_total - mass_cluster
    base_words = _texts(rng, vocab, n_small, 100)
    # members per cluster: 60% singletons, rest 2-5 near-dups
    sizes = []
    left = n_small
    while left > 0:
        k = 1 if rng.random() < 0.6 else int(rng.integers(2, 6))
        k = min(k, left)
        sizes.append(k)
        left -= k
    docs: list[tuple[str, int]] = []
    at = 0
    for cid, k in enumerate(sizes):
        base = base_words[at]
        at += k
        docs.extend((_variant(rng, vocab, base), cid) for _ in range(k))
    mass_id = len(sizes)
    mass_base = _texts(rng, vocab, 1, 100)[0]
    mass = [(_variant(rng, vocab, mass_base), mass_id)
            for _ in range(mass_cluster)]
    # spread the small-cluster docs over all files at random positions;
    # the mass cluster lands in one file
    order = rng.permutation(len(docs))
    per_file = [[] for _ in range(files)]
    slots = np.repeat(np.arange(files), docs_per_file)
    mass_file = files // 2
    slots = np.delete(slots, np.where(slots == mass_file)[0][:mass_cluster])
    for pos, idx in enumerate(order):
        per_file[int(slots[pos])].append(docs[idx])
    per_file[mass_file].extend(mass)
    frames = []
    serial = 0
    for f, rows in enumerate(per_file):
        ids, texts, clusters = [], [], []
        for text, cid in rows:
            ids.append(serial)
            texts.append(text)
            clusters.append(cid)
            serial += 1
        frames.append(pd.DataFrame({
            "doc_id": np.array(ids, dtype=np.int64),
            "text": texts,
            "cluster": np.array(clusters, dtype=np.int64),
        }))
    return frames


def _variant(rng: np.random.Generator, vocab: np.ndarray,
             base: list[str]) -> str:
    return " ".join(base[:-1] + [str(vocab[int(rng.integers(0, len(vocab)))])])


def expected_dedup_kept(frames: list[pd.DataFrame]) -> set[int]:
    """First-seen member of every cluster: earliest file, then the
    smallest id within that file (doc ids grow with file order)."""
    allf = pd.concat(frames, ignore_index=True)
    return set(allf.groupby("cluster")["doc_id"].min().tolist())


def write_parquet(df: pd.DataFrame, path: str, parts: int = 1) -> None:
    """Write ``df`` as ``parts`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(df), parts + 1).astype(int)
    for i in range(parts):
        table = pa.Table.from_pandas(
            df.iloc[bounds[i]:bounds[i + 1]], preserve_index=False
        )
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def expected_labels(texts: pd.Series) -> pd.Series:
    """The mock client's pure label function, recomputed in pandas."""
    low = texts.str.lower()
    out = pd.Series("neutral", index=texts.index, dtype=object)
    decided = pd.Series(False, index=texts.index)
    for kw, label in RULES:
        hit = ~decided & low.str.contains(kw, regex=False)
        out[hit] = label
        decided |= hit
    return out
