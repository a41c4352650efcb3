"""Seeded corpora for the benchmark workloads, cached on disk.

``crawl`` corpora come from the program's own public generator
(``sources.datagen.generate_pages``); the ``dense`` corpus generator lives
here because no program module makes inputs of that shape. A corpus is a
parquet file plus a sidecar with its labels and the oracle's labeled pairs,
keyed by (kind, size, seed), so generation and the single-process oracle are
paid once and never inside a timed number.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd

PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]
# small row groups: a single-row-group file is one unsplittable scan task,
# which would serialise the sketch stage onto one core
ROW_GROUP_SIZE = 500
# pages drawn from each corpus for the pairwise-F1 oracle
F1_SAMPLE = 5000

_SYLLABLES = [a + b for a in "bdfgklmnprstvz" for b in "aeiou"]


def dense_pages(n_docs: int, seed: int) -> pd.DataFrame:
    """Near-duplicate-dense pages: every doc has 260-400 words, so every
    sketch is a full 256 hashes. About 70% of docs sit in near-dup
    clusters whose sizes follow Zipf(1.6), capped at n_docs/75, each member
    perturbing 0.5-6% of its cluster's base words; about 15% sit in
    transitive chains of 20-80 docs at 3% per step; the rest are unique.
    Columns are those of ``generate_pages`` (``kind`` and ``group_id`` are
    labels the program never reads)."""
    rng = np.random.default_rng(seed)
    syl = np.array(_SYLLABLES)
    words: set[str] = set()
    while len(words) < 8000:
        words.add("".join(rng.choice(syl, size=int(rng.integers(2, 5)))))
    vocab = np.array(sorted(words))
    ranks = np.arange(1, vocab.size + 1, dtype=np.float64)
    cum = np.cumsum(1.0 / ranks**1.1)
    cum /= cum[-1]

    def sample(n: int) -> np.ndarray:
        return np.searchsorted(cum, rng.random(n))

    def base() -> np.ndarray:
        return sample(int(rng.integers(260, 401)))

    def perturb(idx: np.ndarray, frac: float) -> np.ndarray:
        out = idx.copy()
        pos = rng.choice(out.size, size=max(1, int(out.size * frac)), replace=False)
        # a replacement always differs from the word it replaces
        out[pos] = (out[pos] + 1 + sample(pos.size) % (vocab.size - 1)) % vocab.size
        return out

    docs: list[np.ndarray] = []
    kinds: list[str] = []
    groups: list[int] = []
    cap = max(20, n_docs // 75)
    gid = 0
    n_near = int(n_docs * 0.70)
    while n_near > 0:
        gid += 1
        size = min(int(rng.zipf(1.6)), cap, n_near)
        b = base()
        docs.append(b)
        for _ in range(size - 1):
            docs.append(perturb(b, float(rng.uniform(0.005, 0.06))))
        kinds += ["near"] * size
        groups += [gid] * size
        n_near -= size
    n_chain = int(n_docs * 0.15)
    while n_chain > 0:
        gid += 1
        size = min(int(rng.integers(20, 81)), n_chain)
        cur = base()
        for _ in range(size):
            docs.append(cur)
            cur = perturb(cur, 0.03)
        kinds += ["chain"] * size
        groups += [gid] * size
        n_chain -= size
    while len(docs) < n_docs:
        gid += 1
        docs.append(base())
        kinds.append("unique")
        groups.append(gid)

    order = rng.permutation(n_docs)
    texts = [" ".join(vocab[docs[i]]) for i in order]
    ts = np.datetime64("2024-01-01T00:00:00") + rng.integers(
        0, 3600, size=n_docs
    ).cumsum().astype("timedelta64[s]")
    return pd.DataFrame(
        {
            "url": [f"https://dense{i % 499}.example/{seed}-{i:08d}" for i in range(n_docs)],
            "warc_ts": ts,
            "html": [b"<html><body>" + t.encode() + b"</body></html>" for t in texts],
            "text": texts,
            "lang": "en",
            "group_id": np.array(groups, dtype=np.int64)[order],
            "kind": np.array(kinds)[order],
        }
    )


def generate(kind: str, n_docs: int, seed: int) -> pd.DataFrame:
    if kind == "crawl":
        from cpp_near_dedupe_spark.sources.datagen import generate_pages

        return generate_pages(n_docs, seed=seed)
    if kind == "dense":
        return dense_pages(n_docs, seed)
    raise ValueError(f"unknown corpus kind {kind!r}")


def write_pages(pdf: pd.DataFrame, path: str) -> None:
    pdf[PAGE_COLUMNS].to_parquet(path, row_group_size=ROW_GROUP_SIZE, index=False)


def f1_sample(n_docs: int, seed: int) -> np.ndarray:
    """Sorted row indices of the labeled sample, fixed by (size, seed)."""
    rng = np.random.default_rng([seed, 0xF1])
    return np.sort(rng.choice(n_docs, size=min(F1_SAMPLE, n_docs), replace=False))


def labels_of(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-page labels the checks need: generator kind, a 64-bit hash of
    the text (byte-identical texts share it) and its whitespace word count."""
    text = pdf.text.fillna("")
    return pd.DataFrame(
        {
            "url": pdf.url,
            "kind": pdf.kind,
            "text_hash": pd.util.hash_pandas_object(text, index=False).values,
            "words": text.str.split().str.len().astype(np.int64),
        }
    )


class Corpus:
    """A cached corpus: ``path`` is the pages parquet file; ``labels`` has
    one row per page, in file order; ``oracle`` holds the sample's labeled
    pairs as corpus row numbers with their exact sketch Jaccard. The cache
    key holds all the files depend on: kind, size, seed and sample size."""

    KEEP = 12  # corpora kept in the cache; the least recently used go first

    def __init__(self, root: str, kind: str, n_docs: int, seed: int):
        self.kind, self.n_docs, self.seed = kind, n_docs, seed
        self.dir = os.path.join(root, f"{kind}_{n_docs}_{seed}_s{F1_SAMPLE}")
        self.path = os.path.join(self.dir, "pages.parquet")
        if not os.path.exists(os.path.join(self.dir, "meta.json")):
            self._build()
            self._evict(root)
        os.utime(self.dir)
        with open(os.path.join(self.dir, "meta.json")) as f:
            meta = json.load(f)
        self.gen_s, self.oracle_s = meta["gen_s"], meta["oracle_s"]
        self.labels = pd.read_parquet(os.path.join(self.dir, "labels.parquet"))
        o = np.load(os.path.join(self.dir, "oracle.npz"))
        self.oracle = {k: o[k] for k in o.files}

    def _build(self) -> None:
        from cpp_near_dedupe_spark.plans.quality import oracle_labeled_pairs

        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.perf_counter()
        pdf = generate(self.kind, self.n_docs, self.seed)
        write_pages(pdf, os.path.join(tmp, "pages.parquet"))
        gen_s = time.perf_counter() - t0
        labels_of(pdf).to_parquet(os.path.join(tmp, "labels.parquet"), index=False)
        t0 = time.perf_counter()
        rows = f1_sample(self.n_docs, self.seed)
        pairs, jac, _ = oracle_labeled_pairs(pdf.text.iloc[rows].tolist())
        np.savez(
            os.path.join(tmp, "oracle.npz"),
            rows=rows[np.array(pairs, dtype=np.int64).reshape(-1, 2)],
            jaccard=np.asarray(jac, dtype=np.float64),
        )
        oracle_s = time.perf_counter() - t0
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({"gen_s": gen_s, "oracle_s": oracle_s}, f)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)

    def _evict(self, root: str) -> None:
        dirs = [
            os.path.join(root, d)
            for d in os.listdir(root)
            if os.path.exists(os.path.join(root, d, "meta.json"))
        ]
        dirs.sort(key=os.path.getmtime, reverse=True)
        for d in dirs[self.KEEP:]:
            shutil.rmtree(d, ignore_errors=True)

    def batches(self, sizes: list[int]) -> list[str]:
        """Split the corpus in row order into parquet files of ``sizes``
        rows each (cached next to the corpus)."""
        import pyarrow.parquet as pq

        d = os.path.join(self.dir, "batches_" + "_".join(map(str, sizes)))
        paths = [os.path.join(d, f"{i:03d}.parquet") for i in range(len(sizes))]
        if not os.path.exists(os.path.join(d, "done")):
            os.makedirs(d, exist_ok=True)
            table = pq.read_table(self.path)
            start = 0
            for n, p in zip(sizes, paths):
                pq.write_table(table.slice(start, n), p, row_group_size=ROW_GROUP_SIZE)
                start += n
            open(os.path.join(d, "done"), "w").close()
        return paths
