"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same rows, and ``content_hash`` fingerprints the rows (not the parquet
bytes, which carry writer metadata) so every result can name its inputs.

``long_corpus`` writes the long-document corpus of ``doc_batch`` and
``doc_staged`` as several parquet files in the ``documents`` schema, plus
a ``ground_truth`` table (doc_id, gt_text). The total word count is
fixed, so op cost does not swing with the seed; doc count, doc lengths,
vocabulary and the perturbed share of the ground truth do.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ref import reference_output

#: Total words in a long corpus, split across its documents.
CORPUS_WORDS = 150_000
#: Documents shorter than the stage count, to exercise the equal-partition
#: rule's "everything lands in the last chunk" branch.
SHORT_DOCS = 2
CORPUS_FILES = 4
LANGS = ["en", "es", "zh", "de", "fr"]
_ARTICLES = {"a", "an", "the"}


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 10))
        w = "".join(rng.choice(letters, n))
        if w not in _ARTICLES:
            words.add(w)
    return np.array(sorted(words))


def _write_parts(df: pd.DataFrame, path: str, n_files: int, weight=None) -> None:
    """Write ``df`` as ``n_files`` parquet files. With ``weight``, rows go
    greedily (heaviest first) to the lightest file, so no file — and no
    scan task — carries much more of the work than the others."""
    os.makedirs(path, exist_ok=True)
    if weight is None:
        files = np.arange(len(df)) % n_files
    else:
        load, files = [0] * n_files, np.zeros(len(df), dtype=int)
        for i in np.argsort(-np.asarray(weight), kind="stable"):
            k = load.index(min(load))
            files[i] = k
            load[k] += weight[i]
    for k in range(n_files):
        part = df[files == k].reset_index(drop=True)
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )


def content_hash(*frames: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for df in frames:
        h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
        h.update(",".join(df.columns).encode())
    return h.hexdigest()[:16]


def corpus_frames(seed: int, num_steps: int) -> tuple[pd.DataFrame, pd.DataFrame, dict]:
    """(documents, ground_truth, spec) for ``seed``, in memory."""
    rng = np.random.default_rng([seed, 1])
    n_docs = int(rng.integers(49, 52))  # narrow: docs_per_s divides by it
    # narrow: op cost grows with the vocabulary (distinct words per doc)
    vocab = _vocab(rng, int(rng.integers(4000, 4401)))
    perturb_frac = float(rng.uniform(0.1, 0.3))
    # lengths: lognormal shares of the fixed word budget, so docs range
    # from ~2k to ~4.5k words while the total stays constant; narrow, so
    # the reduce's per-partition load does not swing with the seed
    shares = rng.lognormal(0.0, 0.15, n_docs - SHORT_DOCS)
    lens = np.maximum(1000, (shares / shares.sum() * CORPUS_WORDS).astype(int))
    lens = list(lens) + [int(x) for x in rng.integers(1, num_steps, SHORT_DOCS)]
    order = rng.permutation(n_docs)
    texts = [""] * n_docs
    for i, n in zip(order, lens):
        texts[i] = " ".join(vocab[rng.integers(0, len(vocab), n)])
    perturbed = rng.random(n_docs) < perturb_frac
    gts = []
    for text, bad in zip(texts, perturbed):
        gt = reference_output(text, num_steps)
        if bad:
            ws = gt.split(" ")
            for j in rng.choice(len(ws), max(1, len(ws) // 50), replace=False):
                ws[j] = "zz" + ws[j]  # outside the vocabulary: a wrong word
            gt = " ".join(ws)
        gts.append(gt)
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[i % len(LANGS)] for i in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    gt = pd.DataFrame({"doc_id": ids, "gt_text": gts})
    spec = {
        "docs": n_docs,
        "words": int(sum(lens)),
        "vocab": int(len(vocab)),
        "perturbed": int(perturbed.sum()),
        "hash": content_hash(docs, gt),
    }
    return docs, gt, spec


def long_corpus(seed: int, root: str, num_steps: int) -> dict:
    """Write the long-document corpus under ``root``; return its spec."""
    docs, gt, spec = corpus_frames(seed, num_steps)
    _write_parts(docs, os.path.join(root, "documents.parquet"), CORPUS_FILES, docs.n_chars)
    _write_parts(gt, os.path.join(root, "ground_truth.parquet"), 1)
    spec["gt"] = dict(zip(gt.doc_id.tolist(), gt.gt_text.tolist()))
    spec["text"] = dict(zip(docs.doc_id.tolist(), docs.text.tolist()))
    return spec
