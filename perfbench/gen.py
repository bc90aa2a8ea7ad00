"""Seeded input generators for the benchmark workloads.

Every input a workload feeds the engine comes from here, as a pure
function of the seed: the same seed gives the same bytes, another
seed gives other data. PARAMS holds the sizes and shapes; every run
copies its workload's entry into its side file.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Imbalanced binary table for the classifier workload. Features are
# uniform on the declared range [0, 1]; the positive class is the
# noisy upper tail of a linear score, so the rule base can learn it
# and GM / AUC move well away from 0.5.
CHI_PARAMS = {"rows": 12000, "d": 6, "labels": 3, "pos_quantile": 0.85, "flip": 0.05, "folds": 5}

# Curation corpus: base documents over a small vocabulary, plus planted
# exact copies and near copies (a few tokens substituted, Jaccard of
# 3-shingles well above the 0.5 MinHash threshold), plus unit-norm
# clustered 64-d embeddings (the `embeddings` schema the similarity
# operators read; the repo's testdata is unit-norm too).
CORPUS_PARAMS = {
    "base_docs": 500,
    "exact_dups": 50,
    "near_dups": 100,
    "near_dup_edits": 2,
    "vocab": 400,
    "doc_tokens": [30, 90],
    "vectors": 2000,
    "dim": 64,
    "clusters": 8,
    "cluster_noise": 0.35,
}

PARAMS = {"chi_cv": CHI_PARAMS, "llm_curation": CORPUS_PARAMS}


def _rng(seed: int, name: str, shard: int = 0) -> np.random.Generator:
    # one independent stream per (seed, table, shard): adding a table
    # or a shard never shifts another one's bytes
    return np.random.default_rng([seed, shard, int.from_bytes(name.encode()[:8], "little")])


def chi_table(seed: int) -> pd.DataFrame:
    """id, f1..fd (double in [0, 1]), label (int, 1 = minority)."""
    p = CHI_PARAMS
    rng = _rng(seed, "chi_cv")
    n, d = p["rows"], p["d"]
    x = rng.random((n, d))
    w = rng.uniform(0.5, 1.5, d)
    s = x @ w
    y = (s > np.quantile(s, p["pos_quantile"])).astype(np.int32)
    flip = rng.random(n) < p["flip"]
    y[flip] = 1 - y[flip]
    out = pd.DataFrame({"id": np.arange(n, dtype=np.int64)})
    for i in range(d):
        out[f"f{i + 1}"] = x[:, i]
    out["label"] = y
    return out


def documents(seed: int, shard: int = 0) -> pd.DataFrame:
    """The `documents` schema: doc_id, text, lang, source, n_chars."""
    p = CORPUS_PARAMS
    rng = _rng(seed, "documents", shard)
    vocab = np.array([f"w{i:03d}" for i in range(p["vocab"])])
    lo, hi = p["doc_tokens"]
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(lo, hi + 1))])
        for _ in range(p["base_docs"])
    ]
    for src in rng.integers(0, p["base_docs"], p["exact_dups"]):
        texts.append(texts[src])
    for src in rng.integers(0, p["base_docs"], p["near_dups"]):
        toks = texts[src].split(" ")
        for pos in rng.choice(len(toks), p["near_dup_edits"], replace=False):
            toks[pos] = vocab[rng.integers(0, len(vocab))]
        texts.append(" ".join(toks))
    # shuffle so copies are not adjacent to their sources
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    n = len(texts)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.where(rng.random(n) < 0.9, "en", "de"),
            "source": [f"src{k}" for k in rng.integers(0, 8, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(seed: int, shard: int = 0) -> pa.Table:
    """The `embeddings` schema: vec_id, embedding list<float> (unit
    norm), label (cluster id)."""
    p = CORPUS_PARAMS
    rng = _rng(seed, "embeddings", shard)
    centers = rng.standard_normal((p["clusters"], p["dim"]))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    lab = rng.integers(0, p["clusters"], p["vectors"]).astype(np.int32)
    v = centers[lab] + p["cluster_noise"] * rng.standard_normal(
        (p["vectors"], p["dim"])
    ) / np.sqrt(p["dim"])
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(p["vectors"], dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(lab),
        }
    )


def write_inputs(seed: int, workload: str, out_dir: str, shard: int = 0) -> dict[str, str]:
    """Write the workload's tables (of one corpus shard, for
    llm_curation) as parquet under out_dir; returns {table name: path}."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "chi_cv":
        tables = {"clf": pa.Table.from_pandas(chi_table(seed), preserve_index=False)}
    elif workload == "llm_curation":
        tables = {
            "documents": pa.Table.from_pandas(documents(seed, shard), preserve_index=False),
            "embeddings": embeddings(seed, shard),
        }
    else:
        raise ValueError(f"unknown workload: {workload}")
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths


def digest(paths: dict[str, str]) -> str:
    """sha256 over the written files, in table-name order."""
    h = hashlib.sha256()
    for name in sorted(paths):
        with open(paths[name], "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
