"""Seeded generator for the two tables ``iterative_long`` reads.

Its four queries read only ``documents`` (the host-graph queries build
their graph from ``doc_id`` and serialize ``text`` into an archive) and
``embeddings`` (the dedup and curation queries build a cosine-pair
graph). The benchmark must not read anything outside its checkout, so
it writes its own copy of these two tables in the package's schema:
``documents`` with a 30-word vocabulary, 10-100 words per text and 5 %
" dup"-suffixed near-duplicates; ``embeddings`` as isotropic unit-norm
64-d float32 vectors. Row counts scale with ``sf`` as the package's
test tables do (5,000 documents and 2,000 vectors at sf0.1).

README.md compares these tables with the package's sf0.1 test tables:
pair-graph shape, build-call jobs and per-query time agree. The tables
depend only on ``(sf, seed)``; the benchmark uses one fixed pair, so
every run reads identical tables and the per-run ``--seed`` only
reorders queries and reshapes the scrape site.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated content changes, so cached copies rebuild.
VERSION = 2

TABLES = ("documents", "embeddings")
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _pick(rng: np.random.Generator, values: list[str], n: int,
          p: list[float] | None = None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def generate(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """Both tables as pandas frames, deterministic in (sf, seed)."""
    n_docs, n_vecs = int(50_000 * sf), int(20_000 * sf)
    t: dict[str, pd.DataFrame] = {}

    rng = np.random.default_rng([seed, 0])
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(_pick(rng, VOCAB, n)) for n in lengths]
    dup_ids = rng.choice(n_docs, n_docs // 20, replace=False)
    for i in dup_ids:
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})

    rng = np.random.default_rng([seed, 1])
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})
    return t


def ensure(root: str, sf: float, seed: int) -> str:
    """Write the tables under ``root`` once and return their directory.

    A finished copy is marked by its directory name (which carries the
    generator version, scale and seed) and is reused by later runs; a
    half-written copy never gets that name because the write goes to a
    temporary name that is renamed into place at the end."""
    out = os.path.join(root, f"tables-v{VERSION}-sf{sf}-seed{seed}")
    if os.path.isdir(out):
        return out
    part = f"{out}.partial-{os.getpid()}"
    shutil.rmtree(part, ignore_errors=True)
    os.makedirs(part)
    for name, df in generate(sf, seed).items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(part, f"{name}.parquet"))
    try:
        os.rename(part, out)
    except OSError:  # another process finished first
        shutil.rmtree(part, ignore_errors=True)
    return out
