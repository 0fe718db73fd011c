"""Seeded input data for the ``corpus_pipeline`` workload.

``base_tables`` writes the two corpus tables the queries read, ``documents``
and ``embeddings``, with the same column names and Parquet types as the
engine's fixtures, from a numpy generator seeded by the workload seed.
``corpus_tables`` replicates a base set ``reps`` times the way the
repository's ``tools/gen_scale_data.py`` does (its ``SPANS`` key offsets and
its replica-tagged trailing token, so replicas are near-duplicates), in
pyarrow rather than on a Spark session, so building it neither starts a JVM
nor warms the one being measured. Both are cached under the work directory by
a key that covers every input, so a seed is generated once per checkout and
reused by later runs.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Bump when the generated content changes, so stale caches are not reused.
GEN_VERSION = 2

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "window line sort column order data join small big filter query group "
    "stream customer vector"
).split()
LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
CORPUS_TABLES = ("documents", "embeddings")
N_FILES = 4  # files per replicated table


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _cache_dir(root: str, kind: str, spec: dict) -> str:
    key = hashlib.sha256(json.dumps({"v": GEN_VERSION, **spec}, sort_keys=True).encode())
    return os.path.join(root, f"{kind}-{key.hexdigest()[:16]}")


def _publish(tmp: str, final: str) -> None:
    """Rename a finished build into place; a concurrent twin wins quietly."""
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def base_tables(cache_root: str, seed: int, sf: float) -> str:
    """Directory of the corpus tables for ``seed`` at scale ``sf``."""
    final = _cache_dir(cache_root, "base", {"seed": seed, "sf": sf})
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _generate(tmp, np.random.default_rng(seed), sf)
    _publish(tmp, final)
    return final


def _generate(out: str, rng: np.random.Generator, sf: float) -> None:
    n_doc = max(int(50_000 * sf), 50)
    n_emb = max(int(50_000 * sf), 50)

    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(8, 100, n_doc)]
    # a share of near-duplicates: an earlier document plus one marker token
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{s}" for s in np.arange(n_doc) % 20],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(size=(10, 64))
    vec = rng.normal(size=(n_emb, 64)) + 0.15 * centers[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": labels,
    })


def _content_digest(base_dir: str) -> str:
    h = hashlib.sha256()
    for name in CORPUS_TABLES:
        with open(os.path.join(base_dir, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()


def _key_spans(repo_root: str) -> dict[str, int]:
    """Per-replica key offsets of ``tools/gen_scale_data.py``."""
    spec = importlib.util.spec_from_file_location(
        "gen_scale_data", os.path.join(repo_root, "tools", "gen_scale_data.py")
    )
    gsd = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gsd)
    return gsd.SPANS


def _replicate(table: pa.Table, name: str, reps: int, spans: dict[str, int]) -> pa.Table:
    """``reps`` copies of ``table`` with replica-offset keys; documents get a
    trailing `` zrep<i>`` token and their ``n_chars`` recomputed."""
    copies = []
    for rep in range(reps):
        t = table
        for col, span in spans.items():
            if col in t.column_names:
                i = t.column_names.index(col)
                t = t.set_column(i, col, pc.add(t[col], pa.scalar(rep * span, t.schema.field(col).type)))
        if name == "documents":
            text = pc.binary_join_element_wise(t["text"], pa.scalar(f"zrep{rep}"), " ")
            t = t.set_column(t.column_names.index("text"), "text", text)
            t = t.set_column(t.column_names.index("n_chars"), "n_chars",
                             pc.cast(pc.utf8_length(text), pa.int64()))
        copies.append(t)
    return pa.concat_tables(copies)


def corpus_tables(cache_root: str, repo_root: str, base_dir: str, reps: int) -> str:
    """``reps``-times replicated copy of the corpus tables of ``base_dir``,
    each written as ``N_FILES`` files (rows dealt round-robin), cached by
    content."""
    final = _cache_dir(cache_root, "corpus", {"base": _content_digest(base_dir), "reps": reps,
                                              "tables": CORPUS_TABLES})
    if os.path.isdir(final):
        return final
    spans = _key_spans(repo_root)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    for name in CORPUS_TABLES:
        out = os.path.join(tmp, f"{name}.parquet")
        os.makedirs(out)
        table = _replicate(pq.read_table(os.path.join(base_dir, f"{name}.parquet")), name,
                           reps, spans)
        for k in range(N_FILES):
            pq.write_table(table.take(np.arange(k, table.num_rows, N_FILES)),
                           os.path.join(out, f"part-{k:05d}.parquet"))
    _publish(tmp, final)
    return final
