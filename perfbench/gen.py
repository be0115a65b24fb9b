"""Seeded input generators for the benchmark workloads.

Each generator writes its inputs under a directory and returns the
answers the checks compare against, computed while generating (never by
running the program). The same seed gives byte-identical files: gzip
members carry no timestamp or name, and every random draw comes from a
generator seeded with the workload seed.
"""

from __future__ import annotations

import gzip
import os
import random

import numpy as np

# Sizes at scale 1.0. Tests pass a small scale; the benchmark runs 1.0.
DATASET = {"members": 32, "rows": 60, "standard": 2,
           "wide_rows": 1000, "samples": 48, "na_share": 0.02,
           "matrix_rows": 16_000, "matrix_cols": 24, "chunk_rows": 8_000}
CORPUS = {"distinct": 600, "exact_dups": 75, "near_dups": 75,
          "words": 48, "vectors": 1500, "dim": 16, "clusters": 8,
          "vector_files": 4}

FAMILY_TEMPLATE = "genes/[gene]/summary.tsv"
FAMILY_COLS = ["sgrna", "count", "neg.lfc", "score"]

_VOCAB = [
    "".join(chr(97 + (i * 7 + j * 13) % 26) for j in range(3 + i % 6))
    + str(i % 10)
    for i in range(4000)
]


def _scaled(n: int, scale: float, floor: int) -> int:
    return max(floor, int(round(n * scale)))


def _write(path: str, text: str, gz: bool = False) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = text.encode()
    if gz:
        with open(path, "wb") as raw, gzip.GzipFile(
            filename="", mode="wb", fileobj=raw, mtime=0
        ) as f:
            f.write(data)
    else:
        with open(path, "wb") as f:
            f.write(data)


def _tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    )


def _gen_family(root: str, rng: random.Random, scale: float) -> dict:
    members = _scaled(DATASET["members"], scale, 3)
    rows = _scaled(DATASET["rows"], scale, 2)
    genes = sorted({f"G{rng.randrange(10**6):06d}" for _ in range(members * 2)})
    genes = sorted(rng.sample(genes, members))
    gene_sums = {}
    for i, gene in enumerate(genes):
        sep = "," if i % 17 == 5 else "\t"
        lines = [sep.join(FAMILY_COLS)]
        for r in range(rows):
            count = rng.randrange(0, 5000)
            gene_sums[gene] = gene_sums.get(gene, 0) + count
            lfc = rng.uniform(-4, 4)
            lines.append(sep.join(
                [f"{gene}_sg{r}", str(count), f"{lfc:.4f}", f"{rng.random():.6f}"]
            ))
        gz = i % 5 == 2
        name = "summary.tsv.gz" if gz else "summary.tsv"
        _write(os.path.join(root, "genes", gene, name), "\n".join(lines) + "\n", gz)
    standard = {}
    for j in range(DATASET["standard"]):
        n = rng.randrange(20, 60)
        lines = ["sample,condition,replicate"] + [
            f"s{j}_{k},{rng.choice(['ctrl', 'treat'])},{k % 3}" for k in range(n)
        ]
        _write(os.path.join(root, "meta", f"design_{j}.csv"), "\n".join(lines) + "\n")
        standard[f"design_{j}.parquet"] = n
    return {
        "template": FAMILY_TEMPLATE,
        "family_target": "summary.parquet",
        "family_rows": members * rows,
        "genes": genes,
        "count_sum": sum(gene_sums.values()),
        "gene_count_sums": gene_sums,
        "standard_rows": standard,
    }


def _gen_wide(root: str, rng: np.random.Generator, scale: float) -> dict:
    rows = _scaled(DATASET["wide_rows"], scale, 4)
    samples = [f"s{k:02d}" for k in range(DATASET["samples"])]
    counts = rng.integers(0, 10_000, size=(rows, len(samples)))
    na = rng.random(size=counts.shape) < DATASET["na_share"]
    lines = ["sgrna\tgene\t" + "\t".join(samples)]
    for r in range(rows):
        cells = ["NA" if na[r, c] else str(counts[r, c]) for c in range(len(samples))]
        lines.append(f"sg{r:07d}\tG{r % 997:04d}\t" + "\t".join(cells))
    _write(os.path.join(root, "counts", "counts.tsv"), "\n".join(lines) + "\n")
    return {
        "melt_file": "counts/counts.tsv",
        "melt_target": "counts.parquet",
        "samples": samples,
        "melted_rows": rows * len(samples),
        "na_cells": int(na.sum()),
        "reads_sum": int(counts[~na].sum()),
    }


def gen_annotate_dataset(root: str, seed: int, scale: float = 1.0) -> dict:
    """A MAGeCK-shaped tree under ``table/``: one ``[gene]`` family of
    many small DSV members (every fifth gzipped, every seventeenth comma-
    instead of tab-separated), a few standard CSVs and one wide counts TSV
    with planted ``NA`` cells; plus a dense float matrix saved as
    ``matrix/matrix.npy`` for the chunked HDF path."""
    table = os.path.join(root, "table")
    exp = _gen_family(table, random.Random(seed), scale)
    nrng = np.random.default_rng(seed)
    exp.update(_gen_wide(table, nrng, scale))
    m_rows = _scaled(DATASET["matrix_rows"], scale, 8)
    matrix = nrng.standard_normal(size=(m_rows, DATASET["matrix_cols"]))
    os.makedirs(os.path.join(root, "matrix"), exist_ok=True)
    np.save(os.path.join(root, "matrix", "matrix.npy"), matrix)
    exp.update(
        matrix_rows=m_rows,
        matrix_sum=float(matrix.sum()),
        chunk_rows=_scaled(DATASET["chunk_rows"], scale, 4),
        input_bytes=_tree_bytes(root),
    )
    return exp


def _perturb(rng: random.Random, words: list[str]) -> list[str]:
    out = list(words)
    i = rng.randrange(len(out))
    out[i] = rng.choice([w for w in _VOCAB[:64] if w != out[i]])
    return out


def _exact_top10(vecs: np.ndarray, queries: np.ndarray) -> list[list[int]]:
    """Exact top-10 ids by cosine for each query, ranked as the program
    ranks them: similarity rounded to 6 places, descending, ties by id."""
    v = vecs.astype(np.float64)
    q = queries.astype(np.float64)
    sims = np.round((q @ v.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(v, axis=1)), 6)
    ids = np.arange(len(v))
    return [[int(i) for i in np.lexsort((ids, -row))[:10]] for row in sims]


def gen_llm_corpus(root: str, seed: int, scale: float = 1.0) -> dict:
    """A document corpus with planted exact duplicates (case and
    whitespace variants of a distinct text) and near duplicates (one word
    replaced), plus clustered embeddings and perturbed query vectors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    distinct = _scaled(CORPUS["distinct"], scale, 8)
    n_exact = _scaled(CORPUS["exact_dups"], scale, 2)
    n_near = _scaled(CORPUS["near_dups"], scale, 2)
    texts = [
        " ".join(rng.choice(_VOCAB) for _ in range(CORPUS["words"]))
        for _ in range(distinct)
    ]
    docs = list(texts)
    # Near duplicates come from texts that get no exact duplicate, so a
    # removed near-duplicate is unambiguous. A near duplicate's id is
    # always higher than its source's, so it is the member dropped.
    sources = rng.sample(range(distinct), n_exact + n_near)
    for s in sources[:n_exact]:
        docs.append("  " + texts[s].upper().replace(" ", "  ") + " ")
    near_ids = []
    for s in sources[n_exact:]:
        near_ids.append(len(docs))
        docs.append(" ".join(_perturb(rng, texts[s].split())))
    # Documents the lookup client fetches: sources of no duplicate, so
    # each survives both dedup stages unchanged.
    lookup_ids = rng.sample(sorted(set(range(distinct)) - set(sources)),
                            min(64, distinct - len(sources)))
    os.makedirs(os.path.join(root, "docs"), exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(docs)), pa.int64()),
                  "text": pa.array(docs)}),
        os.path.join(root, "docs", "part-0.parquet"),
    )

    nrng = np.random.default_rng(seed)
    n_vec = _scaled(CORPUS["vectors"], scale, 32)
    centers = nrng.standard_normal(size=(CORPUS["clusters"], CORPUS["dim"]))
    labels = nrng.integers(0, CORPUS["clusters"], size=n_vec)
    vecs = (centers[labels] + 0.35 * nrng.standard_normal(size=(n_vec, CORPUS["dim"])))
    vecs = vecs.astype(np.float32)
    os.makedirs(os.path.join(root, "vectors"), exist_ok=True)
    # One file per part so that a search scans them in parallel.
    for p, ids in enumerate(np.array_split(np.arange(n_vec), CORPUS["vector_files"])):
        pq.write_table(
            pa.table({"vec_id": pa.array(ids.astype(np.int64)),
                      "vec": pa.array(list(vecs[ids]), pa.list_(pa.float32()))}),
            os.path.join(root, "vectors", f"part-{p}.parquet"),
        )
    query_ids = nrng.choice(n_vec, size=min(n_vec, 64), replace=False)
    queries = vecs[query_ids] + 0.01 * nrng.standard_normal(
        size=(len(query_ids), CORPUS["dim"])
    ).astype(np.float32)
    return {
        "distinct_texts": distinct + n_near,
        "near_dup_ids": near_ids,
        "query_ids": [int(q) for q in query_ids],
        "queries": [[float(x) for x in q] for q in queries],
        "query_top10": _exact_top10(vecs, queries),
        "lookup_ids": lookup_ids,
        "lookup_texts": [texts[i] for i in lookup_ids],
        "dim": CORPUS["dim"],
        # A pass reads the documents only; the vectors serve the queries.
        "input_bytes": _tree_bytes(os.path.join(root, "docs")),
    }


GENERATORS = {
    "annotate_dataset": gen_annotate_dataset,
    "llm_corpus": gen_llm_corpus,
}
