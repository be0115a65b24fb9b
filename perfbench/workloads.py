"""The workloads, each driven through the program's public functions.

A workload has a *pass* (the pipeline a user runs once per dataset,
timed as ``run_s``) and a *query* (one read-side lookup against what
the pass wrote, timed as ``query_p50_s``). Every pass and query checks
its output against answers the generator recorded; a failed check or an
exception counts as a failed operation.
"""

from __future__ import annotations

import math
import os
import random
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from cirro_annotation_spark.manifest import annotate
from cirro_annotation_spark.operators import dedup, similarity
# Modules, not functions, are imported so that calls resolve at call
# time and reach the tracer's wrappers.
from cirro_annotation_spark.sources import hdf


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def parquet_stats(root: str) -> tuple[int, int]:
    """(files, bytes) of the Parquet part files under ``root``."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet") and not n.startswith("."):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Workload:
    # An untimed warm-up pass (class loading and JIT compilation make the
    # first pass several times slower), then at least MIN_PASSES timed ones.
    WARM_PASSES = 1
    MIN_PASSES = 3
    WARM_QUERIES = 3
    QUERIES = 12

    def __init__(self, spark, tracer, inputs: str, out: str, expected: dict, seed: int):
        self.spark = spark
        self.tr = tracer
        self.inputs = inputs
        self.out = out
        self.exp = expected
        self.rng = random.Random(seed)
        self.quality: dict[str, float] = {}

    def reset_output(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)

    def run_pass(self) -> None:
        raise NotImplementedError

    def check_pass(self) -> int:
        """Check the pass's outputs; returns the rows it wrote."""
        raise NotImplementedError

    def out_dirs(self) -> dict[str, str]:
        """Where the manifest executor and the HDF path write."""
        return {}

    def prepare_queries(self) -> None:
        """Untimed work between the timed passes and the query client."""

    def query(self) -> None:
        raise NotImplementedError

    def trace_extras(self) -> dict[str, float]:
        """Counts that need extra Spark jobs; taken in traced runs only."""
        return {}


class AnnotateDataset(Workload):
    """The paper's conversion engine on one dataset tree: ``annotate()``
    over a family of many small DSV files (listing, sniffing, header
    harvests, a schema-inference job over every member, many small files
    at the sink), a few standard files and one wide counts table melted
    to long form (bytes, not file count), then a dense matrix through the
    chunked HDF path."""

    def _chunks(self):
        matrix = np.load(os.path.join(self.inputs, "matrix", "matrix.npy"), mmap_mode="r")
        step = self.exp["chunk_rows"]
        cols = [f"c{j:02d}" for j in range(matrix.shape[1])]
        for start in range(0, matrix.shape[0], step):
            yield pd.DataFrame(np.asarray(matrix[start:start + step]), columns=cols)

    def run_pass(self) -> None:
        annotate(
            self.spark,
            os.path.join(self.inputs, "table"),
            os.path.join(self.out, "table"),
            variable_templates=[self.exp["template"]],
            melt_groups={self.exp["melt_file"]: self.exp["samples"]},
        )
        hdf.hdf_chunks_to_parquet(self.spark, self._chunks(), os.path.join(self.out, "matrix"))

    def _table(self, target: str):
        return self.spark.read.parquet(os.path.join(self.out, "table", target))

    def check_pass(self) -> int:
        fam = self._table(self.exp["family_target"]).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("count").alias("s"),
            F.sort_array(F.collect_set("gene")).alias("genes"),
        ).first()
        expect(fam["n"] == self.exp["family_rows"], f"family rows {fam['n']}")
        expect(fam["s"] == self.exp["count_sum"], f"count checksum {fam['s']}")
        expect(list(fam["genes"]) == self.exp["genes"], "gene token values")
        std = self.exp["standard_rows"]
        per_file = dict(
            self.spark.read.parquet(*[os.path.join(self.out, "table", t) for t in std])
            .groupBy(F.regexp_extract(F.input_file_name(), r"/([^/]+)/part-", 1))
            .count().collect()
        )
        expect(per_file == std, f"standard file rows {per_file}")
        wide = self._table(self.exp["melt_target"]).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("reads").isNull().cast("int")).alias("nulls"),
            F.sum("reads").alias("s"),
        ).first()
        expect(wide["n"] == self.exp["melted_rows"], f"melted rows {wide['n']}")
        expect(wide["nulls"] == self.exp["na_cells"], f"null reads {wide['nulls']}")
        expect(wide["s"] == self.exp["reads_sum"], f"reads checksum {wide['s']}")
        m = self.spark.read.parquet(os.path.join(self.out, "matrix"))
        total = sum(F.col(c) for c in m.columns)
        mat = m.agg(F.count(F.lit(1)).alias("n"), F.sum(total).alias("s")).first()
        expect(mat["n"] == self.exp["matrix_rows"], f"matrix rows {mat['n']}")
        expect(
            math.isclose(mat["s"], self.exp["matrix_sum"], rel_tol=1e-9, abs_tol=1e-6),
            f"matrix sum {mat['s']}",
        )
        return fam["n"] + sum(self.exp["standard_rows"].values()) + wide["n"] + mat["n"]

    def out_dirs(self) -> dict[str, str]:
        return {"executor": os.path.join(self.out, "table"),
                "hdf": os.path.join(self.out, "matrix")}

    def query(self) -> None:
        gene = self.rng.choice(self.exp["genes"])
        got = (
            self._table(self.exp["family_target"])
            .filter(F.col("gene") == gene).agg(F.sum("count")).first()[0]
        )
        expect(got == self.exp["gene_count_sums"][gene], f"lookup {gene}")


class LlmCorpus(Workload):
    """Shuffle- and expression-heavy operators that bypass the manifest
    and DSV layers. A pass curates the corpus: exact then MinHash near
    dedup. Then, untimed, k-means trains the IVF cells, a few exact
    searches and a run of IVF searches are checked against the top-10 the
    generator computed (their times are per-layer numbers). A timed query
    fetches one document from the curated corpus."""

    EXACT_CHECKS = 2
    SEARCHES = 4
    THRESHOLD = 0.7
    K = 10
    CELLS = 4
    NPROBE = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.centroids = None
        self.recalls: list[float] = []
        self.dedup_recalls: list[float] = []
        self._query_order = list(range(len(self.exp["query_ids"])))
        self.rng.shuffle(self._query_order)

    def _docs(self):
        return self.spark.read.parquet(os.path.join(self.inputs, "docs"))

    def _vectors(self):
        return self.spark.read.parquet(os.path.join(self.inputs, "vectors"))

    def run_pass(self) -> None:
        exact_path = os.path.join(self.out, "exact")
        with self.tr.span("dedup.exact"):
            dedup.dedup_exact(self._docs(), "text", "doc_id").write.parquet(exact_path)
        with self.tr.span("dedup.near_minhash"):
            survivors = dedup.dedup_near_minhash(
                self.spark.read.parquet(exact_path), "text", "doc_id",
                threshold=self.THRESHOLD,
            )
            survivors.write.parquet(os.path.join(self.out, "survivors"))

    def check_pass(self) -> int:
        exact_n = self.spark.read.parquet(os.path.join(self.out, "exact")).count()
        expect(exact_n == self.exp["distinct_texts"], f"exact survivors {exact_n}")
        kept = {
            r[0]
            for r in self.spark.read.parquet(os.path.join(self.out, "survivors"))
            .select("doc_id").collect()
        }
        near = set(self.exp["near_dup_ids"])
        removed = near - kept
        # Only planted near duplicates may go: every other exact survivor
        # must still be there.
        expect(len(kept) + len(removed) == exact_n, "a non-duplicate was removed")
        recall = len(removed) / len(near)
        self.dedup_recalls.append(recall)
        expect(recall >= 0.9, f"dedup recall {recall:.3f}")
        return exact_n + len(kept)

    def prepare_queries(self) -> None:
        """Train the IVF coarse quantizer, then search: the exact path on
        a few query vectors, the IVF path on others.

        Building a search expression costs about 1400 Py4J round trips
        (one per literal, lambda and column operator), whose latency
        triples when a shared host steals CPU time from the machine, so
        search latency is a per-layer number rather than ``query_p50_s``
        (see NOTES.md)."""
        with self.tr.span("similarity.kmeans_train"):
            self.centroids = similarity.train_centroids_kmeans(
                self._vectors(), "vec", "vec_id", k=self.CELLS, iterations=2
            )
        expect(len(self.centroids) == self.CELLS
               and all(len(c) == self.exp["dim"] for c in self.centroids),
               "centroid shape")
        for i in self._query_order[-self.EXACT_CHECKS:]:
            with self.tr.span("similarity.topk_exact"):
                exact = similarity.topk_cosine_bruteforce(
                    self._vectors(), "vec", "vec_id", self.exp["queries"][i], k=self.K
                ).collect()
            ids = [r["vec_id"] for r in exact]
            expect(ids[0] == self.exp["query_ids"][i], "exact top-1 is the source")
            # Rounding to 6 places may reorder a near tie at rank 10.
            expect(len(set(ids) & set(self.exp["query_top10"][i])) >= self.K - 1,
                   "exact top-10")
        for i in self._query_order[:self.SEARCHES]:
            with self.tr.span("similarity.topk_ivf"), self.tr.count_py4j("similarity.ivf_py4j_calls"):
                ivf = similarity.ivf_topk_cosine(
                    self._vectors(), "vec", "vec_id", self.exp["queries"][i], self.centroids,
                    k=self.K, nprobe=self.NPROBE,
                ).collect()
            hits = {r["vec_id"] for r in ivf} & set(self.exp["query_top10"][i])
            self.recalls.append(len(hits) / self.K)

    def query(self) -> None:
        j = self.rng.randrange(len(self.exp["lookup_ids"]))
        got = (
            self.spark.read.parquet(os.path.join(self.out, "survivors"))
            .filter(F.col("doc_id") == self.exp["lookup_ids"][j]).select("text").collect()
        )
        expect([r[0] for r in got] == [self.exp["lookup_texts"][j]],
               f"lookup doc {self.exp['lookup_ids'][j]}")

    def trace_extras(self) -> dict[str, float]:
        exact = self.spark.read.parquet(os.path.join(self.out, "exact"))
        cands = dedup.minhash_candidates(exact, "text", "doc_id")
        n_cand = cands.count()
        n_ver = dedup.jaccard_verify(exact, cands, "text", "doc_id", self.THRESHOLD).count()
        return {
            "dedup.candidate_pairs": n_cand,
            "dedup.verified_pairs": n_ver,
            "dedup.candidate_precision": n_ver / n_cand if n_cand else 0.0,
        }


WORKLOADS = {
    "annotate_dataset": AnnotateDataset,
    "llm_corpus": LlmCorpus,
}
