"""The three workloads: input generation, one pass, output check.

A pass calls the program's public functions through their modules, so a
traced run (``spans.Tracer.wrap``) sees every call.
"""

from __future__ import annotations

import contextlib
import os

import numpy as np

import checks
import gen
from spans import Tracer

CORPUS_QUERIES = [
    "corpus_dedup_pipeline",
    "incremental_minhash_docs",
    "semantic_dedup_embeddings",
    "incremental_semantic_dedup_embeddings",
]


class Run:
    """State of one benchmark run: session, directories, inputs, tracer."""

    def __init__(self, spark, run_dir: str, tracer: Tracer | None):
        self.spark = spark
        self.in_dir = os.path.join(run_dir, "in")
        self.out_dir = os.path.join(run_dir, "out")
        self.trace_dir = os.path.join(run_dir, "trace")
        for d in (self.in_dir, self.out_dir):
            os.makedirs(d, exist_ok=True)
        self.tracer = tracer
        self.inputs: dict = {}

    def out(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else \
            contextlib.nullcontext()

    def flush_inputs(self) -> None:
        """Flush the generated inputs to disk once, before the first pass,
        so the generator's writeback does not land in the cold pass."""
        for root, _dirs, files in os.walk(self.in_dir):
            for f in files:
                fd = os.open(os.path.join(root, f), os.O_RDONLY)
                try:
                    os.fsync(fd)
                finally:
                    os.close(fd)

    def materialize(self, name: str, df):
        """Write a span's lazy result and read it back, so the work it
        defers runs inside the span that defined it (traced runs only)."""
        path = os.path.join(self.trace_dir, name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)


class CounterpartyEtl:
    """CSV -> dropDuplicates(name, iban) -> surrogate ids -> one CSV part:
    the reference's three-task DAG with a path handoff."""

    name = "counterparty_etl"
    rows = 1_500_000

    def generate(self, run: Run, seed: int, scale: float) -> None:
        run.inputs = gen.counterparty_etl(
            run.in_dir, np.random.default_rng(seed),
            max(1000, int(self.rows * scale)))

    def run_pass(self, run: Run) -> None:
        from pyspark_deduplication_spark import pipelines

        df = pipelines.extract(run.spark, run.inputs["path"])
        pipelines.transform(run.spark, df=df, dedup_keys=["name", "iban"],
                            output_path=run.out("transformed"))
        pipelines.load(run.spark, transformed_path=run.out("transformed"),
                       csv_path=run.out("counterparties_dedup"))

    def check(self, run: Run) -> list[str]:
        return checks.check_etl(run.inputs["path"],
                                run.out("counterparties_dedup"))


class CounterpartyLinkage:
    """CSV -> keep-first dedup -> blocked 3-gram Jaccard join with difflib
    rescore -> connected components -> per-cluster member sets."""

    name = "counterparty_linkage"
    background, heads, pairs, chains = 15000, 2000, 300, 200

    def generate(self, run: Run, seed: int, scale: float) -> None:
        run.inputs = gen.counterparty_linkage(
            run.in_dir, np.random.default_rng(seed),
            max(200, int(self.background * scale)),
            max(20, int(self.heads * scale)), max(3, int(self.pairs * scale)),
            max(3, int(self.chains * scale)))

    def pairs_of(self, deduped, threshold: float, rescore: bool):
        from pyspark_deduplication_spark.operators import linkage

        return linkage.blocked_similarity_join(
            deduped, "id", "name", threshold=threshold, blocking="prefix",
            block_len=gen.BLOCK_LEN, ngram=gen.NGRAM,
            rescore_difflib=rescore, difflib_threshold=gen.DIFFLIB_T)

    def deduped(self, run: Run):
        from pyspark_deduplication_spark.operators import dedup
        from pyspark_deduplication_spark.sources import readers

        df = readers.read_csv(run.spark, run.inputs["path"], infer_schema=True)
        return dedup.dedup_keep_first(df, ["name", "iban"], ["id"])

    def run_pass(self, run: Run) -> None:
        from pyspark_deduplication_spark.operators import linkage
        from pyspark_deduplication_spark.sources import writers

        deduped = self.deduped(run)
        edges = self.pairs_of(deduped, gen.JACCARD_T, True) \
            .select("id_a", "id_b")
        clustered = linkage.transitive_clusters(deduped, edges, "id")
        members = linkage.cluster_members(clustered, "component",
                                          ["id", "name", "iban"])
        writers.write_parquet(members, run.out("clusters"))

    def check(self, run: Run) -> list[str]:
        return checks.check_linkage(run.inputs["path"], run.out("clusters"))

    def counts(self, run: Run) -> dict[str, float]:
        """Candidate pairs (threshold 0) against the edges kept at the
        workload's settings; counted after the passes, untraced."""
        deduped = self.deduped(run)
        cand = self.pairs_of(deduped, 0.0, False).count()
        edges = self.pairs_of(deduped, gen.JACCARD_T, True).count()
        return {"linkage.candidate_pairs": cand,
                "linkage.edges_per_candidate": edges / cand if cand else 0.0}


class CorpusNearDup:
    """The catalog's full and incremental near-dup queries over generated
    ``documents`` and ``embeddings`` tables."""

    name = "corpus_near_dup"
    docs, vectors = 800, 600

    def generate(self, run: Run, seed: int, scale: float) -> None:
        run.inputs = gen.corpus(run.in_dir, np.random.default_rng(seed),
                                max(40, int(self.docs * scale)),
                                max(40, int(self.vectors * scale)))

    def run_pass(self, run: Run) -> None:
        from pyspark_deduplication_spark.queries import CATALOG
        from pyspark_deduplication_spark.sources import writers

        for q in CORPUS_QUERIES:
            with run.span(f"query.{q}"):
                writers.write_parquet(
                    CATALOG[q].fn(run.spark, run.inputs["sf_dir"]), run.out(q))

    def check(self, run: Run) -> list[str]:
        return checks.check_corpus(run.inputs["sf_dir"],
                                   {q: run.out(q) for q in CORPUS_QUERIES},
                                   run.inputs)


BY_NAME = {w.name: w for w in (CounterpartyEtl(), CounterpartyLinkage(),
                               CorpusNearDup())}
