"""The benchmark's workloads: inputs from the seed, one timed job, the
same job staged under layer spans, and the output checks.

Each workload runs against the public spel_spark API only.  ``run`` is
the job a user runs; ``run_traced`` composes the same public functions
one layer at a time, materializing each layer's output under its span so
that the jobs it triggers are attributed to it.  Both return the
order-insensitive checksum of their result, so the staged composition is
checked against the program's own entry point in every traced run.
``trace_extra``, when a workload has one, is traced work beside the job
that a traced run adds.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spel_spark.datagen import generate
from spel_spark.io import CheckpointStore
from spel_spark.operators.blocking import anchor_pairs, blocking_keys, surface_nodes
from spel_spark.operators.clustering import assign_clusters, connected_components
from spel_spark.operators.dedup import cluster_documents, minhash_near_dup_pairs
from spel_spark.operators.mentions import (
    extract_mentions,
    with_mention_id,
    with_norm_surface,
)
from spel_spark.operators.metrics import pairwise_micro_f1, resolve_labeled_pairs
from spel_spark.operators.scoring import score_pairs, threshold_edges
from spel_spark.pipeline import PipelineConfig, load_transcripts_df, run_pipeline
from spel_spark.streaming.incremental import merge_batch, read_clusters

ER_TURNS = 10_000
# the incremental epoch of traced er_checkpointed runs: state bootstrapped
# on the first INC_TURNS - INC_DELTA turns, then the last INC_DELTA merged
# as one delta epoch.  Each merge_batch call pays a floor of ~40 Spark
# jobs whatever its size, so a small state keeps the traced run short.
INC_TURNS = 1_000
INC_DELTA = 100
N_DOCS = 2_000
MIN_F1 = 0.99
# documents shaped like the fixture the dedup flagship is specified on:
# words drawn uniformly from a 30-word vocabulary, 10-100 words a document,
# ~5% of documents carrying one marker token.  Long documents cover most
# of the vocabulary, so their token sets are near-identical and the LSH
# buckets run hot.
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def checksum(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(count, bit_xor of xxhash64 over ``cols``): order-insensitive."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h")
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _staged(tracer, name: str, layer: str, build) -> tuple[DataFrame, int]:
    """Materialize one layer's output under its span; returns it and its
    row count."""
    with tracer.span(name, layer) as sp:
        df = build().persist()
        sp.rows_out = df.count()
    return df, sp.rows_out


class ErCheckpointed:
    """``run_pipeline`` with a fresh parquet ``CheckpointStore``: every
    stage is committed with lineage, as ``python -m spel_spark.cli run``
    does."""

    name = "er_checkpointed"
    unit = "turns"
    cols = ["mention_id", "cluster_id"]

    def __init__(self, seed: int, work: str):
        self.input_path = os.path.join(work, "transcripts.parquet")
        self.store_dir = os.path.join(work, "store")
        self.state_dir = os.path.join(work, "inc_state")
        self.stats: dict = {}
        self.inc_equals_batch: bool | None = None  # set by trace_extra
        self.corpus = generate(seed=seed, n_turns=ER_TURNS)
        self.n_items = len(self.corpus.transcripts)
        self.n_mentions = len(self.corpus.gold_mentions)

    def setup(self, spark: SparkSession) -> None:
        """The inputs written as parquet."""
        self.spark = spark
        load_transcripts_df(self.spark, self.corpus).write.mode("overwrite").parquet(
            self.input_path
        )
        self.labeled = self.spark.createDataFrame(self.corpus.labeled_pairs)
        self.redirects = self.spark.createDataFrame(self.corpus.redirects)
        self.input_bytes = dir_bytes(self.input_path)

    def _store(self) -> CheckpointStore:
        shutil.rmtree(self.store_dir, ignore_errors=True)
        store = CheckpointStore(self.spark, self.store_dir)
        self.stats["store_backend"] = store.backend
        return store

    def run(self, store: bool = True) -> tuple[int, int]:
        """One pipeline run; ``store=False`` is its ephemeral twin, the
        fused ``run_pipeline(store=None)``, which must agree bit for bit."""
        transcripts = self.spark.read.parquet(self.input_path)
        clusters = run_pipeline(
            self.spark, transcripts, self._store() if store else None,
            redirects=self.redirects,
        )
        return checksum(clusters, self.cols)

    def warm_up(self) -> tuple[int, int]:
        """The ephemeral twin, untimed: it warms up the JVM's code for the
        timed job (on a 4-CPU host a cold job's wall spread 0.33, IQR over
        median across ten seeds, a warm one's 0.11), and its result must
        equal the job's.  The cache is cleared after it, so the job
        reuses none of its data."""
        out = self.run(store=False)
        self.spark.catalog.clearCache()
        return out

    def run_traced(self, tracer) -> tuple[int, int]:
        """``run_pipeline``'s stage DAG, one layer call at a time; each
        stage output is committed to the store under an ``io`` span, as
        the pipeline's checkpointed ``stage()`` does."""
        store = self._store()
        transcripts = self.spark.read.parquet(self.input_path)
        cfg = PipelineConfig()
        rows = {}

        def stage(name: str, layer: str, build) -> DataFrame:
            df, rows[name] = _staged(tracer, name, layer, build)
            with tracer.span(f"{name}.commit", "io"):
                store.write(df, name)
                committed = store.read(name)
                store.append_lineage(name, committed, score_col="score")
            df.unpersist()
            return committed

        mentions = stage("mentions", "mentions", lambda: with_mention_id(
            with_norm_surface(extract_mentions(transcripts), self.redirects)
        ))
        surfaces = stage("surfaces", "blocking", lambda: surface_nodes(mentions))
        blocks = stage("blocks", "blocking", lambda: blocking_keys(surfaces))
        pairs = stage(
            "pairs", "blocking", lambda: anchor_pairs(blocks, n_anchors=cfg.n_anchors)
        )
        scores = stage("scores", "scoring", lambda: score_pairs(pairs, cfg.use_cosine))
        edges = stage("edges", "scoring", lambda: threshold_edges(scores, cfg.threshold))
        cc: dict = {}
        comps, _ = _staged(
            tracer, "components", "clustering",
            lambda: connected_components(edges, store=None, stats=cc),
        )
        clusters = stage(
            "clusters", "clustering", lambda: assign_clusters(mentions, surfaces, comps)
        )
        self.stats["cc_backend"] = cc.get("backend")
        self.stats["cc_rounds"] = cc.get("rounds", 0)
        # edges kept per pair scored
        self.stats["edge_yield"] = rows["edges"] / rows["scores"] if rows["scores"] else 0.0
        out = checksum(clusters, self.cols)
        comps.unpersist()
        return out

    def trace_extra(self, tracer) -> None:
        """One incremental epoch (``streaming.incremental.merge_batch``) on
        a fresh state of the first INC_TURNS turns, and the merged view
        read back; the view must equal a batch ``run_pipeline`` with exact
        pairs over the same turns, which runs first."""
        turns = self.corpus.transcripts.head(INC_TURNS)

        def transcripts(pdf: pd.DataFrame) -> DataFrame:
            corpus = dataclasses.replace(self.corpus, transcripts=pdf)
            return load_transcripts_df(self.spark, corpus)

        def mentions(pdf: pd.DataFrame) -> DataFrame:
            return with_mention_id(
                with_norm_surface(extract_mentions(transcripts(pdf)), self.redirects)
            )

        want = checksum(run_pipeline(
            self.spark, transcripts(turns), None, redirects=self.redirects,
            config=PipelineConfig(exact_pairs=True),
        ), self.cols)
        shutil.rmtree(self.state_dir, ignore_errors=True)
        with tracer.span("er_incremental"):
            with tracer.span("bootstrap"):
                merge_batch(
                    self.spark, mentions(turns.iloc[:-INC_DELTA]), self.state_dir, epoch=0
                )
            delta = mentions(turns.iloc[-INC_DELTA:]).persist()
            delta.count()
            t0 = time.perf_counter()
            with tracer.span("epoch", "incremental"):
                merge_batch(self.spark, delta, self.state_dir, epoch=1)
            t1 = time.perf_counter()
            with tracer.span("resolve", "incremental") as sp:
                got = checksum(read_clusters(self.spark, self.state_dir), self.cols)
                sp.rows_out = got[0]
            self.stats["epoch_s"] = t1 - t0
            self.stats["resolve_s"] = time.perf_counter() - t1
            delta.unpersist()
        self.inc_equals_batch = got == want
        self.spark.catalog.clearCache()

    def after_run(self) -> None:
        self.stats["stored_bytes"] = dir_bytes(self.store_dir)
        self.spark.catalog.clearCache()

    def check(self) -> dict:
        """Checks on the last committed clusters (outside the timed region)."""
        clusters = self.spark.read.parquet(os.path.join(self.store_dir, "clusters"))
        f1 = pairwise_micro_f1(resolve_labeled_pairs(self.labeled, clusters)).collect()[0]
        n, distinct = clusters.agg(
            F.count(F.lit(1)), F.countDistinct("mention_id")
        ).collect()[0]
        self.spark.catalog.clearCache()
        checks = {
            "pair_f1": float(f1["f1"]),
            "pair_f1_ok": float(f1["f1"]) >= MIN_F1,
            # every extracted mention gets exactly one cluster
            "one_row_per_mention": n == distinct == self.n_mentions,
        }
        if self.inc_equals_batch is not None:
            checks["incremental_equals_batch"] = self.inc_equals_batch
        return checks


def make_documents(seed: int, n_docs: int) -> pd.DataFrame:
    rng = np.random.Generator(np.random.PCG64(seed))
    vocab = np.array(DOC_VOCAB)
    # lengths evenly spread over 10..100 in seeded order: the share of long,
    # near-identical documents (the hot buckets) is the same for every seed
    lengths = rng.permutation(np.linspace(10, 100, n_docs).round().astype(int))
    texts = []
    for n_words in lengths:
        words = list(vocab[rng.integers(0, len(vocab), n_words)])
        if rng.random() < 0.05:
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


class DocDedup:
    """``operators.dedup.cluster_documents``: MinHash-LSH candidates,
    Jaccard verify, connected components, cluster sizes."""

    name = "doc_dedup"
    unit = "docs"
    cols = ["doc_id", "cluster_id", "cluster_size"]

    def __init__(self, seed: int, work: str):
        self.work = work
        self.input_path = os.path.join(work, "documents.parquet")
        self.stats: dict = {}
        self.last: DataFrame | None = None
        self.docs = make_documents(seed, N_DOCS)
        self.n_items = len(self.docs)

    def setup(self, spark: SparkSession) -> None:
        """The inputs written as parquet."""
        self.spark = spark
        self.spark.createDataFrame(self.docs).write.mode("overwrite").parquet(
            self.input_path
        )
        self.input_bytes = dir_bytes(self.input_path)

    def run(self) -> tuple[int, int]:
        self.last = cluster_documents(self.spark, self.work)
        return checksum(self.last, self.cols)

    def run_traced(self, tracer) -> tuple[int, int]:
        """``cluster_documents``' body, one layer call at a time."""
        docs = self.spark.read.parquet(self.input_path)
        edges, n_pairs = _staged(
            tracer, "near_dup_pairs", "dedup",
            lambda: minhash_near_dup_pairs(docs, jaccard_threshold=0.8),
        )
        cc: dict = {}
        comps, _ = _staged(
            tracer, "components", "clustering",
            lambda: connected_components(edges, stats=cc),
        )

        def assign() -> DataFrame:
            out = (
                docs.select("doc_id")
                .join(comps, docs["doc_id"] == comps["node"], "left")
                .withColumn("cluster_id", F.coalesce("component", "doc_id"))
                .select("doc_id", "cluster_id")
            ).persist()
            sizes = out.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
            return out.join(sizes, "cluster_id").select(*self.cols)

        self.last, _ = _staged(tracer, "clusters", "clustering", assign)
        self.stats["cc_backend"] = cc.get("backend")
        self.stats["cc_rounds"] = cc.get("rounds", 0)
        self.stats["verified_pairs"] = n_pairs
        return checksum(self.last, self.cols)

    # no warm-up: the timed job pays JVM code warm-up, as a cold
    # cluster_documents call does (warm, its spread was no narrower)
    warm_up = None
    trace_extra = None  # the dedup flagship has no incremental mode

    def after_run(self) -> None:
        self.spark.catalog.clearCache()

    def check(self) -> dict:
        """Checks on the last result; the program's own persisted
        intermediates are still cached, so this re-runs no clustering."""
        out = self.last
        n, distinct = out.agg(F.count(F.lit(1)), F.countDistinct("doc_id")).collect()[0]
        sizes = out.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("n"), F.min("cluster_size").alias("lo"),
            F.max("cluster_size").alias("hi"), F.min("doc_id").alias("min_doc"),
        )
        bad_sizes = sizes.filter(
            (F.col("n") != F.col("lo")) | (F.col("n") != F.col("hi"))
            | (F.col("min_doc") != F.col("cluster_id"))
        ).count()
        self.spark.catalog.clearCache()
        return {
            "one_row_per_doc": n == distinct == self.n_items,
            # cluster_size equals the group's row count, and the cluster id
            # is the smallest member doc_id
            "cluster_sizes_match": bad_sizes == 0,
        }


WORKLOADS = {w.name: w for w in (ErCheckpointed, DocDedup)}
