"""Pipeline — the map-reduce user API, Spark-first. SURVEY.md §2.10.

A fluent, mrjob-style surface over DataFrames: ``map`` / ``flat_map``
/ ``filter`` / ``reduce_by_key`` / ``join`` / ``sort`` / ``top_k``.
Two tiers per operation, in strict preference order:

1. **Column expressions** (the default): stay in Catalyst/codegen —
   pushdown, pruning and partial aggregation all apply.
2. **Python callables** (the escape hatch): Arrow-batched
   ``mapInPandas`` / ``applyInPandas`` over pandas DataFrames — never
   row-at-a-time pickled UDFs.

The pipeline itself is lazy: every method returns a new Pipeline
wrapping an unexecuted DataFrame, so Catalyst optimizes the whole
chain as one plan. Nothing here collects to the driver.

Example (word count, both tiers)::

    # expression tier — preferred
    Pipeline.read_parquet(spark, path).flat_map_expr(
        F.explode(F.split("text", " ")).alias("word")
    ).reduce_by_key(["word"], n=F.count(F.lit(1)))

    # python tier — arbitrary logic
    Pipeline.read_parquet(spark, path).flat_map(
        lambda pdf: pd.DataFrame({"word": pdf["text"].str.split(" ").explode()}),
        "word string",
    ).reduce_by_key(["word"], n=F.count(F.lit(1)))
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

BatchFn = Callable[[pd.DataFrame], pd.DataFrame]


def _batched(fn: BatchFn) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield fn(pdf)

    return run


class Pipeline:
    """A lazy map-reduce pipeline over one DataFrame."""

    def __init__(self, df: DataFrame):
        self.df = df

    # ---- sources -------------------------------------------------

    @classmethod
    def read_parquet(cls, spark: SparkSession, path: str) -> "Pipeline":
        return cls(spark.read.parquet(path))

    @classmethod
    def from_rows(cls, spark: SparkSession, rows: list, schema: str) -> "Pipeline":
        return cls(spark.createDataFrame(rows, schema))

    # ---- map tier ------------------------------------------------

    def select(self, *cols: str | Column) -> "Pipeline":
        return Pipeline(self.df.select(*cols))

    def with_column(self, name: str, expr: Column) -> "Pipeline":
        return Pipeline(self.df.withColumn(name, expr))

    def filter(self, predicate: Column | str) -> "Pipeline":
        return Pipeline(self.df.filter(predicate))

    def map(self, fn: BatchFn, output_schema: str) -> "Pipeline":
        """Arbitrary per-batch transform (1 row → 1 row expected but
        not enforced). Arrow-batched; prefer select() when the logic
        is expressible as columns."""
        return Pipeline(self.df.mapInPandas(_batched(fn), output_schema))

    def flat_map(self, fn: BatchFn, output_schema: str) -> "Pipeline":
        """Arbitrary 1 → many transform (same machinery as map; the
        separate name mirrors the classic MR surface)."""
        return Pipeline(self.df.mapInPandas(_batched(fn), output_schema))

    def flat_map_expr(self, *exploded: Column) -> "Pipeline":
        """Expression-tier flatMap: explode() columns, stays JVM-side."""
        return Pipeline(self.df.select(*exploded))

    def map_partitions(
        self,
        fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
        output_schema: str,
    ) -> "Pipeline":
        """Partition-wise mapper (sees every batch of one partition) —
        for partial aggregation / stateful per-split logic."""
        return Pipeline(self.df.mapInPandas(fn, output_schema))

    # ---- reduce tier ---------------------------------------------

    def reduce_by_key(self, keys: list[str], **aggs: Column) -> "Pipeline":
        """Built-in aggregation: partial (map-side combine) + final
        automatically — this IS the MR combiner, for free."""
        named = [expr.alias(name) for name, expr in aggs.items()]
        return Pipeline(self.df.groupBy(*keys).agg(*named))

    def reduce_by_key_py(
        self, keys: list[str], fn: Callable[[pd.DataFrame], pd.DataFrame], output_schema: str
    ) -> "Pipeline":
        """Arbitrary per-key reducer via applyInPandas. Scale caveat
        (inherent to the API): one key's rows must fit one worker —
        use reduce_by_key for unbounded keys."""
        return Pipeline(self.df.groupBy(*keys).applyInPandas(fn, output_schema))

    def distinct(self) -> "Pipeline":
        return Pipeline(self.df.distinct())

    # ---- combine tier --------------------------------------------

    def join(
        self, other: "Pipeline | DataFrame", on: Any, how: str = "inner", *, broadcast: bool = False
    ) -> "Pipeline":
        right = other.df if isinstance(other, Pipeline) else other
        if broadcast:
            right = F.broadcast(right)
        return Pipeline(self.df.join(right, on, how))

    def union(self, other: "Pipeline | DataFrame") -> "Pipeline":
        right = other.df if isinstance(other, Pipeline) else other
        return Pipeline(self.df.unionByName(right))

    # ---- order / take --------------------------------------------

    def sort(self, *cols: str | Column) -> "Pipeline":
        return Pipeline(self.df.orderBy(*cols))

    def top_k(self, k: int, *order_cols: str | Column) -> "Pipeline":
        """orderBy+limit → TakeOrderedAndProject (per-partition heaps,
        no global sort shuffle)."""
        return Pipeline(self.df.orderBy(*order_cols).limit(k))

    def limit(self, n: int) -> "Pipeline":
        return Pipeline(self.df.limit(n))

    # ---- sinks ---------------------------------------------------

    def to_df(self) -> DataFrame:
        return self.df

    def write_parquet(
        self,
        path: str,
        *,
        partition_by: list[str] | None = None,
        mode: str = "overwrite",
    ) -> None:
        """Write the pipeline result as parquet. NOTE the default mode
        is 'overwrite' — existing data at ``path`` is REPLACED (the
        re-runnable-pipeline convention); pass mode='errorifexists'
        for Spark's own refuse-to-clobber default, or 'append'."""
        w = self.df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    # ---- LLM-pipeline conveniences (operator-library delegates) ----

    def dedup_exact(self, id_col: str, text_col: str) -> "Pipeline":
        """Exact content-hash dedup → (content_hash, keep_id, n_copies)."""
        from .operators import dedup as _dedup

        return Pipeline(_dedup.exact_dedup(self.df, id_col, text_col))

    def near_dups(self, id_col: str, text_col: str, *, threshold: float = 0.8) -> "Pipeline":
        """MinHash+LSH near-duplicate pairs ≥ threshold."""
        from .operators import dedup as _dedup

        return Pipeline(
            _dedup.minhash_lsh_pairs(self.df, id_col, text_col, threshold=threshold)
        )

    def sessionize(
        self, key_col: str, ts_col: str, order_col: str, *, gap_minutes: int = 30
    ) -> "Pipeline":
        """Gap-based sessionization → one row per (key, session)."""
        from .operators import sessions as _sessions

        return Pipeline(
            _sessions.sessionize(self.df, key_col, ts_col, order_col, gap_minutes=gap_minutes)
        )

    def similar_topk(self, id_col: str, vec_col: str, query_id: int, k: int = 10) -> "Pipeline":
        """Brute-force cosine top-k neighbors of a stored vector."""
        from .operators import similarity as _similarity

        return Pipeline(_similarity.cosine_topk(self.df, id_col, vec_col, query_id, k))

    def near_dups_capped(
        self, id_col: str, text_col: str, *, threshold: float = 0.8, max_df: int = 100
    ) -> "Pipeline":
        """Exact n-gram Jaccard pairs with a document-frequency ceiling
        (drop shingles in > max_df docs before the index self-join) —
        the corpus-scale form with bounded posting-list buckets. The
        default threshold matches `near_dups` (0.8): the two methods
        present as interchangeable forms of one dedup decision, and an
        earlier 0.03 default here meant swapping methods silently
        changed the pair semantics 27-fold (fixture demos that want
        loose pairs pass threshold explicitly)."""
        from .operators import dedup as _dedup

        return Pipeline(
            _dedup.ngram_jaccard_pairs(
                self.df, id_col, text_col, threshold=threshold, max_df=max_df
            )
        )

    def cluster_dups(self, doc_a: str = "doc_a", doc_b: str = "doc_b") -> "Pipeline":
        """Connected components over a near-dup pair frame →
        (doc_id, cluster_id = component minimum)."""
        from .operators import dedup as _dedup

        return Pipeline(
            _dedup.dedup_clusters(
                # alias to the operator's canonical names — without the
                # alias, non-default column names always crashed with
                # UNRESOLVED_COLUMN (the params existed but could never
                # actually rename)
                self.df.select(
                    F.col(doc_a).alias("doc_a"), F.col(doc_b).alias("doc_b")
                )
            )
        )

    def similar_topk_batch(
        self, id_col: str, vec_col: str, *, n_queries: int, k: int = 5
    ) -> "Pipeline":
        """Top-k neighbors for every query id < n_queries in one
        corpus pass (broadcast query block + per-query window rank)."""
        from .operators import similarity as _similarity

        return Pipeline(
            _similarity.batch_cosine_topk(
                self.df, id_col, vec_col, n_queries=n_queries, k=k
            )
        )

    def similar_topk_ivf(
        self,
        id_col: str,
        vec_col: str,
        query_id: int,
        *,
        dim: int,
        n_clusters: int = 64,
        n_probe: int = 4,
        k: int = 5,
    ) -> "Pipeline":
        """IVF ANN with distributed centroid state (large n_clusters
        path): k-means cells trained with equi-hash-join assignment,
        nothing collects to the driver; only the n_probe nearest
        cells rescore exactly."""
        from .operators import similarity as _similarity

        return Pipeline(
            _similarity.ivf_topk_distributed(
                self.df, id_col, vec_col, query_id,
                dim=dim, n_clusters=n_clusters, n_probe=n_probe, k=k,
            )
        )

    def drift_ks(self, group_col: str, value_col: str) -> "Pipeline":
        """Per-group two-sample KS drift screen of value_col against
        the rest of the table (ECDF over the distinct-value grid —
        no global row sort)."""
        from .operators import quality as _quality

        return Pipeline(_quality.ks_drift(self.df, group_col, value_col))

    def drift_psi(
        self, group_col: str, value_col: str, *, bin_width: float
    ) -> "Pipeline":
        """Per-group population-stability index of value_col (binned)
        against the rest of the table, Laplace-smoothed — the other
        drift screen, sharing ks_drift's bounded-grid shape."""
        from .operators import quality as _quality

        return Pipeline(
            _quality.psi_drift(self.df, group_col, value_col, bin_width=bin_width)
        )

    def token_entropy(self, group_col: str, text_col: str) -> "Pipeline":
        """Per-group Shannon entropy of the token unigram
        distribution — the corpus-diversity signal."""
        from .operators import quality as _quality

        return Pipeline(_quality.token_entropy(self.df, group_col, text_col))

    def weighted_sample(
        self, id_col: str, weight_col: str, k: int
    ) -> "Pipeline":
        """Deterministic weighted sample without replacement
        (sequential Poisson: hash-uniform priority / weight, k
        smallest win)."""
        from .operators import quality as _quality

        return Pipeline(_quality.weighted_sample(self.df, id_col, weight_col, k))

    def auc(self, score_col: str, label_col: str) -> "Pipeline":
        """One-row ROC AUC of score_col against the 0/1 label_col
        (Mann-Whitney rank-sum over the distinct-score grid — no
        global row sort, integer-exact until the final division).

        PRECONDITION: score_col must be low-cardinality / discretized
        (probabilities at fixed precision, binned scores, …). The
        rank grid is one row per DISTINCT score, ordered by an
        unpartitioned window — on a continuous score the grid is
        corpus-sized and the ordering degenerates to a single-task
        global sort. For continuous scores, pre-bucket first, e.g.
        ``F.round(score, 4)``: AUC over 10⁴ buckets is within
        ~1e-4 of exact and keeps the grid bounded."""
        from .operators import quality as _quality

        return Pipeline(_quality.auc(self.df, score_col, label_col))

    def classify_knn(
        self, id_col: str, vec_col: str, label_col: str, *, n_queries: int, k: int = 5
    ) -> "Pipeline":
        """k-NN label transfer: ids < n_queries are held-out queries,
        each voted on by its k nearest corpus neighbors by cosine
        (tie → smaller label). One corpus pass; swap in the IVF
        router for the fan-out at scale."""
        from .operators import similarity as _similarity

        return Pipeline(
            _similarity.knn_classify(
                self.df, id_col, vec_col, label_col, n_queries=n_queries, k=k
            )
        )

    def pack_sequences(
        self, group_col: str, order_col: str, tokens_col: str, *, budget: int
    ) -> "Pipeline":
        """Concat-and-chunk packing into fixed token-budget training
        sequences (rows span boundaries) — one (group, seq_no) row
        with n_docs and fill_tokens; closed-form integer math, groups
        pack independently."""
        from .operators import quality as _quality

        return Pipeline(
            _quality.pack_sequences(
                self.df, group_col, order_col, tokens_col, budget=budget
            )
        )

    def running_balance(
        self, key_col: str, order_cols: list, delta_col, *, cap: float
    ) -> "Pipeline":
        """Per-key clamped cumulative sum (non-associative recurrence:
        one vectorized applyInPandas pass per key, one row per key
        out). delta_col is a Column expression for the per-row
        delta."""
        from .operators import quality as _quality

        return Pipeline(
            _quality.running_balance(self.df, key_col, order_cols, delta_col, cap=cap)
        )

    def checksum(self, cols: list) -> "Pipeline":
        """One-row order-independent content fingerprint over cols
        (commutative md5-prefix sum in DECIMAL(38,0)) — the
        cross-system copy/migration gate."""
        from .operators import quality as _quality

        return Pipeline(_quality.table_checksum(self.df, cols))
