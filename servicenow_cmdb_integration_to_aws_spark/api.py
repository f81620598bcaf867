"""User-facing facade — the one import a reference-repo user needs.

The engine's operators are individually registered for the driver
contract (`__spark_entry__`), but a human user wants a cohesive
surface: scan tables, apply encoded queries, walk relationships,
reconcile sources, dedup a corpus. :class:`CmdbEngine` bundles those
flows over one SparkSession + data directory.

Everything here delegates to the same tested implementations the
registry exposes — the facade adds zero logic, so its behavior is
covered by the operator oracles.

Example::

    from servicenow_cmdb_integration_to_aws_spark import CmdbEngine
    eng = CmdbEngine(spark, "/root/testdata/sf0.1")
    urgent = eng.encoded_query("orders", "o_orderpriority=1-URGENT")
    tree = eng.closure(edges)              # unbounded reachability
    clusters = eng.dup_clusters(docs_df)   # near-dup doc clusters
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .session import tune
from .sources.tables import SCHEMAS, TABLE_NAMES, path_of, scan, scan_evolving


class CmdbEngine:
    """Facade over the engine's query/ETL surface for one (session,
    data-directory) pair. All methods return lazy DataFrames."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = tune(spark)
        self.sf_dir = sf_dir

    # -- ingest ----------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        """Schema-declared scan of a known table (`TABLE_NAMES`)."""
        return scan(self.spark, self.sf_dir, name)

    def table_evolving(self, path: str, table: str) -> DataFrame:
        """Permissive scan of a drifted parquet cast onto `table`'s
        declared schema (a10 semantics)."""
        return scan_evolving(self.spark, path, SCHEMAS[table])

    def rest_table(self, table: str, **options) -> DataFrame:
        """REST Table-API connector scan with server-side filter
        pushdown and paged parallel ingest (a8 semantics)."""
        from .sources.rest_source import register

        register(self.spark)
        r = (
            self.spark.read.format("snow_table")
            .schema(SCHEMAS[table])
            .option("path", path_of(self.sf_dir, table))
        )
        for k, v in options.items():
            r = r.option(k, str(v))
        return r.load()

    # -- query -----------------------------------------------------------
    def encoded_query(self, table: str, encoded: str) -> DataFrame:
        """Apply a ServiceNow encoded-query string (p1–p4 semantics,
        including dot-walked reference fields like
        ``o_custkey.c_nationkey.n_name=...``)."""
        from .plans.encoded_query import compile_encoded_dotwalk

        return compile_encoded_dotwalk(self.spark, self.sf_dir, table, encoded)

    def dotwalk_select(self, table: str, cols: list) -> DataFrame:
        """Project dot-walked display values (p5 semantics):
        ``eng.dotwalk_select("orders", ["o_orderkey",
        "o_custkey.c_name"])`` — broadcast LEFT joins through the
        reference-field dictionary, one join per distinct chain."""
        from .plans.encoded_query import dotwalk_select

        return dotwalk_select(self.spark, self.sf_dir, table, cols)

    # -- graph -----------------------------------------------------------
    def closure(self, edges: DataFrame) -> DataFrame:
        """Unbounded (root, node) reachability over a (parent, child)
        edge table; cycle-safe fixpoint (c12 semantics)."""
        from .operators.joins import transitive_closure

        return transitive_closure(edges)

    def components(self, edges: DataFrame, nodes: DataFrame) -> DataFrame:
        """Connected components (id, component) via min-label
        propagation (j16 machinery)."""
        from .operators.joins import connected_components

        return connected_components(edges, nodes)

    # -- ETL -------------------------------------------------------------
    def transform_map(self, staging: DataFrame, maps, target: DataFrame, key: str):
        """Import-set transform map + coalesce-key upsert (a13)."""
        from .operators.transform_map import apply_transform_map, upsert

        return upsert(target, apply_transform_map(staging, maps), key)

    # -- corpus ----------------------------------------------------------
    def near_dup_pairs(self, docs: DataFrame) -> DataFrame:
        """MinHash/LSH near-duplicate (doc_a, doc_b, jaccard) pairs
        over a (doc_id, text) frame — the SAME strategy dispatch as
        the registered j2 query (bitmask pairs / exact token-join /
        banded, exactness gated by distinct-set count): the facade
        can never diverge from the oracle-checked machinery."""
        from pyspark.sql import functions as F

        from .llm.dedup import lsh_pairs

        tok = docs.select(
            "doc_id",
            F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias(
                "tok"
            ),
        )
        return lsh_pairs(tok, docs.count())

    def dup_clusters(self, docs: DataFrame) -> DataFrame:
        """Near-dup clusters (doc_id, component): j2 pairs collapsed
        by connected components (j16 semantics over text)."""
        from pyspark.sql import functions as F

        pairs = self.near_dup_pairs(docs)
        edges = pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        nodes = docs.select(F.col("doc_id").alias("id"))
        return self.components(edges, nodes)

    def token_counts(self, docs: DataFrame) -> DataFrame:
        """Per-doc BPE-ish token counts over a (doc_id, text) frame
        (j18 tokenizer cost model; map-side regex, zero shuffle)."""
        from pyspark.sql import functions as F

        from .llm.text import _BPE_PAT

        return docs.select(
            "doc_id",
            F.size(
                F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0))
            ).alias("n_tokens"),
        )

    # -- event analytics -------------------------------------------------
    def sessionize(self, events: DataFrame, **kw) -> DataFrame:
        """Gap-based sessionization of an activity frame (e12
        machinery): per-session count/bounds/duration/cents."""
        from .operators.windows import sessionize

        return sessionize(events, **kw)

    def scd2(self, changes: DataFrame, **kw) -> DataFrame:
        """Fold a change log into SCD Type-2 validity intervals (c18
        machinery): version rows with [valid_from, valid_to)."""
        from .operators.analytics import scd2_intervals

        return scd2_intervals(changes, **kw)

    # -- data quality ----------------------------------------------------
    def profile(self, df: DataFrame, cols: list) -> DataFrame:
        """One-pass column profiler (d20 machinery): null / exact
        distinct / min / max for every column from ONE scan."""
        from .operators.aggregates import profile

        return profile(df, cols)

    # -- corpus (embeddings) ---------------------------------------------
    def semdedup(
        self,
        tau: float = 0.35,
        k: int | None = None,
        per: int | None = None,
    ) -> DataFrame:
        """Cluster-blocked semantic dedup over the embeddings table
        (j41 machinery). Default = the registered rate-based scheme
        (one seed per ~64 vectors ⇒ K ∝ corpus size, pair work linear);
        pass k= for a fixed seed count instead."""
        from .llm.retrieval import _SD_PER, semdedup

        if k is None and per is None:
            per = _SD_PER
        return semdedup(self.spark, self.sf_dir, tau=tau, k=k, per=per)

    # -- warehouse (versioned snapshot stores) -----------------------------
    def snapshot_store(self, root: str, key: str, order: list, fold=None):
        """Versioned latest-per-key (or custom-fold) snapshot store
        over an append log (a15/i18 machinery): `.compact(spark, log)`
        folds new batches, `.read(spark[, log])` merges on read,
        `.changes(spark, v1, v2)` is the change feed (a16)."""
        from .streaming.compaction import SnapshotStore

        return SnapshotStore(root, key=key, order=order, fold=fold)

    def consistent_read(self, reads: list, attempts: int = 3):
        """Equal-horizon read across stores sharing one batch sequence
        (i21): returns (horizon, [DataFrame, ...]); laggards are
        served from base ∪ capped log tail; raises HorizonMismatch
        rather than serve a straddled join."""
        from .streaming.compaction import consistent_read

        return consistent_read(self.spark, reads, attempts=attempts)

    def store_group(self, group_root: str, stores: dict):
        """Transactional multi-store publication (isolation-contract
        remedy (b)): `with group.commit(): ...folds...` publishes one
        atomic {table: version} manifest; `group.read_pinned(spark)`
        gives repeatable reads on exactly the published versions."""
        from .streaming.compaction import StoreGroup

        return StoreGroup(group_root, stores)

    # -- maintenance -----------------------------------------------------
    def compact(self, src_dir: str, target_bytes: int | None = None) -> str:
        """Shuffle-free small-file compaction of a parquet directory
        (a19 machinery); returns the compacted directory."""
        from .operators.sinks import COMPACT_TARGET_BYTES, compact_parquet_dir

        return compact_parquet_dir(
            self.spark, src_dir, target_bytes or COMPACT_TARGET_BYTES
        )

    def zorder_write(
        self, df: DataFrame, col_a: str, col_b: str, path: str, n_files: int = 8
    ) -> None:
        """Write `df` Z-order-clustered on (col_a, col_b) (a22
        machinery): 2-D footer-stats skipping for box predicates."""
        from pyspark.sql import functions as F

        from .operators.sinks import zvalue

        (
            df.withColumn("__zv", zvalue(F.col(col_a), F.col(col_b)))
            .repartitionByRange(n_files, "__zv")
            .sortWithinPartitions("__zv")
            .drop("__zv")
            .write.mode("overwrite")
            .parquet(path)
        )

    def sql(self, query: str, tables: tuple = ("orders", "lineitem", "customer")):
        """Raw-SQL surface (p7 semantics): registers `sqlv_<table>`
        views for the given tables, runs the query."""
        for t in tables:
            scan(self.spark, self.sf_dir, t).createOrReplaceTempView(f"sqlv_{t}")
        return self.spark.sql(query)

    def range_join(
        self,
        intervals: DataFrame,
        points: DataFrame,
        key: str,
        start: str = "start_ts",
        end: str = "end_ts",
        ts: str = "ts",
        bucket_seconds: int = 7200,
    ) -> DataFrame:
        """Generic point-in-interval join (c14 machinery): equi-join on
        (key, time-bucket) + residual range predicate; interval length
        must be <= bucket_seconds for the fixed 2x explode bound. Rows:
        every (interval row ++ matching point row)."""
        from pyspark.sql import functions as F

        wb = intervals.withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.floor(F.unix_timestamp(start) / bucket_seconds),
                    F.floor(F.unix_timestamp(end) / bucket_seconds),
                )
            ),
        )
        pt = points.withColumn(
            "__bucket", F.floor(F.unix_timestamp(ts) / bucket_seconds)
        ).withColumnRenamed(key, "__pkey")
        return (
            wb.join(
                pt,
                (F.col(key) == F.col("__pkey"))
                & (wb["__bucket"] == pt["__bucket"])
                & (pt[ts] > wb[start])
                & (pt[ts] <= wb[end]),
            )
            .drop("__bucket", "__pkey")
        )


__all__ = ["CmdbEngine", "TABLE_NAMES"]
