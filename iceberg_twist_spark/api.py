"""User-facing engine façade.

A reference user's entry points were ``python main.py`` (batch probe)
and the LSF services (streaming). The engine equivalent is one object
wrapping session + catalog + the operator library:

    from iceberg_twist_spark.api import Engine

    eng = Engine.local(sf_dir="/root/testdata/sf0.01")
    eng.table("lineitem").filter(...)         # DataFrame API
    eng.sql("SELECT ... FROM lineitem ...")   # SQL over registered views
    eng.run("q_agg_group")                    # any registered operator
    eng.exact_dedup(df, "text")               # pipeline helpers
    eng.cosine_topk(df, probe, k=10)
    eng.decode_frames(df, "frame_hex")

Thin by design: every method returns a plain DataFrame so users stay
in the native PySpark API, and Catalyst sees one uninterrupted plan.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_twist_spark.catalog import TABLES, register_views
from iceberg_twist_spark.registry import REGISTRY, _load_all_modules
from iceberg_twist_spark.session import get_spark
from iceberg_twist_spark.sources.snapshots import SnapshotTable


class Engine:
    """Session + catalog + operator library in one handle."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        _load_all_modules()
        self.spark = spark
        self.sf_dir = sf_dir
        self._tables = register_views(spark, sf_dir)

    @classmethod
    def local(cls, sf_dir: str, app_name: str = "iceberg-twist-spark") -> "Engine":
        return cls(get_spark(app_name), sf_dir)

    # -- catalog ----------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(f"unknown table {name!r}; have {TABLES}")
        return self._tables[name]

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # -- operator library -------------------------------------------------
    def run(self, query_name: str) -> DataFrame:
        """Run any registered operator query against this catalog."""
        return REGISTRY[query_name].builder(self.spark, self.sf_dir)

    @staticmethod
    def operators() -> Sequence[str]:
        _load_all_modules()
        return sorted(REGISTRY)

    # -- lakehouse tables -------------------------------------------------
    def open_table(self, path: str):
        """Open (or create) a versioned snapshot table at ``path`` —
        the full Iceberg-semantics surface: append/overwrite/merge/
        merge_into/update_where/delete_where/delete_keys/
        delete_where_positional, time travel by id/ref/timestamp,
        read_incremental/read_changelog, schema and partition-spec
        evolution, compaction (plain or sort-order), expiry, WAP,
        branches/tags. See sources/snapshots.SnapshotTable."""
        return SnapshotTable(self.spark, path)

    # -- LLM-pipeline helpers (generic over user DataFrames) -------------
    @staticmethod
    def exact_dedup(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
        """Keep one row per normalized-text hash (deterministic keeper =
        min key). Shuffles 32-byte digests, never documents."""
        h = F.sha2(F.lower(F.trim(F.col(text_col))), 256)
        keeper = (
            df.withColumn("__h", h)
            .groupBy("__h")
            .agg(F.min(key_col).alias(key_col))
        )
        # keeper grows with the corpus — no forced broadcast (AQE
        # converts the semi join while the digest set is actually small).
        return df.join(keeper.select(key_col), key_col, "left_semi")

    @staticmethod
    def cosine_topk(
        df: DataFrame, vec_col: str, probe: list[float], k: int = 10
    ) -> DataFrame:
        """Brute-force cosine top-k of a literal probe vector."""
        from iceberg_twist_spark.llm.similarity import _dot, _norm

        p = F.array(*[F.lit(float(x)) for x in probe])
        sim = _dot(F.col(vec_col), p) / (_norm(F.col(vec_col)) * _norm(p))
        return df.withColumn("cos_sim", sim).orderBy(F.desc("cos_sim")).limit(k)

    @staticmethod
    def decode_frames(df: DataFrame, hex_col: str) -> DataFrame:
        """Fixed-layout telemetry decode (v1: ts@6, int16 pair @10)."""
        from iceberg_twist_spark.ingest.frames import decode_frame_hex

        return df.withColumn("record", decode_frame_hex(hex_col))

    @staticmethod
    def minhash_pairs(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
        """Near-duplicate candidate pairs via MinHash/LSH banding."""
        from iceberg_twist_spark.llm.dedup import minhash_signatures

        docs = df.select(
            F.col(key_col).alias("doc_id"), F.col(text_col).alias("text")
        )
        sig = minhash_signatures(docs)
        return sig  # signatures; banding join is q_llm_minhash_dedup's shape

    @staticmethod
    def near_dup_pairs(
        df: DataFrame, text_col: str, key_col: str, tau: float = 0.2
    ) -> DataFrame:
        """Verified near-duplicate pairs: MinHash/LSH banded candidates
        exact-Jaccard-verified at ``tau`` — the pair tier the engine's
        own cluster/survivor/corpus-pipeline chain runs on
        (q_llm_minhash_verified's shape). Returns
        (doc_a, doc_b, jaccard); every emitted pair is exactly
        verified.

        The banding is DERIVED from tau (lsh_params: the sharpest
        rows-per-band whose S-curve detection probability at J = tau
        still clears 0.9), so a low tau gets wide single-row bands
        and a high tau gets the precise 4×4 banding — the r6 facade
        reused the query's fixed 4×4 constants, which at tau = 0.2
        detected a true borderline pair with probability ~0.006.
        Candidate generation is the same shared ``band_pairs`` helper
        the oracle-checked queries run, so the band hashing cannot
        drift from the verified implementation."""
        from iceberg_twist_spark.llm.dedup import (
            _verify_jaccard,
            band_pairs,
            lsh_params,
            minhash_signatures,
        )

        docs = df.select(
            F.col(key_col).alias("doc_id"), F.col(text_col).alias("text")
        )
        n_bands, _ = lsh_params(tau)
        cand = band_pairs(minhash_signatures(docs), n_bands=n_bands)
        return _verify_jaccard(cand, docs, tau)

    # -- indexes: one SnapshotTable each ----------------------------------
    # Every Engine index is one SnapshotTable at its path, and every index
    # verb is one snapshot commit: build is ``create``, append is
    # ``append``, remove is ``delete_keys`` on the key column
    # (merge-on-read: O(|keys|), no data rewrite, sequence-scoped like any
    # equality delete) and compaction applies the pending deletes
    # physically, then expires the older snapshots so the removed rows
    # leave the disk. A crash before the commit leaves readers on the
    # previous snapshot and the staged files for ``remove_orphan_files``.
    # The components share the table under a ``component`` column, the
    # first entry of the partition spec (set on the empty table before
    # the build), so every write, compaction included, keeps each
    # component in files of its own and a read of one component opens
    # only its files. Frozen rows (the MinHash meta row, PQ codewords,
    # IVF centroids) carry a null key, so no remove can retract them.

    @staticmethod
    def _components(**frames: DataFrame) -> DataFrame:
        """The union of an index's component frames, each tagged with
        its ``component`` name; columns a component lacks read null."""
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [f.withColumn("component", F.lit(name)) for name, f in frames.items()],
        )

    @staticmethod
    def _component(t: SnapshotTable, name: str, *eq: tuple[str, object]) -> DataFrame:
        """One component of index table ``t``, pending deletes applied;
        partition pruning drops the other components' files, and the
        files the further ``(col, value or values)`` partition
        predicates ``eq`` rule out, before the scan lists any."""
        return t.read(partition_eq=[("component", name), *eq])

    @staticmethod
    def _create(spark: SparkSession, path: str, spec: list[str], **frames: DataFrame) -> None:
        """The build verbs' commit: an index table partitioned by
        ``spec`` (``component`` first) holding ``frames``."""
        t = SnapshotTable(spark, path)
        t.set_partition_spec(spec)
        t.create(Engine._components(**frames))

    @staticmethod
    def _remove(spark: SparkSession, path: str, keys, key_col: str) -> None:
        """The remove verbs' one commit: an equality delete on
        ``key_col`` of ``keys`` (a 1-column DataFrame or an iterable of
        ids)."""
        if isinstance(keys, DataFrame):
            keys = keys.select(F.col(keys.columns[0]).cast("long").alias(key_col))
        else:
            keys = spark.createDataFrame([(int(k),) for k in keys], f"{key_col} long")
        SnapshotTable(spark, path).delete_keys(keys, key_col)

    @staticmethod
    def _compact(spark: SparkSession, path: str, rewrite) -> str:
        """The compaction verbs: when removes are pending, ``rewrite``
        the index without them (one commit) and expire the older
        snapshots, so the removed rows leave the disk too. With nothing
        pending nothing is committed."""
        t = SnapshotTable(spark, path)
        if t.pending_deletes():
            rewrite(t)
            t.expire_snapshots(keep_last=1)
        return path.rstrip("/")

    @staticmethod
    def build_minhash_index(
        df: DataFrame, text_col: str, key_col: str, path: str, tau: float = 0.2
    ) -> str:
        """Persist the LSH dedup index for a corpus snapshot: the
        (doc_id, band_idx, band_hash) banding rows (tau-derived
        banding, same lsh_params as near_dup_pairs) plus each doc's
        distinct shingle array for exact verification. At 100 TB this
        is what makes DAILY incremental dedup linear in the increment:
        a new batch's bands join against these stored rows instead of
        re-signing (or re-reading) the corpus. A ``meta`` row keeps the
        banding (n_bands, tau) so queries/appends cannot use a
        mismatched band count."""
        from iceberg_twist_spark.llm.dedup import lsh_params

        n_bands, _ = lsh_params(tau)
        bands, arrs = Engine._index_batch(df, text_col, key_col, n_bands)
        meta = df.sparkSession.createDataFrame(
            [(n_bands, float(tau))], "n_bands int, tau double"
        )
        Engine._create(df.sparkSession, path, ["component"], bands=bands, arrays=arrs, meta=meta)
        return path.rstrip("/")

    @staticmethod
    def _index_batch(
        df: DataFrame, text_col: str, key_col: str, n_bands: int
    ) -> tuple[DataFrame, DataFrame]:
        """A batch's (banding rows, shingle arrays). The arrays are
        computed once (lazy checkpoint) and signed directly, so the
        batch is spread and shingled once for both outputs."""
        from iceberg_twist_spark.llm.dedup import band_rows, shingle_arrays, signatures_of

        docs = df.select(
            F.col(key_col).alias("doc_id"), F.col(text_col).alias("text")
        )
        arrs = shingle_arrays(docs, 3).localCheckpoint(eager=False)
        return band_rows(signatures_of(arrs, "shs"), n_bands=n_bands), arrs

    @staticmethod
    def _minhash_meta(t: SnapshotTable) -> dict:
        """A MinHash index's banding, ``{"n_bands", "tau"}``: the meta
        row is the only row with these columns set, so their zone-map
        bounds are its values — read from the manifest, no Spark job."""
        return {c: t.column_bounds(c)[0] for c in ("n_bands", "tau")}

    @staticmethod
    def minhash_index_append(
        df: DataFrame, text_col: str, key_col: str, path: str
    ) -> str:
        """Append a new batch's banding rows + shingle arrays to an
        existing ``build_minhash_index`` layout, both in one commit (band
        count read from the stored meta row — appends cannot drift from
        the build)."""
        t = SnapshotTable(df.sparkSession, path)
        bands, arrs = Engine._index_batch(
            df, text_col, key_col, Engine._minhash_meta(t)["n_bands"]
        )
        t.append(Engine._components(bands=bands, arrays=arrs))
        return path.rstrip("/")

    @staticmethod
    def minhash_index_remove(
        spark: SparkSession, path: str, keys, compact: bool = False
    ) -> str:
        """Retract documents from a ``build_minhash_index`` layout: one
        equality delete of their ids (O(|keys|) — no data rewrite), so
        ``near_dup_pairs_against_index`` and the stored-band readers
        stop seeing their bands and shingle arrays. ``compact=True``
        additionally runs ``minhash_index_compact`` (physical
        reclamation — run per snapshot). Guarantee, either way:
        remove(append(build(base), delta), delta) ≡ build(base)."""
        Engine._remove(spark, path, keys, "doc_id")
        return Engine.minhash_index_compact(spark, path) if compact else path.rstrip("/")

    @staticmethod
    def minhash_index_compact(spark: SparkSession, path: str) -> str:
        """Physically reclaim removed documents: rewrite the index
        without them (``rewrite_data_files``) and expire the older
        snapshots and their files. Readers before/after see the same
        live rows."""
        return Engine._compact(spark, path, SnapshotTable.rewrite_data_files)

    @staticmethod
    def read_minhash_bands(spark: SparkSession, path: str) -> DataFrame:
        """The stored banding rows, removes applied — the one read
        path every consumer of the index's bands shares."""
        return Engine._component(SnapshotTable(spark, path), "bands").select(
            "doc_id", "band_idx", "band_hash"
        )

    @staticmethod
    def near_dup_pairs_against_index(
        df: DataFrame,
        text_col: str,
        key_col: str,
        path: str,
        tau: float | None = None,
    ) -> DataFrame:
        """Verified near-dup pairs of a NEW batch against a stored
        ``build_minhash_index`` corpus, plus within the batch itself —
        the incremental-dedup query: candidate mass is (new bands ⋈
        stored bands) + (new bands self-join), both banding-bounded
        and LINEAR in the increment; the stored corpus is read, never
        re-signed. Returns (doc_a, doc_b, jaccard) with doc_a < doc_b,
        every pair exactly verified at ``tau`` (default: the tau the
        index was built for). New keys must not collide with stored
        keys.

        ``tau`` may only TIGHTEN the threshold: the stored banding was
        derived from the build-time tau, so its S-curve bounds recall
        for any lower threshold (an index built at tau=0.9 uses 4×4
        bands, which detect a true J=0.2 pair with probability ~0.006
        — the fixed-banding bug class). Querying with tau below the
        build tau raises instead of silently under-recalling;
        rebuild the index at the lower tau."""
        from iceberg_twist_spark.llm.dedup import (
            _verify_jaccard_arrays,
            band_pairs_from_rows,
        )

        t = SnapshotTable(df.sparkSession, path)
        meta = Engine._minhash_meta(t)
        if tau is not None and tau < meta["tau"]:
            raise ValueError(
                f"tau={tau} is below the index's build tau={meta['tau']}: "
                "the stored banding bounds recall for any lower threshold "
                "(it would silently miss true pairs near the new tau). "
                "Rebuild the index with build_minhash_index(tau="
                f"{tau}) instead."
            )
        tau = meta["tau"] if tau is None else tau
        bands, new_arrs = Engine._index_batch(df, text_col, key_col, meta["n_bands"])
        # new-batch banding feeds the cross join AND the within-batch
        # self-join from ONE checkpoint, so the batch is signed once
        nb = bands.localCheckpoint(eager=False)
        stored = Engine._component(t, "bands")
        cross = (
            nb.alias("n")
            .join(
                stored.alias("s"),
                (F.col("n.band_idx") == F.col("s.band_idx"))
                & (F.col("n.band_hash") == F.col("s.band_hash")),
            )
            .select(
                F.least(F.col("n.doc_id"), F.col("s.doc_id")).alias("doc_a"),
                F.greatest(F.col("n.doc_id"), F.col("s.doc_id")).alias("doc_b"),
            )
            .filter(F.col("doc_a") != F.col("doc_b"))
            .distinct()
        )
        stored_arrs = Engine._component(t, "arrays").select("doc_id", "shs")
        both_arrs = stored_arrs.unionByName(new_arrs)
        within = band_pairs_from_rows(nb)
        return _verify_jaccard_arrays(
            cross.unionByName(within).distinct(), both_arrs, both_arrs, tau
        )

    def frame_split(self, df: DataFrame, payload_col: str) -> DataFrame:
        """Delimiter frame split (A5) over binary payloads."""
        from iceberg_twist_spark.ingest.frames import split_frames_map_in_pandas

        return split_frames_map_in_pandas(df, payload_col)

    @staticmethod
    def semdedup(
        df: DataFrame,
        vec_col: str,
        key_col: str,
        n_clusters: int = 16,
        tau: float = 0.35,
    ) -> DataFrame:
        """Semantic dedup (SemDeDup shape) over any embedding column:
        rows clustered to deterministic centroids (smallest keys),
        cosine compared ONLY within clusters, dropped when a
        smaller-key near-twin (cos ≥ tau) shares the cluster. Returns
        (key, cluster_id, is_kept). Same plan as q_llm_semdedup."""
        from iceberg_twist_spark.llm.similarity import semdedup_keep, with_norm

        emb = with_norm(
            df.select(F.col(key_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
            "embedding",
        )
        centroids = emb.orderBy("vec_id").limit(n_clusters)
        return semdedup_keep(emb, centroids, tau).withColumnRenamed("vec_id", key_col)

    @staticmethod
    def decontaminate(
        corpus: DataFrame,
        benchmark: DataFrame,
        text_col: str,
        key_col: str,
        k: int = 3,
    ) -> DataFrame:
        """Benchmark decontamination over any corpus/benchmark pair:
        per corpus document, how many of its word ``k``-grams appear in
        the benchmark, and a contamination flag. Same plan as
        q_llm_decontaminate — the benchmark n-gram set is broadcast
        (eval sets are MBs even when the corpus is 100 TB) and the
        corpus streams through a map-side join. Documents shorter than
        ``k`` words have no gram and are absent from the result."""
        from iceberg_twist_spark.llm.dedup import shingle_docs

        def grams(df: DataFrame) -> DataFrame:
            return shingle_docs(
                df.select(
                    F.col(key_col).alias("doc_id"), F.col(text_col).alias("text")
                ),
                k,
            ).withColumnRenamed("sh", "gram")

        bench_grams = (
            grams(benchmark).select("gram").distinct().withColumn("hit", F.lit(1))
        )
        return (
            grams(corpus)
            .join(F.broadcast(bench_grams), "gram", "left")
            .groupBy(F.col("doc_id").alias(key_col))
            .agg(
                F.count("*").cast("long").alias("n_grams"),
                F.count("hit").cast("long").alias("n_contam"),
                (F.count("hit") > 0).alias("is_contaminated"),
            )
        )

    @staticmethod
    def pack_greedy(
        df: DataFrame,
        key_col: str,
        tokens_col: str,
        group_col: str | None = None,
        budget: int = 4096,
    ) -> DataFrame:
        """Contiguous-fill token packing: rows stream in ``key_col``
        order (within ``group_col`` if given) and a bin closes when the
        running token count crosses ``budget`` —
        ``bin_id = floor((cumsum - 1) / budget)``. One window (= one
        shuffle on the group key) computes every boundary; no driver
        loop (same plan as q_llm_pack_greedy). Returns the input keys
        plus (cum_tokens, bin_id).

        With ``group_col=None`` the cumulative sum is one global window
        (a single-reducer sort) — fine for bounded inputs, but always
        pass a group/shard column at corpus scale."""
        from pyspark.sql import Window

        w = (
            (Window.partitionBy(group_col) if group_col else Window.partitionBy())
            .orderBy(key_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cols = [group_col] if group_col else []
        return df.select(*cols, key_col, tokens_col).withColumn(
            "cum_tokens", F.sum(tokens_col).over(w)
        ).withColumn(
            "bin_id", F.floor((F.col("cum_tokens") - 1) / budget).cast("long")
        )

    @staticmethod
    def quality_gate(
        df: DataFrame,
        score_col: str,
        group_col: str,
        keep_frac: float = 0.5,
        tiebreak_col: str | None = None,
    ) -> DataFrame:
        """Per-group quality-percentile gate: keep the top
        ``keep_frac`` of each group by ``score_col``
        (percent_rank ≤ keep_frac; same plan as q_llm_quality_gate).
        Percentile cutoffs are how pipelines normalize thresholds
        across languages/domains with different score distributions.

        Pass ``tiebreak_col`` (unique per group) whenever duplicate
        scores are possible — without it the rank among equal scores
        is engine-chosen and the gate is nondeterministic."""
        from pyspark.sql import Window

        from iceberg_twist_spark.common import r4

        order = [F.desc(score_col)] + (
            [F.asc(tiebreak_col)] if tiebreak_col else []
        )
        w = Window.partitionBy(group_col).orderBy(*order)
        return (
            df.withColumn("pr", r4(F.percent_rank().over(w)))
            .filter(F.col("pr") <= keep_frac)
        )

    @staticmethod
    def profile(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
        """Long-format profile of any DataFrame: rows, nulls,
        distincts, min/max per column — no per-column rescans. Same
        two single-scan aggregates as q_profile_table (fixed-width
        count buffers hash-aggregate over the multi-distinct Expand;
        string min/max fold in a group-less aggregate) cross-joined
        as one-row frames."""
        names = list(cols) if cols is not None else list(df.columns)
        cnt_aggs, mm_aggs = [], []
        for c in names:
            cnt_aggs += [
                F.count("*").alias(f"{c}__rows"),
                (F.count("*") - F.count(c)).alias(f"{c}__null"),
                F.countDistinct(c).alias(f"{c}__distinct"),
            ]
            mm_aggs += [
                F.min(c).cast("string").alias(f"{c}__min"),
                F.max(c).cast("string").alias(f"{c}__max"),
            ]
        wide = df.agg(*cnt_aggs).crossJoin(df.agg(*mm_aggs))
        stack_expr = ", ".join(
            f"'{c}', `{c}__rows`, `{c}__null`, `{c}__distinct`, `{c}__min`, `{c}__max`"
            for c in names
        )
        return wide.selectExpr(
            f"stack({len(names)}, {stack_expr}) AS "
            "(col_name, n_rows, n_null, n_distinct, min_val, max_val)"
        ).select(
            "col_name",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_null").cast("long").alias("n_null"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            "min_val",
            "max_val",
        )

    @staticmethod
    def build_ann_index(
        df: DataFrame,
        vec_col: str,
        key_col: str,
        path: str,
        n_clusters: int = 16,
    ) -> str:
        """Materialize a cluster-partitioned ANN index for ``df``:
        vectors assigned to deterministic IVF centroids (smallest
        ``n_clusters`` keys), written once with precomputed norms under
        partition spec ``component``, ``cluster`` — so ``ann_search``
        prunes unread partitions via PartitionFilters (same layout as
        q_llm_ann_ivf_indexed). The centroids ride along as ``centroid``
        rows (their id in ``cluster``), so ``ann_search`` needs only the
        index path. Run it offline per corpus snapshot; at 100 TB every
        subsequent probe reads ~nprobe/n_clusters of the files."""
        from iceberg_twist_spark.llm.similarity import ivf_assign, with_norm

        emb = with_norm(
            df.select(F.col(key_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
            "embedding",
        )
        centroids = emb.orderBy("vec_id").limit(n_clusters)
        Engine._create(
            df.sparkSession, path, ["component", "cluster"],
            data=ivf_assign(emb, centroids),
            centroid=centroids.select("embedding", "nrm", F.col("vec_id").alias("cluster")),
        )
        return path

    @staticmethod
    def _centroids(t: SnapshotTable) -> DataFrame:
        """An IVF index's frozen centroids as (vec_id, embedding, nrm)."""
        return Engine._component(t, "centroid").select(
            F.col("cluster").alias("vec_id"), "embedding", "nrm"
        )

    @staticmethod
    def ann_index_append(
        df: DataFrame, vec_col: str, key_col: str, path: str
    ) -> str:
        """Append NEW vectors to an existing ``build_ann_index``
        layout: assign them to the index's FROZEN centroids (no
        re-clustering — the same snapshot/increment trade as
        ``pq_index_append``) and append them under the ``cluster``
        partition spec, so ``ann_search``'s PartitionFilters pruning
        keeps working over the grown corpus. Dimensionality is
        validated against a stored centroid (a mismatched width would
        silently zip-truncate into wrong assignments)."""
        from iceberg_twist_spark.llm.similarity import ivf_assign, with_norm

        t = SnapshotTable(df.sparkSession, path)
        centroids = Engine._centroids(t)
        cdim = len(centroids.select("embedding").head()[0])
        emb = with_norm(
            df.select(F.col(key_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
            "embedding",
        )
        dim = len(emb.select("embedding").head()[0])
        if dim != cdim:
            raise ValueError(
                f"vector dim {dim} does not match the index's centroid dim {cdim}"
            )
        t.append(Engine._components(data=ivf_assign(emb, centroids)))
        return path

    @staticmethod
    def ann_search(
        spark: SparkSession,
        path: str,
        probe: list[float],
        k: int = 10,
        nprobe: int = 4,
    ) -> DataFrame:
        """Top-k cosine neighbors of a literal probe vector against a
        ``build_ann_index`` layout: score the stored centroids, keep
        the ``nprobe`` best cluster ids (bounded driver scalars), and
        scan ONLY those partitions — the manifest drops the other
        clusters' files and the literal IN-list reaches the scan's
        PartitionFilters. Returns (vec_id, cos_sim) ordered
        best-first."""
        from iceberg_twist_spark.common import r4
        from iceberg_twist_spark.llm.similarity import _dot, _norm

        t = SnapshotTable(spark, path)
        p = F.array(*[F.lit(float(x)) for x in probe])
        csim = r4(_dot(F.col("embedding"), p) / (F.col("nrm") * _norm(p)))
        cids = [
            r.cid
            for r in Engine._centroids(t)
            .select(F.col("vec_id").alias("cid"), csim.alias("csim"))
            .orderBy(F.col("csim").desc(), F.col("cid"))
            .limit(nprobe)
            .collect()
        ]
        idx = Engine._component(t, "data", ("cluster", cids))
        sim = r4(_dot(F.col("embedding"), p) / (F.col("nrm") * _norm(p)))
        return (
            idx.select(F.col("vec_id"), sim.alias("cos_sim"))
            .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
            .limit(k)
        )

    @staticmethod
    def build_pq_ann_index(
        df: DataFrame, vec_col: str, key_col: str, path: str
    ) -> str:
        """Materialize a product-quantization ANN index for ``df``:
        train a 1-Lloyd-round codebook (sample-init on the PQ_K
        smallest keys), encode every vector as PQ_M small codes (~2%
        of the embedding bytes), and write codes + codebook + the raw
        vectors (with norms, for exact re-ranking) in one commit. Run it
        offline per corpus snapshot; ``pq_ann_search`` then pays only
        LUT + integer-ADC scan + a constant-size exact re-rank — the
        same split that took the registered q_llm_ann_pq query from
        ~100 s to ~1.6 s per lookup at a 100k-vector corpus."""
        from iceberg_twist_spark.llm import similarity as S

        emb = df.select(
            F.col(key_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        )
        # subspace geometry from the data: PQ_M subspaces of dim/PQ_M
        # dims each (the registered queries pin 8x8 over the 64-dim
        # fixture; user vectors may be any PQ_M-divisible width)
        dim = len(emb.select("embedding").head()[0])
        if dim % S.PQ_M:
            raise ValueError(
                f"vector dim {dim} not divisible into {S.PQ_M} PQ subspaces"
            )
        sub_dim = dim // S.PQ_M
        sub = S._pq_subspaces(emb, sub=sub_dim).localCheckpoint(eager=False)
        # seed codewords: subvectors of the PQ_K smallest keys, coded
        # 0..K-1 in key order (a bounded driver collect — PQ_K rows —
        # so arbitrary, non-dense key values work)
        seed_ids = [
            r.vec_id
            for r in emb.select("vec_id").orderBy("vec_id").limit(S.PQ_K).collect()
        ]
        seed_map = df.sparkSession.createDataFrame(
            [(v, i) for i, v in enumerate(seed_ids)], "vec_id long, code int"
        )
        cb0 = sub.join(F.broadcast(seed_map), "vec_id").select(
            "code", "m", F.col("sv").alias("cw")
        )
        cb1 = S._lloyd_update(S._pq_assign(sub, cb0, carry_sv=True), sub)
        Engine._create(
            df.sparkSession, path, ["component"],
            codes=S._pq_assign(sub, cb1),
            vectors=S.with_norm(emb, "embedding"),
            codebook=cb1,
        )
        return path.rstrip("/")

    @staticmethod
    def _pq_geometry(cb: DataFrame) -> tuple[int, int]:
        """A PQ codebook's (subspace count, codeword width)."""
        return cb.agg(F.max("m")).head()[0] + 1, len(cb.select("cw").head()[0])

    @staticmethod
    def pq_index_append(
        df: DataFrame, vec_col: str, key_col: str, path: str
    ) -> str:
        """Append NEW vectors to an existing ``build_pq_ann_index``
        layout: encode them with the index's FROZEN codebook (no
        retraining) and append codes + norm-carrying vectors in one
        commit — the incremental-maintenance path that keeps a 100 TB
        index serving while the corpus grows. The quantization error
        for a drifting distribution is the documented trade: appended
        vectors are coded against the snapshot's codebook, so rebuild
        the index (retrain) per major corpus snapshot, append between
        snapshots. The exact re-rank in ``pq_ann_search`` is
        unaffected either way — it reads raw vectors."""
        from iceberg_twist_spark.llm import similarity as S

        t = SnapshotTable(df.sparkSession, path)
        cb = Engine._component(t, "codebook").select("code", "m", "cw")
        n_sub, sub_dim = Engine._pq_geometry(cb)
        emb = df.select(
            F.col(key_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        )
        # a mismatched width would be silently sliced/zip-truncated by
        # the encode expressions — wrong codes, not an error — so pin
        # the geometry here, mirroring build_pq_ann_index's check
        dim = len(emb.select("embedding").head()[0])
        if dim != n_sub * sub_dim:
            raise ValueError(
                f"vector dim {dim} does not match the index geometry "
                f"({n_sub} subspaces × {sub_dim} dims = {n_sub * sub_dim})"
            )
        sub = S._pq_subspaces(emb, sub=sub_dim)
        t.append(
            Engine._components(
                codes=S._pq_assign(sub, cb), vectors=S.with_norm(emb, "embedding")
            )
        )
        return path.rstrip("/")

    @staticmethod
    def pq_index_remove(
        spark: SparkSession, path: str, keys, compact: bool = False
    ) -> str:
        """Retract vectors from a ``build_pq_ann_index`` layout: one
        equality delete of their ids, so ``pq_ann_search`` excludes
        their codes from the ADC scan and their raw vectors from the
        re-rank. ``compact=True`` also runs ``pq_index_compact`` (run
        per snapshot, with the retrain). Guarantee:
        remove(append(build(base), delta), delta) ≡ build(base) —
        the codebook is untouched (it is a trained model, not per-row
        state; retraining is the rebuild verb's job)."""
        Engine._remove(spark, path, keys, "vec_id")
        return Engine.pq_index_compact(spark, path) if compact else path.rstrip("/")

    @staticmethod
    def pq_index_compact(spark: SparkSession, path: str) -> str:
        """Physically reclaim removed vectors: rewrite the index
        without them and expire the older snapshots and their files."""
        return Engine._compact(spark, path, SnapshotTable.rewrite_data_files)

    @staticmethod
    def ann_index_remove(
        spark: SparkSession, path: str, keys, compact: bool = False
    ) -> str:
        """Retract vectors from a ``build_ann_index`` (IVF) layout: one
        equality delete of their ids, applied after ``ann_search``'s
        partition-pruned scan. ``compact=True`` also runs
        ``ann_index_compact``, which rewrites only the files containing
        removed vectors. Frozen centroids are untouched."""
        Engine._remove(spark, path, keys, "vec_id")
        return Engine.ann_index_compact(spark, path) if compact else path.rstrip("/")

    @staticmethod
    def ann_index_compact(spark: SparkSession, path: str) -> str:
        """Physically reclaim removed vectors from the IVF layout,
        rewriting only the files that hold them
        (``SnapshotTable.apply_deletes``, which also drops the applied
        deletes) and expiring the older snapshots and their files."""
        return Engine._compact(spark, path, SnapshotTable.apply_deletes)

    @staticmethod
    def pq_ann_search(
        spark: SparkSession,
        path: str,
        probe: list[float],
        k: int = 10,
        rerank: int = 100,
    ) -> DataFrame:
        """Top-k cosine neighbors of a literal probe against a
        ``build_pq_ann_index`` layout: the probe's exact distance to
        every codeword forms a PQ_M×PQ_K lookup table (broadcast),
        stored vectors rank by the sum of their code's table entries
        (integer ADC — no float arrays touched), and only the
        ``rerank`` shortlist is re-scored with the exact cosine.
        Returns (vec_id, cos_sim) best-first."""
        from iceberg_twist_spark.common import r4
        from iceberg_twist_spark.llm import similarity as S

        t = SnapshotTable(spark, path)
        cb = Engine._component(t, "codebook").select("code", "m", "cw")
        codes = Engine._component(t, "codes").select("vec_id", "m", "code")
        vectors = Engine._component(t, "vectors").select("vec_id", "embedding", "nrm")
        p = F.array(*[F.lit(float(x)) for x in probe])
        # recover the index's subspace geometry from the codebook
        # (sub_dim = codeword width) so the LUT matches the encode; a
        # wrong-width probe would be silently sliced into wrong LUT
        # entries, so validate rather than mis-rank
        n_sub, sub_dim = Engine._pq_geometry(cb)
        if len(probe) != n_sub * sub_dim:
            raise ValueError(
                f"probe dim {len(probe)} does not match the index geometry "
                f"({n_sub} subspaces × {sub_dim} dims = {n_sub * sub_dim})"
            )
        psub = S._pq_subspaces(
            spark.range(1).select(F.lit(0).alias("vec_id"), p.alias("embedding")),
            sub=sub_dim,
        ).select("m", F.col("sv").alias("psv"))
        dt = cb.join(F.broadcast(psub), "m").select(
            "m",
            "code",
            F.floor(S._pq_d2(F.col("psv"), F.col("cw")) * 10000 + F.lit(0.5))
            .cast("long")
            .alias("pd2i"),
        )
        shortlist = (
            codes.join(F.broadcast(dt), ["m", "code"])
            .groupBy("vec_id")
            .agg((F.sum("pd2i") / 10000.0).alias("adc_dist"))
            .orderBy(F.col("adc_dist"), F.col("vec_id"))
            .limit(rerank)
            .select("vec_id")
        )
        sim = S._dot(F.col("embedding"), p) / (F.col("nrm") * S._norm(p))
        return (
            vectors.join(F.broadcast(shortlist), "vec_id")
            .select("vec_id", r4(sim).alias("cos_sim"))
            .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
            .limit(k)
        )

    @staticmethod
    def write_bucketed(
        df: DataFrame,
        key: str,
        path: str,
        table_name: str,
        n_buckets: int = 8,
    ) -> str:
        """Write ``df`` once as a co-locatable bucketed external table
        (``bucketBy(n, key) + sortBy(key)``): every later join on
        ``key`` between tables bucketed with the same count is a
        SortMergeJoin with ZERO exchange on the key (the
        q_join_bucketed layout). Bucket count is a cluster parameter —
        pick ~2-4× executor count, never a function of data volume.
        Returns ``table_name`` for ``spark.table``."""
        (
            df.write.bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(table_name)
        )
        return table_name

    @staticmethod
    def collapse_runs(df: DataFrame, text_col: str, sep: str = " ") -> DataFrame:
        """Collapse consecutive repeated tokens in ``text_col`` in place
        (OCR/ASR/boilerplate cleanup). A pure indexed-HOF projection —
        no explode, no window, zero shuffle; same plan as
        q_llm_collapse_runs but returning the cleaned text column.

        ``sep`` is treated as a LITERAL separator: F.split takes a Java
        regex while array_join takes plain text, so the split side is
        regex-quoted — a '.', '|', or '+' separator splits on the
        separator, not per-character."""
        import re

        toks = F.split(F.col(text_col), re.escape(sep))
        kept = F.filter(
            toks, lambda x, i: (i == F.lit(0)) | (F.element_at(toks, i) != x)
        )
        return df.withColumn(text_col, F.array_join(kept, sep))

    @staticmethod
    def perceptual_hash(df: DataFrame, media_col: str, key_col: str) -> DataFrame:
        """aHash fingerprint of P6-PPM media blobs: (key, h1, h2) — two
        32-bit halves; near-dup pairs come from Hamming distance via
        bit_count(h1a^h1b) + bit_count(h2a^h2b) (same plan as
        q_mm_phash / q_mm_phash_dedup)."""
        from iceberg_twist_spark.multimodal import decode_phash

        return decode_phash(
            df.select(F.col(key_col).alias("doc_id"), F.col(media_col).alias("media"))
        ).withColumnRenamed("doc_id", key_col)

    # -- versioned tables (the namesake layer) ---------------------------
    def snapshot_table(self, path: str):
        """Open (or initialize) a versioned snapshot table at ``path`` —
        append/overwrite/merge/delete commits, snapshot-id time travel,
        history, and rewrite_data_files compaction
        (sources/snapshots.py)."""
        return SnapshotTable(self.spark, path)

    # -- warehouse helpers (generic over user DataFrames) ----------------
    @staticmethod
    def scd2(
        df: DataFrame,
        key_col: str,
        attr_col: str,
        ts_col: str,
        tiebreak_col: str | None = None,
    ) -> DataFrame:
        """Type-2 dimension history from an observation stream: collapse
        repeat observations per key, stamp [valid_from, valid_to) via
        lead, open-ended current row (same plan as q_scd2_build; one
        shuffle on the key).

        Pass ``tiebreak_col`` (a unique per-key column) whenever
        duplicate timestamps per key are possible — without it the
        lag/lead order among equal timestamps is engine-chosen and the
        result is nondeterministic (the repo's determinism convention,
        FIXTURES.md)."""
        from pyspark.sql import Window

        order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
        cols = [key_col, attr_col, ts_col] + (
            [tiebreak_col] if tiebreak_col and tiebreak_col not in (key_col, attr_col, ts_col) else []
        )
        w = Window.partitionBy(key_col).orderBy(*order)
        chg = (
            df.select(*cols)
            .withColumn("__prev", F.lag(attr_col).over(w))
            .filter(F.col("__prev").isNull() | (F.col("__prev") != F.col(attr_col)))
        )
        nxt = F.lead(ts_col).over(Window.partitionBy(key_col).orderBy(*order))
        return chg.select(
            key_col,
            F.col(attr_col).alias("attr_value"),
            F.col(ts_col).alias("valid_from"),
            nxt.alias("valid_to"),  # null = current row
            nxt.isNull().alias("is_current"),
        )

    @staticmethod
    def match_sequence(
        df: DataFrame,
        key_col: str,
        event_col: str,
        ts_col: str,
        pattern: Sequence[str],
        within_seconds: int | None = None,
        tiebreak_col: str | None = None,
    ) -> DataFrame:
        """Consecutive-pattern matches per key (MATCH_RECOGNIZE-lite):
        rows where the adjacent event sequence equals ``pattern``,
        optionally completing within ``within_seconds``. One window
        pass, no candidate materialization (same plan as
        q_seq_pattern).

        Pass ``tiebreak_col`` (unique per key, e.g. an event id) when
        duplicate timestamps per key are possible — without it the
        adjacency order among equal timestamps is engine-chosen and
        matches are nondeterministic."""
        from pyspark.sql import Window

        order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
        cols = [key_col, event_col, ts_col] + (
            [tiebreak_col] if tiebreak_col and tiebreak_col not in (key_col, event_col, ts_col) else []
        )
        w = Window.partitionBy(key_col).orderBy(*order)
        out = df.select(*cols)
        cond = F.col(event_col) == pattern[0]
        for i, step in enumerate(pattern[1:], start=1):
            cond = cond & (F.lead(event_col, i).over(w) == step)
        if within_seconds is not None:
            sec = F.unix_timestamp(F.col(ts_col))
            span = F.lead(sec, len(pattern) - 1).over(w) - sec
            cond = cond & (span <= within_seconds)
        return out.withColumn("__m", cond).filter("__m").drop("__m")

    # -- round-5 operators, generic over user DataFrames ----------------
    @staticmethod
    def line_dedup(
        df: DataFrame,
        text_col: str,
        key_col: str,
        block_words: int = 4,
        min_df: int = 3,
    ) -> DataFrame:
        """Cross-corpus line/block-level dedup (C4/CCNet boilerplate
        removal): blocks of ``block_words`` words appearing in >=
        ``min_df`` distinct documents are removed from every document.
        Returns (key, n_blocks, n_boilerplate, cleaned_text). Same plan
        as q_llm_line_dedup: the frequency pass shuffles digests, the
        rewrite shuffles the corpus once on the key."""
        b = (
            df.filter(F.length(text_col) > 0)
            .select(F.col(key_col).alias("__k"), F.split(text_col, " ").alias("__ws"))
            .select(
                "__k",
                F.expr(
                    f"""explode(transform(
                        sequence(0, cast(ceil(size(__ws) / {block_words}.0) as int) - 1),
                        i -> struct(cast(i as bigint) as pos,
                                    array_join(slice(__ws, i * {block_words} + 1,
                                                     {block_words}), ' ') as block)))"""
                ).alias("__s"),
            )
            .select("__k", F.col("__s.pos").alias("__pos"), F.col("__s.block").alias("__b"))
            .withColumn("__bh", F.md5("__b"))
        )
        bp = (
            b.groupBy("__bh")
            .agg(F.countDistinct("__k").alias("__df"))
            .filter(F.col("__df") >= min_df)
            .select("__bh", F.lit(True).alias("__bp"))
        )
        flagged = b.join(bp, "__bh", "left").withColumn(
            "__bp", F.coalesce("__bp", F.lit(False))
        )
        kept = F.filter(
            F.array_sort(F.collect_list(F.struct("__pos", "__b", "__bp"))),
            lambda s: ~s["__bp"],
        )
        return flagged.groupBy(F.col("__k").alias(key_col)).agg(
            F.count("*").cast("long").alias("n_blocks"),
            F.sum(F.col("__bp").cast("int")).cast("long").alias("n_boilerplate"),
            F.array_join(F.transform(kept, lambda s: s["__b"]), " ").alias(
                "cleaned_text"
            ),
        )

    @staticmethod
    def mixture_sample(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
        """Rebalance groups (languages, sources) to the rarest group's
        count by deterministic hash gate — returns the SURVIVING rows.
        The per-group rate table broadcasts (group-set cardinality);
        the decision is a pure function of the key, so the sample is
        identical on any cluster layout."""
        counts = df.groupBy(group_col).agg(F.count("*").alias("__n"))
        min_row = counts.agg(F.min("__n").alias("__mn"))
        rates = counts.crossJoin(F.broadcast(min_row)).select(
            group_col, (F.col("__mn") / F.col("__n").cast("double")).alias("__rate")
        )
        frac = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("mix-"), F.col(key_col).cast("string"))), 1, 6
                ),
                16,
                10,
            ).cast("long")
            / 16777216.0
        )
        return (
            df.join(F.broadcast(rates), group_col)
            .filter(frac < F.col("__rate"))
            .drop("__rate")
        )

    # Facade-default PII patterns — case-insensitive email and common
    # North-American phone layouts (555-1234 / 415-555-1234 /
    # (415) 555-1234 / +1-415-555-1234). The narrower lowercase/555-only
    # patterns in llm/textstats.py stay as-is: they are pinned by the
    # q_llm_pii_scrub oracle's planted fixture, not meant for user data.
    PII_EMAIL_PATTERN = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    # (?<!\d) instead of \b so the match can start at '+' (no word
    # boundary between a space and '+') without ever starting inside a
    # longer digit run
    PII_PHONE_PATTERN = (
        "(?<!\\d)(?:\\+?1[-. ])?(?:\\(\\d{3}\\)\\s?|\\d{3}[-. ])?\\d{3}[-. ]\\d{4}\\b"
    )

    @staticmethod
    def scrub_pii(
        df: DataFrame,
        text_col: str,
        email_pattern: str | None = None,
        phone_pattern: str | None = None,
    ) -> DataFrame:
        """Redact emails and phone numbers in ``text_col`` (in place),
        adding n_emails / n_phones count columns. Pure projection —
        zero shuffle. Defaults match uppercase emails and the common
        NANP phone formats; pass ``email_pattern`` / ``phone_pattern``
        (Java regex) for other locales.

        n_phones is counted on the EMAIL-REDACTED text — replacements
        run emails-first, so a digit run inside an email local-part
        ('john555-1234@x.com') is consumed by <EMAIL> and must not be
        billed as a phone the scrub never performs; counting after
        the email pass keeps n_phones equal to the number of <PHONE>
        replacements actually made."""
        email = email_pattern or Engine.PII_EMAIL_PATTERN
        phone = phone_pattern or Engine.PII_PHONE_PATTERN
        deemailed = F.regexp_replace(text_col, email, "<EMAIL>")
        return (
            df.withColumn(
                "n_emails",
                F.regexp_count(text_col, F.lit(email)).cast("long"),
            )
            .withColumn(
                "n_phones",
                F.regexp_count(deemailed, F.lit(phone)).cast("long"),
            )
            .withColumn(
                text_col,
                F.regexp_replace(deemailed, F.lit(phone), F.lit("<PHONE>")),
            )
        )

    @staticmethod
    def triangle_counts(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
        """Per-node triangle participation from an undirected edge list
        (each edge once, any orientation). Degree-ordered orientation
        bounds the wedge join by Σ out-deg² — the plan that survives
        power-law hubs (same shape as q_graph_triangles)."""
        pairs = edges.select(
            F.least(src_col, dst_col).alias("__a"),
            F.greatest(src_col, dst_col).alias("__b"),
        ).filter(F.col("__a") != F.col("__b")).distinct()
        deg = (
            pairs.select(F.col("__a").alias("__node"))
            .unionByName(pairs.select(F.col("__b").alias("__node")))
            .groupBy("__node")
            .agg(F.count("*").alias("__d"))
        )
        p = (
            pairs.join(
                deg.withColumnRenamed("__node", "__a").withColumnRenamed("__d", "__d1"),
                "__a",
            ).join(
                deg.withColumnRenamed("__node", "__b").withColumnRenamed("__d", "__d2"),
                "__b",
            )
        )
        first_smaller = F.struct("__d1", "__a") < F.struct("__d2", "__b")
        o = p.select(
            F.when(first_smaller, F.col("__a")).otherwise(F.col("__b")).alias("src"),
            F.when(first_smaller, F.col("__b")).otherwise(F.col("__a")).alias("dst"),
            F.when(first_smaller, F.col("__d2")).otherwise(F.col("__d1")).alias("ddeg"),
        )
        # wedge canonicalization must reuse the orientation's (deg, id)
        # total order or closing edges stored "backwards" by raw id are
        # silently missed (same fix as q_graph_triangles)
        e1 = o.select(F.col("src").alias("u"), F.col("dst").alias("v"), F.col("ddeg").alias("dv"))
        e2 = o.select(F.col("src").alias("u"), F.col("dst").alias("w"), F.col("ddeg").alias("dw"))
        e3 = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
        tri = (
            e1.join(e2, "u")
            .filter(F.struct("dv", "v") < F.struct("dw", "w"))
            .join(e3, ["v", "w"])
            .select("u", "v", "w")
        )
        nodes = (
            tri.select(F.col("u").alias("node"))
            .unionByName(tri.select(F.col("v").alias("node")))
            .unionByName(tri.select(F.col("w").alias("node")))
        )
        return nodes.groupBy("node").agg(
            F.count("*").cast("long").alias("n_triangles")
        )

    @staticmethod
    def zorder_write(
        df: DataFrame,
        path: str,
        x_col: str,
        y_col: str,
        n_files: int = 8,
    ) -> None:
        """Write ``df`` Z-order-clustered on two int dimensions: Morton
        key, range partition, sort within files — OPTIMIZE ZORDER. Box
        queries over (x, y) should filter the written ``z`` column with
        Engine.zorder_range's bounds first (pushed, stats-skippable)."""
        from iceberg_twist_spark.sources.layouts import _z_expr

        zx = f"CAST({x_col} & 65535 AS BIGINT)"
        zy = f"CAST({y_col} & 65535 AS BIGINT)"
        (
            df.withColumn("z", F.expr(_z_expr(zx, zy)))
            .repartitionByRange(n_files, "z")
            .sortWithinPartitions("z")
            .write.mode("overwrite")
            .parquet(path)
        )

    @staticmethod
    def zorder_range(xlo: int, xhi: int, ylo: int, yhi: int) -> tuple[int, int]:
        """[zmin, zmax] superset bound of a 2-D box under the 16-bit
        Morton interleave (bit-wise monotone)."""

        def z_of(x: int, y: int) -> int:
            z = 0
            for i in range(16):
                z |= ((x >> i) & 1) << (2 * i)
                z |= ((y >> i) & 1) << (2 * i + 1)
            return z

        return z_of(xlo & 0xFFFF, ylo & 0xFFFF), z_of(xhi & 0xFFFF, yhi & 0xFFFF)

    @staticmethod
    def bpe_merge_round(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
        """One BPE tokenizer-training round over a user corpus: learn
        the most frequent adjacent token pair (a ≠ b, so the greedy
        merge is positional) and apply it everywhere. Returns
        (key, n_tokens, n_merges, merged_text)."""
        from iceberg_twist_spark.llm.textstats import _TOKEN_PATTERN

        toks = df.filter(F.length(text_col) > 0).select(
            F.col(key_col).alias("__k"),
            F.regexp_extract_all(F.lower(text_col), F.lit(_TOKEN_PATTERN), 0).alias("t"),
        )
        cand = toks.select(
            F.explode(
                F.when(
                    F.size("t") >= 2,
                    F.expr(
                        "transform(sequence(1, size(t) - 1), "
                        "i -> struct(element_at(t, i) as a, element_at(t, i + 1) as b))"
                    ),
                ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
            ).alias("p")
        ).select("p.a", "p.b")
        top = (
            cand.filter(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .count()
            .orderBy(F.col("count").desc(), "a", "b")
            .limit(1)
            .select("a", "b")
        )
        m = toks.crossJoin(F.broadcast(top)).withColumn(
            "__occ",
            F.when(
                F.size("t") >= 2,
                F.expr(
                    "filter(sequence(1, size(t) - 1), "
                    "i -> element_at(t, i) = a AND element_at(t, i + 1) = b)"
                ),
            ).otherwise(F.array().cast("array<int>")),
        )
        # guard size(t)=0: Spark's sequence(1, 0) is descending [1, 0]
        # and element_at(t, 0) throws — whitespace-only rows pass the
        # length filter but tokenize to zero tokens
        merged = F.when(
            F.size("t") >= 1,
            F.expr(
                """filter(
                   transform(sequence(1, size(t)), i ->
                       CASE WHEN array_contains(__occ, i) THEN concat(a, b)
                            WHEN array_contains(__occ, i - 1) THEN CAST(NULL AS STRING)
                            ELSE element_at(t, i) END),
                   x -> x IS NOT NULL)"""
            ),
        ).otherwise(F.array().cast("array<string>"))
        return m.select(
            F.col("__k").alias(key_col),
            F.size("t").cast("long").alias("n_tokens"),
            F.size("__occ").cast("long").alias("n_merges"),
            F.array_join(merged, " ").alias("merged_text"),
        )

    @staticmethod
    def bpe_train(
        df: DataFrame,
        text_col: str,
        key_col: str,
        n_merges: int,
        window: int | None = None,
    ) -> DataFrame:
        """Train a BPE merge table of (at least) ``n_merges`` rules
        over a user corpus with BATCHED symbol-disjoint rounds
        (parallel BPE): each round is one pair-count aggregate + one
        bounded driver collect (≤ ``window`` rows) + one zero-shuffle
        batch rewrite, so a 30k-rule vocabulary costs
        O(n_merges / batch) sequential Spark jobs rather than one per
        merge (measured 2.4 s/merge at a 1M-doc corpus — PERF.md r9).
        Stops early if the corpus converges. Returns
        (round, a, b, n) ordered by learning order; rules within a
        round are mutually symbol-disjoint and order-free."""
        from iceberg_twist_spark.llm.textstats import (
            _TOKEN_PATTERN,
            BPE_BATCH_WINDOW,
            bpe_train_loop,
        )

        toks = df.filter(F.length(text_col) > 0).select(
            F.col(key_col).alias("doc_id"),
            F.regexp_extract_all(
                F.lower(text_col), F.lit(_TOKEN_PATTERN), 0
            ).alias("t"),
        )
        merges = bpe_train_loop(
            toks, n_merges=n_merges, window=window or BPE_BATCH_WINDOW
        )
        return df.sparkSession.createDataFrame(
            merges, "round int, a string, b string, n long"
        )
