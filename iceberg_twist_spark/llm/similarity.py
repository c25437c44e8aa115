"""Similarity search over embedding columns (NS mandate).

Baseline: brute-force cosine top-k with the dot product expressed in
higher-order functions (``zip_with`` + ``aggregate``) — JVM-side, no
UDF, vectorized by whole-stage codegen.

Scale path: random-hyperplane LSH bucketing (deterministic,
xxhash64-seeded planes) so the probe only scans its bucket's
candidates; at 100 TB this replaces the full-corpus scan per probe.
An IVF variant would follow the same shape with learned centroids.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql import types as T

from iceberg_twist_spark import kernels as K
from iceberg_twist_spark.api import Engine
from iceberg_twist_spark.catalog import load_tables
# spread(): the per-row interpreted HOF dot products are the CPU cost
# here; an under-partitioned corpus scan (single-row-group fixture
# files) would serialize them on one core. No-op on chunked sources.
from iceberg_twist_spark.common import r4, spread
from iceberg_twist_spark.registry import register
from iceberg_twist_spark.sources.snapshots import SnapshotTable


def _dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float> columns, accumulated in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def with_norm(df: DataFrame, vec_col: str, out: str = "nrm") -> DataFrame:
    """Attach the L2 norm once per vector.

    Higher-order array functions are interpreted per element (no
    whole-stage codegen), so in any pairwise plan the norms must be
    computed on the |corpus| rows BEFORE the join, not per pair —
    that turns 3 array-aggregates per pair into 1 (the dot product).
    """
    return df.withColumn(out, _norm(F.col(vec_col)))


def _probe(emb: DataFrame) -> DataFrame:
    """The standard probe (vec_id 0) of a ``with_norm`` frame as (p, pn)."""
    return emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("p"), F.col("nrm").alias("pn")
    )


_DUCK_COS = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)


_TOPK_ORACLE = f"""
WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
sims AS (
  SELECT e.vec_id,
         floor(({_DUCK_COS.format(a='e.embedding', b='probe.p')}) * 10000 + 0.5) / 10000 AS cos_sim
  FROM embeddings e CROSS JOIN probe
  WHERE e.vec_id <> 0
)
SELECT vec_id, cos_sim FROM sims
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


@register("q_llm_cosine_topk", oracle=_TOPK_ORACLE, tags=("llm", "similarity"))
def q_llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for one probe vector (vec_id=0).

    The probe is broadcast; ordering is on the ROUNDED similarity with
    vec_id tiebreak so both engines resolve near-ties identically.
    ORDER BY + LIMIT compiles to TakeOrderedAndProject (per-partition
    top-k, k-row merge — no global sort).

    r12 measured-and-kept-as-is: an Arrow-kernel rewrite (probe
    collected, norms + dot in numpy) was implemented, oracle-verified,
    and A/B'd alternating in one session — best-of-5 1.46 s (HOF) vs
    1.51 s (kernel) at sf0.1. The per-row HOF volume here (one dot per
    row against ONE probe) is too small for the Python boundary to pay
    for itself; reverted per guide §1 / r11 verdict #9."""
    emb = with_norm(spread(load_tables(spark, sf_dir)["embeddings"], "vec_id"), "embedding")
    probe = _probe(emb)
    pair_sim = _dot(F.col("embedding"), F.col("p")) / (F.col("nrm") * F.col("pn"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", r4(pair_sim).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


_KNN_ORACLE = f"""
WITH probes AS (SELECT vec_id AS probe_id, embedding AS p FROM embeddings WHERE vec_id < 5),
sims AS (
  SELECT probes.probe_id, e.vec_id AS neighbor_id,
         floor(({_DUCK_COS.format(a='e.embedding', b='probes.p')}) * 10000 + 0.5) / 10000 AS cos_sim
  FROM embeddings e CROSS JOIN probes
  WHERE e.vec_id <> probes.probe_id
)
SELECT probe_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT probe_id, neighbor_id, cos_sim,
         row_number() OVER (
           PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM sims
)
WHERE rn <= 3
"""


@register("q_llm_knn_join", oracle=_KNN_ORACLE, tags=("llm", "similarity"))
def q_llm_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force kNN join: 5 probes × corpus, top-3 each.

    Probe set is broadcast so the corpus is scanned once; per-probe
    top-k via row_number (InferWindowGroupLimit prunes map-side).

    r12 measured-and-kept-as-is: an Arrow-kernel rewrite was A/B'd
    alternating in one session — best-of-5 1.41 s (HOF) vs 1.84 s
    (kernel) at sf0.1: the kernel emits |corpus|×5 rows through the
    Arrow boundary into the window, costing more than the 5 HOF dots
    per row it saves. Reverted per guide §1 / r11 verdict #9."""
    emb = with_norm(spread(load_tables(spark, sf_dir)["embeddings"], "vec_id"), "embedding")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p"),
        F.col("nrm").alias("pn"),
    )
    pair_sim = _dot(F.col("embedding"), F.col("p")) / (F.col("nrm") * F.col("pn"))
    sims = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            r4(pair_sim).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.select(
            "probe_id",
            "neighbor_id",
            "cos_sim",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


_PAIRS_ORACLE = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       floor(({_DUCK_COS.format(a='a.embedding', b='b.embedding')}) * 10000 + 0.5) / 10000 AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_DUCK_COS.format(a='a.embedding', b='b.embedding')} >= 0.3
"""


# q_llm_cosine_pairs is the O(n²) VERIFICATION BASELINE for the LSH /
# IVF ANN paths — it must never be pointed at a production-sized
# corpus by accident. The guard refuses above this row count (≈10⁹
# comparisons, minutes locally; anything larger is a mistake) with a
# pointer to the bucketed paths. Raise via the env override only for
# deliberate oracle rehearsals.
COSINE_PAIRS_MAX_ROWS = 100_000


def _guard_exact_pairs(n_rows: int) -> None:
    import os

    cap = int(os.environ.get("ITWS_COSINE_PAIRS_MAX", COSINE_PAIRS_MAX_ROWS))
    if n_rows > cap:
        raise ValueError(
            f"q_llm_cosine_pairs is the exact all-pairs O(n²) baseline and "
            f"refuses {n_rows} vectors (cap {cap}). For corpus-scale "
            f"near-dup pairs use q_llm_ann_lsh / q_llm_ann_ivf (bucketed "
            f"candidates) or q_llm_semdedup_capped; to run the baseline "
            f"deliberately set ITWS_COSINE_PAIRS_MAX."
        )


@register("q_llm_cosine_pairs", oracle=_PAIRS_ORACLE, tags=("llm", "dedup", "similarity"))
def q_llm_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.3), exact all-pairs.

    Correctness baseline only — at corpus scale use lsh_bucket() below
    to restrict comparisons to shared buckets. Guarded: refuses more
    than COSINE_PAIRS_MAX_ROWS vectors (the count is one cheap scan
    next to the n² work it prevents).

    The n² comparison itself is an Arrow-batched numpy kernel: the
    guard bounds the corpus, so the comparison side is collected once
    (the former nested-loop theta join broadcast the same rows anyway)
    and each scan batch computes its (batch × corpus) similarity block
    vectorized, emitting only the surviving pairs — the former form
    materialized every a<b pair ROW through BroadcastNestedLoopJoin
    and paid one interpreted HOF dot per pair (~9 s for 125k pairs at
    sf0.01; the kernel's whole block is a few hundred ms). Arithmetic
    is the ordered fold of kernels.py (sim groups as dot/(na·nb), the
    ≥ 0.3 gate compares the unrounded sim, output rounds r4), so the
    pair set is bit-identical to the oracle's."""
    emb = with_norm(spread(load_tables(spark, sf_dir)["embeddings"], "vec_id"), "embedding")
    _guard_exact_pairs(emb.count())
    ids_b, bmat, nrm_b = K.constant(emb, "vec_id", "embedding", "nrm")  # guard-bounded
    # slice the a-side so the (slice × corpus) block stays ~32 MB
    step = max(1, (4 << 20) // max(len(ids_b), 1))

    def pair_batches(batch):
        ida = batch.column(0).to_numpy(zero_copy_only=False)
        amat = K.matrix(batch.column(1))
        na = batch.column(2).to_numpy(zero_copy_only=False)
        parts = [[], [], []]
        for lo in range(0, len(ida), step):
            a_ids, a_nrm = ida[lo:lo + step], na[lo:lo + step]
            sims = K.dots(amat[lo:lo + step], bmat) / (a_nrm[:, None] * nrm_b[None, :])
            ai, bi = np.nonzero((a_ids[:, None] < ids_b[None, :]) & (sims >= 0.3))
            parts[0].append(a_ids[ai])
            parts[1].append(ids_b[bi])
            parts[2].append(K.rnd(sims[ai, bi], 4))
        return [np.concatenate(p) for p in parts]

    return K.map_kernel(
        emb, ["vec_id", "embedding", "nrm"], pair_batches,
        "vec_a bigint, vec_b bigint, cos_sim double",
    )


# ------------------------------------- semantic decontamination
# The embedding-space sibling of q_llm_decontaminate: n-gram overlap
# misses paraphrased eval contamination, so production corpus hygiene
# ALSO flags documents semantically close to the benchmark set. The
# eval set is tiny by nature (fixed benchmarks, even at a 100 TB
# corpus), so it broadcasts and the corpus is scanned once — the
# knn-join shape with a contamination threshold instead of top-k.

SEMDECON_N_EVAL = 10
SEMDECON_TAU = 0.35

_SEMDECON_ORACLE = f"""
WITH probes AS (
  SELECT vec_id AS eval_id, embedding AS p FROM embeddings
  WHERE vec_id < {SEMDECON_N_EVAL}
), sims AS (
  SELECT e.vec_id,
         floor(({_DUCK_COS.format(a='e.embedding', b='probes.p')}) * 10000 + 0.5) / 10000 AS s
  FROM embeddings e CROSS JOIN probes
  WHERE e.vec_id >= {SEMDECON_N_EVAL}
)
SELECT vec_id, max(s) AS max_eval_sim,
       (max(s) >= {SEMDECON_TAU}) AS is_contaminated
FROM sims GROUP BY vec_id
"""


@register(
    "q_llm_semantic_decontam", oracle=_SEMDECON_ORACLE, tags=("llm", "similarity", "dedup")
)
def q_llm_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag corpus vectors semantically close to the eval set: each
    non-eval vector's max cosine over the {SEMDECON_N_EVAL}-vector
    eval set, thresholded at {SEMDECON_TAU}. The eval probe set is a
    bounded constant (benchmark sets are fixed-size even at 100 TB):
    it is collected once and captured by an Arrow-batched numpy
    kernel that computes each batch's (rows × |eval|) similarity
    block and takes the per-row max in place — the former
    crossJoin(broadcast) + groupBy form multiplied the corpus |eval|×
    and shuffled every (vec_id, s) pair through the max aggregate's
    exchange, paying |eval| interpreted HOF dots per row besides.
    Arithmetic is the ordered fold of kernels.py (each sim r4-rounds
    BEFORE the max, matching the oracle's max over rounded sims), so
    the output is bit-identical."""
    emb = with_norm(spread(load_tables(spark, sf_dir)["embeddings"], "vec_id"), "embedding")
    # bounded: the fixed eval set (the former broadcast)
    _, pmat, pn = K.constant(
        emb.filter(F.col("vec_id") < SEMDECON_N_EVAL), "vec_id", "embedding", "nrm"
    )

    def decon_batches(batch):
        sims = K.dots(K.matrix(batch.column(1)), pmat)
        nrm = batch.column(2).to_numpy(zero_copy_only=False)
        mx = np.max(K.rnd(sims / (nrm[:, None] * pn[None, :]), 4), axis=1)
        return [batch.column(0), mx, mx >= SEMDECON_TAU]

    return K.map_kernel(
        emb.filter(F.col("vec_id") >= SEMDECON_N_EVAL),
        ["vec_id", "embedding", "nrm"],
        decon_batches,
        "vec_id bigint, max_eval_sim double, is_contaminated boolean",
    )


# ------------------------------------------------------------- IVF
# Inverted-file ANN: partition the corpus into K clusters around
# centroids, search only the probe's nprobe nearest clusters. A real
# deployment trains centroids with k-means (sampled, offline); here the
# centroid set is a deterministic corpus subset (vec_id < K) so the
# whole index build is SQL-expressible and oracle-checkable — the
# *plan shape* (assign via broadcast argmax → cluster-pruned search) is
# identical with learned centroids.
IVF_K = 16
IVF_NPROBE = 4


def ivf_assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Attach each vector's nearest-centroid id (``cluster``).

    The centroid table is a bounded constant (K rows): it is collected
    once and captured by an Arrow-batched numpy kernel (mapInArrow)
    that scores all K cosines per vector and argmaxes in one
    vectorized pass. The former crossJoin(broadcast) + row_number form
    replicated every embedding K ways and pushed the |corpus|×K
    (vec_id, embedding, nrm, cid, csim) rows — float arrays included —
    through the window's hash exchange: the dominant shuffle of every
    IVF-family query at scale. The kernel shuffles NOTHING (one
    narrow scan, rows never leave their partition) and replaces K
    interpreted HOF dot products per row with one vectorized distance
    block per batch (guide §2.4/§4.2).

    Bit-compatibility with the oracle's SQL: the dot is the ordered
    fold of kernels.py, cosine groups as ``dot / (nrm · cn)`` and
    rounds r4, and ties keep the LOWEST centroid id: ``K.constant``
    sorts the centroids by id and ``argmax`` keeps the first maximum
    — the oracle's row_number(csim DESC, cid) order.
    """
    # bounded: K centroid rows (the former broadcast)
    cids, cmat, cn = K.constant(centroids, "vec_id", "embedding", "nrm")
    in_cols = ["vec_id", "embedding", "nrm"]
    out_schema = T.StructType(
        [emb.schema[c] for c in in_cols]
        + [T.StructField("cluster", centroids.schema["vec_id"].dataType, True)]
    )

    def assign_batches(batch):
        nrm = batch.column(2).to_numpy(zero_copy_only=False)
        sims = K.dots(K.matrix(batch.column(1)), cmat) / (nrm[:, None] * cn[None, :])
        best = cids[np.argmax(K.rnd(sims, 4), axis=1)]
        return [*batch.columns, best]

    return K.map_kernel(emb, in_cols, assign_batches, out_schema)


_DUCK_R4COS = (
    f"floor(({_DUCK_COS.format(a='{a}', b='{b}')}) * 10000 + 0.5) / 10000"
)

_IVF_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS c FROM embeddings WHERE vec_id < {IVF_K}
), csims AS (
  SELECT e.vec_id, cent.cid,
         {_DUCK_R4COS.format(a='e.embedding', b='cent.c')} AS csim
  FROM embeddings e CROSS JOIN cent
), clusters AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
    FROM csims
  ) WHERE rn = 1
), probe_clusters AS (
  SELECT cid FROM (
    SELECT cid, row_number() OVER (ORDER BY csim DESC, cid) AS rn
    FROM csims WHERE vec_id = 0
  ) WHERE rn <= {IVF_NPROBE}
), probe AS (
  SELECT embedding AS p FROM embeddings WHERE vec_id = 0
)
SELECT e.vec_id,
       {_DUCK_R4COS.format(a='e.embedding', b='probe.p')} AS cos_sim
FROM embeddings e
JOIN clusters cl ON e.vec_id = cl.vec_id
JOIN probe_clusters pc ON cl.cid = pc.cid
CROSS JOIN probe
WHERE e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id
LIMIT 10
"""


@register("q_llm_ann_ivf", oracle=_IVF_ORACLE, tags=("llm", "similarity", "sketch"))
def q_llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10: search only the probe's {nprobe} nearest of {K} clusters.

    The scale path for single-probe search: the full-corpus scan of
    q_llm_cosine_topk becomes (a) one cheap assignment pass that an
    offline index build amortizes, plus (b) an exact re-rank over
    ~nprobe/K of the corpus. At 100 TB the assignment is written once
    as a partition column (cluster-partitioned parquet/Iceberg layout)
    and (b) prunes at the directory level.
    """
    emb = with_norm(spread(load_tables(spark, sf_dir)["embeddings"], "vec_id"), "embedding")
    clustered = ivf_assign(emb, emb.filter(F.col("vec_id") < IVF_K))

    probe = _probe(emb)
    probe_sims = _nearest_clusters(emb, probe, IVF_NPROBE).select("cid")
    pair_sim = _dot(F.col("embedding"), F.col("p")) / (F.col("nrm") * F.col("pn"))
    return (
        clustered.join(F.broadcast(probe_sims), F.col("cluster") == F.col("cid"))
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", r4(pair_sim).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


def _source_fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """Content fingerprint of the SOURCE TABLE a cached index is built
    from: (relpath, mtime_ns, size) of every parquet part. Folded into
    the index directory key so regenerating a fixture IN PLACE gets a
    fresh index instead of silently serving stale codes/codebook (the
    abspath-only key's hazard). ``table`` must name the table the
    index actually reads — a documents-based index keyed by the
    embeddings fingerprint would survive a documents-only fixture
    regeneration (the r8 ADVICE hazard)."""
    import hashlib

    src = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    h = hashlib.md5(src.encode())
    if os.path.isdir(src):
        for root, _dirs, files in sorted(os.walk(src)):
            for fn in sorted(files):
                st = os.stat(os.path.join(root, fn))
                h.update(f"{os.path.relpath(os.path.join(root, fn), src)}:"
                         f"{st.st_mtime_ns}:{st.st_size};".encode())
    elif os.path.exists(src):
        st = os.stat(src)
        h.update(f"{st.st_mtime_ns}:{st.st_size}".encode())
    return h.hexdigest()[:12]


# Bump when any cached index's layout changes, so a directory an older
# layout wrote is never read as this one (5: every cached index is one
# SnapshotTable; the plain-parquet directories before it never match).
_INDEX_LAYOUT_VERSION = 5

# The ref a cached index's table carries once its build chain committed.
INDEX_BUILT_TAG = "built"


def cached_index(
    spark: SparkSession, kind: str, table: str, sf_dir: str, build
) -> str:
    """The directory of the ``kind`` index over ``sf_dir``'s ``table``,
    built on first use by ``build(path)`` — the index's chain of
    snapshot commits (Engine verbs or ``Engine._create``).

    The directory is keyed by (kind, the table's content fingerprint,
    the layout version). An index is complete only once its table
    carries the ``INDEX_BUILT_TAG`` tag, created after the chain's last
    commit; a directory without it is a crashed build's debris, removed
    and rebuilt, so with builds run one at a time no query ever serves
    a half-built index. Concurrent builders of one key are unsupported
    and raise no error: a second builder removes the first one's
    untagged directory mid-chain, and each verb commits onto whatever
    head it reads, so the two can corrupt each other's index."""
    import shutil
    import tempfile

    key = _source_fingerprint(sf_dir, table=table)
    path = os.path.join(
        tempfile.gettempdir(), f"itws_{kind}_index_v{_INDEX_LAYOUT_VERSION}_{key}"
    )
    if os.path.isdir(path):
        if INDEX_BUILT_TAG in SnapshotTable(spark, path).refs():
            return path
        shutil.rmtree(path)
    build(path)
    SnapshotTable(spark, path).create_tag(INDEX_BUILT_TAG)
    return path


def _nearest_clusters(emb: DataFrame, probe: DataFrame, nprobe: int) -> DataFrame:
    """The ``nprobe`` IVF centroids of ``emb`` (vec_id < IVF_K) nearest
    ``probe``: the probe's columns plus each centroid's ``cid`` and r4
    cosine ``csim``, best first (ties by cid). The in-plan IVF forms
    join it; the indexed forms collect its ``cid``s (≤ nprobe bounded
    driver scalars) as the literal IN-list over the ``cluster``
    partition column that prunes their scans."""
    cent = emb.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c"),
        F.col("nrm").alias("cn"),
    )
    return (
        probe.crossJoin(F.broadcast(cent))
        .select(
            *probe.columns, "cid",
            r4(_dot(F.col("p"), F.col("c")) / (F.col("pn") * F.col("cn"))).alias("csim"),
        )
        .orderBy(F.col("csim").desc(), F.col("cid"))
        .limit(nprobe)
    )


def _probed_cluster_ids(emb: DataFrame, probe: DataFrame, nprobe: int) -> list:
    """The ``cid``s of ``_nearest_clusters``, collected."""
    return [r.cid for r in _nearest_clusters(emb, probe, nprobe).select("cid").collect()]


def build_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the IVF layout PERF.md promises: embeddings written
    once in one snapshot commit, the ``data`` component partitioned on
    ``cluster`` and the norm precomputed — so a probe's nprobe-cluster
    search prunes by partition (the manifest's partition values, then
    ``PartitionFilters`` in the scan) instead of filtering after a
    full read. This is the offline index build that amortizes
    assignment: at 100 TB it runs once per corpus snapshot and every
    subsequent probe reads ~nprobe/K of the files.
    Built once per source fingerprint (``cached_index``)."""

    def build(path: str) -> None:
        emb = with_norm(
            spread(load_tables(spark, sf_dir)["embeddings"], "vec_id"), "embedding"
        )
        clustered = ivf_assign(emb, emb.filter(F.col("vec_id") < IVF_K))
        Engine._create(spark, path, ["component", "cluster"], data=clustered)

    return cached_index(spark, "ivf", "embeddings", sf_dir, build)


@register("q_llm_ann_ivf_indexed", oracle=_IVF_ORACLE, tags=("llm", "similarity", "sketch", "source"))
def q_llm_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 over the MATERIALIZED cluster-partitioned index —
    the scale form of q_llm_ann_ivf (same answer, same oracle).

    q_llm_ann_ivf computes the assignment in-plan every time; here the
    assignment is an offline index build (``build_ivf_index``) and the
    query side is: collect the probe's nprobe nearest cluster ids
    (``_probed_cluster_ids``) and read ONLY those partitions of the
    index's ``data`` component — the manifest supplies their schema
    and drops the other clusters' files by their recorded partition
    values before the scan lists any, and the IN-list also reaches the
    scan's ``PartitionFilters``. The exact cosine re-rank then runs
    over ~nprobe/K of the corpus with norms served from the index, and
    the plan audit asserts the pruning is really in the scan.
    """
    t = SnapshotTable(spark, build_ivf_index(spark, sf_dir))
    emb = with_norm(load_tables(spark, sf_dir)["embeddings"], "embedding")
    probe = _probe(emb)
    cids = _probed_cluster_ids(emb, probe, IVF_NPROBE)
    idx = Engine._component(t, "data", ("cluster", cids))
    pair_sim = _dot(F.col("embedding"), F.col("p")) / (F.col("nrm") * F.col("pn"))
    return (
        idx.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", r4(pair_sim).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


N_PLANES = 8


def _plane_signs(dim: int, n_planes: int) -> list[list[float]]:
    """±1 hyperplane components: sign(p, d) = parity of md5(f"{p}:{d}").

    Pure-Python derivation (hashlib — no engine hash functions), so the
    SAME literal sign vectors embed into both the Spark plan and the
    DuckDB oracle SQL: that is what upgrades the LSH family from
    rows-only to hash-checked. Materializing signs outside the plan
    also keeps the round-2 lesson: expressions inside higher-order
    lambdas are not constant-folded, so anything hash-shaped inlined
    there re-evaluates per row (measured 6× slower than the projection
    arithmetic itself). A production deployment would draw Gaussian
    planes from a seeded RNG and persist them beside the index;
    parity-of-digest is the same ±1 Rademacher family.
    """
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{p}:{d}".encode()).digest()[0] & 1 else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def _lsh_bucket_sql(col: str, dim: int = 64, n_planes: int = N_PLANES) -> str:
    """DuckDB expression computing the same bucket id as ``lsh_bucket``
    (same literal sign vectors, same sign-bit packing)."""
    terms = []
    for p, signs in enumerate(_plane_signs(dim, n_planes)):
        arr = "[" + ", ".join(str(v) for v in signs) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(CAST({col} AS DOUBLE[]), "
            f"CAST({arr} AS DOUBLE[])) > 0 THEN {1 << p} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def lsh_bucket(emb: DataFrame, dim: int = 64, n_planes: int = N_PLANES) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (deterministic).

    Plane p's component d is a pseudo-random ±1 derived from an md5
    parity — reproducible across runs (and engines) with zero stored
    state. The bucket id packs the sign bits of the n_planes
    projections; at scale, candidate generation joins on bucket id
    instead of all-pairs. Expected bucket occupancy is
    |corpus| / 2^n_planes.

    r12: the n_planes interpreted Catalyst HOF folds per row (the
    same expression-interpretation cost the r11 PQ/IVF kernels
    removed — guide §4.2) are one Arrow-batched numpy kernel. The
    sign matrix is a bounded constant (n_planes × dim literals) in
    the task closure. Bit-compatibility: each projection is the
    ordered fold of kernels.py, and the sign test ``proj > 0`` plus
    the power-of-two packing are exact integer ops, so the bucket
    ids are bit-identical to the HOF's (and the oracle's). NOTE:
    every column of ``emb`` passes through the kernel, which is
    opaque to column pruning — callers select the narrow column set
    first.
    """
    smat = np.array(_plane_signs(dim, n_planes), dtype=np.float64)  # (P, d)
    in_cols = list(emb.columns)
    e_idx = in_cols.index("embedding")
    out_schema = T.StructType(
        list(emb.schema) + [T.StructField("bucket", T.LongType(), True)]
    )

    def bucket_batches(batch):
        signs = K.dots(K.matrix(batch.column(e_idx)), smat) > 0
        bucket = (signs.astype(np.int64) << np.arange(len(smat))).sum(axis=1)
        return [*batch.columns, bucket]

    return K.map_kernel(emb, in_cols, bucket_batches, out_schema)


def _pair_cos_kernel(
    pairs: DataFrame, tau: float, round_before_cmp: bool
) -> DataFrame:
    """Exact cosine over already-candidate pairs, as an Arrow kernel.

    ``pairs`` must be exactly (ka, kb, ea, eb, na, nb);
    returns (ka, kb, cos_sim double) for pairs whose similarity clears
    ``tau`` — compared on the r4-ROUNDED value when
    ``round_before_cmp`` (the SemDeDup convention) or on the unrounded
    value with r4 applied after (the LSH/all-pairs convention),
    matching each oracle exactly. Replaces one interpreted HOF dot
    per pair (guide §4.2); arithmetic is the ordered fold of
    kernels.py (sim groups as dot/(na·nb), rounding r4), so the
    surviving pair set is bit-identical."""
    ka, kb = pairs.schema[0], pairs.schema[1]
    out_schema = T.StructType([ka, kb, T.StructField("cos_sim", T.DoubleType(), True)])

    def pair_batches(batch):
        ea, eb = K.matrix(batch.column(2)), K.matrix(batch.column(3))
        na = batch.column(4).to_numpy(zero_copy_only=False)
        nb = batch.column(5).to_numpy(zero_copy_only=False)
        sim = K.row_dots(ea, eb) / (na * nb)
        if round_before_cmp:
            sim = K.rnd(sim, 4)
        mask = sim >= tau
        if not mask.any():
            return None
        out = sim[mask] if round_before_cmp else K.rnd(sim[mask], 4)
        keep = pa.array(mask)
        return [batch.column(0).filter(keep), batch.column(1).filter(keep), out]

    return K.map_kernel(pairs, pairs.columns, pair_batches, out_schema)


_LSH_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS vec_a, bb.vec_id AS vec_b,
       floor(({_DUCK_COS.format(a='a.embedding', b='bb.embedding')}) * 10000 + 0.5) / 10000 AS cos_sim
FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
WHERE {_DUCK_COS.format(a='a.embedding', b='bb.embedding')} >= 0.3
"""


@register("q_llm_ann_lsh", oracle=_LSH_ORACLE, tags=("llm", "similarity", "sketch"))
def q_llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via hyperplane-LSH buckets: pairs sharing a bucket, with
    exact cosine verification ≥ 0.3 — the scale path for
    q_llm_cosine_pairs. Hash-checked: the sign vectors are pure-Python
    constants embedded as literals in both engines' plans (round-3
    upgrade from rows-only).

    r12 (guide §4.2): bucketing runs through the lsh_bucket Arrow
    kernel and the per-candidate-pair cosine through _pair_cos_kernel
    — the former form paid 8 interpreted HOF folds per row plus one
    interpreted HOF dot per pair. The in-query .cache() is gone with
    them: it existed to amortize the HOF bucketing across the
    self-join's two sides, but its materialization job dominated at
    small SF (r11 verdict #6) and pinning the whole corpus is not a
    100 TB plan. The bucketing kernel therefore runs once per join
    side (two MapInArrow nodes, allowlisted in tools/explain_audit).
    The numpy work is cheap; the second pass costs mostly the Python
    worker's fixed start-up per Arrow task (PERF.md, "Per-task Python
    cost"), which grows with the task count, not the rows."""
    emb = with_norm(
        spread(load_tables(spark, sf_dir)["embeddings"], "vec_id"), "embedding"
    ).select("vec_id", "embedding", "nrm")
    bucketed = lsh_bucket(emb)
    a = bucketed.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"), "bucket",
    )
    b = bucketed.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"), "bucket",
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "ea", "eb", "na", "nb")
    )
    return _pair_cos_kernel(pairs, tau=0.3, round_before_cmp=False)


# ----------------------------------------------------------- SemDeDup
# Semantic dedup, cluster-bounded: assign every vector to its nearest
# centroid, compare ONLY within clusters, and drop any vector with a
# more-canonical (smaller-id) near-twin in its cluster. This is the
# published SemDeDup recipe's plan shape: pairwise cost falls from
# O(n²) to O(Σ cluster²), and at 100 TB the cluster id becomes a
# partition column so each comparison job reads one cluster's shard.

SEMDEDUP_TAU = 0.35

_SEMDEDUP_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS c FROM embeddings WHERE vec_id < {IVF_K}
), csims AS (
  SELECT e.vec_id, cent.cid,
         {_DUCK_R4COS.format(a='e.embedding', b='cent.c')} AS csim
  FROM embeddings e CROSS JOIN cent
), clusters AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
    FROM csims
  ) WHERE rn = 1
), dropped AS (
  SELECT DISTINCT ca.vec_id
  FROM clusters ca
  JOIN clusters cb ON ca.cid = cb.cid AND cb.vec_id < ca.vec_id
  JOIN embeddings a ON a.vec_id = ca.vec_id
  JOIN embeddings b ON b.vec_id = cb.vec_id
  WHERE {_DUCK_R4COS.format(a='a.embedding', b='b.embedding')} >= {SEMDEDUP_TAU}
)
SELECT c.vec_id, CAST(c.cid AS BIGINT) AS cluster_id,
       d.vec_id IS NULL AS is_kept
FROM clusters c LEFT JOIN dropped d ON c.vec_id = d.vec_id
"""


@register("q_llm_semdedup", oracle=_SEMDEDUP_ORACLE, tags=("llm", "dedup", "similarity"))
def q_llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup shape): a vector is dropped when a
    smaller-id vector in its OWN IVF cluster has r4-rounded cosine ≥
    SEMDEDUP_TAU to it; keepers are the per-near-twin canonical
    representatives. Comparisons never leave a cluster — the candidate
    join is on the cluster id (bounded Σ|cluster|², audited: no
    all-pairs) and the centroid assignment is one kernel pass: its
    output feeds both join sides and the result, so it is lazily
    checkpointed — without that each consumer re-runs the kernel, and
    every Arrow task pays the Python worker's fixed start-up cost
    (PERF.md, "Per-task Python cost")."""
    emb = with_norm(spread(load_tables(spark, sf_dir)["embeddings"], "vec_id"), "embedding")
    return semdedup_keep(emb, emb.filter(F.col("vec_id") < IVF_K), SEMDEDUP_TAU)


def semdedup_keep(emb: DataFrame, centroids: DataFrame, tau: float) -> DataFrame:
    """(vec_id, cluster_id, is_kept) for ``emb`` = (vec_id, embedding,
    nrm): the SemDeDup body shared by q_llm_semdedup and
    Engine.semdedup. The assignment feeds both join sides and the
    result, so it is lazily checkpointed and its kernel runs once."""
    clustered = ivf_assign(emb, centroids).localCheckpoint(eager=False)
    a = clustered.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"), "cluster",
    )
    b = clustered.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"), "cluster",
    )
    # per-pair cosine via the shared Arrow kernel (r12, guide §4.2) —
    # the interpreted HOF dot per candidate pair dominated this query
    # (10.0 s noop-isolated at sf0.1; the kernel form is ~1 s)
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("vb") < F.col("va"))
        .select("va", "vb", "ea", "eb", "na", "nb")
    )
    dropped = (
        _pair_cos_kernel(pairs, tau=tau, round_before_cmp=True)
        .select(F.col("va").alias("vec_id"))
        .distinct()
    )
    return (
        clustered.select("vec_id", F.col("cluster").cast("long").alias("cluster_id"))
        .join(dropped.withColumn("__d", F.lit(1)), "vec_id", "left")
        .select("vec_id", "cluster_id", F.col("__d").isNull().alias("is_kept"))
    )


# Sub-bucket cap: q_llm_semdedup's Σ|cluster|² candidate bound is
# conditional on balanced clusters — a degenerate corpus (one dominant
# cluster, e.g. the zipf twin's 56%-one-label embeddings) degrades
# toward all-pairs. The capped variant makes the bound UNCONDITIONAL:
# a cluster of size m splits into ceil(m/CAP) sub-buckets
# (vec_id mod — near-uniform for dense ids, no hash needed, identical
# in both engines) and comparisons never leave a (cluster, sub-bucket)
# cell, so candidate mass ≤ n·CAP regardless of the corpus. The price
# is recall: cross-sub-bucket twins inside a mega-cluster are missed —
# the standard cap/re-shard trade every production SemDeDup makes.
SEMDEDUP_CAP = 256

_SEMDEDUP_CAPPED_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS c FROM embeddings WHERE vec_id < {IVF_K}
), csims AS (
  SELECT e.vec_id, cent.cid,
         {_DUCK_R4COS.format(a='e.embedding', b='cent.c')} AS csim
  FROM embeddings e CROSS JOIN cent
), clusters AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
    FROM csims
  ) WHERE rn = 1
), sizes AS (
  SELECT cid, CAST(ceil(count(*) * 1.0 / {SEMDEDUP_CAP}) AS BIGINT) AS nsub
  FROM clusters GROUP BY cid
), subbed AS (
  SELECT c.vec_id, c.cid, c.vec_id % s.nsub AS sub
  FROM clusters c JOIN sizes s ON c.cid = s.cid
), dropped AS (
  SELECT DISTINCT ca.vec_id
  FROM subbed ca
  JOIN subbed cb ON ca.cid = cb.cid AND ca.sub = cb.sub AND cb.vec_id < ca.vec_id
  JOIN embeddings a ON a.vec_id = ca.vec_id
  JOIN embeddings b ON b.vec_id = cb.vec_id
  WHERE {_DUCK_R4COS.format(a='a.embedding', b='b.embedding')} >= {SEMDEDUP_TAU}
)
SELECT c.vec_id, CAST(c.cid AS BIGINT) AS cluster_id,
       CAST(c.sub AS BIGINT) AS sub_bucket,
       d.vec_id IS NULL AS is_kept
FROM subbed c LEFT JOIN dropped d ON c.vec_id = d.vec_id
"""


@register("q_llm_semdedup_capped", oracle=_SEMDEDUP_CAPPED_ORACLE, tags=("llm", "dedup", "similarity"))
def q_llm_semdedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with an UNCONDITIONAL candidate bound: clusters larger
    than SEMDEDUP_CAP split into ceil(|c|/CAP) sub-buckets
    (vec_id mod — deterministic, near-uniform on dense ids) and the
    near-twin comparison runs per (cluster, sub_bucket) cell, so
    candidate mass is ≤ n·CAP even on a degenerate one-cluster corpus
    — closing q_llm_semdedup's balanced-clusters assumption. The
    cluster-size frame is ≤ K rows; at 100 TB (cluster, sub_bucket) is
    the partition key the comparison job reads shard-by-shard.

    The centroid assignment runs once: its output feeds the size
    aggregate and the sub-bucket join, so it is lazily checkpointed,
    and each cell returns every one of its rows with ``is_kept`` — no
    dropped-set distinct and no join back onto the assignment."""
    emb = with_norm(spread(load_tables(spark, sf_dir)["embeddings"], "vec_id"), "embedding")
    clustered = ivf_assign(emb, emb.filter(F.col("vec_id") < IVF_K)).localCheckpoint(
        eager=False
    )
    sizes = clustered.groupBy("cluster").agg(
        F.ceil(F.count("*") * F.lit(1.0) / SEMDEDUP_CAP).cast("long").alias("nsub")
    )
    subbed = clustered.join(sizes, "cluster").withColumn(
        "sub", F.pmod(F.col("vec_id"), F.col("nsub")).cast("long")
    )
    # r12 (guide §8's "move heavy bytes once"): keep/drop is decided
    # per (cluster, sub) CELL with groupBy + applyInArrow — each
    # row's embedding crosses the shuffle and the Python boundary
    # exactly ONCE (≈|corpus| rows), and the |cell|² pair comparisons
    # happen in a numpy block per cell. Both the r11 JVM-HOF pair join
    # and an intermediate r12 pair kernel materialized ~|corpus|·CAP/2
    # PAIR rows (two embeddings each) through the join (and, for the
    # kernel, through Arrow): at the 100k-vector corpus twin that is
    # ~13 GB of pair payload vs ~30 MB of row payload here — measured
    # 11.3 s (HOF) / 12.0 s (pair kernel) / 4.4 s (this form), same
    # dropped set on all three. The uncapped q_llm_semdedup keeps the
    # streaming pair kernel — a degenerate mega-cluster must not have
    # to fit in one worker.
    def cell_rows(cell: pa.Table) -> pa.Table:
        ids = cell["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        kept = semdedup_cell_kept(
            K.matrix(cell["embedding"])[order],
            cell["nrm"].to_numpy()[order],
            SEMDEDUP_TAU,
        )
        return pa.table({
            "vec_id": pa.array(ids[order], pa.int64()),
            "cluster_id": cell["cluster"].cast(pa.int64()).take(order),
            "sub_bucket": cell["sub"].cast(pa.int64()).take(order),
            "is_kept": pa.array(kept),
        })

    return (
        subbed.select("vec_id", "embedding", "nrm", "cluster", "sub")
        .groupBy("cluster", "sub")
        .applyInArrow(
            cell_rows,
            "vec_id bigint, cluster_id bigint, sub_bucket bigint, is_kept boolean",
        )
    )


def semdedup_cell_kept(vecs: np.ndarray, nrm: np.ndarray, tau: float) -> np.ndarray:
    """is_kept per row of one SemDeDup cell, rows sorted by id: a row
    drops when any earlier (smaller-id) row's r4-rounded cosine to it
    is ≥ ``tau``. The a-side is tiled to ~1M doubles per block — a
    block of rows [lo, hi) only needs columns [0, hi) — so a skewed or
    non-dense-id cell that grows to a whole cluster stays bounded."""
    n = len(vecs)
    hit = np.zeros(n, dtype=bool)
    step = max(1, (1 << 20) // max(n, 1))
    for lo in range(1, n, step):
        hi = min(lo + step, n)
        sims = K.dots(vecs[lo:hi], vecs[:hi]) / (nrm[lo:hi, None] * nrm[None, :hi])
        hit[lo:hi] = np.tril(K.rnd(sims, 4) >= tau, k=lo - 1).any(axis=1)
    return ~hit


# ------------------------------------------------ product quantization
# The third major ANN index family after IVF and LSH: product
# quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011). The vector is split into PQ_M
# subvectors; each subspace has its own PQ_K-codeword codebook; a
# vector is stored as PQ_M small codes (8×6 bits here — a 64-dim
# float32 vector compresses ~42:1), and query distance is approximated
# by ADC (asymmetric distance computation): a PQ_M×PQ_K lookup table
# of exact probe-to-codeword distances, summed per stored code.
#
# Scale shape: the codebook is PQ_M×PQ_K rows (CONSTANT — broadcast);
# training is ONE Lloyd round whose update step aggregates onto
# M×K×SUB groups (map-side combined — shuffle is the codebook, never
# the corpus); encoding is a scan + broadcast join + struct-min
# partial aggregate; the ADC query scans CODES (integers, no float
# arrays) + TakeOrderedAndProject. At 100 TB the codes table is ~2%
# of the embedding bytes — the memory-fits index the others aren't.
#
# Codebook: sample-init (subvectors of the PQ_K lowest vec_ids), then
# one Lloyd refinement — assign, recompute r4-rounded means — which
# measurably lifts recall@10 (0.2 → 0.6 on the fixture; the pinned
# test protects it). Per-subspace distances use the dot identity
# |x-c|² = x·x − 2x·c + c·c so both engines run the same sequential
# float ops; ADC partials cross engines as exact 1e-4-scaled ints.

RECALL_K = 10
# ADC shortlist size for the exact re-ranking pass (Jégou §VI, the
# IVFADC+R refinement): ADC ranks by quantized L2 — at 100k vectors
# the quantization error (and the L2-vs-cosine norm mismatch on
# unnormalized corpora) buries the true top-10 inside the ADC
# ordering but NOT outside its top-100, so re-scoring just the
# shortlist with the exact cosine restores recall at the cost of
# PQ_RERANK exact dots (measured at 100k vectors: pq 0.1 → with
# re-ranking ~1.0; constant work per query, independent of corpus).
PQ_RERANK = 100

PQ_M = 8      # subspaces
PQ_SUB = 8    # dims per subspace (PQ_M * PQ_SUB = embedding dim)
# 8-bit codes — Jégou's standard configuration (m=8, k*=256). The r5
# 64-codeword setting was measurably too coarse at corpus scale: at
# 100k vectors the true top-10's ADC ranks stretched to ~3900 (6-bit)
# vs ~1200 (8-bit), i.e. recall@10 with the 100-deep re-rank 0.4 vs
# 0.6. Codebook stays a constant broadcast (M×K rows); assignment
# cost scales with K — the measured price of the standard code size.
PQ_K = 256    # codewords per subspace

_PQ_D2 = (
    "(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b}))"
)


def _pq_assign_sql(cb: str) -> str:
    """argmin-codeword assignment of every subvector vs codebook `cb`."""
    return f"""(
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, {cb}.code,
           row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
             floor({_PQ_D2.format(a='s.sv', b=cb + '.cw')} * 10000 + 0.5) / 10000,
             {cb}.code) AS rn
    FROM sub s JOIN {cb} USING (m)) WHERE rn = 1)"""


_PQ_TOP_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), ms AS (
  SELECT unnest(generate_series(0, {PQ_M - 1})) AS m
), sub AS (
  SELECT vec_id, m,
         emb[m * {PQ_SUB} + 1 : (m + 1) * {PQ_SUB}] AS sv
  FROM e, ms
), cb0 AS (
  SELECT vec_id AS code, m, sv AS cw FROM sub WHERE vec_id < {PQ_K}
), codes0 AS {_pq_assign_sql('cb0')}
, flat0 AS (
  SELECT c.m, c.code, t.i AS pos, s.sv[t.i] AS val
  FROM codes0 c JOIN sub s ON c.vec_id = s.vec_id AND c.m = s.m,
       LATERAL (SELECT unnest(generate_series(1, {PQ_SUB})) AS i) t
), cb1 AS (
  SELECT m, code, list(cv ORDER BY pos) AS cw FROM (
    SELECT m, code, pos, floor(avg(val) * 10000 + 0.5) / 10000 AS cv
    FROM flat0 GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
), codes AS {_pq_assign_sql('cb1')}
, dt AS (
  SELECT cb1.m, cb1.code,
         CAST(floor({_PQ_D2.format(a='p.sv', b='cb1.cw')} * 10000 + 0.5) AS BIGINT)
             AS pd2i
  FROM cb1 JOIN (SELECT m, sv FROM sub WHERE vec_id = 0) p USING (m)
), adc AS (
  SELECT c.vec_id, sum(dt.pd2i) / 10000.0 AS adc_dist
  FROM codes c JOIN dt ON c.m = dt.m AND c.code = dt.code
  GROUP BY c.vec_id
), shortlist AS (
  SELECT vec_id FROM adc WHERE vec_id <> 0
  ORDER BY adc_dist, vec_id LIMIT {PQ_RERANK}
)
SELECT s.vec_id,
       floor(({_DUCK_COS.format(a='e2.embedding', b='pr.p')}) * 10000 + 0.5) / 10000 AS cos_sim
FROM shortlist s
JOIN embeddings e2 ON s.vec_id = e2.vec_id
CROSS JOIN (SELECT embedding AS p FROM embeddings WHERE vec_id = 0) pr
ORDER BY cos_sim DESC, s.vec_id LIMIT {RECALL_K}
"""


def _pq_subspaces(
    df: DataFrame,
    vec_col: str = "embedding",
    extra: tuple[str, ...] = (),
    n_m: int = PQ_M,
    sub: int = PQ_SUB,
) -> DataFrame:
    """(vec_id, *extra, m, sv): each vector split into ``n_m`` double
    subvectors of ``sub`` dims (defaults: the registered queries'
    fixed 8×8 geometry over the 64-dim fixture; the
    Engine.build_pq_ann_index facade passes the geometry inferred
    from the user's vectors). ``extra`` carries pass-through columns
    (IVF-PQ keeps the cluster id alongside each subvector)."""
    return df.select(
        "vec_id",
        *extra,
        F.expr(
            f"""explode(transform(sequence(0, {n_m - 1}),
                m -> struct(m as m,
                            transform(slice({vec_col}, m * {sub} + 1, {sub}),
                                      x -> cast(x as double)) as sv)))"""
        ).alias("s"),
    ).select("vec_id", *extra, F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def _pq_d2(a: Column, b: Column) -> Column:
    """|a-b|² via the dot identity — same op sequence as the oracle."""
    return _dot(a, a) - 2 * _dot(a, b) + _dot(b, b)


def _pq_assign(
    sub: DataFrame,
    cb: DataFrame,
    keys: tuple[str, ...] = ("vec_id",),
    carry_sv: bool = False,
) -> DataFrame:
    """Collected-codebook argmin assignment: (*keys, m, code[, sv]).

    The codebook is a CONSTANT (≤ PQ_M×PQ_K rows): it is collected
    once and captured by the kernel below. ``carry_sv=True`` passes
    the subvector column through unchanged, so a following Lloyd
    update can aggregate codes and subvectors from ONE frame instead
    of re-joining the assignment back to the corpus on (vec_id, m) —
    at scale that join is a full shuffle of the subvector table.

    The argmin itself is an Arrow-batched numpy kernel (mapInArrow):
    the interpreted Catalyst when-fold it replaces paid a per-element
    lambda walk over K codewords per subvector row (r11 bench: 4.5 s
    PER assignment pass at 16k subvector rows — >99% expression
    interpretation), while the kernel computes the same (rows ×
    codewords) distance matrix in vectorized native code (guide §4.2:
    Spark distributes, numpy computes). Only (*keys, m, sv) cross the
    Python boundary — ~80 B/row — and the codebook constant rides the
    task closure.

    Arithmetic is bit-compatible with the oracle's
    ``dot(a,a) − 2·dot(a,b) + dot(b,b)``: every dot (|cw|² included)
    is the ordered fold of kernels.py, d2 groups as
    ``(sv2 − 2·dot) + c2`` and rounds r4 — the identical operation
    sequence both engines execute, so equal inputs give bit-equal
    distances. Ties keep the LOWEST code: ``K.constant`` sorts the
    codewords by code and ``argmin`` keeps the first minimum — the
    oracle's (d2, code) row_number order. ``keys`` lets IVF-PQ carry
    the cluster id through the assignment instead of re-joining it
    afterwards."""
    # bounded: the constant codebook, code-ascending within each m
    codes, cws, cb_m = K.constant(cb, "code", "cw", "m")
    c2s = K.row_dots(cws, cws)
    per_m = {
        int(m): (codes[cb_m == m], cws[cb_m == m], c2s[cb_m == m])
        for m in np.unique(cb_m)
    }
    assert sorted(per_m) == list(range(len(per_m))), "non-contiguous m"

    in_cols = [*keys, "m", "sv"]
    n_key = len(keys)
    out_fields = [sub.schema[k] for k in (*keys, "m")] + [
        T.StructField("code", T.IntegerType(), True)
    ]
    if carry_sv:
        out_fields.append(sub.schema["sv"])

    def assign_batches(batch):
        m_col = batch.column(n_key).to_numpy(zero_copy_only=False)
        sv = K.matrix(batch.column(n_key + 1))
        sv2 = K.row_dots(sv, sv)
        # -1 = "no codebook covered this row's m"; checked below so an
        # uncovered subspace fails loudly instead of emitting an
        # uninitialized code (the Catalyst fold it replaced nulled)
        code_out = np.full(len(sv), -1, dtype=np.int32)
        for m, (m_codes, m_cws, m_c2s) in per_m.items():
            mask = m_col == m
            if not mask.any():
                continue
            d2 = (sv2[mask][:, None] - 2.0 * K.dots(sv[mask], m_cws)) + m_c2s[None, :]
            code_out[mask] = m_codes[np.argmin(K.rnd(d2, 4), axis=1)]
        if (code_out < 0).any():
            raise ValueError(
                "subvector m values not covered by the codebook: "
                f"{sorted(set(m_col[code_out < 0].tolist()))}"
            )
        cols = [*batch.columns[:n_key + 1], code_out]
        return [*cols, batch.column(n_key + 1)] if carry_sv else cols

    return K.map_kernel(sub, in_cols, assign_batches, T.StructType(out_fields))


def _lloyd_update(codes0: DataFrame, sub: DataFrame) -> DataFrame:
    """One Lloyd codebook update: per-(m, code) r4-rounded subvector
    means, rebuilt into codeword arrays. The aggregate's group count
    is PQ_M×PQ_K×PQ_SUB — map-side combined, constant size; the
    shuffle IS the codebook, the corpus never moves. Shared by
    pq_encode, ivfpq_encode, and the Engine.build_pq_ann_index facade
    so the refinement arithmetic cannot drift between the
    oracle-checked queries and the user API."""
    # Lazy checkpoint: every caller both COLLECTS this frame (the
    # argmin assignment ships the codebook as a task constant) and
    # re-reads it IN-PLAN (the ADC lookup table / the index write) —
    # without the checkpoint the whole update pipeline, including the
    # init assignment feeding it, re-executed once per consumer
    # (r11: the duplicated subtree was ~40% of q_llm_ann_pq's wall).
    # The frame is constant-size (PQ_M×PQ_K rows), so the checkpoint
    # blocks are a few hundred KB.
    #
    # When the assignment carried ``sv`` through (carry_sv=True), the
    # (vec_id, m) re-join of codes back onto the corpus — a full
    # shuffle of the subvector table at scale — is unnecessary.
    joined = (
        codes0
        if "sv" in codes0.columns
        else codes0.join(sub, ["vec_id", "m"])
    )
    return (
        joined
        .select("m", "code", F.posexplode("sv").alias("p0", "val"))
        .groupBy("m", "code", (F.col("p0") + 1).alias("pos"))
        .agg(r4(F.avg("val")).alias("cv"))
        .groupBy("m", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias("cw")
        )
        .localCheckpoint(eager=False)
    )


def pq_encode(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(codes, codebook): train a 1-Lloyd-round PQ codebook and encode.

    Means are r4-rounded on both engines so the refined codewords (and
    every downstream argmin) are bit-identical."""
    emb = spread(load_tables(spark, sf_dir)["embeddings"], "vec_id")
    # the subvector frame feeds FOUR consumers (codebook init, the
    # init assignment, the Lloyd-update join, the final encode) — lazy
    # checkpoint so the scan + subspace explode runs once, and the
    # init codebook is a filter over the same checkpoint instead of a
    # second full scan
    sub = _pq_subspaces(emb).localCheckpoint(eager=False)
    cb0 = sub.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("code"), "m", F.col("sv").alias("cw")
    )
    codes0 = _pq_assign(sub, cb0, carry_sv=True)
    cb1 = _lloyd_update(codes0, sub)
    return _pq_assign(sub, cb1), cb1


def _pq_adc_topk(
    spark: SparkSession, sf_dir: str, codes: DataFrame, cb: DataFrame
) -> DataFrame:
    """ADC top-10 given a codes table + codebook (however sourced):
    the shared query back-half of q_llm_ann_pq (codes trained
    in-plan) and q_llm_ann_pq_indexed (codes read from the
    materialized index). Both answers are identical because the
    encoding is deterministic and array<double> codewords round-trip
    parquet exactly."""
    emb = with_norm(
        spread(load_tables(spark, sf_dir)["embeddings"], "vec_id"), "embedding"
    )
    probe_sub = _pq_subspaces(emb.filter(F.col("vec_id") == 0)).select(
        "m", F.col("sv").alias("psv")
    )
    dt = (
        cb.join(F.broadcast(probe_sub), "m")
        .select(
            "m",
            "code",
            F.floor(_pq_d2(F.col("psv"), F.col("cw")) * 10000 + F.lit(0.5))
            .cast("long")
            .alias("pd2i"),
        )
    )
    shortlist = (
        codes.join(F.broadcast(dt), ["m", "code"])
        .groupBy("vec_id")
        .agg((F.sum("pd2i") / 10000.0).alias("adc_dist"))
        .filter(F.col("vec_id") != 0)
        .orderBy(F.col("adc_dist"), F.col("vec_id"))
        .limit(PQ_RERANK)
        .select("vec_id")
    )
    probe = _probe(emb)
    pair_sim = _dot(F.col("embedding"), F.col("p")) / (F.col("nrm") * F.col("pn"))
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(probe))
        .select("vec_id", r4(pair_sim).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(RECALL_K)
    )


@register("q_llm_ann_pq", oracle=_PQ_TOP_SQL, tags=("llm", "similarity"))
def q_llm_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-10 for probe vec_id=0, exact-re-ranked.

    The probe is NOT quantized (asymmetric): its exact distance to
    every refined codeword forms a PQ_M×PQ_K lookup table (broadcast),
    and a stored vector's approximate distance is the sum of its PQ_M
    table entries — integer adds over the codes table, no float
    arrays touched at query time. Partial distances cross engines as
    exact 1e-4-scaled integers so the sum is order-free.

    The ADC pass produces a PQ_RERANK shortlist (TakeOrdered on the
    integer sums, vec_id tiebreak — cross-engine exact), and only the
    shortlist is re-scored with the exact cosine against the raw
    embeddings (a broadcast of 100 ids — the corpus's float arrays
    are touched for exactly PQ_RERANK rows). This is Jégou's IVFADC+R
    refinement step; without it, quantized-L2 ordering caps recall@10
    at 0.1 on the 100k-vector corpus twin.

    Codebook training + encoding run INSIDE this query — the
    correctness-baseline form. The scale form is
    q_llm_ann_pq_indexed, which reads the same codes from the
    materialized index and pays only LUT + ADC scan + re-rank."""
    codes, cb = pq_encode(spark, sf_dir)
    return _pq_adc_topk(spark, sf_dir, codes, cb)


def build_pq_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the PQ index: codes (vec_id, m, code — ~2% of the
    embedding bytes) and the refined codebook (PQ_M×PQ_K rows of
    array<double>) written ONCE, as the ``codes`` and ``codebook``
    components of one snapshot commit. This is the offline build the r6
    verdict priced: training inside the query costs ~51–79 s per
    lookup at the 1M-vector corpus; amortized here it runs once per
    corpus snapshot and every query pays only LUT + integer-ADC scan.
    Built once per source fingerprint (``cached_index``)."""

    def build(path: str) -> None:
        codes, cb = pq_encode(spark, sf_dir)
        Engine._create(spark, path, ["component"], codes=codes, codebook=cb)

    return cached_index(spark, "pq", "embeddings", sf_dir, build)


@register(
    "q_llm_ann_pq_indexed",
    oracle=_PQ_TOP_SQL,
    tags=("llm", "similarity", "source"),
)
def q_llm_ann_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-10 over the MATERIALIZED index — the scale form of
    q_llm_ann_pq (same answer, same oracle).

    q_llm_ann_pq trains the codebook and encodes the corpus in-plan on
    every call; here both are an offline index build
    (``build_pq_index``) and the query side is: subspace-split the
    probe, broadcast-join it against the ≤ PQ_M×PQ_K codebook rows to
    form the ADC lookup table, sum table entries over the integer
    codes table (never touching a float array of the corpus), and
    exact-re-rank only the PQ_RERANK shortlist. At 100 TB the codes
    table is the only corpus-sized input and it is ~2% of the
    embedding bytes."""
    t = SnapshotTable(spark, build_pq_index(spark, sf_dir))
    codes = Engine._component(t, "codes").select("vec_id", "m", "code")
    cb = Engine._component(t, "codebook").select("m", "code", "cw")
    return _pq_adc_topk(spark, sf_dir, codes, cb)


# ------------------------------------------------------------- IVF-PQ
# The composed billion-vector architecture (Jégou's IVFADC): IVF's
# coarse quantizer routes each vector to a cluster, PQ encodes the
# RESIDUAL (vector − centroid) — residuals concentrate near the origin,
# so the same codebook budget quantizes them with less error than raw
# vectors — and a query ADC-scans only the nprobe probed clusters'
# codes. Scale shape: the IVF half prunes (scan fraction ≈ nprobe/K,
# directory-level with the materialized layout), the PQ half compresses
# (codes ≈ 2% of embedding bytes); shuffles move codes and the
# M×K codebook, never raw vectors.

IVFPQ_NPROBE = IVF_NPROBE

_IVFPQ_TOP_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), ms AS (
  SELECT unnest(generate_series(0, {PQ_M - 1})) AS m
), cent AS (
  SELECT vec_id AS cid, embedding AS c, CAST(embedding AS DOUBLE[]) AS cd
  FROM embeddings WHERE vec_id < {IVF_K}
), csims AS (
  SELECT e2.vec_id, cent.cid,
         {_DUCK_R4COS.format(a='e2.embedding', b='cent.c')} AS csim
  FROM embeddings e2 CROSS JOIN cent
), clusters AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
    FROM csims
  ) WHERE rn = 1
), cmean AS (
  -- residuals are taken against the per-cluster MEAN, not the seed
  -- vector: seeds are arbitrary unit corpus points, so |x - seed| ~ 1
  -- and residual PQ would gain nothing (measured: recall 0.3 vs 0.6);
  -- against the mean the residuals concentrate near the origin.
  -- Means are r4-rounded so both engines subtract identical values.
  SELECT cid, list(cv ORDER BY pos) AS mu FROM (
    SELECT cl.cid, t.i AS pos,
           floor(avg(e.emb[t.i]) * 10000 + 0.5) / 10000 AS cv
    FROM e JOIN clusters cl USING (vec_id),
         LATERAL (SELECT unnest(generate_series(1, {PQ_M * PQ_SUB})) AS i) t
    GROUP BY 1, 2
  ) GROUP BY cid
), resid AS (
  SELECT e.vec_id, cl.cid,
         list_transform(generate_series(1, {PQ_M * PQ_SUB}),
                        i -> e.emb[i] - cm.mu[i]) AS r
  FROM e JOIN clusters cl USING (vec_id) JOIN cmean cm ON cl.cid = cm.cid
), sub AS (
  SELECT vec_id, cid, m, r[m * {PQ_SUB} + 1 : (m + 1) * {PQ_SUB}] AS sv
  FROM resid, ms
), cb0 AS (
  SELECT vec_id AS code, m, sv AS cw FROM sub WHERE vec_id < {PQ_K}
), codes0 AS {_pq_assign_sql('cb0')}
, flat0 AS (
  SELECT c.m, c.code, t.i AS pos, s.sv[t.i] AS val
  FROM codes0 c JOIN sub s ON c.vec_id = s.vec_id AND c.m = s.m,
       LATERAL (SELECT unnest(generate_series(1, {PQ_SUB})) AS i) t
), cb1 AS (
  SELECT m, code, list(cv ORDER BY pos) AS cw FROM (
    SELECT m, code, pos, floor(avg(val) * 10000 + 0.5) / 10000 AS cv
    FROM flat0 GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
), codes AS {_pq_assign_sql('cb1')}
, codesc AS (
  SELECT c.vec_id, cl.cid, c.m, c.code
  FROM codes c JOIN clusters cl USING (vec_id)
), probe_clusters AS (
  SELECT cid FROM (
    SELECT cid, row_number() OVER (ORDER BY csim DESC, cid) AS rn
    FROM csims WHERE vec_id = 0
  ) WHERE rn <= {IVFPQ_NPROBE}
), presid AS (
  SELECT cm.cid,
         list_transform(generate_series(1, {PQ_M * PQ_SUB}),
                        i -> pe.emb[i] - cm.mu[i]) AS pr
  FROM (SELECT emb FROM e WHERE vec_id = 0) pe
  CROSS JOIN cmean cm
  JOIN probe_clusters pc ON cm.cid = pc.cid
), psub AS (
  SELECT cid, m, pr[m * {PQ_SUB} + 1 : (m + 1) * {PQ_SUB}] AS psv
  FROM presid, ms
), dt AS (
  SELECT psub.cid, cb1.m, cb1.code,
         CAST(floor({_PQ_D2.format(a='psub.psv', b='cb1.cw')} * 10000 + 0.5)
              AS BIGINT) AS pd2i
  FROM cb1 JOIN psub USING (m)
), adc AS (
  SELECT cc.vec_id, CAST(sum(dt.pd2i) AS DOUBLE) / 10000.0 AS adc_dist
  FROM codesc cc
  JOIN dt ON cc.cid = dt.cid AND cc.m = dt.m AND cc.code = dt.code
  GROUP BY cc.vec_id
), shortlist AS (
  SELECT vec_id FROM adc WHERE vec_id <> 0
  ORDER BY adc_dist, vec_id LIMIT {PQ_RERANK}
)
SELECT s.vec_id,
       floor(({_DUCK_COS.format(a='e2.embedding', b='pr.p')}) * 10000 + 0.5) / 10000 AS cos_sim
FROM shortlist s
JOIN embeddings e2 ON s.vec_id = e2.vec_id
CROSS JOIN (SELECT embedding AS p FROM embeddings WHERE vec_id = 0) pr
ORDER BY cos_sim DESC, s.vec_id LIMIT {RECALL_K}
"""


def ivfpq_encode(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(codes, codebook, cluster_means) for the IVF-PQ index: codes
    carry (vec_id, cluster, m, code); the codebook is trained on
    RESIDUALS (one sample-init + one Lloyd round, same discipline as
    pq_encode).

    Residuals are taken against the per-cluster MEAN, not the seed
    vector: seeds are arbitrary unit corpus points (|x − seed| ~ 1, so
    residual PQ would gain nothing — measured recall 0.3 vs 0.6), while
    mean-residuals concentrate near the origin, which is what lets the
    same codebook budget quantize them with less error. Means are
    r4-rounded so both engines subtract identical values; their
    aggregate is K×dim groups — map-side combined, constant size.

    The assignment frame is lazily checkpointed: it feeds the mean
    aggregate, codebook init, the Lloyd update, and the final encode,
    and without the checkpoint each consumer would re-run the K-way
    centroid-scoring scan."""
    emb = with_norm(spread(load_tables(spark, sf_dir)["embeddings"], "vec_id"), "embedding")
    centroids = emb.filter(F.col("vec_id") < IVF_K)
    clustered = ivf_assign(emb, centroids).localCheckpoint(eager=False)
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    cmean = (
        clustered.select("cluster", F.posexplode(dbl).alias("p0", "val"))
        .groupBy("cluster", (F.col("p0") + 1).alias("pos"))
        .agg(r4(F.avg("val")).alias("cv"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias("mu")
        )
    )
    resid = (
        clustered.join(F.broadcast(cmean), "cluster")
        .select(
            "vec_id",
            "cluster",
            F.zip_with("embedding", "mu", lambda x, y: x.cast("double") - y).alias("r"),
        )
    )
    # residual subspaces feed four consumers (cb0, init assign, Lloyd
    # join, final encode) — checkpoint so the residual pipeline
    # (cluster scoring + mean join + subtraction + explode) runs once
    rsub = _pq_subspaces(resid, "r", extra=("cluster",)).localCheckpoint(
        eager=False
    )
    sub = rsub.select("vec_id", "m", "sv")
    cb0 = (
        sub.filter(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("code"), "m", F.col("sv").alias("cw"))
    )
    codes0 = _pq_assign(sub, cb0, carry_sv=True)
    cb1 = _lloyd_update(codes0, sub)
    return _pq_assign(rsub, cb1, keys=("vec_id", "cluster")), cb1, cmean


@register("q_llm_ann_ivfpq", oracle=_IVFPQ_TOP_SQL, tags=("llm", "similarity", "sketch"))
def q_llm_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (IVFADC) approximate top-10 for probe vec_id=0: coarse
    cluster pruning + residual-PQ ADC scoring.

    The probe picks its nprobe nearest IVF clusters, computes a
    RESIDUAL against each probed centroid, and builds one
    nprobe×M×K distance table (broadcast — constant size). A stored
    vector's approximate distance is the sum of its PQ_M table entries
    under its OWN cluster's probe residual — the inner join on
    (cluster, m, code) restricts the scan to the probed clusters'
    codes by construction. Partial distances cross engines as exact
    1e-4-scaled integers, so the sum is order-free. The ADC pass
    yields a PQ_RERANK shortlist that is exact-cosine re-ranked
    against the raw embeddings (Jégou's +R step — see q_llm_ann_pq;
    constant per-query work, restores recall at corpus scale)."""
    codes, cb, cmean = ivfpq_encode(spark, sf_dir)
    emb = with_norm(load_tables(spark, sf_dir)["embeddings"], "embedding")
    probe = _probe(emb)
    probed = _nearest_clusters(emb, probe, IVFPQ_NPROBE).join(
        F.broadcast(cmean.withColumnRenamed("cluster", "cid")), "cid"
    )
    return _ivfpq_adc_topk(emb, probe, probed, codes, cb)


def _ivfpq_adc_topk(
    emb: DataFrame, probe: DataFrame, probed: DataFrame, codes: DataFrame,
    cb: DataFrame,
) -> DataFrame:
    """IVF-PQ top-10 given the probed clusters — ``probed`` carries
    each probed cluster id ``cid``, its mean ``mu`` and the probe ``p``
    — and the residual codes + codebook (however sourced): the shared
    query back half of q_llm_ann_ivfpq (clusters probed in-plan) and
    q_llm_ann_ivfpq_indexed (clusters collected, codes read from the
    materialized index). The probe's residual against each probed
    cluster's mean (as the encode took it) forms one nprobe×M×K ADC
    table; the ADC shortlist is exact-cosine re-ranked."""
    pres = probed.select(
        "cid", F.zip_with("p", "mu", lambda x, y: x.cast("double") - y).alias("pr")
    )
    psub = _pq_subspaces(
        pres.withColumn("vec_id", F.lit(0)), "pr", extra=("cid",)
    ).select("cid", "m", F.col("sv").alias("psv"))
    dt = (
        cb.join(F.broadcast(psub), "m")
        .select(
            F.col("cid").alias("cluster"),
            "m",
            "code",
            F.floor(_pq_d2(F.col("psv"), F.col("cw")) * 10000 + F.lit(0.5))
            .cast("long")
            .alias("pd2i"),
        )
    )
    shortlist = (
        codes.join(F.broadcast(dt), ["cluster", "m", "code"])
        .groupBy("vec_id")
        .agg((F.sum("pd2i") / 10000.0).alias("adc_dist"))
        .filter(F.col("vec_id") != 0)
        .orderBy(F.col("adc_dist"), F.col("vec_id"))
        .limit(PQ_RERANK)
        .select("vec_id")
    )
    pair_sim = _dot(F.col("embedding"), F.col("p")) / (F.col("nrm") * F.col("pn"))
    return (
        spread(emb, "vec_id")
        .join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(probe))
        .select("vec_id", r4(pair_sim).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(RECALL_K)
    )


def build_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the IVFADC index in one snapshot commit: the
    residual-PQ ``codes`` partitioned on ``cluster`` (so a probe's
    nprobe-cluster ADC scan prunes by partition, the
    q_llm_ann_ivf_indexed layout), plus the constant ``codebook`` and
    the per-cluster means ``cmeans``. Offline build, once per corpus
    snapshot and source fingerprint (``cached_index``)."""

    def build(path: str) -> None:
        codes, cb, cmean = ivfpq_encode(spark, sf_dir)
        Engine._create(
            spark, path, ["component", "cluster"], codes=codes, codebook=cb, cmeans=cmean
        )

    return cached_index(spark, "ivfpq", "embeddings", sf_dir, build)


@register(
    "q_llm_ann_ivfpq_indexed",
    oracle=_IVFPQ_TOP_SQL,
    tags=("llm", "similarity", "sketch", "source"),
)
def q_llm_ann_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10 over the MATERIALIZED index — the scale form of
    q_llm_ann_ivfpq (same answer, same oracle), and the full
    billion-vector architecture: IVF prunes (the probe's nprobe
    cluster ids are collected as bounded driver scalars and become a
    literal IN-list over the ``cluster`` partition column: the
    manifest drops the other clusters' code files before the scan
    lists any, and the IN-list reaches the scan's PartitionFilters),
    PQ compresses (the pruned scan reads integer codes, ~2% of
    embedding bytes), and the exact re-rank touches float arrays for
    exactly PQ_RERANK rows."""
    t = SnapshotTable(spark, build_ivfpq_index(spark, sf_dir))
    emb = with_norm(load_tables(spark, sf_dir)["embeddings"], "embedding")
    probe = _probe(emb)
    cids = _probed_cluster_ids(emb, probe, IVFPQ_NPROBE)
    codes = Engine._component(t, "codes", ("cluster", cids))
    cmean = Engine._component(t, "cmeans", ("cluster", cids))
    probed = probe.crossJoin(
        F.broadcast(cmean.select(F.col("cluster").alias("cid"), "mu"))
    )
    return _ivfpq_adc_topk(
        emb, probe, probed, codes.select("vec_id", "cluster", "m", "code"),
        Engine._component(t, "codebook").select("m", "code", "cw"),
    )


# --------------------------------------------------------- ANN recall
# IVF and LSH are deterministic, but determinism says nothing about
# QUALITY — the number a user tuning nprobe / n_planes actually needs
# is recall@k against the exact answer. Computed as a checked query so
# an index-parameter regression fails the oracle gate like any other
# bug.

# Multi-probe radius: also scan buckets whose signature is within this
# Hamming distance of the probe's — the standard LSH recall/scan-cost
# knob. Radius 2 over 8 planes = 37 of 256 buckets (~14% of a uniform
# corpus) — measured recall at this operating point is what the pinned
# test bound protects.
LSH_PROBE_RADIUS = 2

_RECALL_ORACLE = f"""
WITH brute AS ({_TOPK_ORACLE}),
ivf AS ({_IVF_ORACLE}),
pq AS ({_PQ_TOP_SQL}),
ivfpq AS ({_IVFPQ_TOP_SQL}),
b AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
  FROM embeddings
),
probe AS (SELECT embedding AS p, bucket AS pbucket FROM b WHERE vec_id = 0),
lshtop AS (
  SELECT bb.vec_id
  FROM b bb, probe
  WHERE bit_count(xor(bb.bucket, probe.pbucket)) <= {LSH_PROBE_RADIUS}
    AND bb.vec_id <> 0
  ORDER BY floor(({_DUCK_COS.format(a='bb.embedding', b='probe.p')}) * 10000 + 0.5) / 10000 DESC,
           bb.vec_id
  LIMIT {RECALL_K}
)
SELECT 'ivf' AS method, CAST({RECALL_K} AS INT) AS k,
       floor((SELECT count(*) FROM ivf JOIN brute USING (vec_id)) / {RECALL_K}.0 * 10000 + 0.5) / 10000 AS recall
UNION ALL
SELECT 'lsh_multiprobe' AS method, CAST({RECALL_K} AS INT) AS k,
       floor((SELECT count(*) FROM lshtop JOIN brute USING (vec_id)) / {RECALL_K}.0 * 10000 + 0.5) / 10000 AS recall
UNION ALL
SELECT 'pq' AS method, CAST({RECALL_K} AS INT) AS k,
       floor((SELECT count(*) FROM pq JOIN brute USING (vec_id)) / {RECALL_K}.0 * 10000 + 0.5) / 10000 AS recall
UNION ALL
SELECT 'ivfpq' AS method, CAST({RECALL_K} AS INT) AS k,
       floor((SELECT count(*) FROM ivfpq JOIN brute USING (vec_id)) / {RECALL_K}.0 * 10000 + 0.5) / 10000 AS recall
"""


@register("q_llm_ann_recall", oracle=_RECALL_ORACLE, tags=("llm", "similarity", "sketch"))
def q_llm_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the IVF and multi-probe-LSH indexes against the
    brute-force exact top-10 on the same probe (vec_id = 0).

    IVF candidates are q_llm_ann_ivf's own top-10; LSH candidates are
    the members of every bucket within Hamming ≤ LSH_PROBE_RADIUS of
    the probe's signature (multi-probe LSH — the knob that trades scan
    fraction for recall; single-bucket probing on this fixture's
    similarity range measures ~0, which is itself the reason recall
    must be a checked number, not an assumption). Every candidate set
    is ≤ k rows by the time it reaches the recall join, so those joins
    broadcast. tests pin the measured bounds so an index-parameter
    change that silently degrades retrieval quality fails CI.
    """
    brute = q_llm_cosine_topk(spark, sf_dir).select("vec_id")
    ivf = q_llm_ann_ivf(spark, sf_dir).select("vec_id")

    emb = with_norm(
        spread(load_tables(spark, sf_dir)["embeddings"], "vec_id"), "embedding"
    ).select("vec_id", "embedding", "nrm")  # lsh_bucket is an opaque
    # kernel (r12): prune BEFORE it, and bucket the 1-row probe side
    # from the pre-filtered frame so the filter isn't stuck above the
    # kernel pass
    bucketed = lsh_bucket(emb)
    pb = lsh_bucket(emb.filter(F.col("vec_id") == 0)).select(
        F.col("bucket").alias("pbucket"),
        F.col("embedding").alias("p"),
        F.col("nrm").alias("pn"),
    )
    pair_sim = _dot(F.col("embedding"), F.col("p")) / (F.col("nrm") * F.col("pn"))
    hamming = F.bit_count(F.col("bucket").bitwiseXOR(F.col("pbucket")))
    lsh_top = (
        bucketed.crossJoin(F.broadcast(pb))
        .filter((hamming <= LSH_PROBE_RADIUS) & (F.col("vec_id") != 0))
        .select("vec_id", r4(pair_sim).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(RECALL_K)
        .select("vec_id")
    )

    def rec(method: str, cand: DataFrame) -> DataFrame:
        return (
            cand.join(F.broadcast(brute), "vec_id", "left_semi")
            .agg(r4(F.count("*") / float(RECALL_K)).alias("recall"))
            .select(
                F.lit(method).alias("method"),
                F.lit(RECALL_K).cast("int").alias("k"),
                "recall",
            )
        )

    pq = q_llm_ann_pq(spark, sf_dir).select("vec_id")
    ivfpq = q_llm_ann_ivfpq(spark, sf_dir).select("vec_id")
    return (
        rec("ivf", ivf)
        .unionByName(rec("lsh_multiprobe", lsh_top))
        .unionByName(rec("pq", pq))
        .unionByName(rec("ivfpq", ivfpq))
    )


_QUANT_ORACLE = """
WITH scaled AS (
    SELECT vec_id,
           greatest(list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                            x -> abs(x))), 1e-12) / 127.0 AS scale
    FROM embeddings
), quant AS (
    SELECT e.vec_id, s.scale,
           list_transform(CAST(e.embedding AS DOUBLE[]),
                          x -> CAST(floor(x / s.scale + 0.5) AS BIGINT)) AS q
    FROM embeddings e JOIN scaled s ON e.vec_id = s.vec_id
)
SELECT vec_id,
       floor(scale * 10000 + 0.5) / 10000 AS scale4,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       list_min(q) AS q_min,
       list_max(q) AS q_max
FROM quant
"""


@register("q_vec_quantize", oracle=_QUANT_ORACLE, tags=("llm", "similarity"))
def q_vec_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of every embedding.

    Per-vector absmax scaling (scale = max|x|/127), half-up rounding
    spelled as floor(x/scale + 0.5) so both engines round identically.
    The compression stage of a 100 TB vector store: 4× smaller than
    float32, and the IVF/LSH candidate stages (q_llm_ann_*) can score
    int8 first and re-rank the survivors in float. All list math is
    JVM higher-order functions — no Python, no shuffle (per-row op).
    """
    emb = spread(load_tables(spark, sf_dir)["embeddings"], "vec_id")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    maxabs = F.aggregate(
        dbl, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v))
    )
    scale = F.greatest(maxabs, F.lit(1e-12)) / 127.0
    with_scale = emb.select("vec_id", dbl.alias("e"), scale.alias("scale"))
    quant = F.transform(
        F.col("e"),
        lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("long"),
    )
    return with_scale.select(
        "vec_id",
        r4(F.col("scale")).alias("scale4"),
        F.aggregate(quant, F.lit(0).cast("long"), lambda a, v: a + v).alias("q_sum"),
        F.array_min(quant).alias("q_min"),
        F.array_max(quant).alias("q_max"),
    )


HYBRID_K = 5
HYBRID_LANG = "en"

_HYBRID_ORACLE = f"""
WITH probe AS (
    SELECT embedding AS p FROM embeddings WHERE vec_id = 0
),
cand AS (
    SELECT d.doc_id, d.lang, d.source, e.embedding
    FROM documents d
    JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE d.lang = '{HYBRID_LANG}' AND d.doc_id <> 0
),
scored AS (
    SELECT c.doc_id, c.source,
           floor(({_DUCK_COS.format(a='c.embedding', b='probe.p')}) * 10000 + 0.5)
               / 10000 AS cos_sim
    FROM cand c CROSS JOIN probe
)
SELECT doc_id, source, cos_sim
FROM scored
ORDER BY cos_sim DESC, doc_id
LIMIT {HYBRID_K}
"""


@register("q_llm_hybrid_search", oracle=_HYBRID_ORACLE, tags=("llm", "similarity", "join"))
def q_llm_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: metadata filter + vector ranking in one plan —
    keep only English documents, then rank by cosine similarity to the
    probe vector (vec_id 0) and return the top-5. This is the RAG
    retrieval shape: the relational predicate prunes BEFORE any vector
    math runs (filter pushes to the documents scan; the embedding join
    only sees surviving doc_ids), so the expensive similarity is
    computed on the filtered candidate set, not the corpus.

    Ranking is on the rounded score with a doc_id tiebreak → total
    order on both engines. The probe is a one-row broadcast. The final
    top-K is ``orderBy().limit()`` → ``TakeOrderedAndProject`` (a
    per-partition K-row heap merged on the driver), NOT a global
    ``row_number`` window — at 100 TB the window form would sort the
    entire filtered corpus on one partition.
    """
    t = load_tables(spark, sf_dir)
    probe = (
        t["embeddings"].filter(F.col("vec_id") == 0).select(F.col("embedding").alias("p"))
    )
    cand = (
        t["documents"]
        .filter((F.col("lang") == HYBRID_LANG) & (F.col("doc_id") != 0))
        .select("doc_id", "source")
        .join(
            t["embeddings"].select(F.col("vec_id").alias("doc_id"), "embedding"),
            "doc_id",
        )
    )
    scored = cand.crossJoin(F.broadcast(probe)).select(
        "doc_id", "source",
        r4(cosine(F.col("embedding"), F.col("p"))).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("doc_id")).limit(HYBRID_K)


_CENTROID_ORACLE = """
WITH flat AS (
    SELECT label, t.i AS pos, CAST(embedding[t.i] AS DOUBLE) AS val
    FROM embeddings,
         LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t
)
SELECT label, CAST(pos AS BIGINT) AS pos,
       floor(avg(val) * 10000 + 0.5) / 10000 AS centroid_val,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM flat GROUP BY label, pos
"""


@register("q_vec_centroid", oracle=_CENTROID_ORACLE, tags=("llm", "similarity", "agg"))
def q_vec_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (element-wise mean over the
    64-dim vectors) — the k-means/class-prototype primitive, in long
    form (label, pos, value). ``posexplode`` is a narrow row expansion
    (×dim, no shuffle to generate); the mean partial-aggregates
    map-side onto |labels|×dim groups, so shuffle volume is the
    centroid matrix, never the corpus. At 100 TB this is exactly the
    E-step plan: one linear scan per iteration."""
    emb = spread(load_tables(spark, sf_dir)["embeddings"], "vec_id")
    flat = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("p0", "val")
    ).select("label", (F.col("p0") + 1).alias("pos"), "val")
    return flat.groupBy("label", "pos").agg(
        r4(F.avg("val")).alias("centroid_val"),
        F.count("*").cast("long").alias("n_vecs"),
    )


_KMEANS_ORACLE = f"""
WITH cent AS (
    SELECT label AS c_label, pos, centroid_val
    FROM ({_CENTROID_ORACLE}) c0
),
d AS (
    SELECT e.vec_id, e.label AS old_label, c.c_label AS cand,
           floor(sum(pow(CAST(e.embedding[c.pos] AS DOUBLE) - c.centroid_val, 2))
                 * 100000000 + 0.5) / 100000000 AS dist2
    FROM embeddings e JOIN cent c ON true
    GROUP BY 1, 2, 3
),
best AS (
    SELECT vec_id, old_label, cand AS new_label, dist2,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cand) AS rn
    FROM d
)
SELECT new_label,
       CAST(count(*) AS BIGINT) AS n_assigned,
       floor(avg(sqrt(dist2)) * 10000 + 0.5) / 10000 AS avg_dist,
       CAST(sum(CASE WHEN old_label <> new_label THEN 1 ELSE 0 END) AS BIGINT)
           AS n_moved
FROM best WHERE rn = 1
GROUP BY new_label
"""


def _km_assign(
    df: DataFrame, cent: DataFrame, keys: tuple[str, ...] = ("vec_id",)
) -> DataFrame:
    """(*keys, cand, dist2): nearest centroid by squared L2 — the
    k-means assignment step as an Arrow-batched numpy kernel.

    ``cent`` is the bounded (cand, c) centroid table (k rows): it is
    collected once and captured by the kernel, which computes the
    (rows × k) distance matrix per batch in vectorized native code.
    The former crossJoin(broadcast) + row_number form replicated every
    vector k ways through the argmin window's hash exchange
    (|vecs|×k rows carrying nothing useful — the whole exchange
    existed to rank k numbers per vector) and paid k interpreted
    zip_with/aggregate folds per row. Here nothing shuffles and the
    scan stays narrow (guide §2.4/§4.2).

    Bit-compatibility: dist2 is the ordered ``sq_dists`` fold of
    kernels.py (the zip_with + fold order), rounds r8, and ties keep
    the LOWEST candidate: ``K.constant`` sorts the centroids by cand
    and ``argmin`` keeps the first minimum — the oracle's
    row_number(dist2, cand) order. (The
    oracle's own sum is an unordered SQL aggregate; the r8 rounding
    that made the previous fold match it covers this kernel
    identically.)"""
    # bounded: k centroid rows (the former broadcast)
    cands, cmat = K.constant(cent, "cand", "c")
    out_schema = T.StructType(
        [df.schema[k] for k in keys]
        + [
            T.StructField("cand", cent.schema["cand"].dataType, True),
            T.StructField("dist2", T.DoubleType(), True),
        ]
    )

    def assign_batches(batch):
        dist2 = K.rnd(K.sq_dists(K.matrix(batch.column(len(keys))), cmat), 8)
        idx = np.argmin(dist2, axis=1)
        return [*batch.columns[:len(keys)], cands[idx], dist2[np.arange(len(idx)), idx]]

    return K.map_kernel(df, [*keys, "e"], assign_batches, out_schema)


@register("q_ml_kmeans_step", oracle=_KMEANS_ORACLE, tags=("llm", "similarity", "agg"))
def q_ml_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full k-means iteration over the embeddings: label centroids
    (q_vec_centroid, the update step) → nearest-centroid reassignment
    (the assignment step) → movement report per new cluster.

    The centroid table (k rows) is a bounded constant consumed by the
    ``_km_assign`` numpy kernel: distances are rounded to 8 decimals
    before the argmin so the winner matches the oracle's unordered SQL
    sum, and the corpus is never replicated k ways (see the kernel's
    docstring for the exchange it removes). At 100 TB this is the
    per-iteration plan of distributed k-means: one bounded collect,
    one linear scan, one |k|-row aggregate — iterate with the driver
    loop exactly like PageRank.
    """
    emb = spread(load_tables(spark, sf_dir)["embeddings"], "vec_id").select(
        "vec_id", F.col("label").alias("old_label"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    cent = (
        q_vec_centroid(spark, sf_dir)
        .groupBy(F.col("label").alias("cand"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))),
                lambda s: s.centroid_val,
            ).alias("c")
        )
    )
    best = _km_assign(emb, cent, keys=("vec_id", "old_label"))
    return best.groupBy(F.col("cand").alias("new_label")).agg(
        F.count("*").cast("long").alias("n_assigned"),
        r4(F.avg(F.sqrt("dist2"))).alias("avg_dist"),
        F.sum((F.col("old_label") != F.col("cand")).cast("long")).alias("n_moved"),
    )


# ------------------------------------------------- k-means training
# Full Lloyd's loop (not just one step): N iterations of update →
# assign from the fixture's initial labels, unrolled in the DuckDB
# oracle exactly like graph.py's PageRank — so the *training loop*,
# not just its step, is hash-checked. Centroid means are r4-rounded
# and distances r8-rounded on BOTH sides each iteration, making every
# argmin tie-free and engine-independent.

KMEANS_ITER = 3


def _kmeans_train_oracle(n_iter: int = KMEANS_ITER) -> str:
    sql = """
WITH e AS (
    SELECT vec_id, embedding, label FROM embeddings
),
a0 AS (SELECT vec_id, label, CAST(0.0 AS DOUBLE) AS dist2 FROM e)"""
    prev = "a0"
    for i in range(1, n_iter + 1):
        sql += f""",
cent{i} AS (
    SELECT a.label AS c_label, t.i AS pos,
           floor(avg(CAST(e.embedding[t.i] AS DOUBLE)) * 10000 + 0.5) / 10000 AS v
    FROM {prev} a
    JOIN e ON a.vec_id = e.vec_id,
    LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) t
    GROUP BY 1, 2
),
d{i} AS (
    SELECT e.vec_id, c.c_label AS cand,
           floor(sum(pow(CAST(e.embedding[c.pos] AS DOUBLE) - c.v, 2))
                 * 100000000 + 0.5) / 100000000 AS dist2
    FROM e JOIN cent{i} c ON true
    GROUP BY 1, 2
),
a{i} AS (
    SELECT vec_id, cand AS label, dist2 FROM (
        SELECT vec_id, cand, dist2,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cand) AS rn
        FROM d{i}
    ) WHERE rn = 1
)"""
        prev = f"a{i}"
    sql += f"""
SELECT label AS cluster,
       CAST(count(*) AS BIGINT) AS n_vecs,
       floor(avg(sqrt(dist2)) * 10000 + 0.5) / 10000 AS avg_dist,
       floor(sum(dist2) * 10000 + 0.5) / 10000 AS inertia
FROM {prev} GROUP BY label
"""
    return sql


@register(
    "q_ml_kmeans_train",
    oracle=_kmeans_train_oracle(),
    tags=("llm", "similarity", "agg", "graph"),
)
def q_ml_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three full Lloyd iterations over the embeddings from the
    fixture's initial labels: per-label centroid means (r4) →
    broadcast → per-vector argmin reassignment (r8 distances), labels
    checkpointed per round so the plan stays one-step deep — the
    driver-loop iterative-training pattern shared with PageRank and
    connected components, here with the whole LOOP hash-checked
    against an unrolled SQL derivation. Final report: cluster sizes,
    mean distance, inertia.
    """
    emb0 = spread(load_tables(spark, sf_dir)["embeddings"], "vec_id").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        F.col("label").cast("long").alias("label"),
    ).localCheckpoint(eager=False)
    vecs = emb0.select("vec_id", "e")
    labels = emb0.select("vec_id", "label", F.lit(0.0).alias("dist2"))
    for _ in range(KMEANS_ITER):
        flat = (
            vecs.join(labels.select("vec_id", "label"), "vec_id")
            .select("label", F.posexplode("e").alias("p0", "val"))
            .select("label", (F.col("p0") + 1).alias("pos"), "val")
        )
        cent = (
            flat.groupBy("label", "pos")
            .agg(r4(F.avg("val")).alias("v"))
            .groupBy(F.col("label").alias("cand"))
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))),
                    lambda s: s.v,
                ).alias("c")
            )
        )
        labels = (
            _km_assign(vecs, cent)
            .select("vec_id", F.col("cand").alias("label"), "dist2")
            .localCheckpoint(eager=True)
        )
    return labels.groupBy(F.col("label").alias("cluster")).agg(
        F.count("*").cast("long").alias("n_vecs"),
        r4(F.avg(F.sqrt("dist2"))).alias("avg_dist"),
        r4(F.sum("dist2")).alias("inertia"),
    )


# ------------------------------------------------ matryoshka prefix
# Matryoshka representation truncation (Kusupati et al., "Matryoshka
# Representation Learning", NeurIPS 2022): MRL-trained embeddings rank
# usefully under PREFIX truncation, so retrieval runs on the first
# MRL_DIMS dims at (dims/full) the compute and memory — the standard
# cheap first pass in front of a full-dim re-rank. The fixture's
# synthetic embeddings are not MRL-trained, which is exactly why the
# recall number is a CHECKED measurement beside IVF/LSH/PQ rather
# than an assumption. Scale shape: identical to cosine_topk — probe
# broadcast, one corpus scan, TakeOrderedAndProject — at one quarter
# of the per-row HOF work.

MRL_DIMS = 16

_MRL_SLICE_SPARK = (
    f"transform(slice(embedding, 1, {MRL_DIMS}), x -> cast(x as double))"
)
_MRL_SLICE_DUCK = "(CAST({e} AS DOUBLE[]))[1:{d}]"

_MRL_ORACLE = f"""
WITH t AS (
  SELECT vec_id, {_MRL_SLICE_DUCK.format(e='embedding', d=MRL_DIMS)} AS v
  FROM embeddings
), probe AS (SELECT v AS p FROM t WHERE vec_id = 0)
SELECT vec_id,
       floor(({_DUCK_COS.format(a='t.v', b='probe.p')}) * 10000 + 0.5) / 10000
           AS cos_sim
FROM t CROSS JOIN probe
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id
LIMIT {RECALL_K}
"""


@register("q_llm_ann_mrl", oracle=_MRL_ORACLE, tags=("llm", "similarity"))
def q_llm_ann_mrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncated top-10: cosine over the first MRL_DIMS
    dims only. Same plan as the full-dim brute force at dims/full the
    cost; its recall vs the full-dim answer is measured in the pinned
    tests (not assumed — the fixture embeddings are not MRL-trained)."""
    emb = spread(load_tables(spark, sf_dir)["embeddings"], "vec_id").select(
        "vec_id", F.expr(_MRL_SLICE_SPARK).alias("v")
    )
    emb = emb.withColumn("nrm", _norm(F.col("v")))
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("p"), F.col("nrm").alias("pn")
    )
    sim = _dot(F.col("v"), F.col("p")) / (F.col("nrm") * F.col("pn"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", r4(sim).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(RECALL_K)
    )
