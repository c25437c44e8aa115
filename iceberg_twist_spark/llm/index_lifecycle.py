"""Incremental-index lifecycle as ORACLE-CHECKED queries.

``Engine.build_minhash_index`` / ``minhash_index_append`` and
``build_pq_ann_index`` / ``pq_index_append`` (api.py) are the 100 TB
daily-ingest story: a new batch is signed/encoded and appended, the
stored corpus is read but never re-signed. Until r8 they were only
unit-tested; these two queries put the whole lifecycle under the
driver's hash gate by asserting the equivalence each append API
guarantees, computed end-to-end through the REAL facade:

- MinHash: append(base, delta) ≡ rebuild(base ∪ delta) EXACTLY — band
  hashing is a pure per-document function, so the banded pair set of
  the appended index must hash-match DuckDB banding the full corpus.
- PQ: the codebook is trained on the BASE snapshot and FROZEN; append
  encodes the delta against it (the documented trade — retrain per
  major snapshot, append between). The oracle replicates exactly that:
  codebook trained on base, every vector encoded against it, ADC +
  exact re-rank for the standard probe.

Both queries follow the q_mv_incremental pattern (assert the
incremental path against the from-scratch oracle on the same fixture).
The retraction queries below check remove(append(base, delta), delta)
≡ build(base) the same way. Every index is one ``SnapshotTable``, so
each verb the queries run is one snapshot commit, and the stored
bands are read back only through ``Engine.read_minhash_bands`` (the
snapshot layer's reader, removes applied). Each query builds its
index once through ``llm.similarity.cached_index``: the directory is
keyed by the source table's content fingerprint and the layout version,
so a regenerated fixture or an older layout is never served, and the
index counts as built only once its table carries the ``built`` tag,
created after the chain's last commit — a re-run reuses it, a crashed
chain's directory is removed and rebuilt.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_twist_spark.api import Engine
from iceberg_twist_spark.catalog import load_tables
from iceberg_twist_spark.llm.dedup import (
    LSH_BANDS,
    _minhash_oracle,
    band_pairs_from_rows,
)
from iceberg_twist_spark.llm.similarity import (
    IVF_K,
    IVF_NPROBE,
    PQ_K,
    PQ_M,
    PQ_RERANK,
    PQ_SUB,
    RECALL_K,
    _DUCK_COS,
    _DUCK_R4COS,
    _PQ_D2,
    _source_fingerprint,
    cached_index,
)
from iceberg_twist_spark.registry import register

# delta = every DELTA_MOD-th key (includes key 0 — the standard probe
# arrives in the APPENDED batch, exercising the frozen-codebook path)
DELTA_MOD = 5

# tau = 0.9 derives the 4×4 banding (lsh_params), which is exactly the
# registered queries' default — so the rebuild oracle IS the proven
# q_llm_minhash_dedup SQL.
MINHASH_APPEND_TAU = 0.9


def _split(df: DataFrame, key: str) -> tuple[DataFrame, DataFrame]:
    """(base, delta): the rows whose ``key`` is not / is a multiple of
    DELTA_MOD."""
    return df.filter(F.col(key) % DELTA_MOD != 0), df.filter(F.col(key) % DELTA_MOD == 0)


def _probe_vec(emb: DataFrame) -> list[float]:
    """The standard probe (vec_id 0) as a literal vector."""
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]


@register(
    "q_llm_minhash_index_append",
    oracle=_minhash_oracle(n_bands=LSH_BANDS),
    tags=("llm", "dedup", "source"),
)
def q_llm_minhash_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """append(base, delta) ≡ rebuild(base ∪ delta) for the MinHash/LSH
    index: build the index over 80% of the corpus, append the other
    20% through ``Engine.minhash_index_append`` (band count read from
    the stored metadata), then self-join the STORED banding rows — the
    resulting candidate pairs must hash-match DuckDB banding the full
    corpus from scratch. Exercises the real facade write path; the
    query side reads only the on-disk index (the daily-ingest shape:
    sign the increment, never re-sign the corpus)."""
    base, delta = _split(
        load_tables(spark, sf_dir)["documents"].select("doc_id", "text"), "doc_id"
    )

    def build(path: str) -> None:
        Engine.build_minhash_index(base, "text", "doc_id", path, tau=MINHASH_APPEND_TAU)
        Engine.minhash_index_append(delta, "text", "doc_id", path)

    path = cached_index(spark, "mhappend", "documents", sf_dir, build)
    return band_pairs_from_rows(Engine.read_minhash_bands(spark, path))


def _pqa_assign_sql(cb: str, src: str) -> str:
    """argmin-codeword assignment of ``src`` subvectors vs codebook
    ``cb`` — the q_llm_ann_pq oracle's assignment block with the
    subvector source parameterized (base-only for training, full for
    the encode that build+append jointly produce)."""
    return f"""(
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, {cb}.code,
           row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
             floor({_PQ_D2.format(a='s.sv', b=cb + '.cw')} * 10000 + 0.5) / 10000,
             {cb}.code) AS rn
    FROM {src} s JOIN {cb} USING (m)) WHERE rn = 1)"""


# The q_llm_ann_pq oracle with the TRAINING restricted to the base
# snapshot (vec_id % DELTA_MOD != 0): seed codewords are the base's
# PQ_K smallest keys coded dense 0..K-1 in key order (the facade's
# seed_map), the Lloyd update averages base subvectors only, and the
# final encode covers ``encode_src`` against that frozen codebook —
# 'sub' (every vector) is precisely the state build(base) +
# append(delta) leaves on disk; 'bsub' (base only) is the state after
# the delta is RETRACTED again (remove ≡ never appended).
def _pqa_oracle(encode_src: str) -> str:
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), ms AS (
  SELECT unnest(generate_series(0, {PQ_M - 1})) AS m
), sub AS (
  SELECT vec_id, m,
         emb[m * {PQ_SUB} + 1 : (m + 1) * {PQ_SUB}] AS sv
  FROM e, ms
), bsub AS (
  SELECT * FROM sub WHERE vec_id % {DELTA_MOD} != 0
), seeds AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
  FROM (SELECT DISTINCT vec_id FROM bsub ORDER BY vec_id LIMIT {PQ_K})
), cb0 AS (
  SELECT seeds.code, s.m, s.sv AS cw
  FROM seeds JOIN bsub s USING (vec_id)
), codes0 AS {_pqa_assign_sql('cb0', 'bsub')}
, flat0 AS (
  SELECT c.m, c.code, t.i AS pos, s.sv[t.i] AS val
  FROM codes0 c JOIN bsub s ON c.vec_id = s.vec_id AND c.m = s.m,
       LATERAL (SELECT unnest(generate_series(1, {PQ_SUB})) AS i) t
), cb1 AS (
  SELECT m, code, list(cv ORDER BY pos) AS cw FROM (
    SELECT m, code, pos, floor(avg(val) * 10000 + 0.5) / 10000 AS cv
    FROM flat0 GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
), codes AS {_pqa_assign_sql('cb1', encode_src)}
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
  SELECT vec_id FROM adc
  ORDER BY adc_dist, vec_id LIMIT {PQ_RERANK}
)
SELECT s.vec_id,
       floor(({_DUCK_COS.format(a='e2.embedding', b='pr.p')}) * 10000 + 0.5) / 10000 AS cos_sim
FROM shortlist s
JOIN embeddings e2 ON s.vec_id = e2.vec_id
CROSS JOIN (SELECT embedding AS p FROM embeddings WHERE vec_id = 0) pr
ORDER BY cos_sim DESC, s.vec_id LIMIT {RECALL_K}
"""


_PQA_ORACLE = _pqa_oracle("sub")


@register(
    "q_llm_pq_index_append",
    oracle=_PQA_ORACLE,
    tags=("llm", "similarity", "source"),
)
def q_llm_pq_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index append under the hash gate: build the index over 80%
    of the vectors (codebook trained on that snapshot), append the
    other 20% — probe included — through ``Engine.pq_index_append``
    (frozen codebook, geometry validated against the stored one), then
    answer the standard probe with ``Engine.pq_ann_search`` reading
    only the on-disk index. The oracle trains on the same base and
    encodes everything against it, so any drift in the append path
    (retraining, geometry slip, missed rows) breaks the hash."""
    emb = load_tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    base, delta = _split(emb, "vec_id")

    def build(path: str) -> None:
        Engine.build_pq_ann_index(base, "embedding", "vec_id", path)
        Engine.pq_index_append(delta, "embedding", "vec_id", path)

    path = cached_index(spark, "pqappend", "embeddings", sf_dir, build)
    return Engine.pq_ann_search(
        spark, path, _probe_vec(emb), k=RECALL_K, rerank=PQ_RERANK
    )


# ------------------------------------------------------------------
# Index RETRACTION — the third lifecycle verb (r8 verdict item #2).
# A real corpus takes deletions (takedowns, licence revocations) that
# must propagate to stored bands / codes / vectors. Each query runs
# the full verb chain through the real facade —
#     remove(append(build(base), delta), delta)
# — and its oracle is the from-scratch build over base alone, the
# exact mirror of the append family's append ≡ rebuild. The MinHash
# query retracts via a MERGE-ON-READ delete (the O(|keys|) online path:
# readers anti-join the delete file), the PQ and IVF queries also
# COMPACT (the physical-reclamation path: the deletes applied to the
# data files) — so the driver gate covers both mechanisms end-to-end.


@register(
    "q_llm_minhash_index_remove",
    oracle=_minhash_oracle(
        n_bands=LSH_BANDS, doc_where=f"doc_id % {DELTA_MOD} != 0"
    ),
    tags=("llm", "dedup", "source"),
)
def q_llm_minhash_index_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """remove(append(base, delta), delta) ≡ rebuild(base) for the
    MinHash/LSH index: build over 80% of the corpus, append the other
    20%, then RETRACT exactly that delta through
    ``Engine.minhash_index_remove`` (a merge-on-read delete — O(|keys|),
    no data rewrite). The delete-honoring band reader must then
    produce the banded pair set of the BASE snapshot alone, which the
    oracle derives from scratch — a band row or shingle array that
    survives retraction breaks the hash."""
    base, delta = _split(
        load_tables(spark, sf_dir)["documents"].select("doc_id", "text"), "doc_id"
    )

    def build(path: str) -> None:
        Engine.build_minhash_index(base, "text", "doc_id", path, tau=MINHASH_APPEND_TAU)
        Engine.minhash_index_append(delta, "text", "doc_id", path)
        Engine.minhash_index_remove(spark, path, delta.select("doc_id"))

    path = cached_index(spark, "mhremove", "documents", sf_dir, build)
    return band_pairs_from_rows(Engine.read_minhash_bands(spark, path))


_PQR_ORACLE = _pqa_oracle("bsub")


@register(
    "q_llm_pq_index_remove",
    oracle=_PQR_ORACLE,
    tags=("llm", "similarity", "source"),
)
def q_llm_pq_index_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """remove(append(base, delta), delta) ≡ rebuild(base) for the PQ
    index, via the PHYSICAL path: build over the 80% base (codebook
    frozen there), append the 20% delta, then retract the delta with
    ``compact=True`` — the index is rewritten without the removed ids
    and the older snapshots expire, so the on-disk state is
    equivalent to never having appended. The
    probe (vec_id 0, itself retracted) is searched as a literal; the
    oracle trains on base and encodes base only."""
    emb = load_tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    base, delta = _split(emb, "vec_id")

    def build(path: str) -> None:
        Engine.build_pq_ann_index(base, "embedding", "vec_id", path)
        Engine.pq_index_append(delta, "embedding", "vec_id", path)
        Engine.pq_index_remove(spark, path, delta.select("vec_id"), compact=True)

    path = cached_index(spark, "pqremove", "embeddings", sf_dir, build)
    return Engine.pq_ann_search(
        spark, path, _probe_vec(emb), k=RECALL_K, rerank=PQ_RERANK
    )


# The IVF append oracle with the final scan restricted to the base
# snapshot: frozen base centroids, probe clusters ranked over the
# retained probe ROW in the table (the retracted probe still probes —
# as a literal), candidates drawn from base vectors only.
_IVFR_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS c FROM embeddings
  WHERE vec_id % {DELTA_MOD} != 0 ORDER BY vec_id LIMIT {IVF_K}
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
WHERE e.vec_id % {DELTA_MOD} != 0
ORDER BY cos_sim DESC, e.vec_id
LIMIT {RECALL_K}
"""


@register(
    "q_llm_ivf_index_remove",
    oracle=_IVFR_ORACLE,
    tags=("llm", "similarity", "source"),
)
def q_llm_ivf_index_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """remove(append(base, delta), delta) ≡ rebuild(base) for the IVF
    index: build the cluster-partitioned layout over the 80% base,
    append the 20% delta, retract the delta with ``compact=True`` —
    only the files that actually contain removed rows are rewritten
    (the rest of the layout is untouched), the frozen centroids stay.
    ``ann_search``'s partition pruning then answers
    the literal probe over exactly the base vectors."""
    emb = load_tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    base, delta = _split(emb, "vec_id")

    def build(path: str) -> None:
        Engine.build_ann_index(base, "embedding", "vec_id", path)
        Engine.ann_index_append(delta, "embedding", "vec_id", path)
        Engine.ann_index_remove(spark, path, delta.select("vec_id"), compact=True)

    path = cached_index(spark, "ivfremove", "embeddings", sf_dir, build)
    return Engine.ann_search(
        spark, path, _probe_vec(emb), k=RECALL_K, nprobe=IVF_NPROBE
    )


# ------------------------------------------------------------------
# The incremental dedup QUERY path: near_dup_pairs_against_index is
# the API a daily-ingest pipeline actually calls (new batch vs stored
# corpus + within-batch, exactly verified) — the rebuild-equivalence
# query above checks the stored BANDS; this one checks the verified
# PAIR SET the facade returns. Built at the default near-dup tau
# (0.2 → 16×1 banding from lsh_params), so the oracle is the proven
# q_llm_minhash_verified SQL with (a) the 16-band banding and (b) the
# pair set restricted to pairs touching the delta batch — the facade
# never emits base×base pairs (the stored corpus was deduped at build
# time).

MINHASH_QUERY_TAU = 0.2

_MINHASH_QUERY_ORACLE = f"""
WITH cand0 AS ({_minhash_oracle(n_bands=16)}),
cand AS (
    SELECT doc_a, doc_b FROM cand0
    WHERE doc_a % {DELTA_MOD} = 0 OR doc_b % {DELTA_MOD} = 0
),
arrs AS (
    SELECT doc_id,
           list_distinct(list_transform(range(0, len(w) - 2),
               i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3])) AS shs
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
          WHERE len(string_split(text, ' ')) >= 3)
)
SELECT doc_a, doc_b,
       floor((c * 1.0 / (na + nb - c)) * 10000 + 0.5) / 10000 AS jaccard
FROM (
    SELECT cand.doc_a, cand.doc_b,
           len(list_intersect(a.shs, b.shs)) AS c,
           len(a.shs) AS na, len(b.shs) AS nb
    FROM cand
    JOIN arrs a ON cand.doc_a = a.doc_id
    JOIN arrs b ON cand.doc_b = b.doc_id
)
WHERE c * 1.0 / (na + nb - c) >= {MINHASH_QUERY_TAU}
"""


@register(
    "q_llm_minhash_index_query",
    oracle=_MINHASH_QUERY_ORACLE,
    tags=("llm", "dedup", "source"),
)
def q_llm_minhash_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest dedup lookup under the hash gate: build the
    LSH index over 80% of the corpus at tau={MINHASH_QUERY_TAU}
    (16×1 banding via lsh_params), then run
    ``Engine.near_dup_pairs_against_index`` for the other 20% — banded
    candidates from (new bands ⋈ stored bands) + the within-batch
    self-join, every emitted pair exactly Jaccard-verified. The
    stored corpus is read, never re-signed: candidate and verify work
    is linear in the increment. The oracle is the full-corpus
    verified-pair SQL restricted to pairs touching the delta."""
    base, delta = _split(
        load_tables(spark, sf_dir)["documents"].select("doc_id", "text"), "doc_id"
    )
    path = cached_index(
        spark, "mhquery", "documents", sf_dir,
        lambda p: Engine.build_minhash_index(base, "text", "doc_id", p, tau=MINHASH_QUERY_TAU),
    )
    return Engine.near_dup_pairs_against_index(delta, "text", "doc_id", path)


# The IVF oracle with the centroid set restricted to the base
# snapshot's smallest IVF_K keys (build_ann_index's deterministic
# centroids over base) — assignment of EVERY vector against those
# frozen centroids is precisely the state build(base) + append(delta)
# leaves in the cluster-partitioned layout, and ann_search's
# nprobe-partition scan must return the same top-k over the grown
# corpus. No vec_id <> 0 filter: Engine.ann_search ranks the probe's
# own (appended) vector too.
_IVFA_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS c FROM embeddings
  WHERE vec_id % {DELTA_MOD} != 0 ORDER BY vec_id LIMIT {IVF_K}
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
ORDER BY cos_sim DESC, e.vec_id
LIMIT {RECALL_K}
"""


@register(
    "q_llm_ivf_index_append",
    oracle=_IVFA_ORACLE,
    tags=("llm", "similarity", "source"),
)
def q_llm_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index append under the hash gate: build the
    cluster-partitioned index over 80% of the vectors (centroids
    frozen from that snapshot), append the other 20% — probe included
    — through ``Engine.ann_index_append`` (assign to frozen centroids,
    append under the cluster partition spec), then answer the standard
    probe with ``Engine.ann_search`` whose nprobe IN-list still prunes
    at the partition level over the grown corpus. The oracle assigns
    every vector against the base-snapshot centroids — exactly the
    on-disk state the append must produce."""
    emb = load_tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    base, delta = _split(emb, "vec_id")

    def build(path: str) -> None:
        Engine.build_ann_index(base, "embedding", "vec_id", path)
        Engine.ann_index_append(delta, "embedding", "vec_id", path)

    path = cached_index(spark, "ivfappend", "embeddings", sf_dir, build)
    return Engine.ann_search(
        spark, path, _probe_vec(emb), k=RECALL_K, nprobe=IVF_NPROBE
    )


# ------------------------------------------------------------------
# STREAMING index maintenance: the daily-ingest append loop as a live
# Structured Streaming job. Documents replay as time-ordered file
# micro-batches (the streaming/jobs.py harness pattern); every batch
# appends its banding rows + shingle arrays into the SAME on-disk
# index through the real facade (foreachBatch → minhash_index_append),
# so the index genuinely grows across batches. Unlike the stateful
# streaming family (rows-only + stream≡batch twins), this job carries
# a FULL DuckDB hash oracle: the final stored band set must produce
# exactly the banded pair set of the whole corpus, independent of
# micro-batch boundaries — banding is a pure per-document function, so
# any batch-boundary leakage (lost batch, double append, meta drift)
# breaks the hash. At scale the same foreachBatch loop runs against a
# Kafka/files source; only the replay staging is test harness.

DOC_STREAM_SCHEMA = "doc_id long, text string"

REPLAY_CHUNKS = 4

# staged replay directories by source fingerprint
_REPLAY_CACHE: dict[str, str] = {}


def stage_replay(df: DataFrame, key: str, chunk: Column) -> str:
    """Stage ``df`` as REPLAY_CHUNKS parquet files, file k holding the
    rows where ``chunk`` is k (a deterministic assignment, no sort), with
    strictly ascending mtimes so the file stream source replays them in
    the same order every run. Cached by ``key``, the source table's
    CONTENT fingerprint, not its path: an in-place regenerated fixture
    must restage, not replay stale chunks (r8 ADVICE item)."""
    import shutil
    import tempfile
    import time

    if key in _REPLAY_CACHE and os.path.isdir(_REPLAY_CACHE[key]):
        return _REPLAY_CACHE[key]
    out = tempfile.mkdtemp(prefix="itws_replay_")
    base = time.time()
    for k in range(REPLAY_CHUNKS):
        stage = os.path.join(out, f".stage_{k}")
        df.filter(chunk == k).coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in sorted(os.listdir(stage)) if f.endswith(".parquet"))
        dst = os.path.join(out, f"chunk_{k}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        shutil.rmtree(stage, ignore_errors=True)
        os.utime(dst, (base + k, base + k))
    _REPLAY_CACHE[key] = out
    return out


def _drain_replay(spark: SparkSession, replay: str, schema: str, append_batch) -> None:
    """Stream the staged ``replay`` files, one per micro-batch, through
    ``foreachBatch(append_batch)`` until the source drains."""
    import shutil
    import tempfile
    import uuid

    ckpt = tempfile.mkdtemp(prefix="itws_ckpt_")
    try:
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
            .writeStream.foreachBatch(append_batch)
            .queryName(f"itws_{uuid.uuid4().hex[:12]}")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@register(
    "q_stream_index_append",
    oracle=_minhash_oracle(n_bands=LSH_BANDS),
    tags=("streaming", "llm", "dedup", "source"),
)
def q_stream_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LSH-index maintenance, hash-checked: an empty index
    is created once (build on an empty base — metadata pins the
    banding), then a file-replay stream of the corpus appends each
    micro-batch through ``Engine.minhash_index_append``; after the
    stream drains, the STORED banding rows self-join into candidate
    pairs that must hash-match DuckDB banding the full corpus. A
    fresh store per invocation keeps the query idempotent (re-runs
    cannot double-append); the store is eagerly checkpointed and the
    directory removed before returning, so repeated harness runs
    cannot leak /tmp (r8 ADVICE item)."""
    import shutil
    import tempfile

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    replay = stage_replay(
        docs, _source_fingerprint(sf_dir, table="documents"),
        F.col("doc_id") % REPLAY_CHUNKS,
    )
    path = tempfile.mkdtemp(prefix="itws_mhstream_")
    try:
        empty = spark.createDataFrame([], DOC_STREAM_SCHEMA)
        Engine.build_minhash_index(
            empty, "text", "doc_id", path, tau=MINHASH_APPEND_TAU
        )
        _drain_replay(
            spark, replay, DOC_STREAM_SCHEMA,
            lambda batch_df, _id: Engine.minhash_index_append(batch_df, "text", "doc_id", path),
        )
        # materialize the stored bands NOW — the caller's collect runs
        # after the finally block has removed the index directory
        stored = Engine.read_minhash_bands(spark, path).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return band_pairs_from_rows(stored)


# ------------------------------------------------------------------
# STREAMING vector-index maintenance — the PQ side of
# q_stream_index_append: the codebook trains ONCE on the base
# snapshot (offline build), then the delta vectors arrive as file
# micro-batches and each batch is encoded against the frozen codebook
# and appended (foreachBatch → pq_index_append, geometry validated
# per batch). The final on-disk state is identical to the one-shot
# append, so the query shares _PQA_ORACLE verbatim — the hash breaks
# if any micro-batch is lost, double-encoded, or drifts from the
# stored geometry.

VEC_STREAM_SCHEMA = "vec_id long, embedding array<float>"


@register(
    "q_stream_vec_index_append",
    oracle=_PQA_ORACLE,
    tags=("streaming", "llm", "similarity", "source"),
)
def q_stream_vec_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PQ-index maintenance, hash-checked: build the index
    over the 80% base snapshot (codebook frozen there), replay the
    delta vectors as file micro-batches appending through
    ``Engine.pq_index_append``, then answer the standard probe —
    which itself arrived mid-stream — via ``Engine.pq_ann_search``
    over the grown index. Shares the one-shot append's DuckDB oracle:
    the stream must leave byte-identical codes on disk."""
    emb = load_tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    base, delta = _split(emb, "vec_id")

    def build(path: str) -> None:
        Engine.build_pq_ann_index(base, "embedding", "vec_id", path)
        replay = stage_replay(
            delta, _source_fingerprint(sf_dir, table="embeddings"),
            (F.col("vec_id") / DELTA_MOD % REPLAY_CHUNKS).cast("int"),
        )
        _drain_replay(
            spark, replay, VEC_STREAM_SCHEMA,
            lambda batch_df, _id: Engine.pq_index_append(batch_df, "embedding", "vec_id", path),
        )

    path = cached_index(spark, "pqstream", "embeddings", sf_dir, build)
    return Engine.pq_ann_search(
        spark, path, _probe_vec(emb), k=RECALL_K, rerank=PQ_RERANK
    )
