"""Deduplication family for training-data pipelines (NS mandate).

Four tiers, each with the scalable plan shape:

- exact: sha256 of normalized text, one hash-shuffle group-by. The
  100 TB plan: dedup never compares documents, only 32-byte digests.
- n-gram Jaccard: shingle inverted index + self-join on shingle →
  candidate pairs (NEVER the O(n²) crossJoin) → exact Jaccard.
- MinHash + LSH: deterministic md5-derived permutations → per-doc
  signature → banded bucket join. Constant-size signatures make the
  candidate join independent of document length.
- SimHash: 32-bit sign-aggregated word-hash fingerprint, banded for
  candidate generation; Hamming distance via bit_count(xor).

Everything is JVM expressions (higher-order functions + hashes) — no
Python in any of these paths. Round 3 moved the MinHash/SimHash hash
primitive from xxhash64 to md5: DuckDB computes the identical
signatures, so the whole near-dup family is hash-checked against
full oracles (measured ~1.4× signature cost — the price of
cross-engine verifiability, still far under the bench baseline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_twist_spark.catalog import load_tables
from iceberg_twist_spark.common import r4, spread
from iceberg_twist_spark.registry import register

_EXACT_ORACLE = """
SELECT sha256(lower(trim(text))) AS text_hash,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY sha256(lower(trim(text)))
"""


@register("q_llm_exact_dedup", oracle=_EXACT_ORACLE, tags=("llm", "dedup"))
def q_llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on sha256(normalized text); the keeper is
    min(doc_id) so the choice is deterministic (dropDuplicates picks an
    arbitrary row — never acceptable under a hash check)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.withColumn("text_hash", F.sha2(F.lower(F.trim("text")), 256))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def word_shingles(words: Column, k: int) -> Column:
    """k-word shingle array from a bound word-array column, built as a
    zip_with LADDER: level j concats the (j+1)-grams from the j-grams
    and a shifted word slice — ONE interpreted concat per element per
    level, instead of the transform(sequence)+k×element_at form whose
    per-index lambda cost dominated the whole MinHash family (gram
    construction alone was 24.6 s of minhash_dedup's 48 s at the
    1M-doc corpus twin; the ladder is 3.7 s — identical output,
    verified element-for-element). Pass a BOUND column (withColumn'd
    split), not a fresh split expression, so codegen evaluates the
    split once per row. Caller must guard size(words) >= k.
    """
    m = F.size(words)
    g = words
    for j in range(1, k):
        g = F.zip_with(
            F.slice(g, 1, m - j),
            F.slice(words, j + 1, m - j),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return g


def shingle_docs(docs: DataFrame, k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document: (doc_id, sh).

    JVM-side: split → zip_with-ladder k-grams (word_shingles) →
    array_distinct → explode. Documents shorter than k words are
    dropped (no shingle is well-defined). The source is spread() first:
    shingle construction is the CPU-heavy step, and an
    under-partitioned scan (few/single-row-group files) would
    otherwise serialize it.
    """
    w = F.col("__words")
    return (
        spread(docs, "doc_id")
        .withColumn("__words", F.split("text", " "))
        .filter(F.size(w) >= k)
        .select(
            "doc_id",
            F.explode(F.array_distinct(word_shingles(w, k))).alias("sh"),
        )
    )


def shingle_arrays(docs: DataFrame, k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document kept AS AN ARRAY:
    (doc_id, shs). Computed narrowly (no explode, no shuffle) — a
    document's shingle set never leaves its row, so verification joins
    that consume it move exactly one row per document."""
    w = F.col("__words")
    return (
        spread(docs, "doc_id")
        .withColumn("__words", F.split("text", " "))
        .filter(F.size(w) >= k)
        .select("doc_id", F.array_distinct(word_shingles(w, k)).alias("shs"))
    )


_JACCARD_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id,
         words[i] || ' ' || words[i + 1] || ' ' || words[i + 2] AS sh
  FROM (SELECT doc_id, words, unnest(range(1, len(words) - 1)) AS i FROM w)
),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       floor((c * 1.0 / (ca.n + cb.n - c)) * 10000 + 0.5) / 10000 AS jaccard
FROM common
JOIN counts ca ON common.doc_a = ca.doc_id
JOIN counts cb ON common.doc_b = cb.doc_id
WHERE c * 1.0 / (ca.n + cb.n - c) >= 0.2
"""


JACCARD_TAU = 0.2


def _verify_jaccard_arrays(
    cand: DataFrame,
    arrs_a: DataFrame,
    arrs_b: DataFrame,
    tau: float,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs
    given each side's (doc_id, shs) shingle-array frame. Verification
    is two hash joins moving one row per document plus the candidates,
    and the intersection is a single JVM array_intersect per pair —
    linear in candidate count, independent of shingle frequency skew.
    The sides may be DIFFERENT frames (the incremental facade joins a
    new increment's arrays against a stored corpus index's)."""
    a = arrs_a.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shs").alias("sa"),
        F.size("shs").alias("na"),
    )
    b = arrs_b.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shs").alias("sb"),
        F.size("shs").alias("nb"),
    )
    c = F.size(F.array_intersect("sa", "sb"))
    jac = c / (F.col("na") + F.col("nb") - c)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jac >= tau)
        .select("doc_a", "doc_b", r4(jac).alias("jaccard"))
    )


def _verify_jaccard(cand: DataFrame, docs: DataFrame, tau: float) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs drawn from ONE
    document frame (both sides of every pair).

    The array frame is lazily checkpointed: it feeds BOTH join sides,
    and without the checkpoint each side re-runs the gram transform
    over the whole corpus (the same double-subplan cost the MinHash
    band join pays without its checkpoint — ~2× measured there).
    """
    arrs = shingle_arrays(docs, 3).localCheckpoint(eager=False)
    return _verify_jaccard_arrays(cand, arrs, arrs, tau)


@register("q_llm_ngram_jaccard", oracle=_JACCARD_ORACLE, tags=("llm", "dedup"))
def q_llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard ≥ 0.2: prefix-filtered
    inverted index (AllPairs — Bayardo/Ma/Srikant, WWW'07) + exact
    array-intersect verification.

    The naive inverted index joins on EVERY shingle, so a shingle
    shared by d documents contributes d² candidate mass — the 1M-doc
    corpus twin turned that into ~10¹¹ pairs and a disk-filling spill
    (r6 corpus bench). Prefix filtering is the standard exact fix:
    under one global shingle order (document frequency asc, shingle
    asc — rarest first), any pair with J ≥ t shares its SMALLEST common
    shingle inside both docs' prefixes of length n − ⌈t·n⌉ + 1, so
    indexing only prefixes loses no qualifying pair (the suffix holds
    < ⌈t·n⌉ ≤ |A∩B| shingles). Hot boilerplate shingles sort LAST and
    drop out of nearly every prefix — exactly the d² mass the naive
    index dies on. Candidates are then verified with the exact
    set intersection (_verify_jaccard), so the result — and the
    oracle — is the full-index answer, unchanged.

    Note the honest limit: on an adversarially FLAT shingle-frequency
    corpus the prefix excludes little and candidate mass is inherent
    to exact all-pairs; the 100 TB tier for that shape is
    q_llm_minhash_verified (LSH candidates, exact verify).
    """
    docs = load_tables(spark, sf_dir)["documents"]
    # consumed three times (frequency table, per-doc counts, prefix
    # base) — checkpoint so the shingle explode runs once
    sh = shingle_docs(docs, 3).localCheckpoint(eager=False)
    freq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    pos_w = Window.partitionBy("doc_id").orderBy("df", "sh")
    prefix = (
        sh.join(freq, "sh")
        .withColumn("pos", F.row_number().over(pos_w))
        .join(counts, "doc_id")
        .filter(
            F.col("pos")
            <= F.col("n") - F.ceil(F.lit(JACCARD_TAU) * F.col("n")) + 1
        )
        .select("doc_id", "sh")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _verify_jaccard(cand, docs, JACCARD_TAU)


N_MINHASH = 16
LSH_BANDS = 4  # 4 rows per band


MINHASH_HEX = 16  # hex chars per permutation value (64 bits)


def minhash_signatures(docs: DataFrame, k: int = 3, n_perm: int = N_MINHASH) -> DataFrame:
    """Deterministic MinHash signatures:
    perm_i(sh) = 16 hex chars of md5(f"{i // 2}:" + sh) — the FIRST 16
    for even i, the LAST 16 for odd i; signature[i] = lexicographic
    min over shingles (fixed-length hex ⇒ string min == numeric min).

    md5 rather than xxhash64 so DuckDB computes the IDENTICAL
    signatures and the banding query carries a full hash oracle
    (round-3 upgrade from rows-only). Each md5 yields TWO 64-bit
    permutations (its halves are independent bits), so the 16-perm
    signature costs 8 md5 invocations per shingle, not 16 — md5 over
    every shingle is the dominant cost of the whole MinHash family
    (~54 s of the 1M-doc corpus bench before the split). The per-chunk
    digest arrays are materialized as intermediate columns so codegen
    evaluates each md5 once and both halves read the bound variable.

    Computed NARROWLY — the shingle array stays inside its row and each
    signature column is ``array_min`` over a per-shingle transform — so
    there is no shingle explode and no groupBy shuffle at all: a
    document never leaves its partition to be signed.

    No array_distinct on the shingles: md5 of equal strings is equal,
    so the min over the multiset IS the min over the set — dedup work
    would be pure cost here.
    """
    w = F.col("__words")
    base = (
        spread(docs, "doc_id")
        .withColumn("__words", F.split("text", " "))
        .filter(F.size(w) >= k)
        .withColumn("sh_arr", word_shingles(w, k))
    )
    return signatures_of(base, "sh_arr", n_perm)


def signatures_of(frame: DataFrame, arr_col: str, n_perm: int = N_MINHASH) -> DataFrame:
    """(doc_id, mh0..mh{n_perm-1}) MinHash signatures of a frame that
    already holds each document's shingle array in ``arr_col`` — the
    signing half of ``minhash_signatures``. A caller holding
    ``shingle_arrays`` output signs its ``shs`` directly instead of
    shingling the documents a second time: the min over the distinct
    set equals the min over the multiset, so the signatures are the
    same."""
    n_chunks = (n_perm + 1) // 2

    # Factory closures, NOT `lambda s, c=c:` default-arg captures — a
    # two-parameter lambda is Spark's (element, index) HOF form, so the
    # "captured" second arg silently rebinds to the array index column.
    def _chunk(c: int):
        return F.transform(
            arr_col, lambda s: F.md5(F.concat(F.lit(f"{c}:"), s))
        ).alias(f"hx{c}")

    def _half(i: int):
        pos = 1 + MINHASH_HEX * (i % 2)
        return F.array_min(
            F.transform(
                f"hx{i // 2}", lambda x: F.substring(x, pos, MINHASH_HEX)
            )
        ).alias(f"mh{i}")

    hashed = frame.select("doc_id", *[_chunk(c) for c in range(n_chunks)])
    return hashed.select("doc_id", *[_half(i) for i in range(n_perm)])


def lsh_params(
    tau: float, n_perm: int = N_MINHASH, min_recall: float = 0.9
) -> tuple[int, int]:
    """(n_bands, rows_per_band) for a target Jaccard threshold ``tau``:
    the largest rows-per-band whose S-curve detection probability
    1 − (1 − tau^r)^(n/r) at J = tau still clears ``min_recall``.

    Larger r sharpens precision (fewer sub-tau collisions survive a
    whole band) but pushes the S-curve knee (1/b)^(1/r) upward; the
    recall constraint keeps the knee safely below tau. With the
    16-perm signature: tau ≤ ~0.4 → 16 bands × 1 row, tau ≈ 0.5 →
    8 × 2, tau ≥ ~0.8 → 4 × 4. r = 1 always satisfies any
    min_recall ≤ 1 − (1 − tau)^n for tau > 0, so the fixed-banding
    under-recall the r6 facade had (4×4 banding at tau = 0.2 detects
    a true J = 0.2 pair with probability 0.006) cannot recur.
    """
    best = (n_perm, 1)
    for r in range(2, n_perm + 1):
        if n_perm % r:
            continue
        b = n_perm // r
        if 1 - (1 - tau**r) ** b >= min_recall:
            best = (b, r)
    return best


def band_rows(
    sig: DataFrame, n_perm: int = N_MINHASH, n_bands: int = LSH_BANDS
) -> DataFrame:
    """(doc_id, band_idx, band_hash) banding rows from a signature
    frame — the storable half of the LSH index: band_pairs self-joins
    these in one pass, and Engine.build_minhash_index persists them so
    later increments join new rows against the stored corpus without
    re-signing it."""
    rpb = n_perm // n_bands
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat(
                            *[F.col(f"mh{b * rpb + r}") for r in range(rpb)]
                        )
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def band_pairs(
    sig: DataFrame, n_perm: int = N_MINHASH, n_bands: int = LSH_BANDS
) -> DataFrame:
    """Banded LSH candidate pairs (doc_a < doc_b) from a signature
    frame — THE candidate generator for the whole MinHash family
    (q_llm_minhash_dedup, q_llm_minhash_verified, and the
    Engine.near_dup_pairs facade all call this one function, so the
    band hashing cannot drift between the oracle-checked queries and
    the facade).

    Banding: the signature splits into n_bands bands of
    n_perm/n_bands hashes; docs agreeing on any whole band (md5 of
    the concatenated minhashes) become a candidate pair. At 100 TB
    the band bucket join replaces all-pairs comparison; skewed
    buckets (boilerplate text) are handled by AQE skew-join
    splitting.

    The (doc_id, band) rows are lazily materialized before the
    self-join: without the checkpoint both join sides re-run the
    whole signature pipeline (shingle + hash permutations over every
    document — by far the dominant cost; ~2× measured at sf0.1). The
    checkpoint is tiny (|docs| × n_bands rows) and keeps the join
    plan flat.
    """
    bands = band_rows(sig, n_perm, n_bands).localCheckpoint(eager=False)
    return band_pairs_from_rows(bands)


def band_pairs_from_rows(bands: DataFrame) -> DataFrame:
    """The banded self-join half of ``band_pairs``, over ALREADY
    materialized (doc_id, band_idx, band_hash) rows — callers that hold
    a checkpointed/stored banding frame (the incremental-index path)
    reuse it directly instead of re-running the signature pipeline
    through ``band_pairs(sig)``."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def _minhash_oracle(
    k: int = 3,
    n_perm: int = N_MINHASH,
    n_bands: int = LSH_BANDS,
    doc_where: str = "",
) -> str:
    """DuckDB SQL producing the identical banded candidate pairs.
    ``doc_where`` (an extra AND-clause on documents) lets lifecycle
    oracles band a SUBSET of the corpus — e.g. the retraction oracle
    bands only the surviving base snapshot."""
    rpb = n_perm // n_bands
    sig_cols = ",\n           ".join(
        f"list_min(list_transform(shs, s -> substr(md5('{i // 2}:' || s), "
        f"{1 + MINHASH_HEX * (i % 2)}, {MINHASH_HEX}))) AS mh{i}"
        for i in range(n_perm)
    )
    parts = []
    for b in range(n_bands):
        cols = " || ".join(f"mh{b * rpb + r}" for r in range(rpb))
        parts.append(
            f"SELECT doc_id, {b} AS band_idx, md5({cols}) AS band_hash FROM sig"
        )
    band_selects = "\n    UNION ALL\n    ".join(parts)
    gram = " || ' ' || ".join(f"w[i + {j + 1}]" for j in range(k))
    return f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
    WHERE len(string_split(text, ' ')) >= {k}{' AND ' + doc_where if doc_where else ''}
), sh AS (
    SELECT doc_id,
           list_distinct(list_transform(range(0, len(w) - {k - 1}),
               i -> {gram})) AS shs
    FROM d
), sig AS (
    SELECT doc_id,
           {sig_cols}
    FROM sh
), bands AS (
    {band_selects}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
 AND a.doc_id < b.doc_id
"""


@register("q_llm_minhash_dedup", oracle=_minhash_oracle(), tags=("llm", "dedup", "sketch"))
def q_llm_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs, hash-checked: md5-derived
    permutations give both engines the identical signatures, so the
    banding query compares against a full DuckDB derivation (round-3
    upgrade from rows-only).

    Banding and the candidate self-join live in the shared
    ``band_pairs`` helper (also the engine facade's generator — one
    implementation, no oracle drift); see its docstring for the scale
    shape and the checkpoint rationale.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    return band_pairs(minhash_signatures(docs))


_VERIFIED_ORACLE = f"""
WITH cand AS ({_minhash_oracle()}),
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
WHERE c * 1.0 / (na + nb - c) >= {JACCARD_TAU}
"""


@register(
    "q_llm_minhash_verified", oracle=_VERIFIED_ORACLE, tags=("llm", "dedup", "sketch")
)
def q_llm_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs the way a 100 TB corpus build actually finds
    them: MinHash/LSH banded candidates, then EXACT 3-gram Jaccard
    verification of just those candidates.

    This is the scalable counterpart of q_llm_ngram_jaccard: candidate
    mass is bounded by the banding (constant-size signatures — never
    shingle-frequency-dependent, never all-pairs) and the verify step
    is one array_intersect per candidate, so the whole operator moves
    signatures + one row per document. Exactness trade: a true pair
    that collides in NO band is missed (LSH recall < 1 by design);
    every emitted pair is exactly verified at J ≥ 0.2. The 1M-doc
    corpus twin runs this tier where the exact inverted index —
    even prefix-filtered — hits the flat-frequency candidate wall.

    The oracle replays the identical md5-derived banding + DuckDB
    list_intersect verification, so the pair set is hash-checked.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    cand = q_llm_minhash_dedup(spark, sf_dir)
    return _verify_jaccard(cand, docs, JACCARD_TAU)


def simhash(docs: DataFrame, bits: int = 60) -> DataFrame:
    """60-bit SimHash per document over distinct 3-word shingles.

    Each distinct shingle hashes via md5; bit j of a feature's hash is
    bit (j mod 4) of hex digit j//4 — derivable identically in DuckDB,
    so the query family is hash-checked (round-3 upgrade from the
    xxhash64 rows-only form). Bit j of the fingerprint is 1 iff the
    sum of ±1 votes over the document's features is positive. Computed
    as explode → one hash aggregate with one vote column per bit —
    vectorized, one shuffle on doc_id, no Python.

    60 bits (not 32): the banded candidate join buckets on fingerprint
    QUARTERS, and bucket count is what bounds the self-join — 8-bit
    bands gave 256 buckets/band, which the 1M-doc corpus twin turned
    into ~10⁹ candidate pairs (r6 corpus bench hang); 15-bit bands give
    32768, keeping buckets ~30 docs at 1M. 60 = 4×15 stays inside the
    md5 hex digits AND below the sign bit, so every engine-side shift/
    xor runs on non-negative longs.
    """
    # Features are distinct 3-word shingles, not distinct words: over
    # a bounded vocabulary the unigram SET is degenerate (the 1M-doc
    # corpus twin collapsed to a handful of distinct fingerprints, so
    # the Hamming-≤3 pair OUTPUT itself went quadratic — no plan fixes
    # a quadratic answer); shingles give fingerprint diversity the way
    # production SimHash does. One conv() per feature turns the leading
    # 15 hex digits into a long; every per-bit vote is then a
    # shift/mask on that long (the former per-bit substring+ascii+CASE
    # string work pinned all cores for 10+ minutes at 1M docs). Bit j
    # still means bit (j mod 4) of hex digit j//4 — digit 0 is the
    # converted number's HIGH nibble, hence the position remap — so
    # fingerprints stay bit-identical to the oracle's derivation.
    ws = F.col("__words")
    shingles = F.when(
        F.size(ws) >= 3, word_shingles(ws, 3)
    ).otherwise(F.array(F.array_join(ws, " ")))
    w = (
        spread(docs, "doc_id")
        .withColumn("__words", F.split("text", " "))
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingles)).alias("word"),
        )
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("word"), 1, (bits + 3) // 4), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    n_digits = (bits + 3) // 4

    def bit(j: int):
        pos = 4 * (n_digits - 1 - j // 4) + (j % 4)
        return F.shiftright(F.col("h"), pos).bitwiseAND(F.lit(1))

    aggs = [F.sum(bit(j) * 2 - 1).alias(f"v{j}") for j in range(bits)]
    votes = w.groupBy("doc_id").agg(*aggs)
    fingerprint = None
    for j in range(bits):
        term = (
            F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return votes.select("doc_id", fingerprint.alias("simhash"))


def _simhash_oracle(bits: int = 60, max_hamming: int = 3) -> str:
    """DuckDB SQL computing the identical SimHash pairs (all-pairs
    Hamming — the correctness baseline for the banded candidate join)."""
    digit = (
        "(CASE WHEN substr(hx, {d}, 1) BETWEEN '0' AND '9' "
        "THEN ascii(substr(hx, {d}, 1)) - 48 "
        "ELSE ascii(substr(hx, {d}, 1)) - 87 END)"
    )
    votes = ",\n           ".join(
        f"sum(CASE WHEN (({digit.format(d=j // 4 + 1)} >> {j % 4}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
WITH ws AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), w AS (
    SELECT doc_id, md5(unnest(list_distinct(
        CASE WHEN len(ws) >= 3 THEN list_transform(
                 generate_series(1, len(ws) - 2),
                 i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
             ELSE [array_to_string(ws, ' ')] END))) AS hx
    FROM ws
), votes AS (
    SELECT doc_id,
           {votes}
    FROM w GROUP BY doc_id
), fp AS (
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


@register("q_llm_simhash", oracle=_simhash_oracle(), tags=("llm", "dedup", "sketch"))
def q_llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints + near-dup pairs at Hamming distance ≤ 3.

    Candidates via 4 15-bit-band matches — pigeonhole-COMPLETE for
    distance ≤ 3 over 4 bands (the round-2 16-bit-half banding missed
    (1,2)-split pairs; caught when the all-pairs oracle landed) — then
    exact Hamming verification. Hash-checked against the all-pairs
    DuckDB derivation of the same md5-digit fingerprints."""
    docs = load_tables(spark, sf_dir)["documents"]
    fp = simhash(docs).cache()
    # 15-bit quarters of the 60-bit fingerprint: pigeonhole-complete
    # for Hamming ≤ 3 over 4 bands, and 32768 buckets per band keeps
    # the candidate self-join linear-ish at a 1M-doc corpus (the 8-bit
    # bands this replaced were quadratic there — found by corpus bench)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[
                F.shiftright("simhash", 15 * k).bitwiseAND(F.lit(0x7FFF))
                for k in range(4)
            ])
        ).alias("band_idx", "band_val"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select(
        "doc_a", "doc_b", hamming.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= 3)


# ----------------------------------------------------- line-level dedup
# Cross-corpus block-level ("line-level") deduplication — the C4 /
# CCNet / RefinedWeb boilerplate-removal stage: a block of text that
# recurs across MANY documents (nav bars, cookie banners, license
# footers) is removed from EVERY document, while within-document
# structure is preserved. The fixture's documents are single-line word
# streams, so "line" is modeled as a fixed-width word block — the
# block width is the operator's granularity knob, exactly like the
# line split is in CCNet (4 words here so the fixture's random text
# produces a realistic ~2-3% boilerplate rate for the check to bite
# on; a crawl pipeline would use actual lines).
#
# Scale shape (the reason this is NOT "explode and groupBy text"):
# the document-frequency pass shuffles (md5(block), doc_id) pairs —
# 32-B digests, never block text; the rewrite pass shuffles the corpus
# ONCE keyed by doc_id (unavoidable: the output IS a rewritten
# corpus, linear write amplification); the boilerplate table joins by
# digest. Boilerplate keys are the canonical skew case (one banner in
# 30% of a crawl) — AQE skew-join handles the hot digest, and the
# rewrite groupBy keys on doc_id, which stays uniform.

LINE_BLOCK_WORDS = 4
LINE_BOILERPLATE_DF = 3  # blocks in >= this many distinct docs are boilerplate

_LINE_DEDUP_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE length(text) > 0
), idx AS (
  SELECT doc_id, ws,
         unnest(generate_series(
             0, CAST(ceil(len(ws) / {LINE_BLOCK_WORDS}.0) AS BIGINT) - 1)) AS pos
  FROM w
), b AS (
  SELECT doc_id, pos,
         array_to_string(
             ws[pos * {LINE_BLOCK_WORDS} + 1 :
                least((pos + 1) * {LINE_BLOCK_WORDS}, len(ws))], ' ') AS block
  FROM idx
), bp AS (
  SELECT md5(block) AS bh FROM b
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= {LINE_BOILERPLATE_DF}
), f AS (
  SELECT b.doc_id, b.pos, b.block, (bp.bh IS NOT NULL) AS is_bp
  FROM b LEFT JOIN bp ON md5(b.block) = bp.bh
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
       md5(coalesce(
           string_agg(CASE WHEN NOT is_bp THEN block END, ' ' ORDER BY pos),
           '')) AS cleaned_md5
FROM f GROUP BY doc_id
"""


@register("q_llm_line_dedup", oracle=_LINE_DEDUP_ORACLE, tags=("llm", "text", "dedup"))
def q_llm_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus block-level dedup: blocks of {LINE_BLOCK_WORDS}
    words that appear in >= LINE_BOILERPLATE_DF distinct documents are
    boilerplate and are removed from every document; each document is
    rewritten from its surviving blocks in order (the rewritten text is
    hash-checked via md5).

    Three-stage plan, each stage's shuffle bounded by design: (1) the
    document-frequency aggregate shuffles only (digest, doc_id); (2)
    the boilerplate membership join is digest-keyed (AQE splits the
    hot banner digests); (3) the rewrite groupBy(doc_id) shuffles the
    corpus once — the linear, unavoidable cost of producing a
    rewritten corpus. Generalizes the reference's content-hash frame
    tracing (`iceberg-twist/main.py:92`) from frames to corpus blocks.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    b = (
        spread(docs.filter(F.length("text") > 0), "doc_id")
        .select("doc_id", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            F.expr(
                f"""explode(transform(
                        sequence(0, cast(ceil(size(ws) / {LINE_BLOCK_WORDS}.0) as int) - 1),
                        i -> struct(
                            cast(i as bigint) as pos,
                            array_join(slice(ws, i * {LINE_BLOCK_WORDS} + 1,
                                             {LINE_BLOCK_WORDS}), ' ') as block)))"""
            ).alias("s"),
        )
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.block").alias("block"))
        .withColumn("bh", F.md5("block"))
    )
    bp = (
        b.groupBy("bh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= LINE_BOILERPLATE_DF)
        .select("bh", F.lit(True).alias("is_bp"))
    )
    flagged = b.join(bp, "bh", "left").withColumn(
        "is_bp", F.coalesce("is_bp", F.lit(False))
    )
    surviving = F.filter(
        F.array_sort(F.collect_list(F.struct("pos", "block", "is_bp"))),
        lambda s: ~s["is_bp"],
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum(F.col("is_bp").cast("int")).cast("long").alias("n_boilerplate"),
        F.md5(
            F.array_join(F.transform(surviving, lambda s: s["block"]), " ")
        ).alias("cleaned_md5"),
    )
