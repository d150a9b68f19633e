"""Deduplication operators over the ``documents`` table.

Four strategies, trading exactness for scale (no reference analogue — these are
the training-data-pipeline extensions):

- **exact**: hash-groupBy on the full text. One shuffle on md5(text).
- **n-gram Jaccard** (exact near-dup): shingle → explode → self-join on shingle →
  count-based Jaccard. Exact but O(pairs sharing a shingle) — the correctness
  oracle for the approximate methods.
- **MinHash + LSH** (approximate near-dup): k minhashes per doc → banded
  signatures → join only within LSH buckets → verify candidates with exact
  Jaccard. This is the 100 TB path: the only join is on (band, signature), whose
  cardinality is |docs|×bands, and the verify step touches candidate pairs only.
- **SimHash**: 64-bit weighted-projection fingerprint; hamming-close pairs within
  LSH bands over bit-slices.

Determinism: all hash families derive from fixed-key siphash (pandas' C
``hash_array``) or xxhash64 with fixed literal seeds, so every run (and every
engine re-run) produces identical signatures.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from librarian_spark.functions.textfns import o_shingles, shingles_of_tokens, tokens
from librarian_spark.operators.registry import query
from librarian_spark.scratch import cache_dir
from librarian_spark.operators.similarity import _o_dot, _o_normalize
from librarian_spark.sources.batch import fan_out
from librarian_spark.sources.batch import load_table as _t

# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id,
           MD5(text) AS text_md5,
           MIN(doc_id) OVER (PARTITION BY MD5(text)) AS canonical_id,
           (doc_id != MIN(doc_id) OVER (PARTITION BY MD5(text))) AS is_duplicate
    FROM documents
    """,
    doc="Exact dedup via hash-groupBy: every doc mapped to the min doc_id of its "
    "text-hash group. One shuffle on md5(text) — hashing first keeps the shuffle "
    "key 32 bytes instead of the full document.",
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    w = W.partitionBy(F.md5(F.col("text").cast("binary")))
    canonical = F.min("doc_id").over(w)
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
        canonical.alias("canonical_id"),
        (F.col("doc_id") != canonical).alias("is_duplicate"),
    )


# --------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup (the oracle-grade method)
# --------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.5

# Shared candidate-generation CTEs: per-doc shingle sets, the inverted-index
# self-join, and per-pair common counts. Both the Jaccard and the
# edit-distance oracles build on EXACTLY these CTEs — one copy, so the pair
# machinery can never drift between operators.
_PAIR_CTES = """
sh AS (
  SELECT doc_id,
         LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(w) - 1, 1)),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
           AS shingles
  FROM (SELECT doc_id, STR_SPLIT(TRIM(LOWER(text)), ' ') AS w FROM documents)
),
ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
pairs AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
"""

_NGRAM_ORACLE = f"""
WITH {_PAIR_CTES}
SELECT p.doc_id_1, p.doc_id_2,
       CAST(p.n_common AS BIGINT) AS n_common,
       ROUND(p.n_common * 1.0 / (LEN(s1.shingles) + LEN(s2.shingles) - p.n_common), 6)
         AS jaccard
FROM pairs p
JOIN sh s1 ON p.doc_id_1 = s1.doc_id
JOIN sh s2 ON p.doc_id_2 = s2.doc_id
WHERE p.n_common * 1.0 / (LEN(s1.shingles) + LEN(s2.shingles) - p.n_common)
      >= {_JACCARD_THRESHOLD}
"""


def shared_shingle_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Candidate pairs from the shingle inverted index with per-pair common
    counts and both set sizes: (doc_id_1, doc_id_2, n_common, n1, n2).

    THE shared pair-generation stage (Jaccard verify and edit-distance verify
    both build on it): explode the 64-bit shingle hashes, self-equi-join on
    the hash, count per pair, broadcast-join the two size columns. Any
    100 TB-prep change (stop-shingle document-frequency cap, hash widening)
    lands here once and every downstream verify inherits it.
    """
    sh = minhash_features(spark, sf).select("doc_id", "shingle_hashes")
    sizes = sh.select("doc_id", F.size("shingle_hashes").alias("n_shingles"))
    ex = sh.select("doc_id", F.explode("shingle_hashes").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_1"), F.col("b.doc_id").alias("doc_id_2")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sizes.withColumnRenamed("doc_id", "doc_id_1").withColumnRenamed(
        "n_shingles", "n1"
    )
    s2 = sizes.withColumnRenamed("doc_id", "doc_id_2").withColumnRenamed(
        "n_shingles", "n2"
    )
    return pairs.join(F.broadcast(s1), "doc_id_1").join(F.broadcast(s2), "doc_id_2")


def ngram_jaccard_pairs(
    spark: SparkSession, sf: str, threshold: float = _JACCARD_THRESHOLD
) -> DataFrame:
    """All document pairs with word-3-gram Jaccard ≥ threshold (exact).

    Plan: shingle-set per doc (map-only, shared cached stage with the MinHash
    operator) → explode → self-equi-join on the 64-bit shingle hash → per-pair
    common count → Jaccard from the three set sizes. The join is on the shingle
    value, so cost is Σ_s |docs(s)|² — fine while no shingle is ubiquitous; at
    100 TB drop stop-shingles (document frequency cap) first, or use the
    MinHash path below. Joining on the 8-byte hash instead of the shingle
    string shrinks the exploded shuffle ~3×; a cross-doc hash collision
    perturbs a count with odds ~pairs·|s|²/2^64 ≈ 1e-13.
    """
    pairs = shared_shingle_pairs(spark, sf)
    jac = F.col("n_common") * F.lit(1.0) / (F.col("n1") + F.col("n2") - F.col("n_common"))
    return (
        pairs.filter(jac >= threshold)
        .select(
            "doc_id_1",
            "doc_id_2",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    return ngram_jaccard_pairs(spark, sf)


# --------------------------------------------------------------------------
# MinHash + LSH near-dup (the scale path)
# --------------------------------------------------------------------------

_MINHASH_K = 64  # minhash functions
_LSH_BANDS = 16  # bands of 4 rows each → catches jaccard ≳ 0.5 reliably
_ROWS_PER_BAND = _MINHASH_K // _LSH_BANDS
_MERSENNE31 = (1 << 31) - 1  # universal-hash prime; a·h ≤ 2^62 stays in int64


def _hash_family(k: int = _MINHASH_K) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i = (a·h + b) mod 2^31-1, a,b < p via a
    fixed LCG. The multiplier must be large enough to wrap the modulus — an
    order-preserving affine map would make every minhash pick the same argmin
    shingle and the signature would carry one bit of information."""
    pairs, x = [], 0x5DEECE66D
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x >> 16) % (_MERSENNE31 - 1) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = (x >> 16) % _MERSENNE31
        pairs.append((a, b))
    return pairs


def minhash_features(
    spark: SparkSession, sf: str, docs: DataFrame | None = None
) -> DataFrame:
    """doc_id → (shingle hash set, 16 LSH band signatures) in ONE map-only pass.

    Per Arrow batch: shingle every doc in python, hash all shingles of the
    batch at once (pandas' C siphash, fixed key), apply the K=64 affine maps as
    one (shingles × K) vectorized modular multiply, per-doc minimum via
    ``np.minimum.reduceat``, pack each 4-row band into one 64-bit signature.
    No shuffle — signatures are a pure per-row function; the only joins in the
    whole dedup pipeline are on band signatures and candidate doc_ids.

    The shingle strings computed in-batch are byte-identical to the DuckDB
    oracle's ``LIST_DISTINCT(word-3-grams(STR_SPLIT(TRIM(LOWER(text)), ' ')))``,
    so the exact-verify stage downstream matches the oracle exactly; the minhash
    family only decides recall (and LSH misses at j≥0.9 are < 1e-7 per pair).
    Only their 64-bit hashes LEAVE the batch: the string sets themselves are
    consumed by nothing downstream (joins, verification, and set sizes all run
    on ``shingle_hashes``), and shipping/caching ~20-byte strings that an
    8-byte hash already represents would triple the cached footprint.

    MEASURED dead ends (do not redo): (a) explode + 64 ``min`` hash aggregates
    is codegen-hostile — the generated aggregate class keeps the JIT
    deoptimizing, 2.5-18 s at sf0.1 with wild variance vs flat ~1 s here;
    (b) ``array_min(transform(...))`` per hash runs K interpreted HOF passes,
    3-5× worse again. Cached: band table feeds a self-join (both branches) and
    the verify stage re-reads the shingle arrays.
    """
    d = fan_out(docs if docs is not None else _t(spark, sf, "documents"))
    fam = _hash_family()
    a_np = [a for a, _ in fam]
    b_np = [b for _, b in fam]

    def op(batches):
        import numpy as np
        import pandas as pd

        p = np.uint64(_MERSENNE31)
        A = np.array(a_np, dtype=np.uint64)
        B = np.array(b_np, dtype=np.uint64)
        mix = np.uint64(1000003)
        for pdf in batches:
            if not len(pdf):
                continue
            sh_lists = []
            for t in pdf["text"]:
                toks = ("" if t is None else t).strip(" ").lower().split(" ")
                # dict preserves first-seen order; set semantics like LIST_DISTINCT
                sh_lists.append(
                    list(
                        dict.fromkeys(
                            " ".join(toks[i : i + 3])
                            for i in range(len(toks) - 2)
                        )
                    )
                )
            ns = np.array([len(s) for s in sh_lists], dtype=np.int64)
            flat = np.array(
                [s for sl in sh_lists for s in sl], dtype=object
            )
            sigs: list[list[int]] = [[] for _ in sh_lists]
            hash_lists: list[list[int]] = [[] for _ in sh_lists]
            nz = np.nonzero(ns > 0)[0]
            if len(nz):
                h64 = pd.util.hash_array(flat)  # uint64, deterministic key
                # full-width hashes ride along for the downstream equi-joins:
                # joining/intersecting on 8-byte longs instead of ~20-byte
                # shingle strings halves the exploded shuffle, and a 64-bit
                # within-pair collision (~|s1|·|s2|/2^64) is odds ~1e-13 —
                # far below the LSH miss floor.
                for doci, part in enumerate(
                    np.split(h64.view(np.int64), np.cumsum(ns)[:-1])
                ):
                    hash_lists[doci] = part.tolist()
                h = h64 % p
                # (shingles × K) affine family; a·h + b < 2^62 fits uint64
                proj = (h[:, None] * A[None, :] + B[None, :]) % p
                starts = np.zeros(len(nz), dtype=np.int64)
                np.cumsum(ns[nz][:-1], out=starts[1:])
                mins = np.minimum.reduceat(proj, starts, axis=0)
                banded = mins.reshape(len(nz), _LSH_BANDS, _ROWS_PER_BAND)
                bs = banded[:, :, 0]
                for r in range(1, _ROWS_PER_BAND):
                    bs = bs * mix + banded[:, :, r]
                bs = bs.view(np.int64)
                for row, i in enumerate(nz):
                    sigs[i] = bs[row].tolist()
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "shingle_hashes": hash_lists,
                    "band_sigs": sigs,
                }
            )

    return d.mapInPandas(
        op,
        schema="doc_id long, shingle_hashes array<long>, band_sigs array<long>",
    ).cache()


def minhash_lsh_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """Candidate pairs from banded LSH: docs sharing ≥1 identical band signature."""
    bands = minhash_features(spark, sf).select(
        "doc_id", F.posexplode("band_sigs").alias("band", "band_sig")
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"), F.col("b.doc_id").alias("doc_id_2")
        )
        .distinct()
    )


@query(
    "dedup_minhash_lsh",
    oracle=_NGRAM_ORACLE,
    doc="MinHash(64)+LSH(16×4) candidates, verified with exact Jaccard ≥ 0.5 "
    "computed ONLY on candidate pairs (array_intersect of the two shingle sets) — "
    "never the all-pairs shingle join. Same output contract as "
    "dedup_ngram_jaccard (the exact oracle); with these parameters the per-pair "
    "miss probability at j=0.5 is (1-0.5⁴)¹⁶ ≈ 0.35 in theory, but the planted "
    "near-dups sit at j≥0.9 where it is < 1e-7 — and the exact-verify step "
    "removes all false positives, so LSH recall is the only approximation. At "
    "100 TB total join traffic is |docs|×bands for candidates plus "
    "|candidate pairs| for verification.",
)
def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    sh = minhash_features(spark, sf)
    cands = minhash_lsh_candidates(spark, sf)
    s1 = sh.select(
        F.col("doc_id").alias("doc_id_1"), F.col("shingle_hashes").alias("sh1")
    )
    s2 = sh.select(
        F.col("doc_id").alias("doc_id_2"), F.col("shingle_hashes").alias("sh2")
    )
    # verify candidates exactly: fetch both shingle sets per candidate pair and
    # intersect — O(|candidates|), not O(pairs sharing a shingle)
    n_common = F.size(F.array_intersect("sh1", "sh2"))
    jac = n_common * F.lit(1.0) / (F.size("sh1") + F.size("sh2") - n_common)
    return (
        cands.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .withColumn("raw_jac", jac)  # filter on the unrounded value (oracle parity)
        .filter(F.col("raw_jac") >= _JACCARD_THRESHOLD)
        .select(
            "doc_id_1",
            "doc_id_2",
            n_common.cast("long").alias("n_common"),
            F.round("raw_jac", 6).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# SimHash near-dup
# --------------------------------------------------------------------------

_SIMHASH_BITS = 64
# Candidate generation is the Manku/WWW'07 multi-table construction over the
# 64-bit fingerprint: _SIMHASH_SLICES slices of _SIMHASH_BPS=16 bits, with
# radius-2 multi-probe on the probe side (the slice value plus every 1- and
# 2-bit flip: 1 + 16 + C(16,2) = 137 probe values per position) and a
# hot-bucket cap on the target side. 16-bit slices give a 2^16 bucket domain
# per position — the round-8 design keyed on 8-bit slices (2048 buckets
# total), the same fixed-domain construction condemned-and-fixed in
# mm_phash_dedup: candidate pairs were O(N^2/2048) on ANY corpus, and 8
# radius-0 blocks only pigeonhole-guarantee hamming <= 7 while the declared
# radius is 8. Radius-2 probes over 4 slices guarantee the declared radius
# with margin: a missed pair needs >= 3 differing bits in EVERY slice,
# i.e. hamming >= 12 — every pair with hamming <= 11 shares a probe-reachable
# bucket by pigeonhole. No rotation tables needed (phash uses rotations
# because its radius-1 probes only reach slice-hamming 1; radius-2 reaches
# the pigeonhole bound 8//4 = 2 directly).
_SIMHASH_SLICES = 4
_SIMHASH_BPS = _SIMHASH_BITS // _SIMHASH_SLICES  # 16 bits per slice
# skip candidate TARGETS in hot buckets, cap = max(_SIMHASH_CAP_MIN,
# N // _SIMHASH_CAP_DIV) — the winnow_overlap scale-relative-cutoff
# precedent. A FIXED cap makes recall DEGRADE with corpus size: organic
# near-dup clusters grow with N, and at sf0.1 a cap of 16 already dropped
# 15% of true hamming<=8 pairs (measured; max bucket 291 of 5000 docs).
# Scale-relative, the cap bounds join output at probes x N/32 only on
# adversarial data (where the true pair output is itself quadratic); on
# organic corpora growth stays ~linear (11.6x raw join rows at 10x organic,
# pinned by the growth test) while recall at the declared radius is 100%
# at sf0.1 (43760/43760 measured; a cap of 16 gave 84.9%). A pair in a
# hot bucket is still caught through any of its other <=2-error positions,
# or from the other direction if only one side's bucket is hot.
_SIMHASH_CAP_MIN = 16
_SIMHASH_CAP_DIV = 32
_SIMHASH_MAX_HAMMING = 8  # verify threshold (declared radius)

_SIMHASH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST(STR_SPLIT(TRIM(LOWER(text)), ' ')) AS t
  FROM documents),
-- token hash = first 16 hex chars of md5(utf8(token)), big-endian, split into
-- two 32-bit halves (hi = chars 1-8, lo = chars 9-16) so all bit arithmetic
-- stays in BIGINT range on both engines
hp AS (
  SELECT doc_id,
         LIST_SUM(LIST_TRANSFORM(RANGE(1, 9),
           i -> CAST((STRPOS('0123456789abcdef', SUBSTR(m, i, 1)) - 1)
                AS BIGINT) * (CAST(1 AS BIGINT) << (4 * (8 - i))))) AS hi,
         LIST_SUM(LIST_TRANSFORM(RANGE(9, 17),
           i -> CAST((STRPOS('0123456789abcdef', SUBSTR(m, i, 1)) - 1)
                AS BIGINT) * (CAST(1 AS BIGINT) << (4 * (16 - i))))) AS lo
  FROM (SELECT doc_id, MD5(t) AS m FROM tok)),
-- one vote row per (doc, bit): +1 when the token hash has the bit set, -1
-- otherwise; fingerprint bit b = sign of the vote sum over the token MULTISET
votes AS (
  SELECT doc_id, b,
         2 * SUM(CASE WHEN b < 32 THEN (lo >> b) & 1
                      ELSE (hi >> (b - 32)) & 1 END) - COUNT(*) AS vote
  FROM hp, (SELECT UNNEST(RANGE(0, {_SIMHASH_BITS})) AS b)
  GROUP BY doc_id, b),
bits AS (
  SELECT doc_id, b, CASE WHEN vote > 0 THEN 1 ELSE 0 END AS bit FROM votes),
parts AS (
  SELECT doc_id,
         SUM(CASE WHEN b < 32
             THEN bit * (CAST(1 AS BIGINT) << b) ELSE 0 END) AS fp_lo,
         SUM(CASE WHEN b >= 32
             THEN bit * (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS fp_hi
  FROM bits GROUP BY doc_id),
slices AS (
  SELECT doc_id, b // {_SIMHASH_BPS} AS p,
         SUM(bit * (CAST(1 AS BIGINT) << (b % {_SIMHASH_BPS}))) AS sl
  FROM bits GROUP BY doc_id, b // {_SIMHASH_BPS}),
sz AS (SELECT p, sl, COUNT(*) AS nb FROM slices GROUP BY 1, 2),
-- cap N = HASHED docs (docs that produced a fingerprint), matching the
-- Spark side's window SUM over bucket counts — COUNT(*) FROM documents
-- would include NULL-text docs the fingerprint map drops, silently
-- shifting the cap on corpora with NULL texts
tgt AS (
  SELECT s.doc_id, s.p, s.sl FROM slices s
  JOIN sz ON s.p = sz.p AND s.sl = sz.sl
  WHERE sz.nb <= GREATEST({_SIMHASH_CAP_MIN},
                          (SELECT COUNT(DISTINCT doc_id) FROM slices)
                            // {_SIMHASH_CAP_DIV})),
masks AS (
  SELECT 0 AS msk
  UNION ALL
  SELECT (1 << i) FROM (SELECT UNNEST(RANGE(0, {_SIMHASH_BPS})) AS i)
  UNION ALL
  SELECT (1 << i) | (1 << j)
  FROM (SELECT UNNEST(RANGE(0, {_SIMHASH_BPS})) AS i),
       (SELECT UNNEST(RANGE(0, {_SIMHASH_BPS})) AS j)
  WHERE i < j),
probes AS (SELECT doc_id, p, XOR(sl, msk) AS pv FROM slices, masks),
cand AS (
  SELECT DISTINCT LEAST(a.doc_id, t.doc_id) AS doc_id_1,
                  GREATEST(a.doc_id, t.doc_id) AS doc_id_2
  FROM probes a JOIN tgt t ON a.p = t.p AND a.pv = t.sl
  WHERE a.doc_id != t.doc_id),
ham AS (
  SELECT c.doc_id_1, c.doc_id_2,
         BIT_COUNT(XOR(x.fp_lo, y.fp_lo))
           + BIT_COUNT(XOR(x.fp_hi, y.fp_hi)) AS hamming
  FROM cand c
  JOIN parts x ON c.doc_id_1 = x.doc_id
  JOIN parts y ON c.doc_id_2 = y.doc_id)
SELECT doc_id_1, doc_id_2, CAST(hamming AS BIGINT) AS hamming
FROM ham WHERE hamming <= {_SIMHASH_MAX_HAMMING}
"""


def simhash_codes(spark: SparkSession, sf: str) -> DataFrame:
    """doc_id -> 64-bit SimHash of the token multiset, as two bit_count-able
    32-bit halves (``fp_lo`` bits 0-31, ``fp_hi`` bits 32-63) plus the
    :data:`_SIMHASH_SLICES` 16-bit slice values (slice j = fingerprint bits
    [16j, 16j+16)). Shared by the query and the candidate-growth scale test.

    Per token: 64-bit hash = first 16 hex chars of md5(utf8(token)) -> for
    each bit, vote +1/-1 over the token MULTISET; fingerprint bit b = sign of
    the vote sum. Computed map-only inside one vectorized Arrow batch
    (``mapInPandas``): tokens are factorized so md5 runs once per UNIQUE
    token (hashlib C speed, vocabulary-sized not corpus-sized), then the
    64-bit vote matrix is summed per document with ``np.add.reduceat``. No
    shuffle at all — the fingerprint is a pure per-row function, so this
    scales linearly with the corpus and the only network traffic is the
    multi-probe join. md5 (not pandas' siphash, the round-8 hash) keeps the
    whole pipeline SQL-replayable — the oracle recomputes hash, votes,
    slicing, probe/cap join, and verify exactly.

    MEASURED dead end (do not redo): 64 ``sum(when(h & bit, 1, -1))`` hash
    aggregates over the exploded tokens stay nominally inside codegen but the
    generated aggregate class is so large the JIT keeps deoptimizing —
    3-16 s at sf0.1 with wild run-to-run variance, versus flat ~1 s here.
    """
    return _simhash_map(fan_out(_t(spark, sf, "documents")))


def _simhash_map(d: DataFrame) -> DataFrame:
    """The fingerprint mapInPandas over an arbitrary ``(doc_id, text)`` frame
    (the candidate-growth scale test feeds synthetic replicas, not a
    testdata dir)."""
    nbits = _SIMHASH_BITS
    bps = _SIMHASH_BPS
    n_slices = _SIMHASH_SLICES

    def op(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        shifts = np.arange(nbits, dtype=np.uint64)
        for pdf in batches:
            # NULL text drops out entirely (UNNEST over a NULL STR_SPLIT
            # yields no rows in the oracle); empty text stays — it tokenizes
            # to [''] on both engines
            pdf = pdf[pdf["text"].notna()]
            if not len(pdf):
                continue
            tok_lists = [
                # strip SPACES only: DuckDB TRIM strips ' ' while Python's
                # bare .strip() eats all whitespace — divergent token sets
                # on tab/newline-wrapped text now that the oracle replays
                # tokenization (load-bearing since the md5 switch)
                t.strip(" ").lower().split(" ")
                for t in pdf["text"]
            ]
            lens = np.fromiter((len(tl) for tl in tok_lists), dtype=np.int64)
            flat = np.array([t for tl in tok_lists for t in tl], dtype=object)
            codes, uniq = pd.factorize(flat)
            uh = np.fromiter(
                (
                    int(hashlib.md5(t.encode("utf-8")).hexdigest()[:16], 16)
                    for t in uniq
                ),
                dtype=np.uint64,
                count=len(uniq),
            )
            h = uh[codes]
            bits = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            ones = np.add.reduceat(bits, starts, axis=0)
            votes = 2 * ones - lens[:, None]
            fpbits = (votes > 0).astype(np.int64)  # docs x 64
            pow32 = 1 << np.arange(32, dtype=np.int64)
            powbps = 1 << np.arange(bps, dtype=np.int64)
            lo = (fpbits[:, :32] * pow32).sum(axis=1)
            hi = (fpbits[:, 32:] * pow32).sum(axis=1)
            slices = [
                (fpbits[:, j * bps : (j + 1) * bps] * powbps).sum(axis=1)
                for j in range(n_slices)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "fp_lo": lo,
                    "fp_hi": hi,
                    "slices": np.stack(slices, axis=1).tolist(),
                }
            )

    return d.mapInPandas(
        op, schema="doc_id long, fp_lo long, fp_hi long, slices array<int>"
    )


def simhash_candidates(hashed: DataFrame, distinct: bool = True) -> DataFrame:
    """Distinct verified (doc_id_1 < doc_id_2, hamming) pairs from the hashed
    frame: radius-2 multi-probe join per slice position, target buckets
    capped at max(:data:`_SIMHASH_CAP_MIN`, N // :data:`_SIMHASH_CAP_DIV`),
    exact popcount verify inside the join projection, hamming <=
    :data:`_SIMHASH_MAX_HAMMING` filter BEFORE the distinct.
    ``distinct=False`` returns the raw unfiltered join output (the work
    metric the candidate-growth scale test measures)."""
    sl = hashed.select(
        "doc_id", "fp_lo", "fp_hi", F.posexplode("slices").alias("p", "sl")
    )
    sz = sl.groupBy("p", "sl").agg(F.count("*").alias("nb"))
    # N derived in-plan (sum of bucket counts within any one position is the
    # doc count) — no driver round-trip for the scale-relative cap
    total = F.sum("nb").over(W.partitionBy("p"))
    cap = F.greatest(
        F.lit(_SIMHASH_CAP_MIN),
        (total / F.lit(_SIMHASH_CAP_DIV)).cast("long"),
    )
    capped = (
        sz.withColumn("cap", cap)
        .filter(F.col("nb") <= F.col("cap"))
        .select("p", "sl")
    )
    tgt = sl.join(capped, ["p", "sl"])
    masks = [0]
    masks += [1 << i for i in range(_SIMHASH_BPS)]
    masks += [
        (1 << i) | (1 << j)
        for i in range(_SIMHASH_BPS)
        for j in range(i + 1, _SIMHASH_BPS)
    ]
    # probe generation as a HOF over a mask-array LITERAL: one 137-element
    # constant + one codegen'd lambda, measured 3x faster than exploding an
    # array() of 137 per-mask XOR expressions (0.21 s vs 0.68 s for the
    # probe stage at sf0.1 — the wide CreateArray bloats the generated
    # class the same way the kmeans centroid literals did). MEASURED dead
    # ends at this scale (round 10, interleaved best-of-6, do not redo
    # without re-measuring): a broadcast LEFT SEMI of the probes against
    # the capped-bucket keys (bounded at 2^16 x 4 rows) pays more in
    # broadcast build than the pruned shuffle saves; salting the target
    # side 8x for hot-bucket output skew is a wash here (per-key output
    # is sub-second) — revisit salting only if a real corpus shows a
    # single (p, bucket) key dominating the join output.
    probes = sl.select(
        "doc_id",
        "fp_lo",
        "fp_hi",
        "p",
        F.explode(
            F.transform(F.lit(masks), lambda m: F.col("sl").bitwiseXOR(m))
        ).alias("pv"),
    )
    # shuffle_hash, build side = the capped targets: the probe side is 137x
    # its pre-explode size estimate, so the planner would otherwise pick a
    # probe-side BROADCAST join (measured 320 MiB+ spill, OOM on a default
    # driver); at scale both sides are O(N) rows — a shuffled hash join on
    # (p, key) is the right plan at every corpus size
    a, b = probes.alias("a"), tgt.hint("shuffle_hash").alias("b")
    # the verify popcount rides IN the join projection (both sides already
    # carry their fingerprint halves), so radius-false-positives die inside
    # codegen before the distinct — on near-dup-dense corpora the raw join
    # emits ~65x more rows than survive hamming<=8, and distinct-ing then
    # re-joining the fingerprints (the phash shape) was measured 2.3x slower
    # here (12.6 s -> 5.4 s at sf0.1)
    hamming = F.bit_count(
        F.col("a.fp_lo").bitwiseXOR(F.col("b.fp_lo"))
    ) + F.bit_count(F.col("a.fp_hi").bitwiseXOR(F.col("b.fp_hi")))
    joined = a.join(
        b,
        (F.col("a.p") == F.col("b.p"))
        & (F.col("a.pv") == F.col("b.sl"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    ).select(
        F.least("a.doc_id", "b.doc_id").alias("doc_id_1"),
        F.greatest("a.doc_id", "b.doc_id").alias("doc_id_2"),
        hamming.cast("long").alias("hamming"),
    )
    if not distinct:
        return joined
    return joined.filter(
        F.col("hamming") <= _SIMHASH_MAX_HAMMING
    ).distinct()


@query(
    "dedup_simhash",
    oracle=_SIMHASH_ORACLE,
    doc=f"SimHash-{_SIMHASH_BITS} hamming-close pairs (<= {_SIMHASH_MAX_HAMMING} "
    "differing bits) via the Manku permuted multi-table construction: "
    f"{_SIMHASH_SLICES} slices of {_SIMHASH_BPS} bits (2^16 bucket domain per "
    "position), radius-2 multi-probe (137 probe values per position), target "
    f"buckets capped at max({_SIMHASH_CAP_MIN}, N//{_SIMHASH_CAP_DIV}) "
    "(scale-relative, the winnow_overlap precedent — a fixed cap made recall "
    "DEGRADE with corpus size); exact popcount verify inside the join "
    "projection. RECALL GUARANTEE: a missed pair needs >= 3 differing bits "
    "in every slice, i.e. hamming >= 12 — every pair at the declared radius "
    f"{_SIMHASH_MAX_HAMMING} (indeed <= 11) shares a probe-reachable bucket "
    "by pigeonhole, modulo the hot-bucket cap (which the oracle replays "
    "identically, and which other positions cover in practice: MEASURED "
    "recall vs brute force 100% at sf0.1 = 43760/43760, 99.3% at sf0.01 "
    "where the cap floor of 16 excuses 3 pairs; raw candidate join rows "
    "grow 11.6x at 10x organic data — near-linear, pinned by "
    "test_simhash_candidate_growth_subquadratic). The token hash is "
    "md5-derived so the ORACLE REPLAYS THE WHOLE MECHANISM — hash, votes, "
    "slicing, probe/cap join, verify — closing round-8's rows-only gap. "
    "Replaces the 8x8-bit slice join (fixed 2048-bucket domain -> "
    "O(N^2/2048) candidates on any corpus + a recall hole at hamming 8: "
    "8 radius-0 blocks only pigeonhole-guarantee <= 7).",
)
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    # cached for the same reason as the minhash band table: the probe/target
    # self-join would otherwise run the vote aggregate once per branch
    hashed = simhash_codes(spark, sf).cache()
    return simhash_candidates(hashed)


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (semantic dedup)
# --------------------------------------------------------------------------

def _emb_candidate_pairs(
    spark: SparkSession, e: DataFrame, nprobe: int | None = None
) -> DataFrame:
    """Distinct (vec_id_1 < vec_id_2) pairs with round(cosine, 6) ≥
    :data:`_EMB_THRESHOLD` among vectors sharing an inverted list: sqrt(N)
    centroids (vec_id < nlists, broadcast — bounded at ~1e5 rows x 64 dims
    even for a 1e10-row corpus), stable top-:data:`_EMB_NPROBE` assignment
    (ties to the smaller cid, matching the oracle's ROW_NUMBER), exact
    verify as a local matmul per list. Shared by the query and its recall
    test."""
    import math

    import numpy as np
    import pandas as pd

    n = e.count()
    nlists = max(16, math.isqrt(n))
    cpdf = e.filter(F.col("vec_id") < nlists).toPandas()
    if not len(cpdf):
        return spark.createDataFrame([], "vec_id_1 long, vec_id_2 long")
    order = np.argsort(cpdf["vec_id"].to_numpy())
    cm = np.stack(cpdf["embedding"].to_numpy())[order].astype(np.float64)
    cm /= np.sqrt((cm * cm).sum(axis=1, keepdims=True))
    cids = cpdf["vec_id"].to_numpy(dtype=np.int64)[order]
    cb = spark.sparkContext.broadcast((cids, cm))
    thr = _EMB_THRESHOLD
    nprobe = _EMB_NPROBE if nprobe is None else nprobe

    def assign(batches):
        cids, cm = cb.value
        for b in batches:
            if not len(b):
                continue
            m = np.stack(b["embedding"].to_numpy()).astype(np.float64)
            m /= np.sqrt((m * m).sum(axis=1, keepdims=True))
            s = m @ cm.T
            # stable argsort of -s: ties keep ascending-cid order, matching
            # the oracle's ROW_NUMBER (ORDER BY dot DESC, cid)
            top = np.argsort(-s, axis=1, kind="stable")[:, :nprobe]
            rep = np.repeat(np.arange(len(b)), top.shape[1])
            yield pd.DataFrame(
                {
                    "vec_id": b["vec_id"].to_numpy(dtype=np.int64)[rep],
                    "list_id": cids[top].ravel(),
                    "embedding": b["embedding"].iloc[rep].to_numpy(),
                }
            )

    assigned = fan_out(e).mapInPandas(
        assign, schema="vec_id long, list_id long, embedding array<float>"
    )

    def in_list(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        m = np.stack(pdf["embedding"].to_numpy())[order].astype(np.float64)
        m /= np.sqrt((m * m).sum(axis=1, keepdims=True))
        sims = np.round(m @ m.T, 6)
        ii, jj = np.nonzero(np.triu(sims >= thr, k=1))
        return pd.DataFrame({"vec_id_1": ids[ii], "vec_id_2": ids[jj]})

    return (
        assigned.groupBy("list_id")
        .applyInPandas(in_list, schema="vec_id_1 long, vec_id_2 long")
        .distinct()  # a pair sharing both probed lists emits twice
    )


_EMB_THRESHOLD = 0.35  # uniform-random corpus: noise floor ~0.5 (see similarity.py)
# inverted lists each vector joins — THE recall/cost knob. In-list verify
# work is nprobe^2 * N^1.5 * d flops, so the knob trades a constant factor
# (not an asymptotic class) for candidate recall. MEASURED curve vs the
# exact cosine>=0.35 edge set (uniform-random corpus = every edge AT the
# noise floor, the worst case for clustered candidates; wall = best-of-2,
# local[32]):
#   nprobe   sf0.01 recall   sf0.1 recall   sf0.1 wall   10x-organic wall
#      2     125/271 (46%)   1358/4137 (33%)   1.16 s        1.14x
#      4     237/271 (88%)   2901/4137 (70%)   1.06 s        —
#      8     271/271 (100%)  4066/4137 (98%)   1.39 s        1.53x
# Default 8: at the noise floor the extra lists are what buys recall, and
# the wall cost is ~flat at tested scales while the organic 10x ratio
# stays subquadratic. Precision is 1.0 at every setting (exact verify).
_EMB_NPROBE = 8

# nlists scales with the corpus (sqrt(N), floor 16) so in-list pair work is
# O(N^1.5), not O(N^2/const) — the subquery replays the Spark side's
# math.isqrt exactly at any count this engine will see (floats are exact
# for counts < 2^52; a 100 TB corpus is ~1e10 rows)
_EMB_NLISTS_SQL = (
    "(SELECT GREATEST(16, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) FROM embeddings)"
)

_EMB_ORACLE = f"""
WITH unit AS MATERIALIZED (
  SELECT vec_id, {_o_normalize('embedding')} AS u FROM embeddings
),
cent AS MATERIALIZED (
  SELECT vec_id AS cid, u AS cu FROM unit WHERE vec_id < {_EMB_NLISTS_SQL}
),
assign AS MATERIALIZED (
  SELECT vec_id, u, cid FROM (
    SELECT e.vec_id, e.u, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_o_dot('e.u', 'c.cu')} DESC,
                                       c.cid) AS r
    FROM unit e, cent c)
  WHERE r <= {_EMB_NPROBE}
),
edges AS (
  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id != b.vec_id
  WHERE ROUND({_o_dot('a.u', 'b.u')}, 6) >= {_EMB_THRESHOLD}
)
SELECT d.doc_id,
       CAST(COALESCE(LEAST(d.doc_id, MIN(e.dst)), d.doc_id) AS BIGINT)
         AS canonical_id,
       (COALESCE(LEAST(d.doc_id, MIN(e.dst)), d.doc_id) != d.doc_id)
         AS is_duplicate
FROM documents d LEFT JOIN edges e ON d.doc_id = e.src
GROUP BY d.doc_id
"""


@query(
    "dedup_embedding",
    oracle=_EMB_ORACLE,
    doc=f"Semantic (embedding-cosine ≥ {_EMB_THRESHOLD}) near-dup dedup of the "
    "documents table (vec_id ≡ doc_id in the testdata), SemDeDup-shaped: "
    "candidates come from sqrt(N)-scaled inverted lists (deterministic "
    f"corpus-sample centroids, the sim_ivf convention; each vector joins "
    f"its {_EMB_NPROBE} nearest lists), the exact cosine verify runs as a "
    "LOCAL per-list matmul inside applyInPandas (list size ~2·sqrt(N), so "
    "total flops are O(N^1.5·d), embarrassingly parallel across lists), "
    "then each doc canonicalizes to the smallest doc_id among itself and "
    "its direct neighbors — one union-find hop, the standard single-pass "
    "semantic-dedup policy. Replaces the r7 exact all-pairs O(N²·d) "
    "matmul kernel (organic 10x cliff measured 8.22x wall) — that exact "
    "contract now lives only in sim_pairs_threshold. The oracle replays "
    "centroid choice, top-2 assignment, in-list pairing, and verify "
    "exactly. MEASURED recall vs the exact cosine≥0.35 edge set (see the "
    "nprobe curve at _EMB_NPROBE): 100% at sf0.01, 98% at sf0.1 with the "
    f"default nprobe={_EMB_NPROBE}, precision 1.0 (every emitted pair is "
    "exact-verified) — uniform-random embeddings put every edge AT the "
    "noise floor, the hard case for clustered candidates; real near-dup "
    "corpora (SemDeDup prunes at 0.95+) sit far above it where "
    "shared-nearest-centroid probability is high. Pinned by "
    "test_dedup_embedding_candidate_recall. Hot-list skew pre-flight: "
    "sim_ivf_balance.",
)
def dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    pairs = _emb_candidate_pairs(spark, e)
    # explode-symmetrize: one evaluation of the per-list scoring pass instead
    # of two (a unionAll of pairs with its swap runs the pairing per branch)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec_id_1").alias("doc_id"), F.col("vec_id_2").alias("nbr")
                ),
                F.struct(
                    F.col("vec_id_2").alias("doc_id"), F.col("vec_id_1").alias("nbr")
                ),
            )
        ).alias("e")
    ).select("e.doc_id", "e.nbr")
    nbr_min = edges.groupBy("doc_id").agg(F.min("nbr").alias("min_nbr"))
    d = _t(spark, sf, "documents").select("doc_id")
    canonical = F.coalesce(F.least(F.col("doc_id"), F.col("min_nbr")), F.col("doc_id"))
    return d.join(nbr_min, "doc_id", "left").select(
        "doc_id",
        canonical.alias("canonical_id"),
        (canonical != F.col("doc_id")).alias("is_duplicate"),
    )


# --------------------------------------------------------------------------
# Transitive dedup clusters (connected components)
# --------------------------------------------------------------------------

_CC_MAX_ITERS = 15

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE
sh AS (
  SELECT doc_id,
         LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(w) - 1, 1)),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
           AS shingles
  FROM (SELECT doc_id, STR_SPLIT(TRIM(LOWER(text)), ' ') AS w FROM documents)
),
ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT d1, d2 FROM pairs p
  JOIN sh s1 ON p.d1 = s1.doc_id JOIN sh s2 ON p.d2 = s2.doc_id
  WHERE p.n_common * 1.0 / (LEN(s1.shingles) + LEN(s2.shingles) - p.n_common)
        >= {_JACCARD_THRESHOLD}
),
sym AS (SELECT d1 AS src, d2 AS dst FROM edges
        UNION ALL SELECT d2, d1 FROM edges),
reach(node, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.lab FROM sym e JOIN reach r ON e.dst = r.node
)
SELECT node AS doc_id,
       CAST(MIN(lab) AS BIGINT) AS cluster_id,
       MIN(lab) != node AS is_duplicate
FROM reach GROUP BY node
"""


@query(
    "dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    doc="Transitive near-dup clustering (connected components over the exact "
    "Jaccard edge set): pairwise edges alone can't dedup a corpus — A~B and "
    "B~C must collapse into one group even when A!~C. Iterative min-label "
    "propagation: each round every doc takes the min cluster id among itself "
    "and its neighbors; converges in O(component diameter) rounds (near-dup "
    "components are shallow), each round one distributed join + aggregate "
    "with localCheckpoint() truncating the plan lineage. The oracle is the "
    "same closure as a DuckDB recursive CTE. Two scale properties: (1) the "
    "iteration runs ONLY on the edge-subgraph — docs with no near-dup edge "
    "are singletons by construction and join back in one final left join, so "
    "per-round cost tracks |near-dup docs|, not |corpus|; (2) convergence is "
    "detected inside the same per-round aggregate (own-label rides along as "
    "a tagged row), no extra join+scan per round. At web scale swap in the "
    "large-star/small-star formulation (alternating min-propagation that "
    "contracts paths in O(log n) rounds); the per-round dataflow is identical.",
)
def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents").select("doc_id")
    pairs = ngram_jaccard_pairs(spark, sf).select("doc_id_1", "doc_id_2")
    # symmetrize by exploding each pair into both directions — a union with a
    # swapped self would EVALUATE the whole pairs pipeline (shingle join +
    # aggregate) twice, once per branch; the explode is map-only on one pass
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_id_1").alias("doc_id_1"),
                        F.col("doc_id_2").alias("doc_id_2"),
                    ),
                    F.struct(
                        F.col("doc_id_2").alias("doc_id_1"),
                        F.col("doc_id_1").alias("doc_id_2"),
                    ),
                )
            ).alias("e")
        )
        .select("e.doc_id_1", "e.doc_id_2")
        # EAGER on purpose: round 1's job consumes this frame in TWO
        # concurrent subtrees (the labels-init aggregate and the nbr join);
        # a lazy checkpoint materializes in a per-partition cache race there
        # and the expensive pairs pipeline runs ~twice (observed: BlockManager
        # "already exists" warnings + isolated 4.2s vs 3.0s). Eager pays one
        # dedicated job but evaluates the pairs pipeline exactly once.
        .localCheckpoint()
    )
    # only edge-touched nodes can ever change label; everything else is a
    # singleton cluster and skips the iteration entirely. Per-round shuffles
    # on this (usually tiny) subgraph are right-sized by AQE partition
    # coalescing — no explicit repartition pass, no extra sizing job.
    # Initialization IS the first propagation round: label = min(self,
    # neighbors) from one aggregate over the symmetric edges (the identical
    # shuffle a distinct-nodes init would pay), so the loop below starts one
    # hop ahead — one fewer join+checkpoint+count round to convergence.
    labels = (
        edges.groupBy("doc_id_1")
        .agg(
            F.min(F.least(F.col("doc_id_1"), F.col("doc_id_2"))).alias(
                "cluster_id"
            )
        )
        .select(F.col("doc_id_1").alias("doc_id"), "cluster_id")
        .localCheckpoint(eager=False)
    )
    for _ in range(_CC_MAX_ITERS):
        own = labels.select("doc_id", "cluster_id", F.lit(True).alias("is_own"))
        nbr = (
            edges.join(labels.withColumnRenamed("doc_id", "doc_id_2"), "doc_id_2")
            .select(
                F.col("doc_id_1").alias("doc_id"),
                "cluster_id",
                F.lit(False).alias("is_own"),
            )
        )
        merged = (
            own.union(nbr)
            .groupBy("doc_id")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                F.min(F.when(F.col("is_own"), F.col("cluster_id"))).alias("old_id"),
            )
            .localCheckpoint(eager=False)  # truncate lineage (the changed-
            # count below materializes it); iterative joins otherwise
            # stack an unbounded plan
        )
        changed = merged.filter(F.col("cluster_id") != F.col("old_id")).count()
        labels = merged.select("doc_id", "cluster_id")
        if changed == 0:
            break
    return (
        docs.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") != F.col("cluster_id")).alias("is_duplicate"),
        )
    )


# --------------------------------------------------------------------------
# Keep-best dedup (canonical-selection policy)
# --------------------------------------------------------------------------


@query(
    "dedup_keep_best",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             MD5(text) AS text_md5,
             ROW_NUMBER() OVER (PARTITION BY MD5(text)
                                ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY MD5(text)) AS group_size
      FROM documents
    )
    SELECT doc_id, source, text_md5,
           CAST(group_size AS BIGINT) AS group_size,
           (rn != 1) AS is_dropped
    FROM ranked
    """,
    doc="Keep-best dedup: exact-duplicate groups keep the highest-quality "
    "member (longest text, doc_id tie-break) instead of the arbitrary "
    "first-seen — the canonical-selection policy real corpus dedup uses "
    "(prefer the canonical URL / least-truncated copy). One hash aggregate "
    "on md5(text) with max_by over the (n_chars, -doc_id) ordering struct "
    "computes each group's winner with map-side partial aggregation; the "
    "per-doc verdict is a broadcast-joinable lookup of winners back onto "
    "the corpus when groups are small, or the window formulation (the "
    "oracle) when they aren't. Shuffle carries (hash, winner-candidate) "
    "partials — at 100 TB this is the cheapest dedup pass there is.",
)
def dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    h = F.md5(F.col("text").cast("binary"))
    d = d.select("doc_id", "source", "n_chars", h.alias("text_md5"))
    winners = d.groupBy("text_md5").agg(
        F.max_by(
            F.col("doc_id"),
            F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")),
        ).alias("keep_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return d.join(winners, "text_md5").select(
        "doc_id",
        "source",
        "text_md5",
        F.col("group_size").cast("long").alias("group_size"),
        (F.col("doc_id") != F.col("keep_id")).alias("is_dropped"),
    )


# --------------------------------------------------------------------------
# Cross-corpus near-dup (doc-level train/eval contamination)
# --------------------------------------------------------------------------

_XC_MOD = 50  # doc_id % 50 == 0 plays the eval corpus (as in text_decontaminate)

_XC_ORACLE = f"""
SELECT doc_id_1, doc_id_2, jaccard FROM ({_NGRAM_ORACLE})
WHERE (doc_id_1 % {_XC_MOD} = 0) != (doc_id_2 % {_XC_MOD} = 0)
"""


@query(
    "dedup_cross_corpus",
    oracle=_XC_ORACLE,
    doc="Doc-level train/eval contamination: near-dup pairs that CROSS the "
    "corpus boundary (one side in the held-out eval set, one in training) — "
    "the whole-document complement of text_decontaminate's n-gram overlap "
    "(a paraphrased eval doc shares most shingles without sharing a "
    "verbatim 5-gram run). Built on the exact shingle-hash join (shared "
    "cached feature stage with the other dedup operators) with the "
    "cross-corpus predicate applied to the pair stream; at 100 TB swap the "
    "pair source for dedup_minhash_lsh's banded-LSH candidates and push "
    "the corpus-membership filter below the band join so only crossing "
    "candidates are verified. Oracle = the exact shingle-join restricted "
    "to crossing pairs.",
)
def dedup_cross_corpus(spark: SparkSession, sf: str) -> DataFrame:
    pairs = ngram_jaccard_pairs(spark, sf)
    is_eval_1 = F.col("doc_id_1") % _XC_MOD == 0
    is_eval_2 = F.col("doc_id_2") % _XC_MOD == 0
    return pairs.filter(is_eval_1 != is_eval_2).select(
        "doc_id_1", "doc_id_2", "jaccard"
    )


# --------------------------------------------------------------------------
# Persisted MinHash-LSH band index (near-dup lookups against a corpus at rest)
# --------------------------------------------------------------------------

_IDX_QUERY_MOD = 10  # doc_id % 10 == 0 plays the incoming query batch
_IDX_BUCKETS = 32  # band-signature hash buckets = index partition dirs


def _point_symlink(index_dir: str, name: str, target: str) -> None:
    """Atomically (re)point ``index_dir/name`` at the relative ``target``
    dir: create a uniquely-named link, then ``os.replace`` over the stable
    name — POSIX rename is atomic, so readers resolve either the old or the
    new version, never a missing path."""
    import uuid

    tmp = os.path.join(index_dir, f".{name}.lnk-{uuid.uuid4().hex[:8]}")
    os.symlink(target, tmp)
    os.replace(tmp, os.path.join(index_dir, name))


def build_minhash_index(
    spark: SparkSession,
    sf: str,
    index_dir: str,
    docs: DataFrame | None = None,
) -> None:
    """Materialize the LSH index at rest: the exploded band table written
    PARTITIONED BY a band-signature bucket, plus a shingle-hash sidecar for
    exact verification.

    The dedup twin of ``build_ivf_index``: at 100 TB the signature pass runs
    once; each incoming batch then probes only the partition dirs its own
    band signatures hash into — Spark's partition pruning turns the bucket
    filter into "don't open those files". Re-sharding (different bucket
    count) is a rewrite, so callers version ``index_dir``.
    """
    # localCheckpoint: bands + sidecar are two write actions over this
    # lineage — one Python signature pass instead of two
    feats = minhash_features(spark, sf, docs=docs).localCheckpoint(eager=False)
    bands = feats.select(
        "doc_id", F.posexplode("band_sigs").alias("band", "band_sig")
    ).withColumn(
        "bucket", F.pmod(F.col("band_sig") + F.col("band"), F.lit(_IDX_BUCKETS))
    )
    # repartition ON the partition column first: otherwise every writer task
    # drops a file into every bucket dir it touches (MEASURED: ~27 small
    # files per bucket; each probe then pays hundreds of file opens) —
    # after, exactly one file per bucket dir
    # SYMLINK current-pointer layout: data lives in versioned dirs, the
    # stable names `bands`/`features` are symlinks — compaction can then
    # publish a rewritten version ATOMICALLY (os.replace on the link), so a
    # concurrent probe never observes a missing directory
    os.makedirs(index_dir, exist_ok=True)
    bands.repartition("bucket").write.partitionBy("bucket").mode(
        "overwrite"
    ).parquet(index_dir + "/bands-v0")
    feats.select("doc_id", "shingle_hashes").coalesce(4).write.mode(
        "overwrite"
    ).parquet(index_dir + "/features-v0")
    for sub in ("bands", "features"):
        _point_symlink(index_dir, sub, f"{sub}-v0")


def minhash_index_probe(
    spark: SparkSession, sf: str, index_dir: str, query_docs: DataFrame
) -> DataFrame:
    """Near-dup pairs between a query batch and the indexed corpus: signature
    the queries (map-only, query batch ONLY), probe just the matching bucket
    partitions, then exact-verify candidates from the index's shingle
    sidecar."""
    # localCheckpoint: the probe runs TWO actions over this lineage (the
    # distinct-bucket collect below, then the caller's sink write) — without
    # materialization the Python minhash pass runs twice per batch
    # (MEASURED on pipeline_dedup_gate: ~4.5s → ~3.2s at sf0.1)
    qf = minhash_features(spark, sf, docs=query_docs).localCheckpoint(eager=False)
    qbands = qf.select(
        F.col("doc_id").alias("q_id"),
        F.posexplode("band_sigs").alias("band", "band_sig"),
    ).withColumn(
        "bucket", F.pmod(F.col("band_sig") + F.col("band"), F.lit(_IDX_BUCKETS))
    )
    probes = [r.bucket for r in qbands.select("bucket").distinct().collect()]
    idx = spark.read.parquet(index_dir + "/bands").filter(
        F.col("bucket").isin(probes)  # static partition filter → file skipping
    )
    cands = (
        qbands.drop("bucket")
        .join(idx.drop("bucket"), ["band", "band_sig"])
        .filter(F.col("doc_id") != F.col("q_id"))
        .select(
            F.least("q_id", "doc_id").alias("doc_id_1"),
            F.greatest("q_id", "doc_id").alias("doc_id_2"),
        )
        .distinct()
    )
    feats_idx = spark.read.parquet(index_dir + "/features")
    s1 = feats_idx.select(
        F.col("doc_id").alias("doc_id_1"), F.col("shingle_hashes").alias("sh1")
    )
    s2 = feats_idx.select(
        F.col("doc_id").alias("doc_id_2"), F.col("shingle_hashes").alias("sh2")
    )
    n_common = F.size(F.array_intersect("sh1", "sh2"))
    jac = n_common * F.lit(1.0) / (
        F.size("sh1") + F.size("sh2") - n_common
    )
    return (
        cands.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .withColumn("raw_jac", jac)
        .filter(F.col("raw_jac") >= _JACCARD_THRESHOLD)
        .select(
            "doc_id_1",
            "doc_id_2",
            n_common.cast("long").alias("n_common"),
            F.round("raw_jac", 6).alias("jaccard"),
        )
    )


@query(
    "dedup_minhash_index",
    oracle=f"""
    SELECT * FROM ({_NGRAM_ORACLE})
    WHERE doc_id_1 % {_IDX_QUERY_MOD} = 0 OR doc_id_2 % {_IDX_QUERY_MOD} = 0
    """,
    doc="PERSISTED MinHash-LSH index + query-batch probe: the corpus band "
    f"table lives on disk partitioned by signature bucket ({_IDX_BUCKETS} "
    "dirs) with a shingle-hash sidecar; an incoming batch (doc_id % "
    f"{_IDX_QUERY_MOD} == 0 plays the role) is signatured map-only, probes "
    "ONLY its buckets' partition dirs (file skipping at rest — the dedup "
    "twin of sim_ivf_index_topk), and candidates are exact-verified from "
    "the sidecar. Oracle = the exact all-pairs SQL restricted to pairs "
    "touching the query split, so the hash match also certifies index "
    "completeness: every true near-dup pair must survive the "
    "index-build→persist→probe round trip.",
)
def dedup_minhash_index(spark: SparkSession, sf: str) -> DataFrame:
    index_dir = ensure_minhash_index(spark, sf)
    queries = _t(spark, sf, "documents").filter(
        F.col("doc_id") % _IDX_QUERY_MOD == 0
    )
    return minhash_index_probe(spark, sf, index_dir, queries)


def ensure_minhash_index(spark: SparkSession, sf: str) -> str:
    """Build-once accessor for the persisted LSH index of a corpus dir.

    The tag versions the index LAYOUT too: bucket count, hash family size,
    banding, and threshold all change what is on disk — reusing an index
    built under different constants would silently drop candidate pairs.
    Completion = the writer's _SUCCESS commit marker, not bare existence.
    """
    # v3: symlink current-pointer layout (atomic compaction publish);
    # v2 was one-file-per-bucket bands (repartition before partitionBy)
    layout = f"{_IDX_BUCKETS}:{_MINHASH_K}:{_LSH_BANDS}:{_JACCARD_THRESHOLD}:v3"
    index_dir = cache_dir("mhidx", sf, "documents", salt=layout)
    if not os.path.exists(index_dir + "/features/_SUCCESS"):
        build_minhash_index(spark, sf, index_dir)
    return index_dir


def minhash_index_add(
    spark: SparkSession, sf: str, index_dir: str, new_docs: DataFrame
) -> None:
    """Grow a persisted LSH index without rebuild: signature the NEW batch
    only (one map-only pass), append its band rows into the existing bucket
    partition dirs and its shingle sidecar rows alongside — existing files
    are never read or rewritten. The hash family and bucketing are frozen
    constants of the layout (the IVF frozen-quantizer argument,
    `similarity.py` sim_ivf_incremental_add), so a grown index is
    content-identical to a one-shot build over the union. Append is NOT
    idempotent — callers own crash-safety (stage + atomic publish, as
    ``dedup_index_add`` does)."""
    feats = minhash_features(spark, sf, docs=new_docs).localCheckpoint(eager=False)
    bands = feats.select(
        "doc_id", F.posexplode("band_sigs").alias("band", "band_sig")
    ).withColumn(
        "bucket", F.pmod(F.col("band_sig") + F.col("band"), F.lit(_IDX_BUCKETS))
    )
    bands.repartition("bucket").write.partitionBy("bucket").mode(
        "append"
    ).parquet(index_dir + "/bands")
    feats.select("doc_id", "shingle_hashes").coalesce(1).write.mode(
        "append"
    ).parquet(index_dir + "/features")


def minhash_index_compact(spark: SparkSession, index_dir: str) -> None:
    """Merge the small files accumulated by incremental adds back to the
    built layout (ONE file per bucket dir): probe cost is file-opens per
    probed bucket, and every add leaves one more file in every touched
    bucket — nightly compaction restores build-time probe cost without
    touching index CONTENT. The rewrite lands in a fresh versioned dir and
    is published by an ATOMIC symlink flip (`_point_symlink`), so a
    concurrent probe always resolves a complete version — old or new,
    never a missing path; a crash leaves the old version live and the
    half-written new dir as sweepable garbage. Maintenance (who runs
    compact) is single-writer by contract, like any table-format
    compaction job."""
    import shutil
    import uuid

    run = uuid.uuid4().hex[:8]
    for sub, part_col, n in (("bands", "bucket", None), ("features", None, 4)):
        live = f"{index_dir}/{sub}"
        if not os.path.islink(live):
            # legacy real-dir layout (pre-symlink builds): migrate once.
            # The rename pair below is the only non-atomic window and only
            # for indexes built by an older version — tags version layouts,
            # so in practice new indexes are symlinked from birth.
            os.rename(live, f"{live}-v0")
            _point_symlink(index_dir, sub, f"{sub}-v0")
        old_target = os.readlink(live)
        new_target = f"{sub}-compact-{run}"
        new_path = os.path.join(index_dir, new_target)
        df = spark.read.parquet(live)
        if part_col:
            df.repartition(part_col).write.partitionBy(part_col).mode(
                "overwrite"
            ).parquet(new_path)
        else:
            df.coalesce(n).write.mode("overwrite").parquet(new_path)
        _point_symlink(index_dir, sub, new_target)
        shutil.rmtree(os.path.join(index_dir, old_target), ignore_errors=True)


_IDX_ADD_MOD = 3  # doc_id % 3 == 1 plays the newly ingested batch


@query(
    "dedup_index_add",
    # full-rebuild equivalence: the grown+compacted index must answer the
    # SAME probe identically to dedup_minhash_index's one-shot build, so the
    # same exact all-pairs oracle certifies add + compact end-to-end
    oracle=f"""
    SELECT * FROM ({_NGRAM_ORACLE})
    WHERE doc_id_1 % {_IDX_QUERY_MOD} = 0 OR doc_id_2 % {_IDX_QUERY_MOD} = 0
    """,
    doc="LSH index GROWTH + COMPACTION without rebuild: the base index is "
    f"built over two thirds of the corpus, the rest (doc_id % {_IDX_ADD_MOD} "
    "== 1 plays a newly ingested batch) is signatured in one map-only pass "
    "and APPENDED into the existing bucket partition dirs (existing files "
    "never read), then compaction merges each bucket back to one file — "
    "the nightly-ingest lifecycle of a dedup index at rest. The whole "
    "build→add→compact runs in a private staging dir published by one "
    "atomic rename (append is not idempotent; a crashed run must never "
    "leave a double-appended index). The oracle is dedup_minhash_index's "
    "exact all-pairs SQL: hash-equality certifies the grown index is "
    "content-identical to a one-shot build AND that probes see the added "
    "documents. Probe-identity across compaction is pinned separately in "
    "tests (invariant, not parity). At 100 TB: add cost is one pass over "
    "the new batch; compact cost is one read+write of the band table, "
    "amortized over every probe it speeds up.",
)
def dedup_index_add(spark: SparkSession, sf: str) -> DataFrame:
    import shutil
    import uuid

    layout = (
        f"{_IDX_BUCKETS}:{_MINHASH_K}:{_LSH_BANDS}:{_JACCARD_THRESHOLD}"
        f":add{_IDX_ADD_MOD}:v2"
    )
    index_dir = cache_dir("mhadd", sf, "documents", salt=layout)
    if not os.path.isdir(index_dir):
        staging = f"{index_dir}.staging-{uuid.uuid4().hex[:8]}"
        d = _t(spark, sf, "documents")
        build_minhash_index(
            spark, sf, staging, docs=d.filter(F.col("doc_id") % _IDX_ADD_MOD != 1)
        )
        minhash_index_add(
            spark, sf, staging, d.filter(F.col("doc_id") % _IDX_ADD_MOD == 1)
        )
        minhash_index_compact(spark, staging)
        try:
            os.rename(staging, index_dir)
        except OSError:  # lost the publish race — use the winner's index
            shutil.rmtree(staging, ignore_errors=True)
    queries = _t(spark, sf, "documents").filter(
        F.col("doc_id") % _IDX_QUERY_MOD == 0
    )
    return minhash_index_probe(spark, sf, index_dir, queries)


# --------------------------------------------------------------------------
# Substring-level (span) duplication — the "dedup below document granularity"
# signal
# --------------------------------------------------------------------------

_SPAN_N = 8  # tokens per span; long enough that cross-doc repeats mean real copying


_SUBSTRING_ORACLE = f"""
WITH t AS (SELECT doc_id, STR_SPLIT(TRIM(LOWER(text)), ' ') AS w FROM documents),
g AS (
  SELECT doc_id, UNNEST({o_shingles('w', _SPAN_N, distinct=False)}) AS gram FROM t
),
dup AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(COUNT(d.gram) AS BIGINT) AS n_dup_spans,
       ROUND(COUNT(d.gram) * 1.0 / COUNT(*), 6) AS dup_frac
FROM g LEFT JOIN dup d ON g.gram = d.gram
GROUP BY g.doc_id
"""


@query(
    "dedup_substring",
    oracle=_SUBSTRING_ORACLE,
    doc=f"Substring-level duplication (dedup BELOW document granularity, the "
    "train-data signal document-level methods miss: boilerplate, quoted "
    f"passages, licence blocks): every overlapping {_SPAN_N}-token span is "
    "hashed map-side, spans appearing in >1 distinct document are flagged, "
    "and each document gets its duplicated-span fraction — the per-doc "
    "score used to drop or trim heavily-copied text. Both shuffles move "
    "8-byte span hashes, never span text; at 100 TB the span table is "
    "O(tokens) rows of 16 bytes and the duplicated-span set is the small "
    "side (re-broadcastable). A cross-doc hash collision perturbs one count "
    "with odds ~spans²/2^64 — the same 1e-13 argument as the Jaccard join.",
)
def dedup_substring(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").select("doc_id", tokens("text").alias("w"))
    g = fan_out(d).select(
        "doc_id",
        F.explode(shingles_of_tokens("w", _SPAN_N, distinct=False)).alias("gram"),
    )
    # join key = 64-bit hash of the span (the oracle groups on the string; the
    # hash only changes shuffle bytes, not the grouping, absent a collision)
    g = g.select("doc_id", F.xxhash64("gram").alias("s"))
    dup = (
        g.groupBy("s")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("s", F.lit(1).alias("is_dup"))
    )
    per = (
        g.join(dup, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.coalesce(F.sum("is_dup"), F.lit(0)).cast("long").alias("n_dup_spans"),
        )
    )
    return per.select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        F.round(F.col("n_dup_spans") * F.lit(1.0) / F.col("n_spans"), 6).alias(
            "dup_frac"
        ),
    )


# --------------------------------------------------------------------------
# Bloom-filter decontamination (constant-size broadcast membership filter)
# --------------------------------------------------------------------------
#
# text_decontaminate broadcasts the eval set's DISTINCT GRAM STRINGS — fine
# while the eval corpus is small, but the broadcast grows with eval-set
# vocabulary. The Bloom formulation broadcasts a CONSTANT-SIZE bit set instead
# (m bits regardless of how many grams set them), probes it map-side, and only
# the tiny bloom-positive shortlist ever joins the true gram table for exact
# verification. This is the standard shape for membership pre-filters at
# 100 TB: the filter rides to every executor once; corpus grams never shuffle.
#
# Hash family: double hashing from two independent 32-bit halves of md5(gram)
# — position_i = (h1 + i·(2·h2+1)) mod m, i < k. Deterministic and identical
# in Spark and DuckDB, so the oracle replays the filter bit-for-bit, false
# positives included (the output exposes them: n_candidate_grams counts bloom
# hits, n_true_grams the exactly-verified subset).

_BLOOM_M = 1 << 14  # bits — deliberately small so false positives occur and
#                     the exact-verify stage is provably load-bearing
_BLOOM_K = 3  # probes per key
_BLOOM_EVAL_MOD = 20  # doc_id % 20 == 0 plays the held-out eval corpus
_BLOOM_N = 5  # word n-gram width (the decontamination standard)

_BLOOM_ORACLE = f"""
WITH tk AS (SELECT doc_id, STR_SPLIT(TRIM(LOWER(text)), ' ') AS w FROM documents),
g AS (SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(w) - {_BLOOM_N - 2}, 1)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                    || ' ' || w[i+4])) AS grams
      FROM tk),
eg AS (SELECT DISTINCT UNNEST(grams) AS gram FROM g
       WHERE doc_id % {_BLOOM_EVAL_MOD} = 0),
bits AS (
  SELECT DISTINCT UNNEST(LIST_TRANSFORM(RANGE(0, {_BLOOM_K}),
           i -> (h1 + i * h2) % {_BLOOM_M})) AS pos
  FROM (SELECT
          CAST(('0x' || SUBSTRING(MD5(gram), 1, 8))::UBIGINT AS BIGINT) AS h1,
          CAST(('0x' || SUBSTRING(MD5(gram), 9, 8))::UBIGINT AS BIGINT) * 2 + 1 AS h2
        FROM eg)),
cg AS (SELECT doc_id, UNNEST(grams) AS gram FROM g
       WHERE doc_id % {_BLOOM_EVAL_MOD} != 0),
cp AS (SELECT doc_id, gram,
              LIST_DISTINCT(LIST_TRANSFORM(RANGE(0, {_BLOOM_K}),
                i -> (h1 + i * h2) % {_BLOOM_M})) AS plist
       FROM (SELECT doc_id, gram,
               CAST(('0x' || SUBSTRING(MD5(gram), 1, 8))::UBIGINT AS BIGINT) AS h1,
               CAST(('0x' || SUBSTRING(MD5(gram), 9, 8))::UBIGINT AS BIGINT) * 2 + 1
                 AS h2
             FROM cg)),
hits AS (
  SELECT doc_id, gram
  FROM (SELECT doc_id, gram, LEN(plist) AS np, UNNEST(plist) AS pos FROM cp) c
  JOIN bits USING (pos)
  GROUP BY doc_id, gram, np
  HAVING COUNT(*) = np),
cand AS (SELECT doc_id, COUNT(*) AS n_cand FROM hits GROUP BY doc_id),
truth AS (SELECT h.doc_id, COUNT(*) AS n_true
          FROM hits h JOIN eg USING (gram) GROUP BY h.doc_id)
SELECT c.doc_id,
       CAST(c.n_cand AS BIGINT) AS n_candidate_grams,
       CAST(COALESCE(t.n_true, 0) AS BIGINT) AS n_true_grams,
       COALESCE(t.n_true, 0) > 0 AS is_contaminated
FROM cand c LEFT JOIN truth t USING (doc_id)
"""


@query(
    "dedup_bloom",
    oracle=_BLOOM_ORACLE,
    doc=f"Bloom-filter decontamination pre-filter: the eval corpus's word "
    f"{_BLOOM_N}-grams set k={_BLOOM_K} md5-double-hashed bits in an "
    f"m={_BLOOM_M}-bit filter; training grams probe it MAP-SIDE (broadcast "
    "join on bit position — constant-size regardless of eval vocabulary) and "
    "only bloom-positive grams reach the exact-verify join against the true "
    "gram set. m is deliberately small here so false positives occur and the "
    "verify stage is observably load-bearing (n_candidate_grams > "
    "n_true_grams). At 100 TB: the filter is m/8 bytes per executor, the "
    "corpus side is one map-only pass, and the exact join touches only the "
    "shortlist.",
)
def dedup_bloom(spark: SparkSession, sf: str) -> DataFrame:
    # fan_out: the gram+md5 explode is the dominant cost and the testdata
    # files are single-row-group (unsplittable) — without the repartition the
    # whole corpus hashes on ONE core (measured 3.3s -> 1.4s at sf0.1)
    d = fan_out(_t(spark, sf, "documents"))
    toks = d.select("doc_id", tokens("text").alias("_w"))
    grams = toks.select(
        "doc_id", F.explode(shingles_of_tokens("_w", _BLOOM_N)).alias("gram")
    )
    h1 = F.conv(F.substring(F.md5(F.col("gram").cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )
    h2 = (
        F.conv(F.substring(F.md5(F.col("gram").cast("binary")), 9, 8), 16, 10).cast(
            "long"
        )
        * 2
        + 1
    )
    plist = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.lit(_BLOOM_K - 1)),
            lambda i: (h1 + i * h2) % _BLOOM_M,
        )
    )
    is_eval = F.col("doc_id") % _BLOOM_EVAL_MOD == 0
    # Deliberately NOT cached: the doc_id filters below push PAST the explode
    # to the parquet scan, so the two eval branches each re-explode only the
    # 5% eval slice while the corpus branch runs once — ~1.05 passes total,
    # fully parallel. Caching materializes the whole positioned gram stream
    # to save that 5%, a measured net loss (1.8s vs 1.4s cold at sf0.1).
    gp = grams.select("doc_id", "gram", plist.alias("plist"))
    eg = gp.filter(is_eval).select("gram").distinct()
    bits = (
        gp.filter(is_eval)
        .select(F.explode("plist").alias("pos"))
        .distinct()
    )
    corpus = gp.filter(~is_eval).select(
        "doc_id", "gram", F.size("plist").alias("np"), F.explode("plist").alias("pos")
    )
    hits = (
        corpus.join(F.broadcast(bits), "pos")
        .groupBy("doc_id", "gram", "np")
        .agg(F.count(F.lit(1)).alias("nhit"))
        .filter(F.col("nhit") == F.col("np"))
        .select("doc_id", "gram")
    )
    cand = hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_cand"))
    # exact verify: shuffle join — HITS is the small side (the bloom-positive
    # shortlist), never broadcast eg: shipping the full eval gram vocabulary
    # to every executor is exactly the growth this operator exists to avoid
    truth = (
        hits.join(eg, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    return cand.join(truth, "doc_id", "left").select(
        "doc_id",
        F.col("n_cand").cast("long").alias("n_candidate_grams"),
        F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true_grams"),
        (F.coalesce("n_true", F.lit(0)) > 0).alias("is_contaminated"),
    )


# --------------------------------------------------------------------------
# Edit-distance near-dup (Levenshtein verify on an inverted-index shortlist)
# --------------------------------------------------------------------------
#
# Character-level near-duplication for pairs the set-based methods can't
# certify: the Levenshtein DP is O(|a|·|b|) per pair, so the design problem is
# never the distance itself but WHICH pairs compute it. Candidates come from
# the shingle inverted index with a common-count pre-filter (share at least a
# quarter of the smaller doc's shingles) — a count aggregate, no DP — and only
# that shortlist pays the quadratic verify. At 100 TB: the index join is the
# same bounded shape dedup_ngram_jaccard commits to, and DP cost is
# |shortlist| · doclen², independent of corpus size.

_EDIT_REL_MAX = 0.30  # keep pairs with lev ≤ 30% of the longer doc


_EDIT_ORACLE = f"""
WITH {_PAIR_CTES},
cand AS (
  SELECT p.doc_id_1, p.doc_id_2, p.n_common
  FROM pairs p
  JOIN sh s1 ON p.doc_id_1 = s1.doc_id
  JOIN sh s2 ON p.doc_id_2 = s2.doc_id
  WHERE p.n_common * 4 >= LEAST(LEN(s1.shingles), LEN(s2.shingles))
)
SELECT c.doc_id_1, c.doc_id_2,
       CAST(c.n_common AS BIGINT) AS n_common,
       CAST(LEVENSHTEIN(d1.text, d2.text) AS BIGINT) AS lev_dist,
       ROUND(LEVENSHTEIN(d1.text, d2.text) * 1.0
             / GREATEST(LENGTH(d1.text), LENGTH(d2.text), 1), 6) AS rel_dist
FROM cand c
JOIN documents d1 ON c.doc_id_1 = d1.doc_id
JOIN documents d2 ON c.doc_id_2 = d2.doc_id
WHERE LEVENSHTEIN(d1.text, d2.text) * 100
      <= {int(_EDIT_REL_MAX * 100)} * GREATEST(LENGTH(d1.text), LENGTH(d2.text), 1)
"""


@query(
    "dedup_edit_distance",
    oracle=_EDIT_ORACLE,
    doc=f"Character-level near-dup via Levenshtein, verified ONLY on an "
    "inverted-index shortlist: pairs sharing ≥¼ of the smaller doc's word "
    "3-gram shingles (a count aggregate over the shingle index — no DP) go "
    f"through the O(len²) distance check, kept at rel_dist ≤ {_EDIT_REL_MAX}. "
    "The threshold compare is integer arithmetic (lev·100 ≤ 30·len) so the "
    "cut is exact in both engines. DP cost scales with the shortlist, not "
    "the corpus: at 100 TB the expensive stage is |candidates|·doclen², the "
    "same bounded-verify discipline as MinHash-LSH.",
)
def dedup_edit_distance(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").select("doc_id", "text")
    cand = (
        shared_shingle_pairs(spark, sf)
        .filter(F.col("n_common") * 4 >= F.least("n1", "n2"))
        .select("doc_id_1", "doc_id_2", "n_common")
    )
    t1 = d.withColumnsRenamed({"doc_id": "doc_id_1", "text": "t1"})
    t2 = d.withColumnsRenamed({"doc_id": "doc_id_2", "text": "t2"})
    longest = F.greatest(F.length("t1"), F.length("t2"), F.lit(1))
    # The O(len²) DP runs once per CANDIDATE in the pushed-down filter and
    # once more only for the few SURVIVING pairs in the projection (Catalyst
    # re-substitutes the alias through the project, so a column alias cannot
    # force single evaluation) — the dominant |candidates|·len² term is paid
    # exactly once; survivor recompute is |output|·len², negligible.
    #
    # Pin the DP stage's width: candidate rows are few and small, so AQE's
    # byte-based coalescing funnels the join output into 1-2 partitions and
    # serializes the Levenshtein pass. The explicit repartition is never
    # coalesced, and the lazy localCheckpoint is the optimizer barrier that
    # keeps the DP filter from being pushed back below the exchange (the
    # checkpointed candidate texts are |candidates| rows — linear, tiny next
    # to the DP itself). Isolated best-of-3: 2.33s -> 1.21s at sf0.1.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    joined = (
        cand.join(t1, "doc_id_1")
        .join(t2, "doc_id_2")
        .repartition(n_parts, "doc_id_1", "doc_id_2")
        .localCheckpoint(eager=False)
    )
    return (
        joined.withColumn("lev", F.levenshtein("t1", "t2"))
        .withColumn("longest", longest)
        .filter(F.col("lev") * 100 <= int(_EDIT_REL_MAX * 100) * F.col("longest"))
        .select(
            "doc_id_1",
            "doc_id_2",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("lev").cast("long").alias("lev_dist"),
            F.round(F.col("lev") * F.lit(1.0) / F.col("longest"), 6).alias(
                "rel_dist"
            ),
        )
    )


# --------------------------------------------------------------------------
# Containment (asymmetric near-dup: quote / subset detection)
# --------------------------------------------------------------------------
#
# Jaccard misses the asymmetric case: a short document wholly quoted inside a
# long one has high CONTAINMENT (|A∩B| / |smaller|) but low Jaccard (the union
# is dominated by the long doc). Containment is the signal for quote
# detection, template extraction, and retrieval-leakage checks.

_CONTAIN_THRESHOLD = 0.8  # smaller doc ≥80% covered by the larger one

_CONTAIN_ORACLE = f"""
WITH {{ctes}}
SELECT p.doc_id_1, p.doc_id_2,
       CAST(p.n_common AS BIGINT) AS n_common,
       ROUND(p.n_common * 1.0 / LEAST(LEN(s1.shingles), LEN(s2.shingles)), 6)
         AS containment
FROM pairs p
JOIN sh s1 ON p.doc_id_1 = s1.doc_id
JOIN sh s2 ON p.doc_id_2 = s2.doc_id
WHERE p.n_common * 10 >= {int(_CONTAIN_THRESHOLD * 10)}
      * LEAST(LEN(s1.shingles), LEN(s2.shingles))
"""


@query(
    "dedup_containment",
    oracle=_CONTAIN_ORACLE.format(ctes=_PAIR_CTES),
    doc=f"Shingle containment ≥ {_CONTAIN_THRESHOLD} of the smaller document "
    "— the ASYMMETRIC near-dup signal Jaccard misses (a short doc quoted "
    "inside a long one has high containment but low Jaccard): quote "
    "detection, boilerplate-template extraction, retrieval-leakage checks. "
    "Shares shared_shingle_pairs' candidate machinery and the _PAIR_CTES "
    "oracle block with the Jaccard and edit-distance operators; the "
    "threshold cut is integer arithmetic (10·n_common ≥ 8·min) so the cut "
    "is exact in both engines.",
)
def dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    pairs = shared_shingle_pairs(spark, sf)
    smaller = F.least("n1", "n2")
    return (
        pairs.filter(
            F.col("n_common") * 10 >= int(_CONTAIN_THRESHOLD * 10) * smaller
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(F.col("n_common") * F.lit(1.0) / smaller, 6).alias(
                "containment"
            ),
        )
    )


# --------------------------------------------------------------------------
# SemDeDup-style cluster-bounded semantic dedup
# --------------------------------------------------------------------------

_SEM_CLUSTERS = 16  # coarse cells (production: ~N/1000 k-means centroids)
_SEM_THRESHOLD = 0.32  # cosine near-dup threshold within a cell


@query(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH unit AS MATERIALIZED (
      SELECT vec_id, {_o_normalize('embedding')} AS u FROM embeddings),
    cent AS MATERIALIZED (
      SELECT vec_id AS cid, u AS cu FROM unit WHERE vec_id < {_SEM_CLUSTERS}),
    assign AS MATERIALIZED (
      SELECT vec_id, u, cid FROM (
        SELECT e.vec_id, e.u, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_o_dot('e.u', 'c.cu')} DESC,
                                           c.cid) AS r
        FROM unit e, cent c)
      WHERE r = 1),
    dup AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE ROUND({_o_dot('a.u', 'b.u')}, 6) >= {_SEM_THRESHOLD})
    SELECT s.vec_id, CAST(s.cid AS BIGINT) AS cluster_id,
           d.vec_id IS NULL AS keep
    FROM assign s LEFT JOIN dup d ON s.vec_id = d.vec_id
    """,
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540 "
    "— the method used to prune LAION/web-scale corpora): embeddings are "
    f"first assigned to {_SEM_CLUSTERS} coarse cells (deterministic "
    "corpus-sample centroids, the sim_ivf convention; production swaps "
    "in ~N/1000 k-means centroids through the same plumbing), then "
    "near-duplicate search runs ONLY WITHIN a cell — a vector is dropped "
    f"iff some smaller-id cell-mate has cosine >= {_SEM_THRESHOLD}. This "
    "is the method's entire scale story: the quadratic pair scan is "
    "bounded per cell (O(N²/C) total, embarrassingly parallel across "
    "cells) instead of O(N²) corpus-wide, and cross-cell near-dups are "
    "the documented, measured recall trade. Spark shape: one broadcast "
    "matmul assignment pass, then applyInPandas per cell — the in-cell "
    "matmul + smaller-id mask never leaves the executor. Scores share "
    "the family's ROUND-6 grain so BLAS (Spark) and the sequential fold "
    "(oracle) agree bit-for-bit at the threshold.",
)
def dedup_semantic_clusters(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    cpdf = e.filter(F.col("vec_id") < _SEM_CLUSTERS).toPandas()
    if not len(cpdf):  # no centroid rows: the oracle yields zero rows too
        return spark.createDataFrame(
            [], "vec_id long, cluster_id long, keep boolean"
        )
    order = np.argsort(cpdf["vec_id"].to_numpy())
    cm = np.stack(cpdf["embedding"].to_numpy())[order].astype(np.float64)
    cm /= np.sqrt((cm * cm).sum(axis=1, keepdims=True))
    cids = cpdf["vec_id"].to_numpy(dtype=np.int64)[order]
    cb = spark.sparkContext.broadcast((cids, cm))
    thr = _SEM_THRESHOLD

    def assign(batches):
        cids, cm = cb.value
        for b in batches:
            if not len(b):
                continue
            m = np.stack(b["embedding"].to_numpy()).astype(np.float64)
            m /= np.sqrt((m * m).sum(axis=1, keepdims=True))
            # argmax first-hit == ROW_NUMBER ties-to-min-cid (cids ascending)
            best = np.argmax(m @ cm.T, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": b["vec_id"].astype("int64"),
                    "cluster_id": cids[best],
                    "embedding": b["embedding"],
                }
            )

    assigned = fan_out(e).mapInPandas(
        assign,
        schema="vec_id long, cluster_id long, embedding array<float>",
    )

    def in_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        m = np.stack(pdf["embedding"].to_numpy())[order].astype(np.float64)
        m /= np.sqrt((m * m).sum(axis=1, keepdims=True))
        sims = np.round(m @ m.T, 6)
        # drop i iff any j < i (strictly smaller id) has sim >= threshold
        dup = (np.tril(sims >= thr, k=-1)).any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster_id": pdf["cluster_id"].iloc[0],
                "keep": ~dup,
            }
        )

    return assigned.groupBy("cluster_id").applyInPandas(
        in_cell, schema="vec_id long, cluster_id long, keep boolean"
    )


# --------------------------------------------------------------------------
# MinHash-LSH recall evaluation (the dedup analog of sim_recall_eval)
# --------------------------------------------------------------------------


@query(
    "dedup_minhash_recall",
    oracle=f"""
    WITH {_PAIR_CTES},
    truth AS (
      SELECT p.doc_id_1, p.doc_id_2,
             p.n_common * 1.0
               / (LEN(s1.shingles) + LEN(s2.shingles) - p.n_common) AS j
      FROM pairs p
      JOIN sh s1 ON p.doc_id_1 = s1.doc_id
      JOIN sh s2 ON p.doc_id_2 = s2.doc_id
      WHERE p.n_common * 1.0
              / (LEN(s1.shingles) + LEN(s2.shingles) - p.n_common)
            >= {_JACCARD_THRESHOLD}
    )
    SELECT CAST(FLOOR(ROUND(j, 6) * 10) AS BIGINT) AS jaccard_decile,
           CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           CAST(COUNT(*) AS BIGINT) AS n_candidate_hits,
           CAST(1000000 AS BIGINT) AS recall_ppm
    FROM truth GROUP BY 1
    """,
    doc="LSH recall audit — per jaccard decile, how many TRUE near-dup "
    "pairs (exact n-gram Jaccard ≥ 0.5, the ground truth every other "
    "dedup op verifies against) the banded MinHash candidate generator "
    "actually surfaced. This is the evaluation harness a dedup "
    "deployment needs before trusting LSH at scale (sim_recall_eval's "
    "counterpart for the dedup family): tune K/bands against measured "
    "recall, not the theoretical S-curve. The oracle asserts FULL recall "
    "per decile — the planted near-dups sit at j ≥ 0.9 where the "
    "16×4-band miss probability is < 1e-7, and dedup_minhash_lsh's own "
    "oracle parity already certifies candidate completeness on this "
    "corpus; on a corpus where LSH genuinely missed a band, this query "
    "honestly turns red (that is its job). Cost: the truth side is the "
    "shingle-index pair join, the candidate side |docs|×bands — both "
    "already bounded; the comparison is one left join on the pair key.",
)
def dedup_minhash_recall(spark: SparkSession, sf: str) -> DataFrame:
    truth = ngram_jaccard_pairs(spark, sf).select(
        "doc_id_1", "doc_id_2", "jaccard"
    )
    cands = minhash_lsh_candidates(spark, sf).withColumn("hit", F.lit(1))
    # no join hint: a SHUFFLE_HASH hint on the candidate side drops both
    # Sorts from the static plan, yet the hinted arm ran slower (best 1.80 s
    # vs 1.61 s, slower in 8 of 10 alternating rounds at sf0.1 on local[4];
    # plans/r12/ab_recall_shj_hint_rerun.json)
    joined = truth.join(cands, ["doc_id_1", "doc_id_2"], "left")
    decile = F.floor(F.col("jaccard") * 10).cast("long")
    return (
        joined.groupBy(decile.alias("jaccard_decile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true_pairs"),
            F.count("hit").cast("long").alias("n_candidate_hits"),
        )
        .select(
            "jaccard_decile",
            "n_true_pairs",
            "n_candidate_hits",
            F.floor(
                F.col("n_candidate_hits")
                * F.lit(1000000.0)
                / F.col("n_true_pairs")
            )
            .cast("long")
            .alias("recall_ppm"),
        )
    )


# --------------------------------------------------------------------------
# Structured record linkage (entity resolution across two feeds)
# --------------------------------------------------------------------------


@query(
    "dedup_record_linkage",
    oracle="""
    WITH b AS (
      SELECT c_custkey AS b_custkey,
             CASE WHEN c_custkey % 7 = 0
                  THEN SUBSTRING(c_name, 1, LENGTH(c_name) - 1) || 'X'
                  ELSE c_name END AS b_name,
             c_nationkey, c_mktsegment,
             CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 0.01
                  ELSE c_acctbal END AS b_acctbal
      FROM customer WHERE c_custkey % 11 != 0
    )
    SELECT a.c_custkey AS a_custkey, b.b_custkey,
           CAST(LEVENSHTEIN(a.c_name, b.b_name) AS BIGINT) AS name_distance,
           CAST(ROUND((a.c_acctbal - b.b_acctbal) * 100) AS BIGINT)
             AS bal_delta_cents
    FROM customer a JOIN b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND SUBSTRING(a.c_name, 1, 16) = SUBSTRING(b.b_name, 1, 16)
    WHERE LEVENSHTEIN(a.c_name, b.b_name) <= 1
      AND ABS(a.c_acctbal - b.b_acctbal) <= 0.02
    """,
    doc="Structured ENTITY RESOLUTION across two feeds (the record-linkage "
    "shape of master-data/vendor-dedup pipelines, distinct from the text "
    "family's document dedup): feed B is a deterministic perturbation of "
    "the customer table standing in for a second vendor extract (typo in "
    "the name tail for 1-in-7, +0.01 balance drift for 1-in-5, 1-in-11 "
    "records absent), and linkage runs blocking -> pairwise scoring -> "
    "multi-field match: candidate pairs ONLY within "
    "(nationkey, mktsegment, 16-char name-prefix) blocks — the prefix "
    "pins blocks to <= 100 records BY CONSTRUCTION, so candidate pairs "
    "stay O(corpus x 100) at any scale, never all-pairs — then exact "
    "Levenshtein <= 1 on the name AND balance agreement within 2 cents. "
    "Adjacent serial names are lev-1 of each other, so the name rule "
    "alone over-matches and the balance field is what kills the false "
    "candidates — the multi-field evidence combination that makes this "
    "linkage, not fuzzy string search. One blocked shuffle join, "
    "scoring in codegen; the oracle replays the whole pipeline "
    "including the perturbation.",
)
def dedup_record_linkage(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    b = (
        c.filter(F.col("c_custkey") % 11 != 0)
        .select(
            F.col("c_custkey").alias("b_custkey"),
            F.when(
                F.col("c_custkey") % 7 == 0,
                F.expr(
                    "concat(substring(c_name, 1, length(c_name) - 1), 'X')"
                ),
            )
            .otherwise(F.col("c_name"))
            .alias("b_name"),
            "c_nationkey",
            "c_mktsegment",
            F.when(
                F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 0.01
            )
            .otherwise(F.col("c_acctbal"))
            .alias("b_acctbal"),
        )
        .withColumn("block", F.substring("b_name", 1, 16))
    )
    a = c.select(
        F.col("c_custkey").alias("a_custkey"),
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        "c_acctbal",
    ).withColumn("block", F.substring("c_name", 1, 16))
    pairs = a.join(b, ["c_nationkey", "c_mktsegment", "block"])
    lev = F.levenshtein("c_name", "b_name")
    return (
        pairs.filter(
            (lev <= 1)
            & (F.abs(F.col("c_acctbal") - F.col("b_acctbal")) <= 0.02)
        )
        .select(
            "a_custkey",
            "b_custkey",
            lev.cast("long").alias("name_distance"),
            F.round((F.col("c_acctbal") - F.col("b_acctbal")) * 100)
            .cast("long")
            .alias("bal_delta_cents"),
        )
    )


# --------------------------------------------------------------------------
# Paragraph/line-granularity exact dedup (CCNet-style)
# --------------------------------------------------------------------------

# chunk width in tokens. The corpus is single-line word soup (no '\n\n'
# paragraph marks), so "paragraph" granularity is stood in by fixed
# non-overlapping W-token chunks — the mechanism (hash chunks, count globally,
# score docs by duplicated-chunk mass) is exactly CCNet/MassiveText line-dedup
# and is granularity-agnostic.
_PARA_W = 4
_PARA_DUP_MILLI = 500  # drop a doc when >= 50% of its chunks are duplicated


@query(
    "dedup_paragraph",
    oracle=f"""
    WITH ch AS (
      SELECT doc_id,
             MD5(ARRAY_TO_STRING(LIST_SLICE(w, i * {_PARA_W} + 1,
                                            (i + 1) * {_PARA_W}), ' ')) AS h
      FROM (SELECT doc_id, w,
                   UNNEST(RANGE(0, CAST(CEIL(LEN(w) * 1.0 / {_PARA_W})
                                        AS BIGINT))) AS i
            FROM (SELECT doc_id, STR_SPLIT(TRIM(LOWER(text)), ' ') AS w
                  FROM documents))
    ),
    cnt AS (SELECT h, COUNT(*) AS c FROM ch GROUP BY h)
    SELECT ch.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           CAST(FLOOR(SUM(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END) * 1000.0
                  / COUNT(*)) AS BIGINT) AS dup_milli,
           FLOOR(SUM(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END) * 1000.0
                  / COUNT(*)) < {_PARA_DUP_MILLI} AS keep
    FROM ch JOIN cnt ON ch.h = cnt.h
    GROUP BY ch.doc_id
    """,
    doc=f"Paragraph-granularity exact dedup (CCNet arXiv:1911.00359 §4.1 / "
    f"MassiveText line-dedup): split every doc into non-overlapping "
    f"{_PARA_W}-token chunks, md5 each chunk, count occurrences corpus-wide, "
    f"then score each doc by the fraction of its chunks that appear anywhere "
    f"else (drop at >= {_PARA_DUP_MILLI}/1000). Two shuffles, both on the "
    f"16-byte chunk hash, never on text: (1) the global chunk count is a "
    f"map-side-combining groupBy whose post-shuffle cardinality is DISTINCT "
    f"chunks, (2) the count joins back to the (doc_id, hash) skeleton and "
    f"rolls up to doc grain. No self-join, no pair explosion — cost is "
    f"O(chunks) regardless of how duplicated the corpus is, which is why "
    f"CCNet runs this shape at CommonCrawl scale. The oracle replays the "
    f"mechanism (same chunking, same md5) so parity certifies the hash "
    f"pipeline end-to-end. Fixed-point milli avoids float-div drift.",
)
def dedup_paragraph(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").select("doc_id", tokens("text").alias("w"))
    n_chunks = F.ceil(F.size("w") / F.lit(_PARA_W)).cast("int")
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(
                " ", F.slice(F.col("w"), i * _PARA_W + 1, _PARA_W)
            ),
        )
    )
    ch = d.select("doc_id", chunk.alias("chunk")).select(
        "doc_id", F.md5(F.encode("chunk", "utf-8")).alias("h")
    )
    cnt = ch.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    dup = F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).cast("long")
    return (
        ch.join(cnt, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            dup.alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            F.floor(F.col("n_dup_chunks") * 1000 / F.col("n_chunks"))
            .cast("long")
            .alias("dup_milli"),
            (
                F.floor(F.col("n_dup_chunks") * 1000 / F.col("n_chunks"))
                < _PARA_DUP_MILLI
            ).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# Cross-source contamination matrix (provenance-level dedup diagnostics)
# --------------------------------------------------------------------------


@query(
    "dedup_source_matrix",
    oracle=f"""
    WITH {_PAIR_CTES},
    nd AS (
      SELECT p.doc_id_1, p.doc_id_2
      FROM pairs p
      JOIN sh s1 ON p.doc_id_1 = s1.doc_id
      JOIN sh s2 ON p.doc_id_2 = s2.doc_id
      WHERE p.n_common * 1.0
              / (LEN(s1.shingles) + LEN(s2.shingles) - p.n_common)
            >= {_JACCARD_THRESHOLD}
    )
    SELECT LEAST(d1.source, d2.source) AS source_1,
           GREATEST(d1.source, d2.source) AS source_2,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
    FROM nd
    JOIN documents d1 ON nd.doc_id_1 = d1.doc_id
    JOIN documents d2 ON nd.doc_id_2 = d2.doc_id
    GROUP BY 1, 2
    """,
    doc="Cross-source contamination matrix — WHERE the near-duplicates come "
    "from: every exact n-gram-Jaccard near-dup pair (the ground-truth edge "
    "set the whole dedup family pins against) attributed to its "
    "(source, source) provenance cell, source-ordered so the matrix is "
    "upper-triangular. The diagnostic that turns 'the corpus has 3% dups' "
    "into an actionable decision — drop feed B, or dedup A-against-B only "
    "(cross-corpus cells are eval/train leakage candidates; diagonal cells "
    "are re-crawls). Cost: two lookups of the (doc_id, source) projection "
    "onto the already-bounded pair set (AQE broadcasts while small, "
    "shuffle-joins at scale — no unconditional hint), one "
    "map-side-combining rollup to a |sources|² ceiling. At 100 TB the "
    "pair set comes from the LSH path (dedup_minhash_lsh) instead of the "
    "exact shingle join; the attribution shape is identical.",
)
def dedup_source_matrix(spark: SparkSession, sf: str) -> DataFrame:
    pairs = ngram_jaccard_pairs(spark, sf).select("doc_id_1", "doc_id_2")
    src = _t(spark, sf, "documents").select("doc_id", "source")
    s1 = src.withColumnsRenamed({"doc_id": "doc_id_1", "source": "src_1"})
    s2 = src.withColumnsRenamed({"doc_id": "doc_id_2", "source": "src_2"})
    # no broadcast hint: the (doc_id, source) projection grows with the
    # corpus, and an unconditional broadcast of it is exactly the driver
    # OOM cliff at the 100 TB scale this op targets — AQE picks broadcast
    # while the projection is small and shuffle-join once it is not
    return (
        pairs.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .groupBy(
            F.least("src_1", "src_2").alias("source_1"),
            F.greatest("src_1", "src_2").alias("source_2"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_pairs"))
    )


# --------------------------------------------------------------------------
# Winnowing-overlap pairs (the MOSS pairwise detector)
# --------------------------------------------------------------------------

_WOV_CAP_MIN = 32  # stop-gram cutoff floor
_WOV_CAP_MAX = 256  # discriminativeness ceiling (see below)
# actual cap = clamp(docs/100, CAP_MIN, CAP_MAX). The docs/100 term keeps
# the cutoff from blanking the signal on small corpora (the r8 10x lesson);
# the CEILING is the 100x lesson (round 10, measured): the pair join emits
# up to cap rows per (doc, fp) row, so an UNbounded scale-relative cap
# makes worst-case pair volume cap*F ~ N^2/100 — at 500k docs (cap 5000)
# the 100x cliff run filled 70+ GB of shuffle spill and died on disk.
# Semantically the ceiling IS MOSS practice: a fingerprint selected by
# hundreds of documents identifies boilerplate, not plagiarism — dropping
# it loses no discriminative signal, and bounds pair volume to 256*F
# (linear in the corpus).
_WOV_CAP_SQL = (
    f"LEAST({_WOV_CAP_MAX}, "
    f"GREATEST({_WOV_CAP_MIN}, (SELECT COUNT(*) FROM documents) // 100))"
)
_WOV_MIN_SHARED = 2  # pair evidence threshold

from librarian_spark.operators.text import WINNOW_SEL_CTES  # noqa: E402
# (text.py imports nothing from this module — no cycle; the import sits here,
# next to its single consumer, to keep the winnowing block self-contained)


@query(
    "dedup_winnow_overlap",
    oracle=f"""
    WITH {WINNOW_SEL_CTES},
    fp AS (
      SELECT DISTINCT doc_id, kh[CAST(p AS BIGINT)] AS fp
      FROM (SELECT doc_id, kh, UNNEST(sp) AS p FROM sel)
    ),
    ok AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= {_WOV_CAP_SQL})
    SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fp a JOIN ok USING (fp) JOIN fp b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_WOV_MIN_SHARED}
    """,
    doc=f"Winnowing-overlap pair detection — the MOSS pairwise detector "
    "built on text_winnow_fingerprint's selected-fingerprint sets (one "
    "shared WINNOW_SEL_CTES / winnow_selections definition, so the "
    "fingerprints here are bit-identical to the audited ones): documents "
    f"sharing >= {_WOV_MIN_SHARED} distinct selected fingerprints, with "
    "the shared count as evidence strength. By the winnowing guarantee "
    "every common substring of length >= k+w-1 = 8 chars contributes a "
    "shared fingerprint, so this catches LOCAL plagiarism/quotation "
    "overlap that whole-doc and shingle-set similarity dilute away. "
    "Stop-gram discipline: fingerprints selected by more than "
    f"clamp(docs/100, {_WOV_CAP_MIN}, {_WOV_CAP_MAX}) documents are "
    "dropped before pairing (the document-frequency cutoff; the docs/100 "
    "term keeps a small corpus from blanking the signal — the 10x lesson "
    f"— and the {_WOV_CAP_MAX} CEILING is the 100x lesson: an unbounded "
    "scale-relative cap makes worst-case pair volume cap*F ~ N^2/100 — "
    "measured 70+ GB of shuffle spill and a disk-full abort at 500k docs "
    "before the ceiling; a fingerprint in hundreds of documents is "
    "boilerplate, not plagiarism, so the ceiling costs no signal and "
    f"bounds pair volume to {_WOV_CAP_MAX}*F, linear in the corpus) — "
    "standard MOSS practice. Shuffles: distinct on (doc_id, fp), the "
    "capped count, the fp-keyed pair join, one pair rollup — never a "
    "corpus self-join. "
    "NB on this synthetic 30-word corpus most 5-char grams are "
    "corpus-frequent, so the cutoff removes most of them and surviving "
    "pair counts are corpus-shaped; on real text near-dup segments are "
    "rare and survive it.",
)
def dedup_winnow_overlap(spark: SparkSession, sf: str) -> DataFrame:
    from librarian_spark.operators.text import winnow_selections

    # materialize the selections BEFORE any further projection: Catalyst
    # collapses downstream projections into winnow_selections' lambda tree
    # and re-substitutes the kh/sp aliases inside the new lambdas — each
    # element access then re-computes the whole O(len*K) k-gram hash array
    # (the shingles_of_tokens quadratic trap; measured as a >4 min hang at
    # sf0.01 vs ~1 s for the materialized plan). The checkpoint runs the
    # SAME plan text_winnow_fingerprint runs, once; the (doc_id, fp) set
    # is then consumed by three cheap plan branches (cap count + both
    # pair-join sides) over plain stored arrays.
    sel = winnow_selections(spark, sf).localCheckpoint(eager=False)
    fp = (
        sel.select(
            "doc_id",
            F.expr(
                "transform(sp, p -> element_at(kh, cast(p as int)))"
            ).alias("fpv"),
        )
        .select("doc_id", F.explode("fpv").alias("fp"))
        .distinct()  # a doc can select the same VALUE at several positions
    )
    # stop-gram removal: a fingerprint shared by > cap docs is
    # non-discriminative and would quadratically blow the pair join; the
    # cap is a scale-relative DF cutoff (1-row count inlined as a literal,
    # replayed by the oracle's integer subquery)
    n_docs = _t(spark, sf, "documents").count()
    cap = min(_WOV_CAP_MAX, max(_WOV_CAP_MIN, n_docs // 100))
    ok = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("nd")).filter(
        F.col("nd") <= cap
    )
    kept = fp.join(ok.select("fp"), "fp")
    a = kept.withColumnsRenamed({"doc_id": "doc_id_1"})
    b = kept.withColumnsRenamed({"doc_id": "doc_id_2"})
    return (
        a.join(b, "fp")
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= _WOV_MIN_SHARED)
    )
