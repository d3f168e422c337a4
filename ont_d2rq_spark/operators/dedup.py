"""Deduplication operators for large-scale training-data pipelines.

Not in the d2rq reference (its DISTINCT is SURVEY §2.7 U2); these are
the scale extensions the task brief names.

Scale notes (100 TB):
  * exact_dedup: one shuffle on a 16-byte digest; map-side partial agg.
  * minhash: shingle set, signature and LSH band buckets are one
    vectorized Arrow pass PER BATCH (`minhash_prep`) — zero shuffles
    before the candidate join.  A batch's shingles are flattened with
    per-document offsets and hashed at once (a numpy XXH64 kernel over
    uint64 lanes, or hashlib.md5 per shingle); the k mins per document
    are `np.minimum.reduceat` over the offsets.  Both hash families are
    test-pinned bit-exact twins of the JVM functions, so the md5 family
    stays end-to-end replayable by the DuckDB oracle.  Banding rows are
    (id, band, bucket) only; the candidate self-join reads an eagerly
    checkpointed copy so the prep never runs once per join side.
    Verification re-joins only bucket-mates.
  * simhash: one per-row Arrow pass (md5 family); candidates block
    on signature quarters (pigeonhole) and verify full hamming.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_text(col):
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to default parallelism when the source is
    under-split.  The shingle/token explosion below multiplies each
    input row into hundreds of CPU-heavy rows, so a poorly-split source
    (single-row-group parquet, one small file) would serialize the
    WHOLE operator onto one core no matter the cluster size — the
    repartition shuffles only the (id, text) projection, which is
    trivially cheap next to the work it unlocks.  (balanced_read's
    size-based repair intentionally skips small files because small
    DIMENSION tables shouldn't shuffle; a dedup corpus is the opposite
    case: bytes small, per-byte CPU huge.)"""
    sc = df.sparkSession.sparkContext
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    p = sc.defaultParallelism
    return df.repartition(p) if n < p else df


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """→ (fp, representative, n_dups): groups of byte-identical
    (normalized) documents; representative = min id (deterministic)."""
    return (
        df.select(F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("representative"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingles(text_col, n: int = 3):
    """Word n-gram shingle array (distinct), pure Catalyst."""
    toks = F.split(normalize_text(text_col), " ")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def shingle_arrays(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """→ (id, sh: array<string>) — the same distinct word-n-gram set as
    :func:`shingles`, but built by a vectorized Arrow UDF over
    JVM-normalized text.

    Why not pure Catalyst: the shingle expression is a
    transform/slice/array_distinct chain of higher-order functions —
    all CodegenFallback, evaluated interpreted, and (worse) re-inlined
    wherever projection collapse duplicates the column (guide §4.1/4.2).
    Measured at sf0.1 the interpreted array build costs 3-5 s per
    evaluation vs ~0.6 s through Arrow.  Normalization stays JVM-side
    (regexp/trim/lower Java semantics are the oracle contract); the
    Python side only splits on the single spaces the normalizer
    guarantees and joins with single spaces, so the produced shingle
    sets are byte-identical to the Catalyst expression (pinned by
    tests/test_dedup_similarity.py)."""
    from pyspark.sql.functions import pandas_udf

    n = shingle_n

    @pandas_udf("array<string>")
    def _grams(nt: pd.Series) -> pd.Series:
        def g(s):
            toks = s.split(" ")
            m = max(len(toks) - n, 0) + 1
            return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(m)))

        return nt.map(g, na_action="ignore")

    # pure function, but mark non-deterministic so the optimizer never
    # duplicates the ArrowEvalPython node around pushed filters (§4.4)
    _grams = _grams.asNondeterministic()
    base = spread(
        df.select(
            F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("nt")
        )
    )
    return base.select("id", _grams(F.col("nt")).alias("sh"))


# Mersenne prime 2^31-1: keeps every product a_j*h below 2^62, so the
# permutation arithmetic stays exact in 64-bit integers on BOTH engines
# (Spark BIGINT and DuckDB BIGINT compute bit-identical results).
MINHASH_PRIME = 2147483647


# ---------------------------------------------------------------------------
# XXH64 (public algorithm, Collet 2012; same constants as Spark's
# XxHash64Function) as a numpy kernel over uint64 lanes — lets the
# Arrow-vectorized minhash prep hash a whole batch of shingles without
# the JVM k-min aggregate.  Bit-equality with F.xxhash64 is pinned by
# tests/test_dedup_similarity.py over every byte length 0..80 + edge
# strings.
# ---------------------------------------------------------------------------

_XP1 = np.uint64(0x9E3779B185EBCA87)
_XP2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XP3 = np.uint64(0x165667B19E3779F9)
_XP4 = np.uint64(0x85EBCA77C2B2AE63)
_XP5 = np.uint64(0x27D4EB2F165667C5)
_M64 = (1 << 64) - 1


def _rotl(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc, lane):
    return _rotl(acc + lane * _XP2, 31) * _XP1


def xxh64_words(words: np.ndarray, n: int, seeds: np.ndarray) -> np.ndarray:
    """XXH64 of m inputs of the SAME byte length ``n``, one per lane.

    ``words``: (m, ≥ceil(n/8)) little-endian uint64 words of the
    zero-padded inputs; ``seeds``: (m,) uint64.  → (m,) uint64.  Every
    read offset before the 4-byte tail is a multiple of 8, so the tail
    word and bytes are the low bits of one padded word; uint64 multiply
    and add wrap natively, which is the algorithm's mod-2⁶⁴ arithmetic."""
    i = 0
    if n >= 32:
        v1 = seeds + _XP1 + _XP2
        v2 = seeds + _XP2
        v3 = seeds
        v4 = seeds - _XP1
        for i in range(0, (n // 32) * 4, 4):
            v1 = _round(v1, words[:, i])
            v2 = _round(v2, words[:, i + 1])
            v3 = _round(v3, words[:, i + 2])
            v4 = _round(v4, words[:, i + 3])
        i = (n // 32) * 4
        h = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            h = (h ^ _round(np.uint64(0), v)) * _XP1 + _XP4
    else:
        h = seeds + _XP5
    h = h + np.uint64(n)
    while (i + 1) * 8 <= n:
        h = _rotl(h ^ _round(np.uint64(0), words[:, i]), 27) * _XP1 + _XP4
        i += 1
    done, shift = i * 8, 0
    if done + 4 <= n:
        h = _rotl(h ^ ((words[:, i] & np.uint64(0xFFFFFFFF)) * _XP1), 23) * _XP2 + _XP3
        done, shift = done + 4, 32
    for _ in range(n - done):
        byte = (words[:, i] >> np.uint64(shift)) & np.uint64(0xFF)
        h = _rotl(h ^ (byte * _XP5), 11) * _XP1
        shift += 8
    h = h ^ (h >> np.uint64(33))
    h = h * _XP2
    h = h ^ (h >> np.uint64(29))
    h = h * _XP3
    return h ^ (h >> np.uint64(32))


def xxh64_many(items: list, seeds) -> np.ndarray:
    """XXH64 of each ``bytes`` in ``items`` (uint64 ``seeds``: one per
    item, or one for all) → (len(items),) uint64.  Inputs are grouped by
    byte length; each group is one :func:`xxh64_words` call."""
    m = len(items)
    seeds = np.broadcast_to(np.asarray(seeds, dtype=np.uint64), (m,))
    out = np.empty(m, dtype=np.uint64)
    if not m:
        return out
    lens = np.fromiter(map(len, items), dtype=np.int64, count=m)
    order = np.argsort(lens, kind="stable")
    blob = np.frombuffer(b"".join([items[j] for j in order]), dtype=np.uint8)
    slens = lens[order]
    cuts = np.flatnonzero(np.diff(slens)) + 1
    pos = 0
    for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, m]):
        n, g = int(slens[lo]), hi - lo
        padded = np.zeros((g, max(-(-n // 8), 1) * 8), dtype=np.uint8)
        padded[:, :n] = blob[pos : pos + g * n].reshape(g, n)
        pos += g * n
        idx = order[lo:hi]
        out[idx] = xxh64_words(padded.view("<u8"), n, seeds[idx])
    return out


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` — returns the SIGNED 64-bit value Spark's
    ``F.xxhash64`` produces (seed default 42 matches Spark's).  A
    one-lane :func:`xxh64_many` call."""
    return int(xxh64_many([data], seed & _M64).view(np.int64)[0])


def md5_top60(items: list) -> np.ndarray:
    """(len(items), 2) int64: the top 60 bits of each big-endian half
    of md5 over each ``bytes`` in ``items`` — hexdigest[0:15] and
    [16:31] read as integers, i.e. ``conv(substring(md5(s), 1|17, 15),
    16, 10)`` on Spark and DuckDB."""
    digests = b"".join([hashlib.md5(e).digest() for e in items])
    halves = np.frombuffer(digests, dtype=">u8").reshape(-1, 2)
    return (halves >> np.uint64(4)).astype(np.int64)


def minhash_perm_coeffs(num_hashes: int, salt: str = "minhash") -> list:
    """Deterministic (a_j, b_j) pairs for the Broder 2-universal
    permutation family g_j(x) = (a_j·h1 + b_j·h2) mod p.  Derived from
    md5 of the salt+index so Spark and the DuckDB oracle share the
    identical constants without any runtime randomness."""
    out = []
    for j in range(num_hashes):
        a = int(hashlib.md5(f"{salt}:{j}:a".encode()).hexdigest(), 16) % (MINHASH_PRIME - 1) + 1
        b = int(hashlib.md5(f"{salt}:{j}:b".encode()).hexdigest(), 16) % MINHASH_PRIME
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    shingle_frame: DataFrame | None = None,
) -> DataFrame:
    """→ (id, sig: array<bigint>) — sig[j] = min over shingles of
    hash_j(shingle).

    Two families, SAME plan shape and SAME Broder construction — each
    shingle is hashed into two base values (h1, h2) reduced mod
    p = 2³¹−1, and the k per-seed hashes are the arithmetic
    permutations g_j = (a_j·h1 + b_j·h2) mod p, ~k× less hashing on
    the dominant stage than k independent seeded hashes:
      * 'xxhash64' — two seeded JVM xxhash64 calls per shingle
        (fastest when only one engine needs to replay);
      * 'md5'      — one md5 split into two 60-bit halves; DuckDB
        replays the identical integer arithmetic for the driver
        oracle.

    Shape: explode shingles → k hash columns → groupBy(id).agg(k mins).
    The k mins run with map-side partial aggregation, so the shuffle
    carries one k-wide row per (id, partition) — NOT one row per
    shingle.  (A single wide projection of k array_min(transform(...))
    expressions looks cheaper but Catalyst's projection collapse
    re-inlines the shingle computation k times — measured 40× slower.)

    ``shingle_frame``: an (id, sh) frame from :func:`shingle_arrays` to
    explode instead of recomputing the shingle sets — minhash_dedup
    passes its checkpointed copy so signatures and verification share
    ONE shingling pass."""
    if shingle_frame is not None:
        ex = shingle_frame.select("id", F.explode("sh").alias("s"))
    else:
        ex = (
            spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")))
            .select("id", F.explode(shingles(F.col("t"), shingle_n)).alias("s"))
        )
    p = F.lit(MINHASH_PRIME)
    if hash_family == "md5":
        ex = ex.select("id", F.md5("s").alias("m")).select(
            "id",
            (F.conv(F.substring("m", 1, 15), 16, 10).cast("long") % p).alias("h1"),
            (F.conv(F.substring("m", 17, 15), 16, 10).cast("long") % p).alias("h2"),
        )
    else:
        # same Broder construction over two seeded xxhash64 calls —
        # 2 hashes per shingle instead of k (pmod keeps both halves
        # non-negative before the permutation arithmetic)
        ex = ex.select(
            "id",
            F.pmod(F.xxhash64(F.col("s"), F.lit(1)), p).alias("h1"),
            F.pmod(F.xxhash64(F.col("s"), F.lit(2)), p).alias("h2"),
        )
    coeffs = minhash_perm_coeffs(num_hashes)
    mins = [
        F.min((F.lit(a) * F.col("h1") + F.lit(b) * F.col("h2")) % p).alias(f"h{j}")
        for j, (a, b) in enumerate(coeffs)
    ]
    agg = ex.groupBy("id").agg(*mins)
    return agg.select("id", F.array(*[F.col(f"h{j}") for j in range(num_hashes)]).alias("sig"))


def minhash_prep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """→ (id, sh: array<string>, buckets: array<…>) — shingle set,
    minhash signature and LSH band buckets computed in ONE Arrow pass,
    per batch, with zero shuffles.

    Why: every shingle of a document already lives in one row, so the
    explode → groupBy(id) k-min aggregate only re-groups what was never
    apart — and its k-wide generated aggregate costs ~6 s of
    codegen+JIT per session before the first row flows (measured on a
    10-row input).  Here each Arrow batch is hashed as a whole: the
    batch's shingles are flattened with per-document offsets, hashed in
    one pass (the :func:`xxh64_many` numpy kernel, or hashlib.md5 per
    shingle), and the k mins per document are one
    ``np.minimum.reduceat`` over the offsets per permutation.  The hash
    families are bit-exact twins of the JVM/oracle functions:
    hashlib.md5 ≡ F.md5 ≡ DuckDB md5, and the kernel ≡ F.xxhash64
    (pinned by tests).  buckets[b] is the band-b bucket (md5 hex string
    / xxhash64 long), identical to minhash_lsh_candidates' banding
    values.  NULL text → NULL sh and buckets."""
    rows_per_band = num_hashes // bands
    assert bands * rows_per_band == num_hashes
    coeffs = minhash_perm_coeffs(num_hashes)
    p = MINHASH_PRIME
    n = shingle_n
    md5_family = hash_family == "md5"
    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    )[id_col]
    bucket_type = "string" if md5_family else "bigint"
    schema = f"id {id_type}, sh array<string>, buckets array<{bucket_type}>"

    def grams(s: str) -> list:
        toks = s.split(" ")
        m = max(len(toks) - n, 0) + 1
        return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(m)))

    def hash_pairs(flat: list):
        """(h1, h2) int64 arrays in [0, p) for every shingle."""
        enc = [g.encode("utf-8") for g in flat]
        if md5_family:
            h = md5_top60(enc) % p
            return h[:, 0], h[:, 1]
        # F.xxhash64(s, lit(j)) = XXH64 of int j's 4 LE bytes seeded with
        # XXH64(s, 42); h_j is its SIGNED value floor-mod p (= F.pmod)
        base = xxh64_many(enc, 42)
        lane = np.zeros((len(enc), 1), dtype=np.uint64)
        out = []
        for j in (1, 2):
            lane[:] = j
            out.append(xxh64_words(lane, 4, base).view(np.int64) % p)
        return out

    def band_buckets(sig: np.ndarray) -> list:
        """(docs, k) signatures → per-document list of band buckets."""
        keys = [
            ",".join(map(str, row[b * rows_per_band : (b + 1) * rows_per_band]))
            for row in sig.tolist()
            for b in range(bands)
        ]
        if md5_family:
            flat = [hashlib.md5(k.encode("utf-8")).hexdigest() for k in keys]
        else:
            flat = xxh64_many([k.encode("utf-8") for k in keys], 42).view(np.int64).tolist()
        return [flat[i : i + bands] for i in range(0, len(flat), bands)]

    def gen(batches):
        for pdf in batches:
            shs = [None if s is None else grams(s) for s in pdf["nt"]]
            present = [i for i, g in enumerate(shs) if g is not None]
            counts = np.fromiter(
                (len(shs[i]) for i in present), dtype=np.int64, count=len(present)
            )
            # every present document has ≥ 1 shingle (empty text → [""]),
            # so the offsets are strictly increasing as reduceat needs
            starts = np.cumsum(counts) - counts
            bks = [None] * len(shs)
            if present:
                H1, H2 = hash_pairs([g for i in present for g in shs[i]])
                sig = np.empty((len(present), num_hashes), dtype=np.int64)
                for j, (a, b) in enumerate(coeffs):
                    sig[:, j] = np.minimum.reduceat((a * H1 + b * H2) % p, starts)
                for i, bk in zip(present, band_buckets(sig)):
                    bks[i] = bk
            yield pd.DataFrame({"id": pdf["id"], "sh": shs, "buckets": bks})

    base = spread(
        df.select(
            F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("nt")
        )
    )
    return base.mapInPandas(gen, schema)


def minhash_lsh_candidates(
    sigs: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    hash_family: str = "xxhash64",
    materialize: bool = True,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become a candidate pair.
    → (id_a, id_b) distinct, id_a < id_b."""
    assert bands * rows_per_band <= 1024
    bucket_fn = F.md5 if hash_family == "md5" else F.xxhash64
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        bucket_fn(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[b * rows_per_band + r].cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    # The self-join's two sides are one shuffle exchange and one
    # broadcast exchange over the SAME subplan — exchange reuse cannot
    # unify the two kinds, so without materialization the entire
    # signature pipeline (shingle → hash → k-min aggregate) runs TWICE,
    # in parallel racing jobs (event-log-measured as the two dominant
    # jobs of the bench query).  An eager localCheckpoint computes the
    # banded frame once ((id, band, bucket) rows only — b rows/doc,
    # narrow) and both join sides read the stored blocks.
    if materialize:
        banded = banded.localCheckpoint(eager=True)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → exact
    Jaccard verification over shingle sets → (id_a, id_b, jaccard).
    Verification joins the shingle arrays back only for candidates.

    Shape: shingles + signature + band buckets come from ONE
    Arrow pass (:func:`minhash_prep` — batch-wide hashing and numpy
    k-mins, bit-exact hash twins), eagerly localCheckpointed so the banding self-join's
    two sides and BOTH verification join sides read stored blocks
    instead of re-running the pipeline (the old explode → k-min-agg →
    self-join plan evaluated the whole signature chain once per join
    side plus once per verification side, and its k-wide generated
    aggregate cost ~6 s of codegen/JIT per session)."""
    prep = minhash_prep(
        df, text_col, id_col, num_hashes, bands, shingle_n, hash_family
    ).localCheckpoint(eager=True)
    banded = prep.select("id", F.posexplode("buckets").alias("band", "bucket"))
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sh = prep.select("id", "sh")
    joined = (
        cands.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        joined.select(
            "id_a",
            "id_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash over word tokens: bit i of the signature is the
    majority vote of bit i across token hashes.  Pure Catalyst:
    per-bit sum of ±1 via aggregate over the token-hash array."""
    df = spread(df)
    toks = F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    bit_sum = lambda i: F.aggregate(
        hashes,
        F.lit(0),
        lambda acc, h: acc
        + F.when(h.bitwiseAND(F.lit(1 << i) if i < 63 else F.lit(-(2**63))) != 0, 1).otherwise(-1),
    )
    sig = F.aggregate(
        F.array(*[F.when(bit_sum(i) > 0, F.lit(1 << i if i < 63 else -(2**63))).otherwise(F.lit(0)) for i in range(64)]),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return df.select(F.col(id_col).alias("id"), sig.alias("simhash"))


def simhash_signatures_md5(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60
) -> DataFrame:
    """Cross-engine-replayable SimHash: the per-token 60-bit hash is
    the first 15 hex chars of md5 (both Spark and DuckDB compute the
    identical value — `conv(hex,16,10)` here, `'0x…'::BIGINT` there),
    so the driver oracle replays the signature bit-for-bit.

    Shape (r7): ONE Arrow pass, per row — every distinct token of a
    document already lives in its row, so the old explode →
    groupBy(id) with `bits` conditional ±1 sums only re-grouped
    per-row data, and its 60-wide generated aggregate carried the same
    multi-second codegen/JIT constant the minhash aggregate did.
    :func:`md5_top60` is the bit-exact twin of F.md5/conv (pinned by the
    simhash_near_dup oracle row and test_simhash_md5_prep_parity);
    the per-bit majority is one numpy (n_tokens × bits) reduction."""
    assert bits <= 60
    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    )[id_col]

    def gen(batches):
        shifts = np.arange(bits, dtype=np.int64)
        for pdf in batches:
            sigs = []
            for s in pdf["nt"]:
                if s is None:
                    sigs.append(None)
                    continue
                toks = dict.fromkeys(s.split(" "))
                H = md5_top60([w.encode("utf-8") for w in toks])[:, 0]
                votes = (((H[:, None] >> shifts) & 1) * 2 - 1).sum(axis=0)
                sigs.append(int(((votes > 0).astype(np.int64) << shifts).sum()))
            yield pd.DataFrame({"id": pdf["id"], "simhash": sigs})

    base = spread(
        df.select(
            F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("nt")
        )
    )
    # null text produced no exploded token rows (no signature) in the
    # aggregate formulation — drop it here too
    return base.mapInPandas(gen, f"id {id_type}, simhash bigint").filter(
        F.col("simhash").isNotNull()
    )


def hamming_distance(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidates(sigs: DataFrame, max_hamming: int = 3, bits: int = 64) -> DataFrame:
    """Near-dup candidates by SimHash: block on bit quarters (a pair
    within hamming ≤ 3 shares at least one identical quarter —
    pigeonhole; larger max_hamming keeps the same blocking as a
    recall-bounded candidate generator), then verify the full distance."""
    width = bits // 4
    mask = (1 << width) - 1
    parts = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftrightunsigned("simhash", q * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("part"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("p"),
    ).select("id", "simhash", "p.q", "p.part")
    # materialize once: the self-join's shuffle + broadcast sides would
    # otherwise evaluate the signature subplan twice (exchange reuse
    # cannot unify the two exchange kinds)
    parts = parts.localCheckpoint(eager=True)
    a, b = parts.alias("a"), parts.alias("b")
    return (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.part") == F.col("b.part"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming_distance(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_dup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.98,
) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ threshold.  Exact (all-pairs);
    for the bucketed scale path see operators/similarity.py."""
    e = emb.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
    )
    dot = F.aggregate(
        F.zip_with("a.v", "b.v", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(dot / (norm(F.col("a.v")) * norm(F.col("b.v"))), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
