"""Deduplication operators for training-data pipelines.

Not in the reference (it is a query adapter); required as first-class
engine components by the driver brief. All Spark-native:

- exact dedup: hash-groupBy (JVM md5/xxhash64, no Python).
- MinHash + LSH: shingle → minhash signature (vectorized numpy over
  Arrow batches) → band buckets → bucket equi-join → exact Jaccard
  verify. The standard near-dup pipeline at 100 TB scale: the only
  shuffle is the band-bucket join, keyed by (band, hash) which is
  uniformly distributed by construction.
- SimHash: 64-bit signature; near-dups differ in ≤ t bits, found by
  band rotation over 4 x 16-bit chunks (Charikar / Manku et al.).

Hash functions are deterministic (splitmix64-seeded linear hashes) —
no RNG state, so a resumed or re-run job computes identical buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MERSENNE = (1 << 61) - 1


def _hash_params(n: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    from geomesa_sql_spark.io.fixtures import _splitmix64

    idx = np.arange(seed, seed + 2 * n, dtype=np.int64)
    h = _splitmix64(idx)
    a = (h[:n] % np.uint64(_MERSENNE - 1) + np.uint64(1)).astype(np.uint64)
    b = (h[n:] % np.uint64(_MERSENNE)).astype(np.uint64)
    return a, b


def content_hash_col(content_cols: list[str]):
    """Injective-by-construction content hash Column, shared by batch
    ``exact_dedup`` and ``streaming.streaming_exact_dedup`` so both
    form identical groups: base64 each column (its alphabet excludes
    the separator, killing ('a\\x1fb','c') vs ('a','b\\x1fc')
    collisions) and encode NULL as a token no real value can produce
    post-base64 — concat_ws SKIPS nulls, so ('x', NULL) and (NULL,
    'x') used to collide (review r3)."""
    return F.md5(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(
                    F.base64(F.col(c).cast("string").cast("binary")),
                    F.lit("<NULL>"),
                )
                for c in content_cols
            ],
        )
    )


def exact_dedup(df: DataFrame, content_cols: list[str], key: str) -> DataFrame:
    """Keep one row (min key) per exact content group — hash-groupBy.

    Two-phase: md5 over concatenated content → groupBy(hash) min(key)
    → semi-join back. Spark does partial aggregation map-side, so the
    shuffle carries one row per distinct hash per partition.
    """
    hashed = df.withColumn("__h", content_hash_col(content_cols))
    keep = hashed.groupBy("__h").agg(F.min(key).alias(key)).select(key)
    return df.join(keep, on=key, how="left_semi")



def _fnv1a_bytes(b: bytes) -> int:
    """Scalar 64-bit FNV-1a over raw bytes (the reference chain every
    vectorized path must match bit-for-bit)."""
    acc = 0xCBF29CE484222325
    for ch in b:
        acc = ((acc ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return acc & 0x7FFFFFFFFFFFFFFF


def _fnv1a(s: str) -> int:
    """Deterministic 64-bit FNV-1a (builtin hash() is per-process salted)."""
    return _fnv1a_bytes(s.encode())


_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)
_FNV_MASK63 = np.uint64(0x7FFFFFFFFFFFFFFF)


def _fnv1a_bytes_batch(items: list[bytes]) -> np.ndarray:
    """FNV-1a per item, vectorized ACROSS items (bit-identical to
    ``_fnv1a`` on each item's bytes). FNV is byte-sequential, so the
    inner chain can't vectorize — but a batch of items can: pack all
    bytes into one (n_items, max_len) matrix and run max_len numpy
    column passes instead of Σ len(item) Python iterations
    (VERDICT r2 §wrong.1 — same class as the round-1 _shingles fix)."""
    n = len(items)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    lens = np.fromiter((len(b) for b in items), count=n, dtype=np.int64)
    width = int(lens.max())
    # a single huge item (one 10 MB chunk from a cut-free document)
    # would densify the WHOLE batch to (n, 10M) bytes (review r3):
    # route outliers through the scalar reference implementation and
    # batch only the normal-sized rest
    if width > 1 << 16 and n > 1:
        big = lens > (1 << 16)
        out = np.empty(n, dtype=np.uint64)
        small_idx = np.nonzero(~big)[0]
        out[small_idx] = _fnv1a_bytes_batch([items[i] for i in small_idx])
        for i in np.nonzero(big)[0]:
            out[i] = _fnv1a_bytes(items[i])
        return out
    acc = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    if width == 0:
        return acc & _FNV_MASK63
    flat = np.frombuffer(b"".join(items), dtype=np.uint8)
    mat = np.zeros((n, width), dtype=np.uint8)
    rows = np.repeat(np.arange(n), lens)
    cols = np.arange(len(flat)) - np.repeat(np.cumsum(lens) - lens, lens)
    mat[rows, cols] = flat
    for j in range(width):
        active = lens > j
        nxt = (acc ^ mat[:, j].astype(np.uint64)) * _FNV_PRIME
        acc = np.where(active, nxt, acc)
    return acc & _FNV_MASK63


def _fnv1a_tokens(toks: list[str]) -> np.ndarray:
    """FNV-1a over each token's UTF-8 bytes, batched across tokens.

    ASCII fast path: one numpy 'U' codepoint matrix (no per-token
    ``encode()`` — that Python call dominates for short tokens) and
    max_len column passes; codepoints < 128 ARE the UTF-8 bytes, so the
    result is bit-identical. Any non-ASCII or embedded-NUL token drops
    the batch to the byte-matrix path."""
    if not toks:
        return np.zeros(0, dtype=np.uint64)
    arr = np.asarray(toks, dtype="U")
    width = arr.dtype.itemsize // 4
    if width == 0:  # every token empty
        return np.full(len(toks), _FNV_OFFSET & _FNV_MASK63, dtype=np.uint64)
    mat = arr.view(np.uint32).reshape(len(arr), width)
    # token length from the NUL padding: trustworthy only when no
    # token contains a NUL at all. numpy 'U' conversion TRUNCATES
    # trailing NULs, so the matrix cannot distinguish 'a\\x00' from
    # 'a' (review r3) — compare the true total char count instead;
    # any NUL anywhere makes it exceed the nonzero-codepoint count.
    nzmask = mat != 0
    lens = nzmask.sum(axis=1).astype(np.int64)
    if (mat >= 128).any() or sum(map(len, toks)) != int(lens.sum()):
        return _fnv1a_bytes_batch([t.encode() for t in toks])
    acc = np.full(len(arr), _FNV_OFFSET, dtype=np.uint64)
    for j in range(width):
        active = lens > j
        nxt = (acc ^ mat[:, j].astype(np.uint64)) * _FNV_PRIME
        acc = np.where(active, nxt, acc)
    return acc & _FNV_MASK63

_TOKEN_P = np.uint64(1099511628211)
_SHINGLE_P = np.uint64(0x9E3779B97F4A7C15)


def _token_hashes(toks: list[str]) -> np.ndarray:
    """Deterministic 64-bit hash per token, vectorized across tokens.

    Tokens go into one fixed-width codepoint matrix (numpy 'U' dtype,
    zero-padded); the hash is the polynomial Σ c_j·P^j (mod 2^64) mixed
    with the length. Padding columns contribute 0·P^j, so the value is
    independent of the batch's max token length — the same token hashes
    identically in every doc/batch (required for cross-doc Jaccard).
    Replaces the per-token per-byte Python FNV loop that was the MinHash
    pipeline's throughput ceiling (VERDICT r01 §wrong.3)."""
    arr = np.asarray(toks, dtype="U")
    width = arr.dtype.itemsize // 4
    if arr.size == 0 or width == 0:
        return np.zeros(arr.size, dtype=np.uint64)
    mat = arr.view(np.uint32).reshape(len(arr), width).astype(np.uint64)
    powers = _TOKEN_P ** np.arange(width, dtype=np.uint64)
    poly = (mat * powers).sum(axis=1)  # uint64 wraps
    lens = (mat != 0).sum(axis=1).astype(np.uint64)
    from geomesa_sql_spark.io.fixtures import _splitmix64

    return _splitmix64((poly ^ (lens * _SHINGLE_P)).view(np.int64))


def _shingles(text: str, k: int) -> np.ndarray:
    """Hashes of the k-token shingles of ``text`` — fully vectorized:
    one token-hash pass, then a sliding-window polynomial combine
    (stride view × power vector, uint64 wraparound) and a splitmix64
    finalizer. Short docs (< k tokens) hash the whole token sequence."""
    from geomesa_sql_spark.io.fixtures import _splitmix64

    toks = text.split()
    if not toks:
        return np.array([0xCBF29CE484222325], dtype=np.uint64)
    h = _token_hashes(toks)
    kk = min(k, len(h))
    win = np.lib.stride_tricks.sliding_window_view(h, kk)
    powers = _SHINGLE_P ** np.arange(kk, dtype=np.uint64)[::-1]
    combined = (win * powers).sum(axis=1)  # uint64 wraps
    return _splitmix64(combined.view(np.int64))


def _ranges(runs: np.ndarray) -> np.ndarray:
    """[0..r0), [0..r1), ... concatenated (within-run arange)."""
    total = int(runs.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    out = np.ones(total, dtype=np.int64)
    out[0] = 0
    starts = np.cumsum(runs)[:-1]
    out[starts] = 1 - runs[:-1]
    return np.cumsum(out)


def _shingles_batch(
    texts, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """(flat shingle hashes, per-doc offsets) for a whole batch —
    bit-identical to calling :func:`_shingles` per doc, but the token
    hashing AND the window combine run as single numpy passes over the
    concatenated batch (the per-doc small-array dispatch was the
    signature stage's throughput ceiling — guide §4.2)."""
    from geomesa_sql_spark.io.fixtures import _splitmix64

    docs = [(t or "").split() for t in texts]
    nd = len(docs)
    counts = np.fromiter((len(d) for d in docs), count=nd, dtype=np.int64)
    h = _token_hashes([tok for d in docs for tok in d])
    tok_off = np.concatenate([[0], np.cumsum(counts)])
    n_sh = np.where(counts == 0, 1, np.maximum(counts - k + 1, 1))
    offs = np.concatenate([[0], np.cumsum(n_sh)])
    out = np.empty(int(offs[-1]), dtype=np.uint64)
    # empty docs: the FNV offset sentinel, no finalizer (as _shingles)
    out[offs[:-1][counts == 0]] = np.uint64(0xCBF29CE484222325)
    # full-k windows across the flat token-hash array, gathered at
    # in-doc positions only (windows straddling doc boundaries exist
    # in the flat view but are never selected)
    mA = counts >= k
    if mA.any() and len(h) >= k:
        win = np.lib.stride_tricks.sliding_window_view(h, k)
        powers = _SHINGLE_P ** np.arange(k, dtype=np.uint64)[::-1]
        combined = (win * powers).sum(axis=1)  # uint64 wraps
        runs = counts[mA] - k + 1
        pos = np.repeat(tok_off[:-1][mA], runs) + _ranges(runs)
        dst = np.repeat(offs[:-1][mA], runs) + _ranges(runs)
        out[dst] = _splitmix64(combined[pos].view(np.int64))
    # short non-empty docs (< k tokens): one whole-sequence shingle
    for i in np.flatnonzero((counts > 0) & ~mA):
        hh = h[tok_off[i] : tok_off[i + 1]]
        powers = _SHINGLE_P ** np.arange(len(hh), dtype=np.uint64)[::-1]
        out[offs[i]] = _splitmix64(
            np.asarray([(hh * powers).sum()], dtype=np.uint64).view(np.int64)
        )[0]
    return out, offs


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, signature array<long>) — vectorized MinHash over shingles."""
    a, b = _hash_params(num_hashes)

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )

    def gen(batches):
        m = np.uint64(_MERSENNE)
        for pdf in batches:
            ids = pdf[id_col].to_list()
            if not ids:
                continue
            # one flat shingle pass for the whole batch, then each of
            # the num_hashes linear hashes is one vectorized pass over
            # the flat array with a per-doc segmented min (reduceat) —
            # elementwise arithmetic identical to the per-doc shape
            # (uint64 wrap then % mersenne), so signatures and band
            # buckets are bit-identical
            sh, offs = _shingles_batch(pdf[text_col], shingle_k)
            shm = sh % m
            mins = np.empty((len(ids), len(a)), dtype=np.int64)
            seg = offs[:-1]
            for j in range(len(a)):
                v = (a[j] * shm + b[j]) % m
                mins[:, j] = np.minimum.reduceat(v, seg).astype(np.int64)
            yield pd.DataFrame({id_col: ids, "sig": list(mins)})

    return df.select(id_col, text_col).mapInPandas(gen, schema)


def band_key_expr(bands: int, rows_per_band: int):
    """The LSH band→bucket key as ONE Column expression: explode of
    (band, xxhash64(sig slice)) structs. Single source for the batch
    pair join (lsh_near_dup_pairs) and the streaming bucketer
    (streaming/dedup.banded_signatures) — their correctness contract
    is identical bucketing, so the expression must not fork (review
    r4o dedup)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.xxhash64(
                        *[
                            F.col("sig")[j]
                            for j in range(
                                i * rows_per_band, (i + 1) * rows_per_band
                            )
                        ]
                    ).alias("bh"),
                )
                for i in range(bands)
            ]
        )
    ).alias("e")


def lsh_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    MinHash signatures → band buckets → per-(band, band_hash) id list
    (one shuffle, ``collect_list``) → i<j candidate pairs expanded from
    each list → exact shingle-Jaccard verify (vectorized). The pair
    expansion is quadratic in a bucket's size and runs inside ONE row:
    uniform text keeps buckets tiny, but a degenerate bucket (many
    identical band hashes) yields O(k²) pairs in one task.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    banded = sigs.select(
        id_col, band_key_expr(bands, rows_per_band)
    ).select(id_col, "e.band", "e.bh")
    # ONE bucket shuffle instead of a two-sided self-equi-join (r6,
    # guide §2.4): group ids per (band, hash) bucket and expand i<j
    # pairs with a JVM higher-order expression. Same candidate set;
    # the signature stage now feeds a single plan path, so the eager
    # localCheckpoint that guarded against double Python evaluation
    # (and its materialization job) is gone too.
    cand = (
        banded.groupBy("band", "bh")
        .agg(F.collect_list(id_col).alias("__ids"))
        .filter(F.size("__ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(__ids, (a, i) -> "
                    "transform(filter(__ids, b -> b > a), b -> "
                    "struct(a AS id_a, b AS id_b))))"
                )
            ).alias("__p")
        )
        .select("__p.id_a", "__p.id_b")
        .distinct()
    )
    texts = df.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a")
    )
    texts_b = df.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b")
    )
    pairs = cand.join(texts, "id_a").join(texts_b, "id_b")

    @F.pandas_udf(T.DoubleType())
    def _jaccard(ta: pd.Series, tb: pd.Series) -> pd.Series:
        # a doc appears in many candidate pairs → memoize its DISTINCT
        # shingle array per batch (keyed by the text itself); the
        # per-pair intersection is a C-speed sorted-array merge
        # (intersect1d on unique arrays) instead of Python set algebra
        cache: dict[str, np.ndarray] = {}

        def sh(t: str) -> np.ndarray:
            s = cache.get(t)
            if s is None:
                s = cache[t] = np.unique(_shingles(t, shingle_k))
            return s

        out = []
        for x, y in zip(ta, tb):
            sa, sb = sh(x or ""), sh(y or "")
            inter = np.intersect1d(sa, sb, assume_unique=True).size
            u = sa.size + sb.size - inter
            out.append(inter / u if u else 1.0)
        return pd.Series(out)

    # nondeterministic mark (guide §4.4): the >= threshold filter on the
    # UDF column otherwise gets pushed below the projection and Catalyst
    # evaluates the shingle/intersect UDF TWICE per pair (two stacked
    # ArrowEvalPython nodes in the r6 before-plan); marking it
    # non-reorderable yields a single evaluation, same rows
    return (
        pairs.withColumn(
            "jaccard", _jaccard.asNondeterministic()("text_a", "text_b")
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, simhash bigint): 64-bit Charikar simhash of word tokens."""
    from geomesa_sql_spark.io.fixtures import _splitmix64

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("simhash", T.LongType()),
        ]
    )

    def gen(batches):
        shift = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            # hash every token of the batch in ONE vectorized FNV pass
            # (bit-identical to the old per-token loop), then slice the
            # flat hash array per doc for the vote fold
            docs = [(t or "").split() for t in pdf[text_col]]
            counts = np.fromiter(
                (len(d) for d in docs), count=len(docs), dtype=np.int64
            )
            flat = [tok for toks in docs for tok in toks]
            hs_all = _splitmix64(_fnv1a_tokens(flat).astype(np.int64))
            offs = np.concatenate([[0], np.cumsum(counts)])
            out = []
            for i in range(len(docs)):
                if counts[i] == 0:
                    out.append(0)
                    continue
                hs = hs_all[offs[i]:offs[i + 1]]
                bits = (hs[:, None] >> shift[None, :]) & np.uint64(1)
                votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
                sh = np.left_shift((votes > 0).astype(np.uint64), shift).sum(
                    dtype=np.uint64
                )
                out.append(int(sh.astype(np.int64)))
            yield pd.DataFrame({id_col: pdf[id_col].to_list(), "simhash": out})

    return df.select(id_col, text_col).mapInPandas(gen, schema)


def hamming_near_dup_pairs(
    df: DataFrame,
    sig_col: str,
    id_col: str,
    max_hamming: int = 6,
    chunks: int | None = None,
) -> DataFrame:
    """EXACT near-dup pairs over 64-bit signatures: (id_a < id_b,
    hamming ≤ max_hamming) — recall 1.0 by pigeonhole, not an
    approximation.

    Manku et al.'s chunk trick: split the signature into ``chunks``
    bit-slices (default max_hamming + 2 > max_hamming, so any pair
    within the radius agrees on ≥ 2 whole slices); equi-join on
    (slice index, slice value) — uniformly keyed, the only shuffle —
    then verify with JVM ``bit_count(a XOR b)``. Zero Python: slicing,
    join and verify are all Catalyst Columns. Works on any 64-bit
    signature column: SimHash (``simhash64``), image average-hash
    (``ops.multimodal.phash_images``)."""
    k = int(chunks) if chunks is not None else int(max_hamming) + 2
    if k < max_hamming + 1:
        raise ValueError("chunks must be >= max_hamming + 1 (pigeonhole)")
    if not 1 <= k <= 64:
        raise ValueError("chunks must be in [1, 64]")
    w = 64 // k
    sig = F.col(sig_col)

    def _slice(i: int) -> F.Column:
        lo = i * w
        width = 64 - lo if i == k - 1 else w  # last slice takes the tail
        return F.shiftrightunsigned(sig, lo).bitwiseAND(
            F.lit((1 << width) - 1 if width < 64 else -1)
        )

    banded = df.select(
        F.col(id_col),
        sig.alias("__sig"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), _slice(i).alias("bv"))
                    for i in range(k)
                ]
            )
        ).alias("e"),
    ).select(id_col, "__sig", "e.band", "e.bv")
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("__sig").alias("__sa"), "band", "bv"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("__sig").alias("__sb"), "band", "bv"
    )
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__sa", "__sb")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
        )
        .filter(F.col("hamming") <= F.lit(int(max_hamming)))
        .select("id_a", "id_b", "hamming")
    )


def hamming_clusters(
    df: DataFrame,
    sig_col: str,
    id_col: str,
    max_hamming: int = 6,
    chunks: int | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Signature dedup GROUPS without pair explosion: (id, cluster)
    for every row, cluster = min id whose signature is in the same
    hamming-≤-radius component.

    Why not pairs: a corpus with a million byte-identical images (one
    signature) would make :func:`hamming_near_dup_pairs` emit ~5·10¹¹
    rows — the pair relation is inherently quadratic in exact-dup
    group size. Here identical signatures collapse to ONE node (keyed
    by their min id) before the band join; the component closure runs
    on the distinct-signature graph; rows then inherit their
    signature's component label with a plain equi-join. Every stage is
    linear in the input + distinct-signature count."""
    # materialize (id, sig) ONCE: the upstream of sig_col is often an
    # expensive stage (e.g. phash_images decodes every payload) and it
    # is read here twice — for the per-signature collapse and for the
    # final label join-back (16 bytes/row, same tradeoff as the
    # minhash signature checkpoint). LAZY (r6): both frames persist +
    # truncate lineage exactly as before, but materialize inside the
    # first consuming action (min_label_components' toPandas walks
    # pairs ← per_sig ← rows in one job) instead of as two extra
    # barrier jobs before it.
    rows = df.select(
        F.col(id_col).cast("long").alias("__hid"), F.col(sig_col).alias("__hsig")
    ).filter(F.col("__hsig").isNotNull()).localCheckpoint(eager=False)
    per_sig = (
        rows.groupBy("__hsig").agg(F.min("__hid").alias("rep"))
        .localCheckpoint(eager=False)
    )
    pairs = hamming_near_dup_pairs(per_sig, "__hsig", "rep", max_hamming, chunks)
    edges = pairs.select(F.col("id_a").alias("i"), F.col("id_b").alias("j"))
    from geomesa_sql_spark.ops.cluster import min_label_components

    seeds = per_sig.select(F.col("rep").alias("id"))
    comp = min_label_components(seeds, edges, max_iter)
    return (
        rows.join(per_sig, "__hsig")
        .join(comp.select(F.col("id").alias("rep"), "lab"), "rep", "left")
        .select(
            F.col("__hid").alias(id_col),
            F.coalesce("lab", "rep").alias("cluster"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs — the brute-force twin of
    :func:`lsh_near_dup_pairs` (its recall oracle in tests; quadratic,
    verification-scale only — the LSH path is the 100 TB plan)."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))

    @F.pandas_udf(T.DoubleType())
    def _jac(ta: pd.Series, tb: pd.Series) -> pd.Series:
        cache: dict[str, set] = {}

        def sh(t: str) -> set:
            s = cache.get(t)
            if s is None:
                s = cache[t] = set(_shingles(t, shingle_k).tolist())
            return s

        out = []
        for x, y in zip(ta, tb):
            sa, sb = sh(x or ""), sh(y or "")
            u = len(sa | sb)
            out.append(len(sa & sb) / u if u else 1.0)
        return pd.Series(out)

    # same §4.4 single-evaluation mark as lsh_near_dup_pairs
    return (
        pairs.withColumn("jaccard", _jac.asNondeterministic()("text_a", "text_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def doc_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 16,
    mask_bits: int = 6,
    min_chunk: int = 24,
) -> DataFrame:
    """Content-defined-chunking fingerprints (Rabin-style rolling hash).

    Output: (id, chunk_idx, chunk_hash) — one row per chunk. Boundaries
    fall where the rolling hash of the trailing ``window`` bytes has
    ``mask_bits`` low zero bits (expected chunk ≈ 2^mask_bits + window
    bytes, floored at ``min_chunk``); chunk_hash is FNV-1a of the chunk
    bytes. The CDC property — an edit only disturbs the chunks it
    touches, unlike fixed-stride blocks — is what makes these
    fingerprints usable for containment/near-dup at corpus scale.
    Vectorized: the rolling hash is a sliding-window dot product with
    wraparound uint64 powers; only the boundary walk is per-chunk.
    """
    P = np.uint64(1099511628211)

    powers = P ** np.arange(window, dtype=np.uint64)[::-1]

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("chunk_idx", T.IntegerType()),
            T.StructField("chunk_hash", T.LongType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids, idxs, chunks = [], [], []
            for key, text in zip(pdf[id_col], pdf[text_col]):
                data = (text or "").encode()
                n = len(data)
                if n == 0:
                    continue
                if n <= window:
                    bounds = [n]
                else:
                    arr = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
                    win = np.lib.stride_tricks.sliding_window_view(arr, window)
                    roll = (win * powers).sum(axis=1)  # uint64 wraps
                    mask = (np.uint64(1) << np.uint64(mask_bits)) - np.uint64(1)
                    cut_pos = np.nonzero((roll & mask) == 0)[0] + window
                    bounds = []
                    prev = 0
                    for c in cut_pos.tolist():
                        if c - prev >= min_chunk:
                            bounds.append(c)
                            prev = c
                    if prev != n:
                        bounds.append(n)
                start = 0
                for k, end in enumerate(bounds):
                    ids.append(key)
                    idxs.append(k)
                    # latin1-decode → UTF-8 re-encode preserved from the
                    # scalar path (the oracle replays these exact bytes)
                    chunks.append(data[start:end].decode("latin1").encode())
                    start = end
            # one vectorized FNV pass over every chunk in the batch
            hashes = _fnv1a_bytes_batch(chunks).astype(np.int64)
            yield pd.DataFrame({id_col: ids, "chunk_idx": idxs, "chunk_hash": hashes})

    return df.select(id_col, text_col).mapInPandas(gen, schema)


def dedup_keep_best(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Keep the best-scoring row per dedup cluster (ties → min id,
    deterministic). ``clusters``: (id_col, cluster) as produced by
    hamming_clusters / embedding_clusters / dbscan-style labelers.
    Rows absent from ``clusters`` are kept as-is (their own group).

    The curation step after any near-dup pass: min-id keep (what
    exact_dedup does) discards quality information; this keeps the
    highest-``score_col`` representative instead. One shuffle keyed by
    cluster (map-side partial max), then a semi-join back."""
    is_noise = F.col("cluster").isNull() | (F.col("cluster") < 0)
    labelled = (
        df.join(clusters, id_col, "left")
        # NULL or NEGATIVE labels mean "not in any dedup group" (dbscan
        # emits cluster=-1 for noise; collapsing all noise into one
        # group deleted unrelated rows — review r3): such rows keep
        # themselves. The namespace FLAG keeps a noise row whose id
        # happens to equal some unrelated group's label out of that
        # group (review r3b: kmeans-style small labels collide with
        # ids)
        .withColumn("__grp_self", is_noise)
        .withColumn(
            "__grp", F.when(is_noise, F.col(id_col)).otherwise(F.col("cluster"))
        )
    )
    best = (
        labelled.groupBy("__grp_self", "__grp")
        .agg(
            F.max_by(
                F.col(id_col), F.struct(F.col(score_col), -F.col(id_col))
            ).alias(id_col)
        )
        .select(id_col)
    )
    return df.join(best, id_col, "left_semi")


def _shingle_set(df: DataFrame, text_col: str, k: int) -> DataFrame:
    """Distinct k-token shingle hashes over ALL rows of ``df`` — the
    benchmark side of decontamination. One mapInPandas pass emitting
    per-batch-deduped hashes, then a global distinct (the frame is
    eval-set sized, not corpus sized)."""
    schema = T.StructType([T.StructField("sh", T.LongType())])

    def gen(batches):
        for pdf in batches:
            hs = [
                np.unique(_shingles(t, k))
                for t in pdf[text_col]
                if t and t.split()  # empty docs share no CONTENT:
                # the _shingles('') sentinel must not cross-match
            ]
            if not hs:
                continue
            allh = np.unique(np.concatenate(hs))
            yield pd.DataFrame({"sh": allh.view(np.int64)})

    return df.select(text_col).mapInPandas(gen, schema).distinct()


def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """(id, n_hits) for corpus docs sharing ≥ ``min_hits`` DISTINCT
    k-token shingles with the benchmark/eval set — the standard
    n-gram-overlap decontamination test for training corpora.

    100 TB shape: the benchmark shingle set is eval-sized and
    BROADCAST; the corpus side is one mapInPandas shingle pass (hashes
    deduped per doc locally, so the per-doc hit count is a distinct
    count without a distinct shuffle), a broadcast hash join, and a
    map-side-partial count per doc. The corpus text never shuffles.
    Shingle hashes are 64-bit (collision FP ≈ n·m / 2^64)."""
    bench_sh = _shingle_set(benchmark, text_col, shingle_k)
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("sh", T.LongType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids_out: list = []
            sh_out: list = []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                if not (text and text.split()):
                    continue  # no tokens -> no content to match
                sh = np.unique(_shingles(text, shingle_k))
                ids_out.extend([int(i)] * len(sh))
                sh_out.extend(sh.view(np.int64).tolist())
            yield pd.DataFrame({id_col: ids_out, "sh": sh_out})

    corp_sh = corpus.select(id_col, text_col).mapInPandas(gen, schema)
    return (
        corp_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= int(min_hits))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Corpus minus benchmark-contaminated docs (anti-join on
    :func:`contaminated_ids`) — all corpus columns preserved."""
    bad = contaminated_ids(
        corpus, benchmark, text_col, id_col, shingle_k, min_hits
    ).select(id_col)
    return corpus.join(bad, id_col, "left_anti")
