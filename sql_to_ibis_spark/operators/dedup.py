"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (the whole point of these implementations):

* **exact_dedup** — one hash shuffle on the dedup key (window
  ``row_number`` partitioned by key). No global sort, no collect.
* **minhash_lsh_candidates** — the classic shingle → minhash → band →
  bucket-join pipeline. Token hashes are JVM-side (``xxhash64``); the
  shingle polynomial and the ``num_hashes`` universal-hash minima run in ONE
  Arrow-batched pandas UDF as vectorized numpy reductions. (Spark's
  higher-order functions — ``transform``/``aggregate`` — are
  ``CodegenFallback``, i.e. interpreted per element: the previous pure-HOF
  signature spent ~16M interpreted expression evals per 5 k docs, measured
  ~10× slower than the Arrow+numpy path.) Per-row work is embarrassingly
  parallel; the only shuffle is ``groupBy(band_hash)``. Candidate pairs are
  produced per-bucket, never via an all-pairs cross join, so cost is
  O(sum of bucket sizes squared) ≈ linear for well-distributed data instead
  of O(n²).
* **simhash** — per-token hashes computed JVM-side (``xxhash64``); only the
  ±1 bit accumulation runs in an Arrow-batched pandas UDF as one segmented
  numpy reduction per batch (bit-vote accumulation is a poor fit for
  Catalyst expressions). Banding on 16-bit quarters finds all pairs within
  Hamming distance 3 of each other without pairwise comparison.
* **ngram_jaccard_verify** — exact verification joined back onto candidate
  pairs only (never the full table).

Caching contract: operators that feed one computed table into several plan
branches (``minhash_lsh_candidates``, ``simhash_buckets``,
``dedup_clusters``) ``persist()`` that intermediate and return a LAZY
DataFrame, so they cannot unpersist it themselves — the storage is
reclaimed by Spark's ContextCleaner once the returned plan (and its cached
dependencies) become unreferenced. Long-lived sessions invoking these
operators many times should materialize the result promptly and drop the
reference (or call ``spark.catalog.clearCache()`` between batches) rather
than accumulating live result handles. Eager operators
(``ivf_ann_topk_batch``) unpersist before returning.
"""

from __future__ import annotations

import warnings

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def normalized_text(col: Column) -> Column:
    """Whitespace-collapsed, trimmed, lowercased text (the canonical dedup
    key normalization)."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    normalize_col: str | None = None,
) -> DataFrame:
    """Keep the first row (by ``order_col``) per exact key.

    If ``normalize_col`` is given, a normalized copy named ``<col>_norm`` is
    added and may be used in ``key_cols`` (e.g. ``text_norm``).

    Single shuffle on the key; survives any scale where individual keys fit
    a partition (hot keys are bounded by AQE skew handling).
    """
    from pyspark.sql import Window

    out = df
    if normalize_col is not None:
        out = out.withColumn(f"{normalize_col}_norm",
                             normalized_text(F.col(normalize_col)))
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    out = out.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    drop = ["__rn"]
    if normalize_col is not None:
        drop.append(f"{normalize_col}_norm")
    return out.drop(*drop)


# ------------------------------------------------------------------ MinHash

_HASH_SPACE = (1 << 31) - 1  # all hashing folded into [0, 2^31): keeps every
                             # downstream multiply-add inside signed-64 range
                             # (Spark 4 ANSI mode throws on long overflow, so
                             # wraparound tricks are off the table)


def _token_hashes(text_col: Column) -> Column:
    """31-bit hash per whitespace token (tokens hashed exactly once)."""
    tokens = F.split(normalized_text(text_col), " ")
    return F.transform(tokens, lambda t: F.pmod(F.xxhash64(t), F.lit(_HASH_SPACE)))


def _shingle_hashes(text_col: Column, shingle_size: int) -> Column:
    """Hash of each word ``shingle_size``-gram, computed as a polynomial over
    the token-hash array (no per-shingle string building — measured ~9×
    faster than join-then-xxhash at sf0.1). Short docs yield one shingle."""
    th = _token_hashes(text_col)
    n = F.size(th)
    starts = F.sequence(F.lit(1), F.greatest(n - shingle_size + 1, F.lit(1)))

    def poly(i: Column) -> Column:
        return F.aggregate(
            F.slice(th, i, shingle_size),
            F.lit(0).cast("long"),
            lambda acc, x: F.pmod(acc * 31 + x, F.lit(_HASH_SPACE)),
        )

    return F.transform(starts, poly)


def _minhash_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic multipliers + offsets for universal hashing. Kept below
    2^29 so a·x + b with x < 2^31 never exceeds 2^61 — ANSI-mode-safe (Spark
    4 throws on long overflow by default, so we cannot rely on wraparound)."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 29) | 1, rng.randrange(0, 1 << 29))
        for _ in range(num_hashes)
    ]


def _null_filled(hash_arrays: pd.Series):
    """Split a batch of token-hash arrays into (filled_series, null_mask).

    A null text column arrives here as None elements (``split(NULL)`` is
    NULL JVM-side); the numpy kernels below need rectangular input, so null
    rows are temporarily replaced with empty arrays and the caller restores
    NULL at those positions — matching the null propagation of the earlier
    pure-JVM-expression implementations."""
    import numpy as np

    mask = hash_arrays.isna().to_numpy()
    if mask.any():
        empty = np.zeros(0, dtype=np.int64)
        hash_arrays = hash_arrays.map(
            lambda a: empty if a is None else a)
    return hash_arrays, mask


def _shingle_flat(hash_arrays: pd.Series, k: int):
    """Vectorized rolling-polynomial shingles over a whole Arrow batch.

    Input: a Series of per-doc token-hash arrays (int64 in [0, P)).
    Returns ``(sh, m, offs)``: the flattened shingle hashes, the per-doc
    shingle counts (``max(len - k + 1, 1)`` — short docs yield one shingle
    over all their tokens, matching ``_shingle_hashes``), and the per-doc
    start offsets into ``sh``. No Python-level per-token loop: the poly is
    built as ``k`` shifted multiply-add-mod passes over the concatenated
    batch, then gathered per doc with numpy fancy indexing."""
    import numpy as np

    n_docs = len(hash_arrays)
    lens = hash_arrays.map(len).to_numpy(dtype=np.int64)
    total_toks = int(lens.sum())
    flat = (np.concatenate(
        [np.asarray(a, dtype=np.int64) for a in hash_arrays if len(a)])
        if total_toks else np.zeros(0, dtype=np.int64))
    offs_in = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lens[:-1], out=offs_in[1:])
    return _shingles_from_flat(flat, lens, offs_in, k)


def _shingles_from_flat(flat, lens, offs_in, k: int):
    """Kernel shared by the pandas and Arrow entry points: flat token
    hashes + per-doc (lens, start offsets) → ``(sh, m, offs)`` as in
    ``_shingle_flat``."""
    import numpy as np

    n_docs = len(lens)
    total_toks = int(lens.sum())
    # accs[t][p] = poly over flat[p .. p+t] (mod applied per step keeps every
    # intermediate < 31·2^31 + 2^31, ANSI-safe in int64)
    accs = [flat]
    for t in range(1, k):
        nxt = np.zeros_like(flat)
        if len(flat) > t:
            nxt[:-t] = (accs[-1][:-t] * 31 + flat[t:]) % _HASH_SPACE
        accs.append(nxt)
    m = np.maximum(lens - k + 1, 1)
    offs = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(m[:-1], out=offs[1:])
    total = int(m.sum())
    # gather: shingle j of doc i reads accs[min(len_i,k)-1][tok_off_i + j];
    # len-0 docs (unreachable via split(), defended anyway) read hash 0
    src = np.repeat(offs_in, m) + (np.arange(total) - np.repeat(offs, m))
    lvl = np.clip(np.minimum(lens, k) - 1, 0, k - 1)
    if total_toks:
        sh = np.stack(accs)[np.repeat(lvl, m), np.minimum(src, total_toks - 1)]
        sh = np.where(np.repeat(lens, m) > 0, sh, 0)
    else:
        sh = np.zeros(total, dtype=np.int64)
    return sh, m, offs


def _sig_from_shingles(sh, offs, n_docs: int, a_all, b_all,
                       num_hashes: int):
    """Permutation minima over per-doc shingle segments (shared by the
    pandas and Arrow signature entry points). Chunked 16 permutations at
    a time so peak memory stays ~16·|shingles|·8 B."""
    import numpy as np

    out = np.empty((num_hashes, n_docs), dtype=np.int64)
    for c0 in range(0, num_hashes, 16):
        a = a_all[c0:c0 + 16, None]
        b = b_all[c0:c0 + 16, None]
        vals = (sh[None, :] * a + b) % _HASH_SPACE
        out[c0:c0 + 16] = np.minimum.reduceat(vals, offs, axis=1)
    return out


def _minhash_sig_udf(num_hashes: int, shingle_size: int):
    """Arrow-batched signature UDF: token-hash arrays → ``num_hashes``
    minhash values. The whole batch is one numpy computation: rolling-poly
    shingles (``_shingle_flat``) then, per permutation chunk,
    ``(a·sh + b) mod P`` + ``np.minimum.reduceat`` over per-doc segments.

    The mod is ESSENTIAL: without it ``a·h + b`` is monotonic in ``h`` and
    every "permutation" picks the same argmin shingle — the signature
    degenerates to ``num_hashes`` copies of one minhash (planted-dup recall
    gate in tests/test_quality_gates.py caught this). Reducing mod a prime
    breaks monotonicity and makes each (a, b) an independent universal hash.
    ``a, b < 2^29`` and ``sh < 2^31`` keep ``a·sh + b < 2^60``: int64-safe.

    Permutations are processed 16 at a time so peak batch memory stays
    ~``16 · total_shingles · 8 B`` (~64 MB for a 10 k-doc Arrow batch)
    regardless of ``num_hashes``."""
    import numpy as np

    params = _minhash_params(num_hashes)
    a_all = np.array([a for a, _ in params], dtype=np.int64)
    b_all = np.array([b for _, b in params], dtype=np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def _sig(hash_arrays: pd.Series) -> pd.Series:
        n_docs = len(hash_arrays)
        if n_docs == 0:
            return pd.Series([], dtype=object)
        hash_arrays, null_mask = _null_filled(hash_arrays)
        sh, _, offs = _shingle_flat(hash_arrays, shingle_size)
        out = _sig_from_shingles(sh, offs, n_docs, a_all, b_all, num_hashes)
        res = pd.Series(list(out.T))
        if null_mask.any():
            res[null_mask] = None
        return res

    return _sig


def _sig_list_array(th, a_all, b_all, num_hashes: int, k: int):
    """Signatures of one Arrow ``list<int64>`` batch of token hashes, as a
    ``list<int64>`` array: reads the offsets/values buffers directly (the
    flat layout ``_shingles_from_flat`` wants is Arrow's native layout)
    and writes the output from one flat buffer.

    NULL token arrays (NULL text upstream) keep NULL signatures: the
    input validity bitmap is copied onto the output. Arrow list offsets
    under null slots are only guaranteed monotonic, so a null slot may
    cover a nonzero-length slice of values; those values are masked out
    before shingling and the slot shingles as an empty document."""
    import numpy as np
    import pyarrow as pa

    n_docs = len(th)
    raw_offs = th.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    raw_lens = np.diff(raw_offs)
    null_mask = th.is_null().to_numpy(zero_copy_only=False)
    vals = th.values.to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False)[raw_offs[0]:raw_offs[-1]]
    if null_mask.any():
        lens = np.where(null_mask, 0, raw_lens)
        flat = vals[np.repeat(~null_mask, raw_lens)]
    else:
        lens, flat = raw_lens, vals
    offs_in = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lens[:-1], out=offs_in[1:])
    sh, _, offs = _shingles_from_flat(flat, lens, offs_in, k)
    out = _sig_from_shingles(sh, offs, n_docs, a_all, b_all, num_hashes)
    sig_offs = np.arange(0, (n_docs + 1) * num_hashes, num_hashes,
                         dtype=np.int32)
    return pa.ListArray.from_arrays(
        pa.array(sig_offs), pa.array(out.T.reshape(-1), type=pa.int64()),
        mask=(pa.array(null_mask) if null_mask.any() else None))


def _minhash_sig_frame(df: DataFrame, id_col: str, th_col: Column,
                       num_hashes: int, shingle_size: int) -> DataFrame:
    """Frame-level signature stage: ``(id, sig)`` via ``mapInArrow`` over
    ``_sig_list_array``.

    The pandas UDF form (``minhash_signature``) pays a per-batch object
    boundary both ways — Arrow ``list<int64>`` → one numpy array PER ROW
    (then re-concatenated by ``_shingle_flat``) on input, and a Series of
    per-row arrays on output. This form shares its kernels
    (``_shingles_from_flat`` / ``_sig_from_shingles``), so results are
    identical row for row (tests/test_operators.py pins it against
    ``minhash_signature``) — measured 2× on the signature stage (sf10:
    15.2 s pandas vs 7.8 s arrow, interleaved)."""
    import numpy as np

    params = _minhash_params(num_hashes)
    a_all = np.array([a for a, _ in params], dtype=np.int64)
    b_all = np.array([b for _, b in params], dtype=np.int64)
    src = df.select(F.col(id_col).alias("id"), th_col.alias("__th"))
    id_field = src.schema.fields[0]

    def batches(it):
        import pyarrow as pa

        for batch in it:
            ids, th = batch.column(0), batch.column(1)
            if isinstance(th, pa.ChunkedArray):  # defensive; not expected
                th = th.combine_chunks()
            if len(th) == 0:
                continue
            sig = _sig_list_array(th, a_all, b_all, num_hashes, shingle_size)
            yield pa.RecordBatch.from_arrays([ids, sig], ["id", "sig"])

    out_schema = T.StructType([
        T.StructField("id", id_field.dataType, id_field.nullable),
        T.StructField("sig", T.ArrayType(T.LongType()), True)])
    return src.mapInArrow(batches, out_schema)


def _shingle_set_udf(shingle_size: int):
    """Arrow-batched UDF: token-hash arrays → distinct shingle-hash sets
    (the exact-Jaccard input). Same rolling poly as the signature path, so
    verification and candidate generation agree on shingle identity."""
    import numpy as np

    @pandas_udf(T.ArrayType(T.LongType()))
    def _sets(hash_arrays: pd.Series) -> pd.Series:
        n_docs = len(hash_arrays)
        if n_docs == 0:
            return pd.Series([], dtype=object)
        hash_arrays, null_mask = _null_filled(hash_arrays)
        sh, m, offs = _shingle_flat(hash_arrays, shingle_size)
        bounds = np.append(offs, len(sh))
        res = pd.Series(
            [np.unique(sh[bounds[i]:bounds[i + 1]]) for i in range(n_docs)])
        if null_mask.any():
            res[null_mask] = None
        return res

    return _sets


def minhash_signature(
    text_col: Column, num_hashes: int = 64, shingle_size: int = 5
) -> Column:
    """Array of ``num_hashes`` minhash values: JVM-side ``xxhash64`` token
    hashes feeding one Arrow-batched numpy UDF (see ``_minhash_sig_udf`` for
    the cost model and why this beats pure higher-order functions)."""
    return _minhash_sig_udf(num_hashes, shingle_size)(_token_hashes(text_col))


def _lsh_bands(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """``(id, sig)`` → ``(id, band, bh)``: one row per band, ``bh`` the
    ``xxhash64`` of the band's slice of the signature. Callers filter out
    null signatures first, each where its plan needs it."""
    rows_per_band = num_hashes // bands
    band_cols = [
        F.xxhash64(
            F.lit(b), *[F.col("sig")[b * rows_per_band + r]
                        for r in range(rows_per_band)]
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    return sig.select("id", *band_cols).select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.col(f"band_{b}").alias("bh"))
            for b in range(bands)
        ])).alias("e"),
    ).select("id", "e.band", "e.bh")


def _lsh_pairs_from_sig(
    sig: DataFrame, num_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """Banded bucket join over an (already persisted) ``(id, sig)`` table →
    ``(id_a, id_b, n_matching_bands)``. Ids sharing any (band, band-hash)
    bucket pair up; cost is per-bucket quadratic, never all-pairs."""
    # null signatures (null input text) must not band: xxhash64 SKIPS null
    # children, so every null-sig doc would otherwise share one band hash
    # and pair with every other null-sig doc
    stacked = _lsh_bands(sig.filter(F.col("sig").isNotNull()),
                         num_hashes, bands)
    return (
        stacked.alias("l")
        .join(stacked.alias("r"),
              (F.col("l.band") == F.col("r.band"))
              & (F.col("l.bh") == F.col("r.bh"))
              & (F.col("l.id") < F.col("r.id")))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_matching_bands"))
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    include_estimate: bool = True,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    Returns ``(id_a, id_b, n_matching_bands, est_jaccard)`` with
    ``id_a < id_b``. ``est_jaccard`` is the fraction of matching signature
    positions (an unbiased Jaccard estimate); pass
    ``include_estimate=False`` to skip the two signature joins that compute
    it when the caller re-verifies exactly anyway (``dedup_clusters`` does).

    Shuffles: one ``groupBy`` on (band, band_hash) for bucketing, one join
    back to signatures for the estimate. No cross join anywhere.
    """
    sig = _minhash_sig_frame(df, id_col, _token_hashes(F.col(text_col)),
                             num_hashes, shingle_size)
    # the signature table feeds several plan branches (banding + both sides
    # of the estimate join); persist it so the shingle/minhash pipeline runs
    # exactly once. Size is id + num_hashes longs ≈ 0.5 KB/row — at 1B docs
    # that's ~0.5 TB spread over the cluster, MEMORY_AND_DISK spills fine.
    sig = sig.persist()
    pairs = _lsh_pairs_from_sig(sig, num_hashes, bands)
    if not include_estimate:
        return pairs
    # unbiased jaccard estimate from full signatures (join candidates only).
    # Deliberately the interpreted zip_with/aggregate form, NOT an
    # Arrow-batched UDF like the signature path: est cost scales with
    # CANDIDATE PAIRS (a tiny fraction of docs — LSH's whole point), so the
    # ~64 interpreted evals/pair are noise next to the two hash joins, while
    # a pandas UDF adds an extra Python stage + Arrow roundtrip of both
    # signature arrays. Measured (best-of-steady-state, local[32]): HOF
    # 0.87 s vs UDF 1.08 s at sf0.1; 1.65 s vs 2.35 s at sf1. Signature
    # computation is per-DOC and stays vectorized; this stays per-PAIR.
    sa = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b",
                   lambda a, b: F.when(a == b, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(num_hashes)
    return (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", "n_matching_bands",
                F.round(est, 4).alias("est_jaccard"))
    )


# ------------------------------------------------------------------ SimHash

@pandas_udf(T.LongType())
def _simhash_from_hashes(hash_arrays: pd.Series) -> pd.Series:
    """64-bit SimHash from per-token 64-bit hashes (computed JVM-side with
    ``xxhash64`` — deterministic across processes). The whole Arrow batch is
    accumulated with one numpy segmented reduction: unpack every token hash
    into a (total_tokens, 64) ±1 bit matrix and ``np.add.reduceat`` over the
    per-document offsets — no Python-level per-token loop (~batch-size×
    faster than hashing tokens one by one in Python)."""
    import numpy as np

    n = len(hash_arrays)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return pd.Series(out)
    hash_arrays, null_mask = _null_filled(hash_arrays)
    lens = hash_arrays.map(len).to_numpy(dtype=np.int64)
    nonzero = lens > 0
    if lens.sum() == 0:
        res = pd.Series(out)
        if null_mask.any():
            res = res.astype(object)
            res[null_mask] = None
        return res
    flat = np.concatenate(
        [np.asarray(a, dtype=np.int64) for a in hash_arrays if len(a)]
    ).view(np.uint64)
    shifts = np.arange(64, dtype=np.uint64)
    # (total_tokens, 64) of ±1 contributions, then one segmented sum per doc
    contrib = (((flat[:, None] >> shifts) & np.uint64(1)).astype(np.int32)
               * 2 - 1)
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])
    acc = np.add.reduceat(contrib, offsets[nonzero], axis=0)
    sig = ((acc > 0).astype(np.uint64) << shifts).sum(axis=1,
                                                      dtype=np.uint64)
    out[nonzero] = sig.view(np.int64)  # two's-complement for Spark LongType
    res = pd.Series(out)
    if null_mask.any():
        res = res.astype(object)
        res[null_mask] = None
    return res


def simhash_buckets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int | None = None,
) -> DataFrame:
    """SimHash near-dup candidates: documents whose 64-bit signatures share
    at least one of four 16-bit bands (catches all pairs with Hamming
    distance ≤ 3). Returns ``(id_a, id_b, hamming)``.

    ``max_hamming`` filters pairs to that Hamming distance BEFORE the
    distinct — on vocabulary-dense corpora band collisions between merely
    topically-similar docs dominate (measured 240 k collision pairs over
    5 k synthetic docs), and the cut keeps the distinct/dedup stage
    proportional to real near-dups. ``None`` returns every collision pair.

    Token hashing stays JVM-side (``xxhash64`` inside whole-stage codegen);
    only the ±1 bit accumulation crosses into the Arrow-batched pandas UDF,
    where it is a single segmented numpy reduction per batch. The signature
    table is persisted: it feeds both sides of the bucket self-join, and
    without the persist the whole upstream (scan + UDF) runs twice."""
    tokens = F.filter(F.split(normalized_text(F.col(text_col)), " "),
                      lambda t: t != "")
    tok_hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    sig = df.select(F.col(id_col).alias("id"),
                    _simhash_from_hashes(tok_hashes).alias("sim")).persist()
    bands = sig.select(
        "id", "sim",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("sim"), b * 16)
                 .bitwiseAND(F.lit(0xFFFF)).alias("bh"),
            )
            for b in range(4)
        ])).alias("e"),
    ).select("id", "sim", "e.band", "e.bh")
    hamming = F.bit_count(F.col("l.sim").bitwiseXOR(F.col("r.sim")))
    out = (
        bands.alias("l")
        .join(bands.alias("r"),
              (F.col("l.band") == F.col("r.band"))
              & (F.col("l.bh") == F.col("r.bh"))
              & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                hamming.alias("hamming"))
    )
    if max_hamming is not None:
        out = out.filter(F.col("hamming") <= max_hamming)
    return out.distinct()


# ------------------------------------------------------- Jaccard verification

def build_minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
) -> DataFrame:
    """Frozen-corpus MinHash-LSH index (r14): the banded bucket table
    ``(id, band, bh)`` for a corpus that new shards will be deduped
    AGAINST — production pipelines dedup each incoming shard against the
    existing corpus, not the corpus against itself.

    Deployment shape: materialize this once per corpus version with
    ``SqlEngine.snapshot_bucketed(<index table>, ["band", "bh"],
    sort_cols=["band", "bh"])`` — sorted buckets report their ordering,
    so the probe's merge join skips re-sorting the whole index — the
    probe join in :func:`against_index` is keyed on exactly (band, bh),
    so a bucketed index scan reports its partitioning and the join plans
    with ZERO index-side shuffle at any corpus size; only the (small)
    incoming shard exchanges. Parameters must match the probe call
    (``num_hashes``/``bands``/``shingle_size`` are part of the index's
    identity — store them with the table name)."""
    # null-text rows are dropped BEFORE the signature UDF: sig is null
    # exactly when text is null (split(NULL) is NULL through the whole
    # token pipeline), and a post-hoc sig-isNotNull filter gets pushed
    # below the projection by Catalyst, DUPLICATING the ArrowEvalPython
    # stage — the whole shingle/minhash pipeline ran twice per row
    # (caught by the r14 sf10 probe measurement; _lsh_pairs_from_sig is
    # immune because its sig frame is persisted)
    sig = _minhash_sig_frame(
        df.filter(F.col(text_col).isNotNull()), id_col,
        _token_hashes(F.col(text_col)), num_hashes, shingle_size)
    return _lsh_bands(sig, num_hashes, bands)


def against_index(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
) -> DataFrame:
    """Incremental near-dup candidates: band the NEW shard exactly like
    :func:`build_minhash_index` did the frozen corpus, join on
    (band, bh), and return ``(id_a, id_b, n_matching_bands)`` where
    ``id_a`` is the new-shard id and ``id_b`` the matched index id.

    Scale shape: ONE equi join on the bucket key. The index side never
    shuffles when it was snapshot-bucketed on ("band", "bh"); the shard
    side exchanges only its own banded rows (bands × shard rows). No
    all-pairs anywhere — cost is per-bucket, exactly like the
    self-dedup path. Verify candidates exactly with
    :func:`ngram_jaccard_verify` over the union of both corpora.

    PRECONDITION: doc ids must be globally unique ACROSS the new shard
    and the frozen corpus — the ``l.id != r.id`` guard exists only to
    drop a doc matching its own index entry on re-ingest. If two
    DISTINCT documents share an id across the two corpora, their
    genuine cross-corpus candidacy is silently suppressed. Namespace
    ids at ingest (e.g. prefix a source tag) if the corpora's id
    spaces can collide."""
    probe = build_minhash_index(new_df, text_col=text_col, id_col=id_col,
                                num_hashes=num_hashes, bands=bands,
                                shingle_size=shingle_size)
    return (
        probe.alias("l")
        .join(index.alias("r"),
              (F.col("l.band") == F.col("r.band"))
              & (F.col("l.bh") == F.col("r.bh"))
              & (F.col("l.id") != F.col("r.id")))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_matching_bands"))
    )


def ngram_jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 5,
    threshold: float = 0.8,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """n-gram Jaccard on candidate pairs only (two hash joins; never touches
    non-candidate rows) — over hashed shingle sets, so it's exact up to
    negligible 2^-31 hash collisions. Returns pairs with
    ``jaccard >= threshold``. ``shingle_sets`` (an ``(id, sh)`` DataFrame)
    lets a pipeline reuse an already-computed/persisted shingle table."""
    sets_ = shingle_sets if shingle_sets is not None else df.select(
        F.col(id_col).alias("id"),
        _shingle_set_udf(shingle_size)(
            _token_hashes(F.col(text_col))).alias("sh"),
    )
    a = sets_.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets_.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter / F.when(union > 0, union).otherwise(F.lit(1))
    return (
        candidates.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------- duplicate-cluster collapse

def _connected_components_local(pairs_sel: DataFrame,
                                stats: dict | None) -> DataFrame:
    """Driver-side solve for a pair set already certified small.

    Produces exactly the distributed result: one (id, component) row per
    node appearing in any pair, ``component`` = min member id. Fully
    vectorized — Arrow collect (``toPandas``), ``np.unique`` id
    factorization (sorted uniques, so index order == id order and
    min-index == min-id for longs AND strings), then min-label
    propagation with pointer jumping in whole-array numpy passes:
    O(E) per pass, O(log diameter) passes. No per-edge Python, so the
    path stays comfortably under the distributed loop's scheduling
    floor right up to the ``local_threshold`` pair budget (2M pairs
    solve in ~0.1 s of numpy versus multiple Spark job round-trips).
    """
    import numpy as np

    pdf = pairs_sel.toPandas()
    id_type = pairs_sel.schema["src"].dataType
    schema = T.StructType([
        T.StructField("id", id_type, nullable=False),
        T.StructField("component", id_type, nullable=False),
    ])
    spark = pairs_sel.sparkSession
    if stats is not None:
        stats["iterations"] = 0
        stats["converged"] = True
        stats["mode"] = "local"
    if not len(pdf):
        return spark.createDataFrame([], schema)
    both = np.concatenate([pdf.iloc[:, 0].to_numpy(),
                           pdf.iloc[:, 1].to_numpy()])
    uniq, inverse = np.unique(both, return_inverse=True)
    m = len(pdf)
    a, b = inverse[:m], inverse[m:]
    labels = np.arange(len(uniq), dtype=np.int64)
    while True:
        nl = labels.copy()
        np.minimum.at(nl, a, labels[b])
        np.minimum.at(nl, b, labels[a])
        while True:  # pointer jumping to a fixed point
            nl2 = nl[nl]
            if np.array_equal(nl2, nl):
                break
            nl = nl2
        if np.array_equal(nl, labels):
            break
        labels = nl
    out_pd = pd.DataFrame({"id": uniq, "component": uniq[labels]})
    return spark.createDataFrame(out_pd, schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    stats: dict | None = None,
    local_threshold: int = 2_000_000,
    local_bytes_budget: int = 64 << 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs → (id, component)
    with ``component`` = min member id.

    MinHash/SimHash emit *pairs*; deduplication needs *clusters* (A~B and
    B~C must collapse to one canonical doc even if A~C was never emitted).

    Adaptive execution: the pair set is counted first (one job over the
    persisted pairs, reused by whichever path runs). At or below
    ``local_threshold`` pairs the graph is solved DRIVER-SIDE with
    path-compressed union-find — the distributed loop below costs 2 Spark
    jobs per pointer-jumping round, which on a small graph is pure
    scheduling floor (a 10-round solve is ~20 scheduling round-trips for
    milliseconds of actual work). The cap is BYTE-aware (r10): long ids
    cost 16 B/pair, but string doc ids land on the driver as Python
    objects (~56 B overhead each plus the characters), so the admission
    estimate is measured from the pairs themselves — for string/binary
    ids the counting job also sums id lengths, and the local path runs
    only when ``pairs ≤ local_threshold`` (numpy time) AND estimated
    driver bytes ≤ ``local_bytes_budget`` (64 MB default — the same
    order the estimator allows a broadcast side). A 100 TB corpus's
    near-dup graph blows past both and takes the distributed path.
    ``local_threshold=0`` forces distributed.

    Distributed path: each round combines min-label propagation (every
    node adopts the smallest label among itself and its neighbors) with
    POINTER JUMPING (``component := component's component``) so long
    chains converge in O(log diameter) rounds, not O(diameter). Labels
    are ``localCheckpoint``-ed per round — truncating the lineage is what
    keeps the plan from growing superlinearly (a persisted-but-unchecked
    chain of 20 self-joins overflows Catalyst's plan-string stack).
    """
    pairs_sel = pairs.select(F.col(id_a).alias("src"),
                             F.col(id_b).alias("dst")).persist()
    id_dt = pairs_sel.schema["src"].dataType.simpleString()
    if id_dt in ("string", "binary"):
        # same single job as the plain count, plus the byte evidence the
        # admission decision needs: chars + per-object driver overhead
        row = pairs_sel.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("src") + F.length("dst")).alias("chars"),
        ).collect()[0]
        n_pairs = row["n"]
        est_bytes = int(row["chars"] or 0) + n_pairs * 2 * 56
    else:
        n_pairs = pairs_sel.count()
        est_bytes = n_pairs * 16
    if n_pairs <= local_threshold and est_bytes <= local_bytes_budget:
        try:
            return _connected_components_local(pairs_sel, stats)
        finally:
            pairs_sel.unpersist()
    edges = (
        pairs_sel
        .union(pairs_sel.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    pairs_sel.unpersist()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    converged = False
    iterations = 0
    for _ in range(max_iterations):
        iterations += 1
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy(edges["src"].alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
                (F.coalesce(F.col("nbr_component"), F.col("component"))
                 < F.col("component")).alias("__changed"),
            )
            # lazy persist (no extra job): the pointer-jump self-join below
            # reads ``stepped`` twice; the localCheckpoint on the joined
            # result is what truncates lineage each round
            .persist()
        )
        # pointer jumping: follow the label one hop (labels cover every
        # node id, so the join always matches) — doubles the effective
        # propagation distance each round. Propagation + jump materialize in
        # ONE localCheckpoint job per round; the convergence probe then only
        # scans the checkpointed partitions (2 jobs/round, not 3 — at every
        # scale each saved job is a full scheduling round-trip).
        ptr = stepped.select(F.col("id").alias("cid"),
                             F.col("component").alias("cc"))
        nxt = (
            stepped.join(ptr, stepped["component"] == ptr["cid"], "left")
            .select("id",
                    F.coalesce("cc", "component").alias("component"),
                    "__changed")
            .localCheckpoint()
        )
        changed = nxt.filter(F.col("__changed")).limit(1).count()
        stepped.unpersist()
        labels = nxt.drop("__changed")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if stats is not None:
        stats["iterations"] = iterations
        stats["converged"] = converged
        stats["mode"] = "distributed"
    if not converged:
        # labels may be non-minimal → silent under-deduplication downstream;
        # surface it loudly instead of returning quietly
        warnings.warn(
            f"connected_components did not converge within {max_iterations} "
            f"iterations; component labels may be non-minimal — raise "
            f"max_iterations (chains longer than the cap exist in the "
            f"candidate graph)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    **minhash_kwargs,
) -> DataFrame:
    """End-to-end near-dup collapse: MinHash-LSH candidates → exact n-gram
    Jaccard verification → connected components → one surviving row per
    cluster (min id), all non-duplicates untouched.

    Returns the input rows with duplicates removed — the operator a
    pretraining pipeline actually runs. Each stage shuffles only on
    bucket/pair/component keys; nothing is ever collected to the driver.
    """
    shingle_size = minhash_kwargs.pop("shingle_size", 5)
    num_hashes = minhash_kwargs.pop("num_hashes", 64)
    # one persisted token-hash table feeds BOTH candidate generation and
    # exact verification — the scan + normalize + xxhash64 pipeline runs
    # once instead of three times
    toks = df.select(
        F.col(id_col).alias("id"),
        _token_hashes(F.col(text_col)).alias("__th"),
    ).persist()
    sig = _minhash_sig_frame(toks, "id", F.col("__th"),
                             num_hashes, shingle_size).persist()
    candidates = _lsh_pairs_from_sig(sig, num_hashes=num_hashes,
                                     **minhash_kwargs)
    sets_ = toks.select(
        "id", _shingle_set_udf(shingle_size)("__th").alias("sh"))
    verified = ngram_jaccard_verify(df, candidates.select("id_a", "id_b"),
                                    text_col, id_col,
                                    threshold=jaccard_threshold,
                                    shingle_sets=sets_)
    components = connected_components(verified)
    losers = components.filter(F.col("id") != F.col("component")) \
                       .select(F.col("id").alias("__loser"))
    return (
        df.join(losers, df[id_col] == F.col("__loser"), "left_anti")
    )


def exploded_shingle_hashes(
    df: DataFrame,
    shingle_size: int,
    text_col: str = "text",
    carry_cols: list | None = None,
) -> DataFrame:
    """One row per (carried cols, word-shingle hash): ``shingle_size``
    shifted array slices zipped + exploded, with the xxhash64 taken AFTER
    the explode — plain whole-stage-codegen expressions end to end.

    The token array is materialized in its OWN projection first: generators
    get no common-subexpression elimination, so slicing
    ``split(regexp_replace(...))`` inline re-runs the regex per slice per
    row (measured 14× slower), and the HOF formulation
    (``transform(sequence, i -> ...)``) is interpreted per element
    (measured another ~4× on top). Short docs yield ONE clipped shingle
    (``arrays_zip`` pads with null, ``concat_ws`` skips them) — the same
    clip as ``_shingle_hashes``.
    """
    cols = carry_cols or []
    pre = df.select(
        *cols,
        F.split(normalized_text(F.col(text_col)), " ").alias("__tk"))
    tk = F.col("__tk")
    ln = F.greatest(F.size(tk) - (shingle_size - 1), F.lit(1))
    zipped = F.arrays_zip(*[F.slice(tk, i + 1, ln).alias(f"t{i}")
                            for i in range(shingle_size)])
    carried = [c for c in pre.columns if c != "__tk"]
    return pre.select(*carried, F.explode(zipped).alias("__z")).select(
        *carried,
        F.xxhash64(F.concat_ws(" ", *[F.col(f"__z.t{i}")
                                      for i in range(shingle_size)]))
        .alias("__sg"))


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    shingle_size: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_overlap: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Train/eval n-gram decontamination (the GPT-3-appendix procedure,
    recomputed from the published description): a training document is
    ``contaminated`` when it shares >= ``min_overlap`` distinct word
    ``shingle_size``-grams with ANY evaluation document. Returns
    ``(id_col, n_contaminated_ngrams, contaminated)`` — one row per train
    doc, so the caller can filter or audit.

    Scale shape: codegen zip-slice shingling (``exploded_shingle_hashes``;
    the interpreted-HOF formulation measured 4.2 s at sf0.1 vs ~1 s).
    The eval-side distinct n-gram set — benchmark suites are tiny next
    to a training corpus — is broadcast, making the probe side a
    map-only hash lookup at any train size. Train-side shingles are
    deduplicated AFTER the join, not before: contamination is the
    exception, so the matched set is orders of magnitude smaller than
    the corpus shingle stream, and a pre-join ``distinct()`` would
    shuffle EVERY train shingle just to remove intra-doc repeats the
    post-join ``count_distinct`` removes anyway (measured sf10,
    interleaved A/B: 7.59 → 3.82 s, −50%). Set
    ``broadcast_eval=False`` for an oversized eval set to fall back to a
    shuffle join.
    """
    ev = exploded_shingle_hashes(eval_df, shingle_size, text_col).distinct()
    if broadcast_eval:
        ev = F.broadcast(ev)
    tr = exploded_shingle_hashes(train, shingle_size, text_col,
                                 [F.col(id_col)])
    hits = (
        tr.join(ev, "__sg")
        .groupBy(id_col)
        .agg(F.count_distinct("__sg").alias("n_contaminated_ngrams"))
    )
    return (
        train.select(F.col(id_col))
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_contaminated_ngrams", F.lit(0))
            .alias("n_contaminated_ngrams"),
            (F.coalesce("n_contaminated_ngrams", F.lit(0)) >= min_overlap)
            .alias("contaminated"),
        )
    )


def containment_candidates(
    df: DataFrame,
    shingle_size: int = 5,
    threshold: float = 0.8,
    df_cap: int | None = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric containment detection: ordered pairs ``(id_a, id_b)``
    where at least ``threshold`` of A's distinct word
    ``shingle_size``-grams also appear in B — the "document A is a
    substring/quote/subset of document B" relation that symmetric Jaccard
    misses when B is much longer (RefinedWeb-style substring dedup, here
    at shingle granularity). Returns
    ``(id_a, id_b, shared, n_a, containment)``.

    Scale shape: per-doc distinct shingle hashes (codegen zip-slice path)
    self-joined on the shingle — an inverted-index block join whose cost is
    O(sum over shingles of df²), NEVER an all-pairs product. ``df_cap``
    drops shingles appearing in more than that many docs (boilerplate
    n-grams are the classic inverted-index hot keys; capping bounds any
    shingle's contribution at cap² pairs). The cap is part of the operator
    contract — a capped shingle contributes to neither numerator nor
    denominator — so results stay deterministic and oracle-reproducible.
    """
    sg = exploded_shingle_hashes(df, shingle_size, text_col,
                                 [F.col(id_col)]).distinct()
    if df_cap is not None:
        # inner join against the keep set, NOT an anti join against the
        # tiny over-cap set: keep derives from the SAME sg subtree, so
        # AQE exchange reuse shares one shuffle between probe and build,
        # and the output stays hash-partitioned on __sg for the self-join
        # below. (The anti-join-the-hot-set variant measured +42% at sf1
        # — the broadcast never materializes because the hot set sits
        # behind the same shuffle, and the anti join re-exchanges.)
        keep = (sg.groupBy("__sg")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") <= df_cap)
                .select("__sg"))
        sg = sg.join(keep, "__sg")
    sizes = sg.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_a"))
    a = sg.select(F.col(id_col).alias("id_a"), "__sg")
    b = sg.select(F.col(id_col).alias("id_b"), "__sg")
    shared = (
        a.join(b, "__sg")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed(id_col, "id_a"), "id_a")
        .select(
            "id_a", "id_b", "shared", "n_a",
            (F.col("shared") / F.col("n_a")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int = 2,
) -> DataFrame:
    """Corpus-level line dedup (C4/Dolma boilerplate removal): drop every
    non-empty line that occurs in MORE than ``max_doc_freq`` distinct
    documents, then rebuild each document from its surviving lines in the
    original order. Catches navigation bars, cookie banners, license
    headers — repeated boilerplate that per-document dedup can't see.

    Whitespace-only lines are normalized away (they'd otherwise count as
    corpus-wide duplicates and delete every blank separator); the rebuilt
    text joins surviving lines with a single newline. Documents whose
    lines are all dropped survive with empty text (downstream length
    filters decide their fate — this operator never drops documents).

    Scale shape: posexplode keeps line order without a window; the line
    document-frequency aggregate is one shuffle on the line (map-side
    partial count-distinct); the over-represented-line set is tiny in
    practice (boilerplate is heavy-tailed), so the anti join broadcasts
    under AQE; the rebuild is one shuffle on the doc id with
    ``array_sort``-of-structs restoring order — no window, no UDFs.
    """
    lines = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), r"\n"))
            .alias("__pos", "__line"),
        )
        .filter(F.trim(F.col("__line")) != "")
    )
    common = (
        lines.groupBy("__line")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("__line")
    )
    kept = lines.join(common, "__line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("__pos"), F.col("__line")))),
                lambda s: s["__line"],
            ),
        ).alias("__text")
    )
    return (
        df.select(F.col(id_col)).join(rebuilt, id_col, "left")
        .select(F.col(id_col),
                F.coalesce(F.col("__text"), F.lit("")).alias(text_col))
    )
