"""MinHash-128 + SimHash-64 signatures -- one fused vectorized pass.

This is the engine's Python hot path and it is deliberately its *only*
document-level one (SURVEY.md section 7.4 risk #6): a single Arrow-batched
pandas UDF that computes both signatures with flat numpy ops --
``np.minimum.reduceat`` / ``np.add.reduceat`` over the concatenated
shingle arrays of the whole batch, so cost is O(num_perm * total_shingles)
of pure C loops with zero per-row Python.

Hash family: multiply-add over uint64 with odd multipliers (multiply-shift
universal hashing), seeded from config -- deterministic across runs,
executors, and resume.  MinHash here plays the role theta sketches play in
the reference (a min-value sketch per stream, SketchStorage.java:164-168),
but keyed per conversation and used for jaccard estimation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import MinHashConfig


def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 2**62, size=num_perm, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 2**62, size=num_perm, dtype=np.uint64)
    return a, b


def _batch_signatures(
    shingle_arrays: pd.Series, a: np.ndarray, b: np.ndarray, simhash_bits: int
) -> pd.DataFrame:
    """Reference MinHash/SimHash over already-hashed shingle arrays.

    The unblocked, whole-batch form of the signature math: one
    (num_perm, total_shingles) buffer, no row blocking.  Nothing in the
    pipeline calls it; tests compare the cache-blocked kernel in
    :func:`_batch_text_signatures` against it bit for bit.
    """
    vals = [
        np.asarray(x, dtype=np.int64) if len(x) else np.zeros(1, dtype=np.int64)
        for x in shingle_arrays
    ]
    lengths = np.fromiter((len(v) for v in vals), dtype=np.int64, count=len(vals))
    starts = np.zeros(len(vals), dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    flat = np.concatenate(vals).astype(np.uint64)  # wraps mod 2**64

    # MinHash: (num_perm, total) permuted values, segment-min per row
    permuted = a[:, None] * flat[None, :] + b[:, None]
    mins = np.minimum.reduceat(permuted, starts, axis=1)  # (num_perm, n)
    minhash = mins.T.astype(np.int64)

    # SimHash: per-bit +/-1 votes over raw shingle hashes, sign -> bit
    shifts = np.arange(simhash_bits, dtype=np.uint64)[:, None]
    bits = ((flat[None, :] >> shifts) & np.uint64(1)).astype(np.int64) * 2 - 1
    votes = np.add.reduceat(bits, starts, axis=1)  # (bits, n)
    packed = np.zeros(len(vals), dtype=np.uint64)
    for i in range(simhash_bits):  # 64 iterations per *batch*, not per row
        packed |= (votes[i] > 0).astype(np.uint64) << np.uint64(i)
    simhash = packed.astype(np.int64)

    return pd.DataFrame({"minhash": list(minhash), "simhash": simhash})


DEFAULT_TOKEN_PATTERN = "[a-z0-9]+"
_EMPTY_TOKEN_HASH = np.uint64(0x27D4EB2F165667C5)  # placeholder for token-less rows
_MAX_TOKEN_BYTES = 64  # polynomial hash window; longer tokens collide on prefix

# byte-class lookup: 1 for [a-z0-9] after ASCII lowercasing; UTF-8
# continuation/start bytes (>= 0x80) are non-token, matching the ASCII-only
# regex [a-z0-9]+ on lowercased text
_TOKEN_BYTE_LUT = np.zeros(256, dtype=bool)
_TOKEN_BYTE_LUT[ord("a") : ord("z") + 1] = True
_TOKEN_BYTE_LUT[ord("0") : ord("9") + 1] = True


def _tokenize_hash_bytes(texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized tokenize+hash for the default [a-z0-9]+ pattern.

    One UTF-8 buffer for the whole batch; ASCII lowercasing, token-run
    detection, and per-token polynomial hashing are all flat numpy ops --
    zero Python string objects (the object-array path cost ~50 ms per
    1024-row batch; this is ~5x cheaper and equally deterministic).

    Returns (flat token hashes incl. per-empty-row placeholder, m =
    true token count per row).
    """
    P = np.uint64(0x9E3779B97F4A7C15)
    n_rows = len(texts)
    encoded = [str(t).encode("utf-8") for t in texts]
    joined = b"\n".join(encoded)
    arr = np.frombuffer(joined, dtype=np.uint8).copy()
    m = np.zeros(n_rows, dtype=np.int64)
    if arr.size == 0:
        m_eff = np.maximum(m, 1)
        return np.full(int(m_eff.sum()), _EMPTY_TOKEN_HASH, dtype=np.uint64), m
    upper = (arr >= 65) & (arr <= 90)
    arr[upper] += 32
    mask = _TOKEN_BYTE_LUT[arr]

    # token runs
    d = np.diff(mask.astype(np.int8))
    starts = np.flatnonzero(d == 1) + 1
    ends = np.flatnonzero(d == -1) + 1
    if mask[0]:
        starts = np.concatenate(([0], starts))
    if mask[-1]:
        ends = np.concatenate((ends, [len(arr)]))

    # rows by byte offset (texts may contain '\n' themselves, so the
    # separator cannot be used as the row marker; the '\n' join only
    # guarantees adjacent texts never merge a token run)
    lens = np.fromiter((len(e) for e in encoded), dtype=np.int64, count=n_rows)
    row_ends = np.cumsum(lens + 1)
    token_row = np.searchsorted(row_ends, starts, side="right")
    m = np.bincount(token_row, minlength=n_rows)

    # polynomial hash per token, capped at _MAX_TOKEN_BYTES
    tok_len = np.minimum(ends - starts, _MAX_TOKEN_BYTES)
    h = np.zeros(len(starts), dtype=np.uint64)
    max_len = int(tok_len.max()) if len(tok_len) else 0
    alive = np.arange(len(starts))
    for j in range(max_len):
        alive = alive[tok_len[alive] > j]
        h[alive] = h[alive] * P + (arr[starts[alive] + j].astype(np.uint64) + np.uint64(1))
    # finalize: mix so short tokens spread over 64 bits
    h ^= h >> np.uint64(33)
    h *= np.uint64(0xFF51AFD7ED558CCD)
    h ^= h >> np.uint64(33)

    # scatter into the padded layout (one placeholder slot per empty row)
    m_eff = np.maximum(m, 1)
    tok_starts = np.zeros(n_rows, dtype=np.int64)
    np.cumsum(m_eff[:-1], out=tok_starts[1:])
    flat = np.full(int(m_eff.sum()), _EMPTY_TOKEN_HASH, dtype=np.uint64)
    intra = np.arange(len(starts)) - np.concatenate(([0], np.cumsum(m)))[token_row]
    flat[tok_starts[token_row] + intra] = h
    return flat, m


def _batch_text_signatures(
    texts: pd.Series,
    k: int,
    a: np.ndarray,
    b: np.ndarray,
    simhash_bits: int,
    token_pattern: str,
    lowercase: bool = True,
) -> pd.DataFrame:
    """Fused tokenize -> k-shingle-hash -> MinHash/SimHash, all C loops.

    The default token pattern (lowercased) takes the bytes-level
    vectorized path (:func:`_tokenize_hash_bytes`); custom patterns or
    lowercase=False fall back to pandas regex + siphash.  Shingle hash =
    degree-(k-1) polynomial of the k token hashes in uint64 wraparound
    arithmetic.  Rows shorter than k tokens clamp the window to the row
    end (one shingle), so no row is dropped.
    """
    if len(texts) == 0:
        return pd.DataFrame({"shingles": [], "minhash": [], "simhash": []})
    P = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd multiplier
    if token_pattern == DEFAULT_TOKEN_PATTERN and lowercase:
        tok_hash, m = _tokenize_hash_bytes(texts)
        m_eff = np.maximum(m, 1)
        tok_starts = np.zeros(len(texts), dtype=np.int64)
        np.cumsum(m_eff[:-1], out=tok_starts[1:])
    else:
        toks = (texts.str.lower() if lowercase else texts).str.findall(token_pattern)
        m = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
        m_eff = np.maximum(m, 1)
        tok_starts = np.zeros(len(toks), dtype=np.int64)
        np.cumsum(m_eff[:-1], out=tok_starts[1:])
        flat_tokens = np.empty(int(m_eff.sum()), dtype=object)
        pos = 0
        for t, mi in zip(toks, m):  # object scatter; hashing itself is C
            if mi == 0:
                flat_tokens[pos] = ""
                pos += 1
            else:
                flat_tokens[pos : pos + mi] = t
                pos += mi
        tok_hash = pd.util.hash_array(flat_tokens)  # uint64, deterministic

    # window starts for every row, globally flattened
    n_rows_batch = len(texts)
    w = np.maximum(m_eff - k + 1, 1)
    w_starts = np.zeros(n_rows_batch, dtype=np.int64)
    np.cumsum(w[:-1], out=w_starts[1:])
    total_w = int(w.sum())
    row_of_win = np.repeat(np.arange(n_rows_batch), w)
    win_start = (np.arange(total_w) - w_starts[row_of_win]) + tok_starts[row_of_win]
    row_end = (tok_starts + m_eff - 1)[row_of_win]

    h = tok_hash[win_start]
    for j in range(1, k):
        idx = np.minimum(win_start + j, row_end)  # clamp short rows
        h = h * P + tok_hash[idx]

    # per-row distinct shingles (set semantics for jaccard/minhash)
    order = np.lexsort((h, row_of_win))
    hs, rs = h[order], row_of_win[order]
    keep = np.ones(total_w, dtype=bool)
    keep[1:] = (rs[1:] != rs[:-1]) | (hs[1:] != hs[:-1])
    hs, rs = hs[keep], rs[keep]
    seg_starts = np.zeros(n_rows_batch, dtype=np.int64)
    counts = np.bincount(rs, minlength=n_rows_batch)
    np.cumsum(counts[:-1], out=seg_starts[1:])

    # Doubly cache-blocked: chunk the permutations (CH at a time) AND the
    # rows (blocks of ~BLOCK_SH shingles), so the hot buffer is
    # CH * BLOCK_SH * 8B ~ 1 MB -- inside a core-private L2.  A whole-batch
    # buffer (CH x n_sh, ~15-150 MB) lives in shared L3/DRAM; with 16
    # concurrent Python workers on one socket that saturates memory
    # bandwidth and per-task CPU inflates ~6x, destroying N->4N scaling
    # (measured: 1286 core-sec vs 186 for the same 300k-doc stage).
    n_rows = n_rows_batch
    num_perm = len(a)
    CH = 16
    BLOCK_SH = 8192
    mins = np.empty((num_perm, n_rows), dtype=np.uint64)
    votes = np.empty((simhash_bits, n_rows), dtype=np.int64)
    seg_len = counts
    sh_all = np.arange(simhash_bits, dtype=np.uint64)
    # row-block boundaries: split on rows, ~BLOCK_SH shingles per block
    seg_ends = seg_starts + counts
    pc = np.empty((CH, BLOCK_SH), dtype=np.uint64)
    r0 = 0
    while r0 < n_rows:
        r1 = int(np.searchsorted(seg_ends, seg_starts[r0] + BLOCK_SH, side="left")) + 1
        r1 = min(max(r1, r0 + 1), n_rows)
        s0, s1 = int(seg_starts[r0]), int(seg_ends[r1 - 1])
        nb = s1 - s0
        hs_blk = hs[s0:s1]
        starts_blk = seg_starts[r0:r1] - s0
        buf = pc[:, :nb] if nb <= BLOCK_SH else np.empty((CH, nb), dtype=np.uint64)
        for c0 in range(0, num_perm, CH):
            np.multiply(a[c0 : c0 + CH, None], hs_blk[None, :], out=buf)
            buf += b[c0 : c0 + CH, None]
            mins[c0 : c0 + CH, r0:r1] = np.minimum.reduceat(buf, starts_blk, axis=1)
        for c0 in range(0, simhash_bits, CH):
            sh = sh_all[c0 : c0 + CH, None]
            nbits = sh.shape[0]
            np.right_shift(hs_blk[None, :], sh, out=buf[:nbits])
            np.bitwise_and(buf[:nbits], np.uint64(1), out=buf[:nbits])
            ones = np.add.reduceat(buf[:nbits], starts_blk, axis=1)
            votes[c0 : c0 + nbits, r0:r1] = (
                2 * ones.astype(np.int64) - seg_len[None, r0:r1]
            )
        r0 = r1
    minhash = mins.T.astype(np.int64)
    packed = np.zeros(n_rows, dtype=np.uint64)
    for i in range(simhash_bits):
        packed |= (votes[i] > 0).astype(np.uint64) << np.uint64(i)

    shingle_lists = np.split(hs.astype(np.int64), seg_starts[1:])
    return pd.DataFrame(
        {
            "shingles": [s for s in shingle_lists],
            "minhash": list(minhash),
            "simhash": packed.astype(np.int64),
        }
    )


def text_signature_udf(
    k: int,
    cfg: MinHashConfig = MinHashConfig(),
    token_pattern: str = DEFAULT_TOKEN_PATTERN,
    lowercase: bool = True,
):
    """pandas UDF: full_text -> struct(shingles array<long>, minhash
    array<long>, simhash long).  The pipeline's only signature path: one
    Arrow round trip per batch, zero interpreted Catalyst lambdas (a
    native transform/slice/xxhash64 shingler measured ~50x slower at
    scale).  token_pattern uses re.findall (match) semantics -- the same
    convention as ShingleConfig."""
    a, b = _perm_params(cfg.num_perm, cfg.seed)
    out_type = T.StructType(
        [
            T.StructField("shingles", T.ArrayType(T.LongType())),
            T.StructField("minhash", T.ArrayType(T.LongType())),
            T.StructField("simhash", T.LongType()),
        ]
    )

    @F.pandas_udf(out_type)
    def _sig(texts: pd.Series) -> pd.DataFrame:
        return _batch_text_signatures(
            texts, k, a, b, cfg.simhash_bits, token_pattern, lowercase
        )

    return _sig


def minhash_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """Estimated jaccard = fraction of agreeing signature positions (native)."""
    agree = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v))
    return (agree / F.size(sig_a)).cast("double")


def simhash_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit SimHash fingerprints (native)."""
    return F.bit_count(a.bitwiseXOR(b)).cast("int")


def exact_jaccard(shingles_a: Column, shingles_b: Column) -> Column:
    """Exact jaccard of two distinct-element shingle arrays (native).

    |union| is derived by inclusion-exclusion rather than a second
    hash-set pass (array_union costs the same as array_intersect and
    the verify stage runs this per candidate pair)."""
    inter = F.size(F.array_intersect(shingles_a, shingles_b))
    union = F.size(shingles_a) + F.size(shingles_b) - inter
    return (inter / F.greatest(union, F.lit(1))).cast("double")
