"""Caption normalization, char shingling and MinHash signatures (P2+P3).

All kernels are Arrow-batched pandas UDFs with pure-numpy inner loops — no
per-row Python UDFs (BASELINE.json:15).  The shingle/permutation parameters
come exclusively from DedupConfig so the engine and the recall oracle can
never diverge (BASELINE.json:6).

Hashing scheme (documented, deterministic):
  * normalize: NFC -> casefold -> whitespace collapse (P2)
  * shingles: k-byte windows of the UTF-8 normalized text, hashed with a
    polynomial rolling hash in uint64 (natural mod-2^64 wraparound), deduped
  * minhash_i(S) = min_{x in S} (a_i * x + b_i  mod 2^64) — multiply-add
    universal-style hashing in the 2^64 ring (vectorized; the classic
    mod-Mersenne-prime scheme needs 128-bit intermediates numpy lacks)
"""

from __future__ import annotations

import unicodedata
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from jsonschema_jl_spark.config import DedupConfig, DEFAULT_CONFIG

_POLY_BASE = np.uint64(1099511628211)  # FNV-ish odd multiplier


def normalize_text(s: str) -> str:
    """NFC + casefold + whitespace collapse.  Single definition shared by the
    distributed kernel and the driver-side exact oracle.  Idempotent (NFC,
    Unicode full case folding, and whitespace collapse each are), so a
    pre-normalized pipeline and a normalize-inside-kernel caller produce
    identical shingles."""
    s = unicodedata.normalize("NFC", s)
    s = s.casefold()
    return " ".join(s.split())


def normalize_series(s: pd.Series) -> pd.Series:
    """Vectorized normalize_text over a batch (pandas .str kernels); nulls
    pass through."""
    mask = s.notna()
    if not mask.any():
        return s
    out = s.copy()
    vals = s[mask].astype(str)
    out[mask] = vals.str.normalize("NFC").str.casefold().str.split().str.join(" ")
    return out


@F.pandas_udf(T.StringType())
def normalize_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Arrow-batched caption normalization (P2).  The pipeline applies this
    ONCE into its persisted projection; every downstream text kernel
    (shingles/MinHash, containment grams, Jaccard verify) then runs with
    normalized=True instead of each re-normalizing the full corpus."""
    for s in it:
        yield normalize_series(s)


def shingle_set_np(s: str, k: int, normalized: bool = False) -> np.ndarray:
    """Deduped uint64 hashes of all k-byte windows of the normalized text.
    Texts shorter than k hash as a single whole-text shingle.
    normalized=True skips normalize_text (caller already applied it)."""
    b = (s if normalized else normalize_text(s)).encode("utf-8")
    if len(b) < k:
        b = b.ljust(k, b"\x00")  # sub-k texts hash as one zero-padded window
    arr = np.frombuffer(b, dtype=np.uint8)
    win = np.lib.stride_tricks.sliding_window_view(arr, k)
    powers = _POLY_BASE ** np.arange(k, dtype=np.uint64)
    h = win.astype(np.uint64) @ powers  # wraps mod 2^64
    return np.unique(h)


def _shingle_flat_batch(
    texts, k: int, normalized: bool = False
) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
    """Batch-vectorized shingling: ONE polynomial-hash pass over the whole
    Arrow batch instead of per-row numpy calls (~10x less per-row overhead).

    Returns (flat_hashes uint64, row_ids int64, counts int64, n_rows).
    flat_hashes contains every k-byte window hash per row IN ROW ORDER and
    MAY contain duplicates — callers reduce with min (MinHash/OPH), where
    duplicates are harmless; dedup when sets are needed happens per row
    downstream.  Sub-k texts are zero-padded to one whole-text window,
    matching shingle_set_np."""
    bufs = []
    for t in texts:
        s = t if isinstance(t, str) else ("" if t is None else str(t))
        b = (s if normalized else normalize_text(s)).encode("utf-8")
        if len(b) < k:
            b = b.ljust(k, b"\x00")
        bufs.append(b)
    n = len(bufs)
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n)
    arr = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    return _shingle_flat_from_buffer(arr, lens, k)


def _shingle_flat_from_buffer(
    arr: np.ndarray, lens: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
    """Shingle hashes from a concatenated uint8 buffer + per-row byte
    lengths (every row length >= k; pad before calling).  Horner-hashes
    EVERY contiguous window of the whole buffer in k streaming passes (no
    index arrays), then masks out the k-1 windows per row that cross a row
    boundary — ~40x less memory traffic than gathering each window through
    a position array, which matters because this kernel runs on every core
    at once and the memory bus is the scaling bottleneck."""
    n = lens.size
    counts = lens - (k - 1)                      # windows per row (>= 1)
    m = arr.size - (k - 1)                       # all contiguous windows
    a64 = arr.astype(np.uint64)
    h_all = a64[k - 1 : k - 1 + m].copy()
    for j in range(k - 2, -1, -1):
        h_all *= _POLY_BASE
        h_all += a64[j : j + m]
    # mask windows that straddle a row boundary (the last k-1 of each row)
    ends = np.cumsum(lens)
    mask = np.ones(m, dtype=bool)
    for j in range(1, k):
        idx = ends - j
        mask[idx[idx < m]] = False
    h = h_all[mask]
    # row ids via cumsum-of-markers (avoids np.repeat's per-row loop)
    total = int(counts.sum())
    row = np.zeros(total, dtype=np.int64)
    if n > 1:
        row[np.cumsum(counts[:-1])] = 1
        row = np.cumsum(row)
    return h, row, counts, n


def _perm_params(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(cfg.minhash_seed)
    a = rng.integers(1, 1 << 63, size=cfg.num_perm, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 1 << 63, size=cfg.num_perm, dtype=np.uint64)
    return a, b


_EMPTY = np.uint64(0xFFFFFFFFFFFFFFFF)
_HOP = np.uint64(0x9E37)  # densification hop offset; values are 63-bit so
                          # accumulated hops can never collide with _EMPTY


def _splitmix(z: np.ndarray) -> np.ndarray:
    z = (z + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _oph_signatures_flat(
    flat: np.ndarray, row: np.ndarray, n: int, cfg: DedupConfig
) -> np.ndarray:
    """One-permutation hashing: each shingle hash lands in ONE of P bins
    (its top log2(P) bits); the signature is the per-bin min of a value
    hash.  Empty bins are filled by rotation densification (nearest
    non-empty bin to the right, +HOP per hop) — the unbiased estimator of
    Shrivastava & Li.  O(total_shingles log) via one sort+reduceat, vs
    O(P * total_shingles) for classic k-permutation MinHash.  Duplicate
    shingles in `flat` are harmless (min over a multiset)."""
    P = cfg.num_perm
    logp = P.bit_length() - 1
    assert (1 << logp) == P, "num_perm must be a power of two for OPH"
    seed = np.uint64(cfg.minhash_seed)
    mixed = _splitmix(flat.astype(np.uint64) ^ seed)
    bins = (mixed >> np.uint64(64 - logp)).astype(np.int64)
    vals = _splitmix(mixed) >> np.uint64(1)  # 63-bit values, < _EMPTY
    key = row.astype(np.int64) * P + bins
    order = np.argsort(key, kind="stable")
    k_s, v_s = key[order], vals[order]
    starts = np.flatnonzero(np.r_[True, k_s[1:] != k_s[:-1]])
    mins = np.minimum.reduceat(v_s, starts)
    M = np.full(n * P, _EMPTY, dtype=np.uint64)
    M[k_s[starts]] = mins
    M = M.reshape(n, P)
    # rotation densification, closed form: empty bin j borrows from the
    # nearest filled bin at-or-right of j (cyclic), +HOP per hop — computed
    # directly via a reversed running min over filled-bin indices instead of
    # iterating roll-and-fill passes (which cost one full-matrix sweep per
    # hop; sparse rows needed dozens)
    filled = M != _EMPTY
    col = np.arange(P, dtype=np.int64)
    sentinel = np.iinfo(np.int64).max
    idxf = np.where(filled, col[None, :], sentinel)
    nxt = np.minimum.accumulate(idxf[:, ::-1], axis=1)[:, ::-1]
    # cyclic wrap: bins right of a row's last filled bin borrow its FIRST
    # filled bin, P hops further (every row has >= 1 shingle, so nxt[:,0]
    # is never the sentinel)
    nxt = np.where(nxt == sentinel, nxt[:, :1] + P, nxt)
    d = (nxt - col[None, :]).astype(np.uint64)
    donor = M[np.arange(n)[:, None], nxt % P]
    M = np.where(filled, M, donor + d * _HOP)
    # Interleave bins across LSH bands: densification copies a bin's
    # agreement onto its (empty) neighbors, so CONTIGUOUS bins are strongly
    # correlated — banding them together inflates false-candidate rates by
    # orders of magnitude.  Reorder so the contiguous slice for band k holds
    # bins {k, k+B, k+2B, k+3B}; copied runs then spread across different
    # bands and each band's bins are effectively independent.
    n_bands = cfg.num_bands
    perm = np.arange(P).reshape(cfg.rows_per_band, n_bands).T.reshape(-1)
    return M[:, perm].view(np.int64)


def minhash_batch(
    texts: pd.Series, cfg: DedupConfig, need_sets: bool = True, normalized: bool = False
) -> tuple[list, list]:
    """Vectorized per-batch kernel: returns (shingle sets, signatures) as
    lists of int64 ndarrays.  Scheme per cfg.minhash_scheme: OPH (default,
    one sort+reduceat pass over the concatenated shingles) or classic
    k-permutation (reduceat per permutation chunk).  need_sets=False skips
    returning the sets (they are still computed for hashing)."""
    if len(texts) == 0:
        return [], []
    flat, row, counts, n = _shingle_flat_batch(texts, cfg.shingle_k, normalized=normalized)
    sets: list = []
    if need_sets:
        # per-row dedup from the flat windows: one global (row, hash) sort,
        # segment-unique, then split — matches shingle_set_np's np.unique
        order = np.lexsort((flat, row))
        f_s, r_s = flat[order], row[order]
        keep = np.r_[True, (f_s[1:] != f_s[:-1]) | (r_s[1:] != r_s[:-1])]
        f_u, r_u = f_s[keep].view(np.int64), r_s[keep]
        bounds = np.searchsorted(r_u, np.arange(1, n, dtype=np.int64))
        sets = np.split(f_u, bounds)
    if cfg.minhash_scheme == "oph":
        sigs = list(_oph_signatures_flat(flat, row, n, cfg))
        return sets, sigs
    a, b = _perm_params(cfg)
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=offsets[1:])
    P = cfg.num_perm
    sigs = np.empty((P, n), dtype=np.uint64)
    step = 16
    for i in range(0, P, step):
        h = a[i : i + step, None] * flat[None, :] + b[i : i + step, None]
        sigs[i : i + step, :] = np.minimum.reduceat(h, offsets, axis=1)
    sigs_i64 = sigs.view(np.int64).T  # (rows, P)
    return sets, [sigs_i64[r] for r in range(n)]


_SIG_SCHEMA = T.StructType(
    [
        T.StructField("shingles", T.ArrayType(T.LongType()), False),
        T.StructField("minhash", T.ArrayType(T.LongType()), False),
    ]
)


def band_keys_np(sigs_i64: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    """(n, num_bands) int64 LSH bucket keys from an (n, num_perm) signature
    matrix — band b's key is a splitmix fold of the band's rows_per_band
    signature lanes, salted by the band index.

    This replaces per-row JVM banding (num_bands x xxhash64(slice(sig, ...))
    Catalyst expressions): at 108k rows x 32 bands the codegen span for
    slice+hash+posexplode measured 147 s of CPU — the dominant JVM cost of
    the whole signature stage — while this fold is rows_per_band vectorized
    passes over the matrix (~ms per batch).  Bucket keys are internal join
    keys: candidates are pairs agreeing on a band's CONTENT, so any
    deterministic injective-up-to-collision fold yields the same verified
    pairs as the xxhash64 formulation (collision odds ~n_bands*n^2/2^64;
    tests assert pair-set parity with the JVM path)."""
    n = sigs_i64.shape[0]
    B, r = cfg.num_bands, cfg.rows_per_band
    lanes = np.ascontiguousarray(sigs_i64).view(np.uint64).reshape(n, B, r)
    h = np.broadcast_to(
        _splitmix(np.arange(B, dtype=np.uint64) ^ np.uint64(cfg.minhash_seed)), (n, B)
    ).copy()
    for j in range(r):
        h = _splitmix(h ^ lanes[:, :, j])
    return h.view(np.int64)


def _pad_concat(
    data: np.ndarray, starts: np.ndarray, lens: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Contiguous uint8 buffer + per-row lengths with every row >= k bytes
    (zero-padded), built with ONE vectorized gather — shared by the Arrow
    signature kernels (their shingle pass needs a dense padded buffer)."""
    n = lens.size
    if not (lens < k).any() and (
        n == 1 or (starts[1:] == starts[:-1] + lens[:-1]).all()
    ):
        return data[starts[0] : starts[-1] + lens[-1]], lens
    out_lens = np.maximum(lens, k)
    ostarts = np.zeros(n, dtype=np.int64)
    np.cumsum(out_lens[:-1], out=ostarts[1:])
    buf = np.zeros(int(out_lens.sum()), dtype=np.uint8)
    tot = int(lens.sum())
    if tot:
        # rid[i] = source row of the i-th copied byte; ramp[i] = its offset
        # within that row (cumsum-of-markers form)
        rid = np.zeros(tot, dtype=np.int64)
        nz = np.cumsum(lens[:-1])
        rid[nz[nz < tot]] = 1
        rid = np.cumsum(rid)
        in_starts = np.concatenate(([0], nz))
        ramp = np.arange(tot, dtype=np.int64) - in_starts[rid]
        buf[ostarts[rid] + ramp] = data[starts[rid] + ramp]
    return buf, out_lens


def normalize_signatures_bands(
    df: DataFrame,
    text_col: str = "caption",
    cfg: DedupConfig = DEFAULT_CONFIG,
    out_text_col: str = "txt_norm",
) -> DataFrame:
    """P2+P3+P4 fused into ONE Arrow crossing — the pipeline hot path.

    Emits the input columns with `text_col` replaced by `out_text_col`
    (normalize_text'd, nulls preserved) plus `bands: array<long>` (the
    num_bands LSH bucket keys, band_keys_np).  Everything between —
    shingling and the OPH signature matrix — stays inside the kernel and
    never crosses the JVM boundary.

    Why this exists next to `with_signatures`: the pipeline's only consumer
    of the signature array is banding (verification recomputes shingles
    from candidate TEXTS), so emitting `minhash` costs num_perm*8 B/row of
    Arrow transfer + JVM row conversion (~200 MB per 100k rows at P=256)
    that the next operator immediately discards — and running normalize as
    its own ArrowEvalPython stage pays a second full JVM<->Python round
    trip of the caption column.  One mapInArrow does both jobs: text in,
    (normalized text, band keys) out.  Signatures are bit-identical to
    minhash_batch's; band keys to band_keys_np's."""
    import pyarrow as pa

    P = cfg.num_perm
    k = cfg.shingle_k
    B = cfg.num_bands
    col_names = list(df.columns)
    ti = col_names.index(text_col)
    out_fields = [
        T.StructField(out_text_col, T.StringType(), True)
        if f.name == text_col else f
        for f in df.schema.fields
    ] + [T.StructField("bands", T.ArrayType(T.LongType()), False)]
    out_schema_t = T.StructType(out_fields)
    out_names = [out_text_col if c == text_col else c for c in col_names] + ["bands"]

    def gen(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            texts = batch.column(ti).to_pandas()
            norm = normalize_series(texts.astype(object))
            vals = norm.to_numpy(dtype=object)
            mask = pd.isna(vals)
            bufs = [
                b"" if m else v.encode("utf-8") for v, m in zip(vals, mask)
            ]
            lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n)
            data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
            # normalized-text output column: reuse the concat buffer via
            # arithmetic offsets (no per-row copies) on the common all-
            # non-null path; fall back to a builder when nulls exist
            if mask.any():
                txt_arr = pa.array(
                    [None if m else v for v, m in zip(vals, mask)],
                    type=pa.string(),
                )
            else:
                off = np.zeros(n + 1, dtype=np.int64)
                np.cumsum(lens, out=off[1:])
                txt_arr = pa.StringArray.from_buffers(
                    n,
                    pa.py_buffer(off.astype(np.int32).tobytes()),
                    pa.py_buffer(data.tobytes()),
                )
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            pdata, plens = _pad_concat(data, starts, lens, k)
            flat, row, _counts, _n = _shingle_flat_from_buffer(pdata, plens, k)
            sigs = np.ascontiguousarray(
                _oph_signatures_flat(flat, row, n, cfg)
                if cfg.minhash_scheme == "oph"
                else _classic_signatures_flat(flat, row, plens - (k - 1), n, cfg)
            )
            bk = band_keys_np(sigs.reshape(n, P), cfg).reshape(-1)
            boff = pa.array((np.arange(n + 1, dtype=np.int64) * B).astype(np.int32))
            bands = pa.ListArray.from_arrays(boff, pa.array(bk, type=pa.int64()))
            out_cols = [
                txt_arr if i == ti else batch.column(i)
                for i in range(batch.num_columns)
            ] + [bands]
            yield pa.RecordBatch.from_arrays(out_cols, names=out_names)

    return df.mapInArrow(gen, schema=out_schema_t)


def _signatures_map_in_arrow(
    df: DataFrame, text_col: str, cfg: DedupConfig, normalized: bool,
    with_bands: bool = False,
) -> DataFrame:
    """minhash column via mapInArrow with zero-copy Arrow I/O — the pipeline
    hot path (keep_shingles=False).

    The pandas-UDF route pays two per-row conversion taxes this avoids: the
    text column materializes as Python str objects on the way in, and the
    P-long signature rows build a ListArray element-by-element on the way
    out.  Here the shingle kernel reads the UTF-8 bytes straight out of the
    Arrow string buffer (one vectorized gather builds the padded concat
    buffer) and the signatures leave as ONE flat int64 buffer wrapped in a
    ListArray with arithmetic offsets — no per-row Python objects in either
    direction.  Signatures are bit-identical to minhash_batch's."""
    import pyarrow as pa

    P = cfg.num_perm
    k = cfg.shingle_k
    extra_fields = [T.StructField("minhash", T.ArrayType(T.LongType()), False)]
    if with_bands:
        # precomputed LSH bucket keys (see band_keys_np) — lsh.band_buckets
        # then reduces to a plain posexplode, no JVM slice/hash expressions
        extra_fields.append(T.StructField("bands", T.ArrayType(T.LongType()), False))
    out_schema_t = T.StructType(df.schema.fields + extra_fields)
    col_names = list(df.columns)
    col_idx = col_names.index(text_col)

    def gen(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            col = batch.column(col_idx)
            if normalized and pa.types.is_string(col.type) and col.null_count == 0:
                # zero-copy: UTF-8 data + offsets straight from Arrow
                acol = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
                off = np.frombuffer(acol.buffers()[1], dtype=np.int32)[
                    acol.offset : acol.offset + n + 1
                ].astype(np.int64)
                data = np.frombuffer(acol.buffers()[2], dtype=np.uint8)
                starts, lens = off[:-1], np.diff(off)
            else:
                # normalize (or null-fill) per row, then concat
                texts = col.to_pandas()
                if not normalized:
                    texts = normalize_series(texts.astype(object))
                bufs = [str(t).encode("utf-8") for t in texts.fillna("")]
                lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n)
                data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
                starts = np.zeros(n, dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
            if (lens < k).any() or not (
                n == 1 or (starts[1:] == starts[:-1] + lens[:-1]).all()
            ):
                # pad short rows to k (zero-fill) into a fresh contiguous
                # buffer with ONE vectorized gather
                out_lens = np.maximum(lens, k)
                ostarts = np.zeros(n, dtype=np.int64)
                np.cumsum(out_lens[:-1], out=ostarts[1:])
                buf = np.zeros(int(out_lens.sum()), dtype=np.uint8)
                tot = int(lens.sum())
                if tot:
                    # rid[i] = source row of the i-th copied byte; ramp[i] =
                    # its offset within that row (cumsum-of-markers form)
                    rid = np.zeros(tot, dtype=np.int64)
                    nz = np.cumsum(lens[:-1])
                    rid[nz[nz < tot]] = 1
                    rid = np.cumsum(rid)
                    in_starts = np.concatenate(([0], nz))
                    ramp = np.arange(tot, dtype=np.int64) - in_starts[rid]
                    buf[ostarts[rid] + ramp] = data[starts[rid] + ramp]
                data, lens = buf, out_lens
            else:
                data = data[starts[0] : starts[-1] + lens[-1]]
            flat, row, _counts, _n = _shingle_flat_from_buffer(data, lens, k)
            sigs = np.ascontiguousarray(
                _oph_signatures_flat(flat, row, n, cfg)
                if cfg.minhash_scheme == "oph"
                else _classic_signatures_flat(flat, row, lens - (k - 1), n, cfg)
            ).reshape(-1)
            offsets = pa.array((np.arange(n + 1, dtype=np.int64) * P).astype(np.int32))
            minhash = pa.ListArray.from_arrays(offsets, pa.array(sigs, type=pa.int64()))
            out_cols = [batch.column(i) for i in range(batch.num_columns)] + [minhash]
            out_names = col_names + ["minhash"]
            if with_bands:
                bk = band_keys_np(sigs.reshape(n, P), cfg).reshape(-1)
                boff = pa.array(
                    (np.arange(n + 1, dtype=np.int64) * cfg.num_bands).astype(np.int32)
                )
                out_cols.append(
                    pa.ListArray.from_arrays(boff, pa.array(bk, type=pa.int64()))
                )
                out_names.append("bands")
            yield pa.RecordBatch.from_arrays(out_cols, names=out_names)

    return df.mapInArrow(gen, schema=out_schema_t)


def _classic_signatures_flat(
    flat: np.ndarray, row: np.ndarray, counts: np.ndarray, n: int, cfg: DedupConfig
) -> np.ndarray:
    """Classic k-permutation signatures from the flat window stream (same
    math as minhash_batch's classic branch)."""
    a, b = _perm_params(cfg)
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=offsets[1:])
    P = cfg.num_perm
    sigs = np.empty((P, n), dtype=np.uint64)
    step = 16
    for i in range(0, P, step):
        h = a[i : i + step, None] * flat[None, :] + b[i : i + step, None]
        sigs[i : i + step, :] = np.minimum.reduceat(h, offsets, axis=1)
    return sigs.view(np.int64).T


def with_signatures(
    df: DataFrame, text_col: str = "caption", cfg: DedupConfig = DEFAULT_CONFIG,
    repartition: bool = True, keep_shingles: bool = True,
    assume_normalized: bool = False, with_bands: bool = False,
) -> DataFrame:
    """Add `minhash: array<long>` (and, when keep_shingles, the
    `shingles: array<long>` set) columns.

    keep_shingles=False skips materializing the shingle sets (~1 KB/row of
    Arrow transfer + cache); the verification stage recomputes shingles for
    the tiny candidate subset instead (verify.verify_jaccard_text).

    with_bands=True (hot path only, requires keep_shingles=False) also emits
    `bands: array<long>` — the num_bands LSH bucket keys computed vectorized
    in the same kernel pass (band_keys_np), so banding downstream is a plain
    posexplode instead of num_bands slice+xxhash64 Catalyst expressions.

    The Arrow kernel's parallelism equals the input partition count; a
    column-pruned scan of a few large files yields too few partitions to
    keep every core busy, so by default the (narrow) input is rebalanced to
    the cluster's parallelism first — a cheap shuffle of (id, text, phash)
    that the banding shuffle downstream would pay anyway."""

    @F.pandas_udf(_SIG_SCHEMA)
    def sig_udf(batch_iter: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in batch_iter:
            sets, sigs = minhash_batch(texts, cfg, normalized=assume_normalized)
            yield pd.DataFrame({"shingles": sets, "minhash": sigs})

    if repartition:
        # partition count follows the configured shuffle partitions (a data-
        # size property), not the executor count — see pipeline.py
        df = df.repartition(int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    if not keep_shingles:
        # hot path: zero-copy Arrow kernel (see _signatures_map_in_arrow)
        return _signatures_map_in_arrow(
            df, text_col, cfg, normalized=assume_normalized, with_bands=with_bands
        )
    if with_bands:
        raise ValueError("with_bands requires keep_shingles=False (hot path)")
    out = df.withColumn("__sig", sig_udf(F.col(text_col)))
    return out.withColumn("shingles", F.col("__sig.shingles")).withColumn(
        "minhash", F.col("__sig.minhash")
    ).drop("__sig")
