"""String column codecs: PLAIN, DICT, RLE, HEX.

All kernels are vectorized (numpy / pandas / single C-level calls);
zero per-row Python in hot paths.  Nulls are exact: a null round-trips
to a null, and a value->null transition is representable — fixing the
``OptionDelta`` ``Some -> None`` ambiguity the reference documents in
/root/reference/deltoid-quickcheck-tests/src/main.rs:14-22.

Reference bases:
  DICT — keyed Add/Remove dictionary maintenance semantics of map/set
    deltas (/root/reference/deltoid/src/collections/hashmap.rs:57-85).
  RLE — the Remove{count} run-coalescing in Vec deltas
    (/root/reference/deltoid/src/vec.rs:61-64) generalized to value runs.
  PLAIN — full-replacement String delta
    (/root/reference/deltoid/src/string.rs:16-32) + zstd.
  HEX — engine-new: 2x nibble-packing for hex columns (commit shas).
"""

from __future__ import annotations

import binascii

import numpy as np
import pandas as pd
import pyarrow as pa

from . import blocks
from .intcodec import pack_ints, pack_ints_z, unpack_ints, unpack_ints_z


def _prep(series: pd.Series) -> tuple[np.ndarray, pd.Series]:
    """Null mask (True == null) + null-replaced-by-"" values."""
    mask = series.isna().to_numpy()
    vals = series.fillna("")
    return mask, vals


def _mask_meta(meta: dict, mask: np.ndarray) -> bytes:
    """Record the null mask in meta; return packed bytes (maybe empty)."""
    meta["has_null"] = bool(mask.any())
    if not meta["has_null"]:
        return b""
    mb = blocks.pack_mask(mask)
    meta["mask_len"] = len(mb)
    return mb


def _apply_mask(meta: dict, payload: bytes, n: int) -> tuple[np.ndarray | None, bytes]:
    if not meta.get("has_null"):
        return None, payload
    ml = meta["mask_len"]
    return blocks.unpack_mask(payload[:ml], n), payload[ml:]


def _restore_nulls(values: list | np.ndarray, mask: np.ndarray | None) -> pd.Series:
    out = pd.Series(values, dtype=object)
    if mask is not None:
        out[mask] = None
    return out


# ---------------------------------------------------------------- PLAIN ----
#
# Hot path: the column's utf-8 bytes come straight from Arrow's
# (offsets, data) buffers — no per-string Python encode or join.


def arrow_utf8_view(arr: pa.Array) -> tuple[np.ndarray, bytes]:
    """(byte_lengths, concatenated utf-8 data) of a LargeStringArray."""
    if len(arr) == 0:
        return np.zeros(0, np.int64), b""
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int64)[arr.offset : arr.offset + len(arr) + 1]
    lengths = np.diff(offs)
    # slice the buffer before copying: a sliced array (one part of a
    # split) must not copy its whole parent's data
    if bufs[2] is None:
        return lengths, b""
    return lengths, bufs[2].slice(offs[0], offs[-1] - offs[0]).to_pybytes()


def utf8_view(series: pd.Series) -> tuple[np.ndarray, bytes]:
    """(byte_lengths, concatenated utf-8 data) via Arrow buffers (C path)."""
    return arrow_utf8_view(pa.Array.from_pandas(series, type=pa.large_utf8()))


def _frame_plain(
    n: int, mask: np.ndarray, lengths: np.ndarray, data: bytes, level
) -> bytes:
    lmeta, lpay = pack_ints(lengths)
    comp = blocks.compress(data, level)
    meta = {"n": n, "lens": lmeta, "lplen": len(lpay), "raw": len(data)}
    mb = _mask_meta(meta, mask)
    return blocks.frame("plain", meta, mb + lpay + comp)


def encode_plain(series: pd.Series, level: int | None = None) -> bytes:
    mask = series.isna().to_numpy()
    lengths, data = utf8_view(series)
    return _frame_plain(len(series), mask, lengths, data, level)


def encode_plain_arrow(arr: pa.Array, level: int | None = None) -> bytes:
    """encode_plain straight off a LargeStringArray — no python strings."""
    if arr.type != pa.large_utf8():
        arr = arr.cast(pa.large_utf8())
    if arr.null_count:
        import pyarrow.compute as pc

        mask = pc.is_null(arr).to_numpy(zero_copy_only=False)
    else:
        mask = np.zeros(len(arr), dtype=bool)
    lengths, data = arrow_utf8_view(arr)
    return _frame_plain(len(arr), mask, lengths, data, level)


def decode_plain_arrow(meta: dict, payload: bytes) -> tuple[pa.Array, np.ndarray | None]:
    """(LargeStringArray over the raw buffers, null mask) — callers that
    stay in Arrow (dictionary codes, list rebuilds) skip the python-str
    materialization entirely."""
    n = meta["n"]
    mask, payload = _apply_mask(meta, payload, n)
    lplen = meta["lplen"]
    lengths = unpack_ints(meta["lens"], payload[:lplen])
    data = blocks.decompress(payload[lplen:], meta["raw"])
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    arr = pa.Array.from_buffers(
        pa.large_utf8(), n, [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(data)]
    )
    return arr, mask


def decode_plain(meta: dict, payload: bytes) -> pd.Series:
    arr, mask = decode_plain_arrow(meta, payload)
    out = arr.to_pandas().astype(object)  # to_pandas is C-speed
    if mask is not None:
        out[mask] = None
    elif len(arr) == 0:
        return pd.Series([], dtype=object)
    return out


# ----------------------------------------------------------------- DICT ----


def _factorize_exact(vals: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """NUL-safe factorize: pd.factorize hashes C strings, so values with
    embedded ``\\x00`` collide ('' vs '\\x00').  Arrow strings are
    length-prefixed (NUL-safe); ``dictionary_encode`` runs at C++ rate,
    and only the U uniques — not all n values — are then sorted with
    Python compares, keeping the deterministic sorted unique order
    (A8 analog) byte-identical to the ``np.unique`` formulation this
    replaces (python ``<`` on str == np.unique's object compare)."""
    if len(vals) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=object)
    d = pa.Array.from_pandas(vals, type=pa.large_utf8()).dictionary_encode()
    codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniq = d.dictionary.to_pandas().to_numpy(dtype=object)
    order = np.argsort(uniq, kind="stable")
    rank = np.empty(len(uniq), dtype=np.int64)
    rank[order] = np.arange(len(uniq), dtype=np.int64)
    return rank[codes], uniq[order]


def encode_dict(series: pd.Series, level: int | None = None) -> bytes:
    mask, vals = _prep(series)
    codes, uniques = _factorize_exact(vals)
    cmeta, cpay = pack_ints_z(codes)
    inner = encode_plain(pd.Series(uniques, dtype=object), level)
    meta = {"n": len(series), "codes": cmeta, "cplen": len(cpay), "card": len(uniques)}
    mb = _mask_meta(meta, mask)
    return blocks.frame("dict", meta, mb + cpay + inner)


def decode_dict(meta: dict, payload: bytes) -> pd.Series:
    n = meta["n"]
    mask, payload = _apply_mask(meta, payload, n)
    cplen = meta["cplen"]
    codes = unpack_ints_z(meta["codes"], payload[:cplen])
    _, imeta, ipay = blocks.unframe(payload[cplen:])
    uniques = decode_plain(imeta, ipay).to_numpy(dtype=object)
    out = uniques[codes] if n else np.zeros(0, dtype=object)
    return _restore_nulls(out, mask)


# ------------------------------------------------------------------ RLE ----


def encode_rle(series: pd.Series, level: int | None = None) -> bytes:
    mask, vals = _prep(series)
    n = len(series)
    # factorize so null participates as code -1 -> runs computed on codes
    codes, uniques = _factorize_exact(vals)
    codes[mask] = -1
    if n:
        starts = np.flatnonzero(np.concatenate(([True], codes[1:] != codes[:-1])))
        run_lens = np.diff(np.concatenate((starts, [n])))
        run_codes = codes[starts] + 1  # shift: 0 == null
    else:
        run_lens = np.zeros(0, np.int64)
        run_codes = np.zeros(0, np.int64)
    rmeta, rpay = pack_ints_z(run_codes)
    lmeta, lpay = pack_ints_z(run_lens)
    inner = encode_plain(pd.Series(uniques, dtype=object), level)
    meta = {
        "n": n, "runs": len(run_lens),
        "rcodes": rmeta, "rclen": len(rpay),
        "rlens": lmeta, "rllen": len(lpay),
    }
    return blocks.frame("rle", meta, rpay + lpay + inner)


def decode_rle(meta: dict, payload: bytes) -> pd.Series:
    n = meta["n"]
    rclen, rllen = meta["rclen"], meta["rllen"]
    run_codes = unpack_ints_z(meta["rcodes"], payload[:rclen])
    run_lens = unpack_ints_z(meta["rlens"], payload[rclen : rclen + rllen])
    _, imeta, ipay = blocks.unframe(payload[rclen + rllen :])
    uniques = decode_plain(imeta, ipay).to_numpy(dtype=object)
    codes = np.repeat(run_codes, run_lens) if n else np.zeros(0, np.int64)
    mask = codes == 0
    safe = np.where(mask, 1, codes) - 1
    out = uniques[safe] if n else np.zeros(0, dtype=object)
    return _restore_nulls(out, mask if mask.any() else None)


# ---------------------------------------------------------------- FRONT ----
#
# Run-length + front coding for clustered/sorted string columns — the
# ``path`` column of a code table sorted by (repo, path, commit) is the
# canonical case.  Runs of identical values collapse to run lengths
# like RLE, and each run VALUE stores only its byte suffix after the
# longest common prefix with the PREVIOUS run value (incremental /
# prefix-truncated encoding — the same idea as Parquet's
# DELTA_BYTE_ARRAY, public format spec).  Wins exactly where PLAIN
# pays zstd's per-value match-window cost for near-identical sorted
# neighbors and RLE still re-stores each distinct value whole
# (measured: path blocks ~2x under the prior selector winner, see
# BASELINE.md round 6).  Reference basis: same A2/A3 string
# full-replacement semantics (string.rs) — the codec is a storage
# layout, decode reproduces every value bytewise.


def _prefix_lens(lens: np.ndarray, data: bytes) -> np.ndarray:
    """Common byte-prefix length of each value with its predecessor,
    vectorized: ONE segmented elementwise compare over all consecutive
    pairs (the chain-kernel prefix trick at byte granularity).
    Entry 0 is 0."""
    R = len(lens)
    if R <= 1:
        return np.zeros(R, dtype=np.int64)
    buf = np.frombuffer(data, dtype=np.uint8)
    offs = np.concatenate(([0], np.cumsum(lens)))
    m = np.minimum(lens[:-1], lens[1:])
    seg = np.concatenate(([0], np.cumsum(m)))
    tot = int(seg[-1])
    rep = np.repeat(np.arange(R - 1, dtype=np.int64), m)
    j = np.arange(tot, dtype=np.int64) - seg[rep]
    neq = buf[offs[:-1][rep] + j] != buf[offs[1:][rep] + j]
    p = m.copy()
    nz = np.flatnonzero(neq)
    if len(nz):
        useg, ufirst = np.unique(rep[nz], return_index=True)
        p[useg] = (nz - seg[rep[nz]])[ufirst]
    return np.concatenate(([0], p))


def _within(lens: np.ndarray) -> np.ndarray:
    """[0..lens[0]), [0..lens[1]), ... as one flat int64 array."""
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    off = np.cumsum(lens) - lens
    return np.arange(total, dtype=np.int64) - np.repeat(off, lens)


_FRONT_MAX_WIDTH = 4096  # max shared-prefix len; beyond: per-run decode fallback


def encode_front(series: pd.Series, level: int | None = None) -> bytes:
    mask, vals = _prep(series)
    n = len(series)
    arr_obj = vals.to_numpy(dtype=object)
    if n:
        # run boundary iff the (value, null) STATE changes; fillna("")
        # means a real "" must not merge with a null neighbor
        eq = arr_obj[1:] == arr_obj[:-1]
        same = (mask[1:] == mask[:-1]) & (mask[1:] | eq)
        starts = np.flatnonzero(np.concatenate(([True], ~same)))
        run_lens = np.diff(np.concatenate((starts, [n])))
        run_null = mask[starts]
    else:
        starts = np.zeros(0, dtype=np.int64)
        run_lens = np.zeros(0, dtype=np.int64)
        run_null = np.zeros(0, dtype=bool)
    nn_starts = starts[~run_null]
    varr = pa.Array.from_pandas(
        pd.Series(arr_obj[nn_starts], dtype=object), type=pa.large_utf8()
    )
    lens, data = arrow_utf8_view(varr)
    plens = _prefix_lens(lens, data)
    slens = lens - plens
    buf = np.frombuffer(data, dtype=np.uint8)
    src = np.repeat(np.cumsum(lens) - lens + plens, slens) + _within(slens)
    suffix = buf[src].tobytes()
    rmeta, rpay = pack_ints_z(run_lens)
    pmeta, ppay = pack_ints_z(plens)
    smeta, spay = pack_ints_z(slens)
    comp = blocks.compress(suffix, level)
    meta = {
        "n": n, "runs": len(run_lens),
        "rl": rmeta, "rllen": len(rpay),
        "pl": pmeta, "pllen": len(ppay),
        "sl": smeta, "sllen": len(spay),
        "raw": len(suffix),
    }
    nb = b""
    if run_null.any():
        nb = blocks.pack_mask(run_null)
        meta["rn_len"] = len(nb)
    return blocks.frame("front", meta, nb + rpay + ppay + spay + comp)


def _front_values(plens: np.ndarray, slens: np.ndarray, suffix: bytes) -> tuple[bytes, np.ndarray]:
    """Reconstruct the run values: (concatenated bytes, per-value lens).

    Suffix bytes scatter straight into the output buffer; only the
    shared-prefix columns [0, max_prefix) go through a vectorized
    column-wise propagation matrix, so memory and passes scale with
    prefix length, not value length.  Degenerate very-long PREFIXES
    (> _FRONT_MAX_WIDTH bytes) fall back to a per-run loop; the
    selector only picks front where values are path-sized, but decode
    must be total."""
    K = len(plens)
    L = plens + slens
    if K == 0:
        return b"", L
    P = int(plens.max())
    sb = np.frombuffer(suffix, dtype=np.uint8)
    if P > _FRONT_MAX_WIDTH:
        soffs = np.concatenate(([0], np.cumsum(slens)))
        outs: list[bytes] = []
        prevb = b""
        for i in range(K):
            v = prevb[: plens[i]] + suffix[soffs[i] : soffs[i + 1]]
            outs.append(v)
            prevb = v
        return b"".join(outs), L
    out_offs = np.cumsum(L) - L
    out = np.empty(int(L.sum()), dtype=np.uint8)
    # suffix bytes land directly at their output positions — no padded
    # (runs, max_len) matrix over the value bodies (an 80 MB zero-fill
    # per 20 k-run block of 4 KB values under the old formulation)
    if len(sb):
        out[np.repeat(out_offs + plens, slens) + _within(slens)] = sb
    if P:
        # prefix propagation only needs columns [0, max_prefix): build
        # the (runs, P) matrix from each run's suffix bytes that fall
        # inside those columns, fill each column's prefix cells from the
        # LATEST earlier run whose prefix ends at or before it (sources
        # are always self-suffix bytes — a run with plens > col has
        # length > col, and the terminal source's length exceeds col via
        # its successor's prefix — so one pass per column suffices),
        # then gather just the prefix bytes out.
        idx = np.arange(K, dtype=np.int64)
        fill = np.minimum(P, L) - plens  # >= 0: plens <= P and plens <= L
        mat = np.zeros((K, P), dtype=np.uint8)
        soffs = np.cumsum(slens) - slens
        mat.ravel()[np.repeat(idx * P + plens, fill) + _within(fill)] = sb[
            np.repeat(soffs, fill) + _within(fill)
        ]
        for col in range(P):
            need = plens > col
            if not need.any():
                continue
            srcr = np.maximum.accumulate(np.where(plens <= col, idx, -1))
            snapshot = mat[:, col]
            mat[need, col] = snapshot[srcr[need]]
        out[np.repeat(out_offs, plens) + _within(plens)] = mat.ravel()[
            np.repeat(idx * P, plens) + _within(plens)
        ]
    return out.tobytes(), L


def decode_front(meta: dict, payload: bytes) -> pd.Series:
    n, runs = meta["n"], meta["runs"]
    p = 0
    rn_len = meta.get("rn_len", 0)
    run_null = (
        blocks.unpack_mask(payload[:rn_len], runs)
        if rn_len
        else np.zeros(runs, dtype=bool)
    )
    p += rn_len
    run_lens = unpack_ints_z(meta["rl"], payload[p : p + meta["rllen"]]); p += meta["rllen"]
    plens = unpack_ints_z(meta["pl"], payload[p : p + meta["pllen"]]); p += meta["pllen"]
    slens = unpack_ints_z(meta["sl"], payload[p : p + meta["sllen"]]); p += meta["sllen"]
    suffix = blocks.decompress(payload[p:], meta["raw"])
    data, L = _front_values(plens, slens, suffix)
    offs = np.zeros(len(L) + 1, dtype=np.int64)
    np.cumsum(L, out=offs[1:])
    values = pa.Array.from_buffers(
        pa.large_utf8(), len(L), [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(data)]
    )
    # expand runs to rows: null runs take a masked slot
    run_codes = np.cumsum(~run_null) - 1  # id of each non-null run
    row_codes = np.repeat(run_codes, run_lens) if n else np.zeros(0, np.int64)
    row_null = np.repeat(run_null, run_lens) if n else np.zeros(0, dtype=bool)
    if len(L) == 0:  # all rows null (or empty block)
        return _restore_nulls([None] * n, None)
    arr = values.take(pa.array(np.maximum(row_codes, 0), type=pa.int64()))
    out = arr.to_pandas().astype(object)
    if row_null.any():
        out[row_null] = None
    elif n == 0:
        return pd.Series([], dtype=object)
    return out


# ------------------------------------------------------------------ HEX ----

_HEX_OK = r"\A(?:[0-9a-f]{2})*\Z"


_HEX_LUT = np.zeros(256, dtype=bool)
_HEX_LUT[np.frombuffer(b"0123456789abcdef", dtype=np.uint8)] = True


def hex_eligible(series: pd.Series) -> bool:
    """True iff every non-null value is even-length lowercase hex.

    One pass over the Arrow byte view (hex is ascii, so bytes == chars):
    even lengths + an all-hex-digit LUT check on the concatenated data —
    the per-value regex this replaces cost ~19 ms per 1024-row selector
    sample, ~4% of the encode kernel."""
    vals = series.dropna()
    if vals.empty:
        return False
    arr = pa.Array.from_pandas(vals.reset_index(drop=True), type=pa.large_utf8())
    lens, data = arrow_utf8_view(arr)
    if (lens % 2).any():
        return False
    buf = np.frombuffer(data, dtype=np.uint8)
    return bool(_HEX_LUT[buf].all())


def encode_hex(series: pd.Series) -> bytes:
    mask, vals = _prep(series)
    # hex is ascii, so the Arrow byte view IS the char view: lengths and
    # concatenated digits come straight off the (offsets, data) buffers —
    # no python-string materialization (unhexlify accepts bytes)
    lengths, data = utf8_view(vals)
    packed = binascii.unhexlify(data)  # single C call
    comp = blocks.compress(packed)  # structured hex (shared prefixes) compresses further
    half = lengths // 2
    lmeta, lpay = pack_ints(half)
    meta = {"n": len(series), "lens": lmeta, "lplen": len(lpay), "raw": len(packed)}
    mb = _mask_meta(meta, mask)
    return blocks.frame("hex", meta, mb + lpay + comp)


def decode_hex(meta: dict, payload: bytes) -> pd.Series:
    n = meta["n"]
    mask, payload = _apply_mask(meta, payload, n)
    lplen = meta["lplen"]
    half = unpack_ints(meta["lens"], payload[:lplen])
    data = blocks.decompress(payload[lplen:], meta["raw"]).hex().encode()  # one C call
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(half * 2, out=offs[1:])
    # rebuild strings over the ascii buffer via Arrow offsets (as
    # decode_plain does) — no per-row slicing loop
    arr = pa.Array.from_buffers(
        pa.large_utf8(), n, [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(data)]
    )
    out = arr.to_pandas().astype(object)
    if n == 0:
        return pd.Series([], dtype=object)
    if mask is not None:
        out[mask] = None
    return out
