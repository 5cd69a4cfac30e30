"""Uniform encode/decode dispatch over all framed codecs."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa

from . import blocks, chain, floats, fsst, intcodec, mapdelta, nested, strings


def _late(mod, attr: str):
    """``mod.attr`` looked up at call time, so a wrapped or patched
    module attribute (the traced benchmark wraps kernels there) is what
    runs."""
    return lambda *a, **kw: getattr(mod, attr)(*a, **kw)


def _codec(mod, encode: str, decode: str, decode_arrow=None) -> tuple:
    return _late(mod, encode), _late(mod, decode), decode_arrow


def _decode_plain_arrow(meta: dict, payload: bytes) -> pa.Array:
    arr, mask = strings.decode_plain_arrow(meta, payload)
    if mask is not None and mask.any():
        idx = np.arange(len(arr), dtype=np.int64)
        return arr.take(pa.array(idx, mask=mask))
    return arr


# codec name -> (encode, decode, decode_arrow).  decode_arrow returns an
# Arrow array that crosses the Spark boundary without materializing
# Python strings; None means the codec has no such path.  The wire ids
# live in blocks.CODEC_IDS (the kernels frame their own blocks).
CODECS = {
    "plain": _codec(strings, "encode_plain", "decode_plain", _decode_plain_arrow),
    "dict": _codec(strings, "encode_dict", "decode_dict"),
    "rle": _codec(strings, "encode_rle", "decode_rle"),
    "front": _codec(strings, "encode_front", "decode_front"),
    "hex": _codec(strings, "encode_hex", "decode_hex"),
    "fsst": _codec(fsst, "encode_fsst", "decode_fsst"),
    "for": _codec(intcodec, "encode_for", "decode_for"),
    "dint": _codec(intcodec, "encode_dint", "decode_dint"),
    "fp": _codec(floats, "encode_fp", "decode_fp"),
    "chain": _codec(
        chain, "encode_chain", "decode_chain", _late(chain, "decode_chain_arrow")
    ),
    "mapdelta": _codec(mapdelta, "encode_mapdelta", "decode_mapdelta"),
    "strlist": _codec(mapdelta, "encode_strlist", "decode_strlist"),
    "nested": _codec(
        nested, "encode_nested", "decode_nested", _late(nested, "decode_nested_arrow")
    ),
}


def _lookup(codec: str) -> tuple:
    try:
        return CODECS[codec]
    except KeyError:
        raise ValueError(f"unknown codec {codec!r}") from None


def encode_block(series: pd.Series, codec: str, **kw) -> bytes:
    return _lookup(codec)[0](series, **kw)


def decode_block(buf: bytes, **kw) -> pd.Series:
    """``kw`` (chain base_texts) reaches the chain decoder only."""
    codec, meta, payload = blocks.unframe(buf)
    return _lookup(codec)[1](meta, payload, **(kw if codec == "chain" else {}))


def decode_block_arrow(buf: bytes, **kw) -> pa.Array:
    """Arrow-native decode (nulls in the validity bitmap) for codecs that
    have one; others raise ValueError — callers fall back to
    decode_block."""
    codec, meta, payload = blocks.unframe(buf)
    dec = _lookup(codec)[2]
    if dec is None:
        raise ValueError(f"no arrow decode path for codec {codec!r}")
    return dec(meta, payload, **(kw if codec == "chain" else {}))


def sha256_column_arrow(arr, view: tuple | None = None) -> str:
    """sha256_column straight off a LargeStringArray (same digest bytes:
    identical mask/lengths/data streams, no python strings)."""
    import pyarrow.compute as pc

    mask = (
        pc.is_null(arr).to_numpy(zero_copy_only=False)
        if arr.null_count
        else np.zeros(len(arr), dtype=bool)
    )
    lengths, data = view if view is not None else strings.arrow_utf8_view(arr)
    h = hashlib.sha256()
    h.update(mask.astype(np.uint8).tobytes())
    h.update(lengths.astype("<i8").tobytes())
    h.update(data)
    return h.hexdigest()


def sha256_column(series: pd.Series, view: tuple | None = None) -> str:
    """Order-sensitive digest of a string column (null-aware).

    One C-speed pass: hashes the null mask, the per-row byte lengths,
    and the concatenated utf-8 data straight from Arrow buffers — no
    per-row Python (the length prefix + mask make the digest injective
    over (values, nulls, boundaries)).  ``view`` lets callers reuse an
    already-computed (lengths, data) pair."""
    mask = series.isna().to_numpy()
    lengths, data = view if view is not None else strings.utf8_view(series)
    h = hashlib.sha256()
    h.update(mask.astype(np.uint8).tobytes())
    h.update(lengths.astype("<i8").tobytes())
    h.update(data)
    return h.hexdigest()
