"""Delta-of-delta + zigzag varint codec for int token arrays.

The reference stores one row per point in a TSDB (timestamps are
synthetic counters, /root/reference/scripts/seed_influx.jl:615,646); our
engine stores whole token sequences and compresses them with the classic
TSDB delta-of-delta scheme (Gorilla §4.1 timestamp encoding, adapted to
token values): v[0], d[0]=v[1]-v[0], then dod[i]=d[i]-d[i-1], each
zigzag-mapped and LEB128-varint packed.

Layout per doc: [varint n] [zigzag-varint stream of n values: v0, d0,
dod...] [varint in-doc position of each NULL element].  A NULL element
takes the value 0 in the stream; a doc without NULL elements ends after
its values, so only a doc that holds a NULL pays for its validity, and
the decoder tells the two apart by the doc's varint count (n + 1 means
no NULL).

``encode``/``decode`` work on a whole Arrow batch at once: one delta,
zigzag and LEB128 pass over the batch's concatenated values (each doc's
first two positions patched, its ``n`` header and NULL positions
interleaved), and decode rebuilds the values with two segmented
cumulative sums. A NULL doc maps to a NULL output. ``decode_dod`` is the
one-doc decode.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

__all__ = ["encode", "decode", "decode_dod"]

CODEC_VERSION = 1

# a value takes k+1 LEB128 bytes iff it is >= _VARINT_STEPS[k-1]
_VARINT_STEPS = np.array([1 << (7 * k) for k in range(1, 10)], dtype=np.uint64)


def _zigzag(x: np.ndarray) -> np.ndarray:
    return ((x << 1) ^ (x >> 63)).astype(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    return ((u >> np.uint64(1)) ^ (-(u & np.uint64(1)))).astype(np.int64)


def _varint_encode(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 over a uint64 array: (byte stream, byte offset of each value
    with the total appended)."""
    nbytes = np.searchsorted(_VARINT_STEPS, v, side="right") + 1
    offsets = np.zeros(v.shape[0] + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    pos = np.arange(offsets[-1], dtype=np.int64) - np.repeat(offsets[:-1], nbytes)
    shift = np.uint64(7) * pos.astype(np.uint64)
    out = ((np.repeat(v, nbytes) >> shift) & np.uint64(0x7F)).astype(np.uint8)
    out[pos < np.repeat(nbytes - 1, nbytes)] |= 0x80  # continuation bit
    return out, offsets


def _varint_decode(buf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 byte stream -> (uint64 values, index of the value each byte
    belongs to, with the value count appended)."""
    term = (buf & 0x80) == 0
    vidx = np.zeros(buf.shape[0] + 1, dtype=np.int64)
    np.cumsum(term, out=vidx[1:])
    if buf.shape[0] == 0:
        return np.empty(0, dtype=np.uint64), vidx
    starts = np.flatnonzero(np.concatenate(([True], term[:-1])))
    pos = np.arange(buf.shape[0], dtype=np.int64) - starts[vidx[:-1]]
    parts = (buf & 0x7F).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    return np.bitwise_or.reduceat(parts, starts), vidx


def _segmented_cumsum(x: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Cumulative sum of ``x`` restarted at every segment boundary; int64
    wrap-around cancels in the subtraction, so the result is exact."""
    c = np.zeros(x.shape[0] + 1, dtype=np.int64)
    np.cumsum(x, out=c[1:])
    return c[1:] - np.repeat(c[offsets[:-1]], np.diff(offsets))


def _ranges(first: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenated ``range(first[i], first[i] + counts[i])``."""
    return np.arange(counts.sum()) + np.repeat(first - np.cumsum(counts) + counts, counts)


def encode(tokens: pa.Array) -> pa.Array:
    """list<int> array -> binary array of DoD blobs, one per doc."""
    valid = tokens.is_valid().to_numpy(zero_copy_only=False)
    flat = tokens.flatten()
    v = flat.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
    lens = pc.list_value_length(tokens).fill_null(0).to_numpy(zero_copy_only=False)
    starts = np.zeros(len(tokens) + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    # dod over the concatenated values; each doc's first two slots hold v0, d0
    d = np.diff(v, prepend=np.int64(0))
    s = np.diff(d, prepend=np.int64(0))
    first, second = starts[:-1][lens > 0], starts[:-1][lens > 1] + 1
    s[first], s[second] = v[first], d[second]
    # stream per non-NULL doc: n header, values, positions of its NULLs
    nulls = np.flatnonzero(flat.is_null().to_numpy(zero_copy_only=False))
    n_null = np.diff(np.searchsorted(nulls, starts))
    heads = np.zeros(len(tokens) + 1, dtype=np.int64)
    np.cumsum(valid + lens + n_null, out=heads[1:])
    stream = np.empty(heads[-1], dtype=np.uint64)
    body = np.ones(stream.shape[0], dtype=bool)
    hpos, npos = heads[:-1][valid], _ranges(heads[:-1] + 1 + lens, n_null)
    body[hpos] = body[npos] = False
    stream[hpos] = lens[valid]
    stream[npos] = nulls - np.repeat(starts[:-1], n_null)
    stream[body] = _zigzag(s)
    data, val_offsets = _varint_encode(stream)
    doc_offsets = val_offsets[heads].astype(np.int32)
    mask = None if valid.all() else pa.array(valid).buffers()[1]
    return pa.Array.from_buffers(
        pa.binary(), len(tokens), [mask, pa.py_buffer(doc_offsets), pa.py_buffer(data)]
    )


def decode(blobs: pa.Array) -> pa.Array:
    """binary array of DoD blobs -> list<int64> array (exact round-trip)."""
    valid = blobs.is_valid().to_numpy(zero_copy_only=False)
    _, offs_buf, data_buf = blobs.buffers()
    offs = np.zeros(1, dtype=np.int32)
    if len(blobs):  # IPC may ship a zero-length array without offsets
        offs = np.frombuffer(offs_buf, np.int32)[blobs.offset :][: len(blobs) + 1]
    data = np.frombuffer(data_buf or b"", np.uint8)
    vals, vidx = _varint_decode(data[offs[0] : offs[-1]])
    vfirst = vidx[offs - offs[0]]  # each blob's first varint, the total appended
    n_var = np.diff(vfirst)
    headed = valid & (n_var > 0)
    hidx = vfirst[:-1][headed]
    lens = np.zeros(len(blobs), dtype=np.int64)
    lens[headed] = vals[hidx]
    # varints past a doc's header and n values are its NULL positions
    n_null = np.where(valid, n_var - 1 - lens, 0)
    if ((n_null < 0) | (lens < 0)).any():
        raise ValueError("corrupt DoD stream: headers and value count disagree")
    nidx = _ranges(vfirst[1:] - n_null, n_null)
    pos = vals[nidx]
    if (pos >= np.repeat(lens, n_null).astype(np.uint64)).any():
        raise ValueError("corrupt DoD stream: a NULL position past its doc")
    body = np.ones(vals.shape[0], dtype=bool)
    body[hidx] = body[nidx] = False
    s = _unzigzag(vals[body])
    starts = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    if starts[-1] != s.shape[0]:
        raise ValueError("corrupt DoD stream: headers and value count disagree")
    # deltas = running sum of dod after each doc's v0; values = running sum
    # of [v0, deltas...]
    first = starts[:-1][lens > 0]
    d = s.copy()
    d[first] = 0
    d = _segmented_cumsum(d, starts)
    d[first] = s[first]
    mask = None if valid.all() else pa.array(~valid)
    nulls = np.zeros(s.shape[0], dtype=bool)
    nulls[np.repeat(starts[:-1], n_null) + pos.astype(np.int64)] = True
    values = pa.array(_segmented_cumsum(d, starts), mask=nulls if pos.size else None)
    return pa.ListArray.from_arrays(pa.array(starts.astype(np.int32)), values, mask=mask)


def decode_dod(data: bytes) -> np.ndarray:
    """delta-of-delta bytes -> int64 array (exact round-trip).

    A blob that holds NULL token elements has no int64 form: it raises
    ``ValueError``, and ``decode`` returns such a doc with its NULLs."""
    values = decode(pa.array([data], type=pa.binary())).values
    if values.null_count:
        raise ValueError(
            f"DoD blob holds {values.null_count} NULL token element(s);"
            " use decode() to read them"
        )
    return values.to_numpy()
