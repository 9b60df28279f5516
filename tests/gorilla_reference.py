"""Per-chunk GORB v1 codec: the differential reference for the batch
kernels in ``timeseriesflattener_spark.functions.gorilla``.

This is the one-chunk-at-a-time encoder/decoder the library used to run
for chunks longer than one 128-value block, kept here unchanged so the
tests can compare the library's batch kernels against it byte for byte
(encode) and bit for bit (decode).
"""

from __future__ import annotations

import struct

import numpy as np

from timeseriesflattener_spark.functions.gorilla import (
    BLOCK,
    MAGIC,
    VERSION,
    _unzigzag,
    _zigzag,
)

# ---------------------------------------------------------------- bits


def _bit_width(vals: np.ndarray) -> int:
    """Bits needed for the widest value in a uint64 array."""
    if len(vals) == 0:
        return 0
    m = int(vals.max())
    return m.bit_length()


def _pack_bits(vals: np.ndarray, width: int) -> bytes:
    """Concatenate the low ``width`` bits of each uint64, MSB-first."""
    if width == 0 or len(vals) == 0:
        return b""
    be = vals.astype(">u8").reshape(-1, 1).view(np.uint8)
    bits = np.unpackbits(be, axis=1)[:, 64 - width:]
    return np.packbits(bits.ravel()).tobytes()


def _unpack_bits(data: bytes, n: int, width: int) -> np.ndarray:
    if width == 0:
        return np.zeros(n, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), count=n * width).reshape(n, width)
    # left-pad each row to 64 bits and repack to big-endian uint64 — a
    # CONSTANT number of numpy dispatches.
    padded = np.zeros((n, 64), dtype=np.uint8)
    padded[:, 64 - width:] = bits
    return np.packbits(padded, axis=1).view(">u8").ravel().astype(np.uint64)


# ------------------------------------------------------------- streams


def _encode_stream(vals: np.ndarray) -> bytes:
    """Block-packed uint64 stream."""
    n = len(vals)
    n_blocks = (n + BLOCK - 1) // BLOCK
    widths = np.zeros(n_blocks, dtype=np.uint8)
    payloads: list[bytes] = []
    for b in range(n_blocks):  # per-block loop (n/128), kernels inside
        blk = vals[b * BLOCK : (b + 1) * BLOCK]
        w = _bit_width(blk)
        widths[b] = w
        payloads.append(_pack_bits(blk, w))
    payload = b"".join(payloads)
    return (
        struct.pack("<IH", n, n_blocks)
        + widths.tobytes()
        + struct.pack("<I", len(payload))
        + payload
    )


def _decode_stream(buf: bytes, offset: int) -> tuple[np.ndarray, int]:
    n, n_blocks = struct.unpack_from("<IH", buf, offset)
    offset += 6
    widths = np.frombuffer(buf, dtype=np.uint8, count=n_blocks, offset=offset)
    offset += n_blocks
    (payload_len,) = struct.unpack_from("<I", buf, offset)
    offset += 4
    out = np.zeros(n, dtype=np.uint64)
    pos = offset
    for b in range(n_blocks):
        w = int(widths[b])
        cnt = min(BLOCK, n - b * BLOCK)
        nbytes = (cnt * w + 7) // 8
        out[b * BLOCK : b * BLOCK + cnt] = _unpack_bits(buf[pos : pos + nbytes], cnt, w)
        pos += nbytes
    assert pos - offset == payload_len
    return out, pos


# -------------------------------------------------------------- codec


def encode_series(ts_micros: np.ndarray, values: np.ndarray) -> bytes:
    """Encode one chunk. ``ts_micros`` must be sorted non-decreasing."""
    n = len(ts_micros)
    if n == 0:
        return struct.pack("<4sBIqQ", MAGIC, VERSION, 0, 0, 0)
    ts = ts_micros.astype(np.int64)
    vals = np.ascontiguousarray(values, dtype=np.float64).view(np.uint64)
    head = struct.pack("<4sBIqQ", MAGIC, VERSION, n, int(ts[0]), int(vals[0]))
    if n == 1:
        return head
    deltas = np.diff(ts)
    dod = np.diff(deltas) if n > 2 else np.zeros(0, dtype=np.int64)
    ts_stream = struct.pack("<q", int(deltas[0])) + _encode_stream(_zigzag(dod))
    xor = vals[1:] ^ vals[:-1]
    val_stream = _encode_stream(xor)
    return head + ts_stream + val_stream


def _skip_stream(buf: bytes, offset: int) -> int:
    """Advance past one block-packed stream WITHOUT unpacking it — the
    header carries n_blocks and payload_len, so skipping is O(1)."""
    _n, n_blocks = struct.unpack_from("<IH", buf, offset)
    offset += 6 + n_blocks
    (payload_len,) = struct.unpack_from("<I", buf, offset)
    return offset + 4 + payload_len


def decode_series(
    buf: bytes, need_ts: bool = True, need_values: bool = True
) -> tuple[np.ndarray, np.ndarray]:
    """Decode a chunk. ``need_ts``/``need_values`` enable column-pruned
    decoding: an unneeded stream is SKIPPED via its header (O(1)), not
    unpacked — the codec-level counterpart of parquet column pruning
    (a value-only read never pays the delta-of-delta cumsums; a
    timestamp-only read never pays the XOR prefix scan). A skipped
    side returns an empty array."""
    magic, version, n, first_ts, first_val = struct.unpack_from("<4sBIqQ", buf, 0)
    if magic != MAGIC or version != VERSION:
        raise ValueError("not a GORB v1 chunk")
    empty_ts = np.zeros(0, dtype=np.int64)
    empty_vals = np.zeros(0, dtype=np.float64)
    if n == 0:
        return empty_ts, empty_vals
    offset = struct.calcsize("<4sBIqQ")
    if n == 1:
        return (
            np.array([first_ts], dtype=np.int64) if need_ts else empty_ts,
            np.array([first_val], dtype=np.uint64).view(np.float64)
            if need_values
            else empty_vals,
        )
    (first_delta,) = struct.unpack_from("<q", buf, offset)
    offset += 8
    if need_ts:
        dod_z, offset = _decode_stream(buf, offset)
        dod = _unzigzag(dod_z)
        deltas = (
            np.concatenate(([first_delta], first_delta + np.cumsum(dod)))
            if n > 2
            else np.array([first_delta], dtype=np.int64)
        )
        ts = (first_ts + np.concatenate(([0], np.cumsum(deltas)))).astype(np.int64)
    else:
        offset = _skip_stream(buf, offset)
        ts = empty_ts
    if need_values:
        xor, _ = _decode_stream(buf, offset)
        val_bits = np.concatenate(([np.uint64(first_val)], xor.astype(np.uint64)))
        vals = np.bitwise_xor.accumulate(val_bits).view(np.float64)
    else:
        vals = empty_vals
    return ts, vals
