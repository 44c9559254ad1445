"""Vectorized delta + varbyte codec for posting blocks (numpy, no per-row
Python — the codec runs over whole numpy arrays inside Arrow-batched
UDFs; SURVEY.md §4.2 "Compression as data layout")."""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

_THRESHOLDS = (1 << (7 * np.arange(1, 10, dtype=np.uint64))).astype(np.uint64)


def varbyte_encode(arr: np.ndarray) -> bytes:
    """LEB128-style varbyte: little-endian 7-bit groups, MSB = continue."""
    v = np.ascontiguousarray(arr, dtype=np.uint64)
    if len(v) == 0:
        return b""
    lengths = np.searchsorted(_THRESHOLDS, v, side="right") + 1
    offsets = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    out = np.zeros(int(lengths.sum()), dtype=np.uint8)
    for j in range(int(lengths.max())):
        m = lengths > j
        byte = (v[m] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (lengths[m] > j + 1).astype(np.uint8) << 7
        out[offsets[m] + j] = byte.astype(np.uint8) | cont
    return out.tobytes()


def varbyte_decode(buf: bytes) -> np.ndarray:
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = np.nonzero(b < 0x80)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    vals = np.zeros(len(ends), dtype=np.uint64)
    for j in range(int(lengths.max())):
        m = lengths > j
        vals[m] |= (b[starts[m] + j].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * j)
    return vals


def varbyte_encode_segments(arr: np.ndarray, seg_starts: np.ndarray) -> list[bytes]:
    """Encode ``arr`` once, return per-segment byte strings for segments
    beginning at ``seg_starts`` (ascending, seg_starts[0] == 0): one
    varbyte pass sliced per posting block (the build's doc/tf/dl lanes)
    or per posting (a position list) — ~10-30× fewer Python-level calls
    than encoding each segment on its own."""
    v = np.ascontiguousarray(arr, dtype=np.uint64)
    if len(v) == 0:
        return [b""] * max(len(seg_starts), 0)
    buf = varbyte_encode(v)
    lengths = np.searchsorted(_THRESHOLDS, v, side="right") + 1
    ends = np.cumsum(lengths)
    starts = ends - lengths
    seg_ends = np.concatenate((seg_starts[1:], [len(v)]))
    return [
        buf[starts[s] : ends[e - 1]] if e > s else b""
        for s, e in zip(seg_starts, seg_ends)
    ]


def segmented_positions(gaps: np.ndarray, seg_lengths: np.ndarray) -> np.ndarray:
    """Absolute positions from per-segment delta gaps (each segment's
    first gap is the absolute value; the chain resets per segment).
    Vectorized segmented cumsum — no per-segment Python loop."""
    if len(gaps) == 0:
        return np.zeros(0, dtype=np.int64)
    g = gaps.astype(np.int64)
    total = np.cumsum(g)
    starts = np.cumsum(seg_lengths) - seg_lengths
    base = np.repeat(total[starts] - g[starts], seg_lengths)
    return total - base
