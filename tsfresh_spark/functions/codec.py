"""Tier-payload compression: delta-of-delta timestamps + Gorilla XOR values.

Implements the bit-level codecs from the Gorilla paper (Pelkonen et al.,
"Gorilla: A Fast, Scalable, In-Memory Time Series Database", VLDB 2015):

* timestamps — delta-of-delta with the paper's variable-width buckets
  ('0' | '10'+7b | '110'+9b | '1110'+12b | '1111'+64b);
* float64 values — XOR with predecessor; '0' for identical, '10' reuse of
  the previous (leading-zeros, block-length) window, '11' + 5-bit leading
  zeros + 6-bit block length + meaningful bits.

No analog exists in the reference (tsfresh keeps raw frames); this is the
north-rule storage codec for rollup tier payloads (BinaryType columns).
Pure python/numpy bit-packing — executors need nothing beyond numpy; the
rollup engine encodes every tier's payloads inside its one ``mapInArrow``
window map (``RollupEngine.cascade``), one batch of series at a time, and
readers of the stored tiers decode them.
"""

from __future__ import annotations

import struct

import numpy as np


class _BitWriter:
    """Streaming MSB-first bit packer: the accumulator never exceeds
    ~72 bits, so writes are O(1) (a whole-payload big-int would make the
    stream O(n²))."""

    __slots__ = ("out", "acc", "nacc")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nacc += nbits
        while self.nacc >= 8:
            self.nacc -= 8
            self.out.append((self.acc >> self.nacc) & 0xFF)
        self.acc &= (1 << self.nacc) - 1

    def to_bytes(self) -> bytes:
        if self.nacc:
            pad = 8 - self.nacc
            return bytes(self.out) + bytes([(self.acc << pad) & 0xFF])
        return bytes(self.out)


class _BitReader:
    """Streaming MSB-first bit reader (mirror of _BitWriter)."""

    __slots__ = ("data", "byte_pos", "acc", "nacc")

    def __init__(self, data: bytes):
        self.data = data
        self.byte_pos = 0
        self.acc = 0
        self.nacc = 0

    def read(self, nbits: int) -> int:
        while self.nacc < nbits:
            self.acc = (self.acc << 8) | self.data[self.byte_pos]
            self.byte_pos += 1
            self.nacc += 8
        self.nacc -= nbits
        value = (self.acc >> self.nacc) & ((1 << nbits) - 1)
        self.acc &= (1 << self.nacc) - 1
        return value


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


# ------------------------------------------------------------ delta-of-delta


def encode_dod(ts: np.ndarray) -> bytes:
    """Encode int64 timestamps (any unit) with delta-of-delta buckets."""
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    w = _BitWriter()
    w.write(n, 32)
    if n == 0:
        return w.to_bytes()
    w.write(int(ts[0]) & ((1 << 64) - 1), 64)
    if n == 1:
        return w.to_bytes()
    deltas = np.diff(ts)
    w.write(_zigzag(int(deltas[0])), 64)
    dods = np.diff(deltas).tolist()  # python ints: cheap loop arithmetic
    for dod in dods:
        if dod == 0:
            w.write(0, 1)
        elif -63 <= dod <= 64:
            w.write(0b10, 2)
            w.write(dod + 63, 7)
        elif -255 <= dod <= 256:
            w.write(0b110, 3)
            w.write(dod + 255, 9)
        elif -2047 <= dod <= 2048:
            w.write(0b1110, 4)
            w.write(dod + 2047, 12)
        else:
            w.write(0b1111, 4)
            w.write(_zigzag(dod), 64)
    return w.to_bytes()


def _wrap64(v: int) -> int:
    """Wrap a python int to signed int64 (matches numpy's diff/add wrap)."""
    return ((v + (1 << 63)) % (1 << 64)) - (1 << 63)


def decode_dod(buf: bytes) -> np.ndarray:
    r = _BitReader(buf)
    n = r.read(32)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    first = r.read(64)
    if first >= 1 << 63:
        first -= 1 << 64
    out[0] = first
    if n == 1:
        return out
    delta = _unzigzag(r.read(64))
    out[1] = _wrap64(int(out[0]) + delta)
    for i in range(2, n):
        if r.read(1) == 0:
            dod = 0
        else:
            if r.read(1) == 0:
                dod = r.read(7) - 63
            elif r.read(1) == 0:
                dod = r.read(9) - 255
            elif r.read(1) == 0:
                dod = r.read(12) - 2047
            else:
                dod = _unzigzag(r.read(64))
        delta = _wrap64(delta + dod)
        out[i] = _wrap64(int(out[i - 1]) + delta)
    return out


# ------------------------------------------------------------- gorilla values


def encode_gorilla(values: np.ndarray) -> bytes:
    """Encode float64 values with Gorilla XOR compression.  Bit-exact
    round-trip including NaN payloads (raw bit patterns are preserved)."""
    values = np.asarray(values, dtype=np.float64)
    bits = values.view(np.uint64)
    n = len(bits)
    w = _BitWriter()
    w.write(n, 32)
    if n == 0:
        return w.to_bytes()
    w.write(int(bits[0]), 64)
    # per-element xors precomputed vectorized, then python ints (tolist)
    xors = (bits[1:] ^ bits[:-1]).tolist()
    prev_lead, prev_len = 65, 0  # no previous window
    for i in range(n - 1):
        xor = xors[i]
        if xor == 0:
            w.write(0, 1)
        else:
            lead = 64 - xor.bit_length()
            trail = (xor & -xor).bit_length() - 1
            if lead > 31:
                lead = 31  # 5-bit field
            length = 64 - lead - trail
            if (
                prev_len
                and lead >= prev_lead
                and trail >= 64 - prev_lead - prev_len
            ):
                # reuse the previous meaningful-bit window
                w.write(0b10, 2)
                w.write(xor >> (64 - prev_lead - prev_len), prev_len)
            else:
                w.write(0b11, 2)
                w.write(lead, 5)
                w.write(length - 1, 6)  # length ∈ [1, 64]
                w.write(xor >> trail, length)
                prev_lead, prev_len = lead, length
    return w.to_bytes()


def decode_gorilla(buf: bytes) -> np.ndarray:
    r = _BitReader(buf)
    n = r.read(32)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    prev = r.read(64)
    out[0] = prev
    lead, length = 0, 0
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = prev
            continue
        if r.read(1) == 0:
            # reuse window
            xor = r.read(length) << (64 - lead - length)
        else:
            lead = r.read(5)
            length = r.read(6) + 1
            xor = r.read(length) << ((64 - lead - length) % 64)
        prev ^= xor
        out[i] = prev
    return out.view(np.float64)


# ----------------------------------------------------------- series payloads

_MAGIC = b"TSP1"


def encode_series(timestamps: np.ndarray, values: np.ndarray) -> bytes:
    """One binary payload for a (timestamps, values) series pair."""
    if len(timestamps) != len(values):
        raise ValueError("timestamps and values must have equal length")
    ts_block = encode_dod(timestamps)
    val_block = encode_gorilla(values)
    return _MAGIC + struct.pack(">II", len(ts_block), len(val_block)) + ts_block + val_block


def decode_series(buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    if buf[:4] != _MAGIC:
        raise ValueError("bad payload magic")
    ts_len, val_len = struct.unpack(">II", buf[4:12])
    ts_block = buf[12 : 12 + ts_len]
    val_block = buf[12 + ts_len : 12 + ts_len + val_len]
    return decode_dod(ts_block), decode_gorilla(val_block)
