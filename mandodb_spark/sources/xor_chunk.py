"""Gorilla XOR chunk codec — the Prometheus ``chunkenc`` XOR format
(public: prometheus/tsdb/chunkenc/xor.go, itself the Facebook Gorilla
paper's time-series compression), hand-rolled in pure Python.

The REFERENCE engine's core competency is exactly this family of codecs
(its TSZ storage compression, README.md's headline feature) — the engine
subsumes it at REST with Parquet encodings (C4, "n/a by design"), but
the STREAMED remote-read response format (``STREAMED_XOR_CHUNKS``)
speaks it on the WIRE: a Prometheus reading chunks from a remote-read
backend expects XOR chunks.  This module provides the bit-level codec;
``prompb``/``engine.remote_read_chunked`` frame it into the chunked
response protocol.

Chunk layout (xor.go):

- 2-byte big-endian sample count;
- first sample: timestamp as SIGNED varint (ms), value as 64 raw bits;
- second sample: timestamp delta as unsigned varint, value XOR-encoded;
- later samples: delta-of-delta with the varbit prefix code
  (``0`` → dod 0; ``10``+14 bits; ``110``+17; ``1110``+20; ``1111``+64 —
  two's-complement truncated), value XOR-encoded.

Value XOR encoding: ``0`` bit for an identical value; else ``1`` then
``0`` + significant bits inside the previous leading/trailing window
when it still covers the new XOR, or ``1`` + 5 bits leading-zero count
(capped at 31) + 6 bits significant-bit count (64 encodes as 0) + the
significant bits.

Scale posture: encoding is per-series sequential by nature (each sample
depends on the previous) but series are independent — the DataFrame seam
(``prompb.xor_chunks_from_timeseries``) runs it Arrow-batched per series
on executors; only response FRAMING is driver-side, like every HTTP body
shaper.  Measured ~520k samples/s/core (accumulator bit I/O, bulk
float→bits conversion; the residual cost is the per-sample Python loop),
≈17M samples/s on local[32] — export-endpoint adequate, and partitions
scale it linearly.
"""

from __future__ import annotations

import struct


class _BitWriter:
    """MSB-first bit sink: bits accumulate in an int and flush to the
    bytearray a byte at a time — one arithmetic op per write_bits call
    instead of one per BIT."""

    __slots__ = ("buf", "acc", "nacc")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nacc = 0  # bits pending in acc

    def write_bit(self, bit: int) -> None:
        self.write_bits(bit, 1)

    def write_bits(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nacc += nbits
        while self.nacc >= 8:
            self.nacc -= 8
            self.buf.append((self.acc >> self.nacc) & 0xFF)
        self.acc &= (1 << self.nacc) - 1

    def write_byte(self, b: int) -> None:
        self.write_bits(b, 8)

    def to_bytes(self) -> bytes:
        if self.nacc:
            return bytes(self.buf) + bytes(
                [(self.acc << (8 - self.nacc)) & 0xFF])
        return bytes(self.buf)


class _BitReader:
    """MSB-first bit source.  Every read is bounds-checked against the
    buffer, so a truncated chunk raises ValueError."""

    __slots__ = ("buf", "pos", "nbits")

    def __init__(self, buf: bytes, pos: int = 0) -> None:
        self.buf = buf
        self.pos = pos  # in BITS
        self.nbits = len(buf) * 8

    def read_bit(self) -> int:
        if self.pos >= self.nbits:
            raise ValueError("XOR chunk truncated")
        byte = self.buf[self.pos >> 3]
        bit = (byte >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return bit

    def read_bits(self, nbits: int) -> int:
        # whole-slice extraction: one int.from_bytes per call, not one
        # shift per bit
        end = self.pos + nbits
        if end > self.nbits:
            raise ValueError("XOR chunk truncated")
        first = self.pos >> 3
        last = (end + 7) >> 3
        chunk = int.from_bytes(self.buf[first:last], "big")
        total = (last - first) * 8
        v = (chunk >> (total - (end - (first << 3)))) & ((1 << nbits) - 1)
        self.pos = end
        return v


def _uvarint_bits(w: _BitWriter, v: int) -> None:
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            w.write_byte(b | 0x80)
        else:
            w.write_byte(b)
            return


def _read_uvarint_bits(r: _BitReader) -> int:
    out = 0
    shift = 0
    while True:
        b = r.read_bits(8)
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out
        shift += 7


def _varint_bits(w: _BitWriter, v: int) -> None:
    _uvarint_bits(w, (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1)


def _read_varint_bits(r: _BitReader) -> int:
    u = _read_uvarint_bits(r)
    return (u >> 1) ^ -(u & 1)


def _clz64(x: int) -> int:
    return 64 - x.bit_length() if x else 64


def _ctz64(x: int) -> int:
    return (x & -x).bit_length() - 1 if x else 64


#: dod varbit buckets: (prefix bits as (bit,...), payload width).
_DOD_BUCKETS = (((1, 0), 14), ((1, 1, 0), 17), ((1, 1, 1, 0), 20),
                ((1, 1, 1, 1), 64))


def _fits(v: int, nbits: int) -> bool:
    return -((1 << (nbits - 1)) - 1) <= v <= (1 << (nbits - 1))


def encode_chunk(samples: list[tuple[int, float]]) -> bytes:
    """(ts_ms, value) pairs (ts strictly increasing) → one XOR chunk."""
    if len(samples) > 0xFFFF:
        raise ValueError("chunk overflows the 16-bit sample count")
    w = _BitWriter()
    w.write_bits(len(samples), 16)  # big-endian numSamples header
    # one bulk float→bits conversion for the whole chunk (per-sample
    # struct calls dominated the profile once bit I/O was batched)
    all_vbits = struct.unpack(f"<{len(samples)}Q",
                              struct.pack(f"<{len(samples)}d",
                                          *(v for _, v in samples)))
    prev_t = prev_delta = 0
    prev_v = 0
    lead = trail = -1  # no stored window yet
    for i, (t, _v) in enumerate(samples):
        vbits = all_vbits[i]
        if i == 0:
            _varint_bits(w, t)
            w.write_bits(vbits, 64)
        else:
            if t <= prev_t:
                raise ValueError("chunk timestamps must strictly increase")
            delta = t - prev_t
            if i == 1:
                _uvarint_bits(w, delta)
            else:
                dod = delta - prev_delta
                if dod == 0:
                    w.write_bit(0)
                else:
                    for prefix, nbits in _DOD_BUCKETS:
                        if nbits == 64 or _fits(dod, nbits):
                            for b in prefix:
                                w.write_bit(b)
                            w.write_bits(dod, nbits)
                            break
            prev_delta = delta
            xor = prev_v ^ vbits
            if xor == 0:
                w.write_bit(0)
            else:
                w.write_bit(1)
                nl = min(_clz64(xor), 31)
                nt = _ctz64(xor)
                if lead >= 0 and nl >= lead and nt >= trail:
                    w.write_bit(0)
                    w.write_bits(xor >> trail, 64 - lead - trail)
                else:
                    lead, trail = nl, nt
                    sig = 64 - nl - nt
                    w.write_bit(1)
                    w.write_bits(nl, 5)
                    w.write_bits(sig & 0x3F, 6)  # 64 encodes as 0
                    w.write_bits(xor >> nt, sig)
        prev_t, prev_v = t, vbits
    return w.to_bytes()


def decode_chunk(data: bytes) -> list[tuple[int, float]]:
    """One XOR chunk → (ts_ms, value) pairs.  Malformed input (a
    truncated chunk, a value window wider than 64 bits) raises
    ValueError."""
    r = _BitReader(data)
    n = r.read_bits(16)
    out: list[tuple[int, float]] = []
    t = delta = 0
    vbits = 0
    lead = trail = 0
    for i in range(n):
        if i == 0:
            t = _read_varint_bits(r)
            vbits = r.read_bits(64)
        else:
            if i == 1:
                delta = _read_uvarint_bits(r)
            else:
                if r.read_bit():
                    # prefix walk: 10→14, 110→17, 1110→20, 1111→64 bits
                    sz = 14
                    if r.read_bit():
                        sz = 17
                        if r.read_bit():
                            sz = 20
                            if r.read_bit():
                                sz = 64
                    dod = r.read_bits(sz)
                    if sz != 64 and dod > (1 << (sz - 1)):
                        dod -= 1 << sz
                    if sz == 64 and dod >= (1 << 63):
                        dod -= 1 << 64
                    delta += dod
                # else dod == 0: delta unchanged
            t += delta
            if r.read_bit():
                if r.read_bit():
                    lead = r.read_bits(5)
                    sig = r.read_bits(6) or 64
                    if lead + sig > 64:
                        raise ValueError("XOR chunk value window exceeds 64 bits")
                    trail = 64 - lead - sig
                sig = 64 - lead - trail
                vbits ^= r.read_bits(sig) << trail
            # else identical value
        out.append((t, struct.unpack("<d", struct.pack("<Q", vbits))[0]))
    return out
