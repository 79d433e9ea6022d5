"""Bit I/O and prefix codes shared by the codec tier.

- :class:`LsbReader` / :class:`LsbWriter`: values packed from the
  least-significant end of each byte (VP8L, brotli, Vorbis, zstd
  forward fields, JPEG XL headers).
- :class:`MsbReader` / :class:`MsbWriter`: values packed from the
  most-significant end (FLAC, MPEG audio and video, AAC, AV1).
- :func:`canonical_codes`: the canonical code words of a length
  profile; :func:`huffman_depths`: Huffman code lengths from symbol
  frequencies.
- :class:`PrefixCode`: a canonical prefix decoder driven by any reader
  with ``read(n)``.

Truncated input and bit strings that match no code word raise
:class:`BitstreamError`, a ``ValueError``: every status mapping in
media.py and the analysis runners catches it, and a codec with its own
public error re-raises it as that.
"""

from __future__ import annotations

import heapq


class BitstreamError(ValueError):
    pass


class LsbReader:
    """LSB-first bit reader over bytes, starting at byte ``pos``."""

    __slots__ = ("data", "pos", "buf", "n")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.n = 0

    def read(self, nbits: int) -> int:
        while self.n < nbits:
            if self.pos >= len(self.data):
                raise BitstreamError("truncated bitstream")
            self.buf |= self.data[self.pos] << self.n
            self.pos += 1
            self.n += 8
        v = self.buf & ((1 << nbits) - 1)
        self.buf >>= nbits
        self.n -= nbits
        return v

    def align(self) -> int:
        """Skip to the next byte boundary; returns the skipped bits."""
        pad = self.buf & ((1 << self.n) - 1)
        self.buf = 0
        self.n = 0
        return pad

    def raw(self, nbytes: int) -> bytes:
        """``nbytes`` whole bytes after the last byte read (call
        :meth:`align` first)."""
        if self.pos + nbytes > len(self.data):
            raise BitstreamError("truncated raw span")
        out = self.data[self.pos:self.pos + nbytes]
        self.pos += nbytes
        return out


class LsbWriter:
    __slots__ = ("out", "buf", "n")

    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.n = 0

    def write(self, v: int, nbits: int):
        self.buf |= (v & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        while self.n >= 8:
            self.out.append(self.buf & 0xFF)
            self.buf >>= 8
            self.n -= 8

    def align(self):
        if self.n:
            self.out.append(self.buf & 0xFF)
            self.buf = 0
            self.n = 0

    def raw(self, data: bytes):
        assert self.n == 0
        self.out += data

    def bytes(self) -> bytes:
        """Everything written so far, the last byte zero-padded."""
        b = bytearray(self.out)
        if self.n:
            b.append(self.buf & 0xFF)
        return bytes(b)


class MsbReader:
    """MSB-first bit reader over bytes, starting at byte ``pos``."""

    __slots__ = ("data", "pos", "buf", "n")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.n = 0

    def read(self, nbits: int) -> int:
        while self.n < nbits:
            if self.pos >= len(self.data):
                raise BitstreamError("truncated bitstream")
            self.buf = (self.buf << 8) | self.data[self.pos]
            self.pos += 1
            self.n += 8
        self.n -= nbits
        v = (self.buf >> self.n) & ((1 << nbits) - 1)
        self.buf &= (1 << self.n) - 1
        return v

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if v >> (nbits - 1) else v

    def unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 24:
                raise BitstreamError("runaway unary code")
        return q

    def align(self):
        self.n -= self.n % 8
        self.buf &= (1 << self.n) - 1


class MsbWriter:
    __slots__ = ("out", "buf", "n")

    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.n = 0

    def write(self, v: int, nbits: int):
        self.buf = (self.buf << nbits) | (v & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.buf >> self.n) & 0xFF)
        self.buf &= (1 << self.n) - 1

    def align(self):
        if self.n:
            self.write(0, 8 - self.n)


def canonical_codes(lengths) -> dict:
    """{symbol: (code, len)} for a {symbol: length} mapping or a list
    indexed by symbol: symbols sorted by (length, symbol) take
    increasing code words (DEFLATE convention; a code word is read
    and written most-significant bit first). Zero lengths are
    skipped."""
    items = lengths.items() if isinstance(lengths, dict) \
        else enumerate(lengths)
    out = {}
    code = 0
    prev = 0
    for ln, sym in sorted((ln, sym) for sym, ln in items if ln):
        code <<= ln - prev
        out[sym] = (code, ln)
        code += 1
        prev = ln
    return out


def huffman_depths(freqs: dict) -> dict:
    """{symbol: depth} of a plain Huffman tree over {symbol: freq}.

    Ties break deterministically: leaves are seeded in symbol order
    and each merged node sorts after every earlier node of the same
    weight. No depth limit is applied (a lone symbol gets depth 0);
    each caller applies its format's limit."""
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freqs.items()))]
    heapq.heapify(heap)
    depth = dict.fromkeys(freqs, 0)
    nxt = len(heap)
    while len(heap) > 1:
        fa, _, a = heapq.heappop(heap)
        fb, _, b = heapq.heappop(heap)
        for s in a + b:
            depth[s] += 1
        heapq.heappush(heap, (fa + fb, nxt, a + b))
        nxt += 1
    return depth


class PrefixCode:
    """Prefix-code decoder from ``counts[len]`` (how many code words
    have each length) and the symbols in code-word order.

    Code words of one length are consecutive integers following the
    canonical rule (JPEG ``BITS``/``HUFFVAL`` is this form directly);
    each word is read one bit at a time through ``reader.read(1)``,
    first bit most significant. ``counts[0] == 1`` is the one-symbol
    code that reads zero bits. Incomplete and over-subscribed tables
    decode exactly as a {(len, code): symbol} walk over the same
    words would: a bit string that matches no word raises
    :class:`BitstreamError`."""

    __slots__ = ("counts", "symbols")

    def __init__(self, counts, symbols):
        self.counts = list(counts)
        self.symbols = list(symbols)

    @classmethod
    def from_lengths(cls, lengths) -> "PrefixCode":
        """The canonical code (see :func:`canonical_codes`) of a
        {symbol: length} mapping or a list indexed by symbol."""
        items = lengths.items() if isinstance(lengths, dict) \
            else enumerate(lengths)
        used = sorted((ln, sym) for sym, ln in items if ln)
        counts = [0] * (used[-1][0] + 1 if used else 1)
        for ln, _ in used:
            counts[ln] += 1
        return cls(counts, [sym for _, sym in used])

    def read(self, reader) -> int:
        counts = self.counts
        if counts[0]:
            return self.symbols[0]
        code = first = index = 0
        for ln in range(1, len(counts)):
            code = (code << 1) | reader.read(1)
            cnt = counts[ln]
            # code >= first at every length: a miss at length ln
            # leaves code >= first + cnt, and both then double
            if code - first < cnt:
                return self.symbols[index + code - first]
            index += cnt
            first = (first + cnt) << 1
        raise BitstreamError("invalid prefix code word")
