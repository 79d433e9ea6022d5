"""Shared bit I/O and prefix codes (tika_spark/bits.py), plus SHA-256
pins of the fixture encoders built on them: any change to a writer,
the canonical code assignment or the Huffman tie-break moves these
bytes, and with them the media_* oracle hashes."""

import hashlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tika_spark.bits import (LsbReader, LsbWriter, MsbReader, MsbWriter,
                             PrefixCode, canonical_codes, huffman_depths)

# (value, width) runs, widths 0..40
_RUNS = st.lists(st.integers(0, 40).flatmap(
    lambda w: st.tuples(st.integers(0, (1 << w) - 1), st.just(w))),
    max_size=40)


class TestLsb:
    def test_lsb_first(self):
        w = LsbWriter()
        w.write(0b101, 3)
        w.write(0b01, 2)
        w.write(0xAB, 8)
        data = w.bytes()
        r = LsbReader(data)
        assert r.read(3) == 0b101
        assert r.read(2) == 0b01
        assert r.read(8) == 0xAB

    def test_truncation(self):
        with pytest.raises(ValueError):
            LsbReader(b"\x01").read(16)

    def test_lsb_bitpack(self):
        w = LsbWriter()
        for val, n in ((5, 3), (1, 1), (300, 10), (0xABCDE, 20)):
            w.write(val, n)
        r = LsbReader(w.bytes())
        for val, n in ((5, 3), (1, 1), (300, 10), (0xABCDE, 20)):
            assert r.read(n) == val

    def test_align_returns_padding_and_raw_follows(self):
        r = LsbReader(bytes((0b10110101, 0x42, 0x43)))
        assert r.read(3) == 0b101
        assert r.align() == 0b10110
        assert r.raw(2) == b"BC"
        with pytest.raises(ValueError):
            r.raw(1)

    @given(_RUNS)
    @settings(max_examples=200, deadline=None)
    def test_roundtrip(self, runs):
        w = LsbWriter()
        for v, n in runs:
            w.write(v, n)
        data = w.bytes()
        assert len(data) == (sum(n for _, n in runs) + 7) // 8
        r = LsbReader(data)
        assert [r.read(n) for _, n in runs] == [v for v, _ in runs]
        with pytest.raises(ValueError):
            r.read(9)


class TestMsb:
    @given(_RUNS)
    @settings(max_examples=200, deadline=None)
    def test_roundtrip(self, runs):
        w = MsbWriter()
        for v, n in runs:
            w.write(v, n)
        w.align()
        data = bytes(w.out)
        assert len(data) == (sum(n for _, n in runs) + 7) // 8
        r = MsbReader(data)
        assert [r.read(n) for _, n in runs] == [v for v, _ in runs]
        with pytest.raises(ValueError):
            r.read(9)

    def test_msb_first(self):
        r = MsbReader(bytes((0b10110101, 0xFF)))
        assert r.read(3) == 0b101
        assert r.read_signed(3) == -3
        assert r.unary() == 1
        r.align()
        assert r.read(8) == 0xFF


class TestCodeConstruction:
    def test_canonical_codes_deflate_example(self):
        # RFC 1951 section 3.2.2: lengths (3,3,3,3,3,2,4,4) for A..H
        lens = dict(zip("ABCDEFGH", (3, 3, 3, 3, 3, 2, 4, 4)))
        codes = canonical_codes(lens)
        assert codes == {"A": (0b010, 3), "B": (0b011, 3),
                         "C": (0b100, 3), "D": (0b101, 3),
                         "E": (0b110, 3), "F": (0b00, 2),
                         "G": (0b1110, 4), "H": (0b1111, 4)}
        assert canonical_codes([3, 3, 3, 3, 3, 2, 4, 4, 0]) == {
            i: codes[c] for i, c in enumerate("ABCDEFGH")}

    @given(st.dictionaries(st.integers(0, 300), st.integers(1, 1000),
                           min_size=2, max_size=80))
    @settings(max_examples=100, deadline=None)
    def test_huffman_depths_are_complete(self, freqs):
        depth = huffman_depths(freqs)
        assert set(depth) == set(freqs)
        top = max(depth.values())
        assert sum(1 << (top - d) for d in depth.values()) == 1 << top

    def test_huffman_tie_break(self):
        # equal weights: earlier symbols pair first, merged nodes sort
        # after leaves of the same weight
        assert huffman_depths({0: 1, 1: 1, 2: 1, 3: 1, 4: 1}) == {
            0: 3, 1: 3, 2: 2, 3: 2, 4: 2}
        assert huffman_depths({7: 5}) == {7: 0}


def _ref_walk(table: dict, max_len: int, reader) -> int:
    """The {(len, code): symbol} walk the codecs used before the shared
    decoder."""
    code = 0
    for ln in range(1, max_len + 1):
        code = (code << 1) | reader.read(1)
        if (ln, code) in table:
            return table[(ln, code)]
    raise ValueError("no code word")


def _ref_table(counts, symbols) -> dict:
    """JPEG Annex C code assignment over (counts, symbols)."""
    table = {}
    code = k = 0
    for ln in range(1, len(counts)):
        for _ in range(counts[ln]):
            table[(ln, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _decode_all(step, data: bytes) -> tuple:
    r = LsbReader(data)
    out = []
    try:
        while True:
            out.append(step(r))
    except ValueError:
        return tuple(out), r.pos


@st.composite
def _jpeg_order(draw):
    counts = [0] + draw(st.lists(st.integers(0, 5), min_size=1,
                                 max_size=16))
    symbols = draw(st.lists(st.integers(0, 255), min_size=sum(counts),
                            max_size=sum(counts)))
    return counts, symbols


class TestPrefixCode:
    @given(st.lists(st.integers(0, 7), max_size=24), st.binary(max_size=12))
    @settings(max_examples=400, deadline=None)
    def test_lengths_match_dict_walk(self, lengths, data):
        # incomplete, complete and over-subscribed profiles alike
        code = PrefixCode.from_lengths(lengths)
        table = {(ln, c): s
                 for s, (c, ln) in canonical_codes(lengths).items()}
        max_len = max(lengths, default=0)
        assert _decode_all(code.read, data) == _decode_all(
            lambda r: _ref_walk(table, max_len, r), data)

    @given(_jpeg_order(), st.binary(max_size=12))
    @settings(max_examples=400, deadline=None)
    def test_jpeg_order_matches_dict_walk(self, spec, data):
        counts, symbols = spec
        code = PrefixCode(counts, symbols)
        table = _ref_table(counts, symbols)
        assert _decode_all(code.read, data) == _decode_all(
            lambda r: _ref_walk(table, len(counts) - 1, r), data)

    @given(st.integers(0, 255), st.integers(0, 255), st.binary(max_size=4))
    @settings(max_examples=100, deadline=None)
    def test_vp8l_simple_transmission_order(self, sym0, sym1, data):
        code = PrefixCode([0, 2], [sym0, sym1])
        r = LsbReader(data)
        for k in range(8 * len(data)):
            assert code.read(r) == (sym1 if data[k >> 3] >> (k & 7) & 1
                                    else sym0)

    def test_zero_length_word_reads_no_bits(self):
        r = LsbReader(b"")
        assert PrefixCode([1], [42]).read(r) == 42
        assert r.pos == 0

    def test_empty_code_raises(self):
        with pytest.raises(ValueError):
            PrefixCode.from_lengths([0, 0, 0]).read(LsbReader(b"\xff"))


# -------------------------------------------------- fixture-byte pins

_TEXT = (b"The quick brown fox jumps over the lazy dog. " * 40
         + bytes(range(256)) + b"abracadabra" * 30)


def _webp_media():
    # the media_webp_* fixture rows 0..9 (all five encoder variants)
    from tika_spark.analysis.webp import webp_bytes
    out = []
    for i in range(10):
        img = np.zeros((4 + i % 3, 8, 4), dtype=np.uint8)
        img[:, :4] = ((i * 7) % 256, (i * 3) % 256, (i * 5 + 2) % 256,
                      255)
        img[:, 4:] = ((i * 13 + 5) % 256, (i * 11 + 1) % 256,
                      (i * 17 + 9) % 256, 255)
        kw = [{}, {"palette": True}, {"subtract_green": True},
              {"predictor": i % 14},
              {"cache_bits": 4, "row_refs": True}][i % 5]
        out.append(webp_bytes(img, **kw))
    return b"".join(out)


def _webp_rich():
    from tika_spark.analysis.webp import alpha_chunk_bytes, webp_bytes
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (20, 24, 4), dtype=np.uint8)
    few = np.full((20, 24, 4), 255, dtype=np.uint8)
    few[:, :, :3] = (rng.integers(0, 6, (20, 24, 1)) * 40).astype(
        np.uint8)
    return b"".join([
        webp_bytes(img),
        webp_bytes(img, cache_bits=3, subtract_green=True, predictor=11),
        webp_bytes(few, palette=True),
        webp_bytes(few, row_refs=True, color_cte=(1, 2, 3)),
        alpha_chunk_bytes(img[:, :, 3], 1, 1)])


def _brotli():
    from tika_spark.analysis import brotlicodec as br
    return b"".join([br.compress(_TEXT, mode=m)
                     for m in ("raw", "literals", "lz")]
                    + [br.compress_blocks(_TEXT), br.compress_ctx(_TEXT)])


def _zstd():
    from tika_spark.analysis import zstdcodec as z
    return b"".join(z.compress(_TEXT, mode=m)
                    for m in ("raw", "literals", "lz", "huff", "fse"))


def _vorbis():
    from tika_spark.analysis import vorbis as vb
    return b"".join(vb.vorbis_headers(2, 44100) + [
        vb.vorbis_silent_packet(2),
        vb.vorbis_tone_packet(2, [60, 70, 3, 5], 1),
        vb.ogg_vorbis_fixture(0), vb.ogg_vorbis_fixture(3)])


def _flac():
    from tika_spark.analysis.flac import flac_bytes
    s = (3000 * np.sin(np.arange(5000) / 17.0)).astype(np.int16)
    return b"".join([
        flac_bytes(s, mode="fixed2"),
        flac_bytes(np.stack([s, s // 3], axis=1), rate=44100,
                   mode="verbatim"),
        flac_bytes(np.full(300, 7, dtype=np.int16), mode="constant")])


def _mp3():
    from tika_spark.analysis import mp3codec as m
    g = np.zeros(576, dtype=np.int64)
    g[[0, 3, 9, 40, 41, 200]] = [1, -2, 2, 1, -1, 1]
    z = np.zeros(576, dtype=np.int64)
    return b"".join([
        m.mp3_bytes([[[g], [z]]] * 2),
        m.mp3_bytes([[[g, z], [z, g]]], mode="stereo", count1_zeros=20),
        repr(sorted(m.HUFF_TABLES[16].items())).encode(),
        repr(sorted(m.COUNT1_TABLES[0].items())).encode()])


def _mp2():
    from tika_spark.analysis import mp2codec as m
    from tika_spark.analysis.flvdemux import flv_fixture
    rng = np.random.RandomState(7)
    fr2 = np.zeros((36, 32))
    fr1 = np.zeros((12, 32))
    for sb in (0, 1, 4, 6, 12):
        fr2[:, sb] = rng.uniform(-0.9, 0.9, 36)
        fr1[:, sb] = rng.uniform(-0.9, 0.9, 12)
    return b"".join([
        m.mp2_bytes([fr2], bitrate=384,
                    allocation={0: 65535, 1: 7, 4: 3, 6: 5, 12: 9}),
        m.mp2_bytes([fr2, fr2]),
        m.mp1_bytes([fr1], bitrate=448,
                    allocation={0: 14, 1: 2, 4: 1, 6: 5, 12: 8}),
        flv_fixture(0), flv_fixture(1)])


def _aac():
    from tika_spark.analysis import aaccodec as a
    from tika_spark.analysis.isobmff import m4a_fixture
    spec = np.zeros(1024, dtype=np.int64)
    spec[[0, 1, 5, 30, 31, 100]] = [1, -1, 1, 1, 0, -1]
    return b"".join([a.aac_bytes([[spec]] * 2, codebook=cb)
                     for cb in (1, 2, 3, 4)]
                    + [m4a_fixture(i) for i in range(4)]
                    + [repr(sorted(a.HCB_SF.items())).encode()])


def _av1():
    from tika_spark.analysis.av1 import seq_header_obu
    return b"".join([
        seq_header_obu(0, 5, 800, 600),
        seq_header_obu(1, 9, 1920, 1080, reduced=False, tier=1),
        seq_header_obu(2, 0, 16, 16, still=False)])


def _mpegvideo():
    from tika_spark.analysis import mpegvideo as mv
    return b"".join([f(i) for f in (mv.mpeg1_fixture, mv.mpeg1_bps_fixture,
                                    mv.mpeg2_ps_fixture)
                     for i in range(3)])


FIXTURE_SHA256 = {
    _webp_media: "422f95c699deb2e57594da8db1bf4c0c"
                 "07efc6a39ed7db81a32ec828ecef7973",
    _webp_rich: "6061d93460947e90ac139fd6ed819df5"
                "1b0faf6f32f09b64b1b32cd335b94b2a",
    _brotli: "4d1171fc60e5aa18e4312cdabfe84e6d"
             "7b4fbda3999ddbe39b94af25de3bea2a",
    _zstd: "a316bd58945b597736cabb2e07578042"
           "dc44d410298c9fabc11350932d3829d0",
    _vorbis: "7af6f147c23a2a37935e12d68f4c7984"
             "cd2fdf69fbe9356cee1e97a6b8c15c6b",
    _flac: "6805ffb9e0e0948899b449c36ecab46e"
           "70f14b69556f85b1258b9d95787e9223",
    _mp3: "6ffdc6dc8b29c323855d6547347c70c5"
          "07fd8f4453ff82f0d3d5f8287526a968",
    _mp2: "f328861dafe2d76cbf49a3cf24e7e99a"
          "f920698ebf2b8c49483b9eea496b00d2",
    _aac: "2bf98a02d34bfa75b2064579a1b6e4cd"
          "af193511e7ad28936c025c064d3e397b",
    _av1: "ae8f5adc2d61e9ba68d00422c16436a7"
          "b0d3d2459a62b7fe3218bb0cfd12af05",
    _mpegvideo: "e86a9efbf1316ca70d1cd77f92dedc8b"
                "6fdf6fdbc4f228575709cd7a41f8e391",
}


@pytest.mark.parametrize("build", list(FIXTURE_SHA256),
                         ids=lambda f: f.__name__.lstrip("_"))
def test_fixture_bytes_pinned(build):
    assert hashlib.sha256(build()).hexdigest() == FIXTURE_SHA256[build]
