"""AV1 metadata tier (analysis/av1.py): OBU walk + sequence header."""

import pytest

from tika_spark.analysis.av1 import (Av1Error, av1_meta, ivf_wrap,
                                     parse_obus, seq_header_obu)


class TestSeqHeader:
    def test_reduced_roundtrip(self):
        obu = seq_header_obu(2, 9, 1920, 1080, reduced=True)
        m = av1_meta(obu)
        assert (m["profile"], m["level"]) == (2, 9)
        assert (m["width"], m["height"]) == (1920, 1080)
        assert m["still"] and m["reduced"]

    def test_general_path_with_tier(self):
        obu = seq_header_obu(0, 12, 640, 360, reduced=False,
                             still=False, tier=1)
        m = av1_meta(obu)
        assert (m["level"], m["tier"]) == (12, 1)
        assert not m["reduced"] and not m["still"]

    def test_low_level_has_no_tier_bit(self):
        m = av1_meta(seq_header_obu(1, 4, 320, 240, reduced=False))
        assert (m["level"], m["tier"]) == (4, 0)

    def test_ivf_carriage(self):
        obu = seq_header_obu(0, 5, 800, 600)
        m = av1_meta(ivf_wrap(obu, 800, 600, n_frames=3))
        assert (m["ivf_width"], m["ivf_height"]) == (800, 600)
        assert m["n_frames"] == 3 and m["width"] == 800

    def test_truncated_sequence_header_raises_av1error(self):
        obu = seq_header_obu(0, 5, 800, 600, reduced=False)
        payload = obu[2:]
        for cut in range(len(payload)):
            short = bytes([obu[0], cut]) + payload[:cut]
            with pytest.raises(Av1Error):
                av1_meta(short)

    def test_errors_are_loud(self):
        with pytest.raises(Av1Error):
            av1_meta(b"")
        with pytest.raises(Av1Error):
            av1_meta(b"DKIF" + b"\x00" * 28)        # wrong fourcc
        # temporal-delimiter-only stream: no sequence header
        with pytest.raises(Av1Error):
            av1_meta(bytes([0x12, 0x00]))

    def test_obu_walk_sizes(self):
        obu = seq_header_obu(0, 0, 16, 16)
        td = bytes([0x12, 0x00])                    # temporal delim
        obus = parse_obus(td + obu)
        assert [t for t, _ in obus] == [2, 1]


class TestFmp4:
    """Fragmented-MP4 sample resolution (isobmff.fmp4_samples)."""

    def _frames(self, n=3):
        import numpy as np
        return [(np.full((16, 16), 30 + 19 * k, np.uint8),
                 np.full((8, 8), 128, np.uint8),
                 np.full((8, 8), 128, np.uint8)) for k in range(n)]

    def test_cmaf_decodes_like_progressive(self):
        from tika_spark.analysis.isobmff import (avc_bytes,
                                                 avc_frag_bytes,
                                                 mp4_h264_frames)
        import numpy as np
        frames = self._frames()
        prog = mp4_h264_frames(avc_bytes(frames, 16, 16, plan="pcm"))
        frag = mp4_h264_frames(avc_frag_bytes(frames, 16, 16,
                                              plan="pcm"))
        assert len(prog) == len(frag) == 3
        for a, b in zip(prog, frag):
            assert np.array_equal(a, b)

    def test_fragment_layout(self):
        from tika_spark.analysis.isobmff import (avc_frag_bytes,
                                                 fmp4_samples)
        blob = avc_frag_bytes(self._frames(2), 16, 16, plan="pcm")
        assert b"mvex" in blob and blob.count(b"moof") == 2
        spans = fmp4_samples(blob)
        assert len(spans) == 2
        for off, sz in spans:
            assert blob[off:off + 4] == (sz - 4).to_bytes(4, "big")

    def test_trun_without_offset_is_loud(self):
        import pytest
        from tika_spark.analysis.isobmff import Mp4Error, fmp4_samples
        # hand-build a moof whose trun lacks the data_offset flag
        def box(t, b): return (len(b) + 8).to_bytes(4, "big") + t + b
        trun = box(b"trun", b"\x00\x00\x02\x00"
                   + (1).to_bytes(4, "big") + (9).to_bytes(4, "big"))
        tfhd = box(b"tfhd", b"\x00\x02\x00\x00"
                   + (1).to_bytes(4, "big"))
        moof = box(b"moof", box(b"traf", tfhd + trun))
        with pytest.raises(Mp4Error, match="data_offset"):
            fmp4_samples(moof)
