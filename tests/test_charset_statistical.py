"""detect_statistical skips the recognizers that cannot win.

utf-8 is scored first and max() gives the first key every tie, so a
recognizer whose score ceiling is at most the utf-8 score never wins
unless the declared-charset bonus lifts it. The reference below scores
every recognizer and picks the winner the same way; the two must agree
on every input.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from tika_spark import charset as ch
from tika_spark.config import CHARSET_PREFIX, DEFAULT_CHARSET
from tika_spark.language.corpus import SEED_TEXT


def _reference(data: bytes, declared) -> str:
    raw = data[:CHARSET_PREFIX]
    if not raw:
        return declared or DEFAULT_CHARSET
    early = ch.bom_charset(raw) or (ch._score_iso2022(raw) or (None,))[0]
    if early:
        return early
    buf = np.frombuffer(raw, dtype=np.uint8)
    counts = np.bincount(buf, minlength=256)
    le, be = ch._score_utf16(buf)
    scores = {"utf-8": ch._score_utf8(raw, counts), "utf-16-le": le,
              "utf-16-be": be, "cp500": ch._score_cp500(counts)}
    ebcdic = ch._score_ebcdic_script(buf, counts)
    if ebcdic:
        return max(ebcdic.items(), key=lambda kv: kv[1])[0]
    if counts[0x80:].any():
        scores["cp866"] = ch._score_sbcs_cyrillic(
            counts, [(0x80, 0xAF), (0xE0, 0xF1)])
        scores["koi8-r"] = ch._score_sbcs_cyrillic(counts, [(0xC0, 0xFF)])
        if scores["utf-8"] < 60:
            for codec, *model in ch._MBCS_CANDIDATES:
                scores[codec] = ch._score_mbcs(raw, codec, *model)
            rel = ch._sbcs_rel_bigrams(buf)
            if rel is not None:
                scores.update(ch._ngram_scores(rel, ch._sbcs_models()))
            scores["windows-1252"] = max(scores.get("windows-1252", 0),
                                         ch._score_cp1252_punct(counts))
    declared = ch.clean_charset(declared)
    if declared:
        base = scores.get(declared, 0)
        if base == 0:
            try:
                raw.decode(declared)
                base = 40
            except (UnicodeDecodeError, LookupError):
                base = 0
        scores[declared] = base + (100 - base) // 2
    best, conf = max(scores.items(), key=lambda kv: kv[1])
    if conf >= 50 or (conf > 0 and best == "utf-8"):
        return best
    try:
        from charset_normalizer import from_bytes
        m = from_bytes(raw).best()
        if m is not None and m.encoding and ch.clean_charset(m.encoding):
            return ch.clean_charset(m.encoding)
    except ImportError:
        pass
    return DEFAULT_CHARSET


def _seed(langs, codec):
    return st.builds(
        lambda lang, start, n: SEED_TEXT[lang][start:start + n].encode(
            codec, "replace"),
        st.sampled_from(langs), st.integers(0, 200), st.integers(1, 400))


_ASCII = st.text(st.characters(min_codepoint=32, max_codepoint=126),
                 max_size=40)
_UTF8 = st.builds(
    lambda pairs, tail: ("".join(a + m for a, m in pairs) + tail).encode(),
    st.lists(st.tuples(_ASCII, st.characters(
        min_codepoint=0x80, max_codepoint=0x4FFF,
        blacklist_categories=("Cs",))), max_size=80),
    _ASCII)
_DATA = st.one_of(
    _ASCII.map(str.encode),
    _UTF8,
    _seed(["en", "de", "ru", "el"], "utf-16-le"),
    _seed(["en", "fr", "zh"], "utf-16-be"),
    _seed(["en", "de", "fr"], "cp500"),
    _seed(["ru", "uk"], "cp866"),
    st.binary(max_size=600))
_DECLARED = st.sampled_from([None, "utf-8", "utf-16-le", "utf-16-be",
                             "cp500", "cp866", "koi8-r", "windows-1252"])


@settings(max_examples=400, deadline=None)
@given(data=_DATA, declared=_DECLARED)
def test_matches_scoring_every_recognizer(data, declared):
    assert ch.detect_statistical(data, declared) == \
        _reference(data, declared)


def _utf8_like_utf16(n_multi: int) -> bytes:
    # valid UTF-8 with n_multi two-byte chars (utf-8 scores 60 + n_multi)
    # whose odd bytes are all 'a' or 0xA9, so it also looks like
    # UTF-16-LE (80)
    data = ("".join(c + "a" for c in "bcdefgh" * 25)
            + "\xe9" * n_multi).encode()
    counts = np.bincount(np.frombuffer(data, np.uint8), minlength=256)
    assert ch._score_utf8(data, counts) == 60 + n_multi
    assert ch._score_utf16(np.frombuffer(data, np.uint8)) == (80, 0)
    return data


def test_recognizer_below_its_ceiling_still_runs():
    assert ch.detect_statistical(_utf8_like_utf16(19)) == "utf-16-le"


def test_declared_recognizer_runs_above_its_ceiling():
    # undeclared, utf-16-le cannot beat utf-8's 85 and is skipped;
    # declared, its score plus the hint bonus (90) wins
    data = _utf8_like_utf16(25)
    assert ch.detect_statistical(data) == "utf-8"
    assert ch.detect_statistical(data, "utf-16-le") == "utf-16-le"
