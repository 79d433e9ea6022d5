"""Metadata-only media parsers (SURVEY.md §2 E12 — the web slice).

The reference's image parsers (tika-parsers/.../image/ImageParser.java,
jpeg/JpegParser.java) emit metadata only (dimensions, format), no text.
We parse the dimensions straight from the container headers — pure byte
peeks bounded to the first few KB, no codec libraries:

- PNG: IHDR width/height (big-endian at offset 16)
- GIF: logical screen descriptor (little-endian at offset 6)
- BMP: BITMAPINFOHEADER (little-endian at offset 18)
- JPEG: first SOFn segment's height/width (segment walk)

EXIF (TIFF IFD walk, both byte orders, GPS sub-IFD) and XMP (APP1
RDF packets in JPEG, iTXt XML:com.adobe.xmp in PNG — the reference's
JempBox path) are parsed in-repo; full pixel decode lives in
tika_spark.analysis.pixels / jpegcodec.
"""

from __future__ import annotations

import struct
import zlib

from tika_spark.bits import LsbReader
from tika_spark.config import ExtractConfig

_DEFAULT = ExtractConfig()

_SOF_MARKERS = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def _png_dims(data: bytes):
    if len(data) >= 24 and data[12:16] == b"IHDR":
        w, h = struct.unpack(">II", data[16:24])
        return w, h
    return None


def _gif_dims(data: bytes):
    if len(data) >= 10:
        w, h = struct.unpack("<HH", data[6:10])
        return w, h
    return None


def _bmp_dims(data: bytes):
    if len(data) >= 26:
        w, h = struct.unpack("<ii", data[18:26])
        return abs(w), abs(h)
    return None


def _jpeg_dims(data: bytes):
    # same scan bound as _jpeg_exif: camera JPEGs commonly carry
    # >64 KB of APPn (EXIF + ICC) before the SOF marker
    i, n = 2, min(len(data), 262144)
    while i + 4 <= n:
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if i + 4 > n:
            break
        seg_len = struct.unpack(">H", data[i + 2:i + 4])[0]
        if marker in _SOF_MARKERS and i + 9 <= n:
            h, w = struct.unpack(">HH", data[i + 5:i + 9])
            return w, h
        i += 2 + seg_len
    return None


def _tiff_dims(data: bytes):
    meta = _exif_metadata(data)
    if "tiff:ImageWidth" in meta and "tiff:ImageLength" in meta:
        return (int(meta["tiff:ImageWidth"][0]),
                int(meta["tiff:ImageLength"][0]))
    return _tiff_dims_raw(data)


def _tiff_dims_raw(data: bytes):
    """Dims-only first-IFD scan, independent of the full EXIF walk:
    reads tags 0x0100/0x0101 (SHORT/LONG inline values) entry by
    entry, so a malformed sub-IFD / rational / GPS block elsewhere in
    the file cannot cost the dimensions."""
    if data[:4] == b"II*\x00":
        bo = "<"
    elif data[:4] == b"MM\x00*":
        bo = ">"
    else:
        return None
    w = h = None
    try:
        (off,) = struct.unpack_from(bo + "I", data, 4)
        (n,) = struct.unpack_from(bo + "H", data, off)
        for k in range(min(n, 512)):
            e = off + 2 + 12 * k
            tag, typ = struct.unpack_from(bo + "HH", data, e)
            if tag not in (0x0100, 0x0101):
                continue
            if typ == 3:      # SHORT
                (v,) = struct.unpack_from(bo + "H", data, e + 8)
            elif typ == 4:    # LONG
                (v,) = struct.unpack_from(bo + "I", data, e + 8)
            else:
                continue
            if tag == 0x0100:
                w = v
            else:
                h = v
    except struct.error:
        pass
    return (w, h) if w and h else None


def _psd_dims(data: bytes):
    # PSD header: '8BPS' ver(2) reserved(6) channels(2) H(4) W(4) BE
    if len(data) >= 22 and data[:4] == b"8BPS":
        h, w = struct.unpack(">II", data[14:22])
        return w, h
    return None


def _webp_dims(data: bytes):
    """WebP: VP8X extended header (24-bit w-1/h-1), else VP8 lossy
    frame tag, else VP8L lossless 14-bit fields."""
    if len(data) < 30 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        return None
    fourcc = data[12:16]
    if fourcc == b"VP8X":
        w = int.from_bytes(data[24:27], "little") + 1
        h = int.from_bytes(data[27:30], "little") + 1
        return w, h
    if fourcc == b"VP8 ":
        # key-frame start code 9D 01 2A, then 14-bit w/h
        if data[23:26] == b"\x9d\x01\x2a":
            w = struct.unpack("<H", data[26:28])[0] & 0x3FFF
            h = struct.unpack("<H", data[28:30])[0] & 0x3FFF
            return w, h
        return None
    if fourcc == b"VP8L":
        if data[20:21] != b"\x2f":
            return None
        bits = struct.unpack("<I", data[21:25])[0]
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        return w, h
    return None


def _jxl_dims(data: bytes):
    """JPEG XL: SizeHeader at the head of the codestream (LSB-first
    bits: small-mode 8x multiples, U32-coded ysize, aspect-ratio
    table), or the same codestream inside an ISO-BMFF ``jxlc`` box
    (container form, magic 0000000C 4A584C20)."""
    if data[:2] == b"\xff\x0a":
        return _jxl_size_header(data[2:])
    if len(data) >= 12 and data[4:8] == b"JXL ":
        # ISO-BMFF container: find the jxlc box
        from tika_spark.analysis.isobmff import iter_boxes
        try:
            for fourcc, b, e in iter_boxes(data, 0, len(data)):
                if fourcc == b"jxlc":
                    body = data[b:e]
                    if body[:2] == b"\xff\x0a":
                        return _jxl_size_header(body[2:])
        except Exception:
            return None
    return None


def _jxl_size_header(bits_data: bytes):
    u = LsbReader(bits_data).read

    def u32(c0, c1, c2, c3):
        sel = u(2)
        n = (c0, c1, c2, c3)[sel]
        return u(n) + 1

    try:
        small = u(1)
        if small:
            ysize = (u(5) + 1) * 8
        else:
            ysize = u32(9, 13, 18, 30)
        ratio = u(3)
        if ratio == 0:
            if small:
                xsize = (u(5) + 1) * 8
            else:
                xsize = u32(9, 13, 18, 30)
        else:
            num, den = ((1, 1), (12, 10), (4, 3), (3, 2),
                        (16, 9), (5, 4), (2, 1))[ratio - 1]
            xsize = (ysize * num) // den
        return (xsize, ysize) if xsize and ysize else None
    except ValueError:
        return None


def _heif_dims(data: bytes):
    """AVIF/HEIC: ISO-BMFF meta/iprp/ipco ispe walk
    (analysis/isobmff.py) — largest extent wins over thumbnails."""
    from tika_spark.analysis.isobmff import heif_dims
    return heif_dims(data)


def _ico_dims(data: bytes):
    """ICO: first directory entry's width/height bytes (0 means 256)."""
    if len(data) < 8 or data[:4] != b"\x00\x00\x01\x00":
        return None
    w, h = data[6], data[7]
    return (w or 256), (h or 256)


def _pnm_dims(data: bytes):
    """Netpbm P1-P6 header (whitespace/comment-tolerant)."""
    if data[:1] != b"P" or data[1:2] not in b"123456":
        return None
    toks = []
    pos = 2
    while pos < len(data) and len(toks) < 2:
        c = data[pos]
        if c == 0x23:                       # '#' comment
            nl = data.find(b"\n", pos)
            pos = len(data) if nl < 0 else nl + 1
            continue
        if c in b"\t\r\n \x0b\x0c":
            pos += 1
            continue
        start = pos
        while pos < len(data) and data[pos] not in b"\t\r\n \x0c":
            pos += 1
        toks.append(data[start:pos])
    try:
        return (int(toks[0]), int(toks[1]))
    except (IndexError, ValueError):
        return None


def _emf_dims(data: bytes):
    """EMF EMR_HEADER: rclBounds (device px) at offset 8."""
    if len(data) < 24 or data[:4] != b"\x01\x00\x00\x00":
        return None
    l, t, r, b = struct.unpack_from("<4i", data, 8)
    if r >= l and b >= t:
        return (r - l + 1, b - t + 1)
    return None


def _wmf_dims(data: bytes):
    """Placeable WMF (Aldus) header: bbox in logical units at offset 6,
    scaled by the Inch field (units per inch, offset 14 — typically
    1440 twips/inch) to 72-dpi pixels."""
    if data[:4] != b"\xd7\xcd\xc6\x9a" or len(data) < 16:
        return None
    l, t, r, b = struct.unpack_from("<4h", data, 6)
    (inch,) = struct.unpack_from("<H", data, 14)
    if inch <= 0:
        inch = 1440
    if r >= l and b >= t:
        return (round((r - l) * 72 / inch), round((b - t) * 72 / inch))
    return None


_BY_MIME = {
    "image/png": _png_dims,
    "image/gif": _gif_dims,
    "image/bmp": _bmp_dims,
    "image/jpeg": _jpeg_dims,
    "image/tiff": _tiff_dims,
    "image/vnd.adobe.photoshop": _psd_dims,
    "image/webp": _webp_dims,
    "image/x-icon": _ico_dims,
    "image/avif": _heif_dims,
    "image/heic": _heif_dims,
    "image/jxl": _jxl_dims,
    "image/x-portable-bitmap": _pnm_dims,
    "image/x-portable-graymap": _pnm_dims,
    "image/x-portable-pixmap": _pnm_dims,
    "image/x-portable-anymap": _pnm_dims,
    "image/emf": _emf_dims,
    "image/x-emf": _emf_dims,
    "image/wmf": _wmf_dims,
    "image/x-wmf": _wmf_dims,
}

def _webp_exif(data: bytes) -> dict[str, list[str]]:
    """EXIF chunk of an extended WebP (VP8X): the body is the same
    TIFF-structured blob JPEG APP1 carries (optionally with the
    'Exif\\0\\0' prefix), so it feeds the shared IFD walk."""
    pos = 12
    while pos + 8 <= len(data):
        fourcc = data[pos:pos + 4]
        size = int.from_bytes(data[pos + 4:pos + 8], "little")
        if fourcc == b"EXIF":
            body = data[pos + 8:pos + 8 + size]
            if body[:6] == b"Exif\x00\x00":
                body = body[6:]
            return _exif_metadata(body)
        pos += 8 + size + (size & 1)
    return {}


# ---- TrueType 'name' table (reference: font/TrueTypeParser.java —
# title = font name via the sfnt name records)


def _name_table_meta(tbl: bytes) -> dict[str, list[str]]:
    """title/font-family from a standalone sfnt 'name' table."""
    meta: dict[str, list[str]] = {}
    if len(tbl) < 6:
        return meta
    _fmt, count, str_off = struct.unpack_from(">HHH", tbl, 0)
    wanted = {1: "font-family", 4: "title"}
    for i in range(min(count, 128)):
        p = 6 + 12 * i
        if p + 12 > len(tbl):
            break
        plat, _enc, _lang, name_id, ln, off = struct.unpack_from(
            ">HHHHHH", tbl, p)
        key = wanted.get(name_id)
        if key is None or key in meta:
            continue
        raw = tbl[str_off + off:str_off + off + ln]
        val = raw.decode("utf-16-be" if plat in (0, 3) else "latin-1",
                         "replace").strip()
        if val:
            meta[key] = [val]
    return meta


def _ttf_meta(data: bytes) -> dict[str, list[str]]:
    meta: dict[str, list[str]] = {}
    if len(data) < 12 or data[:4] not in (b"\x00\x01\x00\x00", b"true",
                                          b"OTTO"):
        return meta
    (n_tables,) = struct.unpack_from(">H", data, 4)
    for i in range(min(n_tables, 64)):
        p = 12 + 16 * i
        if p + 16 > len(data):
            break
        if data[p:p + 4] == b"name":
            _, off, ln = struct.unpack_from(">III", data, p + 4)
            return _name_table_meta(data[off:off + ln])
    return meta


def _woff_meta(data: bytes) -> dict[str, list[str]]:
    """WOFF 1.0 (reference: font/TrueTypeParser.java reads the
    unpacked sfnt; WOFF wraps each sfnt table with optional zlib):
    locate the 'name' table in the WOFF directory, inflate it if
    compressed, and reuse the sfnt name-record walk. WOFF2 goes
    through _woff2_meta (from-scratch brotli, analysis/woff2.py)."""
    meta: dict[str, list[str]] = {}
    if len(data) < 44 or data[:4] != b"wOFF":
        return meta
    (n_tables,) = struct.unpack_from(">H", data, 12)
    for i in range(min(n_tables, 64)):
        p = 44 + 20 * i
        if p + 20 > len(data):
            break
        if data[p:p + 4] != b"name":
            continue
        off, comp_len, orig_len = struct.unpack_from(">III", data,
                                                     p + 4)
        if orig_len > (1 << 22):            # inflate-bomb guard
            return meta
        raw = data[off:off + comp_len]
        if comp_len < orig_len:
            try:
                raw = zlib.decompress(raw)
            except Exception:
                return meta
        return _name_table_meta(raw[:orig_len])
    return meta


def _woff2_meta(data: bytes) -> dict[str, list[str]]:
    """WOFF2: brotli-decompress the table block (from-scratch codec,
    analysis/brotlicodec.py) and walk the sfnt 'name' records —
    pipeline extension; the reference stops at WOFF2 detection.
    When the font carries glyph outlines the WOFF2 glyf/loca
    geometry transform is reconstructed (analysis/woff2.py
    reconstruct_glyf) and summarized as glyph-count/contour/point/
    bbox keys — absent for name-only fonts, so the metadata surface
    of existing fixtures is unchanged."""
    from tika_spark.analysis.woff2 import (woff2_glyph_stats,
                                           woff2_name_table)
    tbl = woff2_name_table(data)
    meta = _name_table_meta(tbl) if tbl else {}
    try:
        stats = woff2_glyph_stats(data)
    except ValueError:
        stats = None
    if stats:
        meta["font-glyph-count"] = [str(stats["num_glyphs"])]
        meta["font-contour-count"] = [str(stats["n_contours"])]
        meta["font-point-count"] = [str(stats["n_points"])]
        meta["font-composite-count"] = [str(stats["n_composites"])]
        if stats["bbox"]:
            meta["font-bbox"] = [" ".join(str(v)
                                          for v in stats["bbox"])]
    return meta


# ---- FLV header + onMetaData AMF0 scan (reference:
# video/FLVParser.java — hasVideo/hasAudio flags, metadata entries)


def _amf0_value(data: bytes, p: int):
    t = data[p]
    p += 1
    if t == 0:    # number
        return struct.unpack_from(">d", data, p)[0], p + 8
    if t == 1:    # bool
        return bool(data[p]), p + 1
    if t == 2:    # string
        (ln,) = struct.unpack_from(">H", data, p)
        return data[p + 2:p + 2 + ln].decode("utf-8", "replace"), p + 2 + ln
    raise ValueError(f"amf0 type {t}")


def _mkv_meta(data: bytes) -> dict[str, list[str]]:
    """Matroska/WebM: EBML walk (analysis/ebml.py) — doctype,
    duration, per-track codec IDs, video dimensions, audio
    rate/channels."""
    try:
        from tika_spark.analysis.ebml import mkv_info
        info = mkv_info(data)
    except Exception:
        return {}
    meta: dict[str, list[str]] = {}
    if info["doctype"]:
        meta["doctype"] = [info["doctype"]]
    if info["duration_s"] is not None:
        meta["xmpDM:duration"] = [f"{info['duration_s']:.2f}"]
    codecs = sorted({t["codec"] for t in info["tracks"]
                     if "codec" in t})
    if codecs:
        meta["compression-type"] = codecs
    for t in info["tracks"]:
        if "width" in t:
            meta.setdefault("width", [str(t["width"])])
            meta.setdefault("height", [str(t["height"])])
        if "sample_rate" in t:
            meta.setdefault("xmpDM:audioSampleRate",
                            [str(t["sample_rate"])])
            meta.setdefault("channels", [str(t.get("channels", 1))])
    return meta


def _flv_meta(data: bytes) -> dict[str, list[str]]:
    meta: dict[str, list[str]] = {}
    if not data.startswith(b"FLV\x01") or len(data) < 20:
        return meta
    flags = data[4]
    meta["hasVideo"] = [str(bool(flags & 0x01)).lower()]
    meta["hasAudio"] = [str(bool(flags & 0x04)).lower()]
    # first tag after the 9-byte header + 4-byte prev-tag-size
    p = 13
    if p + 11 > len(data) or data[p] != 18:  # script data tag
        return meta
    (size,) = struct.unpack(">I", b"\x00" + data[p + 1:p + 4])
    body = data[p + 11:p + 11 + size]
    try:
        name, q = _amf0_value(body, 0)
        if name != "onMetaData" or q >= len(body) or body[q] != 8:
            return meta
        q += 5  # ECMA array marker + approx count
        while q + 2 < len(body):
            (ln,) = struct.unpack_from(">H", body, q)
            if ln == 0:
                break
            key = body[q + 2:q + 2 + ln].decode("utf-8", "replace")
            val, q = _amf0_value(body, q + 2 + ln)
            if isinstance(val, float) and val.is_integer():
                val = int(val)
            meta[key] = [str(val)]
    except (ValueError, struct.error, IndexError):
        pass
    return meta


# ---- Java class file (reference: asm/ClassParser.java,
# XHTMLClassVisitor.java:81 — title = class name)


def _class_meta(data: bytes) -> dict[str, list[str]]:
    meta: dict[str, list[str]] = {}
    if not data.startswith(b"\xca\xfe\xba\xbe") or len(data) < 12:
        return meta
    minor, major, cp_count = struct.unpack_from(">HHH", data, 4)
    meta["version"] = [f"{major}.{minor}"]
    utf8: dict[int, str] = {}
    classes: dict[int, int] = {}
    p, i = 10, 1
    try:
        while i < cp_count and p < len(data):
            tag = data[p]
            if tag == 1:
                (ln,) = struct.unpack_from(">H", data, p + 1)
                utf8[i] = data[p + 3:p + 3 + ln].decode("utf-8", "replace")
                p += 3 + ln
            elif tag == 7:
                classes[i] = struct.unpack_from(">H", data, p + 1)[0]
                p += 3
            elif tag in (8, 16, 19, 20):
                p += 3
            elif tag == 15:
                p += 4
            elif tag in (3, 4, 9, 10, 11, 12, 17, 18):
                p += 5
            elif tag in (5, 6):   # long/double take two pool slots
                p += 9
                i += 1
            else:
                return meta
            i += 1
        _flags, this_cls = struct.unpack_from(">HH", data, p)
        name = utf8.get(classes.get(this_cls, -1))
        if name:
            meta["title"] = [name.replace("/", ".")]
    except (struct.error, IndexError):
        pass
    return meta


# ---- TIFF / EXIF IFD reader (reference: image/TiffParser.java,
# jpeg/JpegParser.java over the metadata-extractor library; property
# names from tika-core metadata/TIFF.java, Geographic.java)

_TIFF_TAGS = {256: "tiff:ImageWidth", 257: "tiff:ImageLength",
              271: "tiff:Make", 272: "tiff:Model",
              274: "tiff:Orientation", 282: "tiff:XResolution",
              283: "tiff:YResolution", 305: "tiff:Software",
              306: "tiff:DateTime"}
_EXIF_TAGS = {33434: "exif:ExposureTime", 33437: "exif:FNumber",
              36867: "exif:DateTimeOriginal", 37386: "exif:FocalLength",
              34855: "exif:IsoSpeedRatings", 37385: "exif:Flash"}
_EXIF_IFD_PTR = 34665
_GPS_IFD_PTR = 34853

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}


def _ifd_entries(data: bytes, base: int, off: int, bo: str,
                 depth: int = 0) -> dict[int, object]:
    """One IFD -> {tag: value}; values: int, float, str or (num, den)."""
    out: dict[int, object] = {}
    if depth > 4 or base + off + 2 > len(data):
        return out
    (n,) = struct.unpack_from(bo + "H", data, base + off)
    p = base + off + 2
    for _ in range(min(n, 256)):
        if p + 12 > len(data):
            break
        tag, typ, count = struct.unpack_from(bo + "HHI", data, p)
        size = _TYPE_SIZE.get(typ, 0) * count
        if size == 0:
            p += 12
            continue
        if size <= 4:
            vp = p + 8
        else:
            (voff,) = struct.unpack_from(bo + "I", data, p + 8)
            vp = base + voff
        if vp + size > len(data):
            p += 12
            continue
        if typ == 2:      # ASCII
            out[tag] = data[vp:vp + count].split(b"\x00", 1)[0].decode(
                "latin-1", "replace").strip()
        elif typ == 3:
            out[tag] = struct.unpack_from(bo + "H", data, vp)[0]
        elif typ in (4, 9):
            out[tag] = struct.unpack_from(
                bo + ("i" if typ == 9 else "I"), data, vp)[0]
        elif typ in (5, 10):
            num, den = struct.unpack_from(
                bo + ("ii" if typ == 10 else "II"), data, vp)
            out[tag] = (num, den)
            if count > 1 and vp + 8 * count <= len(data):
                out[(tag, "seq")] = [struct.unpack_from(
                    bo + ("ii" if typ == 10 else "II"), data, vp + 8 * i)
                    for i in range(count)]
        p += 12
    return out


def _rat_str(v) -> str:
    if isinstance(v, tuple):
        num, den = v
        if den == 0:
            return str(num)
        f = num / den
        return str(int(f)) if f.is_integer() else f"{f:.6g}"
    return str(v)


def _gps_coord(rats, ref: str) -> str | None:
    try:
        d = rats[0][0] / (rats[0][1] or 1)
        m = rats[1][0] / (rats[1][1] or 1)
        s = rats[2][0] / (rats[2][1] or 1)
        val = d + m / 60 + s / 3600
        if ref in ("S", "W"):
            val = -val
        return f"{val:.6f}"
    except (IndexError, TypeError, ZeroDivisionError):
        return None


def _exif_metadata(data: bytes) -> dict[str, list[str]]:
    """TIFF-header EXIF walk: IFD0 + EXIF sub-IFD + GPS IFD."""
    meta: dict[str, list[str]] = {}
    if data[:4] == b"II*\x00":
        bo = "<"
    elif data[:4] == b"MM\x00*":
        bo = ">"
    else:
        return meta
    try:
        (ifd0_off,) = struct.unpack_from(bo + "I", data, 4)
        ifd0 = _ifd_entries(data, 0, ifd0_off, bo)
        for tag, key in _TIFF_TAGS.items():
            if tag in ifd0:
                meta[key] = [_rat_str(ifd0[tag])]
        if _EXIF_IFD_PTR in ifd0:
            sub = _ifd_entries(data, 0, int(ifd0[_EXIF_IFD_PTR]), bo, 1)
            for tag, key in _EXIF_TAGS.items():
                if tag in sub:
                    meta[key] = [_rat_str(sub[tag])]
        if _GPS_IFD_PTR in ifd0:
            gps = _ifd_entries(data, 0, int(ifd0[_GPS_IFD_PTR]), bo, 1)
            lat = _gps_coord(gps.get((2, "seq"), []), str(gps.get(1, "")))
            lon = _gps_coord(gps.get((4, "seq"), []), str(gps.get(3, "")))
            if lat:
                meta["geo:lat"] = [lat]
            if lon:
                meta["geo:long"] = [lon]
    except (struct.error, ValueError):
        pass
    return meta


def _jpeg_exif(data: bytes) -> dict[str, list[str]]:
    """Find the APP1 "Exif" segment and parse its TIFF payload."""
    i, n = 2, min(len(data), 262144)
    while i + 4 <= n:
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xDA:  # start of scan — no EXIF past here
            break
        seg_len = struct.unpack(">H", data[i + 2:i + 4])[0]
        if marker == 0xE1 and data[i + 4:i + 10] == b"Exif\x00\x00":
            return _exif_metadata(data[i + 10:i + 2 + seg_len])
        i += 2 + seg_len
    return {}

_XMP_SIG = b"http://ns.adobe.com/xap/1.0/\x00"

# XMP property → metadata key (the JempBox set the reference maps in
# image/xmp handling: dc core + xmp:CreatorTool/CreateDate)
_XMP_DC = {"title": "title", "creator": "Author",
           "description": "description", "subject": "subject",
           "rights": "rights"}


def _parse_xmp(packet: bytes) -> dict[str, list[str]]:
    """Dublin Core + xmp: basics out of an RDF/XML packet (lenient:
    any parse failure yields {}). rdf:Alt/Seq/Bag li values are
    flattened in document order."""
    import xml.etree.ElementTree as ET
    try:
        root = ET.fromstring(packet.decode("utf-8", "replace"))
    except ET.ParseError:
        return {}
    out: dict[str, list[str]] = {}
    _DC = "{http://purl.org/dc/elements/1.1/}"
    _XMP = "{http://ns.adobe.com/xap/1.0/}"
    _LI = "{http://www.w3.org/1999/02/22-rdf-syntax-ns#}li"
    for el in root.iter():
        tag = el.tag
        if tag.startswith(_DC) and tag[len(_DC):] in _XMP_DC:
            key = _XMP_DC[tag[len(_DC):]]
            vals = [li.text.strip() for li in el.iter(_LI)
                    if li.text and li.text.strip()]
            if not vals and el.text and el.text.strip():
                vals = [el.text.strip()]
            if vals:
                out.setdefault(key, []).extend(
                    v for v in vals if v not in out.get(key, []))
        elif tag == _XMP + "CreatorTool" and el.text:
            out["xmp:CreatorTool"] = [el.text.strip()]
        elif tag == _XMP + "CreateDate" and el.text:
            out["xmp:CreateDate"] = [el.text.strip()]
    return out


def _jpeg_xmp(data: bytes) -> dict[str, list[str]]:
    """Find the APP1 XMP segment (the JempBox path of the reference's
    JpegParser) and parse its RDF packet."""
    i, n = 2, min(len(data), 262144)
    while i + 4 <= n:
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xDA:
            break
        seg_len = struct.unpack(">H", data[i + 2:i + 4])[0]
        if marker == 0xE1 and data[i + 4:i + 4 + len(_XMP_SIG)] \
                == _XMP_SIG:
            return _parse_xmp(data[i + 4 + len(_XMP_SIG):
                                   i + 2 + seg_len])
        i += 2 + seg_len
    return {}


def _png_xmp(data: bytes) -> dict[str, list[str]]:
    """XMP from a PNG iTXt chunk keyed "XML:com.adobe.xmp"."""
    pos = 8
    n = len(data)
    while pos + 8 <= n:
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        if ctype == b"iTXt":
            body = data[pos + 8:pos + 8 + ln]
            if body.startswith(b"XML:com.adobe.xmp\x00"):
                # keyword NUL | compflag(1) method(1) | lang NUL |
                # translated-keyword NUL | text
                rest = body[len(b"XML:com.adobe.xmp\x00"):]
                if len(rest) > 2 and rest[0] == 0:  # uncompressed
                    parts = rest[2:].split(b"\x00", 2)
                    if len(parts) == 3:
                        return _parse_xmp(parts[2])
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    return {}


# ---- MP3 ID3 tags (reference: tika-parsers/.../mp3/Mp3Parser.java,
# ID3v2Frame.java — an in-repo 1643 LoC frame reader; we cover the
# v1 TAG block and v2 text frames TIT2/TPE1/TALB)

_ID3V2_KEYS = {b"TIT2": "title", b"TPE1": "Author", b"TALB": "album",
               b"TYER": "releaseDate", b"TDRC": "releaseDate",
               b"TCON": "genre"}

# ID3v2.2 frames: 3-byte IDs + 3-byte big-endian sizes
# (reference: mp3/ID3v22Handler.java / ID3v2Frame.java readers)
_ID3V22_KEYS = {b"TT2": "title", b"TP1": "Author", b"TAL": "album",
                b"TYE": "releaseDate", b"TCO": "genre"}

_V2_ENCODINGS = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}


def _syncsafe(b: bytes) -> int:
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def _id3_meta(data: bytes) -> dict[str, list[str]]:
    meta: dict[str, list[str]] = {}
    if data[:3] == b"ID3" and len(data) >= 10:
        ver = data[3]
        size = min(_syncsafe(data[6:10]) + 10, len(data))
        i = 10
        # v2.2 frames are 6-byte headers (3-byte ID, 3-byte BE size);
        # v2.3/2.4 are 10-byte (4-byte ID, 4-byte size — syncsafe
        # from v2.4 on). Parsing a v2.2 tag with the 10-byte layout
        # reads garbage IDs and yields silently-empty metadata.
        hdr = 6 if ver == 2 else 10
        while i + hdr <= size:
            if ver == 2:
                fid = data[i:i + 3]
                flen = int.from_bytes(data[i + 3:i + 6], "big")
                key = _ID3V22_KEYS.get(fid)
            else:
                fid = data[i:i + 4]
                flen = (_syncsafe(data[i + 4:i + 8]) if ver >= 4
                        else int.from_bytes(data[i + 4:i + 8], "big"))
                key = _ID3V2_KEYS.get(fid)
            if not fid.strip(b"\x00"):
                break
            if flen <= 0 or i + hdr + flen > len(data):
                break
            if key:
                body = data[i + hdr:i + hdr + flen]
                enc = _V2_ENCODINGS.get(body[0], "latin-1") if body \
                    else "latin-1"
                val = body[1:].decode(enc, "replace").strip("\x00").strip()
                if val:
                    meta.setdefault(key, []).append(val)
            i += hdr + flen
    if len(data) >= 128 and data[-128:-125] == b"TAG":
        tag = data[-128:]

        def fld(lo, hi):
            return tag[lo:hi].split(b"\x00")[0].decode(
                "latin-1", "replace").strip()
        for key, val in (("title", fld(3, 33)), ("Author", fld(33, 63)),
                         ("album", fld(63, 93)),
                         ("releaseDate", fld(93, 97))):
            if val and key not in meta:
                meta[key] = [val]
    return meta


# ---- audio / science / CAD header metadata (round 2: real header
# parsing for the formats previously surfaced as bare status rows —
# reference parity: mp3/MidiParser.java, audio/AudioParser.java,
# dwg/DWGParser.java, netcdf parser metadata surface)


def _midi_meta(data: bytes) -> dict[str, list[str]]:
    """MThd header: format, track count, division (MidiParser.java
    tracks/division-type semantics)."""
    if data[:4] != b"MThd" or len(data) < 14:
        return {}
    fmt, ntracks, division = struct.unpack(">HHH", data[8:14])
    meta = {"tracks": [str(ntracks)], "midi-format": [str(fmt)]}
    if division & 0x8000:   # SMPTE time
        meta["division-type"] = ["SMPTE"]
    else:
        meta["division-type"] = ["PPQ"]
        meta["ticksPerBeat"] = [str(division)]
    return meta


_MIDI_META_TEXT = {1: "text", 2: "copyright", 3: "trackName",
                   4: "instrument", 5: "lyrics"}


def _midi_text(data: bytes) -> tuple[dict[str, list[str]], str]:
    """Walk MTrk event streams and collect the FF 01-05 meta-event
    text (text/copyright/track-name/instrument/lyrics) — the
    reference's MidiParser emits these as body text (karaoke .kar
    lyrics included). Handles running status and variable-length
    deltas; any malformed track stops that track, never raises."""
    meta: dict[str, list[str]] = {}
    lyric_parts: list[str] = []
    pos = 14
    n = len(data)

    def varlen(p):
        v = 0
        while p < n:
            b = data[p]
            p += 1
            v = (v << 7) | (b & 0x7F)
            if not b & 0x80:
                break
        return v, p

    while pos + 8 <= n:
        if data[pos:pos + 4] != b"MTrk":
            break
        (tlen,) = struct.unpack_from(">I", data, pos + 4)
        p = pos + 8
        end = min(p + tlen, n)
        status = 0
        try:
            while p < end:
                _, p = varlen(p)
                if p >= end:
                    break
                b0 = data[p]
                if b0 >= 0x80:
                    status = b0
                    p += 1
                if status == 0xFF:
                    mtype = data[p]
                    ln, p2 = varlen(p + 1)
                    body = data[p2:p2 + ln]
                    p = p2 + ln
                    key = _MIDI_META_TEXT.get(mtype)
                    if key:
                        raw_val = body.decode("latin-1", "replace")
                        val = raw_val.strip()
                        if val:
                            if key in ("lyrics", "text"):
                                # keep the raw spacing: karaoke lyric
                                # events carry inter-word whitespace
                                lyric_parts.append(raw_val)
                            meta.setdefault(key, []).append(val)
                    if mtype == 0x2F:     # end of track
                        break
                elif status in (0xF0, 0xF7):
                    ln, p2 = varlen(p)
                    p = p2 + ln
                elif 0x80 <= status <= 0xEF:
                    p += 1 if (status & 0xF0) in (0xC0, 0xD0) else 2
                else:
                    break                 # lost sync
        except (IndexError, struct.error):
            pass
        pos += 8 + tlen
    return meta, "".join(lyric_parts)


def _ieee754_extended(b: bytes) -> float:
    """80-bit extended float (AIFF sample rate field)."""
    exp = ((b[0] & 0x7F) << 8) | b[1]
    mant = int.from_bytes(b[2:10], "big")
    if exp == 0 and mant == 0:
        return 0.0
    f = mant / (1 << 63) * 2.0 ** (exp - 16383)
    return -f if b[0] & 0x80 else f


def _aiff_meta(data: bytes) -> dict[str, list[str]]:
    """FORM/AIFF COMM chunk: channels, sample size/rate, duration."""
    if data[:4] != b"FORM" or data[8:12] not in (b"AIFF", b"AIFC"):
        return {}
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        clen = int.from_bytes(data[pos + 4:pos + 8], "big")
        if cid == b"COMM" and clen >= 18:
            ch, frames, bits = struct.unpack(
                ">HIH", data[pos + 8:pos + 16])
            rate = _ieee754_extended(data[pos + 16:pos + 26])
            meta = {"channels": [str(ch)], "bits": [str(bits)],
                    "samplerate": [str(int(rate))]}
            if rate > 0:
                meta["xmpDM:duration"] = [f"{frames / rate:.2f}"]
            return meta
        pos += 8 + clen + (clen & 1)
    return {}


def _au_meta(data: bytes) -> dict[str, list[str]]:
    """Sun .au header: encoding, sample rate, channels."""
    if data[:4] != b".snd" or len(data) < 24:
        return {}
    _off, _size, enc, rate, ch = struct.unpack(">IIIII", data[4:24])
    return {"encoding": [str(enc)], "samplerate": [str(rate)],
            "channels": [str(ch)]}


def _wav_meta(data: bytes) -> dict[str, list[str]]:
    """RIFF/WAVE fmt chunk: channels, rate, bits, duration from the
    data chunk byte length."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return {}
    pos, meta, byterate = 12, {}, 0
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        clen = int.from_bytes(data[pos + 4:pos + 8], "little")
        if cid == b"fmt " and clen >= 16:
            _fmt, ch, rate, byterate, _ba, bits = struct.unpack(
                "<HHIIHH", data[pos + 8:pos + 24])
            meta = {"channels": [str(ch)], "samplerate": [str(rate)],
                    "bits": [str(bits)]}
        elif cid == b"data" and byterate:
            meta["xmpDM:duration"] = [f"{clen / byterate:.2f}"]
            break
        pos += 8 + clen + (clen & 1)
    return meta


def _flac_meta(data: bytes) -> dict[str, list[str]]:
    """fLaC STREAMINFO: sample rate, channels, bits, total samples."""
    if data[:4] != b"fLaC" or len(data) < 42 or (data[4] & 0x7F) != 0:
        return {}
    si = data[8:42]   # STREAMINFO is always first and 34 bytes
    packed = int.from_bytes(si[10:18], "big")
    rate = packed >> 44
    ch = ((packed >> 41) & 0x7) + 1
    bits = ((packed >> 36) & 0x1F) + 1
    total = packed & ((1 << 36) - 1)
    meta = {"samplerate": [str(rate)], "channels": [str(ch)],
            "bits": [str(bits)]}
    if rate and total:
        meta["xmpDM:duration"] = [f"{total / rate:.2f}"]
    return meta


def _ogg_meta(data: bytes) -> dict[str, list[str]]:
    """Ogg stream identification: the full CRC-verified page/packet
    walk (analysis/oggdemux.py — Vorbis/Opus/FLAC/Theora ident
    headers + comment tags) when the container parses, with the old
    first-page Vorbis byte-scan as the lenient fallback for
    truncated captures."""
    try:
        from tika_spark.analysis.oggdemux import ogg_info
        meta: dict[str, list[str]] = {}
        for info in ogg_info(data):
            codec = info["codec"]
            if codec != "unknown":
                meta.setdefault("audioCompressor", []).append(
                    codec.capitalize() if codec != "flac"
                    else "FLAC")
            if "channels" in info:
                meta.setdefault("channels",
                                [str(info["channels"])])
            if "sample_rate" in info:
                meta.setdefault("samplerate",
                                [str(info["sample_rate"])])
            for k, v in info.get("tags", {}).items():
                if k in ("ARTIST", "TITLE", "ALBUM", "DATE"):
                    meta.setdefault(k.lower(), [v])
        if meta:
            return meta
    except Exception:
        pass                                     # fall through
    i = data.find(b"\x01vorbis", 0, 4096)
    if i < 0 or i + 23 > len(data):
        return {}
    ch = data[i + 11]
    rate = int.from_bytes(data[i + 12:i + 16], "little")
    return {"channels": [str(ch)], "samplerate": [str(rate)],
            "audioCompressor": ["Vorbis"]}


def _mp4_meta(data: bytes) -> dict[str, list[str]]:
    """ISO-BMFF: major brand from ftyp; duration/timescale from mvhd
    (top-level box walk, no codec work)."""
    meta: dict[str, list[str]] = {}
    if len(data) > 12 and data[4:8] == b"ftyp":
        meta["major-brand"] = [data[8:12].decode("latin-1").strip()]
    i = data.find(b"mvhd")
    if 0 <= i and i + 28 <= len(data):
        ver = data[i + 4]
        if ver == 0 and i + 24 <= len(data):
            ts = int.from_bytes(data[i + 16:i + 20], "big")
            dur = int.from_bytes(data[i + 20:i + 24], "big")
        elif ver == 1 and i + 36 <= len(data):
            ts = int.from_bytes(data[i + 24:i + 28], "big")
            dur = int.from_bytes(data[i + 28:i + 36], "big")
        else:
            return meta
        if ts:
            meta["xmpDM:duration"] = [f"{dur / ts:.2f}"]
    # sample-table walk (analysis/isobmff.py): codec fourcc per
    # track, audio rate/channels from the esds AudioSpecificConfig
    try:
        from tika_spark.analysis.isobmff import mp4_tracks
        codecs = []
        for track in mp4_tracks(data):
            codecs.append(track["codec"])
            if "sample_rate" in track:
                meta["xmpDM:audioSampleRate"] = [
                    str(track["sample_rate"])]
                meta["channels"] = [str(track["channels"])]
        if codecs:
            meta["compression-type"] = sorted(set(codecs))
    except Exception:
        pass                                     # metadata best-effort
    try:
        from tika_spark.analysis.isobmff import mp4_avc_track
        track, _avcc = mp4_avc_track(data)
        meta["width"] = [str(track["width"])]
        meta["height"] = [str(track["height"])]
    except Exception:
        pass
    return meta


def _netcdf_meta(data: bytes) -> dict[str, list[str]]:
    """NetCDF classic header: record count + dimension names/sizes
    (the metadata surface of the reference's netcdf parser)."""
    if data[:3] != b"CDF" or data[3] not in (1, 2):
        return {}
    # (CDF-2's 64-bit offsets don't change the dim-list layout read here)
    numrecs = int.from_bytes(data[4:8], "big")
    meta = {"numrecs": [str(numrecs)]}
    pos = 8
    tag = int.from_bytes(data[pos:pos + 4], "big")
    ndims = int.from_bytes(data[pos + 4:pos + 8], "big")
    pos += 8
    if tag != 0x0A or ndims > 512:
        return meta
    dims = []
    for _ in range(ndims):
        nlen = int.from_bytes(data[pos:pos + 4], "big")
        pos += 4
        name = data[pos:pos + nlen].decode("utf-8", "replace")
        pos += (nlen + 3) & ~3
        size = int.from_bytes(data[pos:pos + 4], "big")
        pos += 4
        if pos > len(data):
            break
        dims.append(f"{name}={size if size else 'UNLIMITED'}")
    if dims:
        meta["dimensions"] = dims
    return meta


def _dwg_meta(data: bytes) -> dict[str, list[str]]:
    """AutoCAD release from the AC10xx signature
    (DWGParser.java version map)."""
    versions = {b"AC1012": "R13", b"AC1014": "R14", b"AC1015": "2000",
                b"AC1018": "2004", b"AC1021": "2007", b"AC1024": "2010",
                b"AC1027": "2013", b"AC1032": "2018"}
    v = versions.get(data[:6])
    return {"dwg-version": [v]} if v else {}


def _swf_meta(data: bytes) -> dict[str, list[str]]:
    """SWF header: version, uncompressed length, stage dimensions from
    the variable-width RECT (twips/20 = px); FWS plain, CWS zlib."""
    if len(data) < 9 or data[:3] not in (b"FWS", b"CWS", b"ZWS"):
        return {}
    meta = {"swf-version": [str(data[3])],
            "uncompressed-length":
                [str(int.from_bytes(data[4:8], "little"))]}
    body = data[8:]
    if data[:3] == b"CWS":
        import zlib
        try:
            body = zlib.decompressobj().decompress(data[8:], 64)
        except Exception:
            return meta
    elif data[:3] == b"ZWS":   # LZMA framing — skip dims
        return meta
    if len(body) >= 9:
        nbits = body[0] >> 3
        bits = int.from_bytes(body[:1 + (5 + 4 * nbits + 7) // 8],
                              "big")
        total = len(body[:1 + (5 + 4 * nbits + 7) // 8]) * 8

        def field(i):
            shift = total - 5 - nbits * (i + 1)
            return (bits >> shift) & ((1 << nbits) - 1)
        if nbits:
            meta["width"] = [str((field(1) - field(0)) // 20)]
            meta["height"] = [str((field(3) - field(2)) // 20)]
    return meta


def _hdf_meta(data: bytes) -> dict[str, list[str]]:
    """HDF5 superblock version / HDF4 magic (the metadata surface of
    the reference's hdf parser)."""
    if data[:8] == b"\x89HDF\r\n\x1a\n" and len(data) > 8:
        return {"hdf-version": ["5"],
                "superblock-version": [str(data[8])]}
    if data[:4] == b"\x0e\x03\x13\x01":
        return {"hdf-version": ["4"]}
    return {}


def _adts_meta(data: bytes) -> dict[str, list[str]]:
    """ADTS AAC: sample rate, channels, frame count → duration
    (1024 samples per raw data block)."""
    from tika_spark.analysis.aaccodec import parse_adts_header
    pos = 0
    first = None
    n_blocks = 0
    while pos + 7 <= len(data):
        hdr = parse_adts_header(data, pos)
        if hdr is None:
            if first is None:
                pos += 1
                continue
            break
        if first is None:
            first = hdr
        n_blocks += hdr["n_blocks"]
        pos += hdr["frame_length"]
    if first is None:
        return {}
    meta = {"samplerate": [str(first["rate"])],
            "channels": [str(first["channel_config"])]}
    if n_blocks:
        meta["xmpDM:duration"] = [
            f"{n_blocks * 1024 / first['rate']:.2f}"]
    return meta


def _mpeg1v_meta(data: bytes) -> dict[str, list[str]]:
    """MPEG-1/2 video: dimensions from the sequence header,
    duration from the picture count at the header's frame rate.
    Program streams (00 00 01 BA) are demuxed down to the video
    elementary stream first (mpegvideo.ps_video_es handles both the
    ISO 11172-1 and 13818-1 pack/PES shapes)."""
    if data[:4] == b"\x00\x00\x01\xba":
        try:
            from tika_spark.analysis.mpegvideo import ps_video_es
            data = ps_video_es(data)
        except ValueError:
            return {}
    elif data[:1] == b"\x47" and data[188:189] == b"\x47":
        try:
            from tika_spark.analysis.mpegts import ts_video_es
            data = ts_video_es(data)
        except ValueError:
            return {}
    if data[:4] != b"\x00\x00\x01\xb3":
        # H.264 elementary stream (TS stream_type 0x1B): dimensions
        # from the SPS
        try:
            from tika_spark.analysis.h264 import (parse_sps,
                                                  rbsp_unescape,
                                                  split_annexb)
            for nal in split_annexb(data):
                if nal and nal[0] & 0x1F == 7:
                    sps = parse_sps(rbsp_unescape(nal[1:]))
                    return {"width": [str(sps["width"])],
                            "height": [str(sps["height"])],
                            "compression-type": ["avc1"]}
        except Exception:
            pass
        return {}
    if len(data) < 8:
        return {}
    w = (data[4] << 4) | (data[5] >> 4)
    h = ((data[5] & 0x0F) << 8) | data[6]
    fps_code = data[7] & 0x0F
    fps = {1: 24000 / 1001, 2: 24.0, 3: 25.0, 4: 30000 / 1001,
           5: 30.0, 6: 50.0, 7: 60000 / 1001, 8: 60.0}.get(fps_code)
    meta = {"width": [str(w)], "height": [str(h)]}
    n = data.count(b"\x00\x00\x01\x00")
    if n and fps:
        meta["xmpDM:duration"] = [f"{n / fps:.2f}"]
    return meta


# ASF top-level object GUIDs (little-endian on-disk form; [MS-ASF])
_ASF_HEADER = bytes.fromhex("3026b2758e66cf11a6d900aa0062ce6c")
_ASF_CONTENT = bytes.fromhex("3326b2758e66cf11a6d900aa0062ce6c")
_ASF_FILEPROPS = bytes.fromhex("a1dcab8c47a9cf118ee400c00c205365")
_ASF_EXTCONTENT = bytes.fromhex("40a4d0d207e3d21197f000a0c95ea850")
_ASF_STREAMPROPS = bytes.fromhex("9107dcb7b7a9cf118ee600c00c205365")
_ASF_AUDIO_MEDIA = bytes.fromhex("409e69f84d5bcf11a8fd00805f5c442b")
_ASF_VIDEO_MEDIA = bytes.fromhex("c0ef19bc4d5bcf11a8fd00805f5c442b")


def _asf_u16str(raw: bytes) -> str:
    return raw.decode("utf-16-le", "replace").rstrip("\x00")


def _asf_meta(data: bytes) -> dict[str, list[str]]:
    """WMA/WMV (ASF container) metadata: Content Description
    (title/author/copyright/description), Extended Content
    Description WM/* attributes, File Properties duration
    (play duration minus preroll), stream media kinds. Reference has
    NO ASF parser (the corpus's testASF/WMA/WMV sit in its unparsed
    tail) — this is a pipeline extension."""
    out: dict[str, list[str]] = {}
    if data[:16] != _ASF_HEADER or len(data) < 30:
        return out
    (n_obj,) = struct.unpack_from("<I", data, 24)
    pos = 30
    kinds: list[str] = []
    for _ in range(min(n_obj, 64)):
        if pos + 24 > len(data):
            break
        g = data[pos:pos + 16]
        (osz,) = struct.unpack_from("<Q", data, pos + 16)
        if osz < 24 or pos + osz > len(data):
            break
        body = data[pos + 24:pos + osz]
        if g == _ASF_CONTENT and len(body) >= 10:
            lens = struct.unpack_from("<5H", body, 0)
            p = 10
            for key, ln in zip(("title", "Author", "copyright",
                                "description"), lens[:4]):
                val = _asf_u16str(body[p:p + ln])
                p += ln
                if val:
                    out[key] = [val]
        elif g == _ASF_FILEPROPS and len(body) >= 64:
            (play,) = struct.unpack_from("<Q", body, 40)
            (preroll,) = struct.unpack_from("<Q", body, 56)
            dur_ms = play // 10_000 - preroll
            if 0 < dur_ms < 1 << 40:
                out["xmpDM:duration"] = [str(dur_ms)]
        elif g == _ASF_EXTCONTENT and len(body) >= 2:
            (cnt,) = struct.unpack_from("<H", body, 0)
            p = 2
            for _i in range(min(cnt, 64)):
                if p + 2 > len(body):
                    break
                (nlen,) = struct.unpack_from("<H", body, p)
                p += 2
                name = _asf_u16str(body[p:p + nlen])
                p += nlen
                if p + 4 > len(body):
                    break
                vtype, vlen = struct.unpack_from("<HH", body, p)
                p += 4
                raw = body[p:p + vlen]
                p += vlen
                if vtype == 0 and name.startswith("WM/"):
                    val = _asf_u16str(raw)
                    if val:
                        out[name] = [val]
        elif g == _ASF_STREAMPROPS and len(body) >= 16:
            st = body[:16]
            if st == _ASF_AUDIO_MEDIA:
                kinds.append("audio")
            elif st == _ASF_VIDEO_MEDIA:
                kinds.append("video")
        pos += osz
    if kinds:
        out["asf:streams"] = [",".join(sorted(set(kinds)))]
    return out


def _afm_meta(data: bytes) -> dict[str, list[str]]:
    """Adobe Font Metrics (a line-oriented text format): font
    identity keys from the header section. The reference (~1.0) has
    no AFM parser; later Tika ships AdobeFontMetricParser with these
    same fields."""
    out: dict[str, list[str]] = {}
    if not data.startswith(b"StartFontMetrics"):
        return out
    keymap = {"FontName": "font:FontName",
              "FullName": "title",
              "FamilyName": "font:FamilyName",
              "Weight": "font:Weight",
              "Version": "font:Version",
              "Notice": "font:Notice",
              "EncodingScheme": "font:EncodingScheme"}
    for line in data[:65536].splitlines()[:200]:
        try:
            text = line.decode("latin-1").strip()
        except Exception:
            continue
        if text.startswith("StartCharMetrics"):
            break
        head, _, rest = text.partition(" ")
        key = keymap.get(head)
        if key and rest.strip():
            out.setdefault(key, []).append(rest.strip())
    return out


_META_BY_MIME = {
    "audio/x-aac": _adts_meta,
    "audio/aac": _adts_meta,
    "video/mpeg": _mpeg1v_meta,
    "video/mp2t": _mpeg1v_meta,
    "video/webm": _mkv_meta,
    "video/x-matroska": _mkv_meta,
    "audio/midi": _midi_meta,
    "audio/x-aiff": _aiff_meta,
    "audio/basic": _au_meta,
    "audio/x-wav": _wav_meta,
    "audio/x-flac": _flac_meta,
    "audio/ogg": _ogg_meta,
    "video/ogg": _ogg_meta,
    "application/ogg": _ogg_meta,
    "video/mp4": _mp4_meta,
    "audio/mp4": _mp4_meta,
    "video/quicktime": _mp4_meta,
    "application/x-netcdf": _netcdf_meta,
    "application/x-hdf": _hdf_meta,
    "image/vnd.dwg": _dwg_meta,
    "application/x-shockwave-flash": _swf_meta,
    "application/x-font-adobe-metric": _afm_meta,
    "video/x-ms-asf": _asf_meta,
    "audio/x-ms-wma": _asf_meta,
    "video/x-ms-wmv": _asf_meta,
}


def extract_media(data: bytes, url: str | None = None,
                  declared_type: str | None = None,
                  config: ExtractConfig = _DEFAULT,
                  mime: str = "") -> dict:
    """Metadata-only row: dimensions + format, empty text."""
    data = bytes(data or b"")
    metadata: dict[str, list[str]] = {"Content-Type": [mime or
                                                       "application/"
                                                       "octet-stream"]}
    dims = None
    title = None
    if mime == "image/tiff":
        # one EXIF IFD walk serves both the metadata and the dims
        # (going through _BY_MIME's _tiff_dims would walk it twice)
        try:
            exif = _exif_metadata(data)
            metadata.update(exif)
            if "tiff:ImageWidth" in exif and "tiff:ImageLength" in exif:
                dims = (int(exif["tiff:ImageWidth"][0]),
                        int(exif["tiff:ImageLength"][0]))
        except Exception:
            pass
        if dims is None:
            # the full IFD walk can fail (or lack the dimension tags)
            # on files the dims-only header scan still handles
            try:
                dims = _tiff_dims_raw(data)
            except Exception:
                dims = None
    else:
        fn = _BY_MIME.get(mime)
        if fn is not None:
            try:
                dims = fn(data)
            except Exception:
                dims = None
    if dims:
        metadata["width"] = [str(dims[0])]
        metadata["height"] = [str(dims[1])]
    if mime == "image/jpeg":
        try:
            metadata.update(_jpeg_exif(data))
        except Exception:
            pass
        try:
            metadata.update(_jpeg_xmp(data))
        except Exception:
            pass
    elif mime == "image/png":
        try:
            metadata.update(_png_xmp(data))
        except Exception:
            pass
    elif mime == "image/webp":
        try:
            metadata.update(_webp_exif(data))
        except Exception:
            pass
    if mime == "audio/mpeg":
        try:
            metadata.update(_id3_meta(data))
            title = metadata.get("title", [None])[0]
        except Exception:
            pass
    elif mime in ("application/x-font-ttf", "font/woff",
                  "font/woff2", "video/x-flv",
                  "application/java-vm"):
        fn2 = {"application/x-font-ttf": _ttf_meta,
               "font/woff": _woff_meta,
               "font/woff2": _woff2_meta,
               "video/x-flv": _flv_meta,
               "application/java-vm": _class_meta}[mime]
        try:
            metadata.update(fn2(data))
            title = metadata.get("title", [None])[0]
        except Exception:
            pass
    elif mime in _META_BY_MIME:
        try:
            metadata.update(_META_BY_MIME[mime](data))
        except Exception:
            pass
    text = ""
    if mime == "audio/midi" and data[:4] == b"MThd":
        # MidiParser.java emits meta-event text as body content
        try:
            mmeta, text = _midi_text(data)
            metadata.update(mmeta)
            if title is None and "trackName" in mmeta:
                title = mmeta["trackName"][0]
        except Exception:
            pass
    return {
        "charset": None,
        "title": title,
        "text": text,
        "spans": [],
        "links": [],
        "metadata": metadata,
        "status": "ok",
    }
