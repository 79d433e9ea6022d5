"""The output guard at the ``process_batch`` dispatch: every route's
text is cut to max(1M, 100x input bytes) chars (SecureContentHandler)
and then to the write limit (WriteOutContentHandler) in one place, with
the row's status flagged and every span kept inside the cut text."""

import io
import zipfile

import pandas as pd
import pytest

from tika_spark.config import ExtractConfig
from tika_spark.pipeline.stages import process_batch, route_for_mime

W = 40
LINE = "the quick brown fox jumps over the lazy dog"
PARA = " ".join([LINE] * 3)


def _zip(entries: dict[str, str]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, payload in entries.items():
            zf.writestr(name, payload)
    return buf.getvalue()


_MAIL = ("From: Alice <alice@example.com>\r\nSubject: Notes\r\n"
         "Content-Type: text/plain; charset=utf-8\r\n\r\n"
         f"{PARA}\n{PARA}\n")
_DC = 'xmlns:dc="http://purl.org/dc/elements/1.1/"'
_OFFICE = 'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"'

# test id -> (route, url, payload); every text is longer than W chars
DOCS = {
    "html": ("html", "http://e.com/a.html",
             f"<html><body><p>{PARA}</p><p>{PARA}</p></body></html>"),
    "txt": ("txt", "http://e.com/a.txt", f"{PARA}\n{PARA}\n"),
    "xml": ("xml", "http://e.com/a.xml",
            f'<?xml version="1.0"?><doc><p>{PARA}</p><p>{PARA}</p></doc>'),
    "feed": ("feed", "http://e.com/a.rss",
             '<?xml version="1.0"?><rss version="2.0"><channel>'
             f"<title>Chan</title><description>{PARA}</description>"
             f"<item><title>{LINE}</title><link>http://x/1</link>"
             f"<description>{PARA}</description></item>"
             "</channel></rss>"),
    "rtf": ("rtf", "http://e.com/a.rtf",
            f"{{\\rtf1\\ansi {PARA}\\par {PARA}\\par}}"),
    "rfc822": ("rfc822", "http://e.com/a.eml", _MAIL),
    "mbox": ("mbox", "http://e.com/a.mbox",
             "".join(f"From alice Mon Aug 10 10:00:00 2026\n{_MAIL}\n"
                     for _ in range(5))),
    "docx": ("ooxml", "http://e.com/a.docx", _zip({
        "[Content_Types].xml": "<Types/>",
        "word/document.xml":
            '<w:document xmlns:w="http://schemas.openxmlformats.org/'
            'wordprocessingml/2006/main"><w:body>'
            f"<w:p><w:r><w:t>{PARA}</w:t></w:r></w:p>"
            f"<w:p><w:r><w:t>{PARA}</w:t></w:r></w:p>"
            "</w:body></w:document>"})),
    "odt": ("odf", "http://e.com/a.odt", _zip({
        "mimetype": "application/vnd.oasis.opendocument.text",
        "content.xml":
            f"<office:document-content {_OFFICE} "
            'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
            f"<office:body><office:text><text:p>{PARA}</text:p>"
            f"<text:p>{PARA}</text:p></office:text></office:body>"
            "</office:document-content>"})),
    "epub": ("epub", "http://e.com/a.epub", _zip({
        "mimetype": "application/epub+zip",
        "content.opf": f"<package {_DC}><metadata><dc:title>Book"
                       "</dc:title></metadata></package>",
        # chapter one alone is longer than W: chapter two's spans start
        # past the cut and must be dropped
        "ch1.xhtml": f"<html><body><p>{PARA}</p></body></html>",
        "ch2.xhtml": f"<html><body><p>{PARA}</p></body></html>"})),
    "xps": ("xps", "http://e.com/a.xps", _zip({
        "FixedDocSeq.fdseq":
            '<FixedDocumentSequence xmlns="http://schemas.microsoft.com/'
            'xps/2005/06"><DocumentReference Source="/Documents/1/'
            'FixedDoc.fdoc"/></FixedDocumentSequence>',
        "Documents/1/Pages/1.fpage":
            '<FixedPage xmlns="http://schemas.microsoft.com/xps/2005/06">'
            f'<Glyphs UnicodeString="{PARA}"/>'
            f'<Glyphs UnicodeString="{PARA}"/></FixedPage>'})),
    "subtitle": ("subtitle", "http://e.com/a.srt",
                 f"1\n00:00:01,000 --> 00:00:03,000\n{PARA}\n\n"
                 f"2\n00:00:04,000 --> 00:00:06,000\n{PARA}\n"),
}


def _run(url: str, payload, config: ExtractConfig):
    if isinstance(payload, str):
        payload = payload.encode()
    pdf = pd.DataFrame({"url": [url], "html": [payload]})
    return process_batch(pdf, config, 0).iloc[0]


def _spans_inside(row) -> bool:
    return all(0 <= s["start"] < len(row.text)
               and s["start"] <= s["end"] <= len(row.text)
               for s in row.spans)


@pytest.mark.parametrize("doc", sorted(DOCS))
def test_write_limit_cuts_every_text_route(doc):
    route, url, payload = DOCS[doc]
    full = _run(url, payload, ExtractConfig())
    assert route_for_mime(full.mime) == route
    assert full.status == "ok" and len(full.text) > W

    row = _run(url, payload, ExtractConfig(write_limit=W))
    assert row.status == "write_limit"
    assert row.text == full.text[:W]
    assert _spans_inside(row)


def test_ratio_guard_on_archive_entry_names():
    # a 7z whose LZMA-encoded header holds 1.2M chars of entry names:
    # the package route, which has no text cap of its own, is cut at
    # max(1M, 100x input bytes) chars
    from tika_spark.fixtures.sevenzgen import make_7z
    names = [f"d{i:04d}/" + "n" * 2000 for i in range(600)]
    blob = make_7z([(n, b"") for n in names], encoded_header=True)
    assert len(blob) < 10_000
    row = _run("http://e.com/names.7z", blob, ExtractConfig())
    assert route_for_mime(row.mime) == "pkg"
    assert row.status == "output_limit"
    assert len(row.text) == 1_000_000
    assert row.text == "".join(n + "\n" for n in names)[:1_000_000]
    assert _spans_inside(row)
