"""Engine-wide constants and configuration.

The robustness limits mirror the reference's hard-won defaults so the
engine is safe against adversarial pages (zip bombs, HTML bombs):

- detection reads at most ``MAGIC_PREFIX`` bytes
  (reference: tika-core/.../mime/MimeTypes.java:465-469)
- text-vs-binary sniff reads at most ``TEXT_SNIFF_PREFIX`` bytes
  (reference: tika-core/.../detect/TextDetector.java:48)
- statistical charset detection reads at most ``CHARSET_PREFIX`` bytes
  (reference: tika-parsers/.../txt/CharsetDetector.java:97)
- output chars <= max(OUTPUT_MIN_CHARS, OUTPUT_RATIO * input bytes)
  (reference: tika-core/.../sax/SecureContentHandler.java:65-80)
- an optional write limit of ``ExtractConfig.write_limit`` chars
  (reference: tika-core/.../sax/WriteOutContentHandler.java:110-146)

Both output limits are applied once, to every route, where
``pipeline.stages.process_batch`` dispatches a document to its
extractor, as the reference wraps every parser in the same two
content-handler decorators; extractors do not cut their own text.
The archive and table walks (pkg, sqlite, dbf) also stop reading
members and rows at ``output_limit``, which bounds their work.
"""

from __future__ import annotations

from dataclasses import dataclass

MAGIC_PREFIX = 65536  # MimeTypes.getMinLength() — covers ISO9660's
#                       CD001 volume descriptor at offset 32769
TEXT_SNIFF_PREFIX = 512
CHARSET_PREFIX = 8000
META_CHARSET_PREFIX = 8192  # HtmlParser.java:60 — meta-charset regex window

OUTPUT_MIN_CHARS = 1_000_000
OUTPUT_RATIO = 100            # output chars <= max(1MB, 100x input bytes)
# Input-side truncate-and-flag cap (BENCH/SKEW.md giant-page
# residual): a single page larger than this never reaches a parser in
# full, so no task can be pinned for minutes by one adversarial
# payload.  Prefix-parseable routes (html, plain text) parse the
# capped prefix and the row is flagged ``status='input_capped'``;
# opaque binary routes become a metadata-only capped row.  0 disables.
MAX_INPUT_BYTES = 64 << 20
MAX_XML_DEPTH = 100
MAX_EMBED_DEPTH = 10
WRITE_LIMIT = 100_000         # parseToString default cap

DEFAULT_CHARSET = "windows-1252"

# Size-bucket boundaries (bytes) for skew-defusing repartitioning —
# pages are bucketed by len(html) so a partition never mixes many giant
# pages with tiny ones (SURVEY.md §4 O9).
SIZE_BUCKET_BOUNDS = [4_096, 65_536, 1_048_576, 8_388_608]


def output_limit(n_bytes: int) -> int:
    """Most output chars an input of ``n_bytes`` may yield."""
    return max(OUTPUT_MIN_CHARS, OUTPUT_RATIO * max(1, n_bytes))


@dataclass(frozen=True)
class ExtractConfig:
    """Processing options — the ParseContext analog.

    (reference: tika-core/.../parser/ParseContext.java:23-42)
    """

    # 'text' (-t) | 'text-main' (-T) | 'metadata' (-m) | 'xhtml' (-x)
    # | 'detect' (-d, type census only — no parse, no language id)
    # | 'language' (-l, identified language as the output text)
    # | 'xmp' (-y, metadata map serialized as an XMP packet)
    mode: str = "text"
    # 0 = unlimited (the CLI -t/-T modes); WRITE_LIMIT mirrors the
    # parseToString facade default for callers who want it
    write_limit: int = 0
    # input-side byte cap (truncate-and-flag); 0 = unlimited
    max_input_bytes: int = MAX_INPUT_BYTES
