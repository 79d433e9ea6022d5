"""Main-content (boilerplate) block classification.

From-scratch implementation of the published Boilerpipe algorithm
(Kohlschütter, Fankhauser, Nejdl: "Boilerplate Detection using Shallow
Text Features", WSDM 2010) as used by the reference's ``-T`` /
text-main mode (tika-parsers/.../html/BoilerpipeContentHandler.java,
DefaultExtractor pipeline):

1. segment the body DOM into text blocks at block-level tags, counting
   words and anchor-text words per block (empty blocks are dropped but
   still advance the block offset counter);
2. per block: text density (words per 80-column wrapped line, trailing
   partial line excluded) and link density (anchor words / words);
3. SimpleBlockFusion — merge consecutive blocks of equal text density;
4. NumWordsRulesClassifier — the published word-count decision tree
   over (prev, curr, next) marks each block CONTENT/BOILERPLATE.

``block_proximity_fusion`` and ``density_rules_classify`` implement
the other two published pipeline pieces (the DefaultExtractor
variant) as composable building blocks; the default pipeline
(:func:`classify_blocks`) deliberately classifies un-fused blocks —
see its docstring.

The text-main output mirrors BoilerpipeContentHandler's emission: one
paragraph per content block, newline-terminated.

Like the reference's ``-T`` mode, which tees one SAX stream into
BoilerpipeContentHandler and LinkContentHandler, the segmenter walk also
feeds a ``layout.LinkCollector``: text-main and text-main-justext walk
each body once, and their links equal text mode's.
"""

from __future__ import annotations

import re

from tika_spark.html.dom import El
from tika_spark.html.layout import LINK_TAGS, LinkCollector
from tika_spark.html.mapper import DISCARD_ELEMENTS

# tags that delimit text blocks (block-level vocabulary; inline tags
# like a/b/i/span flow into the current block)
BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 div ul ol dl li dt dd pre blockquote address "
    "fieldset table form noscript tr td th caption hr br center article "
    "section aside nav header footer figure figcaption frameset frame "
    "title option select".split())

# a word is a token containing an alphanumeric (boilerpipe's
# UnicodeTokenizer word/non-word distinction): this matches a non-word
# token of a space-joined token run, with the space before it
# ([^\w ]|_ is every non-space char str.isalnum() rejects)
_NON_WORD_RE = re.compile(r" (?:[^\w ]|_)++(?![^ ])")
_MAX_LINE = 80
# one wrapped line of a space-joined word run: the longest prefix of
# whole words at most _MAX_LINE chars long, or a single longer word
_LINE_RE = re.compile(r"[^ ].{0,%d}(?= |\Z)|[^ ]+" % (_MAX_LINE - 1),
                      re.S)


def _words(text: str) -> tuple[int, str]:
    """(word count, the words joined by single spaces) of ``text``, a
    non-empty token run joined by single spaces: regex passes instead of
    a test per token."""
    spaced = " " + text
    non_words = len(_NON_WORD_RE.findall(spaced))
    if not non_words:
        return text.count(" ") + 1, text
    return text.count(" ") + 1 - non_words, _NON_WORD_RE.sub("", spaced)[1:]


class TextBlock:
    __slots__ = ("pieces", "num_words", "anchor_words", "offset_start",
                 "offset_end", "wrapped_words", "wrapped_lines",
                 "is_content", "tag")

    def __init__(self, text, num_words, anchor_words, offset, tag="",
                 words=None):
        """``words``: the block's word tokens joined by single spaces
        (the segmenter has it at hand); None derives it from ``text``."""
        # text kept as a piece list so merge_next is O(1): a giant page
        # fusing hundreds of equal-density blocks must not go quadratic
        # on string concatenation (measured 3 s/2000 docs before)
        self.pieces = [text]
        self.num_words = num_words
        self.anchor_words = anchor_words
        self.offset_start = offset
        self.offset_end = offset
        self.tag = tag
        self.is_content = False
        if words is None:
            words = " ".join(text.split())
            words = _words(words)[1] if words else ""
        self._compute_wrap(words)

    @property
    def text(self) -> str:
        if len(self.pieces) > 1:
            self.pieces = ["\n".join(self.pieces)]
        return self.pieces[0]

    def _compute_wrap(self, words: str):
        """Wrap the words greedily at _MAX_LINE columns. Only word
        tokens count (the published flushBlock skips non-word tokens),
        and a first word longer than a line counts a line break before
        it, as the published per-word loop does."""
        if len(words) <= _MAX_LINE:   # one line
            self.wrapped_words = self.num_words
            self.wrapped_lines = 1
            return
        lines = _LINE_RE.findall(words)
        self.wrapped_lines = len(lines) - 1 + (len(lines[0]) > _MAX_LINE)
        self.wrapped_words = self.num_words - lines[-1].count(" ") - 1

    @property
    def text_density(self) -> float:
        return self.wrapped_words / self.wrapped_lines if self.wrapped_lines else 0.0

    @property
    def link_density(self) -> float:
        return self.anchor_words / self.num_words if self.num_words else 0.0

    def merge_next(self, other: "TextBlock"):
        self.pieces.extend(other.pieces)
        self.num_words += other.num_words
        self.anchor_words += other.anchor_words
        self.wrapped_words += other.wrapped_words
        self.wrapped_lines += other.wrapped_lines
        self.offset_end = other.offset_end
        self.is_content = self.is_content or other.is_content


class _Segmenter:
    """DOM walk -> list of TextBlock (BoilerpipeHTMLContentHandler
    analog); the same walk feeds the page's links to ``links``."""

    def __init__(self, links: LinkCollector):
        self.blocks: list[TextBlock] = []
        self.offset = 0
        self.links = links
        self._pieces: list[str] = []
        self._anchor_depth = 0
        self._anchor_pieces: list[str] = []
        self._block_tag = ""

    def _flush(self):
        if not self._pieces:
            return  # nothing buffered (consecutive block tags) — skip
        #           the split/join work entirely; ~half of all flushes
        # str.split() splits/strips on the same Unicode whitespace set
        # re's \s matches, so one split replaces sub+strip+re-split
        text = " ".join("".join(self._pieces).split())
        self._pieces.clear()
        num_words, words = _words(text) if text else (0, "")
        if num_words == 0:
            self._anchor_pieces.clear()
            if text:
                # tokens but no words (separators, bullets): consumes
                # an offset slot without storing a block -> creates the
                # gaps that keep unrelated regions from proximity-fusing
                self.offset += 1
            return
        anchor_words = 0
        if self._anchor_pieces:
            anchor_text = " ".join("".join(self._anchor_pieces).split())
            self._anchor_pieces.clear()
            if anchor_text:
                anchor_words = _words(anchor_text)[0]
        self.blocks.append(TextBlock(text, num_words,
                                     min(anchor_words, num_words),
                                     self.offset, self._block_tag, words))
        self.offset += 1

    def walk(self, node):
        if isinstance(node, str):
            self._pieces.append(node)
            if self._anchor_depth:
                self._anchor_pieces.append(node)
            self.links.text(node)
            return
        tag = node.tag
        if tag in DISCARD_ELEMENTS:
            return
        is_block = tag in BLOCK_TAGS
        if is_block:
            self._flush()
            self._block_tag = tag
        # every <a> counts anchor words; only one with an href is a link
        is_anchor = tag == "a"
        if is_anchor:
            self._anchor_depth += 1
        opened = tag in LINK_TAGS and self.links.enter(node)
        for child in node.children:
            self.walk(child)
        if opened:
            self.links.leave()
        if is_anchor:
            self._anchor_depth -= 1
            self._anchor_pieces.append(" ")  # word boundary between anchors
        if is_block:
            self._flush()


def segment_blocks(body: El,
                   links: LinkCollector | None = None) -> list[TextBlock]:
    """Text blocks of a body DOM; ``links``, when given, collects the
    page's links in the same walk."""
    seg = _Segmenter(links or LinkCollector(None))
    for child in body.children:
        seg.walk(child)
    seg._flush()
    return seg.blocks


# --- DefaultExtractor pipeline --------------------------------------------


def simple_block_fusion(blocks: list[TextBlock]) -> list[TextBlock]:
    """Merge consecutive blocks with equal text density."""
    if not blocks:
        return blocks
    out = [blocks[0]]
    for b in blocks[1:]:
        if out[-1].text_density == b.text_density:
            out[-1].merge_next(b)
        else:
            out.append(b)
    return out


def block_proximity_fusion(blocks: list[TextBlock],
                           max_distance: int = 1) -> list[TextBlock]:
    """Merge blocks whose offset gap <= max_distance (no empty block
    between them)."""
    if not blocks:
        return blocks
    out = [blocks[0]]
    for b in blocks[1:]:
        if b.offset_start - out[-1].offset_end <= max_distance:
            out[-1].merge_next(b)
        else:
            out.append(b)
    return out


def density_rules_classify(blocks: list[TextBlock]) -> None:
    """The published density decision tree (WSDM 2010, fig. 10 analog).

    Marks ``is_content`` per block using (prev, curr, next) features.
    """
    empty = TextBlock("", 0, 0, -10)
    n = len(blocks)
    for i, curr in enumerate(blocks):
        prev = blocks[i - 1] if i > 0 else empty
        nxt = blocks[i + 1] if i < n - 1 else empty
        if curr.link_density <= 0.333333:
            if prev.link_density <= 0.555556:
                if curr.text_density <= 9:
                    if nxt.text_density <= 10:
                        curr.is_content = prev.text_density > 4
                    else:
                        curr.is_content = True
                else:
                    curr.is_content = nxt.text_density != 0
            else:
                curr.is_content = nxt.text_density > 11
        else:
            curr.is_content = False


def num_words_rules_classify(blocks: list[TextBlock]) -> None:
    """The published word-count decision tree (NumWordsRulesClassifier)."""
    empty = TextBlock("", 0, 0, -10)
    n = len(blocks)
    for i, curr in enumerate(blocks):
        prev = blocks[i - 1] if i > 0 else empty
        nxt = blocks[i + 1] if i < n - 1 else empty
        if curr.link_density <= 0.333333:
            if prev.link_density <= 0.555556:
                if curr.num_words <= 16:
                    if nxt.num_words <= 15:
                        curr.is_content = prev.num_words > 4
                    else:
                        curr.is_content = True
                else:
                    curr.is_content = True
            else:
                if curr.num_words <= 40:
                    curr.is_content = nxt.num_words > 17
                else:
                    curr.is_content = True
        else:
            curr.is_content = False


def classify_blocks(body: El, links: LinkCollector | None = None
                    ) -> list[TextBlock]:
    """Default pipeline over a body DOM: segment → SimpleBlockFusion →
    NumWordsRulesClassifier.

    Deviation from boilerpipe's DefaultExtractor noted: no
    pre-classification BlockProximityFusion — distance-1 fusion
    before classifying would collapse adjacent paragraphs and nav
    regions into one block and dilute link density; classifying
    un-fused blocks keeps per-paragraph granularity, which is also
    what the reference's pinned test contract exercises
    (HtmlParserTest.java:392-406). Callers wanting the full
    DefaultExtractor shape can compose ``block_proximity_fusion`` /
    ``density_rules_classify`` themselves.
    """
    blocks = segment_blocks(body, links)
    blocks = simple_block_fusion(blocks)
    num_words_rules_classify(blocks)
    return blocks


def main_content(body: El, links: LinkCollector | None = None
                 ) -> tuple[str, list]:
    """text-main projection: one paragraph per content block + spans.

    Mirrors BoilerpipeContentHandler's re-emission (one <p> per content
    block -> block text + '\\n' through the layout contract).
    ``links``, when given, collects the page's links in the segmenter
    walk.
    """
    blocks = classify_blocks(body, links)
    pieces: list[str] = []
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for b in blocks:
        if not b.is_content:
            continue
        pieces.append(b.text)
        pieces.append("\n")
        spans.append((pos, pos + len(b.text), "content"))
        pos += len(b.text) + 1
    return "".join(pieces), spans
