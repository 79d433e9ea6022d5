"""Per-layer microbenchmarks of the text-main hot path (pytest-benchmark).

Run from the repository root:

    python -m pytest tools/microbench_text_main.py --benchmark-only -q

Add ``--benchmark-compare`` / ``--benchmark-autosave`` to keep runs in
``.benchmarks/``. The file lives outside ``tests/`` so the tier-1 suite
never collects it.

Inputs are fixture pages (``tika_spark.fixtures.pages``): one giant page
(the crawl table's 1-in-997 tail) and one ``html_boiler`` page, and
8,000-byte prefixes for ``detect_statistical`` whose utf-8 score is 100
(Cyrillic UTF-8), about 64 (ASCII with four two-byte chars), 15 (pure
ASCII) and 0 (cp866).
"""

import numpy as np
import pytest

from tika_spark import charset
from tika_spark.config import CHARSET_PREFIX
from tika_spark.fixtures.pages import GIANT_EVERY, VARIANTS, gen_row
from tika_spark.html import boilerpipe
from tika_spark.html.dom import build_dom, normalize_tree
from tika_spark.html.layout import LinkCollector, serialize_body
from tika_spark.language.corpus import SEED_TEXT

_PAGES = {
    "giant": gen_row(GIANT_EVERY, 42),
    "html_boiler": gen_row(VARIANTS.index("html_boiler"), 42),
}


@pytest.fixture(scope="module", params=sorted(_PAGES))
def page(request):
    row = _PAGES[request.param]
    html = row["html"].decode("utf-8")
    _, body = normalize_tree(build_dom(html))
    return row["url"], html, body


def test_build_dom(benchmark, page):
    _, html, _ = page
    benchmark(build_dom, html)


def test_main_content(benchmark, page):
    url, _, body = page
    benchmark(lambda: boilerpipe.main_content(body, LinkCollector(url)))


def test_serialize_body(benchmark, page):
    url, _, body = page
    benchmark(serialize_body, body, url)


def _prefix(text: str, codec: str) -> bytes:
    data = text.encode(codec)
    while len(data) < CHARSET_PREFIX:
        data += data
    return data[:CHARSET_PREFIX]


_RU, _EN = SEED_TEXT["ru"], SEED_TEXT["en"]
_PREFIXES = {
    # (bytes, utf-8 score)
    "utf8_100": (_prefix(_RU, "utf-8"), 100),
    "utf8_64": (_prefix(_EN, "ascii")[:-8] + "éééé".encode(), 64),
    "ascii": (_prefix(_EN, "ascii"), 15),
    "cp866": (_prefix(_RU, "cp866"), 0),
}


@pytest.mark.parametrize("name", sorted(_PREFIXES))
def test_detect_statistical(benchmark, name):
    data, u = _PREFIXES[name]
    counts = np.bincount(np.frombuffer(data, np.uint8), minlength=256)
    assert charset._score_utf8(data, counts) == u
    benchmark(charset.detect_statistical, data)
