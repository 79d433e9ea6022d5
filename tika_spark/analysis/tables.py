"""HTML table mining: structured (url, table, row, cells) rows.

No reference counterpart (SURVEY §2.I widening): web tables are a
first-class training-data modality (table QA, text-to-SQL, entity
corpora — the WebTables/WDC line of work mines exactly this shape
from Common Crawl). The reference's HTML chain flattens tables into
the text layout; this operator keeps the grid.

Semantics (deterministic, SQL-replayable for the fixture oracle):
- the SAME lenient DOM + C3 discard rules as every other projection
  (script/style subtrees never contribute cell text);
- one output row per <tr> bearing at least one <td>/<th> cell;
- ``table_idx``/``row_idx`` are 1-based in document order — nested
  tables count as their own table in discovery (outer-first,
  pre-order) and their rows are NOT double-counted into the outer
  table (each <tr> belongs to its nearest enclosing table);
- ``cells`` holds per-cell text: descendant text concatenated,
  whitespace runs collapsed to one space, stripped;
- ``n_cols`` is the per-row cell count (header detection and column
  alignment are downstream concerns — rectangularization is lossy,
  so the raw grid ships).

Scale: one mapInPandas over (url, html) — same stage shape as the
extraction job; output rows carry only cell text, the page bytes
never leave the stage. Corrupt pages yield zero rows for that url
plus nothing else (H1: never a task failure).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from tika_spark.html import mapper
from tika_spark.html.dom import El, build_dom, normalize_tree

_WS_RUN = re.compile(r"[ \t\r\n\f]+")

TABLES_SCHEMA = ("url string, table_idx long, row_idx long, "
                 "n_cols long, cells array<string>")


def _cell_text(node) -> str:
    out: list[str] = []

    def walk(n):
        if isinstance(n, str):
            out.append(n)
            return
        if n.tag in mapper.DISCARD_ELEMENTS:
            return
        if n.tag == "table":    # nested table: its text is its own
            return
        for c in n.children:
            walk(c)

    for c in node.children:
        walk(c)
    return _WS_RUN.sub(" ", "".join(out)).strip()


def page_tables(html: bytes) -> list[tuple[int, int, list[str]]]:
    """(table_idx, row_idx, cells) triples for one page."""
    from tika_spark import charset as cs
    data = bytes(html or b"")
    enc = cs.html_charset(data)
    root = build_dom(cs.decode(data, enc))
    _, body = normalize_tree(root)
    out: list[tuple[int, int, list[str]]] = []
    counter = [0]

    def visit(node):
        if isinstance(node, str) or node.tag in mapper.DISCARD_ELEMENTS:
            return
        if node.tag == "table":
            counter[0] += 1
            t_idx = counter[0]
            row_idx = 0
            nested: list[El] = []

            def rows_of(n):
                nonlocal row_idx
                for c in n.children:
                    if isinstance(c, str):
                        continue
                    if c.tag == "table":    # defer: own table_idx later
                        nested.append(c)
                        continue
                    if c.tag == "tr":
                        cells = [
                            _cell_text(td) for td in c.children
                            if isinstance(td, El)
                            and td.tag in ("td", "th")]
                        # a nested table inside a cell is still its
                        # own table, discovered after this one
                        for td in c.children:
                            if isinstance(td, El):
                                nested.extend(_find_tables(td))
                        if cells:
                            row_idx += 1
                            out.append((t_idx, row_idx, cells))
                    elif c.tag in ("thead", "tbody", "tfoot"):
                        rows_of(c)
                    else:
                        # caption/colgroup/a stray div directly under
                        # <table> can still wrap a nested table —
                        # collect it so it gets its own table_idx
                        nested.extend(_find_tables(c))
            rows_of(node)
            for sub in nested:
                visit(sub)
            return
        for c in node.children:
            visit(c)

    def _find_tables(node) -> list[El]:
        found: list[El] = []
        if node.tag == "table":
            return [node]
        if node.tag in mapper.DISCARD_ELEMENTS:
            return []
        for c in node.children:
            if isinstance(c, El):
                found.extend(_find_tables(c))
        return found

    visit(body)
    return out


def html_tables(pages: DataFrame, url_col: str = "url",
                html_col: str = "html") -> DataFrame:
    """Mine every table of every page into structured rows."""
    slim = pages.select(url_col, html_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf[url_col], pdf[html_col]):
                try:
                    triples = page_tables(html)
                except Exception:
                    continue    # poison page: zero rows, task survives
                for t_idx, r_idx, cells in triples:
                    rows.append({"url": url, "table_idx": t_idx,
                                 "row_idx": r_idx,
                                 "n_cols": len(cells), "cells": cells})
            yield pd.DataFrame(
                rows, columns=["url", "table_idx", "row_idx",
                               "n_cols", "cells"])

    return slim.mapInPandas(run, schema=TABLES_SCHEMA)
