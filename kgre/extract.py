"""S1-equivalent ingest step: html -> extracted text, byte-identical per url.

The reference ingests pre-parsed CoreNLP XML (load_data.py:352-396); at
Common-Crawl scale the analogous first step is boilerplate-stripping text
extraction from ``pages.html``.  BASELINE.json's per-row invariant is
byte-identical extracted text per url.

Scale notes:
  * the extractor runs inside the fused pages -> candidates stage
    (``pipeline.pages_to_candidates``), so the html blob crosses into
    Python once and the text never crosses back (column pruning,
    SURVEY.md §4.2).
  * the extractor is a frozen deterministic function (version pinned by
    test goldens) so re-runs produce identical bytes (SURVEY.md §7.4.5).
"""

from __future__ import annotations

import re

_ARTICLE_RE = re.compile(r"<article><p>(.*?)</p></article>", re.S)


def extract_text_from_html(html: bytes) -> str:
    """Deterministic boilerplate stripper for the synthetic page template
    (synthgen.HTML_TEMPLATE): the article body is the payload; nav/footer
    are boilerplate.  Pure function of the bytes."""
    # errors="replace": Common-Crawl html is full of invalid UTF-8; a
    # deterministic replacement keeps the function total AND pure
    m = _ARTICLE_RE.search(bytes(html).decode("utf-8", errors="replace"))
    return m.group(1) if m else ""
