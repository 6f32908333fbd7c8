"""HTML boilerplate stripping + source-mode classification.

The reference handles three source families with slightly different
chains (scraping.py:13,67-85; arxiv.py:93-99):

- ``latex``  (arXiv .tex): macro expansion, then ``find_math(wiki=False)``;
- ``wiki``   (wikipedia page source): strip <script>/<noscript> blocks,
  HTML-unescape, then ``find_math(wiki=True)``;
- ``html``   (stackexchange pages): same strip/unescape, but
  ``find_math(wiki=False)``.

Transcript turns carry no source column, so the engine classifies each
turn with a deterministic byte-stream heuristic; the golden generator
uses the same function, keeping the invariant closed.
"""

from __future__ import annotations

import html
import re

#: <script>/<noscript> block removal (scraping.py:13).
RE_SCRIPT_BLOCKS = re.compile(r"<(noscript|script)>.*?<\/\1>", re.S)

_RE_HTML_MARKER = re.compile(r"</?[a-zA-Z][a-zA-Z0-9]*[^>]*>|&[a-zA-Z]+;|&#\d+;")

MODE_LATEX = "latex"
MODE_WIKI = "wiki"
MODE_HTML = "html"


def strip_html_noise(text: str) -> str:
    """Remove script blocks and resolve HTML entities.

    Both alternatives of the block pattern's opening tag end in
    ``script>``, so a text without that substring has no block and the
    substitution is skipped.
    """
    if "script>" in text:
        text = RE_SCRIPT_BLOCKS.sub("", text)
    return html.unescape(text)


def looks_like_html(text: str) -> bool:
    # every marker alternative starts with '<' or '&' — exact pre-gate
    if "<" not in text and "&" not in text:
        return False
    return _RE_HTML_MARKER.search(text) is not None


def classify_mode(text: str) -> str:
    """Deterministic per-turn source-mode heuristic.

    HTML-looking turns containing ``\\displaystyle`` take the wiki path
    (that marker only appears in MediaWiki math markup); other
    HTML-looking turns take the stackexchange path; everything else is
    treated as raw LaTeX.
    """
    if looks_like_html(text):
        return MODE_WIKI if "\\displaystyle" in text else MODE_HTML
    return MODE_LATEX
