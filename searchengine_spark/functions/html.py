"""HTML text/title extraction — the Jsoup analog for non-code payloads.

The reference renders pages with Jsoup: snippets come from
``Jsoup.parse(html).text()`` and titles from ``.title()``
(services/SearchServiceImpl.java:191-192 and :226-229).  The engine's code
corpus treats content as identity (SURVEY.md C6), but an HTML corpus needs
real extraction, so these pure-Catalyst column functions pin a
deterministic, SQL-expressible subset of Jsoup's behavior:

- ``html_text``: drop <script>/<style> elements and comments, strip every
  remaining tag, decode the common entities, collapse whitespace, trim.
- ``html_title``: first <title> element's text, entity-decoded, trimmed.

Everything is regexp_replace/regexp_extract chains (whole-stage codegen,
zero Python), and every pattern is RE2/Java-compatible so the DuckDB gate
oracle applies the identical chain (gate.py html_extract).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import Column

# (pattern, replacement) chain shared verbatim with the DuckDB twin
HTML_STRIP_STEPS: list[tuple[str, str]] = [
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]*>", " "),
]

HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),  # &amp; LAST (no double-decode)
]

TITLE_RE = r"(?is)<title[^>]*>([^<]*)</title>"


def html_text(col: Column) -> Column:
    out = col
    for pat, rep in HTML_STRIP_STEPS:
        out = F.regexp_replace(out, pat, rep)
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def html_title(col: Column) -> Column:
    t = F.regexp_extract(col, TITLE_RE, 1)
    for ent, ch in HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))
