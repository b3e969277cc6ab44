"""Pure-Python text kernel — the single-node oracle AND the UDF payload.

Every function here reimplements (from scratch, behavior-for-behavior) a
scalar operation of the reference repo ``amite/python_web_scraper_cleaner``
(read-only at /root/reference). This module deliberately has **zero Spark
imports**: the same code runs in a plain Python loop (the parity oracle) and
inside vectorized pandas UDFs (see ``functions/udfs.py``), so byte-identical
output per row is guaranteed by construction — the invariant required by
BASELINE.json (``input_hint``: "byte-identical extracted text per url").

Reference parity map (file:line cites into /root/reference):

==================  =====================================================
kernel fn           reference behavior
==================  =====================================================
normalize_text      scraper_cleaner/html_cleaner_core.py:36-52
normalize_markdown  scraper_cleaner/html_cleaner_core.py:55-58
extract_text        scraper_cleaner/html_cleaner_core.py:61-99 (the
                    trafilatura.extract contract; pluggable — see
                    ``set_extractor``; ref tests monkeypatch the extractor
                    too, tests/test_html_cleaner.py:46-64)
clean_html          scraper_cleaner/html_cleaner_core.py:61-99 (full
                    clean_html_file semantics minus file IO)
make_flat_filename  scraper_cleaner/html_cleaner_core.py:102-124
slugify             scripts/trafilatura_scraper.py:126-146
reflow_text_to_markdown_paragraphs
                    scripts/trafilatura_scraper.py:148-198
format_article_markdown
                    scripts/trafilatura_scraper.py:200-236
extract_metadata    scripts/trafilatura_scraper.py:56-116 (16-field record)
snippet             mcp_server/news_server.py:48-53
tokenize_query      mcp_server/news_server.py:86-101 (incl. stopword set)
score_content       mcp_server/news_server.py:103-113
canonicalize_url    engine-required (north_rule); reference compares raw
                    URL strings only (scripts/news.py:34)
lang_id, quality_score, token_count, fingerprint64
                    engine-required training-data ops (no ref analog)
==================  =====================================================
"""

from __future__ import annotations

import hashlib
import html as _htmllib
import json
import math
import re
import string
from dataclasses import dataclass
from html.parser import HTMLParser
from typing import Callable, Iterable, Optional

# ---------------------------------------------------------------------------
# Normalization (ref: scraper_cleaner/html_cleaner_core.py:36-58)
# ---------------------------------------------------------------------------


def normalize_text(text: str) -> str:
    """Normalize plain text: CRLF/CR→LF, rstrip each line, collapse runs of
    blank lines to at most 2, strip the whole text, exactly one trailing \\n.

    Behavior-parity target: html_cleaner_core.py:36-52.
    """
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    lines = [ln.rstrip() for ln in text.split("\n")]
    cleaned: list[str] = []
    blank_run = 0
    for ln in lines:
        if ln.strip() == "":
            blank_run += 1
            if blank_run <= 2:
                cleaned.append("")
            continue
        blank_run = 0
        cleaned.append(ln)
    return "\n".join(cleaned).strip() + "\n"


def normalize_markdown(md: str) -> str:
    """CRLF/CR→LF, strip, single trailing newline (html_cleaner_core.py:55-58)."""
    md = md.replace("\r\n", "\n").replace("\r", "\n")
    return md.strip() + "\n"


# ---------------------------------------------------------------------------
# HTML → text extraction (ref contract: html_cleaner_core.py:61-99)
#
# The reference delegates to trafilatura.extract(); its own tests monkeypatch
# that call (tests/test_html_cleaner.py:46-64), so the contract is
# extraction-function-agnostic. We ship a deterministic stdlib extractor as
# the default and use trafilatura 2.0.0 opportunistically when importable.
# ---------------------------------------------------------------------------

# Elements whose entire subtree is boilerplate and must be dropped.
_DROP_SUBTREE = {
    "head", "title",
    "script", "style", "noscript", "template", "svg", "iframe",
    "nav", "footer", "header", "aside", "form", "button", "select",
    "option", "label",
}
# Block-level elements: entering/leaving one terminates the current line.
_BLOCK = {
    "p", "div", "article", "section", "main", "body", "html",
    "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol", "dl", "dt", "dd",
    "blockquote", "pre", "figure", "figcaption", "table", "thead", "tbody",
    "tr", "br", "hr",
}
_HEADING_PREFIX = {"h1": "# ", "h2": "## ", "h3": "### ",
                   "h4": "#### ", "h5": "##### ", "h6": "###### "}
_WS_RUN_RE = re.compile(r"[ \t]+")


class _TextExtractor(HTMLParser):
    """Boilerplate-stripping text extractor on stdlib html.parser.

    Emits one logical line per block element; table cells are joined with
    ``" | "`` within a row when ``include_tables``; comments included only
    when ``include_comments`` (matching the trafilatura kwargs surface used
    at html_cleaner_core.py:85-91).
    """

    def __init__(self, *, output_format: str, include_tables: bool,
                 include_comments: bool) -> None:
        super().__init__(convert_charrefs=True)
        self.fmt = output_format
        self.include_tables = include_tables
        self.include_comments = include_comments
        self._drop_depth = 0
        self._table_depth = 0
        self._cells: list[str] = []
        self._in_row = False
        self._buf: list[str] = []
        self._lines: list[str] = []
        self._heading: Optional[str] = None

    # -- line management ----------------------------------------------------
    def _flush(self) -> None:
        if not self._buf:      # hot path: most block boundaries have no text
            return
        txt = _WS_RUN_RE.sub(" ", "".join(self._buf)).strip()
        self._buf = []
        if not txt:
            return
        if self._heading and self.fmt == "markdown":
            txt = self._heading + txt
        self._lines.append(txt)

    # -- parser callbacks ---------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag == "body":
            # malformed pages may never close <head>; body always ends it
            self._drop_depth = 0
        if tag in _DROP_SUBTREE:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if tag == "table":
            self._table_depth += 1
            if not self.include_tables:
                return
        if self._table_depth and not self.include_tables:
            return
        if tag == "tr":
            self._in_row = True
            self._cells = []
            self._flush()
        elif tag in ("td", "th"):
            self._flush()
        elif tag in _BLOCK:
            if self._in_row:
                # a block element INSIDE a cell must not flush the cell
                # buffer out to _lines (that would dismember the row's
                # ' | ' join); it is a soft break within the cell
                self._buf.append(" ")
            else:
                self._flush()
                self._heading = _HEADING_PREFIX.get(tag)

    def handle_endtag(self, tag):
        if tag in _DROP_SUBTREE:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if self._drop_depth:
            return
        if self._table_depth and not self.include_tables:
            if tag == "table":
                self._table_depth -= 1
            return
        if tag in ("td", "th"):
            txt = _WS_RUN_RE.sub(" ", "".join(self._buf)).strip()
            self._buf = []
            if txt:
                self._cells.append(txt)
        elif tag == "tr":
            self._in_row = False
            if self._cells:
                self._lines.append(" | ".join(self._cells))
            self._cells = []
        elif tag == "table":
            self._table_depth = max(0, self._table_depth - 1)
            # malformed page may close the table with a row still open —
            # the in-row state must not leak past the table
            self._in_row = False
        elif tag in _BLOCK:
            if self._in_row:
                self._buf.append(" ")   # cell-internal block end: soft break
            else:
                self._flush()
                if tag in _HEADING_PREFIX:
                    self._heading = None

    def handle_data(self, data):
        if self._drop_depth:
            return
        if self._table_depth and not self.include_tables:
            return
        self._buf.append(data)

    def handle_comment(self, data):
        if self._drop_depth or not self.include_comments:
            return
        txt = data.strip()
        if txt:
            self._flush()
            self._lines.append(txt)

    def result(self) -> str:
        self._flush()
        return "\n".join(self._lines)


def _stdlib_extract(html_text: str, *, output_format: str = "txt",
                    include_tables: bool = True, include_comments: bool = False,
                    with_metadata: bool = False) -> Optional[str]:
    """Default extractor: deterministic boilerplate strip via html.parser.

    Returns None on empty extraction — same None-contract as
    trafilatura.extract (html_cleaner_core.py:92 checks falsy).
    """
    p = _TextExtractor(output_format=output_format,
                       include_tables=include_tables,
                       include_comments=include_comments)
    try:
        p.feed(html_text)
        p.close()
    except Exception:
        return None
    out = p.result()
    return out if out.strip() else None


def _trafilatura_extract_or_none() -> Optional[Callable]:
    try:  # pragma: no cover - not installed in this sandbox
        import trafilatura

        def _fn(html_text, *, output_format="txt", include_tables=True,
                include_comments=False, with_metadata=False,
                include_images=False, include_links=False):
            # forwards BOTH reference call shapes: the clean-text call
            # (html_cleaner_core.py:85-91) and the metadata-JSON call
            # (trafilatura_scraper.py:58-66, which additionally passes
            # include_images/include_links)
            kwargs = dict(output_format=output_format,
                          include_tables=include_tables,
                          include_comments=include_comments,
                          with_metadata=with_metadata)
            if with_metadata:
                kwargs.update(include_images=include_images,
                              include_links=include_links)
            return trafilatura.extract(html_text, **kwargs)

        return _fn
    except Exception:
        return None


_EXTRACTOR: Callable = _trafilatura_extract_or_none() or _stdlib_extract


def set_extractor(fn: Callable) -> None:
    """Swap the extraction engine (reference analog: trafilatura is likewise
    swapped in tests via monkeypatch, tests/test_html_cleaner.py:46-64)."""
    global _EXTRACTOR
    _EXTRACTOR = fn


def get_extractor() -> Callable:
    return _EXTRACTOR


def extract_text(html_text: str, *, output_format: str = "txt",
                 include_tables: bool = True,
                 include_comments: bool = False) -> Optional[str]:
    """trafilatura.extract-shaped entry (html_cleaner_core.py:85-91)."""
    return _EXTRACTOR(html_text, output_format=output_format,
                      include_tables=include_tables,
                      include_comments=include_comments,
                      with_metadata=False)


def decode_html(raw: bytes) -> str:
    """UTF-8 decode with replacement chars (html_cleaner_core.py:82)."""
    return raw.decode("utf-8", errors="replace")


@dataclass(frozen=True)
class CleanOutcome:
    """Per-row success/failure envelope ≅ CleanResult
    (html_cleaner_core.py:16-24) minus file paths."""
    text: Optional[str]
    ok: bool
    extracted_chars: int
    error: Optional[str]


def clean_html(raw: bytes | str, *, output_format: str = "txt",
               include_tables: bool = True,
               include_comments: bool = False) -> CleanOutcome:
    """Full clean_html_file semantics minus file IO
    (html_cleaner_core.py:61-99 + error envelope :248-266):
    decode → extract → empty check → normalize by format.
    """
    try:
        html_text = decode_html(raw) if isinstance(raw, (bytes, bytearray)) else raw
        extracted = extract_text(html_text, output_format=output_format,
                                 include_tables=include_tables,
                                 include_comments=include_comments)
        if not extracted:
            raise ValueError(
                "Extractor could not extract main text (empty result).")
        if output_format == "txt":
            text = normalize_text(extracted)
        elif output_format == "markdown":
            text = normalize_markdown(extracted)
        else:
            text = extracted
        return CleanOutcome(text=text, ok=True, extracted_chars=len(text),
                            error=None)
    except Exception as e:  # row-level failure keeps the batch going
        return CleanOutcome(text=None, ok=False, extracted_chars=0,
                            error=str(e))


# ---------------------------------------------------------------------------
# Metadata extraction (ref: scripts/trafilatura_scraper.py:56-116)
# ---------------------------------------------------------------------------

METADATA_FIELDS = (
    "url", "title", "author", "date", "sitename", "hostname", "description",
    "categories", "tags", "fingerprint", "language", "text", "raw_text",
    "source", "source_hostname",
)

_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title>", re.I | re.S)
_H1_RE = re.compile(r"<h1[^>]*>(.*?)</h1>", re.I | re.S)
# the value captures match up to the SAME quote that opened the
# attribute (backreference), not [^"'] — an apostrophe inside a
# double-quoted content value (ubiquitous: "John's page") must not
# truncate the capture
_META_RE = re.compile(
    r"<meta\s+[^>]*?(?:name|property)\s*=\s*([\"'])(.+?)\1[^>]*?"
    r"content\s*=\s*([\"'])(.*?)\3[^>]*?>", re.I | re.S)
_META_RE_REV = re.compile(
    r"<meta\s+[^>]*?content\s*=\s*([\"'])(.*?)\1[^>]*?"
    r"(?:name|property)\s*=\s*([\"'])(.+?)\3[^>]*?>", re.I | re.S)
_TAG_STRIP_RE = re.compile(r"<[^>]+>")


def _meta_map(html_text: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for _q1, k, _q2, v in _META_RE.findall(html_text):
        out.setdefault(k.strip().lower(), _htmllib.unescape(v).strip())
    for _q1, v, _q2, k in _META_RE_REV.findall(html_text):
        out.setdefault(k.strip().lower(), _htmllib.unescape(v).strip())
    return out


def extract_metadata(raw: bytes | str, url: Optional[str] = None) -> dict:
    """Build the 16-field article record of the reference
    (scripts/trafilatura_scraper.py:99-116), tolerant of missing fields via
    ``.get()``-equivalent defaults. ``scraped_at`` is NOT stamped here —
    timestamps are injected by the caller for determinism (SURVEY §2.7 F11).
    """
    html_text = decode_html(raw) if isinstance(raw, (bytes, bytearray)) else raw
    meta = _meta_map(html_text)
    m = _TITLE_RE.search(html_text)
    title = _htmllib.unescape(_TAG_STRIP_RE.sub("", m.group(1))).strip() if m else None
    if not title:
        h1 = _H1_RE.search(html_text)
        title = (_htmllib.unescape(_TAG_STRIP_RE.sub("", h1.group(1))).strip()
                 if h1 else None)
    host = None
    if url:
        host = url_host(url)
    text = extract_text(html_text, output_format="txt")
    raw_text = text
    cats = meta.get("article:section")
    tags = meta.get("keywords") or meta.get("article:tag")
    return {
        "url": url,
        "title": title or None,
        "author": meta.get("author") or meta.get("article:author"),
        "date": meta.get("article:published_time") or meta.get("date"),
        "sitename": meta.get("og:site_name") or meta.get("sitename"),
        "hostname": host,
        "description": meta.get("description") or meta.get("og:description"),
        "categories": [c.strip() for c in cats.split(",")] if cats else [],
        "tags": [t.strip() for t in tags.split(",")] if tags else [],
        "fingerprint": (hashlib.md5(text.encode("utf-8")).hexdigest()
                        if text else None),
        "language": meta.get("og:locale") or meta.get("language"),
        "text": text,
        "raw_text": raw_text,
        "source": url,
        "source_hostname": host,
    }


# ---------------------------------------------------------------------------
# Slug / filename / markdown assembly
# ---------------------------------------------------------------------------


def slugify(text: Optional[str]) -> str:
    """URL-friendly slug (scripts/trafilatura_scraper.py:126-146): lowercase,
    drop non-word chars, whitespace→_, hyphen-runs→_, strip _, cap 100,
    empty/None→"untitled"."""
    if not text:
        return "untitled"
    slug = text.lower()
    slug = re.sub(r"[^\w\s-]", "", slug)
    slug = re.sub(r"[\s]+", "_", slug)
    slug = re.sub(r"[-]+", "_", slug)
    slug = slug.strip("_")
    if len(slug) > 100:
        slug = slug[:100]
    return slug or "untitled"


def make_flat_filename(relative_path: str, output_format: str) -> str:
    """Flat collision-safe name (html_cleaner_core.py:102-124):
    parts joined by ``__``, last extension dropped, ``__`` + first 8 hex of
    md5(relpath), extension by format."""
    parts = [p for p in relative_path.split("/") if p]
    base_name = "__".join(parts)
    base_name = base_name.rsplit(".", 1)[0] if "." in base_name else base_name
    hash_suffix = hashlib.md5(relative_path.encode("utf-8")).hexdigest()[:8]
    ext = ".txt" if output_format == "txt" else ".md"
    return f"{base_name}__{hash_suffix}{ext}"


def reflow_text_to_markdown_paragraphs(
        text: Optional[str], *, max_sentences_per_paragraph: int = 4,
        max_chars_per_paragraph: int = 900) -> str:
    """Reflow line-per-sentence text into Markdown paragraphs
    (scripts/trafilatura_scraper.py:148-198). Two modes: blank-line-delimited
    paragraphs joined, else greedy grouping of ≤4 lines / <900 chars."""
    if not text:
        return ""
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    raw_lines = [ln.strip() for ln in text.split("\n")]

    if any(ln == "" for ln in raw_lines):
        paragraphs: list[str] = []
        buf: list[str] = []
        for ln in raw_lines:
            if ln == "":
                if buf:
                    paragraphs.append(" ".join(buf).strip())
                    buf = []
                continue
            buf.append(ln)
        if buf:
            paragraphs.append(" ".join(buf).strip())
        return "\n\n".join(p for p in paragraphs if p).strip()

    lines = [ln for ln in raw_lines if ln]
    paragraphs = []
    buf = []
    sentence_count = 0
    char_count = 0
    for ln in lines:
        buf.append(ln)
        sentence_count += 1
        char_count += len(ln) + 1
        if (sentence_count >= max_sentences_per_paragraph
                or char_count >= max_chars_per_paragraph):
            paragraphs.append(" ".join(buf).strip())
            buf = []
            sentence_count = 0
            char_count = 0
    if buf:
        paragraphs.append(" ".join(buf).strip())
    return "\n\n".join(p for p in paragraphs if p).strip()


def format_article_markdown(data: dict, text: Optional[str]) -> str:
    """Assemble the article Markdown document
    (scripts/trafilatura_scraper.py:200-236): title header, bold metadata
    lines, summary section, categories/tags (str-or-list tolerant), '---'
    rule, reflowed article content. Missing fields are skipped."""
    markdown_parts: list[str] = []
    if data.get("title"):
        markdown_parts.append(f"# {data['title']}\n")
    if data.get("author"):
        markdown_parts.append(f"**Author:** {data['author']}")
    if data.get("date"):
        markdown_parts.append(f"**Published:** {data['date']}")
    if data.get("sitename"):
        markdown_parts.append(f"**Source:** {data['sitename']}")
    if data.get("description"):
        markdown_parts.append(f"\n## Summary\n{data['description']}\n")
    if data.get("categories"):
        categories = data["categories"]
        if isinstance(categories, str):
            categories = [categories]
        markdown_parts.append(f"**Categories:** {', '.join(categories)}")
    if data.get("tags"):
        tags = data["tags"]
        if isinstance(tags, str):
            tags = [tags]
        markdown_parts.append(f"**Tags:** {', '.join(tags)}")
    formatted_text = reflow_text_to_markdown_paragraphs(text)
    markdown_parts.append(f"\n---\n\n## Article Content\n\n{formatted_text}")
    return "\n".join(markdown_parts)


# ---------------------------------------------------------------------------
# Search substrate (ref: mcp_server/news_server.py)
# ---------------------------------------------------------------------------

# Exact stopword set of the reference (mcp_server/news_server.py:89-92).
STOP_WORDS = frozenset({
    "the", "a", "an", "and", "or", "but", "in", "on", "at", "to", "for",
    "of", "with", "is", "are", "was", "were", "be", "this", "that", "it",
    "what", "which", "who", "when", "where", "why", "how", "latest", "news",
    "question", "from", "by", "as",
})

_PUNCT_TABLE = str.maketrans("", "", string.punctuation)


def snippet(content: str, query: str, *, before: int = 50,
            after: int = 150) -> Optional[str]:
    """Case-insensitive match snippet (news_server.py:44-53): slice
    [idx-50, idx+150], newlines→spaces. None when no match."""
    idx = content.lower().find(query.lower())
    if idx < 0:
        return None
    start = max(0, idx - before)
    end = min(len(content), idx + after)
    return content[start:end].replace("\n", " ")


def tokenize_query(query: str) -> list[str]:
    """Stopword-aware tokenization (news_server.py:86-101): lowercase, strip
    punctuation, whitespace split, drop stopwords; if everything was a
    stopword fall back to all tokens."""
    query_clean = query.lower().translate(_PUNCT_TABLE)
    terms = [t for t in query_clean.split() if t not in STOP_WORDS]
    if not terms:
        terms = query_clean.split()
    return terms


def score_content(content: str, query_terms: Iterable[str]) -> int:
    """Term-frequency relevance score (news_server.py:103-113):
    sum of substring-occurrence counts over the lowercased content."""
    lc = content.lower()
    return sum(lc.count(term) for term in query_terms)


# ---------------------------------------------------------------------------
# URL canonicalization (engine-required; north_rule. Reference compares raw
# strings only, scripts/news.py:34)
# ---------------------------------------------------------------------------

_URL_RE = re.compile(r"^(?P<scheme>[a-zA-Z][a-zA-Z0-9+.-]*):(?://(?P<netloc>[^/?#]*))?"
                     r"(?P<rest>[^#]*)(?:#.*)?$")


def _split_hostport(hostport: str) -> tuple[str, str]:
    """(host, ':port'|'') — bracket-aware: an IPv6 literal
    ``[2001:db8::1]:8443`` splits at the colon AFTER the bracket, never
    inside it (the naive first-colon split returns the garbage '[2001').
    The bracketed form is kept as the host (self-consistent with the
    JVM canonicalize twin, whose $-anchored default-port strip leaves
    brackets intact)."""
    if hostport.startswith("["):
        end = hostport.find("]")
        if end >= 0:
            tail = hostport[end + 1:]
            if tail.startswith(":"):
                return hostport[:end + 1], tail
            return hostport, ""
    if ":" in hostport:
        host, port = hostport.split(":", 1)
        return host, ":" + port
    return hostport, ""


def url_host(url: str) -> Optional[str]:
    m = _URL_RE.match(url or "")
    if not m or m.group("netloc") is None:
        return None
    netloc = m.group("netloc")
    if "@" in netloc:
        netloc = netloc.rsplit("@", 1)[1]
    host, _port = _split_hostport(netloc)
    return host.lower() or None


def canonicalize_url(url: str) -> str:
    """Deterministic canonical form: lowercase scheme+host, strip fragment,
    drop default ports (80/443), keep path+query verbatim, empty path→'/'."""
    m = _URL_RE.match(url.strip())
    if not m:
        return url.strip()
    scheme = m.group("scheme").lower()
    netloc = m.group("netloc")
    # rstrip AFTER fragment removal: "…/ #frag" leaves "…/ " whose trailing
    # space the outer strip would only remove on a SECOND pass — trailing
    # whitespace is junk either way, and removing it here makes
    # canonicalize_url(canonicalize_url(x)) == canonicalize_url(x)
    # (hypothesis-found idempotence break)
    rest = (m.group("rest") or "").rstrip()
    if netloc is None:
        return f"{scheme}:{rest}"
    userinfo = ""
    hostport = netloc
    if "@" in netloc:
        userinfo, hostport = netloc.rsplit("@", 1)
        userinfo += "@"
    host, port = _split_hostport(hostport)
    host = host.lower()
    if (scheme == "http" and port == ":80") or (scheme == "https" and port == ":443"):
        port = ""
    if not rest:
        rest = "/"
    return f"{scheme}://{userinfo}{host}{port}{rest}"


# ---------------------------------------------------------------------------
# Training-data text analysis (engine ops; SURVEY §2 extension set)
# ---------------------------------------------------------------------------

# Compact marker-word lists per language for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, frozenset[str]] = {
    "en": frozenset({"the", "and", "of", "to", "in", "is", "that", "it",
                     "for", "with", "was", "on", "are", "this"}),
    "de": frozenset({"der", "die", "das", "und", "ist", "nicht", "ein",
                     "eine", "mit", "von", "für", "auf", "dem", "den"}),
    "fr": frozenset({"le", "la", "les", "et", "de", "des", "un", "une",
                     "est", "dans", "pour", "que", "qui", "avec"}),
    "es": frozenset({"el", "la", "los", "las", "y", "de", "que", "en",
                     "un", "una", "es", "por", "con", "para"}),
}


def lang_id(text: str) -> str:
    """Deterministic marker-word language heuristic. Returns the language
    with the highest marker hit-count; ties broken alphabetically; no hits →
    'und' (undetermined)."""
    tokens = text.lower().split()
    best_lang, best_score = "und", 0
    for lang in sorted(LANG_MARKERS):
        score = sum(1 for t in tokens if t in LANG_MARKERS[lang])
        if score > best_score:
            best_lang, best_score = lang, score
    return best_lang


def token_count(text: str) -> int:
    """Whitespace token count (ref word-count analog,
    scripts/trafilatura_scraper.py:387)."""
    return len(text.split())


_BPEISH_RE = re.compile(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]")


def bpe_ish_token_count(text: str) -> int:
    """BPE-ish token estimate: alpha runs + digit runs + individual symbols."""
    return len(_BPEISH_RE.findall(text))


def quality_score(text: str) -> dict:
    """Deterministic document-quality features: length, tokens, mean token
    length, punctuation ratio, stopword ratio, uppercase ratio."""
    n_chars = len(text)
    tokens = text.split()
    n_tokens = len(tokens)
    n_punct = sum(1 for c in text if c in string.punctuation)
    n_upper = sum(1 for c in text if c.isupper())
    n_stop = sum(1 for t in tokens if t.lower().strip(string.punctuation)
                 in STOP_WORDS)
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": (sum(len(t) for t in tokens) / n_tokens) if n_tokens else 0.0,
        "punct_ratio": (n_punct / n_chars) if n_chars else 0.0,
        "upper_ratio": (n_upper / n_chars) if n_chars else 0.0,
        "stopword_ratio": (n_stop / n_tokens) if n_tokens else 0.0,
    }


_FP_MOD = (1 << 61) - 1
_FP_BASE = 257


def fingerprint64(text: str) -> int:
    """Deterministic rolling polynomial hash over the normalized token stream
    (document fingerprint; ref analog: trafilatura's `fingerprint` field,
    scripts/trafilatura_scraper.py:110)."""
    h = 0
    for tok in text.lower().split():
        for b in tok.encode("utf-8"):
            h = (h * _FP_BASE + b) % _FP_MOD
        h = (h * _FP_BASE + 32) % _FP_MOD
    return h


def shingles(text: str, k: int = 3) -> list[str]:
    """k-token shingles over the lowercased whitespace token stream."""
    toks = text.lower().split()
    if len(toks) < k:
        return [" ".join(toks)] if toks else []
    return [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]


def simhash32(text: str) -> int:
    """32-bit SimHash over whitespace tokens. Per-token hash = first 8 hex
    chars of md5 (stable across platforms and reproducible in ANSI SQL)."""
    counts = [0] * 32
    for tok in text.lower().split():
        hv = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:8], 16)
        for bit in range(32):
            counts[bit] += 1 if (hv >> bit) & 1 else -1
    out = 0
    for bit in range(32):
        if counts[bit] > 0:
            out |= 1 << bit
    return out


def minhash_signature(text: str, *, k: int = 3, n_hashes: int = 16) -> list[str]:
    """MinHash signature: for seed j, min over shingles of
    md5(j || ':' || shingle) hex. Hex-string min == lexicographic min, which
    is identical in Spark and DuckDB — the signature is oracle-checkable."""
    sh = shingles(text, k)
    if not sh:
        return ["" for _ in range(n_hashes)]
    return [min(hashlib.md5(f"{j}:{s}".encode("utf-8")).hexdigest()
                for s in sh) for j in range(n_hashes)]


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    u = len(a | b)
    return (len(a & b) / u) if u else 0.0


# JSON serialization matching the reference sink (trafilatura_scraper.py:333)
def dumps_pretty(obj) -> str:
    return json.dumps(obj, indent=2, ensure_ascii=False)


# ---------------------------------------------------------------------------
# robots.txt parsing (north_rule: "robots.txt rules broadcast to executors";
# the reference has no robots handling — it hardcodes polite headers and a
# 30s timeout, scripts/trafilatura_scraper.py:27-32,43)
# ---------------------------------------------------------------------------


def parse_robots_txt(text: Optional[str], user_agent: str = "*") -> dict:
    """Minimal deterministic robots.txt parser (RFC 9309 subset).

    Returns {"disallow_prefixes": list[str], "allow_prefixes": list[str],
    "crawl_delay_ms": int}. Groups are user-agent sections; the most
    specific matching agent token wins (exact > substring > "*"); within
    the winning group, rules accumulate. Unparseable/empty input → allow
    everything, zero delay (the reference's behavior of not checking at
    all). Pure function — usable in a pandas UDF and as the oracle.
    """
    result = {"disallow_prefixes": [], "allow_prefixes": [],
              "crawl_delay_ms": 0}
    if not text:
        return result
    ua = user_agent.lower()

    groups: list[tuple[list[str], dict]] = []
    cur_agents: list[str] = []
    cur_rules: Optional[dict] = None
    for raw_line in text.splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if cur_rules is not None and cur_rules["_used"]:
                groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules = [], None
            if cur_rules is None:
                cur_rules = {"disallow": [], "allow": [], "delay": None,
                             "_used": False}
                cur_agents = []
            cur_agents.append(value.lower())
        elif field in ("disallow", "allow", "crawl-delay"):
            if cur_rules is None:
                continue  # rule before any user-agent line: ignore
            cur_rules["_used"] = True
            if field == "disallow":
                if value:
                    cur_rules["disallow"].append(value)
            elif field == "allow":
                if value:
                    cur_rules["allow"].append(value)
            else:
                try:
                    d = float(value)
                except ValueError:
                    d = None
                # real-world robots files contain 'nan', 'inf', negatives —
                # int(nan*1000) raises, negatives break the pacing invariant
                if d is not None and math.isfinite(d) and 0 <= d <= 86400:
                    cur_rules["delay"] = d
    if cur_rules is not None:
        groups.append((cur_agents, cur_rules))

    def specificity(agents: list[str]) -> int:
        best = -1
        for a in agents:
            if not a:
                # malformed bare 'User-agent:' line: an empty token would
                # substring-match EVERY ua ('' in x is always True) and
                # beat the '*' group for all crawlers — invalid per RFC
                # 9309, ignored
                continue
            if a == ua:
                best = max(best, 2)
            elif a != "*" and (a in ua or ua in a):
                best = max(best, 1)
            elif a == "*":
                best = max(best, 0)
        return best

    best_spec = max((specificity(a) for a, _ in groups), default=-1)
    if best_spec < 0:
        return result
    for agents, rules in groups:
        if specificity(agents) == best_spec:
            result["disallow_prefixes"].extend(rules["disallow"])
            result["allow_prefixes"].extend(rules["allow"])
            if rules["delay"] is not None:
                result["crawl_delay_ms"] = int(rules["delay"] * 1000)
    return result


def robots_allows(path: str, rules: dict) -> bool:
    """RFC 9309 §2.2.2 decision over a parse_robots_txt rules dict (the
    most specific matching rule wins; ties go to Allow; no match →
    allowed) — robots_wildcard_decision on its prefix lists."""
    return robots_wildcard_decision(path, rules.get("allow_prefixes", ()),
                                    rules.get("disallow_prefixes", ()))[0]


def robots_pattern_regex(pattern: str) -> str:
    """RFC 9309 §2.2.3 path pattern → anchored regex: ``*`` matches any
    character run, a trailing ``$`` anchors the match at end-of-path, every
    other octet is literal.  The same translation runs on the tiny robots
    side of the Spark operator (JVM expressions, operators/frontier.py:
    robots_pattern_regex_col) and in the DuckDB oracle, so match semantics
    are structural, not re-implemented per engine.  The regex dialect used
    is the common subset of java.util.regex / RE2 / Python re (escaped
    literals, ``.*``, ``^``/``$`` anchors only)."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    return ("^" + "".join(".*" if ch == "*" else re.escape(ch)
                          for ch in body)
            + ("$" if anchored else ""))


def robots_wildcard_decision(path: str, allow_patterns, disallow_patterns):
    """Full RFC 9309 §2.2.2 decision over wildcard patterns: the matching
    rule with the most octets (raw pattern length) wins; an Allow and a
    Disallow of equal length go to Allow; no matching rule → allowed.
    Returns (allowed: bool, decisive_len: int) with decisive_len = -1 when
    nothing matched — the pure twin of operators/frontier.apply_robots."""
    best_allow = max((len(p) for p in allow_patterns
                      if re.match(robots_pattern_regex(p), path)),
                     default=-1)
    best_dis = max((len(p) for p in disallow_patterns
                    if re.match(robots_pattern_regex(p), path)),
                   default=-1)
    return best_allow >= best_dis, max(best_allow, best_dis)


def public_suffix_registrable(host: str, rules) -> tuple:
    """publicsuffix.org list algorithm: among matching rules the one with
    the most labels wins; an exception rule (``!www.ck``) beats everything
    and makes the public suffix the rule minus its leftmost label; a
    wildcard rule (``*.ck``) matches any single label plus its suffix; no
    match → the prevailing ``*`` default (public suffix = last label).
    Returns (public_suffix, registrable_domain | None) — None when the
    host IS a public suffix.  Pure twin of operators/frontier.
    psl_lookup_cols and of the DuckDB oracle."""
    labels = host.lower().split(".")
    n = len(labels)
    exc_d, best = 0, 1
    for rule in rules:
        if rule.startswith("!"):
            rl = rule[1:].split(".")
            if n >= len(rl) and labels[n - len(rl):] == rl:
                exc_d = max(exc_d, len(rl))
        elif rule.startswith("*."):
            rl = rule[2:].split(".")
            if n >= len(rl) + 1 and labels[n - len(rl):] == rl:
                best = max(best, len(rl) + 1)
        else:
            rl = rule.split(".")
            if n >= len(rl) and labels[n - len(rl):] == rl:
                best = max(best, len(rl))
    # a depth-1 exception rule would yield an empty public suffix — not a
    # shape the PSL grammar produces (exceptions always override a
    # wildcard, so carry ≥2 labels); fall back to the normal path
    pub_d = exc_d - 1 if exc_d >= 2 else best
    ps = ".".join(labels[n - pub_d:])
    reg = ".".join(labels[n - pub_d - 1:]) if n >= pub_d + 1 else None
    return ps, reg


# ---------------------------------------------------------------------------
# Link extraction (URL discovery — the frontier-growing half of a crawler;
# reference analog: GoogleNewsSource seed discovery, scripts/news.py:1-9,
# generalized to in-page <a href> harvesting)
# ---------------------------------------------------------------------------


class _LinkExtractor(HTMLParser):
    """Collect href targets of <a> tags, in document order."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.hrefs: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "a":
            for name, value in attrs:
                if name == "href" and value:
                    self.hrefs.append(value)


def _resolve_href(href: str, base_url: str) -> Optional[str]:
    """Resolve one href against the page URL; keep only http(s) targets.
    Deterministic stdlib urljoin semantics; fragments dropped, javascript:/
    mailto:/data: rejected."""
    from urllib.parse import urljoin, urlsplit

    href = href.strip()
    if not href or href.startswith("#"):
        return None
    low = href.lower()
    if low.startswith(("javascript:", "mailto:", "data:", "tel:")):
        return None
    try:
        absolute = urljoin(base_url, href)
        parts = urlsplit(absolute)
    except Exception:
        # ValueError on malformed urls; AttributeError/TypeError on a null
        # or non-string base — one odd row must never fail the Spark task
        return None
    if parts.scheme not in ("http", "https") or not parts.netloc:
        return None
    return absolute.split("#", 1)[0]


def extract_links(raw: bytes | str, base_url: str) -> list[str]:
    """All unique out-links of a page, resolved absolute, document order
    preserved (first occurrence wins). Malformed HTML never raises —
    html.parser is forgiving and resolution failures drop the link."""
    text = decode_html(raw) if isinstance(raw, (bytes, bytearray)) else raw
    if not base_url:
        # null/empty page url: relative hrefs cannot resolve; absolute
        # http(s) hrefs still pass through urljoin("", href) unchanged
        base_url = ""
    parser = _LinkExtractor()
    try:
        parser.feed(text)
        parser.close()
    except Exception:
        pass  # salvage whatever was collected before the parse error
    seen: set[str] = set()
    out: list[str] = []
    for href in parser.hrefs:
        url = _resolve_href(href, base_url)
        if url is not None and url not in seen:
            seen.add(url)
            out.append(url)
    return out


class _AnchorExtractor(HTMLParser):
    """Collect (href, anchor text) pairs of <a> tags, in document order.
    The anchor text is the whitespace-normalized character data between
    the start and end tag; an unclosed <a> at EOF still emits (forgiving
    parse, same policy as _LinkExtractor)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.pairs: list[tuple[str, str]] = []
        self._href: Optional[str] = None
        self._buf: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "a":
            self._flush()  # implicit close of an unclosed previous <a>
            for name, value in attrs:
                if name == "href" and value:
                    self._href = value
                    self._buf = []
                    break

    def handle_data(self, data: str) -> None:
        if self._href is not None:
            self._buf.append(data)

    def handle_endtag(self, tag: str) -> None:
        if tag == "a":
            self._flush()

    def _flush(self) -> None:
        if self._href is not None:
            self.pairs.append(
                (self._href, " ".join("".join(self._buf).split())))
        self._href = None
        self._buf = []


def extract_anchors(raw: bytes | str, base_url: str) -> list[tuple[str, str]]:
    """(absolute url, anchor text) for every <a href> of a page, document
    order, duplicates KEPT — anchor frequency is the ranking signal, so
    the aggregation downstream decides what to collapse. Resolution and
    scheme filtering match extract_links (_resolve_href); malformed HTML
    never raises."""
    text = decode_html(raw) if isinstance(raw, (bytes, bytearray)) else raw
    parser = _AnchorExtractor()
    try:
        parser.feed(text)
        parser.close()
    except Exception:
        pass  # keep what was collected before the parse error
    parser._flush()  # unclosed trailing <a>
    out: list[tuple[str, str]] = []
    for href, anchor in parser.pairs:
        url = _resolve_href(href, base_url or "")
        if url is not None:
            out.append((url, anchor))
    return out


# ---------------------------------------------------------------------------
# C4-style line-level page cleaning (engine-required training-data op — the
# canonical webtext cleaning recipe of Raffel et al. 2020 §2.2, as realized
# by the public tensorflow_datasets c4_utils.clean_page loop). No reference
# analog: the reference cleans markup, not corpus lines.
# ---------------------------------------------------------------------------

C4_END_MARKS = ('.', '!', '?', '"')
C4_POLICY_SUBSTRINGS = (
    "terms of use", "privacy policy", "cookie policy",
    "uses cookies", "use of cookies", "use cookies",
)
# edge-trim and word-split share ONE class (Java \s minus \n): an
# untrimmed \x0b/\f at a line edge would otherwise inflate the word
# count (leading empty split element) and fail the terminal-mark gate
# where the original's line.strip() keeps the line
_C4_EDGE_WS = re.compile(r"^[ \t\x0b\f\r]+|[ \t\x0b\f\r]+$")
_C4_WORD_SPLIT = re.compile(r"[ \t\x0b\f\r]+")
_C4_SENT_MARK = re.compile(r"[.!?]")


def c4_clean(text: str, *, min_words_per_line: int = 5,
             min_sentences: int = 3) -> dict:
    """C4 line filtering over one page's extracted text. Returns
    ``{n_lines, n_cand, n_kept, n_sentences, kept, clean_text}``.

    Faithful to the public c4_utils.clean_page rule ORDER: a line must
    first survive the structural gates (non-empty after edge-trim, ends
    in a terminal mark, not an ellipsis, >= min_words_per_line words);
    only surviving candidates are checked for the content rules, in
    order — "lorem ipsum" drops the PAGE, "javascript" drops the LINE,
    "{" drops the PAGE, a policy substring drops the LINE. Pages whose
    kept text has fewer than ``min_sentences`` sentence-final marks are
    dropped (the nltk sentence counter of the original is approximated
    by counting [.!?] occurrences — documented substitution, identical
    on both sides of the parity check). A dropped page reports
    n_kept = n_sentences = 0 and empty clean_text, mirroring the
    original's early ``return None``."""
    cand: list[str] = []
    for line in text.split("\n"):
        line = _C4_EDGE_WS.sub("", line)
        if not line or line[-1] not in C4_END_MARKS or line.endswith("..."):
            continue
        if len(_C4_WORD_SPLIT.split(line)) < min_words_per_line:
            continue
        cand.append(line)
    kept: list[str] = []
    page_drop = False
    for line in cand:
        low = line.lower()
        if "lorem ipsum" in low:
            page_drop = True
            break
        if "javascript" in low:
            continue
        if "{" in line:
            page_drop = True
            break
        if any(p in low for p in C4_POLICY_SUBSTRINGS):
            continue
        kept.append(line)
    if page_drop:
        return {"n_lines": len(text.split("\n")), "n_cand": len(cand),
                "n_kept": 0, "n_sentences": 0, "kept": False,
                "clean_text": ""}
    clean = "\n".join(kept)
    n_sent = len(_C4_SENT_MARK.findall(clean))
    ok = n_sent >= min_sentences
    return {"n_lines": len(text.split("\n")), "n_cand": len(cand),
            "n_kept": len(kept), "n_sentences": n_sent, "kept": ok,
            "clean_text": clean if ok else ""}
