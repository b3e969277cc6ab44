"""M0 kernel tests — ports of the reference's pure-function unit tests.

Assertion sources (reference repo, read-only):
  normalize_*      tests/test_html_cleaner.py:17-34
  clean contract   tests/test_html_cleaner.py:38-76
  slugify          tests/test_scraper_functions.py:11-31
  markdown fmt     tests/test_scraper_functions.py:41-79
  flat filename    tests/test_html_cleaner.py:154-186
  search substrate mcp_server/news_server.py semantics
"""

import hashlib

import pytest

from python_web_scraper_cleaner_spark.functions import kernel as K


# -- normalize_text / normalize_markdown ------------------------------------

def test_normalize_text_basic():
    text = "a\r\n\r\n\r\nb  \r\n\r\n\r\n\r\nc\r"
    out = K.normalize_text(text)
    assert out.startswith("a\n\n\nb\n\n\nc\n")
    assert "\n\n\n\n" not in out
    assert out.endswith("\n")
    assert not out.endswith("\n\n")


def test_normalize_text_idempotent():
    text = "x\n\n\n\n\ny\r\nz   \n"
    once = K.normalize_text(text)
    assert K.normalize_text(once) == once


def test_normalize_markdown_minimal():
    assert K.normalize_markdown("# Title\r\n\r\nText\r\n") == "# Title\n\nText\n"


# -- clean_html (clean_html_file contract minus IO) -------------------------

def test_clean_html_passes_expected_extractor_args():
    calls = []
    orig = K.get_extractor()

    def fake_extract(html, **kwargs):
        calls.append((html, kwargs))
        return "# Hello\n"

    K.set_extractor(fake_extract)
    try:
        out = K.clean_html(b"<html><body><p>Hello</p></body></html>",
                           output_format="markdown", include_tables=True,
                           include_comments=False)
    finally:
        K.set_extractor(orig)
    assert out.ok and out.text == "# Hello\n"
    assert len(calls) == 1
    _, kwargs = calls[0]
    assert kwargs["output_format"] == "markdown"
    assert kwargs["include_tables"] is True
    assert kwargs["include_comments"] is False
    assert kwargs["with_metadata"] is False


def test_clean_html_empty_extraction_is_row_error():
    out = K.clean_html(b"<html><body></body></html>", output_format="txt")
    assert not out.ok
    assert out.text is None
    assert "could not extract" in out.error


def test_clean_html_decodes_with_replacement():
    # invalid utf-8 byte must not raise (ref: errors="replace",
    # html_cleaner_core.py:82)
    raw = b"<html><body><p>caf\xe9 ok</p></body></html>"
    out = K.clean_html(raw, output_format="txt")
    assert out.ok
    assert "�" in out.text


def test_clean_html_strips_boilerplate_and_unescapes():
    html = (b"<html><head><style>p{}</style></head><body>"
            b"<nav>menu</nav><p>Hello &amp; world</p>"
            b"<script>alert(1)</script><footer>foot</footer></body></html>")
    out = K.clean_html(html, output_format="txt")
    assert out.ok
    assert out.text == "Hello & world\n"


def test_clean_html_tables_flag():
    html = (b"<html><body><p>intro</p><table><tr><td>a</td><td>b</td></tr>"
            b"</table></body></html>")
    with_tables = K.clean_html(html, include_tables=True)
    without = K.clean_html(html, include_tables=False)
    assert "a | b" in with_tables.text
    assert "a" not in without.text.replace("intro", "")


def test_clean_html_comments_flag():
    html = b"<html><body><p>x</p><!-- secret --></body></html>"
    assert "secret" not in K.clean_html(html, include_comments=False).text
    assert "secret" in K.clean_html(html, include_comments=True).text


# -- slugify ----------------------------------------------------------------

def test_slugify_function():
    assert K.slugify("Hello World!") == "hello_world"
    assert K.slugify("This is a test article") == "this_is_a_test_article"
    assert K.slugify("Hello, World! How are you?") == "hello_world_how_are_you"
    assert K.slugify("Article: The Future of AI") == "article_the_future_of_ai"
    assert K.slugify("") == "untitled"
    assert K.slugify(None) == "untitled"
    assert len(K.slugify("a" * 150)) == 100
    assert K.slugify("Hello    World") == "hello_world"


# -- flat filename ----------------------------------------------------------

def test_make_flat_filename_deterministic_and_collision_safe():
    a = K.make_flat_filename("news/a.html", "markdown")
    assert a == K.make_flat_filename("news/a.html", "markdown")
    assert a.startswith("news__a__") and a.endswith(".md")
    h = hashlib.md5(b"news/a.html").hexdigest()[:8]
    assert a == f"news__a__{h}.md"
    b = K.make_flat_filename("other/a.html", "markdown")
    assert a != b  # same basename, different dirs → different hash
    assert K.make_flat_filename("x/y/z.html", "txt").endswith(".txt")


# -- reflow + markdown assembly ---------------------------------------------

def test_reflow_blank_line_mode():
    text = "one\ntwo\n\nthree\nfour\n"
    assert K.reflow_text_to_markdown_paragraphs(text) == "one two\n\nthree four"


def test_reflow_grouping_mode():
    text = "\n".join(f"s{i}" for i in range(6))
    out = K.reflow_text_to_markdown_paragraphs(text)
    assert out == "s0 s1 s2 s3\n\ns4 s5"


def test_reflow_char_budget():
    long_line = "x" * 900
    out = K.reflow_text_to_markdown_paragraphs(f"{long_line}\nnext")
    assert out == f"{long_line}\n\nnext"


def test_reflow_empty():
    assert K.reflow_text_to_markdown_paragraphs("") == ""
    assert K.reflow_text_to_markdown_paragraphs(None) == ""


def test_format_article_markdown_full():
    data = {
        "title": "Test Article", "author": "John Doe", "date": "2023-01-01",
        "sitename": "Test News", "description": "This is a test description",
        "categories": ["Tech", "AI"], "tags": ["testing", "python"],
        "text": "This is the main content",
    }
    md = K.format_article_markdown(data, "This is the main content")
    for needle in ("# Test Article", "**Author:** John Doe",
                   "**Published:** 2023-01-01", "**Source:** Test News",
                   "## Summary", "This is a test description",
                   "**Categories:** Tech, AI", "**Tags:** testing, python",
                   "## Article Content", "This is the main content"):
        assert needle in md


def test_format_article_markdown_missing_fields_and_str_categories():
    md = K.format_article_markdown({"title": "Minimal Article",
                                    "categories": "Solo"}, "Content only")
    assert "# Minimal Article" in md
    assert "**Categories:** Solo" in md
    assert "**Author:**" not in md
    assert "## Article Content" in md


# -- search substrate -------------------------------------------------------

def test_snippet_window_and_newlines():
    content = "A" * 100 + "\nneedle\n" + "B" * 200
    s = K.snippet(content, "NEEDLE")
    assert "needle" in s
    assert "\n" not in s
    assert len(s) <= 200
    assert K.snippet(content, "missing") is None


def test_tokenize_query_stopwords_and_fallback():
    assert K.tokenize_query("What is the latest news about AI?") == ["about", "ai"]
    # all-stopword query falls back to the raw tokens (news_server.py:99-101)
    assert K.tokenize_query("What is the") == ["what", "is", "the"]


def test_score_content():
    terms = ["spark", "engine"]
    assert K.score_content("Spark spark ENGINE x", terms) == 3
    assert K.score_content("nothing here", terms) == 0


# -- URL canonicalization ---------------------------------------------------

def test_canonicalize_url():
    assert (K.canonicalize_url("HTTPS://Example.COM:443/Path?q=1#frag")
            == "https://example.com/Path?q=1")
    assert (K.canonicalize_url("http://Host.net:80") == "http://host.net/")
    assert (K.canonicalize_url("http://host.net:8080/a#x")
            == "http://host.net:8080/a")
    # path case is preserved, host case is not
    assert K.canonicalize_url("http://A.B/C") == "http://a.b/C"
    assert K.url_host("https://User@Ex.com:8443/x") == "ex.com"


# -- text-analysis ops ------------------------------------------------------

def test_lang_id_deterministic():
    assert K.lang_id("der hund ist nicht ein") == "de"
    assert K.lang_id("the cat is on the mat") == "en"
    assert K.lang_id("zzz qqq") == "und"


def test_token_counts():
    assert K.token_count("a b  c") == 3
    assert K.bpe_ish_token_count("hello, world 42") == 4  # hello , world 42
    assert K.bpe_ish_token_count("it's x2") == 5  # it ' s x 2


def test_quality_score_shape():
    q = K.quality_score("The quick brown fox.")
    assert q["n_tokens"] == 4
    assert 0 < q["punct_ratio"] < 0.1
    assert q["stopword_ratio"] == 0.25


def test_fingerprint_and_simhash_stable():
    assert K.fingerprint64("a b c") == K.fingerprint64("A  B\tC")
    assert K.simhash32("hello world") == K.simhash32("hello world")
    # near-identical docs → small hamming distance
    a, b = K.simhash32("the quick brown fox jumps " * 10), K.simhash32(
        "the quick brown fox jumped " * 10)
    assert bin(a ^ b).count("1") <= 12


def test_minhash_shingles_jaccard():
    assert K.shingles("a b c d", 3) == ["a b c", "b c d"]
    sig1 = K.minhash_signature("the quick brown fox jumps over the lazy dog")
    sig2 = K.minhash_signature("the quick brown fox jumps over the lazy dog")
    assert sig1 == sig2 and len(sig1) == 16
    assert K.jaccard({1, 2}, {2, 3}) == pytest.approx(1 / 3)


# ---------------------------------------------------------------------------
# robots.txt parsing (engine extension — north_rule politeness)
# ---------------------------------------------------------------------------

SAMPLE_ROBOTS = """
# comments ignored
User-agent: *
Disallow: /private/
Allow: /private/ok/
Crawl-delay: 1.5

User-agent: badbot
Disallow: /
"""


def test_parse_robots_wildcard_group():
    from python_web_scraper_cleaner_spark.functions.kernel import (
        parse_robots_txt)
    r = parse_robots_txt(SAMPLE_ROBOTS, "*")
    assert r == {"disallow_prefixes": ["/private/"],
                 "allow_prefixes": ["/private/ok/"],
                 "crawl_delay_ms": 1500}


def test_parse_robots_specific_agent_wins():
    from python_web_scraper_cleaner_spark.functions.kernel import (
        parse_robots_txt)
    r = parse_robots_txt(SAMPLE_ROBOTS, "badbot")
    assert r["disallow_prefixes"] == ["/"]
    assert r["crawl_delay_ms"] == 0


def test_parse_robots_empty_and_garbage():
    from python_web_scraper_cleaner_spark.functions.kernel import (
        parse_robots_txt)
    empty = {"disallow_prefixes": [], "allow_prefixes": [],
             "crawl_delay_ms": 0}
    assert parse_robots_txt(None) == empty
    assert parse_robots_txt("") == empty
    assert parse_robots_txt("no colons here\n\x00\xff") == empty
    # rule lines before any user-agent group are ignored
    assert parse_robots_txt("Disallow: /\n") == empty


def test_robots_allows_longest_match():
    from python_web_scraper_cleaner_spark.functions.kernel import (
        parse_robots_txt, robots_allows)
    r = parse_robots_txt(SAMPLE_ROBOTS, "*")
    assert not robots_allows("/private/x", r)
    assert robots_allows("/private/ok/x", r)     # longer Allow wins
    assert robots_allows("/public", r)
    assert robots_allows("/", r)


def test_robots_pattern_regex_translation():
    import re

    from python_web_scraper_cleaner_spark.functions.kernel import (
        robots_pattern_regex)
    rx = robots_pattern_regex("/*.pdf$")
    assert re.match(rx, "/a/b.pdf")
    assert not re.match(rx, "/a/b.pdf?x=1")      # $ anchors at end
    assert not re.match(rx, "/a/b.pdfx")
    rx = robots_pattern_regex("/search*")
    assert re.match(rx, "/search")
    assert re.match(rx, "/search/deep?q=1")
    assert not re.match(rx, "/sea")
    # mid-pattern '$' is a literal octet, only a TRAILING '$' anchors
    rx = robots_pattern_regex("/a$b")
    assert re.match(rx, "/a$bc")
    assert not re.match(rx, "/ab")
    # regex metacharacters in paths are literal
    rx = robots_pattern_regex("/p(1).html$")
    assert re.match(rx, "/p(1).html")
    assert not re.match(rx, "/p11chtml")


def test_robots_wildcard_decision_longest_and_ties():
    from python_web_scraper_cleaner_spark.functions.kernel import (
        robots_wildcard_decision)
    # equal-length Allow and Disallow both match → Allow wins (RFC 9309)
    ok, dlen = robots_wildcard_decision("/cat0/file60.pdf",
                                        ["/cat0/*"], ["/*.pdf$"])
    assert ok and dlen == 7
    # longer Disallow beats shorter Allow
    ok, dlen = robots_wildcard_decision("/cat/x.pdf",
                                        ["/cat*"], ["/cat/*.pdf$"])
    assert not ok and dlen == 11
    # no rule matches → allowed, decisive -1
    ok, dlen = robots_wildcard_decision("/other", ["/a*"], ["/b*"])
    assert ok and dlen == -1
    # blanket Disallow rescued by extension Allow
    ok, _ = robots_wildcard_decision("/x.html", ["/*.html$"], ["/"])
    assert ok
    ok, _ = robots_wildcard_decision("/x.gif", ["/*.html$"], ["/"])
    assert not ok


def test_public_suffix_registrable_psl_semantics():
    from python_web_scraper_cleaner_spark.functions.kernel import (
        public_suffix_registrable)
    rules = ["com", "uk", "co.uk", "*.ck", "!www.ck"]
    f = lambda h: public_suffix_registrable(h, rules)
    assert f("a.example.com") == ("com", "example.com")
    assert f("Example.COM") == ("com", "example.com")      # case-folds
    assert f("com") == ("com", None)                       # host IS a PS
    # longest rule wins: co.uk beats uk
    assert f("b.x.co.uk") == ("co.uk", "x.co.uk")
    assert f("d.uk") == ("uk", "d.uk")
    # wildcard: any label + ck is the public suffix
    assert f("c.foo.ck") == ("foo.ck", "c.foo.ck")
    assert f("foo.ck") == ("foo.ck", None)
    # exception beats the wildcard: www.ck is registrable under ck
    assert f("www.ck") == ("ck", "www.ck")
    assert f("sub.www.ck") == ("ck", "www.ck")
    # no rule matches → prevailing-* default (last label)
    assert f("solo") == ("solo", None)
    assert f("x.unknown-tld") == ("unknown-tld", "x.unknown-tld")


def test_parse_robots_malformed_delays():
    from python_web_scraper_cleaner_spark.functions.kernel import (
        parse_robots_txt)
    for bad in ("nan", "inf", "-inf", "1e999", "-5", "99999999"):
        r = parse_robots_txt(f"User-agent: *\nCrawl-delay: {bad}\n")
        assert r["crawl_delay_ms"] == 0, bad
    r = parse_robots_txt("User-agent: *\nCrawl-delay: 2.5\n")
    assert r["crawl_delay_ms"] == 2500


def test_extract_links_null_or_odd_base_url():
    """One null/odd url row must never raise (it would fail the whole
    Spark task): null base → relative links drop, absolute links keep."""
    from python_web_scraper_cleaner_spark.functions.kernel import \
        extract_links
    html = ('<a href="/rel">r</a> <a href="https://x.example/a">a</a> '
            '<a href="mailto:z@x">m</a>')
    assert extract_links(html, None) == ["https://x.example/a"]
    assert extract_links(html, "") == ["https://x.example/a"]
    assert extract_links(html, "https://base.example/dir/") == [
        "https://base.example/rel", "https://x.example/a"]
    assert extract_links(b"", "https://b.example/") == []


# ---------------------------------------------------------------------------
# round-5 extraction-core review regressions
# ---------------------------------------------------------------------------


def test_meta_content_keeps_other_quote_char():
    from python_web_scraper_cleaner_spark.functions.kernel import _meta_map
    m = _meta_map('<meta name="description" content="John\'s page of '
                  '&quot;things&quot;">')
    assert m["description"] == 'John\'s page of "things"'
    m2 = _meta_map("<meta content='say \"hi\" now' name='author'>")
    assert m2["author"] == 'say "hi" now'


def test_url_host_ipv6_brackets():
    from python_web_scraper_cleaner_spark.functions.kernel import (
        canonicalize_url, url_host)
    assert url_host("https://[2001:db8::1]:8443/a") == "[2001:db8::1]"
    assert url_host("https://[::1]/a") == "[::1]"
    assert canonicalize_url("HTTP://[::1]:80/x") == "http://[::1]/x"
    assert canonicalize_url("https://[2001:DB8::1]:443/y") \
        == "https://[2001:db8::1]/y"
    # non-default port survives
    assert canonicalize_url("https://[::1]:8443/y") == "https://[::1]:8443/y"


def test_robots_prefix_path_handles_metacharacter_rules():
    from python_web_scraper_cleaner_spark.functions.kernel import (
        parse_robots_txt, robots_allows)
    r = parse_robots_txt("User-agent: *\nDisallow: /private*", "*")
    # raw pattern preserved…
    assert r["disallow_prefixes"] == ["/private*"]
    # …and matched as an RFC 9309 pattern, never as a literal prefix
    assert robots_allows("/private/x", r) is False
    assert robots_allows("/public/x", r) is True
    # $-anchored disallow blocks the exact path
    r2 = parse_robots_txt("User-agent: *\nDisallow: /exact$", "*")
    assert robots_allows("/exact", r2) is False
    # the longer matching Allow pattern wins (RFC 9309 §2.2.2)
    r3 = parse_robots_txt(
        "User-agent: *\nDisallow: /p\nAllow: /p/ok*", "*")
    assert robots_allows("/p/ok-page", r3) is True


def test_robots_empty_user_agent_token_is_ignored():
    from python_web_scraper_cleaner_spark.functions.kernel import (
        parse_robots_txt)
    r = parse_robots_txt(
        "User-agent:\nDisallow: /\n\nUser-agent: *\nDisallow: /tmp",
        "mybot")
    assert r["disallow_prefixes"] == ["/tmp"]


def test_table_cell_with_block_elements_stays_in_row():
    from python_web_scraper_cleaner_spark.functions.kernel import (
        _stdlib_extract)
    out = _stdlib_extract(
        "<table><tr><td><p>cell text</p></td><td>b2</td></tr></table>")
    assert out == "cell text | b2"
    # unclosed row must not leak in-row state past the table
    out2 = _stdlib_extract(
        "<table><tr><td>a</table><p>after paragraph</p>")
    assert "after paragraph" in out2.split("\n")


def test_c4_edge_trim_matches_word_split_class():
    from python_web_scraper_cleaner_spark.functions.kernel import c4_clean
    base = ("Valid sentence number one here.\nValid sentence number two "
            "here.\nValid sentence number three here.")
    # leading \x0b must not inflate the word count of a 4-word line
    r = c4_clean(base + "\n\x0bone two three four.")
    assert r["n_cand"] == 3
    # trailing \x0b must not hide the terminal mark
    r2 = c4_clean(base + "\nValid sentence number four here.\x0b")
    assert r2["n_cand"] == 4
