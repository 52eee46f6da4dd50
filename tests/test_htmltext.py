"""HTML text extraction (``pipeline/htmltext.py``): the extractor's
whitespace is HTML's ASCII whitespace, not Python's Unicode ``\\s``."""

from bertrand_spark.pipeline.htmltext import _extract_one, _page_meta_one
from bertrand_spark.pipeline.text import py_tokenize


class TestHtmlWhitespace:
    def test_nbsp_and_line_separator_stay_in_the_text(self):
        got = _extract_one("<p>ten&nbsp;km and&#x2028;more words here</p>")
        assert got == "ten\xa0km and\u2028more words here"
        # the engine's word rule agrees: Unicode spaces stay inside a word
        assert py_tokenize(got) == ["ten\xa0km", "and\u2028more", "words", "here"]

    def test_ascii_whitespace_collapses_and_trims(self):
        got = _extract_one("<p> \t a \r\n\f b\u3000</p><p>\xa0c </p>")
        assert got == "a b\u3000\n\xa0c"

    def test_title_keeps_unicode_spaces(self):
        title = _page_meta_one("<title>\n a&nbsp;b \t</title><body>")[0]
        assert title == "a\xa0b"
