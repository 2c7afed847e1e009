"""Canonical text extraction — THE definition of 'extracted text'
(BASELINE.json input_hint: byte-identical extracted text per url).

Drop script/style blocks, replace every tag with a newline, collapse
intra-line whitespace, drop blank lines.  The fixture generator writes
``pages.text`` with :func:`html_to_text`; the engine's parser
reproduces it from ``pages.html`` via the vectorized
:func:`html_to_text_series` built from the SAME compiled patterns
(SURVEY.md §7.4 byte-exactness mitigation), verified equal in
tests/test_functions.py.
"""

from __future__ import annotations

import re

import pandas as pd

RX_SCRIPT = re.compile(r"(?is)<(script|style)[^>]*>.*?</\1>")
RX_TAG = re.compile(r"(?s)<[^>]+>")
RX_WS = re.compile(r"[ \t\r\f\v]+")
RX_BLANKS = re.compile(r"\n{2,}")
RX_LINE_EDGE = re.compile(r" *\n *")


def html_to_text(html: str) -> str:
    s = RX_SCRIPT.sub(" ", html)
    s = RX_TAG.sub("\n", s)
    lines = [RX_WS.sub(" ", ln).strip(" ") for ln in s.split("\n")]
    return "\n".join(ln for ln in lines if ln)


def html_to_text_series(html: pd.Series) -> pd.Series:
    """Vectorized twin of :func:`html_to_text` (pandas .str ops over the
    same regexes; equality is unit-tested)."""
    s = html.str.replace(RX_SCRIPT, " ", regex=True)
    s = s.str.replace(RX_TAG, "\n", regex=True)
    s = s.str.replace(RX_WS, " ", regex=True)
    s = s.str.replace(RX_LINE_EDGE, "\n", regex=True)
    s = s.str.replace(RX_BLANKS, "\n", regex=True)
    # at most one space or one newline is left at either end (from
    # text before the first tag or after the last one)
    return s.str.strip(" \n")
