"""Extract stage: html (binary) -> text (string), byte-identical.

Analog of the reference's header parsing (make_headers_from_string,
/root/reference/gemProc2caom2/tests/test_provenance_augmentation.py:
163-173): the raw stored payload is parsed into the structured fields
every later stage consumes. The per-row invariant is byte-identical
extracted text per url — pinned by golden fixtures exactly as the
reference pins Observation XML per input file
(tests/test_main_app.py:171-186).

Implementation: one Arrow-batched pandas UDF around a pure scalar
kernel. Regexes are compiled once per executor at module import (the
per-process-init analog of composable.py:111-113); pandas string dtype
pitfalls are avoided by building a plain object Series from Python
strs, so no dtype coercion can alter bytes.
"""

from __future__ import annotations

import html as _htmllib
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# compiled once per executor process
_SCRIPT_RE = re.compile(r"(?is)<(script|style|noscript)\b.*?</\1\s*>")
_COMMENT_RE = re.compile(r"(?s)<!--.*?-->")
_BLOCK_TAG_RE = re.compile(
    r"(?i)</?(?:p|div|br|li|ul|ol|h[1-6]|tr|table|nav|footer|header|section|article)\b[^>]*>"
)
_TAG_RE = re.compile(r"(?s)<[^>]+>")
_WS_RE = re.compile(r"[ \t\r\f\v]+")

# boilerplate lines dropped post-strip (nav/footer chrome) — the web
# analog of the reference discarding non-science extensions
# (main_app.py:214-224: EXTNAME not in SCI/DQ/VAR -> auxiliary/dropped)
_BOILERPLATE_LINES = frozenset(
    {"home", "about", "contact", "login", "sign up", "menu", "search",
     "privacy policy", "terms of service", "all rights reserved",
     "copyright", "skip to content", "subscribe", "next", "previous"}
)


def extract_text_scalar(html_bytes: bytes | None) -> str | None:
    """Pure kernel: deterministic HTML -> visible text.

    Decode UTF-8 with U+FFFD replacement, drop script/style/comments,
    turn block tags into newlines, strip remaining tags, unescape
    entities, normalize intra-line whitespace, drop empty and known
    boilerplate lines, join with single newlines.
    """
    if html_bytes is None:
        return None
    s = bytes(html_bytes).decode("utf-8", errors="replace")
    s = _SCRIPT_RE.sub(" ", s)
    s = _COMMENT_RE.sub(" ", s)
    s = _BLOCK_TAG_RE.sub("\n", s)
    s = _TAG_RE.sub(" ", s)
    s = _htmllib.unescape(s)
    out_lines = []
    for line in s.split("\n"):
        line = _WS_RE.sub(" ", line).strip()
        if not line:
            continue
        if line.lower() in _BOILERPLATE_LINES:
            continue
        out_lines.append(line)
    return "\n".join(out_lines)


@F.pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    # object dtype on purpose: pandas' Arrow-backed string dtype must not
    # get a chance to normalize anything
    return pd.Series(
        [extract_text_scalar(b) for b in html], dtype="object", index=html.index
    )
