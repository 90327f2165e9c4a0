"""Text cleaning — the byte-identical invariant (F1 in SURVEY §2.3).

Reference semantics (``/root/reference/scripts/preparazione_ML/
clean_VIN_desc.py:5-18``): NaN→"", drop non-ASCII code points, map
``[\\n\\r\\t]``→space, drop ``[^\\w\\s\\d.,!?-]``, collapse whitespace
runs to one space, strip.

Two implementations:

- :func:`clean_text_expr` — native Catalyst column expression (zero
  Python on the hot path; whole-stage-codegen eligible); the one the
  engine runs. Java-regex note: after the ASCII strip the input is
  pure ASCII, where Python's
  unicode ``\\w``/``\\s`` and Java's default ASCII ``\\w``/``\\s``
  coincide ( ``\\s`` = ``[ \\t\\n\\x0B\\f\\r]`` both sides on ASCII ),
  so the chains are byte-equivalent — property-tested char-for-char
  against :func:`clean_text_py` in ``tests/test_cleaning.py``.
- :func:`clean_text_py` — the exact Python expression, the reference
  the tests hold the native expression to.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_CTRL_RE = re.compile(r"[\n\r\t]")
_SYM_RE = re.compile(r"[^\w\s\d\.,!\?\-]")
_WS_RE = re.compile(r"\s+")


def clean_text_py(text: object) -> str:
    """Reference-exact scalar implementation (clean_VIN_desc.py:5-18)."""
    if text is None or (isinstance(text, float) and text != text):
        return ""
    try:
        if pd.isna(text):
            return ""
    except (TypeError, ValueError):
        pass
    text = str(text)
    text = text.encode("ascii", "ignore").decode("ascii")
    text = _CTRL_RE.sub(" ", text)
    text = _SYM_RE.sub("", text)
    text = _WS_RE.sub(" ", text).strip()
    return text


def clean_text_expr(col: Column | str) -> Column:
    """Native column-expression clean_text (byte-identical to reference)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.coalesce(c.cast("string"), F.lit(""))
    # encode('ascii','ignore'): drop every non-ASCII UTF-16 unit (emoji
    # surrogates are both non-ASCII, so the pair vanishes, same as Python).
    c = F.regexp_replace(c, r"[^\x00-\x7F]", "")
    c = F.regexp_replace(c, r"[\n\r\t]", " ")
    # Java \w == ASCII [A-Za-z0-9_]; on ASCII-only input identical to
    # Python's unicode \w. Same for \s.
    c = F.regexp_replace(c, r"[^\w\s\d.,!?\-]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)
