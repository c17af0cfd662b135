"""EntityPreprocessingTagger helpers — the sentence-position test and
quote normalization.

Semantics re-derived from
palladian-core/src/main/java/ws/palladian/extraction/location/EntityPreprocessingTagger.java:249-252
and StringHelper.normalizeQuotes. `normalize_quotes` is shared by the
context-pattern and Wikipedia case-dictionary stages.
"""

from __future__ import annotations

import re

_WITHIN = re.compile(r".*[A-Za-z0-9,]+\s")


def is_within_sentence(text: str, start: int) -> bool:
    """True when the annotation is not the first word of a sentence —
    the 10 chars left of it end with word-char(s) + whitespace
    (:249-252)."""
    return bool(_WITHIN.fullmatch(text[max(0, start - 10):start]))


def normalize_quotes(text: str) -> str:
    """StringHelper.normalizeQuotes port (StringHelper.java:2032-2037)."""
    text = re.sub("[„“”»«]", '"', text)
    text = re.sub("[’‘]", "'", text)
    return re.sub("[–—]", "-", text)
