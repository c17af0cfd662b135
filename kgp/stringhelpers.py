"""StringHelper scalar twins — first-letter casing and whole-word
replacement (palladian-commons helper/nlp/StringHelper.java; line
numbers below), exact to the Java incl. its quirks.
"""

from __future__ import annotations


def upper_case_first_letter(s: str) -> str:
    """StringHelper.upperCaseFirstLetter (:214-219)."""
    if not s:
        return s or ""
    return s[0].upper() + s[1:]


def lower_case_first_letter(s: str) -> str:
    if not s:
        return s or ""
    return s[0].lower() + s[1:]


def replace_word(word: str, replacement: str, text: str) -> str:
    """StringHelper.replaceWord (:577-622): case-insensitive search,
    boundaries are 'not letter/digit/dash-punctuation' on both sides,
    replacement spliced into the ORIGINAL casing; continues scanning
    after each replacement."""
    if not word:
        return text
    word = word.lower()
    lc = text.lower()
    old_index = 0
    while True:
        index = lc.find(word, old_index)
        if index == -1:
            return text
        old_index = index + len(word)
        if index == 0:
            left = True
        else:
            c = lc[index - 1]
            left = not (c.isalpha() or c.isdigit()
                        or _is_dash_punct(c))
        end = index + len(word)
        if end == len(lc):
            right = True
        else:
            c = lc[end]
            right = not (c.isalpha() or c.isdigit()
                         or _is_dash_punct(c))
        if left and right:
            text = text[:index] + replacement + text[old_index:]
            lc = text.lower()
            old_index = index + len(replacement)


def _is_dash_punct(c: str) -> bool:
    import unicodedata
    return unicodedata.category(c) == "Pd"
