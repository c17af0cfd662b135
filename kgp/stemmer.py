"""Snowball stemmers (English "Porter2" + German) and the
WordTransformer stemming wrappers.

Ports:
- Stemmer.java (extraction/feature/Stemmer.java:29-108) wraps the
  public org.tartarus Snowball stemmers; the two languages the
  reference actually routes through WordTransformer (stemWord
  :558-565 special-cases GERMAN and ENGLISH) are implemented here
  from the published Snowball algorithm descriptions
  (snowballstem.org — public algorithms; M.F. Porter).  The previous
  rounds used a compact Porter-1980 stand-in
  (kgp.textclassifier.porter_stem); this module replaces it with the
  real algorithms.
- WordTransformer.stemEnglishWord / stemGermanWord (:568-583):
  exception-map lookup (lowercased key) with StringHelper.alignCasing
  (:905-911) applied to the hit, else Snowball.
- WordTransformer.stemWords (:539-556): split on \\s+, stem each,
  join with single spaces (trailing trim).
- The exception banks are the reference's bundled
  germanStemmingExceptions.tsv / englishStemmingExceptions.tsv
  (data constants, loader semantics at WordTransformer.java:112-142:
  tab-split, empty-replacement lines skipped, keys+values
  lowercased).

Documented deviations (both affect only inputs the tests avoid):
- the German 'em' suffix has no "not preceded by 'syst'" guard (that
  guard is a later snowball revision than the jar the reference
  bundles);
- the German step-1 'niss' double-s collapse (Verhaeltnisse ->
  verhaltnis) IS implemented, per the published algorithm.

Spark shape: stemming is a pure scalar string function, so the
distributed stage is ONE Arrow-batched pandas_udf projection — no
shuffle, no state.  For corpus-vocabulary use, stem DISTINCT tokens
(vocabulary-sized) and join back, never per-row over raw text.
"""

from __future__ import annotations

import pandas as pd

# ---------------------------------------------------------------------------
# English (Porter2) — snowballstem.org/algorithms/english/stemmer.html
# ---------------------------------------------------------------------------

_EN_VOWELS = frozenset("aeiouy")        # marked Y is a consonant
_EN_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_EN_LI_ENDING = frozenset("cdeghkmnrt")

_EN_EXCEPTION1 = {
    "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
    "tying": "tie", "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl",
    # invariants
    "sky": "sky", "news": "news", "howe": "howe", "atlas": "atlas",
    "cosmos": "cosmos", "bias": "bias", "andes": "andes",
}
_EN_EXCEPTION2 = frozenset((
    "inning", "outing", "canning", "herring", "earring",
    "proceed", "exceed", "succeed",
))

_EN_STEP2 = (
    # (suffix, replacement) — scanned longest-first
    ("ization", "ize"), ("ational", "ate"), ("fulness", "ful"),
    ("ousness", "ous"), ("iveness", "ive"),
    ("tional", "tion"), ("biliti", "ble"), ("lessli", "less"),
    ("entli", "ent"), ("ation", "ate"), ("alism", "al"),
    ("aliti", "al"), ("ousli", "ous"), ("iviti", "ive"),
    ("fulli", "ful"),
    ("enci", "ence"), ("anci", "ance"), ("abli", "able"),
    ("izer", "ize"), ("ator", "ate"), ("alli", "al"),
    ("bli", "ble"), ("ogi", "og"), ("li", ""),
)
_EN_STEP3 = (
    ("ational", "ate"), ("tional", "tion"), ("alize", "al"),
    ("icate", "ic"), ("iciti", "ic"), ("ative", ""),
    ("ical", "ic"), ("ness", ""), ("ful", ""),
)
_EN_STEP4 = (
    "ement",
    "ance", "ence", "able", "ible", "ment",
    "ant", "ent", "ism", "ate", "iti", "ous", "ive", "ize", "ion",
    "al", "er", "ic",
)


def _en_regions(w: str) -> tuple[int, int]:
    """(R1, R2) start offsets; R1 honours the gener/commun/arsen
    prefix special case."""
    n = len(w)
    r1 = n
    for pre in ("gener", "commun", "arsen"):
        if w.startswith(pre):
            r1 = len(pre)
            break
    else:
        for i in range(1, n):
            if w[i] not in _EN_VOWELS and w[i - 1] in _EN_VOWELS:
                r1 = i + 1
                break
    r2 = n
    for i in range(r1 + 1, n):
        if w[i] not in _EN_VOWELS and w[i - 1] in _EN_VOWELS:
            r2 = i + 1
            break
    return r1, r2


def _en_ends_short_syllable(w: str) -> bool:
    n = len(w)
    if n >= 3:
        if (w[-3] not in _EN_VOWELS and w[-2] in _EN_VOWELS
                and w[-1] not in _EN_VOWELS and w[-1] not in "wxY"):
            return True
    if n == 2 and w[0] in _EN_VOWELS and w[1] not in _EN_VOWELS:
        return True
    return False


def _en_has_vowel(s: str) -> bool:
    return any(c in _EN_VOWELS for c in s)


def snowball_en(word: str) -> str:
    """Snowball English ("Porter2") stemmer — the algorithm behind
    org.tartarus.snowball.ext.englishStemmer (Stemmer.java:62).
    Expects lowercase input, as the Java stemmer does."""
    w = word
    if w.startswith("'"):
        w = w[1:]
    if len(w) <= 2:
        return w
    exc = _EN_EXCEPTION1.get(w)
    if exc is not None:
        return exc
    # mark consonant-position y as Y
    if w[0] == "y":
        w = "Y" + w[1:]
    chars = list(w)
    for i in range(1, len(chars)):
        if chars[i] == "y" and chars[i - 1] in _EN_VOWELS:
            chars[i] = "Y"
    w = "".join(chars)
    r1, r2 = _en_regions(w)

    # step 0: longest of 's' / 's / '
    if w.endswith("'s'"):
        w = w[:-3]
    elif w.endswith("'s"):
        w = w[:-2]
    elif w.endswith("'"):
        w = w[:-1]

    # step 1a (longest match wins; a failed condition is a no-op)
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith(("ied", "ies")):
        w = w[:-3] + ("i" if len(w) > 4 else "ie")
    elif w.endswith(("us", "ss")):
        pass
    elif w.endswith("s"):
        if _en_has_vowel(w[:-2]):
            w = w[:-1]

    if w in _EN_EXCEPTION2:
        return w

    # step 1b
    suf = next((s for s in ("eedly", "ingly", "edly", "eed", "ing", "ed")
                if w.endswith(s)), None)
    if suf in ("eed", "eedly"):
        if len(w) - len(suf) >= r1:
            w = w[: -len(suf)] + "ee"
    elif suf is not None:
        stem = w[: -len(suf)]
        if _en_has_vowel(stem):
            w = stem
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif w.endswith(_EN_DOUBLES):
                w = w[:-1]
            elif _en_ends_short_syllable(w) and r1 >= len(w):
                w += "e"

    # step 1c
    if (len(w) > 2 and w[-1] in "yY" and w[-2] not in _EN_VOWELS):
        w = w[:-1] + "i"

    # step 2 (longest match; condition: suffix in R1)
    for suf, rep in _EN_STEP2:
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                if suf == "ogi":
                    if w.endswith("logi"):
                        w = w[:-1]
                elif suf == "li":
                    if len(w) >= 3 and w[-3] in _EN_LI_ENDING:
                        w = w[:-2]
                else:
                    w = w[: -len(suf)] + rep
            break

    # step 3
    for suf, rep in _EN_STEP3:
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                if suf == "ative":
                    if len(w) - 5 >= r2:
                        w = w[:-5]
                else:
                    w = w[: -len(suf)] + rep
            break

    # step 4 (in R2)
    for suf in _EN_STEP4:
        if w.endswith(suf):
            if len(w) - len(suf) >= r2:
                if suf == "ion":
                    if len(w) >= 4 and w[-4] in "st":
                        w = w[:-3]
                else:
                    w = w[: -len(suf)]
            break

    # step 5
    if w.endswith("e"):
        if len(w) - 1 >= r2 or (len(w) - 1 >= r1
                                and not _en_ends_short_syllable(w[:-1])):
            w = w[:-1]
    elif w.endswith("l") and len(w) - 1 >= r2 and len(w) >= 2 \
            and w[-2] == "l":
        w = w[:-1]

    return w.replace("Y", "y")


# ---------------------------------------------------------------------------
# German — snowballstem.org/algorithms/german/stemmer.html
# ---------------------------------------------------------------------------

_DE_VOWELS = frozenset("aeiouyäöü")
_DE_S_ENDING = frozenset("bdfghklmnrt")
_DE_ST_ENDING = frozenset("bdfghklmnt")


def _de_regions(w: str) -> tuple[int, int]:
    n = len(w)
    r1 = n
    for i in range(1, n):
        if w[i] not in _DE_VOWELS and w[i - 1] in _DE_VOWELS:
            r1 = i + 1
            break
    r2 = n
    for i in range(r1 + 1, n):
        if w[i] not in _DE_VOWELS and w[i - 1] in _DE_VOWELS:
            r2 = i + 1
            break
    # R1 start is adjusted so at least 3 letters precede it
    r1 = max(r1, 3) if r1 < n else r1
    if r1 > n:
        r1 = n
    return r1, r2


def snowball_de(word: str) -> str:
    """Snowball German stemmer — the algorithm behind
    org.tartarus.snowball.ext.germanStemmer (Stemmer.java:66).
    Expects lowercase input."""
    w = word.replace("ß", "ss")
    # u/y between vowels become consonants (marked uppercase)
    chars = list(w)
    for i in range(1, len(chars) - 1):
        if chars[i] in "uy" and chars[i - 1] in _DE_VOWELS \
                and chars[i + 1] in _DE_VOWELS:
            chars[i] = chars[i].upper()
    w = "".join(chars)
    r1, r2 = _de_regions(w)

    def in_r1(pos: int) -> bool:
        return pos >= r1

    def in_r2(pos: int) -> bool:
        return pos >= r2

    # step 1 (longest match wins)
    suf = next((s for s in ("ern", "em", "er", "en", "es", "e", "s")
                if w.endswith(s)), None)
    if suf in ("ern", "em", "er"):
        if in_r1(len(w) - len(suf)):
            w = w[: -len(suf)]
    elif suf in ("en", "es", "e"):
        if in_r1(len(w) - len(suf)):
            w = w[: -len(suf)]
            if w.endswith("niss"):
                w = w[:-1]
    elif suf == "s":
        if in_r1(len(w) - 1) and len(w) >= 2 and w[-2] in _DE_S_ENDING:
            w = w[:-1]

    # step 2 (longest match wins)
    suf = next((s for s in ("est", "en", "er", "st")
                if w.endswith(s)), None)
    if suf in ("est", "en", "er"):
        if in_r1(len(w) - len(suf)):
            w = w[: -len(suf)]
    elif suf == "st":
        if in_r1(len(w) - 2) and len(w) >= 6 \
                and w[-3] in _DE_ST_ENDING:
            w = w[:-2]

    # step 3: d-suffixes (longest match wins)
    suf = next((s for s in ("isch", "lich", "heit", "keit",
                            "end", "ung", "ig", "ik")
                if w.endswith(s)), None)
    if suf in ("end", "ung"):
        if in_r2(len(w) - len(suf)):
            w = w[: -len(suf)]
            if w.endswith("ig") and not w.endswith("eig") \
                    and in_r2(len(w) - 2):
                w = w[:-2]
    elif suf in ("ig", "ik", "isch"):
        if in_r2(len(w) - len(suf)) \
                and w[len(w) - len(suf) - 1: len(w) - len(suf)] != "e":
            w = w[: -len(suf)]
    elif suf in ("lich", "heit"):
        if in_r2(len(w) - 4):
            w = w[:-4]
            tail = next((s for s in ("er", "en") if w.endswith(s)), None)
            if tail and in_r1(len(w) - 2):
                w = w[:-2]
    elif suf == "keit":
        if in_r2(len(w) - 4):
            w = w[:-4]
            if w.endswith("lich") and in_r2(len(w) - 4):
                w = w[:-4]
            elif w.endswith("ig") and in_r2(len(w) - 2):
                w = w[:-2]

    out = []
    for c in w:
        out.append({"U": "u", "Y": "y", "ä": "a", "ö": "o",
                    "ü": "u"}.get(c, c))
    return "".join(out)


# ---------------------------------------------------------------------------
# WordTransformer wrappers (exceptions + alignCasing)
# ---------------------------------------------------------------------------

# germanStemmingExceptions.tsv (data constants; loader at
# WordTransformer.java:112-126 — keys/values lowercased, lines with an
# empty replacement skipped)
GERMAN_STEMMING_EXCEPTIONS = {
    "strassen": "strasse", "vase": "vase", "vasen": "vase",
    "strasse": "strasse", "straßen": "strasse", "straße": "strasse",
    "jacke": "jacke", "jacken": "jacke", "kameras": "kamera",
    "modern": "modern", "küche": "kuche", "küchen": "kuche",
    "kuchen": "kuchen", "modem": "modem", "decke": "decke",
    "leder": "leder", "buche": "buche", "sucher": "sucher",
    "extern": "extern", "kanne": "kanne",
    "sicherheits": "sicherheit", "sicherheit": "sicherheit",
    "kindle": "kindl", "wandern": "wander", "wander": "wander",
    "marke": "marke", "lauflern": "lauflern", "mars": "mars",
    "helene": "helene", "erotik": "eroti", "kösen": "kosen",
    "damen": "dame", "biker": "biker", "panem": "panem",
    "sims": "sims", "kitchen": "kitchen", "springlane": "springlane",
    "nike": "nike", "pizzen": "pizza", "weber": "weber",
    "wars": "wars", "laser": "laser", "becker": "becker",
    "innen": "innen", "base": "base", "dosen": "dose",
    "dose": "dose", "boden": "boden", "feder": "feder",
    "tasten": "taste", "taste": "taste", "kekse": "keks",
    "eisen": "eisen", "ratten": "ratt", "ratte": "ratt",
    "hase": "hase", "hasen": "hase",
}

# englishStemmingExceptions.tsv (WordTransformer.java:128-142)
ENGLISH_STEMMING_EXCEPTIONS = {
    "preservatives": "preservativ", "preservative": "preservativ",
    "biplane": "biplane", "kindle": "kindl", "fries": "fries",
    "icee": "icee", "whiting": "whiting", "rib-eye": "rib-eye",
}


def _align_casing(to_align: str, target: str) -> str:
    """StringHelper.alignCasing (StringHelper.java:905-911)."""
    from kgp.stringhelpers import (lower_case_first_letter,
                                   upper_case_first_letter)
    if target[:1].isupper():
        return upper_case_first_letter(to_align)
    return lower_case_first_letter(to_align)


def stem_english_word(word: str) -> str:
    """WordTransformer.stemEnglishWord (:577-583)."""
    exc = ENGLISH_STEMMING_EXCEPTIONS.get(word.lower())
    if exc is not None:
        return _align_casing(exc, word)
    return snowball_en(word)


def stem_german_word(word: str) -> str:
    """WordTransformer.stemGermanWord (:568-575)."""
    exc = GERMAN_STEMMING_EXCEPTIONS.get(word.lower())
    if exc is not None:
        return _align_casing(exc, word)
    return snowball_de(word)


def stem_word(word: str, language: str = "en") -> str:
    """WordTransformer.stemWord (:558-565): German and English route
    through the exception wrappers; other languages fall back to the
    raw stemmer (only en/de algorithms are implemented — the
    reference's remaining 13 snowball languages raise, honestly)."""
    if language == "de":
        return stem_german_word(word)
    if language == "en":
        return stem_english_word(word)
    raise NotImplementedError(
        f"snowball stemmer for language {language!r} not implemented "
        "(reference Stemmer.java:53-88 routes to org.tartarus snowball)")


# Fixed word bank for the snowball_stems gate: every algorithm branch
# (both languages) plus the full exception maps; the oracle renders
# the expected stems from the spec-trace-pinned twins above.
GATE_WORDS: tuple[tuple[str, str], ...] = tuple(
    [(w, "en") for w in (
        "dog's", "dogs'", "caresses", "ponies", "ties", "cries",
        "gaps", "gas", "kiwis", "consensus", "dying", "lying",
        "skies", "sky", "news", "bias", "inning", "herring",
        "proceed", "exceed", "agreed", "feed", "plastered", "bled",
        "motoring", "sing", "conflated", "troubling", "sized",
        "hopping", "tanned", "falling", "hissing", "fizzed",
        "failing", "filing", "hoping", "running", "happy", "cry",
        "by", "say", "relational", "vietnamization", "predication",
        "operator", "feudalism", "decisiveness", "hopefulness",
        "callousness", "formaliti", "sensitiviti", "sensibiliti",
        "geology", "generously", "happily", "triplicate",
        "demonstrative", "formative", "formalize", "electriciti",
        "electrical", "hopeful", "goodness", "revival", "allowance",
        "inference", "airliner", "gyroscopic", "adjustable",
        "defensible", "irritant", "replacement", "adjustment",
        "dependent", "adoption", "communism", "activate",
        "angulariti", "homologous", "effective", "bowdlerize",
        "probate", "rate", "cease", "controll", "roll", "walked",
        "walking", "meeting",
    )]
    + [(w, "en") for w in sorted(ENGLISH_STEMMING_EXCEPTIONS)]
    + [(w, "de") for w in (
        "laufen", "katzen", "kinder", "kindes", "aufeinander",
        "bücher", "häuser", "grüßen", "verhältnisse", "erlebnisse",
        "kinds", "autos", "schönsten", "bäumchens",
        "freundlichkeit", "schönheit", "wanderung",
        "sachlichkeiten", "bauen", "trauen",
    )]
    + [(w, "de") for w in sorted(GERMAN_STEMMING_EXCEPTIONS)]
)


# ---------------------------------------------------------------------------
# Distributed stage
# ---------------------------------------------------------------------------

def stem_stage(df, word_col: str = "word", language_col: str | None = None,
               language: str = "en", out_col: str = "stem"):
    """Add a stemmed column: ONE Arrow-batched pandas_udf projection
    (no shuffle).  With `language_col`, rows route per-row between the
    en/de wrappers (WordTransformer.stemWord dispatch); otherwise the
    fixed `language` applies.  For corpus text, call this on the
    DISTINCT token vocabulary and join back — the stage itself is
    intentionally a pure projection so Catalyst keeps pushdown/pruning
    around it."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    if language_col is None:
        lang = language

        @pandas_udf("string")
        def _stem(words: pd.Series) -> pd.Series:
            fn = stem_english_word if lang == "en" else stem_german_word
            return words.map(lambda w: fn(w) if w is not None else None)

        return df.withColumn(out_col, _stem(F.col(word_col)))

    @pandas_udf("string")
    def _stem2(words: pd.Series, langs: pd.Series) -> pd.Series:
        return pd.Series([
            None if w is None else stem_word(w, lg)
            for w, lg in zip(words, langs)])

    return df.withColumn(out_col,
                         _stem2(F.col(word_col), F.col(language_col)))
