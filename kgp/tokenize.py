"""Tokenization and sentence splitting (reference-semantics port).

Pure-Python text functions executed inside vectorized pandas UDFs (the
Spark stage wrappers live in kgp.html_text / kgp.mentions). Semantics
re-derived from the reference:

  * word tokens:   Tokenizer.TOKEN_SPLIT_REGEX
    (/root/reference/palladian-core/src/main/java/ws/palladian/extraction/token/Tokenizer.java:27)
  * sentences:     PalladianSentenceDetector.iterateTokens — mask URLs /
    dotted dates / smileys with 'M', split the masked text with
    SENTENCE_SPLIT_REGEX_EN/_DE, re-project spans onto the original text
    (/root/reference/palladian-core/src/main/java/ws/palladian/extraction/sentence/PalladianSentenceDetector.java:72-118)
  * "real" sentence filter: Tokenizer.getSentences(onlyRealSentences)
    (/root/reference/palladian-core/src/main/java/ws/palladian/extraction/token/Tokenizer.java:298-341)

Java-regex constructs (variable-width lookbehind, \\p{L}) need the
`regex` module; Java's \\w/\\s are ASCII so they are spelled out.
"""

from __future__ import annotations

from typing import NamedTuple

import regex


class Token(NamedTuple):
    start: int
    value: str

    @property
    def end(self) -> int:
        return self.start + len(self.value)


_W = "A-Za-z0-9_"  # Java \w (non-unicode default)

# port of Tokenizer.TOKEN_SPLIT_REGEX (Tokenizer.java:27)
TOKEN_SPLIT_PATTERN = regex.compile(
    r"(?:[A-Z][a-z]?\.)+"            # abbreviations A.B., Mr.
    r"|[\p{L}" + _W + r"+]+(?:[-.,][\p{L}" + _W + r"]+)*"  # words/compounds
    r"|\.[\p{L}" + _W + r"]+"        # .Net style
    r"|</?[\p{L}" + _W + r"]+>"      # tags
    r"|\$[0-9]+\.[0-9]+"             # money
    r"|[^" + _W + r" \t\n\x0b\f\r<]+"  # punctuation runs
)

# port of SENTENCE_SPLIT_REGEX_EN / _DE (Tokenizer.java:30-31)
SENTENCE_SPLIT_EN = regex.compile(
    "(?<!(\\.|\\()|([A-Z]\\.[A-Z]){1,10}|St|Mr|mr|Vers|Dr|dr|Prof|Nr|Rev"
    "|Mrs|mrs|Jr|jr|vs| eg|e\\.g|ca|max|Min|etc| sq| ft)"
    "((\\.|\\?|\\!)(’|”|\")+(?=\\s+[A-Z])|\\.|\\?+|\\!+)"
    "(?!(\\.|[0-9]|\"|”|'|\\)|[!?]|(com|de|fr|uk|au|ca|cn|org|net)/?\\s"
    "|\\()|[A-Za-z]{1,15}\\.|[A-Za-z]{1,15}\\(\\))"
)
SENTENCE_SPLIT_DE = regex.compile(
    "(?<!(\\.|\\()|([A-Z]\\.[A-Z]){1,10}|St|[mM]r|[dD]r|Ca|Mio|Mind|u\\.A"
    "|Inkl|Vers|Prof|[mM]s|zusätzl|äquiv|komp|quiet|elektr\\.|[jJ]r|vs|ca"
    "|engl|evtl|max|mind.|etc|Nr|Rev| sog| ident|bzw|i\\.d\\.R|v\\.a"
    "|u\\.v\\.m|o\\.k|zzgl|Min|Keyb|Elec|bspw|bsp|m\\.E|bezügl|bzgl|inkl"
    "|exkl|ggf|z\\.\\s?[bB]| max| min|\\s[a-z]|u\\.s\\.w|u\\.\\s?a|d\\.h)"
    "((\\.|\\?|\\!)(”|\")\\s[A-Z]|\\.|\\?+|\\!+)"
    "(?!(\\.|[0-9]|\"|”|'|\\)| B\\.|[!?]|(com|de|fr|uk|au|ca|cn|org|net)/?\\s"
    "|\\()|[A-Za-z]{1,15}\\.|[A-Za-z]{1,15}\\(\\))"
)

# URL masking — adapted daringfireball pattern, same shape as
# UrlHelper.URL_PATTERN (/root/reference/palladian-commons/src/main/java/ws/palladian/helper/UrlHelper.java:107-110)
_TLDS = ("com|org|net|edu|gov|mil|int|io|de|fr|uk|au|ca|cn|es|it|nl|se|ch"
         "|at|jp|ru|us|info|biz")
URL_PATTERN = regex.compile(
    r"\b(?:https?://)?(?:[0-9a-zäöü-]{1,63}\.)+(?:" + _TLDS + r")"
    r"(?:[?/][^\s()<>\[\]\"']{0,255}|/|\b)",
    regex.IGNORECASE,
)

# dotted-date masking — the DATES_WITH_DOTS subset used by the sentence
# detector (PalladianSentenceDetector.java:42-54); EU numeric + month-name
# forms are what matter for not breaking sentences at date dots.
_MONTHS = ("January|February|March|April|May|June|July|August|September"
           "|October|November|December|Jan|Feb|Mar|Apr|Jun|Jul|Aug|Sep"
           "|Sept|Oct|Nov|Dec")
DATE_DOTTED_PATTERNS = [
    regex.compile(r"\b[0-3]?[0-9]\.[01]?[0-9]\.(?:[0-9]{4}|[0-9]{2})\b"),
    regex.compile(r"\b[0-3]?[0-9]\.[01]?[0-9]\.(?!\d)"),
    regex.compile(r"\b[0-3]?[0-9]\.\s?(?:" + _MONTHS + r")\s?[0-9]{0,4}\b"),
    regex.compile(r"\b(?:" + _MONTHS + r")\s[0-3]?[0-9](?:st|nd|rd|th)?\."
                  r"\s?[0-9]{0,4}\b"),
]

# SmileyTagger's emoticon set (SmileyTagger.java:19-27)
SMILEYS = [":-)", ":)", ":-(", ":(", ";-)", ";)", ":-D", ":D"]
SMILEY_PATTERN = regex.compile(
    "|".join(regex.escape(s) for s in sorted(SMILEYS, key=len, reverse=True)))

MASK_CHARACTER = "M"


def iterate_tokens(text: str) -> list[Token]:
    """Word tokens with offsets (WordTokenizer.iterateTokens port)."""
    return [Token(m.start(), m.group()) for m in
            TOKEN_SPLIT_PATTERN.finditer(text)]


def tokenize(text: str) -> list[str]:
    return [m.group() for m in TOKEN_SPLIT_PATTERN.finditer(text)]


def _mask(text: str) -> str:
    chars = list(text)
    for pat in [URL_PATTERN, *DATE_DOTTED_PATTERNS, SMILEY_PATTERN]:
        for m in pat.finditer(text):
            for i in range(m.start(), m.end()):
                chars[i] = MASK_CHARACTER
    return "".join(chars)


def split_sentences(text: str, language: str = "en") -> list[Token]:
    """Sentence spans (trimmed, offsets into the ORIGINAL text)."""
    masked = _mask(text)
    pattern = SENTENCE_SPLIT_DE if language == "de" else SENTENCE_SPLIT_EN
    out: list[Token] = []

    def emit(start: int, end: int) -> None:
        value = masked[start:end]
        lstripped = value.lstrip()
        left = start + (len(value) - len(lstripped))
        trimmed = lstripped.rstrip()
        if trimmed:
            out.append(Token(left, text[left:left + len(trimmed)]))

    last = 0
    for m in pattern.finditer(masked):
        emit(last, m.end())
        last = m.end()
    if last < len(masked):
        emit(last, len(masked))
    return out


_UNWANTED = set(",.;:!|?¬  #-'\"*/\\@<>=·^_+»•”“´`¯~®™○")


def _clean_trim(s: str, keep: str = "“”\"") -> str:
    """StringHelper.trim(s, keepCharacters) port (StringHelper.java:962)."""
    s = s.strip()
    drop = _UNWANTED - set(keep)
    while s and (s[0] in drop or s[0].isspace()):
        s = s[1:]
    while s and (s[-1] in drop or s[-1].isspace()):
        s = s[:-1]
    return s


def get_sentences(text: str, only_real: bool = True,
                  language: str = "en") -> list[Token]:
    """Tokenizer.getSentences port; keeps offsets for downstream spans."""
    sentences = split_sentences(text, language)
    if not only_real:
        return sentences
    real: list[Token] = []
    for tok in sentences:
        value = tok.value
        nl = value.rfind("\n")
        start = tok.start
        if nl >= 0:  # keep only the last line (headline absorption)
            start += nl + 1
            value = value[nl + 1:]
        if not value.endswith((".", "?", "!", ".”", '."')):
            continue
        clean = _clean_trim(value)
        word_count = value.count(" ") + 1
        if len(clean) > 8 and word_count > 2:
            lstripped = value.lstrip()
            start += len(value) - len(lstripped)
            real.append(Token(start, lstripped.rstrip()))
    return real


# --- n-gram helpers (Preprocessor / CharacterNGramTokenizer semantics,
# /root/reference/palladian-core/src/main/java/ws/palladian/extraction/token/CharacterNGramTokenizer.java:13-80
# and classification/text/Preprocessor.java:38-101) ----------------------


def char_ngrams(text: str, n_min: int, n_max: int,
                padding: bool = False) -> list[str]:
    """Char n-grams in [n_min, n_max]; optional '#' edge padding; grams
    that consist only of padding are skipped."""
    if padding:
        pad = "#" * (n_max - 1)
        text = pad + text + pad
    out: list[str] = []
    for n in range(n_min, n_max + 1):
        for i in range(len(text) - n + 1):
            g = text[i:i + n]
            if padding and (set(g) == {"#"}):
                continue
            out.append(g)
    return out


def word_ngrams(tokens: list[str], n_min: int, n_max: int) -> list[str]:
    out = []
    for n in range(n_min, n_max + 1):
        for i in range(len(tokens) - n + 1):
            out.append(" ".join(tokens[i:i + n]))
    return out
