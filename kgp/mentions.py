"""Stage 2 — mention detection & typing (NER).

Spark-first decomposition of the reference's PalladianNer
(/root/reference/palladian-core/src/main/java/ws/palladian/extraction/entity/tagger/PalladianNer.java:459-565):

  * model TRAINING = one two-phase aggregation over the corpus + seed
    dictionary — the trie the reference builds per-JVM becomes partial
    counts per Arrow batch in one Python scan, summed by one
    groupBy(kind, key, tag) in the JVM; the (pruned) result is
    collected and broadcast;
  * TAGGING = one vectorized pandas UDF over (url, sentences) batches
    scoring candidates against the broadcast dictionaries.

Ported semantics (file:line cites at each function):
  StringTagger candidate regex, case-dictionary sentence-start removal,
  date-fragment removal, entity-dictionary override with concept
  priority, char-5-padded-gram classification with DefaultScorer
  (score += (termCategoryCount/dictCount)^2, priors when unmatched,
  drop when P(NO_ENTITY) >= 0.5), nested-annotation removal.

The two-pass training trick of PalladianNer.trainEnglish
(:381-438) — re-train with false-positive candidates as NO_ENTITY — is
expressed as: corpus candidates that are not seed surfaces contribute
NO_ENTITY grams to the annotation dictionary.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field
from typing import NamedTuple

import pandas as pd
import regex
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgp import constants as C
from kgp.automaton import AhoCorasick
from kgp.tokenize import char_ngrams, tokenize

NO_ENTITY = "NO_ENTITY"

# ---------------------------------------------------------- StringTagger
# port of StringTagger.compilePattern
# (/root/reference/palladian-core/src/main/java/ws/palladian/extraction/entity/StringTagger.java:25-77)
# Branch order matters: Java alternation is first-match, same as `regex`.

_CAMEL = "(GmbH|LLC)"
_SUFFIX = r"((?<=(Inc|Corp|Co|Ave))\.)?"
_BRANCHES = [
    # dashed compounds ("Ontario-based", "St. Louis-based")
    r"([A-Z][a-z]\. )?([A-Z]{1}[A-Za-z\p{Ll}]+(-[a-z\p{Ll}]+)(-[A-Za-z\p{Ll}]+)*)",
    # "A. Anderson"
    r"([A-Z]\.)( )?[A-Z]{1}['’A-Za-z\p{Ll}]{1,100}",
    # "Alexander A. Anderson", "Mayor Bobby E. Horton"
    r"([A-Z][a-z\p{Ll}]+ ){1,2}[A-Z]{1}\. [A-Za-z\p{Ll}]{1,100}",
    # "Dr. Anderson Emeraldy"
    r"([A-Z][a-z\p{Ll}]{0,2}\.) [A-Z]{1}[A-Za-z\p{Ll}]{1,100}( [A-Z]{1}[A-Za-z\p{Ll}]{1,100})?",
    # "A.B.C. Anderson"
    r"([A-Z]\.)+( ([A-Z]{1}([A-Za-z-\p{Ll}0-9&]+))+(([ ])*[A-Z]+([A-Za-z-\p{Ll}0-9]*)){0,10})*",
    # ending with dash ("Real- Rumble")
    r"([A-Z][A-Za-z\p{Ll}]+ )*[A-Z][A-Za-z\p{Ll}]+(?=-+? )",
    # "ex-President"
    r"([A-Z][A-Za-z\p{Ll}]+ )?([a-z\p{Ll}]+-[A-Z][A-Za-z\p{Ll}0-9]+)",
    # "National Bank of Scotland", "L’Arc de Triomphe"
    r"(([A-Z]{1}['’]?[A-Za-z\p{Ll}]+ )+(?:of|de) (([A-Z]{1}[A-Za-z-\p{Ll}]+)"
    r"(?!([a-z-]{0,20}\s[A-Z]))))|([A-Z]{1}[A-Za-z-\p{Ll}]+ of( [A-Z]{1}[A-Za-z\p{Ll}]+){1,})",
    # capitalized sequences (+ GmbH/LLC), "Acme Corp"
    r"([A-Z]{1}([a-z-\p{Ll}0-9®]+)(( " + _CAMEL +
    r")?(([ &])*([A-Z]['’])?[A-Z]{1}([a-z-\p{Ll}0-9®]+))?)*)" + _SUFFIX,
    # "O'Sullivan", "D&G", all-caps
    r"((([A-Z]{1}([A-Za-z-\p{Ll}0-9&]+|['’][A-Z][A-Za-z]{2,20}))+"
    r"(([ &])*[A-Z]+(['’][A-Z])?([A-Za-z-\p{Ll}0-9®]*)){0,10})(?!(\.[A-Z])+))" + _SUFFIX,
    # camelCase ("iPhone 4")
    r"([a-z][A-Z][A-Za-z0-9]+( [A-Z0-9][A-Za-z0-9]{0,20}){0,20})",
]
STRING_TAGGER_PATTERN = regex.compile("|".join(_BRANCHES))


class Candidate(NamedTuple):
    start: int
    value: str


def candidate_annotations(text: str) -> list[Candidate]:
    """StringTagger.getAnnotations port (NBSP normalized to space first,
    as RegExTagger does via replaceProtectedSpace)."""
    text = text.replace(" ", " ")
    return [Candidate(m.start(), m.group())
            for m in STRING_TAGGER_PATTERN.finditer(text) if m.group()]


def token_candidates(text: str) -> list[Candidate]:
    """LanguageIndependent candidate tagging
    (PalladianNer.getAnnotationsInternal:549-552): EVERY word token is
    a potential (part of an) entity — RegExTagger over
    Tokenizer.TOKEN_SPLIT_REGEX instead of the StringTagger."""
    from kgp.tokenize import iterate_tokens
    return [Candidate(t.start, t.value) for t in iterate_tokens(text)]


def combine_annotations(mentions: list[dict]) -> list[dict]:
    """combineAnnotations port (PalladianNer.java:585-612): adjacent
    (previous.end + 1 == current.start) same-tag annotations merge
    into one growing span; 'o'-tagged annotations are skipped.

    DOCUMENTED DEVIATION: the reference executes `add(combined);
    previousCombined = combined; remove(previousCombined)` (:603-605),
    which removes the combination it JUST added — so as written, a
    merged span never survives and only the chain's first token
    remains. That defeats the method's stated purpose ("Combine
    annotations that are right next to each other having the same
    tag"); this port implements the evident intent: the previous
    partial combination (or the chain's first token) is REPLACED by
    the extended one."""
    out: list[dict] = []
    previous: dict | None = None
    prev_combined: dict | None = None
    for cur in sorted(mentions, key=lambda m: (m["start"], m["end"])):
        if cur["tag"].lower() == "o":
            continue
        if (previous is not None and cur["tag"] == previous["tag"]
                and cur["start"] == previous["end"] + 1):
            base = prev_combined if prev_combined is not None \
                else previous
            combined = dict(base)
            combined["end"] = cur["end"]
            combined["surface"] = (base["surface"] + " "
                                   + cur["surface"])
            # the reference's combined annotation carries the
            # PREVIOUS annotation's category entries (:601)
            combined["score"] = previous.get("score", combined.get("score"))
            if out and out[-1] is (prev_combined or previous):
                out.pop()
            out.append(combined)
            prev_combined = combined
        else:
            out.append(cur)
            prev_combined = None
        previous = cur
    return out


# RegExTagger family — UrlTagger (UrlTagger.java:13-23, tag "URI")

URI_TAG_NAME = "URI"


def regex_tag(text: str, pattern, tag: str) -> list[dict]:
    """RegExTagger.getAnnotations port: every match of the compiled
    pattern becomes an annotation with the fixed tag (NBSP normalized
    first, as replaceProtectedSpace does)."""
    text = text.replace("\u00a0", " ")
    return [{"start": m.start(), "end": m.end(), "surface": m.group(),
             "tag": tag, "score": 1.0}
            for m in pattern.finditer(text) if m.group()]


def tag_urls(text: str) -> list[dict]:
    from kgp.tokenize import URL_PATTERN
    return regex_tag(text, URL_PATTERN, URI_TAG_NAME)


# ------------------------------------------------------- date fragments
# RegExp.DATE_FRAGMENTS = month + weekday names
# (/root/reference/palladian-commons/src/main/java/ws/palladian/helper/constants/RegExp.java:320)

_DATE_FRAGMENTS = [
    # MONTH_NAME_SHORT_ENG (RegExp.java:25) — mixed-case + ALL-CAPS
    r"[Jj]an|[Ff]eb|[Mm]ar|[Aa]pr|[Mm]ay|[Jj]un|[Jj]ul|[Aa]ug|[Ss]ep"
    r"|[Ss]ept|[Oo]ct|[Nn]ov|[Dd]ec"
    r"|JAN|FEB|MAR|APR|MAY|JUN|JUL|AUG|SEP|SEPT|OCT|NOV|DEC",
    # MONTH_NAME_LONG_ENG (RegExp.java:28-29)
    r"[Jj]anuary|[Ff]ebruary|[Mm]arch|[Aa]pril|[Mm]ay|[Jj]une|[Jj]uly"
    r"|[Aa]ugust|[Ss]eptember|[Oo]ctober|[Nn]ovember|[Dd]ecember"
    r"|JANUARY|FEBRUARY|MARCH|APRIL|MAY|JUNE|JULY|AUGUST|SEPTEMBER"
    r"|OCTOBER|NOVEMBER|DECEMBER",
    # WEEKDAY_NAME_SHORT / _LONG (RegExp.java:40-41)
    r"Mon|Tue|Wed|Thu|Fri|Sat|Sun",
    r"(?:Mon|Tues|Wednes|Thurs|Fri|Satur|Sun)day",
]


# precompiled once — these run per candidate in the NER hot path, and
# building pattern strings per call costs a regex-cache lookup each
_FRAG_SUB = [regex.compile(frag) for frag in _DATE_FRAGMENTS]
_FRAG_BEGIN = [regex.compile("^(?:" + frag + r")\.? ")
               for frag in _DATE_FRAGMENTS]
_FRAG_END = [regex.compile(r" (?:" + frag + r")\.?$")
             for frag in _DATE_FRAGMENTS]


def is_date_fragment(value: str) -> bool:
    """PalladianNer.isDateFragment port (:812-819): value is blank after
    removing any one fragment alternation."""
    for pat in _FRAG_SUB:
        if not pat.sub(" ", value).strip():
            return True
    return False


def remove_date_fragment(start: int, value: str) -> tuple[int, str] | None:
    """PalladianNer.removeDateFragment port (:828-849): strip leading/
    trailing date fragments, fix offset; None if nothing changed."""
    new_value, new_start = value, start
    for begin, end in zip(_FRAG_BEGIN, _FRAG_END):
        ln = len(new_value)
        if begin.search(new_value):
            new_value = begin.sub(" ", new_value).strip()
            new_start += ln - len(new_value)
        if end.search(new_value):
            new_value = end.sub(" ", new_value).strip()
    if new_value == value:
        return None
    return new_start, new_value


# ------------------------------------------------------------- the model


@dataclass
class NerModel:
    """Broadcastable NER model = the dictionaries of PalladianNerModel
    (:15-94) in plain-dict form, including the context stack
    (contextDictionary, leftContexts — PalladianNer.java:894-906,
    860-892)."""
    entity_dict: dict[str, str]                  # lower(surface) -> tag
    annotation_dict: dict[str, dict[str, int]]   # gram -> {tag: count}
    priors: dict[str, float]                     # tag -> P(tag)
    case_dict: set[str] = field(default_factory=set)  # lowercase-usual tokens
    remove_annotations: set[str] = field(default_factory=set)
    concept_order: list[str] = field(default_factory=lambda:
                                     list(C.CONCEPT_PRIORITY))
    context_dict: dict[str, dict[str, int]] = field(default_factory=dict)
    context_priors: dict[str, float] = field(default_factory=dict)
    left_contexts: set[str] = field(default_factory=set)
    # lazily-filled per-gram total-count memos (hot-path cache; not
    # part of the model semantics)
    ann_totals: dict[str, int] = field(default_factory=dict)
    ctx_totals: dict[str, int] = field(default_factory=dict)


GRAM_N = 5  # ANNOTATION_FEATURE_SETTING = chars(5).characterPadding()
#             (PalladianNerTrainingSettings.java:83-88)


def classify_surface(surface: str, model: NerModel) -> dict[str, float]:
    """PalladianTextClassifier.classify + DefaultScorer port
    (/root/reference/palladian-core/src/main/java/ws/palladian/classification/text/PalladianTextClassifier.java:213-271,107-133):
    for each unique padded char-5-gram: score[cat] += (count/dictCount)^2;
    normalize; when no gram matched return the category priors."""
    scores: dict[str, float] = {}
    grams = set(char_ngrams(surface.lower(), GRAM_N, GRAM_N, padding=True))
    totals = model.ann_totals
    for g in grams:
        entry = model.annotation_dict.get(g)
        if not entry:
            continue
        dict_count = totals.get(g)
        if dict_count is None:
            dict_count = totals[g] = sum(entry.values())
        for cat, cnt in entry.items():
            p = cnt / dict_count
            scores[cat] = scores.get(cat, 0.0) + p * p
    total = sum(scores.values())
    if total == 0:
        return dict(model.priors)
    return {k: v / total for k, v in scores.items()}


def _order(model: NerModel, tag: str) -> int:
    try:
        return model.concept_order.index(tag)
    except ValueError:
        return len(model.concept_order)


# ------------------------------------------------- context stack helpers

WINDOW_SIZE = 40  # PalladianNerTrainingSettings.WINDOW_SIZE (:88)


def get_character_context(text: str, start: int, end: int,
                          size: int = WINDOW_SIZE) -> str:
    """NerHelper.getCharacterContext port (NerHelper.java:300-308):
    trimmed ±size chars joined with '__'."""
    left = text[max(0, start - size):start].strip()
    right = text[end:min(len(text), end + size)].strip()
    return left + "__" + right


def get_left_contexts(text: str, start: int, size: int = 3) -> list[str]:
    """NerHelper.getLeftContexts port (NerHelper.java:244-264):
    cumulated left tokens of length 1..size, digits masked with '§'."""
    contexts: list[str] = []
    if len(text) < start:
        return contexts
    buf: list[str] = []
    for idx in range(start - 1, -1, -1):
        ch = text[idx]
        buf.append(ch)
        if ch == " " or idx == 0:
            value = regex.sub(r"\d", "§", "".join(buf).strip())
            if value:
                contexts.append(value[::-1])
        if len(contexts) == size:
            break
    return contexts


def get_right_contexts(text: str, end: int, size: int = 3) -> list[str]:
    """NerHelper.getRightContexts port (NerHelper.java:270-298):
    cumulated right tokens of length 1..size, digits masked with '§',
    trailing punctuation stripped per token."""
    contexts: list[str] = []
    buf: list[str] = []
    for idx in range(end, len(text)):
        ch = text[idx]
        buf.append(ch)
        if ch == " " or idx == 0:
            value = regex.sub(r"\d", "§", "".join(buf).strip())
            if value:
                if value[-1] in ".,:;?!":
                    value = value[:-1]
                if value:
                    contexts.append(value)
        if len(contexts) == size:
            break
    return contexts


def get_sub_phrases(string: str) -> list[str]:
    """StringHelper.getSubPhrases port (StringHelper.java:2061-2081):
    every contiguous word span."""
    split = string.split(" ")
    return [" ".join(split[i:j + 1])
            for i in range(len(split))
            for j in range(i, len(split))
            if " ".join(split[i:j + 1])]


def is_completely_uppercase(s: str) -> bool:
    """StringHelper.isCompletelyUppercase semantics: non-empty and
    equal to its uppercase form."""
    return bool(s.strip()) and s == s.upper()


_CTX_CACHE: dict[tuple[int, str], dict[str, float]] = {}
_CTX_CACHE_MAX = 65536


def classify_context(context: str, model: NerModel) -> dict[str, float]:
    """PalladianTextClassifier.classify over the context dictionary with
    ExperimentalScorers.CategoryEqualizationScorer
    (ExperimentalScorers.java:19-25): per-category summed squared
    term-category probability DIVIDED by the category prior, then
    normalized; priors when no gram matched. Feature setting is chars(5)
    WITHOUT padding (CONTEXT_FEATURE_SETTING,
    PalladianNerTrainingSettings.java:86).

    Memoized per (model, context): boilerplate-heavy crawl corpora
    repeat the same ±40-char contexts across pages, and the gram-probe
    loop is the mentions-stage hot path. Bounded; cleared wholesale at
    the cap (simpler and faster than LRU bookkeeping in a worker)."""
    ck = (id(model), context)
    hit = _CTX_CACHE.get(ck)
    if hit is not None:
        return hit
    grams = set(char_ngrams(context.lower(), GRAM_N, GRAM_N,
                            padding=False))
    scores: dict[str, float] = {}
    totals = model.ctx_totals
    for g in grams:
        entry = model.context_dict.get(g)
        if not entry:
            continue
        dict_count = totals.get(g)
        if dict_count is None:
            dict_count = totals[g] = sum(entry.values())
        for cat, cnt in entry.items():
            p = cnt / dict_count
            scores[cat] = scores.get(cat, 0.0) + p * p
    if not scores:
        result = dict(model.context_priors)
    else:
        eq = {cat: s / (model.context_priors.get(cat) or 1.0)
              for cat, s in scores.items()}
        total = sum(eq.values()) or 1.0
        result = {k: v / total for k, v in eq.items()}
    if len(_CTX_CACHE) >= _CTX_CACHE_MAX:
        _CTX_CACHE.clear()
    _CTX_CACHE[ck] = result
    return result


def apply_context_analysis(scores: dict[str, float], sentence: str,
                           start: int, end: int,
                           model: NerModel) -> dict[str, float]:
    """PalladianNer.applyContextAnalysis port (:793-804): sum the
    annotation's category probabilities with the context
    classification's (CategoryEntriesBuilder.add semantics — the argmax
    of the sum is the switched tag). Context is sentence-local here
    (the distributed pipeline never materializes the full document
    text; ±40 chars rarely cross a sentence boundary)."""
    if not model.context_dict:
        return scores
    context = get_character_context(sentence, start, end)
    if len(context.strip()) <= 2:
        return scores
    ctx = classify_context(context, model)
    return {cat: scores.get(cat, 0.0) + ctx.get(cat, 0.0)
            for cat in set(scores) | set(ctx)}


# ------------------------------------------------ preprocess passes
# preProcessAnnotations order (PalladianNer.java:603-626)


def unwrap_entities(cands: list[Candidate],
                    model: NerModel) -> list[Candidate]:
    """PalladianNer.unwrapEntities + unwrapAnnotations port (:774-790,
    917-944): a completely-uppercase candidate ("NEW YORK CITY AND
    DRESDEN") is replaced by the sub-phrases that match OTHER candidate
    values or the entity dictionary."""
    values = {c.value.lower() for c in cands}
    out: list[Candidate] = []
    for cand in cands:
        if not is_completely_uppercase(cand.value):
            out.append(cand)
            continue
        other = values - {cand.value.lower()}
        lower_value = cand.value.lower()
        unwrapped: list[Candidate] = []
        for part in get_sub_phrases(cand.value):
            pv = part.lower()
            if pv in other or pv in model.entity_dict:
                unwrapped.append(
                    Candidate(cand.start + lower_value.index(pv), part))
        out.extend(unwrapped if unwrapped else [cand])
    return out


def unwrap_with_context(cands: list[Candidate],
                        model: NerModel) -> list[Candidate]:
    """PalladianNer.unwrapWithContext port (:695-744): a learned left
    context ("President") found at the start (or inside) of a
    non-dictionary candidate splits it; known dictionary surfaces in
    the prefix are re-added."""
    if not model.left_contexts:
        return cands
    out: list[Candidate] = []
    for cand in cands:
        entity = cand.value
        if entity.lower() in model.entity_dict:
            out.append(cand)
            continue
        split = None
        for lc in model.left_contexts:
            index1 = entity.find(lc + " ")
            index2 = entity.find(" " + lc + " ")
            if index1 == 0:
                split = (index1, len(lc) + 1)
            elif index2 > -1:
                split = (index2, len(lc) + 2)
            if split is not None:
                index, length = split
                out.append(Candidate(cand.start + index + length,
                                     entity[index + length:]))
                prefix = entity[:index + length]
                for part in get_sub_phrases(prefix):
                    if part.lower() in model.entity_dict:
                        out.append(Candidate(
                            cand.start + prefix.index(part), part))
                break
        if split is None:
            out.append(cand)
    return out


def fix_start_errors(cands: list[Candidate],
                     model: NerModel) -> list[Candidate]:
    """PalladianNer.fixStartErrorsWithCaseDictionary port (:628-668):
    strip leading tokens that are usually lowercase until the remainder
    is a dictionary surface or the token is case-significant; drop the
    candidate when everything is stripped."""
    if not model.case_dict:
        return cands
    out: list[Candidate] = []
    for cand in cands:
        value = cand.value
        parts = value.split(" ")
        if len(parts) == 1:
            out.append(cand)
            continue
        offset_cut = 0
        new_value = value
        for token in parts:
            if new_value.lower() in model.entity_dict:
                break
            if token.lower() not in model.case_dict:
                break
            offset_cut += len(token) + 1
            if offset_cut >= len(value):
                break
            new_value = value[offset_cut:]
        if offset_cut >= len(value):
            continue  # drop completely
        if offset_cut > 0:
            out.append(Candidate(cand.start + offset_cut, new_value))
        else:
            out.append(cand)
    return out


def remove_nested(anns: list[tuple[int, int]]) -> list[int]:
    """Annotations.removeNested semantics (Annotations.java:43-56): sort
    by (start asc, end desc); drop spans contained in a kept span.
    Returns kept indices of the input list."""
    order = sorted(range(len(anns)), key=lambda i: (anns[i][0], -anns[i][1]))
    kept: list[int] = []
    max_end = -1
    for i in order:
        s, e = anns[i]
        if s < max_end and e <= max_end:
            continue  # nested in a previous (earlier-starting) annotation
        kept.append(i)
        max_end = max(max_end, e)
    return sorted(kept)


# --------------------------------------------------- per-sentence tagging


def tag_sentence(sentence: str, sent_start: int, model: NerModel,
                 tag_dates: bool = True,
                 tag_uris: bool = False,
                 language_mode: str = "english") -> list[dict]:
    """getAnnotationsInternal order (PalladianNer.java:419-437):
    StringTagger candidates → preProcessAnnotations (:603-626 pass
    order) → classifyCandidates gate (:446-456) → postProcessAnnotations
    (context switch :499-513, then dictionary switch :517-545) →
    removeNested. Sentence-local where the reference is document-local
    (candidate sets and contexts never cross a sentence boundary in the
    distributed pipeline). language_mode="independent" switches to the
    LanguageIndependent flavor (:549-561): every TOKEN is a candidate
    and adjacent same-tag classifications combine afterwards."""
    if language_mode == "independent":
        cands = token_candidates(sentence)
    else:
        cands = candidate_annotations(sentence)
    # --- preProcessAnnotations -------------------------------------
    # 1. removeIncorrectlyTaggedInTraining (:764-772)
    cands = [c for c in cands
             if c.value.lower() not in model.remove_annotations]
    # 2. unwrapEntities (:774-790)
    cands = unwrap_entities(cands, model)
    # 3. unwrapWithContext (:695-744)
    cands = unwrap_with_context(cands, model)
    # 4. removeDateFragments (:670-684)
    fixed_cands: list[Candidate] = []
    for cand in cands:
        fixed = remove_date_fragment(cand.start, cand.value)
        if fixed is not None:
            if not fixed[1]:
                continue
            cand = Candidate(*fixed)
        fixed_cands.append(cand)
    cands = fixed_cands
    # 5. fixStartErrorsWithCaseDictionary (:628-668)
    cands = fix_start_errors(cands, model)
    # 6. removeSentenceStartErrors (:748-762)
    cands = [c for c in cands
             if " " in c.value or c.value.lower() not in model.case_dict]
    # 7. removeDates (:686-693)
    cands = [c for c in cands if not is_date_fragment(c.value)]

    # --- classifyCandidates gate + postProcess ---------------------
    out = []
    for cand in cands:
        start, value = cand.start, cand.value
        scores = classify_surface(value, model)
        if not scores or scores.get(NO_ENTITY, 0.0) >= 0.5:
            continue  # classifyCandidates drop rule (:446-456)
        # postProcess 1: context switch (:499-513)
        scores = apply_context_analysis(scores, sentence, start,
                                        start + len(value), model)
        # postProcess 2: dictionary switch with concept priority
        # (:517-545); StringTagger's suffix rule keeps a trailing "."
        # after Inc/Corp/Co/Ave (StringTagger.java:76) so fall back to
        # the dot-stripped surface
        exact = model.entity_dict.get(value.lower())
        if exact is None and value.endswith("."):
            exact = model.entity_dict.get(value.lower().rstrip("."))
        if exact is not None:
            tag, score = exact, 1.0
        else:
            tag = max(scores, key=lambda k: (scores[k], -_order(model, k)))
            score = scores[tag]
            if tag == NO_ENTITY:
                continue
        out.append({"start": sent_start + start,
                    "end": sent_start + start + len(value),
                    "surface": value, "tag": tag, "score": float(score)})
    # LanguageIndependent: combine adjacent same-tag classifications
    # BEFORE the URI/date add-backs (the reference combines at the end
    # of getAnnotationsInternal, :559-561; add-backs happen in the
    # outer getAnnotations)
    if language_mode == "independent":
        out = combine_annotations(out)
    # URI add-back (PalladianNer.getAnnotations:452-459, tagUrls):
    # UrlTagger annotations join the stream; removeNested then drops
    # entity fragments that were part of a URL
    if tag_uris:
        for u in tag_urls(sentence):
            out.append({"start": sent_start + u["start"],
                        "end": sent_start + u["end"],
                        "surface": u["surface"], "tag": u["tag"],
                        "score": 1.0})
    # DATETIME add-back (PalladianNer.getAnnotations:462-470): tag
    # dates with DateAndTimeTagger semantics, then removeNested drops
    # entity fragments nested inside a date span (and vice versa)
    if tag_dates:
        from kgp.dates import DATETIME_TAG_NAME, tag_datetimes
        for d in tag_datetimes(sentence):
            out.append({"start": sent_start + d.start,
                        "end": sent_start + d.start + len(d.value),
                        "surface": d.value, "tag": DATETIME_TAG_NAME,
                        "score": 1.0})
    kept = remove_nested([(m["start"], m["end"]) for m in out])
    return [out[i] for i in kept]


# ------------------------------------------------------ model training


def case_dictionary_pairs(text: str) -> list[tuple[str, str]]:
    """The token stream PalladianNer.buildCaseDictionary consumes
    (PalladianNer.java:191-213): WordTokenizer tokens with a skip flag
    that drops the FIRST token and every token directly following a
    token matching [.?!] (sentence starts); surviving tokens longer
    than one char whose case signature starts with a letter emit
    (token.lower(), first signature char 'A'|'a')."""
    pairs: list[tuple[str, str]] = []
    skip = True
    for tok in tokenize(text):
        if skip:
            skip = False
        elif tok in (".", "?", "!"):
            skip = True
        else:
            t = tok.strip()
            if len(t) > 1:
                # only caseSignature.substring(0, 1) is consumed
                # (PalladianNer.java:207-210), and the run-compressed
                # signature's first char is exactly the first char's
                # class — skip building the full signature
                c0 = t[0]
                if c0.isupper():
                    pairs.append((t.lower(), "A"))
                elif c0.islower():
                    pairs.append((t.lower(), "a"))
    return pairs


# bounds the broadcast case dictionary at web scale (the reference has
# no bound): the most frequent tokens win, ties by token
CASE_DICT_MAX_SIZE = 200_000


def assemble_model(entity_rows, ann_rows, case_tokens) -> NerModel:
    """Collect the three (small, pruned) model tables into the
    broadcastable NerModel. Rows may be pyspark Rows or plain tuples
    (surface, concept, count) / (gram, tag, count) / (token,)."""
    best: dict[str, tuple[int, int]] = {}
    entity_dict: dict[str, str] = {}
    for r in entity_rows:
        surface, concept, count = r[0], r[1], r[2]
        pri = (C.CONCEPT_PRIORITY.index(concept)
               if concept in C.CONCEPT_PRIORITY else 99)
        key = (-count, pri)
        if surface not in best or key < best[surface]:
            best[surface] = key
            entity_dict[surface] = concept

    annotation_dict: dict[str, dict[str, int]] = {}
    tag_totals: dict[str, int] = {}
    for r in ann_rows:
        gram, tag, count = r[0], r[1], r[2]
        annotation_dict.setdefault(gram, {})[tag] = count
        tag_totals[tag] = tag_totals.get(tag, 0) + count
    total = sum(tag_totals.values()) or 1
    priors = {t: c / total for t, c in tag_totals.items()}

    case_dict = {r[0] for r in case_tokens}
    return NerModel(entity_dict=entity_dict, annotation_dict=annotation_dict,
                    priors=priors, case_dict=case_dict)


PARTIAL_COUNT_SCHEMA = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("key", T.StringType()),
    T.StructField("tag", T.StringType()),
    T.StructField("n", T.LongType()),
    T.StructField("n2", T.LongType()),
])


def _count_rows(n: Counter, n2: Counter) -> list[tuple]:
    """(kind, key, tag, n, n2) rows of two counters keyed by
    (kind, key, tag); a key missing from one counter counts 0 there."""
    return ([(*k, c, n2.get(k, 0)) for k, c in n.items()]
            + [(*k, 0, c) for k, c in n2.items() if k not in n])


def _training_counts(texts, sentence_lists, automaton: AhoCorasick,
                     seed_keys: set[str]) -> tuple[Counter, Counter]:
    """Per-(kind, key, tag) counts of the corpus-derived dictionaries
    over some training docs:

      case     token, n = occurrences, n2 = lowercase-signature ones
               (case_dictionary_pairs);
      agram    padded char-5-grams of each doc's distinct candidate
               surfaces that are not seed surfaces, tag NO_ENTITY
               (trainEnglish 2nd pass). The comparison is dot-stripped
               and lowercase: "Acme Corp." (the suffix rule keeps the
               sentence dot) is NOT a false positive of seed "Acme Corp";
      ctxgram  unpadded char-5-grams of the ±40-char context of every
               seed-dictionary match, tag = the match's tag
               (buildContextDictionary, PalladianNer.java:894-906);
      prior    match tag, n = matches;
      left     token, n = cumulated 1..3-token left contexts of the
               matches (NerHelper.getLeftContexts), n2 = the matches'
               word prefixes (the 'inside' counts of buildLeftContexts,
               PalladianNer.java:866-877).

    Matches are the seed surfaces the Aho-Corasick automaton finds in
    each sentence, nested ones removed (the distributed stand-in for
    the reference's gold annotation file). The automaton is built once
    on the driver, so the per-sentence cost does not grow with the seed
    dictionary (10^5-10^7 surfaces in production)."""
    n: Counter = Counter()
    n2: Counter = Counter()
    for text, sents in zip(texts, sentence_lists):
        for tok, sig in case_dictionary_pairs(text or ""):
            n["case", tok, None] += 1
            if sig == "a":
                n2["case", tok, None] += 1
        surfaces: set[str] = set()
        for s in (sents if sents is not None else []):
            st = s["text"]
            surfaces.update(c.value for c in candidate_annotations(st))
            found = automaton.find_all(st)
            for i in remove_nested([(a, b) for a, b, _ in found]):
                start, end, tag = found[i]
                n["prior", tag, None] += 1
                ctx = get_character_context(st, start, end).lower()
                n.update(("ctxgram", g, tag)
                         for g in char_ngrams(ctx, GRAM_N, GRAM_N))
                n.update(("left", t, None)
                         for t in get_left_contexts(st, start, 3))
                parts = st[start:end].split(" ")
                n2.update(("left", " ".join(parts[:j + 1]), None)
                          for j in range(len(parts)))
        for surface in surfaces:
            if surface.rstrip(".").lower() not in seed_keys:
                n.update(("agram", g, NO_ENTITY) for g in char_ngrams(
                    surface.lower(), GRAM_N, GRAM_N, padding=True))
    return n, n2


def ner_model_table(docs: DataFrame,
                    seed_rows: list[tuple[str, str]]) -> DataFrame:
    """EVERY model dictionary as ONE table (kind, key, tag, count) —
    kinds entity / agram (annotation grams) / case / ctxgram (context
    grams) / prior (context instance counts) / left (left contexts) —
    so training is one materialized stage: at bench scale each
    separate stage pays seconds of fixed job+write latency.

    seed_rows are the seed dictionary's (entity, concept) rows, all of
    them: duplicates count in the entity and annotation dictionaries,
    and the last concept of a surface wins in the matching automaton.

    Two-phase aggregation. ONE mapInPandas scan over the training docs
    counts every corpus-derived dictionary per Arrow batch
    (_training_counts) and emits only the batch's partial
    (kind, key, tag, n, n2) rows — a map-side combine that ships each
    gram once per batch instead of once per occurrence. The seed-derived
    rows (entity dictionary on lower(entity), the seeds' padded grams;
    lowercased in Python, as the tagger looks surfaces up) join as a
    small local relation. The JVM then runs one
    groupBy(kind, key, tag) sum and applies each kind's filter: case
    keeps P(lowercase) > 0.5 and the CASE_DICT_MAX_SIZE most frequent
    tokens; left keeps uppercase-starting tokens seen left of a match
    at least twice and more often left than inside one. case and left
    rows carry a null count."""
    seed_map = dict(seed_rows)
    automaton = AhoCorasick(
        (s, t) for s, t in seed_map.items() if len(s) > 1)
    seed_keys = {e.lower() for e in seed_map}
    seed_n: Counter = Counter()
    for entity, concept in seed_rows:
        seed_n["entity", entity.lower(), concept] += 1
        seed_n.update(("agram", g, concept) for g in char_ngrams(
            entity.lower(), GRAM_N, GRAM_N, padding=True))
    cols = PARTIAL_COUNT_SCHEMA.fieldNames()

    def scan(batches):
        for pdf in batches:
            n, n2 = _training_counts(pdf["text"], pdf["sentences"],
                                     automaton, seed_keys)
            yield pd.DataFrame(_count_rows(n, n2), columns=cols)

    # from pandas (Arrow) it is a LocalRelation: no job, no worker
    seed_df = docs.sparkSession.createDataFrame(
        pd.DataFrame(_count_rows(seed_n, Counter()), columns=cols),
        PARTIAL_COUNT_SCHEMA)
    partial = (docs.select("text", "sentences")
               .mapInPandas(scan, PARTIAL_COUNT_SCHEMA)
               .unionByName(seed_df))
    kind, key = F.col("kind"), F.col("key")
    n, n2 = F.col("n"), F.col("n2")
    kept = (partial.groupBy("kind", "key", "tag")
            .agg(F.sum("n").alias("n"), F.sum("n2").alias("n2"))
            .where(F.when(kind == "case", n2 / n > 0.5)
                   .when(kind == "left", key.rlike(r"^\p{Lu}")
                         & (n >= 2) & (n2 < n))
                   .otherwise(True)))
    # the model is collected to the driver, so one window partition
    # per kind stays small
    rank = F.row_number().over(
        Window.partitionBy("kind").orderBy(F.desc("n"), "key"))
    return (kept.withColumn("_rank", rank)
            .where((kind != "case") | (F.col("_rank") <= CASE_DICT_MAX_SIZE))
            .select("kind", "key", "tag",
                    F.when(~kind.isin("case", "left"), n).alias("count")))


def model_from_rows(rows) -> NerModel:
    """Assemble the broadcastable model from collected ner_model_table
    rows (kind, key, tag, count)."""
    by_kind: dict[str, list] = {}
    for r in rows:
        by_kind.setdefault(r[0], []).append((r[1], r[2], r[3]))
    model = assemble_model(
        by_kind.get("entity", []),
        by_kind.get("agram", []),
        [(k,) for k, _, _ in by_kind.get("case", [])],
    )
    return attach_context(
        model,
        by_kind.get("ctxgram", []),
        [(k, c) for k, _, c in by_kind.get("prior", [])],
        [(k,) for k, _, _ in by_kind.get("left", [])],
    )


def attach_context(model: NerModel, ctx_rows, prior_rows,
                   left_rows) -> NerModel:
    """Attach the collected context-stack tables (gram, tag, count) /
    (tag, n) / (token,) to a broadcastable model."""
    ctx: dict[str, dict[str, int]] = {}
    for gram, tag, count in ctx_rows:
        ctx.setdefault(gram, {})[tag] = count
    totals = {r[0]: r[1] for r in prior_rows}
    total = sum(totals.values()) or 1
    model.context_dict = ctx
    model.context_priors = {t: n / total for t, n in totals.items()}
    model.left_contexts = {r[0] for r in left_rows}
    return model


# --------------------------------------------------------- Spark stage

MENTION_SCHEMA = T.ArrayType(T.StructType([
    T.StructField("sent_idx", T.IntegerType()),
    T.StructField("start", T.IntegerType()),
    T.StructField("end", T.IntegerType()),
    T.StructField("surface", T.StringType()),
    T.StructField("tag", T.StringType()),
    T.StructField("score", T.DoubleType()),
    T.StructField("sent_start", T.IntegerType()),
    T.StructField("sent_text", T.StringType()),
]))


def detect_mentions(docs: DataFrame, model_bc,
                    tag_dates: bool = True,
                    carry_cols: tuple[str, ...] = (),
                    language_mode: str = "english") -> DataFrame:
    """docs -> mentions(url, sent_idx, start, end, surface, tag, score,
    sent_text).

    One Arrow pass; model arrives via spark broadcast. Offsets are
    document-level (sentence.start + in-sentence offset). Each mention
    row carries its sentence text so the downstream relation stage needs
    NO join back to the (much larger) docs table — the duplication is
    bounded by mentions-per-sentence and is the cheaper side of the
    trade at corpus scale."""

    @F.pandas_udf(MENTION_SCHEMA)
    def _mentions_udf(sentences: pd.Series) -> pd.Series:
        model = model_bc.value
        result = []
        for sents in sentences:
            doc_mentions = []
            for idx, s in enumerate(sents if sents is not None else []):
                for m in tag_sentence(s["text"], int(s["start"]), model,
                                      tag_dates=tag_dates,
                                      language_mode=language_mode):
                    m["sent_idx"] = idx
                    m["sent_start"] = int(s["start"])
                    m["sent_text"] = s["text"]
                    doc_mentions.append(m)
            result.append(doc_mentions)
        return pd.Series(result)

    exploded = docs.select(
        "url", *carry_cols,
        F.explode(_mentions_udf("sentences")).alias("m"))
    return exploded.select(
        "url", *carry_cols,
        "m.sent_idx", "m.start", "m.end", "m.surface", "m.tag",
        "m.score", "m.sent_start", "m.sent_text")
