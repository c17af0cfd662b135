"""CoNLL column-format loader + NER evaluation — FileFormatParser /
EvaluationResult port.

Semantics re-derived from
/root/reference/palladian-core/src/main/java/ws/palladian/extraction/entity/FileFormatParser.java:39-111,198-258,518-579
(column → text reconstruction with the exact spacing rules, annotation
spans) and the error-type alignment + MUC / EXACT_MATCH scoring of
NamedEntityRecognizer.evaluate (NamedEntityRecognizer.java:98-180) and
EvaluationResult.java:180-310.

Pure Python — file parsing happens driver-side (training corpora are
small next to the web corpus); the resulting gold annotations feed the
same Spark training/tagging stages as the synthetic corpus.
"""

from __future__ import annotations

import re

from collections import Counter
from dataclasses import dataclass, field
from typing import NamedTuple

_BRACKETS = set("(){}[]")


class Ann(NamedTuple):
    start: int
    value: str
    tag: str

    @property
    def end(self) -> int:
        return self.start + len(self.value)


def parse_column(lines, sep: str = "\t",
                 token_based: bool = False) -> tuple[str, list[Ann]]:
    """Rebuild the plain text and gold annotation spans from
    word<TAB>tag lines (ColumnToXmlAction port, FileFormatParser.java:
    39-111): a space precedes a token that starts a tag region or
    begins with a letter/digit/bracket, empty lines become newlines and
    close the open tag, =-DOCSTART- lines are skipped.

    token_based=True replays the reference's columnToXmlTokenBased ->
    getAnnotationsFromXmlText pipeline (FileFormatParser.java:252-285,
    524-528): EVERY token — including 'O'-tagged ones — is wrapped in
    its tag and becomes one annotation (the XML reader's [A-Z]+ tag
    pattern matches <O> too); otherwise consecutive same-tag tokens
    form one annotation and 'O' regions stay untagged."""
    if token_based:
        return _parse_column_token_based(lines, sep)
    out: list[str] = []
    pos = 0
    anns: list[Ann] = []
    current_tag = "o"
    open_start = -1
    previous_line_break = True
    at_beginning = True
    line_number = 0

    def write(s: str) -> None:
        nonlocal pos
        out.append(s)
        pos += len(s)

    def close_tag() -> None:
        nonlocal current_tag, open_start
        if current_tag.lower() != "o" and open_start >= 0:
            value = "".join(out)[open_start:pos].replace("\n", "")
            anns.append(Ann(open_start, value, current_tag))
        current_tag, open_start = "o", -1

    for raw in lines:
        line_number += 1
        line = raw.rstrip("\n")
        parts = line.split(sep)
        # Java String.split drops trailing empty fields — a tab-only
        # separator line is parts=[] there (and gets skipped), not
        # ["", ""]; without this, such lines open empty "" tag regions
        while parts and parts[-1] == "":
            parts.pop()
        if len(parts) < 2 and at_beginning:
            at_beginning = False
            continue
        at_beginning = False
        if "=-DOCSTART-" in line:
            continue
        if len(parts) < 2:
            if len(line) == 0:
                if current_tag.lower() != "o" and line_number > 1:
                    close_tag()
                write("\n")
                previous_line_break = True
            continue
        open_tag = False
        tag, value = parts[1], parts[0]
        if current_tag.lower() != tag.lower():
            if current_tag.lower() != "o" and line_number > 1:
                close_tag()
            else:
                current_tag = "o"
            if tag.lower() != "o":
                if line_number > 1 and not previous_line_break:
                    write(" ")
                open_start = pos
                open_tag = True
        current_tag = tag
        if value and (value[0].isalnum() or value[0] in _BRACKETS) \
                and not open_tag and line_number > 1 \
                and not previous_line_break:
            write(" ")
        write(value)
        previous_line_break = False
    close_tag()
    return "".join(out), anns


def _parse_column_token_based(lines, sep: str) -> tuple[str, list[Ann]]:
    """columnToXmlTokenBased (FileFormatParser.java:252-285) followed
    by the XML annotation reader — exact replay: the XML intermediate
    is built literally and fed through annotations_from_xml_text, so
    offsets come out of the identical arithmetic."""
    xml: list[str] = []
    previous_line_break = True
    line_number = 0
    for raw in lines:
        line_number += 1
        line = raw.rstrip("\n")
        if "=-DOCSTART-" in line:
            continue
        parts = line.split(sep)
        while parts and parts[-1] == "":
            parts.pop()
        if len(parts) < 2:
            if len(line) == 0:
                xml.append("\n")
                previous_line_break = True
            continue
        value, tag = parts[0], parts[1]
        if value and (value[0].isalnum() or value[0] in _BRACKETS) \
                and line_number > 1 and not previous_line_break:
            xml.append(" ")
        xml.append(f"<{tag}>{value}</{tag}>")
        previous_line_break = False
    xml_text = "".join(xml)
    anns = annotations_from_xml_text(xml_text)
    plain = re.sub(r"</?[^>]+>", "", xml_text)
    return plain, anns


def tag_text(text: str, annotations: list[Ann],
             fmt: str = "XML") -> str:
    """NER output writer — NerHelper.tag port (NerHelper.java:152-210):
    XML (<TAG>value</TAG>), BRACKETS ([TAG value ]) or SLASHES
    (token/TAG per token); nested annotations skipped, values must
    align with the text."""
    from kgp.tokenize import tokenize as _tokenize
    out: list[str] = []
    last_end = 0
    last_ann = None
    for a in sorted(annotations, key=lambda x: (x.start, -x.end)):
        if a.start < last_end:
            continue  # nested
        previous = text[last_end:a.start]
        out.append(previous)
        correct = text[a.start:a.end]
        if correct.lower() != a.value.lower() and "\n" not in correct:
            raise ValueError(
                f"alignment error: found {correct!r} instead of "
                f"{a.value!r}")
        if fmt == "XML":
            out.append(f"<{a.tag}>{a.value}</{a.tag}>")
        elif fmt == "BRACKETS":
            out.append(f"[{a.tag} {a.value} ]")
        elif fmt == "SLASHES":
            tokens = _tokenize(a.value)
            if previous != " " and last_ann is not None:
                out.append(" ")
            out.append(" ".join(f"{t}/{a.tag}" for t in tokens))
        else:
            raise ValueError(f"unsupported format {fmt}")
        last_end = a.end
        last_ann = a
    out.append(text[last_end:])
    return "".join(out)


# -------------------------------------------------------- evaluation

CORRECT, ERROR1, ERROR2, ERROR3, ERROR4, ERROR5 = (
    "CORRECT", "ERROR1", "ERROR2", "ERROR3", "ERROR4", "ERROR5")


@dataclass
class EvaluationResult:
    """Per-tag result-type counts (assignments keyed by the GOLD tag,
    except ERROR1 which keys by the predicted tag) plus the actual /
    possible assignment bags — EvaluationResult.java:102-230."""
    assignments: dict[str, Counter] = field(default_factory=dict)
    actual: Counter = field(default_factory=Counter)
    possible: Counter = field(default_factory=Counter)

    def add(self, result_type: str, gold_tag: str | None,
            pred_tag: str | None) -> None:
        if result_type in (CORRECT, ERROR3, ERROR4, ERROR5):
            self.actual[pred_tag] += 1
            self.assignments.setdefault(gold_tag, Counter())[
                result_type] += 1
        elif result_type == ERROR1:
            self.actual[pred_tag] += 1
            self.assignments.setdefault(pred_tag, Counter())[
                result_type] += 1
        elif result_type == ERROR2:
            self.assignments.setdefault(gold_tag, Counter())[
                result_type] += 1

    def _weighted_muc(self, tag: str) -> int:
        c = self.assignments.get(tag, Counter())
        return c[ERROR3] + c[ERROR4] + 2 * c[CORRECT]

    def _sum_correct(self, mode: str) -> float:
        if mode == "MUC":
            return sum(self._weighted_muc(t) for t in self.assignments)
        if mode == "RECOGNITION":
            # exact boundaries, tag ignored (EvaluationResult.java:
            # 291-294)
            return sum(c[CORRECT] + c[ERROR3]
                       for c in self.assignments.values())
        return sum(c[CORRECT] for c in self.assignments.values())

    def precision(self, mode: str = "MUC") -> float:
        total = sum(self.actual.values()) * (2 if mode == "MUC" else 1)
        return self._sum_correct(mode) / total if total else 0.0

    def recall(self, mode: str = "MUC") -> float:
        total = sum(self.possible.values()) * (2 if mode == "MUC" else 1)
        return self._sum_correct(mode) / total if total else 0.0

    def result_type_count(self, result_type: str,
                          tag: str | None = None) -> int:
        """getResultTypeCount (per tag or summed over all tags)."""
        if tag is not None:
            return self.assignments.get(tag, Counter())[result_type]
        return sum(c[result_type] for c in self.assignments.values())

    def precision_for(self, tag: str, mode: str) -> float:
        """getPrecisionFor (EvaluationResult.java:182-198): -1 when
        the tag was never assigned."""
        actual = self.actual[tag]
        if actual == 0:
            return -1.0
        if mode == "EXACT_MATCH":
            correct = self.result_type_count(CORRECT, tag)
        elif mode == "MUC":
            correct = self._weighted_muc(tag)
            actual *= 2
        else:                                  # RECOGNITION
            correct = (self.result_type_count(CORRECT, tag)
                       + self.result_type_count(ERROR3, tag))
        return correct / actual

    def recall_for(self, tag: str, mode: str) -> float:
        """getRecallFor (:200-216): -1 when the tag has no gold
        occurrences."""
        possible = self.possible[tag]
        if possible == 0:
            return -1.0
        if mode == "EXACT_MATCH":
            correct = self.result_type_count(CORRECT, tag)
        elif mode == "MUC":
            correct = self._weighted_muc(tag)
            possible *= 2
        else:                                  # RECOGNITION
            correct = (self.result_type_count(CORRECT, tag)
                       + self.result_type_count(ERROR3, tag))
        return correct / possible

    def f1(self, mode: str = "MUC") -> float:
        p, r = self.precision(mode), self.recall(mode)
        return 2 * p * r / (p + r) if p > 0 and r > 0 else 0.0


def evaluate_annotations(gold: list[Ann], pred: list[Ann],
                         ignore: set[str] | None = None
                         ) -> EvaluationResult:
    """NamedEntityRecognizer.evaluate port (:98-180): each prediction
    is aligned against the sorted gold standard and classified CORRECT
    or ERROR1..5; at most one overlap credit per gold annotation."""
    ignore = ignore or set()
    gold = sorted(gold, key=lambda a: (a.start, -a.end))
    result = EvaluationResult()
    for g in gold:
        result.possible[g.tag] += 1
    tagged: set[tuple[int, int, str]] = set()

    for p in sorted(pred, key=lambda a: (a.start, -a.end)):
        if p.tag.lower() == "o":
            continue
        tagged_overlap = False
        counter = 0
        for g in gold:
            counter += 1
            if g.value in ignore and not (p.start < g.end
                                          and not tagged_overlap):
                continue
            gkey = (g.start, g.end, g.tag)
            if (p.start, p.end) == (g.start, g.end):
                tagged.add(gkey)
                if p.tag.lower() == g.tag.lower():
                    result.add(CORRECT, g.tag, p.tag)
                else:
                    result.add(ERROR3, g.tag, p.tag)
                break
            elif p.start <= g.end and p.end >= g.start:
                tagged.add(gkey)
                if p.tag.lower() == g.tag.lower():
                    result.add(ERROR4, g.tag, p.tag)
                else:
                    result.add(ERROR5, g.tag, p.tag)
                tagged_overlap = True
            elif p.start < g.end or counter == len(gold):
                if not tagged_overlap:
                    result.add(ERROR1, None, p.tag)
                break
    for g in gold:
        if (g.start, g.end, g.tag) not in tagged:
            result.add(ERROR2, g.tag, None)
    return result


# -------------------------------------------- XML-tagged-text reader

_XML_ANN_RE = re.compile(r"<([A-Z]+)>(.{1,1000}?)</\1>",
                         re.DOTALL | re.IGNORECASE)
_ANY_TAG_RE = re.compile(r"<(.*?)>", re.DOTALL)
_STRIP_TAGS_RE = re.compile(
    r"<!--.*?-->|<script.*?>.*?</script>|<style.*?>.*?</style>|<[^<]*?>",
    re.DOTALL | re.IGNORECASE)


def annotations_from_xml_text(tagged_text: str) -> list[Ann]:
    """FileFormatParser.getAnnotationsFromXmlText port
    (FileFormatParser.java:536-580): plain-text offsets recovered by
    accumulating the tag lengths seen so far (including NESTED tags
    inside an entity, whose markup is stripped and newlines removed
    from the value — the reference's exact arithmetic). The reader
    complement of tag_text's XML writer; also loads TUD-Loc-style
    gold markup."""
    out: list[Ann] = []
    cumulated = 0
    for m in _XML_ANN_RE.finditer(tagged_text):
        concept = m.group(1)
        entity = m.group(2)
        nested_len = sum(len(t.group(1)) + 2
                         for t in _ANY_TAG_RE.finditer(entity))
        entity = _STRIP_TAGS_RE.sub("", entity).replace("\n", "")
        tag_offset = len(concept) + 2
        cumulated += tag_offset
        offset = m.start() + tag_offset - cumulated
        out.append(Ann(offset, entity, concept))
        cumulated += nested_len + len(concept) + 3
    return out
