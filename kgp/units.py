"""Unit detection and normalization.

Reference: palladian-commons ws.palladian.helper.normalization.
UnitNormalizer.java + helper/constants/UnitType.java (tables
transcribed into kgp.units_data).

Semantics ported:

- ``detectUnit`` (UnitNormalizer.java:24-36,131-147): every unit name
  gets the boundary pattern ``(?<=\\d|\\s|^)<quoted>(?=$|[-.,;:*)]|\\s)``
  (case-insensitive); names are probed longest-first
  (StringLengthComparator: length desc, then compareToIgnoreCase),
  and the FIRST name whose pattern matches ANYWHERE wins — unit
  priority, not text position.
- ``unitLookup`` (:349-395): trim, strip one trailing dot, exact-match
  scan in enum-declaration + add order, then a lowercase retry
  (compared against the bank names as written); -1 when unknown.
- ``unitsSameType`` (:236-330): the 14 type pairs the reference
  enumerates; ``isBigger`` compares multipliers.
- ``handleSpecialFormat`` (:417-500): 1m20s / 1h2m[20s] / hh:mm:ss /
  mm:ss / 5'9" / 5'9'' / per-thousand combined formats.
- ``getNormalizedNumber`` (:590-707): special format first, then the
  longest-word-sequence unit scan with StringHelper.trim cleanup, the
  optional-plural ``(s)``/bracket rule, and the recursive combined
  search ("1 hour 23 minutes", "5 ft 9 in") where the follow-up unit
  must be same-typed and smaller; unknown unit leaves the number
  unchanged (multiplier 1) except inside a combined search (0).
- ``MathHelper.round`` (MathHelper.java:240-246):
  ``Math.round(x*10^d)/10^d`` — half-up toward +inf.
- ``StringNormalizer.normalizeNumber`` (normalization/
  StringNormalizer.java:20-51): #.### rounding, trailing-zero and
  thousand-separator cleanup, ',' -> '.'.
- ``StringHelper.trim(s, keep)`` (StringHelper.java:958-1029):
  iterative strip of the reference's unwanted-character set plus
  Unicode spaces (the Java type-14 check maps to category Zp).

Spark mapping: the bank is constant and broadcast-small; scalar twins
run in tests and inside Arrow stages, while ``detect_unit_col`` /
``normalize_amount_cols`` are pure-JVM column twins (one regexp over a
longest-first alternation + a map-literal multiplier lookup) for the
hot path — zero Python per row at scale.
"""

from __future__ import annotations

import html as _html
import math
import re
import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

from kgp.units_data import TYPE_ORDER, UNITS

# ---------------------------------------------------------- the bank
_TYPE_UNITS: dict[str, list[tuple[list[str], float | None]]] = {
    t: [] for t in TYPE_ORDER}
for _t, _names, _mult in UNITS:
    _TYPE_UNITS[_t].append((_names, _mult))


def _length_cmp_key(name: str):
    """StringLengthComparator: length desc, then compareToIgnoreCase."""
    return (-len(name), name.lower())


def _type_names(t: str) -> list[str]:
    out: list[str] = []
    for names, _ in _TYPE_UNITS[t]:
        out.extend(names)
    return sorted(out, key=_length_cmp_key)


SORTED_TYPE_NAMES: dict[str, list[str]] = {
    t: _type_names(t) for t in TYPE_ORDER}

ALL_UNITS: list[str] = sorted(
    [n for t in TYPE_ORDER for n in SORTED_TYPE_NAMES[t]],
    key=_length_cmp_key)

_BOUND_PAT: dict[str, re.Pattern] = {
    u: re.compile(r"(?:(?<=[\d\s])|^)" + re.escape(u)
                  + r"(?=$|[-.,;:*)]|\s)", re.IGNORECASE)
    for u in ALL_UNITS}

_SAME_TYPE_TYPES = (
    "BANDWIDTH", "TIME", "DIGITAL", "FREQUENCY", "ROTATION_SPEED",
    "LENGTH", "WEIGHT", "AREA", "AREA_DENSITY", "VOLUME",
    "POWER_RATIO", "TEMPERATURE", "PRESSURE", "LUMINANCE")

_UNWANTED = [",", ".", ":", ";", "!", "|", "?", "¬", " ", " ",
             "#", "-", "'", '"', "*", "/", "\\", "@", "<", ">", "=",
             "·", "^", "_", "+", "»", "ￂ", "•", "”", "“", "´", "`",
             "¯", "~", "®", "™", "○"]

NUMBER_RE = re.compile(
    r"(?<!(\w)-)(?<!(\w))((\d){1,}((,|\.|\s))?){1,}"
    r"(?!((\d)+-(\d)+))(?!-(\d)+)")


# ------------------------------------------------------ string helpers
def java_round(value: float, digits: int) -> float:
    """MathHelper.round — Math.round (half toward +inf)."""
    if math.isnan(value):
        return value
    factor = 10.0 ** digits
    return math.floor(value * factor + 0.5) / factor


def jtrim_keep(s: str | None, keep: str = "") -> str | None:
    """StringHelper.trim(s, keep): unescape entities, then repeatedly
    strip unwanted edge characters / Unicode spaces."""
    if s is None:
        return None
    s = s.strip()
    if not s:
        return s
    s = _html.unescape(s)
    def bad(ch: str) -> bool:
        cat = unicodedata.category(ch)
        if cat == "Zp" or cat == "Zs":
            return True
        return any(ch == u[0] for u in _UNWANTED if u not in keep)
    while s:
        first, last = bad(s[0]), bad(s[-1])
        if not first and not last:
            break
        if first:
            s = s[1:]
        if last and s:
            s = s[:-1]
        s = s.strip()
    return s.strip()


def normalize_number(number_string: str) -> str:
    """StringNormalizer.normalizeNumber:20-51."""
    if not number_string:
        return ""
    try:
        v = float(number_string)
        number_string = f"{v:.3f}"
    except ValueError:
        pass
    number_string = re.sub(r"\.(0){1,}(?!(\d))", "", number_string)
    number_string = re.sub(r",(?=((\d){3}(\.|,|(\W)|($))))", "",
                           number_string).replace(" ", "")
    number_string = number_string.replace(",", ".")
    point = number_string.find(".")
    if point > -1:
        after = re.sub(r"(?<=[1-9])0+(?!(,|\.|(\d)))", "",
                       number_string[point + 1:])
        number_string = number_string[:point] + "." + after
    return number_string


# ----------------------------------------------------------- lookups
def detect_unit(text: str, unit_type: str | None = None) -> str | None:
    """UnitNormalizer.detectUnit — first bank name (longest-first)
    whose boundary pattern matches anywhere in the text."""
    names = SORTED_TYPE_NAMES[unit_type] if unit_type else ALL_UNITS
    for unit in names:
        if _BOUND_PAT[unit].search(text):
            return unit
    return None


def unit_lookup(unit: str) -> float:
    """UnitNormalizer.unitLookup:349-395 — exact scan then lowercase
    retry against the names AS WRITTEN; -1 for unknown / non-linear."""
    unit = unit.strip()
    if unit.endswith("."):
        unit = unit[:-1]
    for probe in (unit, unit.lower()):
        for t in TYPE_ORDER:
            for names, mult in _TYPE_UNITS[t]:
                if probe in names:
                    return -1.0 if mult is None else mult
    return -1.0


def _type_contains(t: str, unit: str) -> bool:
    """UnitType.contains — case-insensitive membership."""
    ul = unit.lower()
    return any(ul == n.lower() for names, _ in _TYPE_UNITS[t]
               for n in names)


def units_same_type(unit1: str, unit2: str) -> bool:
    """UnitNormalizer.unitsSameType:236-330 (the 14 enumerated
    types)."""
    u1, u2 = unit1.lower().strip(), unit2.lower().strip()
    return any(_type_contains(t, u1) and _type_contains(t, u2)
               for t in _SAME_TYPE_TYPES)


def is_bigger(unit_b: str, unit_s: str) -> bool:
    return unit_lookup(unit_b) > unit_lookup(unit_s)


def get_unit_type(text: str) -> str:
    """UnitNormalizer.getUnitType:527-586 — first word that belongs to
    one of the probed types (in the reference's check order)."""
    probe_order = ("TIME", "DIGITAL", "FREQUENCY", "ROTATION_SPEED",
                   "LENGTH", "WEIGHT", "VOLUME", "AREA_DENSITY",
                   "DENSITY", "TEMPERATURE", "PRESSURE", "LUMINANCE",
                   "CURRENT", "ELECTRIC_CHARGE", "BANDWIDTH", "POWER",
                   "VOLTAGE", "CURRENCY")
    for word in text.split(" "):
        w = word.lower()
        hit = "NONE"
        for t in probe_order:
            if _type_contains(t, w):
                hit = t
        if hit != "NONE":
            return hit
    return "NONE"


# ---------------------------------------------------- normalization
def handle_special_format(number: float, unit_text: str,
                          decimals: int) -> float:
    """UnitNormalizer.handleSpecialFormat:417-500."""
    try:
        m = re.match(r"m(\s)?(\d)+s", unit_text)
        if m:
            return java_round(number * 60 + float(m.group()[1:-1]),
                              decimals)
        m = re.match(r"h(\s)?(\d)+m(\s)?((\d)+s)?", unit_text)
        if m:
            v = number * 3600
            mi = unit_text.index("m")
            v += float(m.group()[1:mi]) * 60
            si = unit_text.find("s")
            if si > -1:
                v += float(m.group()[mi + 1:si])
            return java_round(v, decimals)
        m = re.match(r":(\d)+:(\d)+", unit_text)
        if m:
            v = number * 3600
            last = m.group().rindex(":")
            v += float(m.group()[1:last]) * 60
            v += float(m.group()[last + 1:m.end()])
            return java_round(v, decimals)
        m = re.match(r":(\d)+", unit_text)
        if m:
            return java_round(number * 60 + float(m.group()[1:m.end()]),
                              decimals)
        m = re.match(r"'(\s)?(\d)+\"", unit_text)
        if m:
            v = number * unit_lookup("ft")
            v += float(m.group()[1:m.end() - 1].strip()) * unit_lookup("in")
            return java_round(v, decimals)
        m = re.match(r"'(\s)?(\d)+''", unit_text)
        if m:
            v = number * unit_lookup("ft")
            v += float(m.group()[1:m.end() - 2].strip()) * unit_lookup("in")
            return java_round(v, decimals)
        if re.match(r"(per thousand)|(per 1000)", unit_text):
            return java_round(number / 10, decimals)
    except (ValueError, IndexError):
        pass
    return -1.0


def get_normalized_number(number: float, unit_text: str,
                          decimals: int = 3,
                          prev_unit: str = "") -> float:
    """UnitNormalizer.getNormalizedNumber:616-707."""
    combined = len(prev_unit) > 0
    special = handle_special_format(
        number, jtrim_keep(unit_text, ":'\""), decimals)
    if special != -1.0:
        return java_round(special, decimals)
    if unit_text not in ('"', "”", "''"):
        unit_text = jtrim_keep(unit_text)
    if not unit_text.endswith("(s)") and unit_text.endswith(")"):
        unit_text = unit_text[:-1]
    words = unit_text.split(" ")
    length = len(words)
    multiplier = 1.0
    rest = ""
    seq = ""
    while length > 0:
        seq, rest = "", ""
        for i in range(length):
            w = words[i]
            seq += " " + (w if w in ('"', "''") else jtrim_keep(w))
        for i in range(length, len(words)):
            w = words[i]
            rest += " " + (w if w in ('"', "''") else jtrim_keep(w))
        multiplier = unit_lookup(seq)
        if multiplier != -1.0:
            if combined and not (units_same_type(prev_unit, seq)
                                 and is_bigger(prev_unit, seq)):
                return 0.0
            break
        length -= 1
    if multiplier < 0 and not combined:
        multiplier = 1.0
    elif multiplier < 0:
        multiplier = 0.0
    number *= multiplier
    rest = rest.strip()
    m = NUMBER_RE.match(rest)
    if m:
        try:
            number += get_normalized_number(
                float(normalize_number(m.group())), rest[m.end():],
                decimals, seq)
        except ValueError:
            pass
    return java_round(number, decimals)


def normalized_number_str(unit_text: str) -> float:
    """getNormalizedNumber(String):590-605 — split off the leading
    number first ('2.4Ghz' -> '2.4 Ghz')."""
    unit_text = re.sub(r'(\d)([A-Za-z"])', r"\1 \2", unit_text).strip()
    words = unit_text.split(" ")
    number = float(words[0])
    return get_normalized_number(number, " ".join(words[1:]).strip())


def translate_unit(unit: str, language: str = "en") -> str:
    """UnitTranslator.translate:126-139 — German words map to English
    bank names, everything else passes through unchanged."""
    from kgp.units_data import GERMAN_UNIT_TRANSLATIONS
    if language in ("de", "german", "GERMAN"):
        return GERMAN_UNIT_TRANSLATIONS.get(unit.lower(), unit)
    return unit


def transform(unit_to: str, value: float) -> float:
    """UnitNormalizer.transorm [sic]:510-517 — base value to target
    unit."""
    divider = unit_lookup(unit_to)
    return value / divider if divider != -1 else value


def smart_transform(normalized_value: float,
                    unit_type: str) -> tuple[float, list[str]]:
    """UnitNormalizer.smartTransform:719-734 — pick the unit whose
    transformed value reads best (the reference's exact greedy rule,
    quirks included)."""
    smallest = normalized_value
    best: list[str] | None = None
    for names, mult in _TYPE_UNITS[unit_type]:
        if mult is None:
            continue
        transformed = normalized_value / mult
        if ((transformed < smallest and transformed > 1)
                or (transformed > smallest and smallest < 1)
                or best is None):
            best = names
            smallest = transformed
    return smallest, list(best or [])


# Units exercised by the unit_amounts gate query — one per common
# type, all linear multipliers.
GATE_UNITS = ["kg", "mph", "GB", "miles", "GHz", "volt", "psi",
              "km", "ml", "lbs", "kw", "seconds"]


# ----------------------------------------------------- column twins
_JAVA_BOUND = "(?<=\\d|\\s|^)({alts})(?=$|[-.,;:*)]|\\s)"


def detect_unit_col(col: Column | str) -> Column:
    """Column twin of detect_unit with the reference's unit-priority
    order: ONE JVM regexp_extract_all over a longest-first quoted
    alternation, then the match with the smallest bank index wins.
    Pure column ops, no Python."""
    c = F.col(col) if isinstance(col, str) else col
    alts = "|".join(re.escape(u).replace("/", "\\/") for u in ALL_UNITS)
    pat = "(?i)" + _JAVA_BOUND.format(alts=alts)
    # lowercase form -> smallest bank index with that form
    # (detectUnit's tie order: same-length names keep bank order)
    prio: dict[str, int] = {}
    for i, u in enumerate(ALL_UNITS):
        prio.setdefault(u.lower(), i)
    prio_map = F.create_map(
        *[F.lit(x) for kv in prio.items() for x in kv])
    matches = F.regexp_extract_all(c, F.lit(pat), 1)
    best = F.array_min(F.transform(
        matches, lambda s: F.element_at(prio_map, F.lower(s))))
    names_arr = F.array(*[F.lit(u) for u in ALL_UNITS])
    return F.when(F.size(matches) > 0,
                  F.element_at(names_arr, best + 1))


def multiplier_col(unit: Column | str) -> Column:
    """Column twin of unit_lookup for already-isolated unit strings
    (exact then lowercase map probe; -1 when unknown)."""
    c = F.col(unit) if isinstance(unit, str) else unit
    # ONE map keyed by the bank names AS WRITTEN, probed twice: exact,
    # then with the lowercased query.  The reference's second pass
    # lowercases only the PROBE (UnitNormalizer.java:377-393), so an
    # uppercase bank name ("K", "MW") can never match it — keying by
    # n.lower() would wrongly fold MW (mega) onto mW (milli).
    bank: dict[str, float] = {}
    for t in TYPE_ORDER:
        for names, mult in _TYPE_UNITS[t]:
            for n in names:
                bank.setdefault(n, -1.0 if mult is None else mult)
    bank_map = F.create_map(
        *[F.lit(x) for kv in bank.items() for x in kv])
    stripped = F.regexp_replace(F.trim(c), "\\.$", "")
    return F.coalesce(F.element_at(bank_map, stripped),
                      F.element_at(bank_map, F.lower(stripped)),
                      F.lit(-1.0))


def normalize_amount_cols(number: Column | str,
                          unit: Column | str,
                          decimals: int = 3) -> Column:
    """number x unit -> base-unit value with MathHelper.round half-up
    (the simple single-unit fast path of getNormalizedNumber), all
    JVM-side."""
    n = F.col(number) if isinstance(number, str) else number
    mult = multiplier_col(unit)
    raw = F.when(mult == -1.0, n).otherwise(n * mult)
    factor = float(10 ** decimals)
    return F.floor(raw * factor + F.lit(0.5)) / factor


# ------------------------------------------------------ UnitConverter

# TemperatureUnit enum names (constants/TemperatureUnit.java:16-20),
# matched case-insensitively by getByName (:59-71)
_TEMPERATURE_NAMES = {
    "CELSIUS": ("celsius", "degrees celsius", "° celsius", "°celsius",
                "°c"),
    "FAHRENHEIT": ("fahrenheit", "degrees fahrenheit", "° fahrenheit",
                   "°fahrenheit", "°f"),
    "KELVIN": ("kelvin", "k"),
}


def temperature_unit(unit: str) -> str | None:
    """TemperatureUnit.getByName port — CELSIUS before FAHRENHEIT
    before KELVIN, case-insensitive."""
    low = unit.lower()
    for name in ("CELSIUS", "FAHRENHEIT", "KELVIN"):
        if low in _TEMPERATURE_NAMES[name]:
            return name
    return None


def convert_temperature(amount: float | None, from_unit: str,
                        to_unit: str) -> float | None:
    """UnitConverter.convertTemperature port (conversion/UnitConverter
    .java:40-81): the six pairwise formulas, applied as written (the
    from==to case falls through unchanged)."""
    f = temperature_unit(from_unit)
    t = temperature_unit(to_unit)
    if f is None or t is None or amount is None:
        return None
    if f == "CELSIUS" and t == "FAHRENHEIT":
        amount = amount * 9 / 5 + 32
    if f == "CELSIUS" and t == "KELVIN":
        amount += 273.15
    if f == "FAHRENHEIT" and t == "CELSIUS":
        amount = (amount - 32) * 5 / 9
    if f == "FAHRENHEIT" and t == "KELVIN":
        amount = (amount - 32) * 5 / 9 + 273.15
    if f == "KELVIN" and t == "CELSIUS":
        amount -= 273.15
    if f == "KELVIN" and t == "FAHRENHEIT":
        amount = (amount - 273.15) * 9 / 5 + 32
    return amount


def convert(amount: float | None, from_unit: str,
            to_unit: str) -> float | None:
    """UnitConverter.convert port (:30-38): temperature routes to the
    pairwise formulas; everything else normalizes to the base unit
    (getNormalizedNumber, which ROUNDS to 3 decimals — the
    reference's behavior, kept) and divides by the target's
    unitLookup divisor."""
    if get_unit_type(from_unit) == "TEMPERATURE":
        return convert_temperature(amount, from_unit, to_unit)
    normalized = get_normalized_number(amount, from_unit)
    divisor = unit_lookup(to_unit)
    return normalized / divisor


def best_fit_convert(amount: float, from_unit: str,
                     possible_units: list[str]) -> tuple[float, str]:
    """UnitConverter.bestFitConvert port (:83-119): pick the target
    whose divisor is largest while staying below the normalized
    amount (else the smallest divisor overall), iterating
    `possible_units` in the given order."""
    normalized = get_normalized_number(amount, from_unit)
    best_div, best_unit = 0.0, ""
    low_div, low_unit = 999999999.0, ""
    for to_unit in possible_units:
        divisor = unit_lookup(to_unit)
        if divisor < 0:
            continue
        if best_div < divisor < normalized:
            best_div = divisor
            best_unit = to_unit
        elif divisor < low_div:
            low_div = divisor
            low_unit = to_unit
    if best_unit == "":
        best_unit, best_div = low_unit, low_div
    return normalized / best_div, best_unit


def translate_units_of_input(input_string: str,
                             language: str = "de") -> str:
    """UnitTranslator.translateUnitsOfInput (:146-158): lower-case the
    whole input, walk the translation keys longest-first (ties by
    case-insensitive alpha — StringLengthComparator.java:23-26),
    replace ALL occurrences of the FIRST key found and stop. The
    replacement keeps the bank's casing ('Ah')."""
    from kgp.units_data import GERMAN_UNIT_TRANSLATIONS
    if language not in ("de", "german", "GERMAN"):
        return input_string.lower()
    keys = sorted(GERMAN_UNIT_TRANSLATIONS,
                  key=lambda k: (-len(k), k.lower()))
    input_string = input_string.lower()
    for key in keys:
        if key.lower() in input_string:
            input_string = input_string.replace(
                key.lower(), GERMAN_UNIT_TRANSLATIONS[key])
            break
    return input_string
