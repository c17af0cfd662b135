"""Predicate normalization — the WordTransformer role of SURVEY §2.8.

The reference's WordTransformer
(/root/reference/palladian-core/src/main/java/ws/palladian/semantics/WordTransformer.java,
849 LoC) normalizes word forms (plural→singular :215-276, verb base
form getSimplePresent :672-686). In the KG pipeline that machinery's
job is predicate canonicalization: surface phrasings that mean the
same relation ("based in", "headquartered in") must merge into ONE
predicate before the triple table is materialized, or the graph
fragments by phrasing.

Two layers:
  * PREDICATE_CANON — an explicit variant → canonical map (broadcast
    as a literal column map; zero shuffle, whole-stage codegen);
  * normalize_predicate_name — WordTransformer-style token
    normalization (verb simple-present, noun singular) applied to
    UNMAPPED predicate names (e.g. the induced patterns of
    kgp.relations.induce_patterns: "serves_as_chairman_of" →
    "serve_as_chairman_of"), then re-looked-up in the map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Canonical predicate map. Keys are snake_cased phrasings as produced
# by the pattern bank / induced patterns; values are the pipeline's
# canonical predicates.
PREDICATE_CANON: dict[str, str] = {
    "based_in": "headquartered_in",
    "is_based_in": "headquartered_in",
    "headquarters_in": "headquartered_in",
    "has_headquarters_in": "headquartered_in",
    "hq_in": "headquartered_in",
    "chief_executive_officer_of": "ceo_of",
    "chief_executive_of": "ceo_of",
    "serve_as_ceo_of": "ceo_of",
    "founded_by": "founded",
    "established_by": "founded",
    "started_by": "founded",
    "works_at": "works_for",
    "work_for": "works_for",
    "work_at": "works_for",
    "employed_by": "works_for",
    "employee_of": "works_for",
    "born_at": "born_in",
    "capital_city_of": "capital_of",
}

# Irregular verbs — the reference's COMPLETE irregularEnglishVerbs.csv
# (180 lines) keyed by every form, later lines overwriting earlier
# exactly as the loader does (WordTransformer.java:145-155; the
# be;was / be;were double entry and the "?pleaded" artifact are kept
# as-written).  form -> (present, simple past, past participle).
IRREGULAR_VERB_TABLE: dict[str, tuple[str, str, str]] = {
    "?pleaded": ("plead", "?pleaded", "pleaded"),
    "arise": ("arise", "arose", "arisen"),
    "arisen": ("arise", "arose", "arisen"),
    "arose": ("arise", "arose", "arisen"),
    "ate": ("eat", "ate", "eaten"),
    "awake": ("awake", "awoke", "awoken"),
    "awoke": ("awake", "awoke", "awoken"),
    "awoken": ("awake", "awoke", "awoken"),
    "be": ("be", "were", "been"),
    "bear": ("bear", "bore", "borne"),
    "beat": ("beat", "beat", "beaten"),
    "beaten": ("beat", "beat", "beaten"),
    "became": ("become", "became", "became"),
    "become": ("become", "became", "became"),
    "been": ("be", "were", "been"),
    "began": ("begin", "began", "begun"),
    "begin": ("begin", "began", "begun"),
    "begun": ("begin", "began", "begun"),
    "bend": ("bend", "bent", "bent"),
    "bent": ("bend", "bent", "bent"),
    "beset": ("beset", "beset", "beset"),
    "bet": ("bet", "bet", "bet"),
    "bid": ("bid", "bid", "bid"),
    "bind": ("bind", "bound", "bound"),
    "bit": ("bite", "bit", "bitten"),
    "bite": ("bite", "bit", "bitten"),
    "bitten": ("bite", "bit", "bitten"),
    "bled": ("bleed", "bled", "bled"),
    "bleed": ("bleed", "bled", "bled"),
    "blew": ("blow", "blew", "blown"),
    "blow": ("blow", "blew", "blown"),
    "blown": ("blow", "blew", "blown"),
    "bore": ("bear", "bore", "borne"),
    "borne": ("bear", "bore", "borne"),
    "bought": ("buy", "bought", "bought"),
    "bound": ("bind", "bound", "bound"),
    "break": ("break", "broke", "broken"),
    "bred": ("breed", "bred", "bred"),
    "breed": ("breed", "bred", "bred"),
    "bring": ("bring", "brought", "brought"),
    "broadcast": ("broadcast", "broadcast", "broadcast"),
    "broke": ("break", "broke", "broken"),
    "broken": ("break", "broke", "broken"),
    "brought": ("bring", "brought", "brought"),
    "build": ("build", "built", "built"),
    "built": ("build", "built", "built"),
    "burn": ("burn", "burned", "burned"),
    "burned": ("burn", "burned", "burned"),
    "burst": ("burst", "burst", "burst"),
    "buy": ("buy", "bought", "bought"),
    "came": ("come", "came", "come"),
    "cast": ("cast", "cast", "cast"),
    "catch": ("catch", "caught", "caught"),
    "caught": ("catch", "caught", "caught"),
    "choose": ("choose", "chose", "chosen"),
    "chose": ("choose", "chose", "chosen"),
    "chosen": ("choose", "chose", "chosen"),
    "cling": ("cling", "clung", "clung"),
    "clung": ("cling", "clung", "clung"),
    "come": ("come", "came", "come"),
    "cost": ("cost", "cost", "cost"),
    "creep": ("creep", "crept", "crept"),
    "crept": ("creep", "crept", "crept"),
    "cut": ("cut", "cut", "cut"),
    "deal": ("deal", "dealt", "dealt"),
    "dealt": ("deal", "dealt", "dealt"),
    "did": ("do", "did", "done"),
    "dig": ("dig", "dug", "dug"),
    "dive": ("dive", "dived", "dived"),
    "dived": ("dive", "dived", "dived"),
    "do": ("do", "did", "done"),
    "done": ("do", "did", "done"),
    "drank": ("drink", "drank", "drunk"),
    "draw": ("draw", "drew", "drawn"),
    "drawn": ("draw", "drew", "drawn"),
    "dream": ("dream", "dreamt", "dreamt"),
    "dreamt": ("dream", "dreamt", "dreamt"),
    "drew": ("draw", "drew", "drawn"),
    "drink": ("drink", "drank", "drunk"),
    "drive": ("drive", "drove", "driven"),
    "driven": ("drive", "drove", "driven"),
    "drove": ("drive", "drove", "driven"),
    "drunk": ("drink", "drank", "drunk"),
    "dug": ("dig", "dug", "dug"),
    "eat": ("eat", "ate", "eaten"),
    "eaten": ("eat", "ate", "eaten"),
    "fall": ("fall", "fell", "fallen"),
    "fallen": ("fall", "fell", "fallen"),
    "fed": ("feed", "fed", "fed"),
    "feed": ("feed", "fed", "fed"),
    "feel": ("feel", "felt", "felt"),
    "fell": ("fall", "fell", "fallen"),
    "felt": ("feel", "felt", "felt"),
    "fight": ("fight", "fought", "fought"),
    "find": ("find", "found", "found"),
    "fit": ("fit", "fit", "fit"),
    "fled": ("flee", "fled", "fled"),
    "flee": ("flee", "fled", "fled"),
    "flew": ("fly", "flew", "flown"),
    "fling": ("fling", "flung", "flung"),
    "flown": ("fly", "flew", "flown"),
    "flung": ("fling", "flung", "flung"),
    "fly": ("fly", "flew", "flown"),
    "forbade": ("forbid", "forbade", "forbidden"),
    "forbid": ("forbid", "forbade", "forbidden"),
    "forbidden": ("forbid", "forbade", "forbidden"),
    "forego": ("forego", "forewent", "foregone"),
    "foregone": ("forego", "forewent", "foregone"),
    "foretell": ("foretell", "foretold", "foretold"),
    "foretold": ("foretell", "foretold", "foretold"),
    "forewent": ("forego", "forewent", "foregone"),
    "forgave": ("forgive", "forgave", "forgiven"),
    "forget": ("forget", "forgot", "forgotten"),
    "forgive": ("forgive", "forgave", "forgiven"),
    "forgiven": ("forgive", "forgave", "forgiven"),
    "forgot": ("forget", "forgot", "forgotten"),
    "forgotten": ("forget", "forgot", "forgotten"),
    "forsake": ("forsake", "forsook", "forsaken"),
    "forsaken": ("forsake", "forsook", "forsaken"),
    "forsook": ("forsake", "forsook", "forsaken"),
    "fought": ("fight", "fought", "fought"),
    "found": ("find", "found", "found"),
    "freeze": ("freeze", "froze", "frozen"),
    "froze": ("freeze", "froze", "frozen"),
    "frozen": ("freeze", "froze", "frozen"),
    "gave": ("give", "gave", "given"),
    "get": ("get", "got", "gotten"),
    "give": ("give", "gave", "given"),
    "given": ("give", "gave", "given"),
    "go": ("go", "went", "gone"),
    "gone": ("go", "went", "gone"),
    "got": ("get", "got", "gotten"),
    "gotten": ("get", "got", "gotten"),
    "grew": ("grow", "grew", "grown"),
    "grind": ("grind", "ground", "ground"),
    "ground": ("grind", "ground", "ground"),
    "grow": ("grow", "grew", "grown"),
    "grown": ("grow", "grew", "grown"),
    "had": ("have", "had", "had"),
    "hang": ("hang", "hanged", "hanged"),
    "hanged": ("hang", "hanged", "hanged"),
    "have": ("have", "had", "had"),
    "hear": ("hear", "heard", "heard"),
    "heard": ("hear", "heard", "heard"),
    "held": ("hold", "held", "held"),
    "hid": ("hide", "hid", "hidden"),
    "hidden": ("hide", "hid", "hidden"),
    "hide": ("hide", "hid", "hidden"),
    "hit": ("hit", "hit", "hit"),
    "hold": ("hold", "held", "held"),
    "hung": ("hang", "hung", "hung"),
    "hurt": ("hurt", "hurt", "hurt"),
    "keep": ("keep", "kept", "kept"),
    "kept": ("keep", "kept", "kept"),
    "kneel": ("kneel", "knelt", "knelt"),
    "knelt": ("kneel", "knelt", "knelt"),
    "knew": ("know", "knew", "known"),
    "know": ("know", "knew", "known"),
    "known": ("know", "knew", "known"),
    "laid": ("lay", "laid", "laid"),
    "lain": ("lie", "lay", "lain"),
    "lay": ("lie", "lay", "lain"),
    "lead": ("lead", "led", "led"),
    "lean": ("lean", "leaned", "leaned"),
    "leaned": ("lean", "leaned", "leaned"),
    "leap": ("leap", "leaped", "leaped"),
    "leaped": ("leap", "leaped", "leaped"),
    "learn": ("learn", "learned", "learned"),
    "learned": ("learn", "learned", "learned"),
    "leave": ("leave", "left", "left"),
    "led": ("lead", "led", "led"),
    "left": ("leave", "left", "left"),
    "lend": ("lend", "lent", "lent"),
    "lent": ("lend", "lent", "lent"),
    "let": ("let", "let", "let"),
    "lie": ("lie", "lay", "lain"),
    "light": ("light", "lit", "lit"),
    "lit": ("light", "lit", "lit"),
    "lose": ("lose", "lost", "lost"),
    "lost": ("lose", "lost", "lost"),
    "made": ("make", "made", "made"),
    "make": ("make", "made", "made"),
    "may": ("may", "may", "may"),
    "mean": ("mean", "meant", "meant"),
    "meant": ("mean", "meant", "meant"),
    "meet": ("meet", "met", "met"),
    "met": ("meet", "met", "met"),
    "misspell": ("misspell", "misspelled", "misspelled"),
    "misspelled": ("misspell", "misspelled", "misspelled"),
    "mistake": ("mistake", "mistook", "mistaken"),
    "mistaken": ("mistake", "mistook", "mistaken"),
    "mistook": ("mistake", "mistook", "mistaken"),
    "mow": ("mow", "mowed", "mown"),
    "mowed": ("mow", "mowed", "mown"),
    "mown": ("mow", "mowed", "mown"),
    "overcame": ("overcome", "overcame", "overcome"),
    "overcome": ("overcome", "overcame", "overcome"),
    "overdid": ("overdo", "overdid", "overdone"),
    "overdo": ("overdo", "overdid", "overdone"),
    "overdone": ("overdo", "overdid", "overdone"),
    "overtake": ("overtake", "overtook", "overtaken"),
    "overtaken": ("overtake", "overtook", "overtaken"),
    "overthrew": ("overthrow", "overthrew", "overthrown"),
    "overthrow": ("overthrow", "overthrew", "overthrown"),
    "overthrown": ("overthrow", "overthrew", "overthrown"),
    "overtook": ("overtake", "overtook", "overtaken"),
    "paid": ("pay", "paid", "paid"),
    "pay": ("pay", "paid", "paid"),
    "plead": ("plead", "?pleaded", "pleaded"),
    "pleaded": ("plead", "?pleaded", "pleaded"),
    "prove": ("prove", "proved", "proven"),
    "proved": ("prove", "proved", "proven"),
    "proven": ("prove", "proved", "proven"),
    "put": ("put", "put", "put"),
    "quit": ("quit", "quit", "quit"),
    "ran": ("run", "ran", "run"),
    "rang": ("ring", "rang", "rung"),
    "read": ("read", "read", "read"),
    "rid": ("rid", "rid", "rid"),
    "ridden": ("ride", "rode", "ridden"),
    "ride": ("ride", "rode", "ridden"),
    "ring": ("ring", "rang", "rung"),
    "rise": ("rise", "rose", "risen"),
    "risen": ("rise", "rose", "risen"),
    "rode": ("ride", "rode", "ridden"),
    "rose": ("rise", "rose", "risen"),
    "run": ("run", "ran", "run"),
    "rung": ("ring", "rang", "rung"),
    "said": ("say", "said", "said"),
    "sang": ("sing", "sang", "sung"),
    "sank": ("sink", "sank", "sunk"),
    "sat": ("sit", "sat", "sat"),
    "saw": ("see", "saw", "seen"),
    "sawed": ("saw", "sawed", "sawed"),
    "say": ("say", "said", "said"),
    "see": ("see", "saw", "seen"),
    "seek": ("seek", "sought", "sought"),
    "seen": ("see", "saw", "seen"),
    "sell": ("sell", "sold", "sold"),
    "send": ("send", "sent", "sent"),
    "sent": ("send", "sent", "sent"),
    "set": ("set", "set", "set"),
    "sew": ("sew", "sewed", "sewed"),
    "sewed": ("sew", "sewed", "sewed"),
    "shake": ("shake", "shook", "shaken"),
    "shaken": ("shake", "shook", "shaken"),
    "shear": ("shear", "sheared", "sheared"),
    "sheared": ("shear", "sheared", "sheared"),
    "shed": ("shed", "shed", "shed"),
    "shine": ("shine", "shone", "shone"),
    "shone": ("shine", "shone", "shone"),
    "shook": ("shake", "shook", "shaken"),
    "shoot": ("shoot", "shot", "shot"),
    "shot": ("shoot", "shot", "shot"),
    "show": ("show", "showed", "shown"),
    "showed": ("show", "showed", "shown"),
    "shown": ("show", "showed", "shown"),
    "shrank": ("shrink", "shrank", "shrunk"),
    "shrink": ("shrink", "shrank", "shrunk"),
    "shrunk": ("shrink", "shrank", "shrunk"),
    "shut": ("shut", "shut", "shut"),
    "sing": ("sing", "sang", "sung"),
    "sink": ("sink", "sank", "sunk"),
    "sit": ("sit", "sat", "sat"),
    "slain": ("slay", "slew", "slain"),
    "slay": ("slay", "slew", "slain"),
    "sleep": ("sleep", "slept", "slept"),
    "slept": ("sleep", "slept", "slept"),
    "slew": ("slay", "slew", "slain"),
    "slid": ("slide", "slid", "slid"),
    "slide": ("slide", "slid", "slid"),
    "sling": ("sling", "slung", "slung"),
    "slit": ("slit", "slit", "slit"),
    "slung": ("sling", "slung", "slung"),
    "smell": ("smell", "smelled", "smelled"),
    "smelled": ("smell", "smelled", "smelled"),
    "smite": ("smite", "smote", "smitten"),
    "smitten": ("smite", "smote", "smitten"),
    "smote": ("smite", "smote", "smitten"),
    "sold": ("sell", "sold", "sold"),
    "sought": ("seek", "sought", "sought"),
    "sow": ("sow", "sowed", "sowed"),
    "sowed": ("sow", "sowed", "sowed"),
    "spat": ("spit", "spat", "spat"),
    "speak": ("speak", "spoke", "spoken"),
    "sped": ("speed", "sped", "sped"),
    "speed": ("speed", "sped", "sped"),
    "spell": ("spell", "spelled", "spelled"),
    "spelled": ("spell", "spelled", "spelled"),
    "spend": ("spend", "spent", "spent"),
    "spent": ("spend", "spent", "spent"),
    "spill": ("spill", "spilled", "spilled"),
    "spilled": ("spill", "spilled", "spilled"),
    "spin": ("spin", "spun", "spun"),
    "spit": ("spit", "spat", "spat"),
    "split": ("split", "split", "split"),
    "spoil": ("spoil", "spoiled", "spoiled"),
    "spoiled": ("spoil", "spoiled", "spoiled"),
    "spoke": ("speak", "spoke", "spoken"),
    "spoken": ("speak", "spoke", "spoken"),
    "sprang": ("spring", "sprang", "sprung"),
    "spread": ("spread", "spread", "spread"),
    "spring": ("spring", "sprang", "sprung"),
    "sprung": ("spring", "sprang", "sprung"),
    "spun": ("spin", "spun", "spun"),
    "stand": ("stand", "stood", "stood"),
    "stank": ("stink", "stank", "stunk"),
    "steal": ("steal", "stole", "stolen"),
    "stick": ("stick", "stuck", "stuck"),
    "sting": ("sting", "stung", "stung"),
    "stink": ("stink", "stank", "stunk"),
    "stole": ("steal", "stole", "stolen"),
    "stolen": ("steal", "stole", "stolen"),
    "stood": ("stand", "stood", "stood"),
    "stridden": ("stride", "strode", "stridden"),
    "stride": ("stride", "strode", "stridden"),
    "strike": ("strike", "struck", "struck"),
    "strive": ("strive", "strove", "striven"),
    "striven": ("strive", "strove", "striven"),
    "strode": ("stride", "strode", "stridden"),
    "strove": ("strive", "strove", "striven"),
    "struck": ("strike", "struck", "struck"),
    "stuck": ("stick", "stuck", "stuck"),
    "stung": ("sting", "stung", "stung"),
    "stunk": ("stink", "stank", "stunk"),
    "sung": ("sing", "sang", "sung"),
    "sunk": ("sink", "sank", "sunk"),
    "swam": ("swim", "swam", "swum"),
    "swear": ("swear", "swore", "sworn"),
    "sweep": ("sweep", "swept", "swept"),
    "swell": ("swell", "swelled", "swelled"),
    "swelled": ("swell", "swelled", "swelled"),
    "swept": ("sweep", "swept", "swept"),
    "swim": ("swim", "swam", "swum"),
    "swing": ("swing", "swung", "swung"),
    "swore": ("swear", "swore", "sworn"),
    "sworn": ("swear", "swore", "sworn"),
    "swum": ("swim", "swam", "swum"),
    "swung": ("swing", "swung", "swung"),
    "take": ("take", "took", "taken"),
    "taken": ("take", "took", "taken"),
    "taught": ("teach", "taught", "taught"),
    "teach": ("teach", "taught", "taught"),
    "tear": ("tear", "tore", "torn"),
    "tell": ("tell", "told", "told"),
    "think": ("think", "thought", "thought"),
    "thought": ("think", "thought", "thought"),
    "threw": ("throw", "threw", "thrown"),
    "thrive": ("thrive", "thrived", "thrived"),
    "thrived": ("thrive", "thrived", "thrived"),
    "throw": ("throw", "threw", "thrown"),
    "thrown": ("throw", "threw", "thrown"),
    "thrust": ("thrust", "thrust", "thrust"),
    "told": ("tell", "told", "told"),
    "took": ("take", "took", "taken"),
    "tore": ("tear", "tore", "torn"),
    "torn": ("tear", "tore", "torn"),
    "tread": ("tread", "trod", "trodden"),
    "trod": ("tread", "trod", "trodden"),
    "trodden": ("tread", "trod", "trodden"),
    "understand": ("understand", "understood", "understood"),
    "understood": ("understand", "understood", "understood"),
    "upheld": ("uphold", "upheld", "upheld"),
    "uphold": ("uphold", "upheld", "upheld"),
    "upset": ("upset", "upset", "upset"),
    "wake": ("wake", "woke", "woken"),
    "was": ("be", "was", "been"),
    "wear": ("wear", "wore", "worn"),
    "weave": ("weave", "wove", "woven"),
    "wed": ("wed", "wed", "wed"),
    "weep": ("weep", "wept", "wept"),
    "went": ("go", "went", "gone"),
    "wept": ("weep", "wept", "wept"),
    "were": ("be", "were", "been"),
    "win": ("win", "won", "won"),
    "wind": ("wind", "wound", "wound"),
    "withdraw": ("withdraw", "withdrew", "withdrawn"),
    "withdrawn": ("withdraw", "withdrew", "withdrawn"),
    "withdrew": ("withdraw", "withdrew", "withdrawn"),
    "withheld": ("withhold", "withheld", "withheld"),
    "withhold": ("withhold", "withheld", "withheld"),
    "withstand": ("withstand", "withstood", "withstood"),
    "withstood": ("withstand", "withstood", "withstood"),
    "woke": ("wake", "woke", "woken"),
    "woken": ("wake", "woke", "woken"),
    "won": ("win", "won", "won"),
    "wore": ("wear", "wore", "worn"),
    "worn": ("wear", "wore", "worn"),
    "wound": ("wind", "wound", "wound"),
    "wove": ("weave", "wove", "woven"),
    "woven": ("weave", "wove", "woven"),
    "wring": ("wring", "wrung", "wrung"),
    "write": ("write", "wrote", "written"),
    "written": ("write", "wrote", "written"),
    "wrote": ("write", "wrote", "written"),
    "wrung": ("wring", "wrung", "wrung"),
}


# Irregular nouns — singular -> plural, the used slice of the
# reference's 2153-line irregularEnglishNouns.txt (every entry the
# WordTransformerTest vectors exercise plus the common head nouns).
IRREGULAR_NOUNS_SINGULAR_TO_PLURAL: dict[str, str] = {
    "addendum": "addenda",
    "alga": "algae",
    "alumna": "alumnae",
    "alumnus": "alumni",
    "analysis": "analyses",
    "antenna": "antennae",
    "appendix": "appendices",
    "axis": "axes",
    "bacillus": "bacilli",
    "bacterium": "bacteria",
    "basis": "bases",
    "beau": "beaux",
    "bison": "bison",
    "buffalo": "buffaloes",
    "bus": "buses",
    "cactus": "cacti",
    "calf": "calves",
    "child": "children",
    "clove": "cloves",
    "corps": "corps",
    "corpus": "corpora",
    "crisis": "crises",
    "criterion": "criteria",
    "curriculum": "curricula",
    "datum": "data",
    "deer": "deer",
    "diagnosis": "diagnoses",
    "die": "dice",
    "dwarf": "dwarves",
    "echo": "echoes",
    "elf": "elves",
    "ellipsis": "ellipses",
    "embargo": "embargoes",
    "emphasis": "emphases",
    "erratum": "errata",
    "fireman": "firemen",
    "fish": "fish",
    "focus": "foci",
    "foot": "feet",
    "formula": "formulae",
    "fungus": "fungi",
    "genus": "genera",
    "goose": "geese",
    "half": "halves",
    "hero": "heroes",
    "hippopotamus": "hippopotami",
    "hoof": "hooves",
    "hypothesis": "hypotheses",
    "index": "indices",
    "knife": "knives",
    "leaf": "leaves",
    "life": "lives",
    "loaf": "loaves",
    "louse": "lice",
    "man": "men",
    "matrix": "matrices",
    "means": "means",
    "media": "mediae",
    "medium": "media",
    "memorandum": "memoranda",
    "millennium": "milennia",
    "moose": "moose",
    "mosquito": "mosquitoes",
    "mouse": "mice",
    "movie": "movies",
    "nebula": "nebulae",
    "neurosis": "neuroses",
    "nucleus": "nuclei",
    "oasis": "oases",
    "octopus": "octopi",
    "ovum": "ova",
    "ox": "oxen",
    "paralysis": "paralyses",
    "parenthesis": "parentheses",
    "person": "people",
    "phenomenon": "phenomena",
    "potato": "potatoes",
    "radius": "radiuses",
    "scarf": "scarves",
    "scissors": "scissors",
    "series": "series",
    "sheep": "sheep",
    "shelf": "shelves",
    "slice": "slices",
    "species": "species",
    "status": "status",
    "stimulus": "stimuli",
    "stratum": "strata",
    "syllabus": "syllabuses",
    "symposium": "symposia",
    "synopsis": "synopses",
    "synthesis": "syntheses",
    "tableau": "tableaux",
    "thesis": "theses",
    "thief": "thieves",
    "tomato": "tomatoes",
    "tooth": "teeth",
    "torpedo": "torpedoes",
    "vertebra": "vertebrae",
    "vertex": "vertices",
    "veto": "vetoes",
    "vita": "vitae",
    "wife": "wives",
    "wolf": "wolves",
    "woman": "women",
}

# plural -> singular view (IRREGULAR_NOUNS_REVERSE upstream)
IRREGULAR_NOUNS: dict[str, str] = {
    v: k for k, v in IRREGULAR_NOUNS_SINGULAR_TO_PLURAL.items()}


_VOWELS = set("aeiou")


def word_to_singular(plural: str) -> str:
    """wordToSingularEnglish port (WordTransformer.java:215-276):
    irregular map, then ices→ix / ies→y / ves→f(e) / -es / -s suffix
    rules; words shorter than 4 chars pass through."""
    if not plural:
        return ""
    # the irregular bank first (containsValue(plural) upstream, with
    # first-letter casing aligned to the input, :244-251)
    if plural in IRREGULAR_NOUNS:
        singular = IRREGULAR_NOUNS[plural]
        if plural[:1].isupper():
            singular = singular[:1].upper() + singular[1:]
        return singular
    if len(plural) < 4:
        return plural
    low = plural.lower()
    if low.endswith("ices"):
        return plural[:-4] + "ix"
    if low.endswith("ies"):
        return plural[:-3] + "y"
    if low.endswith("ves"):
        before = plural[-3]
        out = plural[:-3] + "f"
        if before not in _VOWELS and out[-2] in _VOWELS:
            out += "e"
        return out
    if low.endswith("es") and len(plural) >= 5:
        two, one = low[-4:-2], low[-3:-2]
        # the vowel test runs on letterBeforeES (the char DIRECTLY
        # before "es"), :272-274 — not the first of the pair
        if two in ("ss", "ch", "sh") or one == "x" or one in _VOWELS:
            return plural[:-2]
    if low.endswith("s"):
        return plural[:-1]
    return plural


def verb_simple_present(verb: str) -> str:
    """getSimplePresent port (WordTransformer.java:672-686): irregular
    base form, else strip a trailing -ed, else third-person -s/-es
    undone via word_to_singular-style stripping is deliberately NOT
    applied (the reference leaves 3rd-person forms to
    getThirdPersonSingular's inverse, which predicates don't need)."""
    if not verb:
        return verb
    ev = _irregular(verb)
    if ev is not None:
        return ev[0]
    if verb.endswith("ed"):
        return verb[:-2]
    return verb


def normalize_predicate_name(pred: str) -> str:
    """Canonicalize one snake_cased predicate name: direct map hit
    first; else normalize the leading verb token to simple present and
    re-look-up; else return the verb-normalized name."""
    if pred in PREDICATE_CANON:
        return PREDICATE_CANON[pred]
    toks = pred.split("_")
    toks[0] = verb_simple_present(toks[0])
    norm = "_".join(toks)
    return PREDICATE_CANON.get(norm, norm)


def normalize_predicates(triples: DataFrame,
                         mapping: dict[str, str] | None = None,
                         pred_col: str = "pred") -> DataFrame:
    """Rewrite pred through the canonical map as a literal column map —
    no join, no shuffle, stays in whole-stage codegen. Unmapped
    predicates pass through unchanged (the map is the explicit layer;
    induced-pattern names should be pre-normalized with
    normalize_predicate_name when the patterns are built)."""
    m = PREDICATE_CANON if mapping is None else mapping
    if not m:
        return triples
    lit_map = F.create_map(
        *[F.lit(x) for kv in sorted(m.items()) for x in kv])
    return triples.withColumn(
        pred_col,
        F.coalesce(lit_map[F.col(pred_col)], F.col(pred_col)))


def _irregular(verb: str) -> tuple[str, str, str] | None:
    """IRREGULAR_VERBS.get(stemEnglishWord(verb)) — the reference
    looks up by the Snowball-stemmed form only; every raw form is a
    key of the table anyway (WordTransformer.java:635-636)."""
    from kgp.stemmer import stem_english_word
    return IRREGULAR_VERB_TABLE.get(stem_english_word(verb))
