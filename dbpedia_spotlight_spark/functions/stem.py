"""Porter2 (Snowball English) stemmer.

The reference stems every context token through the Snowball library
(core/src/main/scala/org/dbpedia/spotlight/db/stem/SnowballStemmer.scala,
wired at db/tokenize/LanguageIndependentTokenizer.scala and
db/tokenize/TextTokenizerFactory.scala:17-18 — "EnglishStemmer"). This is
a from-scratch pure-Python implementation of the published Snowball
English (Porter2) algorithm, NOT a port of the Java generated code.

Scale design: stemming is Python, so it must never run once per corpus
token. `stem_tokens` stems only the DISTINCT tokens (a vocabulary-sized
dimension, ~10^6-10^7 rows for full Wikipedia) through one Arrow-batched
pandas UDF and maps the corpus through the resulting (token -> stem)
dictionary with a join — O(vocab) Python, O(corpus) JVM.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_VOWELS = set("aeiouy")
_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_LI_ENDING = set("cdeghkmnrt")

# exceptional forms (Snowball English spec, exception list 1)
_EXCEPTIONS = {
    "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
    "tying": "tie", "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl",
    "sky": "sky", "news": "news", "howe": "howe", "atlas": "atlas",
    "cosmos": "cosmos", "bias": "bias", "andes": "andes",
}
# invariant after step 1a (exception list 2)
_EXCEPTIONS_1A = {
    "inning", "outing", "canning", "herring", "earring",
    "proceed", "exceed", "succeed",
}

# (suffix, replacement, condition) tables; longest-match-first
_STEP2 = (
    ("ization", "ize"), ("ational", "ate"), ("fulness", "ful"),
    ("ousness", "ous"), ("iveness", "ive"),
    ("tional", "tion"), ("biliti", "ble"), ("lessli", "less"),
    ("entli", "ent"), ("ation", "ate"), ("alism", "al"),
    ("aliti", "al"), ("ousli", "ous"), ("iviti", "ive"), ("fulli", "ful"),
    ("enci", "ence"), ("anci", "ance"), ("abli", "able"),
    ("izer", "ize"), ("ator", "ate"), ("alli", "al"),
    ("bli", "ble"), ("ogi", "og"), ("li", ""),
)
_STEP3 = (
    ("ational", "ate"), ("tional", "tion"), ("alize", "al"),
    ("icate", "ic"), ("iciti", "ic"), ("ative", ""), ("ical", "ic"),
    ("ness", ""), ("ful", ""),
)
_STEP4 = (
    "ement",
    "ance", "ence", "able", "ible", "ment",
    "ant", "ent", "ism", "ate", "iti", "ous", "ive", "ize", "ion",
    "al", "er", "ic",
)


def _r1_start(w: str) -> int:
    for p in ("gener", "commun", "arsen"):
        if w.startswith(p):
            return len(p)
    for i in range(1, len(w)):
        if w[i] not in _VOWELS and w[i - 1] in _VOWELS:
            return i + 1
    return len(w)


def _r2_start(w: str, r1: int) -> int:
    for i in range(r1 + 1, len(w)):
        if w[i] not in _VOWELS and w[i - 1] in _VOWELS:
            return i + 1
    return len(w)


def _ends_short_syllable(w: str) -> bool:
    if len(w) >= 3:
        return (
            w[-1] not in _VOWELS and w[-1] not in "wxY"
            and w[-2] in _VOWELS and w[-3] not in _VOWELS
        )
    return len(w) == 2 and w[0] in _VOWELS and w[1] not in _VOWELS


def _is_short(w: str) -> bool:
    return _ends_short_syllable(w) and _r1_start(w) >= len(w)


def _has_vowel(s: str) -> bool:
    return any(c in _VOWELS for c in s)


def porter2_stem(word: str) -> str:  # noqa: C901 (spec is a rule list)
    w = word.lower()
    if w.startswith("'"):
        w = w[1:]
    if len(w) <= 2:
        return w
    if w in _EXCEPTIONS:
        return _EXCEPTIONS[w]

    # mark consonant y as Y (initial y, or y after a vowel); scan left to
    # right against the progressively rewritten string so a just-marked Y
    # (consonant) does not make the NEXT y count as vowel-preceded
    # (e.g. "sayyid": first y -> Y, second y stays a vowel).
    if w[0] == "y":
        w = "Y" + w[1:]
    chars = list(w)
    for i in range(1, len(chars)):
        if chars[i] == "y" and chars[i - 1] in _VOWELS:
            chars[i] = "Y"
    w = "".join(chars)

    # step 0: strip apostrophe suffixes
    for suf in ("'s'", "'s", "'"):
        if w.endswith(suf):
            w = w[: -len(suf)]
            break

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith(("ied", "ies")):
        w = w[:-2] if len(w) > 4 else w[:-1]
    elif w.endswith(("us", "ss")):
        pass
    elif w.endswith("s") and _has_vowel(w[:-2]):
        w = w[:-1]
    if w in _EXCEPTIONS_1A:
        return w

    # step 1b
    r1 = _r1_start(w)
    for suf, kind in (
        ("eedly", "ee"), ("ingly", "del"), ("edly", "del"),
        ("eed", "ee"), ("ing", "del"), ("ed", "del"),
    ):
        if w.endswith(suf):
            if kind == "ee":
                if len(w) - len(suf) >= r1:
                    w = w[: -len(suf)] + "ee"
            else:
                stem = w[: -len(suf)]
                if _has_vowel(stem):
                    w = stem
                    if w.endswith(("at", "bl", "iz")):
                        w += "e"
                    elif w.endswith(_DOUBLES):
                        w = w[:-1]
                    elif _is_short(w):
                        w += "e"
            break

    # step 1c: y/Y -> i after a non-vowel that is not the first letter
    if len(w) > 2 and w[-1] in "yY" and w[-2] not in _VOWELS:
        w = w[:-1] + "i"

    # step 2 (suffix must lie in R1; longest match wins, no fallthrough)
    r1 = _r1_start(w)
    for suf, repl in _STEP2:
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                if suf == "ogi":
                    if w.endswith("logi"):
                        w = w[:-1]
                elif suf == "li":
                    if len(w) > 2 and w[-3] in _LI_ENDING:
                        w = w[:-2]
                else:
                    w = w[: -len(suf)] + repl
            break

    # step 3 (in R1; "ative" additionally requires R2)
    r1 = _r1_start(w)
    r2 = _r2_start(w, r1)
    for suf, repl in _STEP3:
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                if suf == "ative":
                    if len(w) - len(suf) >= r2:
                        w = w[: -len(suf)]
                else:
                    w = w[: -len(suf)] + repl
            break

    # step 4 (in R2; "ion" only after s/t)
    r1 = _r1_start(w)
    r2 = _r2_start(w, r1)
    for suf in _STEP4:
        if w.endswith(suf):
            if len(w) - len(suf) >= r2:
                if suf == "ion":
                    if len(w) > len(suf) and w[-4] in "st":
                        w = w[:-3]
                else:
                    w = w[: -len(suf)]
            break

    # step 5
    r1 = _r1_start(w)
    r2 = _r2_start(w, r1)
    if w.endswith("e"):
        if len(w) - 1 >= r2 or (
            len(w) - 1 >= r1 and not _ends_short_syllable(w[:-1])
        ):
            w = w[:-1]
    elif w.endswith("l") and len(w) - 1 >= r2 and len(w) > 1 and w[-2] == "l":
        w = w[:-1]

    return w.replace("Y", "y")


@pandas_udf(StringType())
def porter2_udf(tokens: pd.Series) -> pd.Series:
    """Arrow-batched Porter2 — apply to DISTINCT tokens only (see module
    docstring); never put this in a per-corpus-token hot path."""
    return tokens.map(lambda t: porter2_stem(t) if t is not None else None)


def stem_map(tokens: DataFrame, token_col: str = "token") -> DataFrame:
    """(token, stem) dictionary for the distinct tokens of a column."""
    return (
        tokens.select(F.col(token_col).alias("token")).distinct()
        .withColumn("stem", porter2_udf(F.col("token")))
    )


def stem_tokens(df: DataFrame, token_col: str = "token") -> DataFrame:
    """Replace `token_col` with its Porter2 stem.

    Python cost is O(distinct tokens); the corpus-sized frame only pays a
    JVM join against the broadcast (token -> stem) dictionary."""
    mapping = F.broadcast(stem_map(df, token_col))
    return (
        df.withColumnRenamed(token_col, "_raw_token")
        .join(mapping, F.col("_raw_token") == mapping.token, "left")
        .drop("token", "_raw_token")
        .withColumnRenamed("stem", token_col)
    )
