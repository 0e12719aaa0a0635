"""Double Metaphone phonetic keys (primary + alternate).

Implemented from the published algorithm description (Lawrence Philips,
"The Double Metaphone Search Algorithm", C/C++ Users Journal, June 2000)
-- the north-star names this layer explicitly ("soundex/Double-Metaphone
phonetic keys mirroring ALA's Taxamatch fuzzy layer"). It complements the
Taxamatch-style key (functions/phonetic.py, the primary blocking key
mirroring TaxonNameSoundEx.java:82-159): Taxamatch folds Latin-epithet
suffix classes; Double Metaphone encodes Anglo/Germanic/Slavic/Romance
surname phonetics with an ALTERNATE key for ambiguous spellings
(SCHMIDT -> XMT|SMT matches SMITH -> SM0|XMT on the shared XMT), which is
exactly the second-chance bucket a person-name blocking tier wants.

The per-word automaton is branchy and inherently scalar; like the other
key generators (full_soundex, treatWord) it runs as an Arrow-batched
kernel over pd.Series -- key generation is once-per-record, off the
pairwise hot path. Behavior is pinned by golden tests
(tests/test_double_metaphone.py): hand-derived encodings for the
classic pairs plus a frozen regression corpus.

Not SQL-expressible -> the `double_metaphone_keys` query is rows-only by
design (same justification class as simhash/spelling_collision_qa).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_LEN = 4
_VOWELS = "AEIOUY"


def double_metaphone(word: str | None):
    """(primary, alternate) keys; alternate == primary when unambiguous.

    Input should be accent-folded (see functions/normalize.basic_py);
    non-alphabetic characters other than space are ignored by the rules.
    """
    if word is None:
        return None
    w = word.upper()
    length = len(w)
    if length == 0:
        return ("", "")
    last = length - 1
    pad = w + "      "
    pri: list[str] = []
    sec: list[str] = []

    def add(p: str, s: str | None = None) -> None:
        pri.append(p)
        sec.append(p if s is None else s)

    def at(j: int) -> str:
        return pad[j] if j >= 0 else " "

    def sub(j: int, n: int) -> str:
        return pad[j : j + n] if j >= 0 else ""

    def isv(j: int) -> bool:
        return 0 <= j < length and pad[j] in _VOWELS

    slavo = ("W" in w) or ("K" in w) or ("CZ" in w) or ("WITZ" in w)
    i = 0
    if sub(0, 2) in ("GN", "KN", "PN", "WR", "PS"):
        i = 1
    if at(0) == "X":  # Xavier class: initial X sounds like S
        add("S")
        i = 1

    while i < length and (len("".join(pri)) < MAX_LEN or len("".join(sec)) < MAX_LEN):
        c = at(i)
        if c in _VOWELS:
            if i == 0:
                add("A")
            i += 1
        elif c == "B":
            add("P")
            i += 2 if at(i + 1) == "B" else 1
        elif c == "\xc7":  # C-cedilla
            add("S")
            i += 1
        elif c == "C":
            if (
                i > 1
                and not isv(i - 2)
                and sub(i - 1, 3) == "ACH"
                and at(i + 2) != "I"
                and (at(i + 2) != "E" or sub(i - 2, 6) in ("BACHER", "MACHER"))
            ):
                add("K")  # germanic -ACH-
                i += 2
            elif i == 0 and sub(i, 6) == "CAESAR":
                add("S")
                i += 2
            elif sub(i, 4) == "CHIA":
                add("K")
                i += 2
            elif sub(i, 2) == "CH":
                if i > 0 and sub(i, 4) == "CHAE":
                    add("K", "X")
                elif i == 0 and (
                    sub(i + 1, 5) in ("HARAC", "HARIS")
                    or sub(i + 1, 3) in ("HOR", "HYM", "HIA", "HEM")
                ) and sub(0, 5) != "CHORE":
                    add("K")  # greek roots: chorus, chymera
                elif (
                    sub(0, 4) in ("VAN ", "VON ")
                    or sub(0, 3) == "SCH"
                    or sub(i - 2, 6) in ("ORCHES", "ARCHIT", "ORCHID")
                    or at(i + 2) in ("T", "S")
                    or (
                        (at(i - 1) in "AOUE" or i == 0)
                        and at(i + 2) in "LRNMBHFVW "
                    )
                ):
                    add("K")
                elif i > 0:
                    if sub(0, 2) == "MC":
                        add("K")
                    else:
                        add("X", "K")
                else:
                    add("X")
                i += 2
            elif sub(i, 2) == "CZ" and sub(i - 2, 4) != "WICZ":
                add("S", "X")
                i += 2
            elif sub(i + 1, 3) == "CIA":
                add("X")
                i += 3
            elif sub(i, 2) == "CC" and not (i == 1 and at(0) == "M"):
                if at(i + 2) in "IEH" and sub(i + 2, 2) != "HU":
                    if (i == 1 and at(i - 1) == "A") or sub(i - 1, 5) in (
                        "UCCEE",
                        "UCCES",
                    ):
                        add("KS")  # accident, succeed
                    else:
                        add("X")  # bacci, bertucci
                    i += 3
                else:
                    add("K")
                    i += 2
            elif sub(i, 2) in ("CK", "CG", "CQ"):
                add("K")
                i += 2
            elif sub(i, 2) in ("CI", "CE", "CY"):
                if sub(i, 3) in ("CIO", "CIE", "CIA"):
                    add("S", "X")
                else:
                    add("S")
                i += 2
            else:
                add("K")
                if sub(i + 1, 2) in (" C", " Q", " G"):  # mac caffrey
                    i += 3
                elif at(i + 1) in "CKQ" and sub(i + 1, 2) not in ("CE", "CI"):
                    i += 2
                else:
                    i += 1
        elif c == "D":
            if sub(i, 2) == "DG":
                if at(i + 2) in "IEY":
                    add("J")  # edge
                    i += 3
                else:
                    add("TK")  # edgar
                    i += 2
            elif sub(i, 2) in ("DT", "DD"):
                add("T")
                i += 2
            else:
                add("T")
                i += 1
        elif c == "F":
            add("F")
            i += 2 if at(i + 1) == "F" else 1
        elif c == "G":
            if at(i + 1) == "H":
                if i > 0 and not isv(i - 1):
                    add("K")
                    i += 2
                elif i == 0:
                    add("J" if at(i + 2) == "I" else "K")
                    i += 2
                elif (
                    (i > 1 and at(i - 2) in "BHD")
                    or (i > 2 and at(i - 3) in "BHD")
                    or (i > 3 and at(i - 4) in "BH")
                ):
                    i += 2  # silent: hugh, bough
                else:
                    if i > 2 and at(i - 1) == "U" and at(i - 3) in "CGLRT":
                        add("F")  # laugh, cough
                    elif i > 0 and at(i - 1) != "I":
                        add("K")
                    i += 2
            elif at(i + 1) == "N":
                if i == 1 and isv(0) and not slavo:
                    add("KN", "N")
                elif sub(i + 2, 2) != "EY" and at(i + 1) != "Y" and not slavo:
                    add("N", "KN")
                else:
                    add("KN")
                i += 2
            elif sub(i + 1, 2) == "LI" and not slavo:
                add("KL", "L")
                i += 2
            elif i == 0 and (
                at(i + 1) == "Y"
                or sub(i + 1, 2)
                in ("ES", "EP", "EB", "EL", "EY", "IB", "IL", "IN", "IE", "EI", "ER")
            ):
                add("K", "J")
                i += 2
            elif (
                (sub(i + 1, 2) == "ER" or at(i + 1) == "Y")
                and sub(0, 6) not in ("DANGER", "RANGER", "MANGER")
                and at(i - 1) not in "EI"
                and sub(i - 1, 3) not in ("RGY", "OGY")
            ):
                add("K", "J")
                i += 2
            elif at(i + 1) in "EIY" or sub(i - 1, 4) in ("AGGI", "OGGI"):
                if (
                    sub(0, 4) in ("VAN ", "VON ")
                    or sub(0, 3) == "SCH"
                    or sub(i + 1, 2) == "ET"
                ):
                    add("K")
                elif sub(i + 1, 4) == "IER ":
                    add("J")
                else:
                    add("J", "K")
                i += 2
            else:
                add("K")
                i += 2 if at(i + 1) == "G" else 1
        elif c == "H":
            if (i == 0 or isv(i - 1)) and isv(i + 1):
                add("H")
                i += 2
            else:
                i += 1
        elif c == "J":
            if sub(i, 4) == "JOSE" or sub(0, 4) == "SAN ":
                if (i == 0 and at(i + 4) == " ") or sub(0, 4) == "SAN ":
                    add("H")
                else:
                    add("J", "H")
                i += 1
            else:
                if i == 0:
                    add("J", "A")  # Yankelovich / Jankelowicz
                elif isv(i - 1) and not slavo and at(i + 1) in "AO":
                    add("J", "H")
                elif i == last:
                    add("J", "")
                elif at(i + 1) not in "LTKSNMBZ" and at(i - 1) not in "SKL":
                    add("J")
                i += 2 if at(i + 1) == "J" else 1
        elif c == "K":
            add("K")
            i += 2 if at(i + 1) == "K" else 1
        elif c == "L":
            if at(i + 1) == "L":
                if (
                    i == length - 3
                    and sub(i - 1, 4) in ("ILLO", "ILLA", "ALLE")
                ) or (
                    (sub(last - 1, 2) in ("AS", "OS") or at(last) in "AO")
                    and sub(i - 1, 4) == "ALLE"
                ):
                    add("L", "")  # spanish -LL-: cabrillo, gallegos
                else:
                    add("L")
                i += 2
            else:
                add("L")
                i += 1
        elif c == "M":
            add("M")
            if (
                sub(i - 1, 3) == "UMB" and (i + 1 == last or sub(i + 2, 2) == "ER")
            ) or at(i + 1) == "M":
                i += 2
            else:
                i += 1
        elif c == "N":
            add("N")
            i += 2 if at(i + 1) == "N" else 1
        elif c == "\xd1":  # N-tilde
            add("N")
            i += 1
        elif c == "P":
            if at(i + 1) == "H":
                add("F")
                i += 2
            else:
                add("P")
                i += 2 if at(i + 1) in "PB" else 1
        elif c == "Q":
            add("K")
            i += 2 if at(i + 1) == "Q" else 1
        elif c == "R":
            if (
                i == last
                and not slavo
                and sub(i - 2, 2) == "IE"
                and sub(i - 4, 2) not in ("ME", "MA")
            ):
                add("", "R")  # french -IER
            else:
                add("R")
            i += 2 if at(i + 1) == "R" else 1
        elif c == "S":
            if sub(i - 1, 3) in ("ISL", "YSL"):
                i += 1  # silent: island, carlysle
            elif i == 0 and sub(i, 5) == "SUGAR":
                add("X", "S")
                i += 1
            elif sub(i, 2) == "SH":
                if sub(i + 1, 4) in ("HEIM", "HOEK", "HOLM", "HOLZ"):
                    add("S")  # germanic
                else:
                    add("X")
                i += 2
            elif sub(i, 3) in ("SIO", "SIA") or sub(i, 4) == "SIAN":
                if slavo:
                    add("S")
                else:
                    add("S", "X")
                i += 3
            elif (i == 0 and at(i + 1) in "MNLW") or at(i + 1) == "Z":
                add("S", "X")
                i += 2 if at(i + 1) == "Z" else 1
            elif sub(i, 2) == "SC":
                if at(i + 2) == "H":
                    if sub(i + 3, 2) in ("OO", "ER", "EN", "UY", "ED", "EM"):
                        if sub(i + 3, 2) in ("ER", "EN"):
                            add("X", "SK")  # schermerhorn
                        else:
                            add("SK")  # school
                    elif i == 0 and not isv(3) and at(3) != "W":
                        add("X", "S")
                    else:
                        add("X")
                    i += 3
                elif at(i + 2) in "IEY":
                    add("S")
                    i += 3
                else:
                    add("SK")
                    i += 3
            else:
                if i == last and sub(i - 2, 2) in ("AI", "OI"):
                    add("", "S")  # french: resnais, artois
                else:
                    add("S")
                i += 2 if at(i + 1) in "SZ" else 1
        elif c == "T":
            if sub(i, 4) == "TION":
                add("X")
                i += 3
            elif sub(i, 3) in ("TIA", "TCH"):
                add("X")
                i += 3
            elif sub(i, 2) == "TH" or sub(i, 3) == "TTH":
                if sub(i + 2, 2) in ("OM", "AM") or sub(0, 4) in (
                    "VAN ",
                    "VON ",
                ) or sub(0, 3) == "SCH":
                    add("T")  # thomas, thames, germanic
                else:
                    add("0", "T")
                i += 2
            else:
                add("T")
                i += 2 if at(i + 1) in "TD" else 1
        elif c == "V":
            add("F")
            i += 2 if at(i + 1) == "V" else 1
        elif c == "W":
            if sub(i, 2) == "WR":
                add("R")
                i += 2
            elif i == 0 and (isv(i + 1) or at(i + 1) == "H"):
                if isv(i + 1):
                    add("A", "F")  # Wasserman / Vasserman
                else:
                    add("A")  # Wh-
                i += 1
            elif (
                (i == last and isv(i - 1))
                or sub(i - 1, 5) in ("EWSKI", "EWSKY", "OWSKI", "OWSKY")
                or sub(0, 3) == "SCH"
            ):
                add("", "F")
                i += 1
            elif sub(i, 4) in ("WICZ", "WITZ"):
                add("TS", "FX")
                i += 4
            else:
                i += 1  # else silent
        elif c == "X":
            if not (
                i == last
                and (sub(i - 3, 3) in ("IAU", "EAU") or sub(i - 2, 2) in ("AU", "OU"))
            ):
                add("KS")  # french -X silent: breaux
            i += 2 if at(i + 1) in "CX" else 1
        elif c == "Z":
            if at(i + 1) == "H":
                add("J")  # chinese pinyin: zhao
                i += 2
            else:
                if sub(i + 1, 2) in ("ZO", "ZI", "ZA") or (
                    slavo and i > 0 and at(i - 1) != "T"
                ):
                    add("S", "TS")
                else:
                    add("S")
                i += 2 if at(i + 1) == "Z" else 1
        else:
            i += 1

    return ("".join(pri)[:MAX_LEN], "".join(sec)[:MAX_LEN])


def _dm_series(s: pd.Series) -> pd.DataFrame:
    # struct-returning pandas UDFs hand back a DataFrame; null input ->
    # null fields (pandas UDFs cannot emit a null struct row)
    def one(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return (None, None)
        return double_metaphone(v)

    pairs = [one(v) for v in s]
    return pd.DataFrame(pairs, columns=["primary", "alternate"])


double_metaphone_udf = F.pandas_udf(
    _dm_series,
    T.StructType(
        [
            T.StructField("primary", T.StringType()),
            T.StructField("alternate", T.StringType()),
        ]
    ),
)
