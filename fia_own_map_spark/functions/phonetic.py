"""Phonetic key functions: Double Metaphone + Soundex.

The reference blocks on the *primary* double-metaphone code of the
sorted-token-concatenated owner name (`Name_Matching_opt.py:64-69,100-106`),
computed by the `metaphone` pip package. That package is not available in this
environment, so this module is a clean-room implementation of Lawrence
Philips' published Double Metaphone algorithm (Dr. Dobb's Journal, June 2000).
Codes are **not** length-truncated, matching the pip package's behavior — the
reference feeds whole concatenated names through it, and truncation would
collapse blocking keys into mega-blocks.

Spark surface:
  * Double Metaphone has no Column function: blocking encodes the DISTINCT
    fingerprints with ``double_metaphone`` inside one ``mapInPandas``
    (``combos.exploded_metaphone_keys``).
  * Soundex is Spark's built-in ``F.soundex`` (north_rule asks for both
    key families); ``soundex_py`` is its pure-Python mirror.

Pure-Python entry points (``double_metaphone``) are shared by the pandas
oracle used in tests, so Spark and oracle keys agree by construction.
"""

from __future__ import annotations

_VOWELS = frozenset("AEIOUY")


def _clean(value: str) -> str:
    return "".join(ch for ch in value.upper() if "A" <= ch <= "Z")


def _is_vowel(s: str, i: int) -> bool:
    return 0 <= i < len(s) and s[i] in _VOWELS


def _slavo_germanic(s: str) -> bool:
    return ("W" in s) or ("K" in s) or ("CZ" in s) or ("WITZ" in s)


def double_metaphone(value: str) -> tuple[str, str]:  # noqa: C901
    """Return (primary, secondary) double-metaphone codes, untruncated.

    Clean-room implementation of the published algorithm; deterministic and
    pure. Non-alphabetic characters are ignored (digits pass through the
    reference's normalizer but contribute no phonetic signal, matching the
    pip package's behavior of skipping unhandled characters).
    """
    st = _clean(value)
    length = len(st)
    if length == 0:
        return ("", "")
    s = st + "      "
    first, last = 0, length - 1
    slavo = _slavo_germanic(st)
    pri: list[str] = []
    sec: list[str] = []

    def add(p: str, sc: str | None = None) -> None:
        if sc is None:
            sc = p
        if p:
            pri.append(p)
        if sc:
            sec.append(sc)

    current = 0
    # silent initial letters: GN-, KN-, PN-, WR-, PS-
    if s[0:2] in ("GN", "KN", "PN", "WR", "PS"):
        current += 1
    # initial X pronounced as Z (e.g. XAVIER) -> S
    if s[current] == "X" and current == first:
        add("S")
        current += 1

    while current < length:
        c = s[current]

        if c in _VOWELS:
            if current == first:
                add("A")
            current += 1

        elif c == "B":
            add("P")
            current += 2 if s[current + 1] == "B" else 1

        elif c == "C":
            # germanic -ACH-
            if (
                current > first + 1
                and not _is_vowel(s, current - 2)
                and s[current - 1 : current + 2] == "ACH"
                and s[current + 2] != "I"
                and (
                    s[current + 2] != "E"
                    or s[current - 2 : current + 4] in ("BACHER", "MACHER")
                )
            ):
                add("K")
                current += 2
            elif current == first and s[first : first + 6] == "CAESAR":
                add("S")
                current += 2
            elif s[current : current + 4] == "CHIA":
                add("K")
                current += 2
            elif s[current : current + 2] == "CH":
                if current > first and s[current : current + 4] == "CHAE":
                    add("K", "X")
                    current += 2
                elif (
                    current == first
                    and (
                        s[current + 1 : current + 6] in ("HARAC", "HARIS")
                        or s[current + 1 : current + 4] in ("HOR", "HYM", "HIA", "HEM")
                    )
                    and s[first : first + 5] != "CHORE"
                ):
                    add("K")
                    current += 2
                elif (
                    s[first : first + 4] in ("VAN ", "VON ")
                    or s[first : first + 3] == "SCH"
                    or s[current - 2 : current + 4] in ("ORCHES", "ARCHIT", "ORCHID")
                    or s[current + 2] in ("T", "S")
                    or (
                        (s[current - 1] in ("A", "O", "U", "E") or current == first)
                        and s[current + 2]
                        in ("L", "R", "N", "M", "B", "H", "F", "V", "W", " ")
                    )
                ):
                    add("K")
                    current += 2
                else:
                    if current > first:
                        if s[first : first + 2] == "MC":
                            add("K")
                        else:
                            add("X", "K")
                    else:
                        add("X")
                    current += 2
            elif s[current : current + 2] == "CZ" and s[current - 2 : current + 2] != "WICZ":
                add("S", "X")
                current += 2
            elif s[current + 1 : current + 4] == "CIA":
                add("X")
                current += 3
            elif s[current : current + 2] == "CC" and not (
                current == first + 1 and s[first] == "M"
            ):
                if s[current + 2] in ("I", "E", "H") and s[current + 2 : current + 4] != "HU":
                    if (current == first + 1 and s[first] == "A") or s[
                        current - 1 : current + 4
                    ] in ("UCCEE", "UCCES"):
                        add("KS")
                    else:
                        add("X")
                    current += 3
                else:
                    add("K")
                    current += 2
            elif s[current : current + 2] in ("CK", "CG", "CQ"):
                add("K")
                current += 2
            elif s[current : current + 2] in ("CI", "CE", "CY"):
                if s[current : current + 3] in ("CIO", "CIE", "CIA"):
                    add("S", "X")
                else:
                    add("S")
                current += 2
            else:
                add("K")
                if s[current + 1 : current + 3] in (" C", " Q", " G"):
                    current += 3
                elif s[current + 1] in ("C", "K", "Q") and s[current + 1 : current + 3] not in (
                    "CE",
                    "CI",
                ):
                    current += 2
                else:
                    current += 1

        elif c == "D":
            if s[current : current + 2] == "DG":
                if s[current + 2] in ("I", "E", "Y"):
                    add("J")
                    current += 3
                else:
                    add("TK")
                    current += 2
            elif s[current : current + 2] in ("DT", "DD"):
                add("T")
                current += 2
            else:
                add("T")
                current += 1

        elif c == "F":
            add("F")
            current += 2 if s[current + 1] == "F" else 1

        elif c == "G":
            if s[current + 1] == "H":
                if current > first and not _is_vowel(s, current - 1):
                    add("K")
                    current += 2
                elif current == first:
                    add("J" if s[current + 2] == "I" else "K")
                    current += 2
                elif (
                    (current > first + 1 and s[current - 2] in ("B", "H", "D"))
                    or (current > first + 2 and s[current - 3] in ("B", "H", "D"))
                    or (current > first + 3 and s[current - 4] in ("B", "H"))
                ):
                    current += 2  # silent GH (e.g. HUGH, DAUGHTER)
                else:
                    if (
                        current > first + 2
                        and s[current - 1] == "U"
                        and s[current - 3] in ("C", "G", "L", "R", "T")
                    ):
                        add("F")  # LAUGH, COUGH
                    elif current > first and s[current - 1] != "I":
                        add("K")
                    current += 2
            elif s[current + 1] == "N":
                if current == first + 1 and _is_vowel(s, first) and not slavo:
                    add("KN", "N")
                elif s[current + 2 : current + 4] != "EY" and s[current + 1] != "Y" and not slavo:
                    add("N", "KN")
                else:
                    add("KN")
                current += 2
            elif s[current + 1 : current + 3] == "LI" and not slavo:
                add("KL", "L")
                current += 2
            elif current == first and (
                s[current + 1] == "Y"
                or s[current + 1 : current + 3]
                in ("ES", "EP", "EB", "EL", "EY", "IB", "IL", "IN", "IE", "EI", "ER")
            ):
                add("K", "J")
                current += 2
            elif (
                (s[current + 1 : current + 3] == "ER" or s[current + 1] == "Y")
                and s[first : first + 6] not in ("DANGER", "RANGER", "MANGER")
                and s[current - 1] not in ("E", "I")
                and s[current - 1 : current + 2] not in ("RGY", "OGY")
            ):
                add("K", "J")
                current += 2
            elif s[current + 1] in ("E", "I", "Y") or s[current - 1 : current + 3] in (
                "AGGI",
                "OGGI",
            ):
                if (
                    s[first : first + 4] in ("VAN ", "VON ")
                    or s[first : first + 3] == "SCH"
                    or s[current + 1 : current + 3] == "ET"
                ):
                    add("K")
                elif s[current + 1 : current + 5] == "IER ":
                    add("J")
                else:
                    add("J", "K")
                current += 2
            else:
                add("K")
                current += 2 if s[current + 1] == "G" else 1

        elif c == "H":
            if (current == first or _is_vowel(s, current - 1)) and _is_vowel(s, current + 1):
                add("H")
                current += 2
            else:
                current += 1

        elif c == "J":
            if s[current : current + 4] == "JOSE" or s[first : first + 4] == "SAN ":
                if (current == first and s[current + 4] == " ") or s[first : first + 4] == "SAN ":
                    add("H")
                else:
                    add("J", "H")
                current += 1
            else:
                if current == first:
                    add("J", "A")
                elif (
                    _is_vowel(s, current - 1)
                    and not slavo
                    and s[current + 1] in ("A", "O")
                ):
                    add("J", "H")
                elif current == last:
                    add("J", "")
                elif s[current + 1] not in (
                    "L",
                    "T",
                    "K",
                    "S",
                    "N",
                    "M",
                    "B",
                    "Z",
                ) and s[current - 1] not in ("S", "K", "L"):
                    add("J")
                current += 2 if s[current + 1] == "J" else 1

        elif c == "K":
            add("K")
            current += 2 if s[current + 1] == "K" else 1

        elif c == "L":
            if s[current + 1] == "L":
                # spanish LL (CABRILLO, GALLEGOS)
                if (
                    current == length - 3
                    and s[current - 1 : current + 3] in ("ILLO", "ILLA", "ALLE")
                ) or (
                    (s[last - 1 : last + 1] in ("AS", "OS") or s[last] in ("A", "O"))
                    and s[current - 1 : current + 3] == "ALLE"
                ):
                    add("L", "")
                else:
                    add("L")
                current += 2
            else:
                add("L")
                current += 1

        elif c == "M":
            add("M")
            if (
                s[current - 1 : current + 2] == "UMB"
                and (current + 1 == last or s[current + 2 : current + 4] == "ER")
            ) or s[current + 1] == "M":
                current += 2
            else:
                current += 1

        elif c == "N":
            add("N")
            current += 2 if s[current + 1] == "N" else 1

        elif c == "P":
            if s[current + 1] == "H":
                add("F")
                current += 2
            else:
                add("P")
                current += 2 if s[current + 1] in ("P", "B") else 1

        elif c == "Q":
            add("K")
            current += 2 if s[current + 1] == "Q" else 1

        elif c == "R":
            if (
                current == last
                and not slavo
                and s[current - 2 : current] == "IE"
                and s[current - 4 : current - 2] not in ("ME", "MA")
            ):
                add("", "R")
            else:
                add("R")
            current += 2 if s[current + 1] == "R" else 1

        elif c == "S":
            if s[current - 1 : current + 2] in ("ISL", "YSL"):
                current += 1  # silent (ISLAND)
            elif current == first and s[current : current + 5] == "SUGAR":
                add("X", "S")
                current += 1
            elif s[current : current + 2] == "SH":
                if s[current + 1 : current + 5] in ("HEIM", "HOEK", "HOLM", "HOLZ"):
                    add("S")
                else:
                    add("X")
                current += 2
            elif s[current : current + 3] in ("SIO", "SIA") or s[current : current + 4] == "SIAN":
                add("S") if slavo else add("S", "X")
                current += 3
            elif (current == first and s[current + 1] in ("M", "N", "L", "W")) or s[
                current + 1
            ] == "Z":
                add("S", "X")
                current += 2 if s[current + 1] == "Z" else 1
            elif s[current : current + 2] == "SC":
                if s[current + 2] == "H":
                    if s[current + 3 : current + 5] in ("OO", "ER", "EN", "UY", "ED", "EM"):
                        if s[current + 3 : current + 5] in ("ER", "EN"):
                            add("X", "SK")
                        else:
                            add("SK")
                        current += 3
                    else:
                        if current == first and not _is_vowel(s, first + 3) and s[first + 3] != "W":
                            add("X", "S")
                        else:
                            add("X")
                        current += 3
                elif s[current + 2] in ("I", "E", "Y"):
                    add("S")
                    current += 3
                else:
                    add("SK")
                    current += 3
            else:
                if current == last and s[current - 2 : current] in ("AI", "OI"):
                    add("", "S")
                else:
                    add("S")
                current += 2 if s[current + 1] in ("S", "Z") else 1

        elif c == "T":
            if s[current : current + 4] == "TION":
                add("X")
                current += 3
            elif s[current : current + 3] in ("TIA", "TCH"):
                add("X")
                current += 3
            elif s[current : current + 2] == "TH" or s[current : current + 3] == "TTH":
                if (
                    s[current + 2 : current + 4] in ("OM", "AM")
                    or s[first : first + 4] in ("VAN ", "VON ")
                    or s[first : first + 3] == "SCH"
                ):
                    add("T")
                else:
                    add("0", "T")
                current += 2
            else:
                add("T")
                current += 2 if s[current + 1] in ("T", "D") else 1

        elif c == "V":
            add("F")
            current += 2 if s[current + 1] == "V" else 1

        elif c == "W":
            if s[current : current + 2] == "WR":
                add("R")
                current += 2
            elif current == first and (_is_vowel(s, current + 1) or s[current : current + 2] == "WH"):
                if _is_vowel(s, current + 1):
                    add("A", "F")
                else:
                    add("A")
                current += 1
            elif (
                (current == last and _is_vowel(s, current - 1))
                or s[current - 1 : current + 4] in ("EWSKI", "EWSKY", "OWSKI", "OWSKY")
                or s[first : first + 3] == "SCH"
            ):
                add("", "F")
                current += 1
            elif s[current : current + 4] in ("WICZ", "WITZ"):
                add("TS", "FX")
                current += 4
            else:
                current += 1

        elif c == "X":
            if not (
                current == last
                and (
                    s[current - 3 : current] in ("IAU", "EAU")
                    or s[current - 2 : current] in ("AU", "OU")
                )
            ):
                add("KS")
            current += 2 if s[current + 1] in ("C", "X") else 1

        elif c == "Z":
            if s[current + 1] == "H":
                add("J")
                current += 2
            else:
                if s[current + 1 : current + 3] in ("ZO", "ZI", "ZA") or (
                    slavo and current > first and s[current - 1] != "T"
                ):
                    add("S", "TS")
                else:
                    add("S")
                current += 2 if s[current + 1] == "Z" else 1

        else:
            current += 1

    return ("".join(pri), "".join(sec))


# American Soundex letter codes (NARA variant): digit per letter A-Z;
# '0' = vowel-ish separator (resets the run), '7' = H/W (ignored, does NOT
# reset the run — the rule PostgreSQL fuzzystrmatch omits).
_SOUNDEX_CODE = "01230127022455012623017202"


def soundex_py(value: str | None) -> str | None:
    """Pure-Python oracle mirror of Spark's built-in ``soundex`` (American
    Soundex, NARA H/W rule) — differential-tested bit-exact against
    ``F.soundex`` and cross-checked vs PostgreSQL fuzzystrmatch in
    tests/test_phonetic.py. Non-letter-initial strings pass through
    unchanged; interior non-letters are skipped but RESET the duplicate
    run (act as separators), matching the JVM implementation."""
    if value is None:
        return None
    if not value:
        return value
    first = value[0].upper()
    if not ("A" <= first <= "Z"):
        return value
    out = [first, "0", "0", "0"]
    oi = 1
    last = _SOUNDEX_CODE[ord(first) - ord("A")]
    for ch in value[1:]:
        c = ch.upper()
        if not ("A" <= c <= "Z"):
            last = "0"  # separator: resets the duplicate run
            continue
        code = _SOUNDEX_CODE[ord(c) - ord("A")]
        if code == "7":  # H/W: invisible to the run
            continue
        if code != "0" and code != last:
            out[oi] = code
            oi += 1
            if oi > 3:
                break
        last = code
    return "".join(out)
