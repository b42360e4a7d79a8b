"""Engine configuration: keyword families, class codes, and tuning knobs.

Keyword families mirror the reference's config surface
(`Main_Algorithm_Scripts/configs.py:80-116` for the inline lists; the
CSV-sourced families at `configs.py:62-77` load from a `keywords.csv` that is
not shipped in the reference snapshot, so those families are defined here as
engine config with representative members — they are data, not code, and a
deployment swaps them wholesale).

Ownership class codes follow `Main_Algorithm_Scripts/README.md:50-56` and the
assignments in `Classify_Unknowns_opt.py` (25 federal @:600, 31 state @:653,
32 local @:628/661, 41 corporate @:518, 42 @:317, 43 @:302/324/339,
45 family @:511, -99 unknown @:263/267).
"""

from __future__ import annotations

from dataclasses import dataclass

# ---------------------------------------------------------------------------
# Ownership class codes (README.md:50-56)
# ---------------------------------------------------------------------------
CLASS_FEDERAL = 25
CLASS_STATE = 31
CLASS_LOCAL = 32
CLASS_CORPORATE = 41
CLASS_OTHER_CORP_42 = 42
CLASS_OTHER_CORP_43 = 43
CLASS_INDIGENOUS = 44
CLASS_FAMILY = 45
CLASS_UNKNOWN = -99

# ---------------------------------------------------------------------------
# Keyword families
# ---------------------------------------------------------------------------

# Inline in the reference at configs.py:81-96 ("keywords"): business/corporate
# indicator substrings used by the initial-class ladder (Classify_Unknowns_opt.py:132-156).
CORPORATE_INDICATOR_KEYWORDS: list[str] = [
    " BANK ", " CORP", " LLC", " INC", " LTD", " HRS", "MGT",
    "CORPORATION", "PARTICIPATION", " TRUST", " TRUS", " OF ",
    " CO ", " LP", "UNIVERSITY", "COLLEGE", " CHURCH", "STATE",
    " CLUB", "BAPTISI", "EVANGELICAL", "METHODIST", "CATHOLIC",
    "PROPERTIES", "ASSOCIATIONS", "ASSOCIATES", " TOWN OF",
    "CITY OF", " ASSOCI", "SOCIETY", "MAINTENANCE", "MAINTENANC",
    " COUNTY", "TELEPHONE", "ELECTRIC", "ENTERPRISES", "ENTERPRISE",
    "AUTHORITY", "HOMEOWNERS", "INTERNATIONAL", " MINISTRY",
    " OFFICE", "INVESTMENT", " HOME", " MGMT", " PRESBYTERIAN",
    " INN", "ASSOCIATION", " STE ", " L L C", "ACCOUNTING",
    "MAINTEN", "PRODUCT", "MUTUAL", "ESTATES", "PARTNER",
    " & SONS", "FINANCE", " TITLE", " L P", " FARM", "WIRELESS",
    "COMMUNICATION", " SERVICE", "BAR & GRILL", " DEPT", "DEPARTMENT",
    " CTR", " LOAN", "SPECIALTIES", "BRANDS", " UNITED", "CREDIT",
    " UNION", "CORPORATE", "TREASURER", " ADMIN", "UTILITIES",
    "COMMERCIAL", " STORAGE", "FAMILY", "AND SONS",
]

# configs.py:99-101
JUNIOR_KEYWORDS: list[str] = [
    " JR ", " JR. ", " Jr ", " Jr. ", " jr ",
    " jr. ", " JR", " JR.", " Jr", " Jr.", " jr",
    " jr.", " II ", " III ", " IV ",
]

# configs.py:103-105
NAME_CLEANER: list[str] = [
    "TTEE", "DR. ", "MR. ", "MS. ", " MRS. ", "CAPTAIN", "CPT.",
    "PROF ", "REV. COACH ", "PROFESSOR ", "REVEREND ", "SIR ",
    "LT. ", "SGT. ", "SR. ", "Miss",
]

# configs.py:110-111
BIZ_WORD_DROP: list[str] = [
    " CORP", " LLC", " INC", " LTD", " HRS", "MGT", " OF ", " CO ",
    " LP", " MGMT", " STE ", " L L C", " L P", "Holdings", "Partners",
]

# configs.py:107-108 loads Common_Name_Abbreviations.csv (not in snapshot);
# representative abbreviation -> expansion map, same shape.
NAMES_EXPANDER: dict[str, str] = {
    "WM": "WILLIAM", "JAS": "JAMES", "JOS": "JOSEPH", "CHAS": "CHARLES",
    "THOS": "THOMAS", "ROBT": "ROBERT", "GEO": "GEORGE", "EDW": "EDWARD",
    "BENJ": "BENJAMIN", "SAML": "SAMUEL", "MARG": "MARGARET",
    "CATH": "CATHERINE", "ELIZ": "ELIZABETH", "RICH": "RICHARD",
}

# CSV-sourced families (configs.py:69-77): representative config values.
TRUST_KEYWORDS: list[str] = [
    " family trust ", " living trust ", " rev trust ", " revocable trust ",
    " fam trust ", " family ", " estate of ",
]
CORP_KEYWORDS: list[str] = [
    "LLC", "INC", "CORP", "LTD", "COMPANY", "HOLDINGS", "PROPERTIES",
    "INVESTMENTS", "ENTERPRISES", "PARTNERS", "TIMBER", "LUMBER",
    "REALTY", "DEVELOPMENT", "LAND CO",
]
GOVERNMENT_KEYWORDS: list[str] = [
    r"\bUNITED STATES\b", r"\bGOVERNMENT\b", r"\bPUBLIC\b",
    r"\bCOMMISSION\b", r"\bAGENCY\b", r"\bADMINISTRATION\b",
]
REL_KEYWORDS: list[str] = [
    "CHURCH", "BAPTIST", "METHODIST", "CATHOLIC", "EVANGELICAL",
    "PRESBYTERIAN", "LUTHERAN", "MINISTRY", "MINISTRIES", "SYNAGOGUE",
    "TEMPLE", "MOSQUE", "DIOCESE", "PARISH HOUSE",
]
KW42: list[str] = [
    "CLUB", "ASSOCIATION", "SOCIETY", "FOUNDATION", "CONSERVANCY",
    "LEAGUE", "LODGE", "HOMEOWNERS", "SCOUTS", "YMCA",
]
KW43: list[str] = [
    "CEMETERY", "HOSPITAL", "COOPERATIVE", "UTILITY", "RAILROAD",
    "PIPELINE", "TELEPHONE", "ELECTRIC COOP", "WATER WORKS", "GRANGE",
]
FEDERAL_KEYWORDS: list[str] = [
    r"\bUNITED STATES\b", r"\bU S A\b", r"\bINTERIOR\b",
    r"\bNATIONAL FOREST\b", r"\bNATIONAL PARK\b", r"\bARMY\b", r"\bNAVY\b",
]

# Classify_Unknowns_opt.py:248-252
UNAVAILABLE_KEYWORDS: list[str] = [
    "NOT AVAILABLE FROM THE COUNTY",
    "AVAILABLE, NOT",
    "NOT AVAILABLE",
]

# Classify_Unknowns_opt.py:371 corp acronyms; :364-369 builds exact + spaced variants
CORP_ACRONYMS: list[str] = ["LLC", "INC", "CORP", "CO", "LTD", "LP", "LLP", "PLC"]


# ---------------------------------------------------------------------------
# Engine tuning
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class EngineConfig:
    """Tuning knobs for the three-stage ER job.

    max_block_size: blocks (records sharing one blocking key) larger than this
        are mega-blocks. For pair *generation* they are salted into sub-blocks
        of at most this size plus one representative cross-edge per sub-block,
        so connectivity is preserved while pair count is bounded (SURVEY §4
        skew note — AQE alone cannot fix |B|^2 pair blowup).
    jw_threshold / jaccard_threshold / lev_ratio_threshold: match-edge
        acceptance in similarity mode (reference parity mode is exact key
        equality, Name_Matching_opt.py:78, i.e. every candidate pair is an
        edge).
    """

    max_block_size: int = 200
    jw_threshold: float = 0.94
    jaccard_threshold: float = 0.80
    lev_ratio_threshold: float = 0.85
    score_mode: str = "exact"  # "exact" (reference parity) | "similarity"
    # second blocking-key family (north_rule: metaphone + soundex). Soundex
    # keys are per-token and deliberately generous; they only make sense with
    # similarity scoring pruning the extra candidates, so parity (exact) mode
    # keeps them off — the F1 criterion is "under the same blocking keys" as
    # the reference, which uses metaphone only (Name_Matching_opt.py:67-69).
    use_soundex_keys: bool = False


DEFAULT_CONFIG = EngineConfig()
