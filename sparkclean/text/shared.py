"""Shared lexicons + dual-dialect (PySpark Column / ANSI-SQL string)
expression helpers for the text operators.

Catalyst-backed operators in sparkclean.text expose the same
computation twice: ``*_col(...)`` builds the Catalyst expression used in
production, and ``*_sql(...)`` emits the equivalent DuckDB-runnable SQL
used as the correctness oracle.  Keeping both in one module prevents
drift.  The caption features ship from text.fast instead and keep only
their ``*_sql`` oracles; ``words_py``/``ascii_lower_py`` are its
tokenizer twins.

The 60-bit string hash used across langid / perplexity / dedup is
``int(md5(s)[:15], 16)`` — md5 is bit-identical in the JVM and DuckDB, and
15 hex digits fit a signed 64-bit integer, so both engines agree exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------- lexicons

# Per-language marker (stop)words for the heuristic language-ID pass.
# Deterministic frozen tables — the Spark analog of broadcast fastText
# vocab rows (SURVEY.md §2.12).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "with", "for"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "dans", "pour"],
    "es": ["el", "la", "los", "las", "y", "de", "que", "es", "en", "por"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "mit", "von", "nicht"],
    "it": ["il", "la", "gli", "che", "di", "un", "una", "per", "con", "sono"],
    "pt": ["o", "a", "os", "as", "que", "de", "um", "uma", "com", "para"],
    "nl": ["de", "het", "een", "en", "van", "is", "dat", "op", "te", "met"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "个"],
}
LANG_ORDER = list(LANG_MARKERS)  # deterministic tie-break: first wins

ENGLISH_STOPWORDS = LANG_MARKERS["en"] + [
    "a", "an", "on", "at", "by", "as", "be", "are", "was", "this",
]

# Small deterministic toxicity lexicon (placeholder terms — the scrub
# machinery is what matters; swap the list for a production lexicon).
TOXICITY_LEXICON = ["badword", "toxicterm", "slurword", "hateterm", "curseword"]

# BPE-ish token regex shared by both engines (letters | digits |
# other-symbol).  The whitespace exclusion is the EXPLICIT ASCII class,
# not \s: inside the negated class RE2's narrower \s (no VT) makes
# DuckDB count vertical tab as a symbol token while Java does not —
# the same RE2-vs-Java divergence as WS_CLASS_SQL (zoo-corpus find).
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"

# ------------------------------------------------------------- primitives


def hash60_col(s: Column) -> Column:
    """60-bit deterministic string hash (Spark side)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def hash60_sql(s: str) -> str:
    """60-bit deterministic string hash (DuckDB side)."""
    return f"(('0x' || substr(md5({s}), 1, 15))::BIGINT)"


def words_col(text: Column) -> Column:
    """Whitespace tokenisation; empty string → empty array."""
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


#: Java ``\s`` spelled explicitly for RE2: DuckDB's regex engine does
#: NOT include vertical tab (0x0B) in ``\s``, while Java and Python's
#: ASCII ``\s`` do — a live twin divergence on any text containing \v
#: (caught by the round-4 whitespace property suite).
WS_CLASS_SQL = "[ \\t\\n\\x0B\\f\\r]+"


#: ASCII-scope case folding — the ONLY cross-engine-portable lowercase.
#: Unicode case mapping is engine-specific: Java/Python apply
#: context-sensitive rules (final sigma ΣΑΣ→σας, Turkish İ→i+U+0307)
#: while DuckDB's utf8proc maps per-codepoint (σασ, plain i) — so any
#: twin built on full lower() silently hash-diverges on such inputs
#: (found by the round-4 casing property probe).  All case-folding
#: operators fold A-Z only; non-ASCII case is left untouched BY DESIGN.
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"
_PY_FOLD = str.maketrans(_UPPER, _LOWER)


def ascii_lower_col(text: Column) -> Column:
    return F.translate(text, _UPPER, _LOWER)


def ascii_lower_sql(text: str) -> str:
    return f"translate({text}, '{_UPPER}', '{_LOWER}')"


def ascii_lower_py(text: str) -> str:
    return text.translate(_PY_FOLD)


def words_sql(text: str) -> str:
    return (
        f"CASE WHEN trim({text}, ' ') = '' THEN []::VARCHAR[] "
        f"ELSE string_split_regex(trim({text}, ' '), '{WS_CLASS_SQL}') END"
    )


import re as _re  # noqa: E402
from itertools import islice as _islice  # noqa: E402

#: Java \s == ASCII [ \t\n\x0B\f\r]; Python re.ASCII \s is the same set.
_WS_ASCII = _re.compile(r"\s+", _re.ASCII)


def words_py(text: str) -> list[str]:
    """Python twin of :func:`words_col` / :func:`words_sql`, byte-exact
    on EVERY input: space-only trim (Spark ``trim`` strips 0x20 only;
    DuckDB's DEFAULT trim strips unicode spaces incl. NBSP, so the SQL
    twins must spell ``trim(x, ' ')`` — caught by the round-4
    whitespace property suite), ASCII ``\\s+`` split (Java/DuckDB ``\\s`` is ASCII-only —
    Python's default Unicode ``\\s`` would split NBSP/EM-space), empty
    leading/trailing tokens retained (split limit -1), '' → [].
    Python ``str.strip().split()`` matches NONE of those on adversarial
    whitespace — always tokenize through this function in Arrow kernels
    that must agree with the Catalyst/SQL twins."""
    t = text.strip(" ")
    if t == "":
        return []
    return _WS_ASCII.split(t)


def trim_memo(memo: dict, cap: int) -> None:
    """Bound a cross-batch kernel memo at ``cap`` entries.  Past the cap,
    drop the oldest entries in insertion order (down to 3/4 of the cap,
    so trimming runs once per ~cap/4 misses) and keep the newer ones —
    a hot working set survives, where ``clear()`` dropped it whole.
    Callers read the memo with a plain ``dict.get`` and call this only
    after inserting."""
    excess = len(memo) - cap
    if excess > 0:
        for k in list(_islice(memo, excess + cap // 4)):
            del memo[k]


def sql_str_list(items: list[str]) -> str:
    inner = ", ".join("'" + i.replace("'", "''") + "'" for i in items)
    return f"[{inner}]"

