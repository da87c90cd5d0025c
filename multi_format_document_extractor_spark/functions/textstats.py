"""Text-analysis columns for large-scale training-data pipelines:
language ID, quality scoring, token counting, fingerprinting.

All native Catalyst expressions (Java regex scans and splits, rational
arithmetic, md5 hashing) so every one is DuckDB-oracle-checkable. These
extend the reference's text heuristics (first-lines scans, keyword
predicates — SURVEY.md §2.5 W5, §2.2 P6) to corpus scale.

Spark's common-subexpression elimination hoists a repeated expression
only out of unconditional positions: a copy inside a non-first CASE
branch (or ``coalesce``/``if`` argument) is generated and evaluated again.
The builders below therefore reference each expensive scan once, outside
any branch, so the generated code runs each pass over the text once.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .rounding import rnd

# Marker words per language for the n-gram-free heuristic language ID.
# ASCII-only function words by design: \b word-boundary semantics around
# non-ASCII letters differ between regex engines (Spark/RE2-style vs
# DuckDB), and the oracle SQL is generated from this table — diacritic
# markers would break cross-engine exactness. Ten high-frequency function
# words per language; overlaps across languages (en "in" / de "in") are
# fine, the argmax decides. Accuracy on the labeled fixture slice is
# measured in tests/test_textstats.py and recorded in COVERAGE.md.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "that", "is", "was", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "auf"),
    "fr": ("le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des"),
    "es": ("el", "los", "las", "es", "que", "y", "por", "con", "para", "como"),
    "pt": ("o", "os", "um", "uma", "para", "com", "mais", "foi", "dos", "pelo"),
    "it": ("il", "gli", "che", "di", "per", "con", "una", "sono", "del", "anche"),
    "nl": ("het", "een", "van", "voor", "niet", "zijn", "met", "ook", "maar", "dat"),
    "sv": ("och", "att", "det", "som", "av", "den", "till", "med", "var", "har"),
    "id": ("yang", "dan", "untuk", "dengan", "tidak", "dari", "ini", "itu", "pada", "adalah"),
    "tl": ("ang", "ng", "mga", "sa", "na", "ay", "ito", "kung", "hindi", "naman"),
    "tr": ("ve", "bir", "bu", "ile", "olarak", "daha", "gibi", "sonra", "ancak", "kadar"),
    "pl": ("nie", "jest", "jak", "ale", "czy", "tego", "przez", "oraz", "tylko", "jego"),
}

BPE_ISH_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")


def words(col: Column) -> Column:
    """Whitespace tokens of a trimmed string (empty string → empty array)."""
    return F.split(F.trim(col), r"\s+")


def token_count_ws(col: Column) -> Column:
    """Whitespace token count. Branch-free: the split of an all-space
    string is ``['']`` (size 1), so subtracting 1 for it gives 0 without a
    CASE, whose ``otherwise`` branch would keep the split out of CSE."""
    return F.size(words(col)) - (F.trim(col) == "").cast("int")


def token_count_bpe(col: Column) -> Column:
    """BPE-ish token count: letter runs + digit runs + single punctuation."""
    return F.regexp_count(col, F.lit(BPE_ISH_TOKEN_RE))


def marker_hits(col: Column, markers: tuple[str, ...]) -> Column:
    """Count of whole-word marker occurrences (case-insensitive)."""
    pat = r"(?i)\b(" + "|".join(markers) + r")\b"
    return F.regexp_count(col, F.lit(pat))


def marker_alternation(markers) -> str:
    """Prefix-factored regex alternation matching exactly the words of
    ``markers``: ``("and", "ang", "as", "o", "os")`` →
    ``a(?:n(?:d|g)|s)|o(?:s)?``. The factored form lets the regex engine
    try one branch per leading letter instead of every word in turn."""
    by_head: dict[str, list[str]] = {}
    for w in sorted(set(markers)):
        assert w.isascii() and w.isalpha(), w
        by_head.setdefault(w[0], []).append(w[1:])
    alts = []
    for head, tails in by_head.items():
        rest = [t for t in tails if t]
        if len(tails) == 1:
            alts.append(head + tails[0])
        else:
            opt = "?" if len(rest) < len(tails) else ""
            alts.append(f"{head}(?:{marker_alternation(rest)}){opt}")
    return "|".join(alts)


_ALL_MARKERS_RE = (
    r"(?i)\b("
    + marker_alternation(w for mk in LANG_MARKERS.values() for w in mk)
    + r")\b"
)


def lang_id(col: Column) -> Column:
    r"""Heuristic language ID: argmax of marker-word hits with a
    deterministic tiebreak (language code ascending); 'und' when no
    marker of any language appears.

    One regex pass extracts every marker word of every language; the
    per-language counts then run over the space-joined matches (a few KB
    even for ~600 KB pages) instead of over the text twelve times. The
    counts are exact: every marker is ASCII letters only, so a match of
    ``\b(...)\b`` spans a whole word-character run equal to a marker, and
    such runs never overlap; joined by spaces each stays a whole word.
    ``(?i)`` without UNICODE_CASE folds ASCII only (the Kelvin sign is not
    'k'), the same in both scans. The argmax is one ``array_max`` over
    ``(count, -rank, code)`` so each count is referenced once, outside any
    CASE branch; the ``(0, 1, 'und')`` sentinel outranks every zero (and
    null) count."""
    hits = F.array_join(F.regexp_extract_all(col, F.lit(_ALL_MARKERS_RE), 1), " ")
    cands = [
        F.struct(marker_hits(hits, mk).alias("n"), F.lit(-rank).alias("r"), F.lit(code).alias("c"))
        for rank, (code, mk) in enumerate(sorted(LANG_MARKERS.items()))
    ]
    sentinel = F.struct(F.lit(0).alias("n"), F.lit(1).alias("r"), F.lit("und").alias("c"))
    return F.array_max(F.array(*cands, sentinel))["c"]


def stopword_ratio(col: Column) -> Column:
    n = token_count_ws(col)
    hits = marker_hits(col, STOPWORDS)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def mean_word_len(col: Column) -> Column:
    n = token_count_ws(col)
    chars = F.length(F.regexp_replace(F.trim(col), r"\s+", ""))
    return F.when(n > 0, chars.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    total = F.length(col)
    punct = F.regexp_count(col, F.lit(r"[^\w\s]"))
    return F.when(total > 0, punct.cast("double") / total.cast("double")).otherwise(
        F.lit(0.0)
    )


def quality_score(col: Column) -> Column:
    """Composite document-quality heuristic in [0,1]: length saturation,
    stopword presence, word-length sanity, low punctuation noise.
    Weights sum to 1; every term is rational arithmetic."""
    length_term = F.least(F.length(col).cast("double") / 1000.0, F.lit(1.0))
    stop_term = F.least(stopword_ratio(col) * 4.0, F.lit(1.0))
    mwl = mean_word_len(col)
    wordlen_term = F.when((mwl >= 3.0) & (mwl <= 10.0), 1.0).otherwise(0.0)
    punct_term = F.greatest(F.lit(0.0), 1.0 - punct_ratio(col) * 4.0)
    return rnd(
        0.3 * length_term + 0.3 * stop_term + 0.2 * wordlen_term + 0.2 * punct_term, 4
    )


def normalized_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace,
    fully stripped. Collapse BEFORE trim: Spark/DuckDB ``trim`` strips only
    spaces, so a trailing tab/newline would otherwise survive as a trailing
    space and split identical contents into different fingerprints."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 hex of the normalized text (portable across
    engines, unlike xxhash64/crc32)."""
    return F.md5(normalized_text(col).cast("binary"))


def fingerprint64(col: Column) -> Column:
    """First 8 md5 hex chars as a BIGINT — a compact join/bucket key."""
    return F.conv(F.substring(fingerprint(col), 1, 8), 16, 10).cast("bigint")
