"""Text expressions: cleaning, sentiment, tokenization, language ID,
quality scoring (SURVEY.md §2.9 F3–F7, F13; §2.11 text analysis).

All native expressions — the reference computes every one of these with
row-at-a-time Python (.apply / index loops, its main performance defect,
SURVEY.md §4.2); here they stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .cleaning import _col


def strip_non_alnum(col: Column | str) -> Column:
    """F3 — re.sub(r'[^a-zA-Z0-9\\s]', '', s).strip()
    (src/transformacion.py:143)."""
    return F.trim(F.regexp_replace(_col(col), r"[^a-zA-Z0-9\s]", ""))


def string_length_compat(col: Column | str) -> Column:
    """F5 compat mode — length after astype(str), where NULL becomes the
    literal string 'nan' (length 3) (src/transformacion.py:352-353)."""
    return F.length(F.coalesce(_col(col).cast("string"), F.lit("nan")))


def title_case(col: Column | str) -> Column:
    """F6 — reviewer_name.str.strip().str.title() ≈ initcap(trim(col)).

    NOTE: semantics diverge from pandas on apostrophes/digits
    ("o'brien" → pandas "O'Brien", initcap "O'brien") — SURVEY.md §7.4.10;
    parity-checked only on single-word alpha tokens.
    """
    return F.initcap(F.trim(_col(col)))


#: F13 lexicons (src/transformacion.py:356-359). 'terrible' and 'horrible'
#: appear TWICE in the reference's negative list and therefore count twice
#: per comment (SURVEY.md §7.4.7) — duplicates preserved deliberately.
POSITIVE_WORDS = (
    "good", "great", "excellent", "amazing", "perfect",
    "wonderful", "bueno", "excelente", "perfecto", "maravilloso",
)
NEGATIVE_WORDS = (
    "bad", "terrible", "awful", "poor", "horrible",
    "malo", "pésimo", "terrible", "horrible",
)


def sentiment_score(col: Column | str) -> Column:
    """F13 — lexicon sentiment: Σ[positive word substring-present] −
    Σ[negative word substring-present], case-insensitive *containment*
    (not word match: 'goodness' counts). Duplicated lexicon entries count
    twice. NULL text scores NULL (caller decides fill).
    """
    low = F.lower(_col(col))
    pos = sum(
        (F.contains(low, F.lit(w)).cast("int") for w in POSITIVE_WORDS),
        F.lit(0),
    )
    neg = sum(
        (F.contains(low, F.lit(w)).cast("int") for w in NEGATIVE_WORDS),
        F.lit(0),
    )
    return (pos - neg).alias("sentiment_score")


def tokenize(col: Column | str) -> Column:
    """Whitespace tokenizer → array<string> of non-empty lowercase tokens.

    §2.11 text analysis. ``split`` on ``\\s+`` then drop empties (leading
    whitespace yields an empty head token).
    """
    arr = F.split(F.lower(F.trim(_col(col))), r"\s+")
    return F.filter(arr, lambda x: x != "")


#: Tiny per-language marker lexicons for the n-gram/stopword language-ID
#: heuristic (§2.11). Deterministic and oracle-expressible.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "with"),
    "es": ("el", "la", "de", "que", "con"),
    "de": ("der", "die", "und", "ist", "mit"),
    "fr": ("le", "la", "et", "est", "avec"),
}


def lang_id_score(col: Column | str, lang: str) -> Column:
    """Language-ID score for one language: count of marker words present
    as whole tokens. argmax over languages (ties → lexicographic) gives
    the predicted language."""
    toks = tokenize(col)
    return sum(
        (F.array_contains(toks, w).cast("int") for w in LANG_MARKERS[lang]),
        F.lit(0),
    )


#: BPE-ish pre-tokenizer regex (GPT-2 style, simplified): contractions,
#: letter runs, digit runs, punctuation runs, each optionally preceded by
#: a space. \p{L}/\p{N} Unicode classes are supported by both Java regex
#: (Spark) and RE2 (DuckDB), keeping the oracle expressible.
BPE_ISH_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"
)


def bpe_ish_tokens(col: Column | str) -> Column:
    """§2.11 — BPE-style pre-tokenization (regexp_extract_all): the token
    count a GPT-2-family tokenizer would see before merges — the standard
    cheap proxy for LLM token budgeting over a corpus."""
    return F.regexp_extract_all(_col(col), F.lit(BPE_ISH_PATTERN), 0)


def quality_score_cols(col: Column | str) -> dict[str, Column]:
    """Text-quality features (§2.11): char length, token count, mean token
    length, punctuation ratio, stopword ratio. Returns named Columns;
    callers select the ones they need."""
    c = _col(col)
    toks = tokenize(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    stop = F.size(
        F.filter(toks, lambda x: x.isin("the", "a", "and", "of", "is"))
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": F.when(
            n_tokens > 0,
            F.aggregate(
                toks, F.lit(0), lambda acc, x: acc + F.length(x)
            ).cast("double")
            / n_tokens,
        ),
        "punct_ratio": F.when(
            n_chars > 0, n_punct.cast("double") / n_chars
        ),
        "stopword_ratio": F.when(
            n_tokens > 0, stop.cast("double") / n_tokens
        ),
    }


#: PII patterns (§2.11 — the scrub step every C4/RefinedWeb-style corpus
#: pipeline runs before training). Chosen to behave identically under
#: Java regex (Spark) and RE2 (DuckDB): no lookaround, no backreferences.
#: Replacement order matters and is part of the contract: emails first
#: (their local parts can contain dots/digits), then IPv4, then phones.
PII_EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_PATTERN = r"\b\d{1,3}(\.\d{1,3}){3}\b"
PII_PHONE_PATTERN = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def pii_scrub(col: Column | str) -> Column:
    """§2.11 — PII redaction: emails → <EMAIL>, IPv4 → <IP>, NNN-NNN-NNNN
    phones → <PHONE>. Pure JVM regexp_replace chain — codegen'd, no UDF;
    the DuckDB oracle mirrors it with regexp_replace(..., 'g')."""
    c = _col(col)
    c = F.regexp_replace(c, PII_EMAIL_PATTERN, "<EMAIL>")
    c = F.regexp_replace(c, PII_IPV4_PATTERN, "<IP>")
    c = F.regexp_replace(c, PII_PHONE_PATTERN, "<PHONE>")
    return c


def word_repetition_ratio(col: Column | str) -> Column:
    """§2.11 — Gopher-style repetition quality signal: share of word
    occurrences that are repeats, 1 − distinct/total over whitespace
    tokens. NULL for empty/whitespace-only text (no tokens → undefined,
    not 0). Array expressions only — no explode, no shuffle: the ratio
    is computed inside the row."""
    toks = tokenize(col)
    n = F.size(toks)
    return F.when(
        n > 0,
        F.round(F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n, 6),
    )
