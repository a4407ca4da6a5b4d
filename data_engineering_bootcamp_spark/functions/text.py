"""Text-analysis function layer for training-data pipelines.

Beyond the reference's own surface (BASELINE.json north star): language
ID, quality scoring, token counting, document fingerprinting — each a
pure Catalyst expression (JVM codegen, no Python) so they run at full
scan speed over 100 TB of documents. The one reference-derived function
is `channel_from_referrer` (P5, LIKE-pattern classification,
M4A/lecture-lab/window_based_analysis.sql:7-15).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic.
# Deliberately small + deterministic so the DuckDB oracle can mirror them.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "et", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}

_WORD_SPLIT = "\\s+"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization, lowercased, empties removed."""
    arr = F.split(F.lower(_c(text)), _WORD_SPLIT)
    return F.filter(arr, lambda t: t != F.lit(""))


def token_count(text: Column | str) -> Column:
    """Whitespace token count (BPE-free approximation)."""
    return F.size(tokens(text))


# GPT-2-style pre-tokenizer pattern, restricted to the subset shared by
# Java regex and RE2 (no lookahead): contraction suffixes, space-prefixed
# letter runs, digit runs, punctuation runs. Token count under this
# pattern approximates BPE pre-tokenization counts.
BPE_ISH_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish token count: matches of the GPT-2-style pre-tokenizer
    regex (a closer LLM-token proxy than whitespace splitting; pure
    Catalyst, runs at scan speed)."""
    return F.size(F.regexp_extract_all(_c(text), F.lit(BPE_ISH_PATTERN), F.lit(0)))


def _marker_hits(text: Column | str, words: list[str]) -> Column:
    """How many of `words` occur (as whole lowercase tokens) in text.

    One `array_intersect` against the literal marker array — markers
    are distinct, so the intersect size equals the sum of per-word
    presence flags, in a single pass over the tokens instead of one
    `array_contains` scan per word (Catalyst inlines the tokenizer at
    every reference, so fewer references = a much smaller tree)."""
    toks = tokens(text)
    return F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))


def lang_id_heuristic(text: Column | str) -> Column:
    """Stopword-marker language ID over {en, es, fr, de} → 'und' if no
    marker matches. Ties break by fixed language order (en,es,fr,de)."""
    scores = {lang: _marker_hits(text, ws) for lang, ws in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build reversed so earlier languages win ties
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((best > 0) & (scores[lang] == best), lang).otherwise(expr)
    return expr


def lang_id_sql(indent: str) -> tuple[str, str]:
    """The DuckDB mirror of `lang_id_heuristic` over a `toks` list
    column: the `h_<lang>` marker-hit select items, and the CASE that
    names the language whose hits equal `best` ('und' when no marker
    matches, earlier languages win ties), each arm on a line led by
    `indent`."""
    hits = ", ".join(
        "("
        + " + ".join(
            f"(CASE WHEN list_contains(toks, '{w}') THEN 1 ELSE 0 END)"
            for w in words
        )
        + f") AS h_{lang}"
        for lang, words in LANG_MARKERS.items()
    )
    arms = "".join(
        f"{indent}WHEN h_{lang} = best THEN '{lang}'" for lang in LANG_MARKERS
    )
    return hits, f"CASE WHEN best = 0 THEN 'und'{arms}{indent}ELSE 'und' END"


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1] quality proxy: blends length band, alphabetic
    ratio, and mean token length band. Heuristic in the C4/Gopher-rule
    spirit (length + symbol-ratio filters), expressible in plain SQL."""
    t = _c(text)
    n = F.length(t).cast("double")
    n_alpha = F.length(F.regexp_replace(t, "[^A-Za-z ]", "")).cast("double")
    alpha_ratio = F.when(n > 0, n_alpha / n).otherwise(F.lit(0.0))
    tc = token_count(t).cast("double")
    mean_tok = F.when(tc > 0, n / tc).otherwise(F.lit(0.0))
    len_band = F.when((n >= 50) & (n <= 20000), F.lit(1.0)).otherwise(F.lit(0.5))
    tok_band = F.when((mean_tok >= 3) & (mean_tok <= 12), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    return F.round((alpha_ratio * 0.5 + len_band * 0.25 + tok_band * 0.25), 6)


def doc_fingerprint(text: Column | str) -> Column:
    """Stable content fingerprint: md5 of whitespace-normalized lowercase
    text. md5 is identical across Spark and DuckDB → oracle-checkable."""
    norm = F.trim(F.regexp_replace(F.lower(_c(text)), "\\s+", " "))
    return F.md5(norm)


def channel_from_referrer(referrer: Column | str) -> Column:
    """P5: referrer → channel classification
    (M4A/lecture-lab/window_based_analysis.sql:7-15)."""
    r = _c(referrer)
    return (
        F.when(r.like("%linkedin%"), "Linkedin")
        .when(r.like("%t.co%"), "Twitter")
        .when(r.like("%google%"), "Google")
        .when(r.like("%lnkd%"), "Linkedin")
        .when(r.like("%eczachly%"), "On Site")
        .when(r.like("%zachwilson%"), "On Site")
        .when(r.isNull(), "Direct")
        .otherwise("Other")
    )
