"""Text-analysis Column expressions for the LLM-data-pipeline extensions
(SURVEY.md §2.11): tokenization, token counting, language-ID heuristic,
quality scoring, document fingerprinting, shingling.

All pure built-in expressions — they run inside whole-stage codegen and
scale linearly with no shuffle; the only shuffles in the callers are the
explicit groupBys.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Whitespace tokenizer.
_WS = r"\s+"


def tokens_ws(col: Column) -> Column:
    """Whitespace tokens (empties removed)."""
    return F.filter(F.split(F.trim(col), _WS), lambda t: t != "")


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens_ws(col))


def char_count(col: Column) -> Column:
    return F.length(col)


# ---------------------------------------------------------------------------
# Language ID — stopword-hit heuristic
# ---------------------------------------------------------------------------

# Tiny, high-frequency function-word lists per language. Deterministic and
# cheap; a real deployment would swap in fastText/CLD3 behind the same API.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "fr": ["le", "la", "les", "des", "est", "et", "une", "dans"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "es": ["el", "los", "las", "es", "una", "que", "para", "con"],
}


def _marker_hits(col: Column, markers: list[str]) -> Column:
    toks = F.split(F.lower(col), _WS)
    hits = F.filter(toks, lambda t: t.isin(*markers))
    return F.size(hits)


def _once(expr: Column, body) -> Column:
    """Evaluate ``expr`` exactly once inside a single Column expression
    and feed the result to ``body`` as a higher-order-function LAMBDA
    VARIABLE. Subexpressions referenced several times inside one
    Column tree are otherwise re-evaluated per reference — HOF subtrees
    are CodegenFallback, so whole-stage-codegen subexpression
    elimination never sees them (the shingles_from_tokens landmine,
    measured again round-13 on lang_id: the when-chain re-ran the regex
    split per reference). A lambda variable is bound once per row by
    construction. NULL-safe: ``array(expr)`` is a 1-element array even
    when ``expr`` is NULL, and index 0 is always in bounds (ANSI-safe)."""
    return F.transform(F.array(expr), body)[0]


def lang_id(col: Column) -> Column:
    """Best-guess language code by stopword-hit count; ``und`` when no
    marker list scores a hit.

    Single-tokenization form (round-13, guide §1.2/§4): ONE regex split
    feeds per-language token-filter counts bound as a lambda variable,
    so the greatest/tie-break chain references cheap array lookups
    instead of re-running the split per reference (the old form
    evaluated the split once per score reference — ~12 regex passes per
    row; measured 1.6x on the documents corpus). Hit counts, tie order
    and ``und`` fallback are expression-for-expression identical."""
    langs = list(_LANG_MARKERS)
    toks = F.split(F.lower(col), _WS)
    hits = _once(
        toks,
        lambda t: F.array(
            *[
                F.size(F.filter(t, lambda x: x.isin(*_LANG_MARKERS[lang])))
                for lang in langs
            ]
        ),
    )

    def _pick(h: Column) -> Column:
        scores = [(h[i], lang) for i, lang in enumerate(langs)]
        best_score = F.greatest(*[s for s, _ in scores])
        result = F.lit("und")
        # later languages win ties only if strictly better -> iterate in order
        for score, lang in scores:
            result = F.when(
                (score == best_score) & (best_score > 0) & (result == "und"),
                F.lit(lang),
            ).otherwise(result)
        return result

    return _once(hits, _pick)


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

# translate() alphabets for the char-class counts below: a char-map
# pass (no regex engine) that deletes exactly the class, so
# n_chars - length(translate(col, CLASS, "")) counts the class's
# occurrences — value-identical to length(regexp_replace(col,
# "[^CLASS]", "")) and measured ~4x cheaper (round-13, guide §1.2).
# _JAVA_WS spells out Java regex \s = [ \t\n\x0B\f\r] (no
# UNICODE_CHARACTER_CLASS flag), matching the old regexp exactly.
_ALPHA_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
)
_DIGIT_CHARS = "0123456789"
_JAVA_WS = " \t\n\x0b\f\r"


def quality_features(col: Column) -> dict[str, Column]:
    """Gopher/C4-style cheap quality signals as named expressions."""
    n_chars = F.length(col)
    toks = tokens_ws(col)
    n_tokens = F.size(toks)
    mean_tok_len = F.when(n_tokens > 0, n_chars.cast("double") / n_tokens).otherwise(F.lit(0.0))
    n_alpha = n_chars - F.length(F.translate(col, _ALPHA_CHARS, ""))
    n_digit = n_chars - F.length(F.translate(col, _DIGIT_CHARS, ""))
    n_space = n_chars - F.length(F.translate(col, _JAVA_WS, ""))
    # "punct" = everything that is not alpha, digit, or whitespace
    n_punct = n_chars - n_alpha - n_digit - n_space
    stop_hits = _marker_hits(col, _LANG_MARKERS["en"])
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": mean_tok_len,
        "alpha_ratio": F.when(n_chars > 0, n_alpha.cast("double") / n_chars).otherwise(F.lit(0.0)),
        "digit_ratio": F.when(n_chars > 0, n_digit.cast("double") / n_chars).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0)),
        "stopword_hits": stop_hits,
    }


_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_struct(
    col: Column,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> Column:
    """All Gopher signals as ONE struct Column with every internal
    reference bound as a lambda variable (the ``_once`` device), so
    evaluating the struct costs exactly one tokenization of each case
    form — the old dict-of-expressions shape re-ran the regex split
    once per signal reference (~25 splits/row across q169's six output
    columns; HOF subtrees are CodegenFallback, so codegen CSE never
    merged them). Field-for-field the same formulas as
    :func:`gopher_flags`; evaluate once per row via
    ``F.inline(F.array(gopher_struct(...)))`` and read attributes."""
    toks = tokens_ws(col)
    toks_l = tokens_ws(F.lower(col))
    n_symbols = F.size(F.regexp_extract_all(col, F.lit(r"#|\.\.\."), 0))
    bundle = F.struct(toks.alias("t"), toks_l.alias("tl"), n_symbols.alias("ns"))

    def signals(s: Column) -> Column:
        t = s["t"]
        n_words = F.size(t)
        word_chars = F.length(F.concat_ws("", t))
        mean_wl = F.when(n_words > 0, word_chars.cast("double") / n_words).otherwise(
            F.lit(0.0)
        )
        n_alpha_words = F.size(F.filter(t, lambda w: w.rlike("[A-Za-z]")))
        alpha_frac = F.when(
            n_words > 0, n_alpha_words.cast("double") / n_words
        ).otherwise(F.lit(0.0))
        symbol_ratio = F.when(
            n_words > 0, s["ns"].cast("double") / n_words
        ).otherwise(F.lit(0.0))
        stop_hits = None
        for w in _GOPHER_STOPWORDS:
            hit = F.array_contains(s["tl"], w).cast("int")
            stop_hits = hit if stop_hits is None else stop_hits + hit
        return F.struct(
            n_words.alias("n_words"),
            mean_wl.alias("mean_word_len"),
            alpha_frac.alias("alpha_word_frac"),
            symbol_ratio.alias("symbol_ratio"),
            stop_hits.alias("stop_hits"),
        )

    def with_passes(g: Column) -> Column:
        passes = (
            (g["n_words"] >= min_words)
            & (g["n_words"] <= max_words)
            & (g["mean_word_len"] >= min_mean_word_len)
            & (g["mean_word_len"] <= max_mean_word_len)
            & (g["symbol_ratio"] <= max_symbol_ratio)
            & (g["alpha_word_frac"] >= min_alpha_word_frac)
            & (g["stop_hits"] >= min_stop_hits)
        )
        return F.struct(
            g["n_words"].alias("n_words"),
            g["mean_word_len"].alias("mean_word_len"),
            g["alpha_word_frac"].alias("alpha_word_frac"),
            g["symbol_ratio"].alias("symbol_ratio"),
            g["stop_hits"].alias("stop_hits"),
            passes.alias("passes"),
        )

    return _once(_once(bundle, signals), with_passes)


def gopher_flags(
    col: Column,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> dict[str, Column]:
    """The Gopher document-quality rules (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", table A1 subset) as named expression
    columns plus the conjunctive ``passes`` gate: word-count bounds,
    mean-word-length bounds, symbol-to-word ratio (# and ellipsis),
    fraction of words containing an alphabetic character, and presence
    of >= ``min_stop_hits`` DISTINCT stopwords from the published
    8-word list. The line-level rules (bullet/ellipsis line starts)
    are omitted — this corpus carries no newlines — and the
    repetition rules live in operators/repetition.py (q72).

    Everything is a JVM-side expression over one whitespace
    tokenization (no UDFs): all counts are integers and the two
    ratios are single divisions of integers, so both engines compute
    identical doubles (display-rounded once at 6 decimals by the
    caller).

    Each dict entry is a field of ONE :func:`gopher_struct` tree, so a
    consumer column costs one tokenization pass (the struct's internal
    references are lambda-bound). Multi-column consumers should prefer
    ``F.inline(F.array(gopher_struct(...)))`` — one evaluation for ALL
    columns — since separate projection columns each re-evaluate their
    own copy of the struct tree."""
    s = gopher_struct(
        col,
        min_words=min_words,
        max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_symbol_ratio=max_symbol_ratio,
        min_alpha_word_frac=min_alpha_word_frac,
        min_stop_hits=min_stop_hits,
    )
    return {
        k: s[k]
        for k in (
            "n_words",
            "mean_word_len",
            "alpha_word_frac",
            "symbol_ratio",
            "stop_hits",
            "passes",
        )
    }


def c4_struct(
    col: Column,
    *,
    min_words_per_line: int = 5,
    min_sentences: int = 3,
) -> Column:
    """All C4 signals as ONE struct Column (the :func:`gopher_struct`
    device): the input text, its lowercase form, and the line split
    are each bound once as lambda variables, so evaluating the struct
    costs one pass per case form — the dict shape re-evaluated ``col``
    (often a heavy concat in callers) and the line-filter once per
    signal reference. Field-for-field the same formulas as
    :func:`c4_flags`; evaluate once per row via
    ``F.inline(F.array(c4_struct(...)))``."""

    def _wc(line: Column) -> Column:
        return F.when(F.length(F.trim(line)) == 0, F.lit(0)).otherwise(
            F.size(F.split(F.trim(line), _WS))
        )

    def _kept(line: Column) -> Column:
        return (
            (_wc(line) >= F.lit(min_words_per_line))
            & F.substring(line, -1, 1).isin(".", "!", "?", '"')
            & ~F.contains(F.lower(line), F.lit("javascript"))
        )

    def from_text(c: Column) -> Column:
        low = F.lower(c)
        bundle = F.struct(
            F.split(c, "\n").alias("ls"),
            F.size(F.regexp_extract_all(c, F.lit(r"[.!?]"), 0)).alias("nsent"),
            F.contains(low, F.lit("lorem ipsum")).alias("lorem"),
            F.contains(c, F.lit("{")).alias("brace"),
            F.contains(low, F.lit("javascript")).alias("js"),
        )

        def signals(s: Column) -> Column:
            return F.struct(
                F.size(s["ls"]).alias("n_lines"),
                F.size(F.filter(s["ls"], _kept)).alias("n_kept_lines"),
                s["nsent"].alias("n_sentences"),
                s["lorem"].alias("has_lorem_ipsum"),
                s["brace"].alias("has_curly_brace"),
                s["js"].alias("has_javascript"),
            )

        def with_passes(g: Column) -> Column:
            passes = (
                (g["n_kept_lines"] >= 1)
                & (g["n_sentences"] >= min_sentences)
                & ~g["has_lorem_ipsum"]
                & ~g["has_curly_brace"]
            )
            return F.struct(
                g["n_lines"].alias("n_lines"),
                g["n_kept_lines"].alias("n_kept_lines"),
                g["n_sentences"].alias("n_sentences"),
                g["has_lorem_ipsum"].alias("has_lorem_ipsum"),
                g["has_curly_brace"].alias("has_curly_brace"),
                g["has_javascript"].alias("has_javascript"),
                passes.alias("passes"),
            )

        return _once(_once(bundle, signals), with_passes)

    return _once(col, from_text)


def c4_flags(
    col: Column,
    *,
    min_words_per_line: int = 5,
    min_sentences: int = 3,
) -> dict[str, Column]:
    """The C4 / RefinedWeb line- and document-level curation rules
    (Raffel et al. 2020 §2.2 "Colossal Clean Crawled Corpus"; Penedo
    et al. 2023 RefinedWeb line-wise filters) as named expression
    columns plus the conjunctive ``passes`` gate — the web-corpus
    companion to :func:`gopher_flags`' word-statistics rules.

    Line rules (a line = a ``\\n`` segment): a line is KEPT iff it
    (a) ends in a terminal punctuation mark (``. ! ? "``), (b) has at
    least ``min_words_per_line`` whitespace words, and (c) does not
    mention ``javascript`` (case-insensitive) — the C4 policy of
    dropping boilerplate/code lines rather than the whole page.
    Document rules: drop if the page mentions ``lorem ipsum``
    (case-insensitive), contains a curly brace ``{`` (code), or has
    fewer than ``min_sentences`` sentences (terminal-mark count).
    ``passes`` = >= 1 kept line AND >= ``min_sentences`` sentences
    AND no lorem-ipsum AND no curly brace.

    Everything is a JVM-side expression over ONE ``\\n`` split and
    one regex scan — no UDFs, no shuffle; counts are integers so both
    engines agree bit-for-bit (the lone ratio is a single division
    the caller display-rounds). The word splitter inside the line
    lambda is ``trim`` + ``\\s+`` (empty line -> 0 words), matching
    the oracle's ``regexp_split_to_array`` spelling.

    Each dict entry is a field of ONE :func:`c4_struct` tree; see
    :func:`gopher_flags` on why multi-column consumers should prefer
    ``F.inline(F.array(c4_struct(...)))``."""
    s = c4_struct(
        col, min_words_per_line=min_words_per_line, min_sentences=min_sentences
    )
    return {
        k: s[k]
        for k in (
            "n_lines",
            "n_kept_lines",
            "n_sentences",
            "has_lorem_ipsum",
            "has_curly_brace",
            "has_javascript",
            "passes",
        )
    }


def quality_score(col: Column) -> Column:
    """Scalar 0-1 quality score: penalize too-short docs, low alpha ratio,
    high digit/punct ratios; reward stopword presence. Deterministic."""
    f = quality_features(col)
    score = (
        F.least(f["n_tokens"].cast("double") / F.lit(20.0), F.lit(1.0)) * 0.3
        + f["alpha_ratio"] * 0.3
        + (1 - F.least(f["digit_ratio"] * 4, F.lit(1.0))) * 0.15
        + (1 - F.least(f["punct_ratio"] * 4, F.lit(1.0))) * 0.15
        + F.least(f["stopword_hits"].cast("double") / F.lit(5.0), F.lit(1.0)) * 0.1
    )
    # +1e-9 half-up stabilizer (fuzz-sweep find): the score is a
    # rational with denominator 200*n_chars, so EXACT x.xxxx5 values
    # occur (e.g. 0.7 + 0.3*394/480 = 0.94625). The nearest double
    # sits just BELOW the half, and engines then disagree — Spark
    # rounds the exact binary expansion (down), DuckDB the shortest
    # decimal repr (up). The nudge is 4 orders below the rational
    # spacing (1/(200*n_chars) ~ 1e-5), so it only resolves exact
    # ties, always upward, identically in any engine.
    return F.round(score + F.lit(1e-9), 4)


# ---------------------------------------------------------------------------
# Fingerprinting & shingling
# ---------------------------------------------------------------------------

def normalized_text(col: Column) -> Column:
    """Dedup normalization: lowercase, collapse whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint_md5(col: Column) -> Column:
    """Exact-dup fingerprint: md5 hex of normalized text (md5 matches
    DuckDB's md5() for oracle checks)."""
    return F.md5(normalized_text(col))


def shingles_from_tokens(toks: Column, k: int = 5) -> Column:
    """Word k-gram shingles from an ALREADY-MATERIALIZED token array
    column. ``toks`` must be a plain column reference: expressions
    referenced inside higher-order-function lambdas are re-evaluated
    per array element (interpreted), so passing the tokenizer
    expression here re-runs regex+split once per shingle — observed
    ~18x slowdown. Project tokens into a column first."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n >= k,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def shingles(col: Column, k: int = 5) -> Column:
    """Word k-gram shingles (array<string>) over normalized text — the
    rolling-hash unit for MinHash / Jaccard near-dup.

    NOTE: convenient single-expression form; in bulk paths prefer
    projecting ``split(normalized_text(c), '\\s+')`` to a column and
    calling ``shingles_from_tokens`` (see its docstring for why)."""
    return shingles_from_tokens(F.split(normalized_text(col), _WS), k)


# ---------------------------------------------------------------------------
# PII-style redaction (training-data hygiene)
# ---------------------------------------------------------------------------

# Deliberately RE2-compatible (no backrefs/lookarounds) so the same
# patterns run identically under Java regex (Spark) and RE2 (DuckDB
# oracle). Heuristic coverage, not a compliance tool.
REDACTION_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    (r"\b(\+?1[-. ]?)?(\(?[0-9]{3}\)?[-. ]?)[0-9]{3}[-. ]?[0-9]{4}\b", "<PHONE>"),
    (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
]


def redact_pii(col: Column) -> Column:
    """Mask email / SSN / US-phone / IPv4 shapes with typed tags. Chained
    ``regexp_replace`` — pure codegen, no shuffle; order matters (SSN
    before phone, since 3-2-4 digits would otherwise half-match the
    phone pattern)."""
    out = col
    for pat, tag in REDACTION_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out
