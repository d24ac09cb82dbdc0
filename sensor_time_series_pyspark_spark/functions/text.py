"""Text-analysis expressions for the training-data pipeline (north-star
extension, BASELINE.json — not in the reference, which has no text
processing at all).

Everything here is built-in-function composition (split / regexp /
transform / aggregate) so language-ID, quality scoring, and
fingerprinting run JVM-side over 100 TB of documents without touching a
Python worker.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny multilingual stopword sample — enough for a ratio feature; a real
# deployment swaps in a fuller public list per language.
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "de", "la", "el", "und", "der", "die", "le", "les", "un", "une",
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization, empty tokens dropped."""
    return F.filter(F.split(F.trim(_c(text)), r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """A BPE-flavored token estimate: count word pieces of <=4 chars.
    ceil(len(word)/4) summed over words — a deterministic, cheap proxy
    for subword token counts (close to the 'chars/4' rule of thumb but
    word-aligned)."""
    return F.aggregate(
        tokens(text),
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("int"),
    )


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    t = _c(text)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[!-/:-@\[-`{-~]", ""))
    return F.when(F.length(t) > 0, n_punct / F.length(t)).otherwise(F.lit(0.0))


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (lowercased) stopwords."""
    toks = tokens(text)
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS)])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return F.when(F.size(toks) > 0, n_sw / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: penalize too-short docs, high
    punctuation density, and stopword-free (likely non-linguistic) text.
    Deterministic and monotone in each component."""
    n = token_count(text)
    len_score = F.least(n / F.lit(20.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(text) * 5, F.lit(1.0))
    sw = stopword_ratio(text)
    sw_score = F.least(sw * 4, F.lit(1.0))
    return (len_score + punct_score + sw_score) / 3


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles from a tokens array — no explode, no UDF.

    Implementation note (the O(n²) trap): the obvious form —
    ``transform(sequence(0, n-k), i -> concat_ws(' ', slice(toks, i+1, k)))``
    — re-evaluates ``toks`` for EVERY index, because a higher-order
    function's *lambda body* is evaluated per element and free-variable
    subexpressions inside it get no codegen CSE; if ``toks`` is itself a
    tokenizer expression (split+filter), shingling goes quadratic per
    row (measured 10-25s of executor time on 5k docs at sf0.1, and
    CollapseProject happily inlines a pre-projected tokens column right
    back into the lambda). Instead we zip the token array with its own
    k-1 shifts: every ``zip_with``/``slice`` *input* is evaluated exactly
    once per row, and the lambdas touch only their element arguments —
    O(n·k) regardless of what optimizer rewrites happen upstream."""
    n = F.size(toks)
    arr = toks
    for j in range(1, k):
        # null-propagating concat: trailing entries (where the shift ran
        # out) become NULL, removed by the final slice.
        arr = F.zip_with(
            arr,
            F.slice(toks, j + 1, F.greatest(n - j, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    sh = F.when(n >= k, F.slice(arr, 1, n - k + 1)).otherwise(
        F.array().cast("array<string>")
    )
    return F.array_distinct(sh)


def ngrams_from_tokens(toks: Column, k: int) -> Column:
    """ALL k-word n-grams in document order (``shingles_from_tokens``
    without the within-doc dedup — occurrence totals are what
    distinct-n diversity and LM statistics need). Same O(n·k)
    zip-with-shifts construction; k=1 returns the tokens themselves.
    NOTE: tokens containing spaces would alias across n (not possible
    from ``tokens()``, which splits on whitespace)."""
    if k == 1:
        return toks
    n = F.size(toks)
    arr = toks
    for j in range(1, k):
        arr = F.zip_with(
            arr,
            F.slice(toks, j + 1, F.greatest(n - j, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(n >= k, F.slice(arr, 1, n - k + 1)).otherwise(
        F.array().cast("array<string>")
    )


def hashed_ngrams_from_tokens(toks: Column, k: int) -> Column:
    """64-bit xxhash64 identities of ALL positional k-token grams — the
    equality-only replacement for :func:`ngrams_from_tokens` when
    downstream consumes gram IDENTITY (join/group keys), never gram
    text. Two wins over hashing the concatenated strings afterwards:
    the k-1 zip-with levels fold ``xxhash64(acc, next_token_hash)``
    instead of allocating O(n·k) intermediate concatenated strings,
    and every exploded/shuffled gram is 8 bytes instead of ~8·k chars
    (the jaccard_pairs hash-inside-the-array discipline, measured ~2x
    there). Same trailing-slice construction as ngrams_from_tokens:
    entries where the shift ran out are positionally sliced off, so
    the null-vs-hash-skip semantics of xxhash64 never surface.
    Collision risk is n²/2⁶⁴ over distinct grams — at a billion
    distinct grams ~5e-2 spurious equalities TOTAL, each worth one
    phantom shared-gram row: immaterial (and the precedent the
    oracle-gated q19/q605 already ride)."""
    th = F.transform(toks, lambda t: F.xxhash64(t))
    if k == 1:
        return th
    n = F.size(toks)
    arr = th
    for j in range(1, k):
        arr = F.zip_with(
            arr,
            F.slice(th, j + 1, F.greatest(n - j, F.lit(0))),
            lambda a, b: F.xxhash64(a, b),
        )
    return F.when(n >= k, F.slice(arr, 1, n - k + 1)).otherwise(
        F.array().cast("array<bigint>")
    )


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles (the MinHash/Jaccard unit).

    Convenience form for ad-hoc use. Hot paths should tokenize into a
    column first and call :func:`shingles_from_tokens` — this wrapper
    embeds the tokenizer expression inside the shingle lambda, which
    Spark re-evaluates per token index (see shingles_from_tokens)."""
    return shingles_from_tokens(tokens(text), k)


def char_ngrams(text: Column | str, k: int = 5) -> Column:
    """Distinct character k-grams."""
    t = _c(text)
    n = F.length(t)
    grams = F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - k + 1), lambda i: t.substr(i, F.lit(k))),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def lang_id(text: Column | str) -> Column:
    """N-gram-free language heuristic: score text against small marker
    word sets and pick the argmax. Cheap, deterministic, JVM-side; a
    real pipeline swaps in fastText via mapInPandas (see
    operators/multimodal.py for the stub pattern)."""
    markers = {
        "en": ["the", "and", "of", "is", "to"],
        "es": ["el", "la", "los", "es", "una"],
        "de": ["der", "die", "und", "ist", "ein"],
        "fr": ["le", "les", "est", "une", "dans"],
    }
    toks = F.transform(tokens(text), F.lower)
    scores = []
    for lang, words in markers.items():
        arr = F.array(*[F.lit(w) for w in words])
        score = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("unknown"))


def fingerprint64(text: Column | str) -> Column:
    """Deterministic 64-bit document fingerprint: xxhash64 of the
    whitespace-normalized, lowercased text. The exact-dedup key."""
    norm = F.lower(F.concat_ws(" ", tokens(text)))
    return F.xxhash64(norm)


# PII patterns, applied in order. Deliberately RE2-compatible (no
# backreferences, no lookaround) so the exact same pattern strings run
# identically under Java regex (Spark) and RE2 (DuckDB/Go tooling) —
# a redaction whose behavior depends on the engine is a compliance bug.
# SSN before PHONE: a 3-2-4 digit group would otherwise half-match the
# phone pattern and leak the remaining digits.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "[SSN]"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
    (
        "phone",
        r"\+?[0-9]{1,3}[- .]?\(?[0-9]{3}\)?[- .]?[0-9]{3}[- .]?[0-9]{4}",
        "[PHONE]",
    ),
]


def redact_pii(text: Column | str, kinds: list[str] | None = None) -> Column:
    """Mask common PII (emails, SSNs, IPv4 addresses, phone numbers)
    with typed placeholder tokens — the standard scrub before text
    enters a training corpus.

    Pure chained ``regexp_replace`` (JVM-side, whole-stage codegen; a
    Python UDF here would put every byte of a 100 TB corpus through
    the Python worker). Pattern order is significant and fixed — see
    PII_PATTERNS. ``kinds`` selects a subset without disturbing the
    order.
    """
    t = _c(text)
    for name, pat, repl in PII_PATTERNS:
        if kinds is None or name in kinds:
            t = F.regexp_replace(t, pat, repl)
    return t


def repetition_stats(text: Column | str, n: int = 3) -> Column:
    """Within-document repetition: struct(n_grams, n_distinct) over
    word n-grams — ``1 - n_distinct/n_grams`` is the classic
    repeated-line/phrase quality signal (MassiveText/Gopher rules).

    Counts stay integers (exact, engine-portable); callers derive the
    ratio with one double division. Uses the zip-shift shingle
    construction (O(tokens·n), no per-index re-evaluation — see
    shingles_from_tokens) but WITHOUT the distinct, since multiplicity
    is the whole point here.
    """
    toks = tokens(text)
    m = F.size(toks)
    arr = toks
    for j in range(1, n):
        arr = F.zip_with(
            arr,
            F.slice(toks, j + 1, F.greatest(m - j, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    grams = F.when(m >= n, F.slice(arr, 1, m - n + 1)).otherwise(
        F.array().cast("array<string>")
    )
    return F.struct(
        F.size(grams).alias("n_grams"),
        F.size(F.array_distinct(grams)).alias("n_distinct"),
    )


def gopher_flags(text: Column | str) -> Column:
    """Gopher-rule quality gates (Rae et al. 2021, Table A1 subset) as a
    struct of booleans + the conjunction — the standard pre-training
    document filter.

    Every rule is an INTEGER comparison via cross-multiplication (e.g.
    mean word length in [3, 10] ⇔ 3·n_words ≤ n_chars ≤ 10·n_words), so
    there is no float division anywhere and the flags are bit-portable
    to any engine. Regexes stay inside the RE2 ∩ Java-regex common
    subset (plain char classes) like redact_pii.

    Fields: n_words, ok_word_count (50..100k), ok_mean_word_len (3..10),
    ok_alpha_ratio (≥80% words contain a letter), ok_symbol_ratio
    (#/ellipsis ≤ 10% of words), ok_stopwords (≥2 distinct stopwords),
    pass_all.
    """
    t = tokens(_c(text))
    n_words = F.size(t)
    n_chars = F.aggregate(t, F.lit(0), lambda acc, w: acc + F.length(w))
    alpha_words = F.size(F.filter(t, lambda w: w.rlike("[A-Za-z]")))
    n_symbols = (
        F.size(F.filter(t, lambda w: w.contains("#")))
        + F.size(F.filter(t, lambda w: w.contains("...")))
    )
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(t), sw))
    ok_wc = (n_words >= 50) & (n_words <= 100000)
    ok_mwl = (n_chars >= 3 * n_words) & (n_chars <= 10 * n_words)
    ok_alpha = 5 * alpha_words >= 4 * n_words
    ok_sym = 10 * n_symbols <= n_words
    ok_stop = n_stop >= 2
    return F.struct(
        n_words.alias("n_words"),
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha_ratio"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_mwl & ok_alpha & ok_sym & ok_stop).alias("pass_all"),
    )


_ACCENTS_FROM = "àáâãäåèéêëìíîïòóôõöùúûüçñýÿ"
_ACCENTS_TO = "aaaaaaeeeeiiiiooooouuuucnyy"


def normalize_text(text: Column | str) -> Column:
    """Canonical text normalization before exact dedup / fingerprinting:
    lowercase, fold common Latin accents (explicit translate table —
    portable, unlike locale-dependent unicode normalizers), collapse
    whitespace runs to single spaces, trim. Deterministic and
    reproducible in any engine with translate + regexp_replace."""
    folded = F.translate(F.lower(_c(text)), _ACCENTS_FROM, _ACCENTS_TO)
    return F.trim(F.regexp_replace(folded, r"\s+", " "))
