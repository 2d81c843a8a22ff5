"""Text analysis for training-data pipelines: language-ID heuristic, quality
scoring, token counting, document fingerprinting. All Catalyst built-ins
(whole-stage codegen) — no Python on any of these paths.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny function-word lists for the n-gram/stopword language heuristic.
# Deliberately small + frozen: this is a heuristic operator, not a model.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "von", "mit", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "des", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "por", "con"],
}


def lang_scores(tokens_col: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts over a token array."""
    return {
        lang: F.size(F.array_intersect(tokens_col, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_STOPWORDS.items()
    }


def lang_id(tokens_col: Column, default: str = "und") -> Column:
    """argmax language by stopword overlap; 'und' when nothing matches."""
    scores = lang_scores(tokens_col)
    best = F.greatest(*scores.values())
    expr = F.lit(default)
    # reverse order so earlier languages win ties deterministically
    for lang in reversed(list(scores)):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best > 0, expr).otherwise(F.lit(default))


def token_count_ws(text_col: Column) -> Column:
    """Whitespace token count."""
    t = F.trim(text_col)
    return F.when(
        F.length(t) > 0, F.size(F.split(t, r"\s+"))
    ).otherwise(F.lit(0))


def token_count_bpe_ish(text_col: Column) -> Column:
    """BPE-ish token count: runs of letters, runs of digits, and individual
    other non-space characters each count as one token — a cheap proxy for
    subword tokenizers."""
    return F.size(
        F.regexp_extract_all(
            F.lower(text_col), F.lit(r"([\p{L}]+|[0-9]+|[^\p{L}0-9\s])"), 1
        )
    )


def punct_ratio(text_col: Column) -> Column:
    n_punct = F.length(F.regexp_replace(text_col, r"[\p{L}\p{N}\s]", ""))
    return F.when(
        F.length(text_col) > 0, n_punct.cast("double") / F.length(text_col)
    ).otherwise(F.lit(0.0))


def alpha_ratio(text_col: Column) -> Column:
    n_alpha = F.length(F.regexp_replace(text_col, r"[^\p{L}]", ""))
    return F.when(
        F.length(text_col) > 0, n_alpha.cast("double") / F.length(text_col)
    ).otherwise(F.lit(0.0))


def mean_word_len(tokens_col: Column) -> Column:
    # bigint zero (ADVICE r5): an int accumulator would raise an ANSI
    # overflow on a document whose total token chars exceed 2^31; the
    # widened fold produces identical values for every in-range input.
    total = F.aggregate(
        tokens_col, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    return F.when(
        F.size(tokens_col) > 0, total.cast("double") / F.size(tokens_col)
    ).otherwise(F.lit(0.0))


def quality_score(text_col: Column, tokens_col: Column) -> Column:
    """Composite [0,1] quality: favors alphabetic text with sane word lengths,
    penalizes punctuation soup and very short documents. Frozen formula."""
    length_term = F.least(F.length(text_col).cast("double") / 200.0, F.lit(1.0))
    wl = mean_word_len(tokens_col)
    wordlen_term = F.when((wl >= 3.0) & (wl <= 10.0), 1.0).otherwise(0.5)
    score = (
        0.35 * alpha_ratio(text_col)
        + 0.25 * (1.0 - F.least(punct_ratio(text_col) * 4.0, F.lit(1.0)))
        + 0.2 * length_term
        + 0.2 * wordlen_term
    )
    return F.round(score, 6)


def doc_fingerprint(tokens_col: Column, w: int = 8) -> Column:
    """Min-w sketch fingerprint: the w smallest xxhash64 token hashes,
    sorted — a compact, order-insensitive document signature (containment
    sketches / fast near-dup prefilter)."""
    hashes = F.sort_array(F.transform(tokens_col, lambda t: F.xxhash64(t)))
    return F.slice(hashes, 1, w)


# --------------------------------------------------------------------------
# Repetition signals (Gopher-rule analogues, Rae et al. 2021 §A1.1): the
# published filters drop documents whose duplicate-n-gram / top-n-gram
# fractions exceed thresholds. All pure Catalyst expressions (codegen) —
# per-document work, no shuffle, so they scale linearly with the scan.
# --------------------------------------------------------------------------


def token_ngrams(tokens_col: Column, n: int) -> Column:
    """Ordered token n-grams as space-joined strings (expression-only).

    Guarded for size < n: Spark's `sequence(1, 0)` DESCENDS rather than
    returning empty, so short documents must short-circuit to [].
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if n == 1:
        return tokens_col
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tokens_col) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tokens_col, i + k) for k in range(n)]
        ),
    )
    return F.when(F.size(tokens_col) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def hashed_ngrams(tokens_col: Column, n: int) -> Column:
    """Ordered n-gram IDENTITIES as xxhash64 longs (array<bigint>): the
    same group/join/distinct behavior as space-joined string grams (tokens
    contain no separator, so the mapping is injective up to 64-bit
    collisions) at 8 bytes per gram and no string building. Empty for docs
    shorter than n (sequence(1, 0) DESCENDS, so short docs short-circuit).

    Callers should pass a MATERIALIZED token column (a real projected
    column, not the normalize+split expression tree): Catalyst re-evaluates
    an inlined tree per element_at reference inside the transform.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    n_grams = F.size(tokens_col) - (n - 1)
    hashed = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.xxhash64(*[F.element_at(tokens_col, i + k) for k in range(n)]),
    )
    return F.when(n_grams > 0, hashed).otherwise(F.array().cast("array<bigint>"))


def dup_ngram_fraction(tokens_col: Column, n: int) -> Column:
    """Fraction of n-gram occurrences that are repeats of an earlier n-gram
    in the same document: 1 - distinct/total. 0.0 for docs shorter than n.

    Gram count comes from arithmetic on size(tokens) — building the gram
    array just to size() it re-evaluates the whole construction per use
    (Catalyst does not CSE across conditional branches; measured 17.5s ->
    4.4s on a 100k-doc projection). Gram identity for the distinct count is
    hashed_ngrams (see above).
    """
    total = F.greatest(F.size(tokens_col) - (n - 1), F.lit(0))
    distinct = F.size(F.array_distinct(hashed_ngrams(tokens_col, n)))
    return F.when(
        total > 0, (total - distinct).cast("double") / total
    ).otherwise(F.lit(0.0))


def top_ngram_fraction_expr(tokens_col: Column, n: int) -> Column:
    """Per-document top-n-gram fraction as a PURE EXPRESSION: sort the
    hashed gram identities and fold once over the sorted array counting the
    longest equal run (= the most frequent gram's count). O(L log L) per
    document, zero shuffles, no explode — versus the explode + two keyed
    aggregations + join-back dataflow this replaces on the hot path
    (operators/quality.top_ngram_fraction_agg keeps that shape for
    pathological single documents whose gram array exceeds one task's
    memory — at ~8 B/gram that means >10^8-token docs).

    0.0 for docs with no n-grams, matching the agg form's left-join fill.
    """
    grams = F.sort_array(hashed_ngrams(tokens_col, n))
    total = F.greatest(F.size(tokens_col) - (n - 1), F.lit(0))

    def _step(acc, x):
        new_run = F.when(
            (acc["run"] > 0) & (x == acc["prev"]), acc["run"] + 1
        ).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
        )

    best = F.aggregate(
        grams,
        F.struct(
            F.lit(0).cast("bigint").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        _step,
    )["best"]
    return F.when(
        total > 0, best.cast("double") / total
    ).otherwise(F.lit(0.0))


# --------------------------------------------------------------------------
# PII redaction: regex-based email/phone scrubbing, the standard pre-training
# hygiene pass. RE2-compatible patterns (no backtracking) so the same
# pattern runs verbatim in Spark (Java regex) and the DuckDB oracle.
# Phones are matched only in +<digits> international form to avoid
# false-positiving on numeric tokens in prose.
# --------------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9][0-9 ]{5,}[0-9]"


def pii_email_count(text_col: Column) -> Column:
    return F.size(F.regexp_extract_all(text_col, F.lit(EMAIL_RE), 0))


def pii_phone_count(text_col: Column) -> Column:
    return F.size(F.regexp_extract_all(text_col, F.lit(PHONE_RE), 0))


def pii_redact(text_col: Column) -> Column:
    """Replace every email with <EMAIL> and every phone with <PHONE>."""
    c = F.regexp_replace(text_col, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(c, PHONE_RE, "<PHONE>")


# --------------------------------------------------------------------------
# Deterministic sampling: hash-threshold keep decision. rand()-based
# sampling is irreproducible across retries/stragglers (a re-run task
# re-draws), which corrupts exactly-once pipelines; a pure function of the
# record id is replay-stable, cross-engine reproducible (the LCG below is
# plain 64-bit integer arithmetic, identical in Spark and DuckDB/ANSI SQL),
# and needs no shuffle. Constants are glibc's LCG.
# --------------------------------------------------------------------------


def lcg_bucket(id_col: Column, buckets: int = 1000) -> Column:
    """LCG hash of an integer id into [0, buckets), safe for the FULL long
    range: the id is folded to [0, buckets) before the multiply, which by
    modular congruence ((a*c + b) mod n == ((a mod n)*c + b) mod n) yields
    the exact same bucket as the direct `(id*1103515245 + 12345) % buckets`
    while keeping the product under ~buckets*2^31 — a raw xxhash64 id would
    overflow the long multiply under ANSI mode.

    Cross-engine caveat (ADVICE r5): the DuckDB oracles mirror this with
    sign-following `%`, which matches Spark's pmod only for NON-NEGATIVE
    ids; every in-tree id column fed here is non-negative by construction
    (sequential doc ids). A signed (e.g. raw xxhash64) id would split the
    sample across engines — pmod-mirror the oracle before feeding one."""
    folded = F.pmod(id_col.cast("long"), F.lit(buckets))
    return F.pmod(folded * F.lit(1103515245) + F.lit(12345), F.lit(buckets))


def deterministic_keep(id_col: Column, permille: int) -> Column:
    """True for ~permille/1000 of ids, decided by the LCG hash of the id."""
    return lcg_bucket(id_col, 1000) < F.lit(permille)
