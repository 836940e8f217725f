"""Text-analysis column builders (100 TB-scale training-data pipeline ops).

All hot-path logic is built-in Spark SQL expressions (JVM-side,
whole-stage-codegen) — no Python UDFs: language ID, quality scoring,
token counting and fingerprinting are pure column algebra over
``split``/``filter``/``aggregate``/``md5``. That keeps a 100 TB
documents scan inside Tungsten with zero Python serialization.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword
# heuristic language ID. Deterministic, order matters for ties.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "es": ["el", "los", "las", "es", "una", "y"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}

STOPWORDS = LANG_MARKERS["en"]


def explode_nonnull(df, arr: Column | str, name: str, keep=()):
    """Explode a COMPUTED array without the InferFiltersFromGenerate
    recompute: plain ``explode`` makes the optimizer infer a
    ``size(arr) > 0`` filter and push it below the producing
    projections, SUBSTITUTING the whole expression chain (tokenizers,
    n-gram zip_withs) into a scan-level Filter — a per-row recompute
    measured from 2× (boilerplate scrub) to ~20× plan-copies
    (contamination) in r15. ``explode_outer`` infers nothing; the one
    null row an empty array emits is removed on the Generate's OUTPUT,
    which cannot sink. ``keep`` lists pass-through columns."""
    out = df.select(*keep, F.explode_outer(arr).alias(name))
    return out.filter(F.col(name).isNotNull())


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization with empty-token removal."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("long")


def char_len_sum(toks: Column) -> Column:
    """Total characters across tokens (codegen'd fold, no UDF)."""
    return F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))


def stopword_count(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, F.lower(t)))).cast("long")


def quality_columns(text: Column | str) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality signals."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n_tok = F.size(toks).cast("long")
    n_char = F.length(c).cast("long")
    n_stop = stopword_count(toks, STOPWORDS)
    n_punct = (n_char - F.length(F.regexp_replace(c, r"[^\w\s]", ""))).cast("long")
    return {
        "n_tokens": n_tok,
        "n_chars_measured": n_char,
        "n_stopwords": n_stop,
        "n_punct": n_punct,
        "avg_token_len": (char_len_sum(toks).cast("double") / n_tok),
        "stopword_ratio": (n_stop.cast("double") / n_tok),
    }


def lang_scores(text: Column | str) -> dict[str, Column]:
    toks = tokens(text)
    return {lang: stopword_count(toks, words) for lang, words in LANG_MARKERS.items()}


def lang_id(text: Column | str) -> Column:
    """Argmax language by marker hits on lowercased whitespace tokens.

    One flat expression over the scores with a sentinel in front:
    ``element_at(names, array_position(scores, array_max(scores)))``
    where ``scores = [0, s_en, …, s_zh]`` and
    ``names = ['unknown', 'en', …, 'zh']``. ``array_position`` returns
    the FIRST maximum, so the earliest language in ``LANG_MARKERS``
    wins a tie; with no marker hit every score is 0 and the sentinel
    wins, giving 'unknown'. NULL text also gives 'unknown' (a NULL
    score is skipped by ``array_max`` and never equals the max).

    The tree stays linear in the language count: the score array
    appears twice, so five languages give 10 marker filters. A
    ``when(s > best, …).otherwise(best)`` fold references its
    accumulator twice per step, so its tree doubles per language (57
    marker filters for five). The size is paid per row, and twice when
    a filter on the result is pushed below the projection that
    computes it (a scan-level Filter evaluates the gate again)."""
    scores = F.array(F.lit(0).cast("long"), *lang_scores(text).values())
    names = F.array(*[F.lit(n) for n in ("unknown", *LANG_MARKERS)])
    return F.element_at(names, F.array_position(scores, F.array_max(scores)).cast("int"))


def fingerprint(text: Column | str) -> Column:
    """Normalized-content fingerprint: md5 of lowercased,
    whitespace-collapsed text — the exact-dedup key."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))


def phrase_match_positions(text, phrase: str):
    """1-based token positions where ``phrase`` (a whitespace-split
    token sequence) starts an exact consecutive match. Pure per-row
    column algebra — matching a phrase against a corpus is ONE
    embarrassingly parallel scan with zero shuffle; a positional
    inverted index only pays for itself when many probes amortize the
    index build, which a 100 TB single-probe scan does not.

    The token split is pinned behind a named lambda variable
    (``transform`` over a 1-element array) so it is evaluated ONCE per
    row — inlining ``split()`` into the position lambda would re-split
    the text for every element_at reference (measured ~2x the scan
    cost at 3 references/position)."""
    words = phrase.split()
    n = len(words)
    # evaluate the split once per row: bind it as the lambda variable
    # of a transform over a singleton array, then compute the position
    # filter inside that scope
    return F.element_at(
        F.transform(
            F.array(tokens(text)),
            lambda toks: F.filter(
                F.when(
                    F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
                ).otherwise(F.array().cast("array<int>")),
                lambda i: _phrase_at(toks, i, words),
            ),
        ),
        1,
    )


def _phrase_at(toks, i, words):
    cond = None
    for off, w in enumerate(words):
        c = F.element_at(toks, i + off) == w
        cond = c if cond is None else cond & c
    return cond
