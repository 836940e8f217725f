"""Corpus-quality operators a large-scale training-data pipeline needs:
repetition filters (Gopher-style), benchmark-contamination checks, and
domain-mixture token accounting.

These extend the reference's per-record filter stage (reference
src/scip/masking/filters/__init__.py:21-38 — compute a per-record
statistic, threshold it downstream) to document corpora: the same
shape — one scan, per-record reductions, broadcast of tiny summary
state — expressed as DataFrame column algebra so every count stays
JVM-side and map-side-combined.

Scale notes (100 TB):
- n-gram construction is per-row array algebra (zip_with/slice) inside
  whole-stage codegen — no shuffle, no Python.
- per-doc repetition stats are computed per ROW (sorted-run folding
  over each gram array): nothing shuffles at any corpus size — the
  stats never leave the scanning task.
- the contamination benchmark set is DISTINCT 5-grams of a tiny,
  explicitly-bounded document subset — broadcast to every executor, so
  the 100-TB candidate side never shuffles for the probe.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from scip_spark.functions.scale import ensure_parallelism
from scip_spark.functions.text import explode_nonnull, tokens
from scip_spark.queries import register, tbl

_SQL_TOKS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"


def _ngram_col(n: int):
    """n-gram array from a ``toks`` array column, pure column algebra.

    Built by folding zip_with over shifted slices — each element i of
    the result is ``toks[i] .. toks[i+n-1]`` joined by spaces. The
    ``greatest(len-k, 0)`` guard keeps slice lengths non-negative for
    short docs (Spark's sequence() would count *down* for a negative
    span, so slices are the safe formulation).
    """
    m = F.greatest(F.size("toks") - (n - 1), F.lit(0))
    out = F.slice("toks", 1, m)
    for k in range(1, n):
        out = F.zip_with(out, F.slice("toks", k + 1, m), lambda a, b: F.concat_ws(" ", a, b))
    return out


def _sql_ngrams(n: int) -> str:
    parts = ", ".join(f"toks[i+{k}]" for k in range(n))
    return (
        f"list_transform(generate_series(1, greatest(len(toks)-{n - 1}, 0)), "
        f"i -> concat_ws(' ', {parts}))"
    )


_REP_SQL = f"""
    WITH tokenized AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, toks,
             {_sql_ngrams(2)} AS bi,
             {_sql_ngrams(3)} AS tri
      FROM tokenized
    ),
    uni_c AS (
      SELECT doc_id, g, COUNT(*) AS c FROM grams, unnest(toks) AS u(g) GROUP BY doc_id, g
    ),
    bi_c AS (
      SELECT doc_id, g, COUNT(*) AS c FROM grams, unnest(bi) AS u(g) GROUP BY doc_id, g
    ),
    tri_c AS (
      SELECT doc_id, g, COUNT(*) AS c FROM grams, unnest(tri) AS u(g) GROUP BY doc_id, g
    ),
    uni_s AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, MAX(c) AS mx FROM uni_c GROUP BY doc_id),
    bi_s AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bi, MAX(c) AS mx FROM bi_c GROUP BY doc_id),
    tri_s AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tri,
                     CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_occ
              FROM tri_c GROUP BY doc_id)
    SELECT u.doc_id,
           u.n_tokens,
           CAST(u.mx AS DOUBLE) / u.n_tokens AS top_token_frac,
           CAST(b.mx AS DOUBLE) / b.n_bi AS top_bigram_frac,
           CAST(t.dup_occ AS DOUBLE) / t.n_tri AS dup_trigram_frac
    FROM uni_s u JOIN bi_s b USING (doc_id) JOIN tri_s t USING (doc_id)
"""


def _run_stats(arr):
    """Per-ROW duplicate statistics of an array: sort the array, fold
    adjacent-equal runs, return struct(mx = longest run = count of the
    most frequent element, dup = total occurrences belonging to runs
    longer than 1). O(n log n) per row, zero shuffle — the key insight
    is that per-document gram counts need no cross-row aggregation at
    all, so the stats never leave the scanning task."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("mx"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc, x):
        same = acc["prev"].isNotNull() & (acc["prev"] == x)
        closed_dup = acc["dup"] + F.when(
            acc["run"] > 1, acc["run"]
        ).otherwise(F.lit(0).cast("long"))
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, acc["mx"])
            .otherwise(F.greatest(acc["mx"], acc["run"]))
            .alias("mx"),
            F.when(same, acc["dup"]).otherwise(closed_dup).alias("dup"),
        )

    def finish(acc):
        return F.struct(
            F.greatest(acc["mx"], acc["run"]).alias("mx"),
            (
                acc["dup"]
                + F.when(acc["run"] > 1, acc["run"]).otherwise(F.lit(0).cast("long"))
            ).alias("dup"),
        )

    return F.aggregate(F.array_sort(arr), init, step, finish)


@register(
    "quality_repetition",
    _REP_SQL,
    doc="Gopher-style repetition filter stats: most-common-token "
    "fraction, most-common-bigram fraction, fraction of trigram "
    "occurrences belonging to repeated trigrams (all int/int "
    "divisions — bit-exact across engines)",
)
def quality_repetition(spark, sf_dir):
    """ZERO-shuffle plan: one documents scan, one tokenization, and all
    three gram families' repetition stats computed per row via
    sorted-run folding (_run_stats) — no explode, no groupBy, nothing
    shuffles at any corpus size. Docs too short for bi/trigrams drop
    (inner-join semantics of the oracle)."""
    docs = ensure_parallelism(tbl(spark, sf_dir, "documents"))
    # the bi/trigram non-emptiness filter expressed on the TOKEN count
    # up front (n_bi > 0 & n_tri > 0 ⇔ size(toks) >= 3), not on the
    # computed n_bi/n_tri columns after the projections: a filter on a
    # computed column is pushdown-substituted below the projections,
    # re-evaluating the whole tokenize→zip_with gram chain inside a
    # scan-level Filter (~11 tokenizer copies in the optimized plan;
    # r15 measured 1.63 → 1.20 s warm at sf0.1). The early form costs
    # one extra tokenize per row and nothing else.
    s = (
        docs.filter(F.size(tokens("text")) >= 3)
        .select("doc_id", tokens("text").alias("toks"))
        .select("doc_id", "toks", _ngram_col(2).alias("bi"), _ngram_col(3).alias("tri"))
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.size("bi").cast("long").alias("n_bi"),
            F.size("tri").cast("long").alias("n_tri"),
            _run_stats(F.col("toks")).alias("u"),
            _run_stats(F.col("bi")).alias("b"),
            _run_stats(F.col("tri")).alias("t"),
        )
    )
    return s.select(
        "doc_id",
        "n_tokens",
        (F.col("u.mx").cast("double") / F.col("n_tokens")).alias("top_token_frac"),
        (F.col("b.mx").cast("double") / F.col("n_bi")).alias("top_bigram_frac"),
        (F.col("t.dup").cast("double") / F.col("n_tri")).alias("dup_trigram_frac"),
    )


# Benchmark-contamination check: which corpus documents share any exact
# 5-gram with a held-out "benchmark" set (here: every 50th doc_id — a
# deterministic stand-in for an eval-suite table). The real-pipeline
# property is the JOIN SHAPE: the benchmark n-gram set is small and
# broadcast; the corpus side streams through it without shuffling.
_CONTAM_SQL = f"""
    WITH tokenized AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, list_distinct({_sql_ngrams(5)}) AS gs FROM tokenized
    ),
    bench AS (
      SELECT DISTINCT g FROM grams, unnest(gs) AS u(g) WHERE doc_id % 50 = 0
    ),
    cand AS (
      SELECT doc_id, g FROM grams, unnest(gs) AS u(g) WHERE doc_id % 50 <> 0
    ),
    hit AS (
      SELECT c.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(COUNT(b.g) AS BIGINT) AS n_matched
      FROM cand c LEFT JOIN bench b ON c.g = b.g
      GROUP BY c.doc_id
    )
    SELECT doc_id, n_grams, n_matched,
           CAST(n_matched AS DOUBLE) / n_grams AS contamination,
           n_matched > 0 AS contaminated
    FROM hit
"""


@register(
    "contamination_ngram",
    _CONTAM_SQL,
    doc="benchmark-contamination check: exact 5-gram overlap between "
    "corpus docs and a deterministic benchmark subset; benchmark "
    "gram set broadcast, corpus side never shuffles for the probe",
)
def contamination_ngram(spark, sf_dir):
    docs = ensure_parallelism(tbl(spark, sf_dir, "documents"))
    g = docs.select(
        "doc_id", tokens("text").alias("toks")
    ).select("doc_id", F.array_distinct(_ngram_col(5)).alias("gs"))
    # explode_nonnull, NOT plain explode: exploding the COMPUTED gram
    # array triggers InferFiltersFromGenerate, which substitutes the
    # whole tokenize→5-gram chain (with ~6 references to toks each
    # expanding to the tokenizer) into a scan-level Filter — the
    # winnow_fingerprints hazard (42 → 2 tokenizer copies in the
    # optimized plan; r15 measured 2.10 → 1.68 s warm at sf0.1).
    bench = (
        explode_nonnull(g.filter(F.col("doc_id") % 50 == 0), "gs", "g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cand = explode_nonnull(
        g.filter(F.col("doc_id") % 50 != 0), "gs", "g", keep=("doc_id",)
    )
    return (
        cand.join(F.broadcast(bench), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.count("hit").cast("long").alias("n_matched"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_matched",
            (F.col("n_matched").cast("double") / F.col("n_grams")).alias("contamination"),
            (F.col("n_matched") > 0).alias("contaminated"),
        )
    )


# Domain-mixture accounting: token totals and cumulative shares per
# (lang, source) domain — the bookkeeping behind mixture-weight tuning.
# The unpartitioned window runs AFTER the group-by, over #domains rows
# (tiny at any corpus scale); every share is a bigint/bigint division,
# so cum_share is bit-exact without summing doubles.
_BUDGET_SQL = f"""
    WITH tokenized AS (
      SELECT lang, source, {_SQL_TOKS} AS toks FROM documents
    ),
    dom AS (
      SELECT lang, source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
      FROM tokenized GROUP BY lang, source
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM dom)
    SELECT lang, source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / total AS token_share,
           CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
           CAST(CAST(SUM(n_tokens) OVER w AS BIGINT) AS DOUBLE) / total AS cum_share
    FROM dom, tot
    WINDOW w AS (ORDER BY n_tokens DESC, lang, source ROWS UNBOUNDED PRECEDING)
"""


@register(
    "token_budget_by_domain",
    _BUDGET_SQL,
    doc="domain-mixture token accounting: per-(lang,source) token "
    "totals, share of corpus, and cumulative share in descending "
    "token order (mixture-weight bookkeeping)",
)
def token_budget_by_domain(spark, sf_dir):
    docs = ensure_parallelism(tbl(spark, sf_dir, "documents"))
    dom = (
        docs.select("lang", "source", F.size(tokens("text")).alias("n"))
        .groupBy("lang", "source")
        .agg(F.count("*").cast("long").alias("n_docs"), F.sum("n").cast("long").alias("n_tokens"))
    )
    total = dom.agg(F.sum("n_tokens").cast("long").alias("total"))
    w = (
        W.orderBy(F.desc("n_tokens"), "lang", "source")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        dom.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("total")).alias("token_share"),
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            (F.sum("n_tokens").over(w).cast("long").cast("double") / F.col("total")).alias(
                "cum_share"
            ),
        )
    )


_NORM_TEXT = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"


@register(
    "contamination_normalized",
    f"""
    WITH train AS (SELECT text FROM documents WHERE doc_id % 10 < 8),
    eval AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8),
    tr AS (SELECT DISTINCT md5(text) AS h FROM train),
    tn AS (SELECT DISTINCT md5({_NORM_TEXT}) AS hn FROM train),
    e AS (
      SELECT doc_id, md5(text) AS h, md5({_NORM_TEXT}) AS hn FROM eval
    )
    SELECT e.doc_id,
           tr.h IS NOT NULL AS exact_hit,
           tn.hn IS NOT NULL AS norm_hit
    FROM e LEFT JOIN tr ON e.h = tr.h LEFT JOIN tn ON e.hn = tn.hn
    ORDER BY e.doc_id
    """,
    doc="normalization-robust contamination screen: exact train/eval "
    "text matching is defeated by trivial edits (case, whitespace, "
    "punctuation), so eval docs are ALSO matched on the normalized "
    "form (lowercase, non-alphanumeric runs collapsed to single "
    "spaces, trimmed) — norm_hit ⊇ exact_hit by construction "
    "(pinned in pytest with variant docs exact matching misses). "
    "Scale shape: both sides join on md5 fingerprints, so the "
    "shuffle carries 32-char hashes, never document text; the "
    "distinct train fingerprint relations are corpus-unique-sized.",
)
def contamination_normalized(spark, sf_dir):
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 10 < 8)
    ev = docs.filter(F.col("doc_id") % 10 >= 8)

    def norm(c):
        return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))

    tr = train.select(F.md5("text").alias("h")).distinct().withColumn(
        "e1", F.lit(True)
    )
    tn = (
        train.select(F.md5(norm(F.col("text"))).alias("hn"))
        .distinct()
        .withColumn("e2", F.lit(True))
    )
    evh = ev.select(
        "doc_id", F.md5("text").alias("h"), F.md5(norm(F.col("text"))).alias("hn")
    )
    return (
        evh.join(tr, "h", "left")
        .join(tn, "hn", "left")
        .select(
            "doc_id",
            F.coalesce("e1", F.lit(False)).alias("exact_hit"),
            F.coalesce("e2", F.lit(False)).alias("norm_hit"),
        )
    )


@register(
    "bigram_surprisal_scores",
    f"""
    WITH tokenized AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    bi AS (SELECT doc_id, unnest({_sql_ngrams(2)}) AS bg FROM tokenized),
    uni AS (SELECT unnest(toks) AS w FROM tokenized),
    bgc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2 FROM bi GROUP BY 1),
    uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM uni GROUP BY 1),
    rate AS (
      SELECT bg, (c1 * 1048576) // c2 AS s
      FROM bgc JOIN uc ON split_part(bgc.bg, ' ', 1) = uc.w
    ),
    sel AS (
      SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(s) AS BIGINT) AS surprisal_fp
      FROM bi b JOIN rate USING (bg) GROUP BY 1
    )
    SELECT doc_id, n_bigrams, surprisal_fp,
           surprisal_fp // n_bigrams AS mean_surprisal_fp
    FROM sel ORDER BY doc_id
    """,
    doc="perplexity-style quality scoring (the CCNet filter shape) "
    "with EXACT integer arithmetic: per-bigram surprisal is the "
    "inverse conditional frequency c(w1)·2^20 div c(w1w2) — a "
    "harmonic rarity score instead of -log p, chosen because integer "
    "division hash-matches cross-engine where libm log cannot; docs "
    "ranking high contain improbable transitions (gibberish, OCR "
    "noise, boilerplate splice points). Scale shape: unigram/bigram "
    "counts are map-side-combined aggs; the unigram join touches "
    "only the DISTINCT-bigram relation (vocab-bounded, not corpus "
    "occurrences), then one join on bg prices each occurrence — "
    "Zipf-hot bigram keys split under AQE since the rate side is one "
    "row per key.",
)
def bigram_surprisal_scores(spark, sf_dir):
    from scip_spark.functions.text import tokens

    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    bi = docs.select("doc_id", F.explode(_ngram_col(2)).alias("bg"))
    uc = (
        docs.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c1"))
    )
    bgc = bi.groupBy("bg").agg(F.count("*").cast("long").alias("c2"))
    rate = (
        bgc.withColumn("w1", F.substring_index("bg", " ", 1))
        .join(uc, F.col("w1") == F.col("w"))
        .select("bg", F.expr(f"(c1 * {1 << 20}L) div c2").alias("s"))
    )
    return (
        bi.join(rate, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("s").cast("long").alias("surprisal_fp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "surprisal_fp",
            F.expr("surprisal_fp div n_bigrams").alias("mean_surprisal_fp"),
        )
    )


_KN_SQL = f"""
    WITH tokenized AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    bi AS (SELECT doc_id, unnest({_sql_ngrams(2)}) AS bg FROM tokenized),
    bgc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2 FROM bi GROUP BY 1),
    sp AS (
      SELECT bg, c2, split_part(bg, ' ', 1) AS w1,
             split_part(bg, ' ', 2) AS w2
      FROM bgc
    ),
    lft AS (
      SELECT w1, CAST(SUM(c2) AS BIGINT) AS ctx,
             CAST(COUNT(*) AS BIGINT) AS nfollow
      FROM sp GROUP BY 1
    ),
    rgt AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS nprec FROM sp GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bgc),
    rate AS (
      SELECT bg,
             CAST((4::HUGEINT * ctx * n * 65536)
                  // (GREATEST(4 * c2 - 3, 0)::HUGEINT * n
                      + 3::HUGEINT * nfollow * nprec) AS BIGINT) AS s
      FROM sp JOIN lft USING (w1) JOIN rgt USING (w2), nn
    ),
    sel AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             SUM(s::HUGEINT) AS t
      FROM bi JOIN rate USING (bg) GROUP BY 1
    )
    SELECT doc_id, n_bigrams,
           CAST(t // n_bigrams AS BIGINT) AS mean_kn_surprisal_fp
    FROM sel ORDER BY doc_id
    """


@register(
    "kn_surprisal_scores",
    _KN_SQL,
    doc="Kneser-Ney-smoothed bigram surprisal — the proper interpolated "
    "KN estimate (Chen & Goodman 1999) instead of bigram_surprisal's "
    "raw inverse conditional frequency: P(w2|w1) = (max(c2-D,0) + "
    "D·N1+(w1·)·N1+(·w2)/N1+(··)) / ctx(w1) at the standard D=0.75, "
    "which with D=3/4 is the ALL-INTEGER rational "
    "(max(4c2-3,0)·N + 3·nfollow·nprec) / (4·ctx·N) — the per-bigram "
    "rarity score 1/P lands on a 2^16 grid via one integer division, "
    "hash-matching cross-engine where a log/float KN cannot. "
    "Continuation mass rewards bigrams whose w2 follows MANY contexts "
    "(novel-word repetition scores saner than raw frequency). Scoring "
    "is corpus-self-referential so every scored bigram is observed "
    "(the unseen-event backoff case never arises). Scale shape: all "
    "model relations (bigram counts, left/right continuation counts) "
    "are vocab-bounded map-side-combined aggs; the only corpus-scale "
    "join prices occurrences against the one-row-per-bigram rate "
    "relation, then one doc-keyed rollup — same audited shape as "
    "bigram_surprisal_scores. Intermediates on DECIMAL(38,0)/HUGEINT "
    "(ctx·N·2^16 products pass int64 long before real corpus sizes); "
    "per-bigram quotients stay under int64 up to ~3e13 occurrences of "
    "a single context token.",
)
def kn_surprisal_scores(spark, sf_dir):
    bi = _kn_bi(tbl(spark, sf_dir, "documents"))
    bgc = bi.groupBy("bg").agg(F.count("*").cast("long").alias("c2"))
    return _kn_tail(bi, bgc)


def _kn_bi(docs):
    """(doc_id, bg) — one row per bigram occurrence (staged toks
    projection, see _dsir_bb)."""
    from scip_spark.functions.text import tokens

    staged = docs.select("doc_id", tokens("text").alias("toks"))
    return staged.select("doc_id", F.explode(_ngram_col(2)).alias("bg"))


def _kn_tail(bi, bgc):
    """KN rate pricing + per-doc rollup over a (bg, c2) count relation
    — shared by the batch op and its streaming twin (bigram counts are
    the mergeable statistic: integer sums fold exactly, and every
    derived KN relation — contexts, continuation counts, N — is a pure
    function of the folded counts)."""
    sp = bgc.select(
        "bg",
        "c2",
        F.substring_index("bg", " ", 1).alias("w1"),
        F.substring_index("bg", " ", -1).alias("w2"),
    )
    lft = sp.groupBy("w1").agg(
        F.sum("c2").cast("long").alias("ctx"),
        F.count("*").cast("long").alias("nfollow"),
    )
    rgt = sp.groupBy("w2").agg(F.count("*").cast("long").alias("nprec"))
    nn = bgc.agg(F.count("*").cast("long").alias("n"))
    rate = (
        sp.join(lft, "w1")
        .join(rgt, "w2")
        .crossJoin(F.broadcast(nn))
        .select(
            "bg",
            F.expr(
                "cast(4 as decimal(38,0)) * ctx * n * 65536"
                " div (cast(greatest(4 * c2 - 3, 0) as decimal(38,0)) * n"
                "      + cast(3 as decimal(38,0)) * nfollow * nprec)"
            ).cast("long").alias("s"),
        )
    )
    return (
        bi.join(rate, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(F.expr("cast(s as decimal(38,0))")).alias("t"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("t div n_bigrams").cast("long").alias(
                "mean_kn_surprisal_fp"
            ),
        )
    )


@register(
    "kn_surprisal_scores_stream",
    _KN_SQL,
    doc="kn_surprisal_scores with its bigram-count MODEL built by "
    "STRUCTURED STREAMING: each micro-batch contributes (bg, c2) count "
    "partials folded through an integer-sum merge; every derived KN "
    "relation (per-context totals, left/right continuation counts, the "
    "distinct-bigram N) is a pure function of the folded counts, so "
    "the shared _kn_tail prices identically and this entry shares the "
    "batch oracle SQL verbatim — ninth driver-hash-checked streaming "
    "entry. The realistic shape: the LM accretes as corpus shards "
    "land; quality scoring is a batch pass against the current model. "
    "NOTE the partial relation is vocab-bounded (distinct bigrams), "
    "not sketch-bounded — each fold collect is the model itself, the "
    "same size class as the broadcast rate relation the batch op "
    "already ships.",
)
def kn_surprisal_scores_stream(spark, sf_dir):
    import shutil

    from scip_spark.functions.sketch_queries import (
        _split_to_tmp,
        _stream_fold,
    )

    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = _split_to_tmp(docs, key="doc_id")
    try:
        bgc = _stream_fold(
            spark,
            tmp,
            "doc_id bigint, text string",
            lambda bdf: _kn_bi(bdf)
            .groupBy("bg")
            .agg(F.count("*").cast("long").alias("c2")),
            lambda parts: parts.groupBy("bg").agg(
                F.sum("c2").cast("long").alias("c2")
            ),
            "bg string, c2 bigint",
            lambda df: [(r["bg"], r["c2"]) for r in df.collect()],
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _kn_tail(_kn_bi(tbl(spark, sf_dir, "documents")), bgc)


_DSIR_B = 4096          # hashed bigram buckets (md5 24-bit chunk % B)
_DSIR_GRID = 1 << 20    # fixed-point grid for the likelihood ratios
_DSIR_TARGET = ("src0", "src1")  # stand-in curated target domain


_DSIR_SQL = f"""
    WITH tokenized AS (
      SELECT doc_id, source, {_SQL_TOKS} AS toks FROM documents
    ),
    bi AS (
      SELECT doc_id, source IN {_DSIR_TARGET} AS is_t,
             unnest({_sql_ngrams(2)}) AS bg
      FROM tokenized
    ),
    bb AS (
      SELECT doc_id, is_t,
             CAST(('0x' || substr(md5(bg), 1, 6)) AS BIGINT) % {_DSIR_B} AS b
      FROM bi
    ),
    cnt AS (
      SELECT b,
             CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
             CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cs
      FROM bb GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cs) AS BIGINT) AS ns
      FROM cnt
    ),
    rate AS (
      SELECT b,
             CAST(((ct + 1)::HUGEINT * (ns + {_DSIR_B}) * {_DSIR_GRID})
                  // ((cs + 1)::HUGEINT * (nt + {_DSIR_B})) AS BIGINT) AS r
      FROM cnt, tot
    ),
    sel AS (
      SELECT bb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             SUM(r::HUGEINT) AS s
      FROM bb JOIN rate USING (b) GROUP BY 1
    )
    SELECT doc_id, n_bigrams,
           CAST(s // n_bigrams AS BIGINT) AS mean_importance_fp
    FROM sel ORDER BY doc_id
    """


@register(
    "dsir_importance_weights",
    _DSIR_SQL,
    doc="DSIR-shaped data selection (Xie et al. 2023, 'Data Selection "
    "via Importance Resampling'): score every document by how much a "
    "hashed-bigram bag model of a curated TARGET domain prefers it "
    "over the raw-pool model — the importance weight that drives "
    "domain-matched pretraining sampling. Integer-exact variant: "
    "per-bucket likelihood ratios (ct+1)(Ns+B)*2^20 div (cs+1)(Nt+B) "
    "(Laplace-smoothed, arithmetic-mean aggregation) instead of "
    "sum-of-logs, because integer division hash-matches cross-engine "
    "where libm log cannot; intermediates on DECIMAL(38,0)/HUGEINT so "
    "nothing wraps at corpus scale (same discipline as "
    "temperature_mixture). Scale shape: the bucket counts collapse "
    "MAP-SIDE to B=4096 rows regardless of corpus size, the priced "
    "rate relation broadcasts, and the only corpus-scale shuffle is "
    "the per-doc rollup keyed by doc_id.",
)
def dsir_importance_weights(spark, sf_dir):
    bb = _dsir_bb(tbl(spark, sf_dir, "documents"))
    cnt = bb.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).cast("long").alias("ct"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).cast("long").alias("cs"),
    )
    return _dsir_tail(bb, cnt)


def _dsir_bb(docs):
    """(doc_id, is_t, bucket) — one row per bigram OCCURRENCE. Staged
    projections: toks materializes as a bound attribute before the
    n-gram explode (InferFiltersFromGenerate would otherwise
    substitute the whole lambda chain into a scan-level filter)."""
    from scip_spark.functions.text import tokens

    staged = docs.select(
        "doc_id",
        F.col("source").isin(*_DSIR_TARGET).alias("is_t"),
        tokens("text").alias("toks"),
    )
    return staged.select(
        "doc_id", "is_t", F.explode(_ngram_col(2)).alias("bg")
    ).select(
        "doc_id",
        "is_t",
        (
            F.conv(F.substring(F.md5("bg"), 1, 6), 16, 10).cast("long")
            % _DSIR_B
        ).alias("b"),
    )


def _dsir_tail(bb, cnt):
    """Rate pricing + per-doc rollup over a (b, ct, cs) model relation
    — shared by the batch op and its streaming twin (count partials
    fold exactly: integer sums are order-free)."""
    tot = cnt.agg(
        F.sum("ct").cast("long").alias("nt"),
        F.sum("cs").cast("long").alias("ns"),
    )
    rate = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        F.expr(
            f"cast(ct + 1 as decimal(38,0)) * (ns + {_DSIR_B})"
            f" * {_DSIR_GRID}"
            f" div (cast(cs + 1 as decimal(38,0)) * (nt + {_DSIR_B}))"
        ).cast("long").alias("r"),
    )
    return (
        bb.join(F.broadcast(rate), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(F.expr("cast(r as decimal(38,0))")).alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("s div n_bigrams").cast("long").alias("mean_importance_fp"),
        )
    )


@register(
    "dsir_importance_weights_stream",
    _DSIR_SQL,
    doc="dsir_importance_weights with its hashed-bigram MODEL built by "
    "STRUCTURED STREAMING: each micro-batch of documents contributes "
    "(bucket, ct, cs) count partials folded through an integer-sum "
    "merge (order-free and exact — the same mergeable-statistic "
    "property as the temperature-mix twin), then the shared "
    "_dsir_tail prices the full corpus identically, so this entry "
    "shares the batch oracle SQL verbatim and the driver hash-checks "
    "a STREAMED importance-weight model. The realistic shape: the "
    "target/pool model accretes as corpus shards land; scoring is a "
    "batch pass against the current model.",
)
def dsir_importance_weights_stream(spark, sf_dir):
    import shutil

    from scip_spark.functions.sketch_queries import (
        _split_to_tmp,
        _stream_fold,
    )

    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text", "source")
    tmp = _split_to_tmp(docs, key="doc_id")
    try:
        cnt = _stream_fold(
            spark,
            tmp,
            "doc_id bigint, text string, source string",
            lambda bdf: _dsir_bb(bdf)
            .groupBy("b")
            .agg(
                F.sum(F.when(F.col("is_t"), 1).otherwise(0))
                .cast("long").alias("ct"),
                F.sum(F.when(F.col("is_t"), 0).otherwise(1))
                .cast("long").alias("cs"),
            ),
            lambda parts: parts.groupBy("b").agg(
                F.sum("ct").cast("long").alias("ct"),
                F.sum("cs").cast("long").alias("cs"),
            ),
            "b bigint, ct bigint, cs bigint",
            lambda df: [(r["b"], r["ct"], r["cs"]) for r in df.collect()],
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _dsir_tail(_dsir_bb(tbl(spark, sf_dir, "documents")), cnt)


# ---------------------------------------------------------------------------
# Published heuristic-rule bundles (Gopher / C4) — the standard first-pass
# document filters of a web-scale pretraining pipeline. Every rule is
# integer cross-multiplication (never a float ratio), so both engines
# agree bit-exactly and the flags hash-match.
# ---------------------------------------------------------------------------

#: Gopher rule-set stopwords (Rae et al. 2021, table A1): a doc must
#: contain at least 2 distinct words from this set.
_GOPHER_STOP = ["the", "be", "to", "of", "and", "that", "have", "with"]

_GOPHER_SQL = f"""
    WITH t AS (
      SELECT doc_id,
             COALESCE(text, '') AS text,
             {_SQL_TOKS.replace("text", "COALESCE(text, '')")} AS toks,
             string_split(COALESCE(text, ''), chr(10)) AS lines
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
               AS sum_len,
             CAST(len(list_filter(toks,
                  x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
               AS n_alpha,
             CAST(len(list_intersect(list_transform(toks, x -> lower(x)),
                  {_GOPHER_STOP!r})) AS BIGINT) AS n_stop,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
               + CAST((length(text) - length(replace(text, '...', ''))) // 3
                      AS BIGINT)
               + CAST(length(text) - length(replace(text, '…', '')) AS BIGINT)
               AS n_sym,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines,
                  l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '• %'))
               AS BIGINT) AS n_bullet,
             CAST(len(list_filter(lines,
                  l -> l LIKE '%...' OR l LIKE '%…')) AS BIGINT) AS n_ell
      FROM t
    )
    SELECT doc_id, n_words, sum_len, n_alpha, n_stop, n_sym,
           (n_words BETWEEN 50 AND 100000) AS f_word_count,
           (3 * n_words <= sum_len AND sum_len <= 10 * n_words)
             AS f_mean_word_len,
           (10 * n_sym < n_words) AS f_symbol_ratio,
           (5 * n_alpha > 4 * n_words) AS f_alpha_words,
           (n_stop >= 2) AS f_stopwords,
           (10 * n_bullet < 9 * n_lines) AS f_bullet_lines,
           (10 * n_ell < 3 * n_lines) AS f_ellipsis_lines,
           ((n_words BETWEEN 50 AND 100000)
            AND 3 * n_words <= sum_len AND sum_len <= 10 * n_words
            AND 10 * n_sym < n_words
            AND 5 * n_alpha > 4 * n_words
            AND n_stop >= 2
            AND 10 * n_bullet < 9 * n_lines
            AND 10 * n_ell < 3 * n_lines) AS keep
    FROM c ORDER BY doc_id
    """


def _occurrences(text, needle: str):
    """Exact count of non-overlapping ``needle`` occurrences — the
    length-difference identity (both engines replace greedily
    left-to-right, so counts agree exactly)."""
    gone = F.length(text) - F.length(F.replace(text, F.lit(needle)))
    return (gone / len(needle)).cast("long")


@register(
    "quality_gopher_rules",
    _GOPHER_SQL,
    doc="the Gopher heuristic rule bundle (Rae et al. 2021 table A1 — "
    "the standard web-scale first-pass filter, also the skeleton of "
    "RefinedWeb/FineWeb filtering): word-count bounds, mean word "
    "length in [3,10], symbol-to-word ratio (#/ellipsis) < 0.1, >80% "
    "words alphabetic, >=2 distinct required stopwords, <90% bullet "
    "lines, <30% ellipsis-ended lines. Every threshold is an integer "
    "CROSS-MULTIPLICATION (10*n_sym < n_words, never a float "
    "division), so flags hash-match cross-engine with no ulp traps "
    "and no div-by-zero on empty docs. Scale shape: one scan, pure "
    "per-row column algebra inside whole-stage codegen — nothing "
    "shuffles at any corpus size (the same per-record filter stage as "
    "reference src/scip/masking/filters/__init__.py:21-38, lifted to "
    "document corpora).",
)
def quality_gopher_rules(spark, sf_dir):
    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    stop_arr = F.array(*[F.lit(w) for w in _GOPHER_STOP])
    staged = docs.select(
        "doc_id",
        "text",
        tokens("text").alias("toks"),
        F.split("text", "\n", -1).alias("lines"),
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        F.aggregate(
            "toks", F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("sum_len"),
        F.size(
            F.filter("toks", lambda x: x.rlike("[A-Za-z]"))
        ).cast("long").alias("n_alpha"),
        F.size(
            F.array_intersect(
                F.transform("toks", F.lower), stop_arr
            )
        ).cast("long").alias("n_stop"),
        (
            _occurrences(F.col("text"), "#")
            + _occurrences(F.col("text"), "...")
            + _occurrences(F.col("text"), "…")
        ).alias("n_sym"),
        F.size("lines").cast("long").alias("n_lines"),
        F.size(
            F.filter(
                "lines",
                lambda l: l.startswith("- ")
                | l.startswith("* ")
                | l.startswith("• "),
            )
        ).cast("long").alias("n_bullet"),
        F.size(
            F.filter(
                "lines", lambda l: l.endswith("...") | l.endswith("…")
            )
        ).cast("long").alias("n_ell"),
    )
    f_word = F.col("n_words").between(50, 100000)
    f_mlen = (3 * F.col("n_words") <= F.col("sum_len")) & (
        F.col("sum_len") <= 10 * F.col("n_words")
    )
    f_sym = 10 * F.col("n_sym") < F.col("n_words")
    f_alpha = 5 * F.col("n_alpha") > 4 * F.col("n_words")
    f_stop = F.col("n_stop") >= 2
    f_bullet = 10 * F.col("n_bullet") < 9 * F.col("n_lines")
    f_ell = 10 * F.col("n_ell") < 3 * F.col("n_lines")
    return staged.select(
        "doc_id", "n_words", "sum_len", "n_alpha", "n_stop", "n_sym",
        f_word.alias("f_word_count"),
        f_mlen.alias("f_mean_word_len"),
        f_sym.alias("f_symbol_ratio"),
        f_alpha.alias("f_alpha_words"),
        f_stop.alias("f_stopwords"),
        f_bullet.alias("f_bullet_lines"),
        f_ell.alias("f_ellipsis_lines"),
        (f_word & f_mlen & f_sym & f_alpha & f_stop & f_bullet & f_ell)
        .alias("keep"),
    )


_C4_SQL = """
    WITH t AS (
      SELECT doc_id, COALESCE(text, '') AS text,
             string_split(COALESCE(text, ''), chr(10)) AS lines
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines,
                  l -> (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?'
                        OR l LIKE '%"')
                   AND len(list_filter(string_split_regex(l, '\\s+'),
                           w -> w <> '')) >= 5)) AS BIGINT)
               AS n_retained_lines,
             CAST((length(text) - length(replace(text, '.', '')))
                + (length(text) - length(replace(text, '!', '')))
                + (length(text) - length(replace(text, '?', '')))
               AS BIGINT) AS n_sentences,
             contains(lower(text), 'lorem ipsum') AS has_lorem,
             contains(text, '{') AS has_brace,
             contains(lower(text), 'javascript') AS has_js
      FROM t
    )
    SELECT doc_id, n_lines, n_retained_lines, n_sentences,
           has_lorem, has_brace, has_js,
           (n_sentences >= 3 AND n_retained_lines >= 1
            AND NOT has_lorem AND NOT has_brace AND NOT has_js) AS keep
    FROM c ORDER BY doc_id
    """


@register(
    "quality_c4_filters",
    _C4_SQL,
    doc="the C4 cleaning heuristics (Raffel et al. 2020 §2.2): retain "
    "only lines ending in terminal punctuation with >= 5 words, drop "
    "pages with < 3 sentences, any 'lorem ipsum', a curly brace, or "
    "'javascript'. All counts are exact integers (punctuation counts "
    "via the length-difference identity; line retention via one "
    "nested HOF pass), keep is pure boolean algebra over them — "
    "hash-matched cross-engine. Scale shape: one scan, per-row "
    "column algebra, zero shuffle at any corpus size.",
)
def quality_c4_filters(spark, sf_dir):
    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    line_words = lambda l: F.size(  # noqa: E731
        F.filter(F.split(l, r"\s+", -1), lambda w: w != "")
    )
    staged = docs.select(
        "doc_id",
        "text",
        F.split("text", "\n", -1).alias("lines"),
    ).select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.size(
            F.filter(
                "lines",
                lambda l: (
                    l.endswith(".")
                    | l.endswith("!")
                    | l.endswith("?")
                    | l.endswith('"')
                )
                & (line_words(l) >= 5),
            )
        ).cast("long").alias("n_retained_lines"),
        (
            _occurrences(F.col("text"), ".")
            + _occurrences(F.col("text"), "!")
            + _occurrences(F.col("text"), "?")
        ).alias("n_sentences"),
        F.contains(F.lower("text"), F.lit("lorem ipsum")).alias("has_lorem"),
        F.contains(F.col("text"), F.lit("{")).alias("has_brace"),
        F.contains(F.lower("text"), F.lit("javascript")).alias("has_js"),
    )
    return staged.select(
        "doc_id", "n_lines", "n_retained_lines", "n_sentences",
        "has_lorem", "has_brace", "has_js",
        (
            (F.col("n_sentences") >= 3)
            & (F.col("n_retained_lines") >= 1)
            & ~F.col("has_lorem")
            & ~F.col("has_brace")
            & ~F.col("has_js")
        ).alias("keep"),
    )


_SB_GRID = 1 << 20

_SB_SQL = f"""
    WITH tokenized AS (
      SELECT doc_id, {_SQL_TOKS} AS toks, doc_id % 10 < 8 AS is_train
      FROM documents
    ),
    tri_t AS (SELECT unnest({_sql_ngrams(3)}) AS tg FROM tokenized WHERE is_train),
    bi_t  AS (SELECT unnest({_sql_ngrams(2)}) AS bg FROM tokenized WHERE is_train),
    uni_t AS (SELECT unnest(toks) AS w FROM tokenized WHERE is_train),
    c3 AS (SELECT tg, CAST(COUNT(*) AS BIGINT) AS c3 FROM tri_t GROUP BY 1),
    c12 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi_t GROUP BY 1),
    cu AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM uni_t GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni_t),
    ev AS (
      SELECT doc_id, unnest({_sql_ngrams(3)}) AS tg
      FROM tokenized WHERE NOT is_train
    ),
    evd AS (
      SELECT tg,
             concat_ws(' ', split_part(tg, ' ', 1), split_part(tg, ' ', 2))
               AS ctx12,
             concat_ws(' ', split_part(tg, ' ', 2), split_part(tg, ' ', 3))
               AS bg23,
             split_part(tg, ' ', 2) AS w2,
             split_part(tg, ' ', 3) AS w3
      FROM (SELECT DISTINCT tg FROM ev)
    ),
    rate AS (
      SELECT e.tg,
             CASE WHEN t.c3 IS NOT NULL
                    THEN t.c3 * {_SB_GRID} // b12.c12
                  WHEN b23.c12 IS NOT NULL
                    THEN 2 * b23.c12 * {_SB_GRID} // (5 * u2.cu)
                  WHEN u3.cu IS NOT NULL
                    THEN 4 * u3.cu * {_SB_GRID} // (25 * nn.n)
                  ELSE 0 END AS s,
             CASE WHEN t.c3 IS NOT NULL THEN 0
                  WHEN b23.c12 IS NOT NULL THEN 1
                  WHEN u3.cu IS NOT NULL THEN 2
                  ELSE 3 END AS lvl
      FROM evd e
      LEFT JOIN c3 t ON e.tg = t.tg
      LEFT JOIN c12 b12 ON e.ctx12 = b12.bg
      LEFT JOIN c12 b23 ON e.bg23 = b23.bg
      LEFT JOIN cu u2 ON e.w2 = u2.w
      LEFT JOIN cu u3 ON e.w3 = u3.w, nn
    )
    SELECT v.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(SUM(r.s) AS BIGINT) AS score_fp,
           CAST(SUM(CASE WHEN r.lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
           CAST(SUM(CASE WHEN r.lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
           CAST(SUM(CASE WHEN r.lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
           CAST(SUM(CASE WHEN r.lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
    FROM ev v JOIN rate r USING (tg)
    GROUP BY 1 ORDER BY 1
    """


@register(
    "trigram_backoff_scores",
    _SB_SQL,
    doc="stupid-backoff trigram LM scoring (Brants et al. 2007 — the "
    "web-scale LM that skips normalization): eval docs (doc_id%10>=8) "
    "scored under a model counted from train docs, so unseen "
    "trigrams/bigrams genuinely back off (trigram MLE -> 0.4 x bigram "
    "-> 0.4^2 x unigram -> 0), with per-doc counts of each backoff "
    "level. All-rational fixed point on the 2^20 grid with 0.4 = 2/5 "
    "(c3*G div c12; 2*c23*G div (5*c2); 4*cu*G div (25*N)) — integer "
    "division hash-matches cross-engine where libm log/pow cannot. "
    "Scale shape: model counts are map-side-combined aggs over the "
    "train partition; pricing joins touch only the DISTINCT eval "
    "trigram relation (vocab-bounded), then one join on tg prices "
    "each occurrence — the bigram_surprisal_scores plan one order up.",
)
def trigram_backoff_scores(spark, sf_dir):
    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id",
        tokens("text").alias("toks"),
        (F.col("doc_id") % 10 < 8).alias("is_train"),
    )
    train = docs.filter("is_train")

    # explode_nonnull on every computed-array explode: plain explode
    # triggers InferFiltersFromGenerate, substituting the
    # tokenize→zip_with gram chain into scan-level Filters once per
    # consumer (5 consumers here; 14 tokenizer copies in the optimized
    # plan before, 8 after — r15). Wall at sf0.1 is unchanged (the
    # query is bounded by its five scan branches' job/stage floor, not
    # per-row CPU); the recompute removal is what matters on real
    # documents, where one tokenize pass is not ~0.1 s but the scan's
    # dominant cost.
    c3 = (
        explode_nonnull(train, _ngram_col(3), "tg")
        .groupBy("tg").agg(F.count("*").cast("long").alias("c3"))
    )
    c12 = (
        explode_nonnull(train, _ngram_col(2), "bg")
        .groupBy("bg").agg(F.count("*").cast("long").alias("c12"))
    )
    cu = (
        explode_nonnull(train, F.col("toks"), "w")
        .groupBy("w").agg(F.count("*").cast("long").alias("cu"))
    )
    nn = explode_nonnull(train, F.col("toks"), "w").agg(
        F.count("*").cast("long").alias("n")
    )
    ev = explode_nonnull(
        docs.filter(~F.col("is_train")), _ngram_col(3), "tg",
        keep=("doc_id",),
    )
    evd = ev.select("tg").distinct().select(
        "tg",
        F.concat_ws(
            " ", F.substring_index("tg", " ", 1),
            F.element_at(F.split("tg", " "), 2),
        ).alias("ctx12"),
        F.substring_index("tg", " ", -2).alias("bg23"),
        F.element_at(F.split("tg", " "), 2).alias("w2"),
        F.element_at(F.split("tg", " "), 3).alias("w3"),
    )
    rate = (
        evd.join(c3, "tg", "left")
        .join(c12.withColumnRenamed("bg", "ctx12").withColumnRenamed("c12", "cc12"), "ctx12", "left")
        .join(c12.withColumnRenamed("bg", "bg23").withColumnRenamed("c12", "cc23"), "bg23", "left")
        .join(cu.withColumnRenamed("w", "w2").withColumnRenamed("cu", "cu2"), "w2", "left")
        .join(cu.withColumnRenamed("w", "w3").withColumnRenamed("cu", "cu3"), "w3", "left")
        .crossJoin(F.broadcast(nn))
        .select(
            "tg",
            F.expr(
                f"""CASE WHEN c3 IS NOT NULL
                          THEN c3 * {_SB_GRID}L div cc12
                        WHEN cc23 IS NOT NULL
                          THEN 2 * cc23 * {_SB_GRID}L div (5 * cu2)
                        WHEN cu3 IS NOT NULL
                          THEN 4 * cu3 * {_SB_GRID}L div (25 * n)
                        ELSE 0 END"""
            ).alias("s"),
            F.expr(
                """CASE WHEN c3 IS NOT NULL THEN 0
                        WHEN cc23 IS NOT NULL THEN 1
                        WHEN cu3 IS NOT NULL THEN 2
                        ELSE 3 END"""
            ).alias("lvl"),
        )
    )
    return (
        ev.join(rate, "tg")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            F.sum("s").cast("long").alias("score_fp"),
            F.sum(F.when(F.col("lvl") == 0, 1).otherwise(0)).cast("long").alias("n_tri"),
            F.sum(F.when(F.col("lvl") == 1, 1).otherwise(0)).cast("long").alias("n_bi"),
            F.sum(F.when(F.col("lvl") == 2, 1).otherwise(0)).cast("long").alias("n_uni"),
            F.sum(F.when(F.col("lvl") == 3, 1).otherwise(0)).cast("long").alias("n_oov"),
        )
    )


_CAL_W = 8     # equi-width score-bucket width (tokens)
_CAL_MAXB = 255


@register(
    "quality_score_calibration",
    f"""
    WITH s AS (
      SELECT doc_id, source,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS t
      FROM documents
    ),
    b AS (
      SELECT doc_id, source, t,
             LEAST(t // {_CAL_W}, {_CAL_MAXB}) AS bkt
      FROM s
    ),
    hist AS (
      SELECT source, bkt, CAST(COUNT(*) AS BIGINT) AS c
      FROM b GROUP BY 1, 2
    ),
    cdf AS (
      SELECT source, bkt,
             SUM(c) OVER (PARTITION BY source ORDER BY bkt
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(c) OVER (PARTITION BY source) AS n
      FROM hist
    )
    SELECT b.doc_id, b.source, b.t,
           CAST(cdf.cum * 1048576 // cdf.n AS BIGINT) AS cdf_fp
    FROM b JOIN cdf USING (source, bkt)
    ORDER BY b.doc_id
    """,
    doc="per-source score CALIBRATION via histogram CDF — the "
    "cross-source normalization a curation pipeline applies before "
    "one global quality threshold (raw scores aren't comparable "
    "across crawls/domains): each doc maps to its source-conditional "
    "CDF value P(score <= mine | source) on the 2^20 grid, computed "
    "from an equi-width bucket histogram. The scalable formulation: "
    "a per-source RANK window would put one reducer per source (G "
    "partitions over 100 TB — a skew killer); the histogram CDF "
    "map-side-combines to <= G x 256 cells, the cumulative window "
    "runs over that BOUNDED relation, and docs get their value by a "
    "broadcast join — the corpus never shuffles.",
)
def quality_score_calibration(spark, sf_dir):
    b = _cal_bucketed(tbl(spark, sf_dir, "documents"))
    hist = b.groupBy("source", "bkt").agg(F.count("*").cast("long").alias("c"))
    return _cal_tail(b, hist)


def _cal_bucketed(docs):
    """(doc_id, source, t, bkt) — the equi-width score-bucket
    assignment; the histogram over it is the mergeable statistic
    (integer cell counts fold exactly across any corpus partition)."""
    return docs.select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("long").alias("t"),
    ).select(
        "doc_id",
        "source",
        "t",
        F.least(F.expr(f"t div {_CAL_W}"), F.lit(_CAL_MAXB)).alias("bkt"),
    )


def _cal_tail(b, hist):
    """CDF pricing over a folded histogram — shared by the batch op
    and its streaming twin."""
    cum_w = (
        W.partitionBy("source")
        .orderBy("bkt")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tot_w = W.partitionBy("source")
    cdf = hist.select(
        "source",
        "bkt",
        F.sum("c").over(cum_w).alias("cum"),
        F.sum("c").over(tot_w).alias("n"),
    )
    return (
        b.join(F.broadcast(cdf), ["source", "bkt"])
        .select(
            "doc_id",
            "source",
            "t",
            F.expr("cum * 1048576L div n").cast("long").alias("cdf_fp"),
        )
    )


@register(
    "quality_score_calibration_stream",
    None,
    share_sql_with="quality_score_calibration",  # value-identical twin
    doc="quality_score_calibration with its per-source histogram built "
    "by STRUCTURED STREAMING (13th driver-hash-checked streaming "
    "entry): each micro-batch contributes (source, bkt, c) cell-count "
    "partials folded through an integer-sum merge (order-free and "
    "exact), then the shared _cal_tail prices the identical CDF — the "
    "realistic shape: calibration histograms accrete per ingestion "
    "batch, scoring joins against the current folded cells.",
)
def quality_score_calibration_stream(spark, sf_dir):
    import shutil

    from scip_spark.functions.sketch_queries import (
        _split_to_tmp,
        _stream_fold,
    )

    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    tmp = _split_to_tmp(docs, key="doc_id")
    try:
        hist = _stream_fold(
            spark,
            tmp,
            "doc_id bigint, source string, text string",
            lambda bdf: _cal_bucketed(bdf)
            .groupBy("source", "bkt")
            .agg(F.count("*").cast("long").alias("c")),
            lambda parts: parts.groupBy("source", "bkt").agg(
                F.sum("c").cast("long").alias("c")
            ),
            "source string, bkt bigint, c bigint",
            lambda df: [(r["source"], r["bkt"], r["c"]) for r in df.collect()],
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _cal_tail(_cal_bucketed(tbl(spark, sf_dir, "documents")), hist)


def _run_char_stats(arr):
    """Char-weighted per-ROW duplicate statistics of a gram array
    (same sorted-run fold as :func:`_run_stats`, weights =
    ``length(gram)`` including separator spaces — the definition both
    engines share): struct(top = max over runs of run_count *
    length(gram), dup = sum over runs with count >= 2, tot = sum over
    all occurrences). Zero shuffle; O(n log n) per row."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("top"),
        F.lit(0).cast("long").alias("dup"),
        F.lit(0).cast("long").alias("tot"),
    )

    def closed(acc):
        # null-safe: before any run exists prev is NULL and w must be
        # 0, not NULL (length(NULL) would poison every later fold step)
        w = F.when(
            acc["prev"].isNotNull(),
            acc["run"] * F.length(acc["prev"]).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        return (
            F.greatest(acc["top"], w),
            acc["dup"]
            + F.when(acc["run"] > 1, w).otherwise(F.lit(0).cast("long")),
            acc["tot"] + w,
        )

    def step(acc, x):
        same = acc["prev"].isNotNull() & (acc["prev"] == x)
        t, d, s = closed(acc)
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, acc["top"]).otherwise(t).alias("top"),
            F.when(same, acc["dup"]).otherwise(d).alias("dup"),
            F.when(same, acc["tot"]).otherwise(s).alias("tot"),
        )

    def finish(acc):
        t, d, s = closed(acc)
        return F.struct(
            F.when(acc["prev"].isNull(), F.lit(0).cast("long"))
            .otherwise(t).alias("top"),
            F.when(acc["prev"].isNull(), F.lit(0).cast("long"))
            .otherwise(d).alias("dup"),
            F.when(acc["prev"].isNull(), F.lit(0).cast("long"))
            .otherwise(s).alias("tot"),
        )

    return F.aggregate(F.array_sort(arr), init, step, finish)


#: Gopher repetition thresholds (Rae et al. 2021 table A1), x100:
#: top n-gram char fraction for n=2..4, duplicate n-gram char fraction
#: for n=5..10, duplicate line count/char fractions.
_REP_TOP = {2: 20, 3: 18, 4: 16}
_REP_DUP = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}


def _rep_rules_sql() -> str:
    ctes, outs, flags = [], [], []
    for n in sorted(_REP_TOP):
        thr = _REP_TOP[n]
        ctes.append(
            f"""g{n} AS (
      SELECT doc_id, g, COUNT(*) AS c
      FROM tokenized, unnest({_sql_ngrams(n)}) AS u(g)
      GROUP BY doc_id, g
    ),
    s{n} AS (
      SELECT doc_id,
             COALESCE(MAX(c * length(g)), 0) AS top,
             COALESCE(SUM(c * length(g)), 0) AS tot
      FROM g{n} GROUP BY doc_id
    )"""
        )
        # COALESCE: a doc shorter than n tokens has no s{n} row after
        # the LEFT JOIN — it must pass the rule (Spark folds the empty
        # gram array to top=dup=tot=0), not go NULL
        outs.append(
            f"CAST(CASE WHEN COALESCE(s{n}.tot, 0) > 0"
            f" THEN s{n}.top * 1048576 // s{n}.tot"
            f" ELSE 0 END AS BIGINT) AS top{n}_fp"
        )
        flags.append(
            f"(COALESCE(s{n}.top, 0) * 100 <= {thr} * COALESCE(s{n}.tot, 0))"
            f" AS f_top{n}"
        )
    for n in sorted(_REP_DUP):
        thr = _REP_DUP[n]
        ctes.append(
            f"""g{n} AS (
      SELECT doc_id, g, COUNT(*) AS c
      FROM tokenized, unnest({_sql_ngrams(n)}) AS u(g)
      GROUP BY doc_id, g
    ),
    s{n} AS (
      SELECT doc_id,
             COALESCE(SUM(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END), 0) AS dup,
             COALESCE(SUM(c * length(g)), 0) AS tot
      FROM g{n} GROUP BY doc_id
    )"""
        )
        outs.append(
            f"CAST(CASE WHEN COALESCE(s{n}.tot, 0) > 0"
            f" THEN s{n}.dup * 1048576 // s{n}.tot"
            f" ELSE 0 END AS BIGINT) AS dup{n}_fp"
        )
        flags.append(
            f"(COALESCE(s{n}.dup, 0) * 100 <= {thr} * COALESCE(s{n}.tot, 0))"
            f" AS f_dup{n}"
        )
    joins = " ".join(f"LEFT JOIN s{n} USING (doc_id)" for n in
                     sorted(_REP_TOP) + sorted(_REP_DUP))
    keep = " AND ".join(f.split(" AS ")[0] for f in flags)
    keep_line = ("(l.dupc * 10 <= 3 * l.nl AND l.dupw * 100 <= 20 * l.totw)")
    return f"""
    WITH tokenized AS (
      SELECT doc_id, {_SQL_TOKS.replace("text", "COALESCE(text, '')")} AS toks,
             string_split(COALESCE(text, ''), chr(10)) AS lines
      FROM documents
    ),
    lc AS (
      SELECT doc_id, l, COUNT(*) AS c
      FROM tokenized, unnest(lines) AS u(l)
      GROUP BY doc_id, l
    ),
    l AS (
      SELECT doc_id,
             COALESCE(SUM(CASE WHEN c > 1 THEN c ELSE 0 END), 0) AS dupc,
             COALESCE(SUM(c), 0) AS nl,
             COALESCE(SUM(CASE WHEN c > 1 THEN c * length(l) ELSE 0 END), 0) AS dupw,
             COALESCE(SUM(c * length(l)), 0) AS totw
      FROM lc GROUP BY doc_id
    ),
    {', '.join(ctes)}
    SELECT tokenized.doc_id,
           CAST(l.dupc AS BIGINT) AS dup_lines,
           CAST(l.nl AS BIGINT) AS n_lines,
           {', '.join(outs)},
           {', '.join(flags)},
           ({keep_line}) AS f_lines,
           ({keep} AND {keep_line}) AS keep
    FROM tokenized LEFT JOIN l USING (doc_id) {joins}
    ORDER BY doc_id
    """


_REP_NS = sorted(list(_REP_TOP) + list(_REP_DUP))

_REP_KERNEL_SCHEMA = (
    "doc_id long, nl long, lr_dup long, ls_dup long, ls_tot long, "
    + ", ".join(f"s{n}_top long, s{n}_dup long, s{n}_tot long" for n in _REP_NS)
)


def _rep_stats_kernel(batches):
    """Arrow-batched twin of the nine `_run_char_stats` Catalyst folds
    (r12 VERDICT #5: the folds re-sorted nine gram arrays per document
    and cost 21 s / 16%% of the bench headline; one linear pass here
    computes all levels at once). Semantics are bit-identical to the
    fold path, pinned by test_quality.py::test_repetition_kernel_
    matches_catalyst_fold: tokens = ASCII-\\s+ split minus empties
    (Java regex \\s is ASCII-only — re.ASCII mirrors it), gram key =
    the token-id window (join-with-space is injective since tokens
    contain no whitespace), gram char weight = prefix-sum window + n-1
    separators."""
    import re as _re
    from collections import Counter

    ws = _re.compile(r"\s+", _re.ASCII)
    for pdf in batches:
        n_rows = len(pdf)
        out = {c: [0] * n_rows for c in
               ["nl", "lr_dup", "ls_dup", "ls_tot"]
               + [f"s{n}_{k}" for n in _REP_NS for k in ("top", "dup", "tot")]}
        for r, text in enumerate(pdf["text"]):
            t = text if isinstance(text, str) else ""
            # line stats: count-weighted dup (lr) + char-weighted (ls)
            lines = t.split("\n")
            lc = Counter(lines)
            out["nl"][r] = len(lines)
            out["lr_dup"][r] = sum(c for c in lc.values() if c > 1)
            out["ls_dup"][r] = sum(
                c * len(x) for x, c in lc.items() if c > 1
            )
            out["ls_tot"][r] = sum(c * len(x) for x, c in lc.items())
            toks = [x for x in ws.split(t) if x]
            # token-id encoding + char-length prefix sums: gram weight
            # in O(1), gram identity as a small int tuple
            tokmap: dict[str, int] = {}
            ids = [tokmap.setdefault(x, len(tokmap)) for x in toks]
            pre = [0]
            for x in toks:
                pre.append(pre[-1] + len(x))
            for n in _REP_NS:
                m = len(ids) - n + 1
                if m <= 0:
                    continue  # absent level: top=dup=tot=0 (passes)
                cnt: dict[tuple, int] = {}
                first_pos: dict[tuple, int] = {}
                for i in range(m):
                    g = tuple(ids[i : i + n])
                    c = cnt.get(g)
                    if c is None:
                        cnt[g] = 1
                        first_pos[g] = i
                    else:
                        cnt[g] = c + 1
                top = dup = tot = 0
                for g, c in cnt.items():
                    i = first_pos[g]
                    w = pre[i + n] - pre[i] + (n - 1)
                    cw = c * w
                    tot += cw
                    if cw > top:
                        top = cw
                    if c > 1:
                        dup += cw
                out[f"s{n}_top"][r] = top
                out[f"s{n}_dup"][r] = dup
                out[f"s{n}_tot"][r] = tot
        res = pdf[["doc_id"]].copy()
        for c, vals in out.items():
            res[c] = vals
        yield res


def _rep_rules_flags(stats):
    """Shared flag algebra over the per-doc stats relation (flat
    s{n}_top/dup/tot + nl/lr_dup/ls_dup/ls_tot columns) — used by both
    the Arrow kernel path (registry) and the Catalyst fold path (the
    A/B twin kept for parity testing)."""
    cols = [
        "doc_id",
        F.col("lr_dup").alias("dup_lines"),
        F.col("nl").alias("n_lines"),
    ]
    keep = None
    for n, thr in sorted(_REP_TOP.items()):
        cols.append(
            F.when(
                F.col(f"s{n}_tot") > 0,
                F.expr(f"s{n}_top * 1048576L div s{n}_tot"),
            ).otherwise(F.lit(0)).cast("long").alias(f"top{n}_fp")
        )
        f = F.col(f"s{n}_top") * 100 <= thr * F.col(f"s{n}_tot")
        cols.append(f.alias(f"f_top{n}"))
        keep = f if keep is None else (keep & f)
    for n, thr in sorted(_REP_DUP.items()):
        cols.append(
            F.when(
                F.col(f"s{n}_tot") > 0,
                F.expr(f"s{n}_dup * 1048576L div s{n}_tot"),
            ).otherwise(F.lit(0)).cast("long").alias(f"dup{n}_fp")
        )
        f = F.col(f"s{n}_dup") * 100 <= thr * F.col(f"s{n}_tot")
        cols.append(f.alias(f"f_dup{n}"))
        keep = keep & f
    f_lines = (F.col("lr_dup") * 10 <= 3 * F.col("nl")) & (
        F.col("ls_dup") * 100 <= 20 * F.col("ls_tot")
    )
    cols.append(f_lines.alias("f_lines"))
    cols.append((keep & f_lines).alias("keep"))
    return stats.select(*cols)


def _rep_stats_fold(spark, sf_dir):
    """Catalyst-fold twin of `_rep_stats_kernel` (the pre-r13 plan):
    nine sorted-run char-weighted folds per row. Kept for the parity
    test and as the no-Python fallback; ~6× slower at sf0.1."""
    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id",
        tokens(F.coalesce("text", F.lit(""))).alias("toks"),
        F.split(F.coalesce("text", F.lit("")), "\n", -1).alias("lines"),
    )
    gram_cols = {n: _ngram_col(n).alias(f"a{n}") for n in _REP_NS}
    staged = docs.select("doc_id", "lines", *gram_cols.values())
    return staged.select(
        "doc_id",
        F.size("lines").cast("long").alias("nl"),
        _run_stats(F.col("lines"))["dup"].alias("lr_dup"),
        _run_char_stats(F.col("lines"))["dup"].alias("ls_dup"),
        _run_char_stats(F.col("lines"))["tot"].alias("ls_tot"),
        *[
            _run_char_stats(F.col(f"a{n}"))[k].alias(f"s{n}_{k}")
            for n in _REP_NS
            for k in ("top", "dup", "tot")
        ],
    )


@register(
    "quality_repetition_rules",
    _rep_rules_sql(),
    doc="the FULL Gopher repetition rule set (Rae et al. 2021 table "
    "A1, the half quality_gopher_rules doesn't cover): top n-gram "
    "character fraction for n=2..4 (thresholds 0.20/0.18/0.16), "
    "duplicate n-gram character fraction for n=5..10 "
    "(0.15..0.10), and duplicate-line count/char fractions "
    "(0.30/0.20). Char weight = length(gram) incl. separators — the "
    "one definition both engines share; every threshold an integer "
    "cross-multiplication on the x100 grid, fractions reported on "
    "2^20. Scale shape: all nine gram levels come from ONE linear "
    "Arrow-batched pass per document (_rep_stats_kernel — token-id "
    "windows + prefix-sum char weights; bit-parity with the Catalyst "
    "fold twin pinned in pytest) — nothing shuffles at any corpus "
    "size; the oracle's relational per-(doc,gram) GROUP BYs are the "
    "semantic twin, not the plan.",
)
def quality_repetition_rules(spark, sf_dir):
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    stats = docs.mapInPandas(_rep_stats_kernel, schema=_REP_KERNEL_SCHEMA)
    return _rep_rules_flags(stats)


#: demo policy blocklist (spam flavor) — the operator is the machinery;
#: a production pipeline swaps in its own list (e.g. LDNOOBW for C4).
_BLOCK_TOKENS = ["casino", "viagra", "xxx", "warez", "clickbait"]
_BLOCK_PHRASES = ["click here to win", "limited time offer", "wire transfer fee"]


@register(
    "quality_blocklist_filter",
    f"""
    WITH t AS (
      SELECT doc_id, COALESCE(text, '') AS text,
             {_SQL_TOKS.replace("text", "COALESCE(text, '')")} AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(toks,
                x -> list_contains({_BLOCK_TOKENS!r}, lower(x))))
             AS BIGINT) AS n_blocked_tokens,
           CAST({' + '.join(f"CASE WHEN contains(lower(text), '{p}') THEN 1 ELSE 0 END" for p in _BLOCK_PHRASES)}
             AS BIGINT) AS n_blocked_phrases,
           (len(list_filter(toks,
                x -> list_contains({_BLOCK_TOKENS!r}, lower(x)))) = 0
            AND NOT ({' OR '.join(f"contains(lower(text), '{p}')" for p in _BLOCK_PHRASES)}))
             AS keep
    FROM t ORDER BY doc_id
    """,
    doc="blocklist page filter (the C4 'bad words' component, shipped "
    "with a neutral spam-flavored demo list — production swaps in its "
    "own): per doc, the count of blocklisted TOKENS (exact lowercase "
    "token match — substring matching would flag innocent words) plus "
    "multi-word PHRASE hits via substring contains, keep = zero hits. "
    "Pure per-row column algebra against broadcast literal arrays — "
    "zero shuffle at any corpus size; integer counts hash-match "
    "cross-engine.",
)
def quality_blocklist_filter(spark, sf_dir):
    bl = F.array(*[F.lit(w) for w in _BLOCK_TOKENS])
    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    staged = docs.select(
        "doc_id",
        F.lower("text").alias("lo"),
        F.size(
            F.filter(
                tokens("text"), lambda x: F.array_contains(bl, F.lower(x))
            )
        ).cast("long").alias("n_blocked_tokens"),
    )
    phrase_hits = [
        F.contains(F.col("lo"), F.lit(p)) for p in _BLOCK_PHRASES
    ]
    n_phrases = sum(
        (F.when(h, 1).otherwise(0) for h in phrase_hits),
        F.lit(0),
    ).cast("long")
    any_phrase = phrase_hits[0]
    for h in phrase_hits[1:]:
        any_phrase = any_phrase | h
    return staged.select(
        "doc_id",
        "n_blocked_tokens",
        n_phrases.alias("n_blocked_phrases"),
        ((F.col("n_blocked_tokens") == 0) & ~any_phrase).alias("keep"),
    )
