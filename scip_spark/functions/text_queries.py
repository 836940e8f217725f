"""Oracle-paired queries for the text-analysis operators.

The DuckDB SQL for language-ID and stopword counts is *generated from
the same marker tables* as the Spark expressions, so the two engines
cannot drift.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from scip_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    fingerprint,
    lang_id,
)
from scip_spark.queries import register, tbl


def _sql_tokens(col: str = "text") -> str:
    return f"list_filter(string_split_regex({col}, '\\s+'), t -> t <> '')"


def _sql_stop_count(words: list[str]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"CAST(len(list_filter(toks, t -> list_contains({arr}, lower(t)))) AS BIGINT)"


_QUALITY_SQL = f"""
    WITH tokenized AS (
      SELECT doc_id, text, {_sql_tokens()} AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           {_sql_stop_count(STOPWORDS)} AS n_stopwords,
           CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_token_len,
           CAST({_sql_stop_count(STOPWORDS)} AS DOUBLE) / len(toks) AS stopword_ratio
    FROM tokenized
"""


@register("text_quality", _QUALITY_SQL, doc="quality scoring: length/punct/stopword ratios")
def text_quality(spark, sf_dir):
    """Closed-form per-row plan: tokenize ONCE behind a projection
    boundary (CollapseProject keeps a non-cheap alias referenced many
    times as a single evaluation), then every stat is array algebra
    over that column — no explode, no shuffle, no join. ~2x the
    throughput of the old explode+agg+join formulation, measured at
    sf0.1, and — unlike it — keeps zero-token docs, exactly matching
    the oracle's semantics."""
    from scip_spark.functions.scale import ensure_parallelism
    from scip_spark.functions.text import STOPWORDS, tokens

    docs = ensure_parallelism(tbl(spark, sf_dir, "documents"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    t = docs.select("doc_id", "text", tokens("text").alias("toks"))
    n_stop = F.size(
        F.filter("toks", lambda x: F.array_contains(stop_arr, F.lower(x)))
    )
    char_sum = F.aggregate("toks", F.lit(0), lambda acc, x: acc + F.length(x))
    return t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        n_stop.cast("long").alias("n_stopwords"),
        (
            F.length("text") - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
        ).cast("long").alias("n_punct"),
        (char_sum.cast("double") / F.size("toks")).alias("avg_token_len"),
        (n_stop.cast("double") / F.size("toks")).alias("stopword_ratio"),
    )


def _langid_sql() -> str:
    score_cols = ",\n           ".join(
        f"{_sql_stop_count(words)} AS s_{lang}" for lang, words in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    greatest = "GREATEST(" + ", ".join(f"s_{l}" for l in langs) + ")"
    # first language (in marker order) reaching the max wins, and NULL
    # text (NULL scores) is 'unknown' — the contract of text.lang_id
    whens = "\n                ".join(
        f"WHEN s_{l} = m THEN '{l}'" for l in langs
    )
    return f"""
    WITH tokenized AS (
      SELECT doc_id, lang, {_sql_tokens()} AS toks FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
           {score_cols}
      FROM tokenized
    ),
    best AS (
      SELECT *, {greatest} AS m FROM scored
    )
    SELECT doc_id, lang,
           CASE WHEN COALESCE(m, 0) <= 0 THEN 'unknown'
                {whens}
           END AS pred_lang
    FROM best
    """


@register("lang_id_heuristic", _langid_sql(), doc="n-gram/stopword heuristic language ID")
def lang_id_heuristic(spark, sf_dir):
    docs = tbl(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", lang_id("text").alias("pred_lang"))


@register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
    doc="rolling/content fingerprint via md5 of normalized text",
)
def doc_fingerprint(spark, sf_dir):
    docs = tbl(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


@register(
    "tf_idf",
    """
    WITH tok AS (
      SELECT doc_id, tokens[pos] AS term
      FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents) d,
           UNNEST(generate_series(1, len(tokens))) AS u(pos)
      WHERE tokens[pos] <> ''
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n_docs,
           round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    """,
    doc="TF-IDF over documents: exact tf/df counts, smoothed idf "
    "(tfidf rounded to 6dp; ln agrees within 1 ulp across runtimes)",
)
def tf_idf(spark, sf_dir):
    from scip_spark.functions.text import tokens as tok

    from scip_spark.functions.scale import ensure_parallelism

    docs = ensure_parallelism(tbl(spark, sf_dir, "documents"))
    t = docs.select("doc_id", F.explode(tok("text")).alias("term"))
    tf = t.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = t.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            "n_docs",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )


@register(
    "token_count_bpe",
    """
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT)
             AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_number_runs
    FROM documents
    """,
    doc="token counting: whitespace vs BPE-ish regex segmentation "
    "(letter runs / digit runs / single punctuation — engine-portable "
    "character classes only)",
)
def token_count_bpe(spark, sf_dir):
    from scip_spark.functions.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    nums = F.regexp_extract_all("text", F.lit(r"[0-9]+"), 0)
    return docs.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_ws_tokens"),
        F.size(bpe).cast("long").alias("n_bpe_tokens"),
        F.size(nums).cast("long").alias("n_number_runs"),
    )


def _corpus_clean_sql() -> str:
    """The composed training-data pipeline: quality floor → exact
    dedup keep-min-id. Every stage reuses the already-oracle-verified
    constructions above."""
    return f"""
    WITH tokenized AS (
      SELECT doc_id, text, {_sql_tokens()} AS toks FROM documents
    ),
    scored AS (
      SELECT doc_id, text,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             {_sql_stop_count(STOPWORDS)} AS n_stop
      FROM tokenized
    ),
    quality AS (
      SELECT doc_id, text, n_tokens
      FROM scored
      WHERE n_tokens >= 10
        AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.01
    ),
    deduped AS (
      SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
             MIN(doc_id) AS doc_id,
             COUNT(*) AS n_copies
      FROM quality
      GROUP BY 1
    )
    SELECT d.doc_id, d.fp, d.n_copies, q.n_tokens
    FROM deduped d JOIN quality q ON d.doc_id = q.doc_id
    """


@register(
    "corpus_clean",
    _corpus_clean_sql(),
    doc="composed training-data pipeline: token/stopword quality floor "
    "→ exact dedup keeping the min doc_id → kept-corpus manifest; "
    "one scan feeds quality + fingerprint, only 32-byte digests and "
    "counts shuffle",
)
def corpus_clean(spark, sf_dir):
    """ONE scan, ONE shuffle. Token and stopword counts are per-row
    array algebra (size/filter over the token array — no explode, no
    count-join back to the docs), and the surviving doc's n_tokens
    rides through the fingerprint groupBy via min_by(doc_id) instead
    of a second join. At 100 TB the only thing that ever shuffles is
    (fp, doc_id, n_tokens, partial count) — 48 bytes a row."""
    from scip_spark.functions.scale import ensure_parallelism
    from scip_spark.functions.text import STOPWORDS, fingerprint, tokens

    docs = ensure_parallelism(tbl(spark, sf_dir, "documents"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    toks = tokens("text")
    scored = docs.select(
        "doc_id",
        "text",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(
            F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t)))
        ).alias("n_stop"),
    )
    quality = scored.filter(
        (F.col("n_tokens") >= 10)
        & (F.col("n_stop").cast("double") / F.col("n_tokens") >= 0.01)
    )
    return (
        quality.select("doc_id", "n_tokens", fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("n_copies"),
            F.expr("min_by(n_tokens, doc_id)").alias("n_tokens"),
        )
        .select("doc_id", "fp", "n_copies", "n_tokens")
    )


_BM25_TERMS = ("spark", "window", "hash")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_sql(k: int = 20) -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    contrib_cols = " + ".join(
        f"coalesce(SUM(CASE WHEN token = '{t}' THEN contrib END), 0)"
        for t in _BM25_TERMS
    )
    return f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ts
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n, SUM(len(ts)) AS sum_dl FROM d),
    tf AS (
      SELECT doc_id, u.t AS token,
             CAST(COUNT(*) AS BIGINT) AS tf, ANY_VALUE(len(ts)) AS dl
      FROM d, unnest(ts) AS u(t)
      WHERE u.t IN ({terms})
      GROUP BY doc_id, u.t
    ),
    dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS dfc FROM tf GROUP BY token),
    c AS (
      -- every literal cast to DOUBLE: DuckDB otherwise parses 2.2 as
      -- DECIMAL and computes tf*2.2 EXACTLY, where Spark's double
      -- product rounds — a 1-ulp drift that breaks the value hash
      SELECT tf.doc_id, tf.token,
             round(ln(1 + ((SELECT n FROM stats) - dfc + CAST(0.5 AS DOUBLE))
                          / (dfc + CAST(0.5 AS DOUBLE))), 6)
             * (tf.tf * CAST(2.2 AS DOUBLE))
             / (tf.tf + CAST({_BM25_K1} AS DOUBLE)
                * (1 - CAST({_BM25_B} AS DOUBLE) + CAST({_BM25_B} AS DOUBLE) * tf.dl
                / (CAST((SELECT sum_dl FROM stats) AS DOUBLE)
                   / (SELECT n FROM stats)))) AS contrib
      FROM tf JOIN dfq USING (token)
    )
    SELECT doc_id, {contrib_cols} AS score
    FROM c GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT {k}
    """


@register(
    "bm25_topk",
    _bm25_sql(),
    doc="BM25 retrieval (k1=1.2, b=0.75) for a fixed query over the "
    "corpus: term stats are two tiny broadcast relations, per-doc "
    "scores sum pivoted per-term contributions in fixed expression "
    "order (engine-exact doubles; idf rounded at 1e-6 to absorb the "
    "cross-engine ln ulp), top-k is a TakeOrdered — the sparse "
    "retrieval path of a training-data pipeline",
)
def bm25_topk(spark, sf_dir, k: int = 20):
    from scip_spark.functions.text import tokens as tok_col

    docs = tbl(spark, sf_dir, "documents")
    d = docs.select("doc_id", tok_col("text").alias("ts"))
    stats = d.agg(
        F.count("*").alias("n"), F.sum(F.size("ts")).alias("sum_dl")
    )
    tf = (
        d.select("doc_id", F.size("ts").alias("dl"), F.explode("ts").alias("token"))
        .filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf"), F.first("dl").alias("dl"))
    )
    dfq = tf.groupBy("token").agg(F.count("*").cast("long").alias("dfc"))
    c = (
        tf.join(F.broadcast(dfq), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.round(
                F.log(
                    1
                    + (F.col("n") - F.col("dfc") + 0.5) / (F.col("dfc") + 0.5)
                ),
                6,
            )
            * (F.col("tf") * 2.2)
            / (
                F.col("tf")
                + _BM25_K1
                * (
                    1
                    - _BM25_B
                    + _BM25_B
                    * F.col("dl")
                    / (F.col("sum_dl").cast("double") / F.col("n"))
                )
            ),
        )
    )
    score = None
    for t in _BM25_TERMS:
        piece = F.coalesce(
            F.sum(F.when(F.col("token") == t, F.col("contrib"))), F.lit(0.0)
        )
        score = piece if score is None else score + piece
    return (
        c.groupBy("doc_id")
        .agg(score.alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )


_PHRASE = "slow hash batch"
_PHRASE_WORDS = _PHRASE.split()
_PHRASE_N = len(_PHRASE_WORDS)
_PHRASE_PRED = " AND ".join(
    f"toks[i + {off}] = '{w}'" for off, w in enumerate(_PHRASE_WORDS)
)


@register(
    "phrase_search_docs",
    f"""
    WITH tokenized AS (
      SELECT doc_id, {_sql_tokens()} AS toks FROM documents
    ),
    hits AS (
      SELECT doc_id,
             list_filter(
               CASE WHEN len(toks) >= {_PHRASE_N}
                    THEN generate_series(1, len(toks) - {_PHRASE_N - 1})
                    ELSE [] END,
               i -> {_PHRASE_PRED}
             ) AS pos
      FROM tokenized
    )
    SELECT doc_id,
           CAST(len(pos) AS BIGINT) AS n_matches,
           CAST(pos[1] AS BIGINT) AS first_pos
    FROM hits WHERE len(pos) > 0
    """,
    doc="exact consecutive-phrase search as ONE zero-shuffle corpus "
    "scan (per-row positional match in column algebra) — the Spark-"
    "first plan for a single probe; the oracle replays the identical "
    "position predicate in DuckDB",
)
def phrase_search_docs(spark, sf_dir):
    from scip_spark.functions.text import phrase_match_positions

    docs = tbl(spark, sf_dir, "documents")
    pos = phrase_match_positions("text", _PHRASE)
    return (
        docs.select("doc_id", pos.alias("pos"))
        .filter(F.size("pos") > 0)
        .select(
            "doc_id",
            F.size("pos").cast("long").alias("n_matches"),
            F.element_at("pos", 1).cast("long").alias("first_pos"),
        )
    )


_FH_SLOTS = 16
_FH_BUCKET = (
    "CAST(('0x' || substr(md5('fh-v1|' || t), 1, 12)) AS BIGINT) % " + str(_FH_SLOTS)
)


@register(
    "feature_hash_docs",
    f"""
    WITH tokenized AS (
      SELECT doc_id, {_sql_tokens()} AS toks FROM documents
    )
    SELECT doc_id, s.slot AS slot,
           CAST(len(list_filter(toks, t -> {_FH_BUCKET} = s.slot)) AS BIGINT) AS tf
    FROM tokenized, UNNEST(generate_series(0, {_FH_SLOTS - 1})) AS s(slot)
    """,
    doc="feature hashing (hashing-trick vectorization): md5-slotted "
    f"{_FH_SLOTS}-bin term-frequency vector per document, computed "
    "per-row in column algebra (zero shuffle — the fixed-width slot "
    "loop replaces an explode+groupBy) and emitted slot-wise; the "
    "md5 slot function reproduces bit-exactly in DuckDB",
)
def feature_hash_docs(spark, sf_dir):
    docs = tbl(spark, sf_dir, "documents")
    from scip_spark.functions.text import tokens

    def slot_of(t):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("fh-v1|"), t)), 1, 12), 16, 10
            ).cast("long")
            % _FH_SLOTS
        )

    # one md5 per token: pin the slot array behind a lambda scope
    # (transform over a singleton) so the 16-slot counting loop reads
    # precomputed slots instead of re-hashing every token per slot
    slot_arr = F.transform(tokens("text"), slot_of)
    vec = F.element_at(
        F.transform(
            F.array(slot_arr),
            lambda slots: F.transform(
                F.sequence(F.lit(0), F.lit(_FH_SLOTS - 1)),
                lambda s: F.size(
                    F.filter(slots, lambda x: x == s.cast("long"))
                ).cast("long"),
            ),
        ),
        1,
    )
    return docs.select(
        "doc_id", F.posexplode(vec).alias("slot", "tf")
    ).select("doc_id", F.col("slot").cast("long").alias("slot"), "tf")


@register(
    "vocab_novelty_by_batch",
    f"""
    WITH tok AS (
      SELECT DISTINCT doc_id // 100 AS batch, t.token
      FROM (SELECT doc_id, {_sql_tokens()} AS toks FROM documents) d,
           UNNEST(d.toks) AS t(token)
    ),
    first_seen AS (
      SELECT token, MIN(batch) AS first_batch FROM tok GROUP BY token
    )
    SELECT t.batch,
           CAST(COUNT(DISTINCT t.token) AS BIGINT) AS n_tokens_seen,
           CAST(SUM(CASE WHEN f.first_batch = t.batch THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new_tokens
    FROM tok t JOIN first_seen f ON t.token = f.token
    GROUP BY t.batch
    """,
    doc="vocabulary growth curve: per ingestion batch (doc_id DIV "
    "100), distinct tokens seen and tokens appearing for the FIRST "
    "time — the novelty signal a crawl-dedup pipeline monitors for "
    "saturation; two token-keyed aggregations, no data-scale windows",
)
def vocab_novelty_by_batch(spark, sf_dir):
    from scip_spark.functions.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    tok = docs.select(
        F.expr("doc_id DIV 100").alias("batch"),
        F.explode(tokens("text")).alias("token"),
    ).distinct()
    first_seen = tok.groupBy("token").agg(F.min("batch").alias("first_batch"))
    return (
        tok.join(first_seen, "token")
        .groupBy("batch")
        .agg(
            F.count_distinct("token").cast("long").alias("n_tokens_seen"),
            F.sum(
                F.when(F.col("first_batch") == F.col("batch"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_new_tokens"),
        )
    )


@register(
    "model_quality_scores",
    """
    SELECT doc_id,
           CAST(((length(COALESCE(text, '')) * 31
                  + len(list_filter(string_split_regex(COALESCE(text, ''), '\\s+'),
                                    x -> x <> '')) * 7)
                 % 1000) AS DOUBLE) / 1000.0 AS model_score,
           ((length(COALESCE(text, '')) * 31
             + len(list_filter(string_split_regex(COALESCE(text, ''), '\\s+'),
                               x -> x <> '')) * 7)
            % 1000) / 1000.0 >= CAST(0.5 AS DOUBLE) AS keep
    FROM documents
    """,
    doc="model-based quality filtering: batched mapInPandas scoring "
    "with a per-worker model cache (the classifier/LLM-judge seam — "
    "injectable model, CellPose-style); the default deterministic "
    "reference scorer is closed-form so the oracle replicates it "
    "bit-exactly, proving the batching/schema path end-to-end",
)
def model_quality_scores(spark, sf_dir):
    from scip_spark.functions.scoring import score_documents

    docs = tbl(spark, sf_dir, "documents")
    scored = score_documents(docs)
    return scored.select(
        "doc_id",
        "model_score",
        (F.col("model_score") >= 0.5).alias("keep"),
    )


_RRF_K = 60


def _hybrid_sql() -> str:
    from scip_spark.functions.similarity_queries import _DOT, _NORM

    dot = _DOT.format(a="c.emb", b="q.qe")
    nc = _NORM.format(a="c.emb")
    nq = _NORM.format(a="q.qe")
    return f"""
    WITH sparse AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank_s
      FROM ({_bm25_sql(20)})
    ),
    dense AS (
      SELECT c_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY sim DESC, c_id) AS rank_d
      FROM (
        SELECT c.vec_id AS c_id, {dot} / ({nq} * {nc}) AS sim
        FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) c,
             (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0) q
        WHERE c.vec_id <> 0
        ORDER BY sim DESC, c_id LIMIT 20
      )
    )
    SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
           COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + s.rank_s), 0)
           + COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + d.rank_d), 0) AS rrf
    FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 10
    """


@register(
    "hybrid_search_rrf",
    _hybrid_sql(),
    doc="hybrid retrieval: BM25 top-20 (sparse) + exact-cosine top-20 "
    "against doc 0's embedding (dense, doc_id aligned with vec_id in "
    "the synthetic tables) fused by reciprocal-rank fusion "
    "1/(60+rank) — the modern two-tower retrieval pattern; every "
    "rank is integer and the fusion is a fixed-order double chain, "
    "so the oracle reproduces it bit-exactly",
)
def hybrid_search_rrf(spark, sf_dir):
    from pyspark.sql.window import Window as W

    from scip_spark.functions.similarity import brute_force_topk

    sparse = bm25_topk(spark, sf_dir, k=20).withColumn(
        "rank_s",
        F.row_number().over(W.orderBy(F.desc("score"), F.asc("doc_id"))),
    ).select("doc_id", "rank_s")
    emb = tbl(spark, sf_dir, "embeddings")
    dense = brute_force_topk(
        emb.filter(F.col("vec_id") == 0), emb, k=20
    ).select(F.col("c_id").alias("doc_id"), F.col("rank").alias("rank_d"))
    fused = sparse.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(F.lit(1).cast("double") / (_RRF_K + F.col("rank_s")), F.lit(0.0))
            + F.coalesce(
                F.lit(1).cast("double") / (_RRF_K + F.col("rank_d")), F.lit(0.0)
            )
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(10)


@register(
    "bigram_merge_candidates",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
      FROM documents
    ),
    bigrams AS (
      SELECT t[i] AS left_tok, t[i + 1] AS right_tok
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 2
    )
    SELECT left_tok, right_tok, CAST(COUNT(*) AS BIGINT) AS n
    FROM bigrams
    GROUP BY left_tok, right_tok
    ORDER BY n DESC, left_tok, right_tok
    LIMIT 10
    """,
    doc="BPE-style merge-candidate statistics: the most frequent "
    "ADJACENT token pairs across the corpus — the counting step of one "
    "tokenizer-training merge iteration (word-level granularity), as a "
    "zero-join explode + one aggregation with a deterministic "
    "(n desc, pair) top-k",
)
def bigram_merge_candidates(spark, sf_dir):
    from scip_spark.functions.dedup import shingles_from
    from scip_spark.functions.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    # tokens staged as a bound attribute: an inline tokens() inside the
    # shingle lambda re-runs the tokenizer per bigram (no CSE in lambdas)
    bi = (
        docs.select(tokens("text").alias("_toks"))
        .select(F.explode(shingles_from("_toks", 2)).alias("bg"))
        .select(F.split("bg", " ").alias("p"))
    )
    return (
        bi.select(
            F.element_at("p", 1).alias("left_tok"),
            F.element_at("p", 2).alias("right_tok"),
        )
        .groupBy("left_tok", "right_tok")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("left_tok"), F.asc("right_tok"))
        .limit(10)
    )


@register(
    "bpe_compression",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
      FROM documents
    ),
    w AS (
      SELECT u.t AS word, COUNT(*) AS freq
      FROM toks, UNNEST(toks.t) AS u(t) GROUP BY u.t
    )
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
           CAST(SUM(freq * (length(word) + 1)) AS BIGINT) AS units_before,
           TRUE AS compresses
    FROM w
    """,
    doc="BPE end-to-end: train 8 merges on the word-frequency table "
    "(driver-looped like kmeans_embeddings — each merge is one groupBy "
    "over the VOCAB-sized table, the corpus is scanned once), then "
    "measure corpus token units before/after encoding. n_docs and the "
    "exact pre-merge unit count are hash-checked; the compression "
    "invariant (after < before, guaranteed when any merge was learned) "
    "is the oracle-checkable witness for the data-dependent merge list",
)
def bpe_compression(spark, sf_dir):
    from scip_spark.functions.bpe import bpe_encode, bpe_train, word_freq_table

    docs = tbl(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=8)
    wf = word_freq_table(docs)
    bm = spark.sparkContext.broadcast(merges)

    # pandas UDF over the VOCAB-sized word table (not the corpus)
    @F.pandas_udf("int")
    def enc_len(words: pd.Series) -> pd.Series:
        return words.map(lambda w: len(bpe_encode(w, bm.value)))

    agg = wf.agg(
        F.sum(F.col("freq") * (F.length("w") + 1)).cast("long").alias("units_before"),
        F.sum(F.col("freq") * enc_len("w")).cast("long").alias("units_after"),
    )
    n_docs = docs.agg(F.count("*").cast("long").alias("n_docs"))
    return agg.crossJoin(F.broadcast(n_docs)).select(
        "n_docs",
        "units_before",
        (
            (F.col("units_after") < F.col("units_before")) | (F.lit(len(merges)) == 0)
        ).alias("compresses"),
    )
