"""Oracle-paired queries for the dedup operators.

The MinHash/SimHash constructions are md5-based so the DuckDB SQL —
generated from the same constants — reproduces them bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from scip_spark.functions import dedup
from scip_spark.functions.dedup import (
    N_BANDS,
    N_MINHASH,
    SIMHASH_BITS,
    lsh_candidate_pairs,
    minhash_table,
)
from scip_spark.queries import register, session_rel, tbl

_ROWS_PER_BAND = N_MINHASH // N_BANDS


def _shared_lsh_pairs(spark, sf_dir: str):
    """Session-shared MinHash-LSH candidate pairs over the documents
    table — eight registered operators (pair report, CC, cluster
    sizes/splits, triangle count, method agreement, leakage audit,
    keep-best) derive from this one relation; persisting the (id_a,
    id_b) output amortizes the signature pipeline + bucket shuffle
    across the whole session (same materialized-view reuse as the
    embedding family's shared candidate relation)."""
    return session_rel(
        spark,
        sf_dir,
        "doc_lsh_pairs",
        lambda: lsh_candidate_pairs(tbl(spark, sf_dir, "documents")),
    )


def _shared_doc_tokens(spark, sf_dir: str):
    """Session-shared distinct (sid, token) relation over documents —
    the input both exact set-similarity joins (setsim, containment)
    re-derive per call; ~116k tiny rows at sf0.1, and sharing it also
    makes the vocabulary-size dispatch probe (a limit-collect over the
    token document frequencies) a cached-scan job."""
    from scip_spark.functions.text import tokens as _tokens

    def build():
        return (
            tbl(spark, sf_dir, "documents")
            .select(
                F.col("doc_id").alias("sid"),
                F.explode(_tokens("text")).alias("token"),
            )
            .distinct()
        )

    return session_rel(spark, sf_dir, "doc_tok", build)


def _shared_components(spark, sf_dir: str):
    """Session-shared connected components over the shared LSH pairs:
    the iterative label propagation is O(diameter) Spark jobs — paying
    it once per session instead of once per consumer is the difference
    between 5 CC runs and 1 in a full registry sweep."""
    from scip_spark.functions.dedup import connected_components

    return session_rel(
        spark,
        sf_dir,
        "doc_lsh_cc",
        lambda: connected_components(_shared_lsh_pairs(spark, sf_dir)),
    )


_TOKS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"


@register(
    "dedup_exact",
    """
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_dups
    FROM documents
    GROUP BY 1
    """,
    doc="exact dedup via normalized-content hash-groupBy",
)
def dedup_exact(spark, sf_dir):
    return dedup.exact_dedup_groups(tbl(spark, sf_dir, "documents"))


def _minhash_sql(source: str = "documents") -> str:
    mh_cols = ",\n           ".join(
        f"list_aggregate(list_transform(hs, h -> substr(h, {4 * j + 1}, 4)), 'min') AS mh_{j}"
        for j in range(N_MINHASH)
    )
    band_cols = ",\n           ".join(
        "md5("
        + " || '|' || ".join(f"mh_{j}" for j in range(b * _ROWS_PER_BAND, (b + 1) * _ROWS_PER_BAND))
        + f") AS band_{b}"
        for b in range(N_BANDS)
    )
    return f"""
    WITH tokenized AS (
      SELECT doc_id, {_TOKS} AS toks FROM {source}
    ),
    shingled AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(generate_series(1, len(toks) - 2),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                  ELSE [] END AS sh
      FROM tokenized
    ),
    hashed AS (
      SELECT doc_id, list_transform(sh, s -> md5(s)) AS hs FROM shingled
    ),
    sigs AS (
      SELECT doc_id,
           {mh_cols}
      FROM hashed
    )
    SELECT doc_id,
           {band_cols}
    FROM sigs
    WHERE mh_0 IS NOT NULL
    """


@register(
    "dedup_minhash_signatures",
    _minhash_sql(),
    doc="MinHash signature + LSH band digests per document",
)
def dedup_minhash_signatures(spark, sf_dir):
    mh = minhash_table(tbl(spark, sf_dir, "documents"))
    return mh.select("doc_id", *[f"band_{i}" for i in range(N_BANDS)])


def _lsh_pairs_sql(source: str = "documents") -> str:
    """Mirrors lsh_candidate_pairs' hot-bucket semantics: all-pairs for
    buckets ≤ threshold, min-member star for oversized buckets."""
    bands_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, {i} AS band_idx, band_{i} AS digest FROM sigs"
        for i in range(N_BANDS)
    )
    t = dedup.HOT_BUCKET_THRESHOLD
    return f"""
    WITH sigs AS ({_minhash_sql(source)}),
    buckets AS ({bands_union}),
    sized AS (
      SELECT doc_id, band_idx, digest,
             COUNT(*) OVER (PARTITION BY band_idx, digest) AS n,
             MIN(doc_id) OVER (PARTITION BY band_idx, digest) AS mn
      FROM buckets
    )
    SELECT DISTINCT id_a, id_b FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sized a JOIN sized b
        ON a.band_idx = b.band_idx AND a.digest = b.digest AND a.doc_id < b.doc_id
      WHERE a.n <= {t}
      UNION ALL
      SELECT mn AS id_a, doc_id AS id_b
      FROM sized WHERE n > {t} AND doc_id <> mn
    )
    """


@register(
    "dedup_lsh_pairs",
    _lsh_pairs_sql(),
    doc="MinHash-LSH candidate pairs via band-digest equi-join",
)
def dedup_lsh_pairs(spark, sf_dir):
    return _shared_lsh_pairs(spark, sf_dir)


_SKEW_N = 2000

_SKEW_SOURCE = f"""(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT 1000000 + g.i AS doc_id,
         (SELECT text FROM documents ORDER BY doc_id LIMIT 1) AS text
  FROM generate_series(0, {_SKEW_N - 1}) AS g(i)
) skew_corpus"""


@register(
    "dedup_lsh_pairs_skew",
    _lsh_pairs_sql(_SKEW_SOURCE),
    doc="LSH pairs on a boilerplate-skewed corpus: a 2000-copy cluster "
    "lands in one bucket per band and must take the bounded star path, "
    "not the n² triangular expansion",
)
def dedup_lsh_pairs_skew(spark, sf_dir):
    """The hot-bucket torture case from VERDICT 'What's wrong' #5: the
    corpus plus 2000 identical copies of its first document. All copies
    share every band digest, so each band forms one mega-bucket; the
    star expansion emits O(n) pairs per bucket with bounded task
    memory, where the triangular path would emit ~2M per band."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    boiler_text = docs.orderBy("doc_id").limit(1).select("text")
    boiler = (
        spark.range(0, _SKEW_N)
        .crossJoin(F.broadcast(boiler_text))
        .select((F.lit(1000000) + F.col("id")).alias("doc_id"), "text")
    )
    return lsh_candidate_pairs(docs.unionByName(boiler))


def _simhash_sql() -> str:
    bit_terms = []
    for b in range(SIMHASH_BITS):
        vote = (
            f"list_sum(list_transform(hs, v -> CASE WHEN (v >> {b}) & 1 = 1 "
            f"THEN 1 ELSE -1 END))"
        )
        bit_terms.append(f"CASE WHEN {vote} > 0 THEN {2**b} ELSE 0 END")
    total = " + ".join(bit_terms)
    return f"""
    WITH tokenized AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             list_transform(toks, t -> CAST(('0x' || substr(md5(t), 1, 4)) AS BIGINT)) AS hs
      FROM tokenized
    )
    SELECT doc_id, CAST({total} AS BIGINT) AS simhash
    FROM hashed
    """


@register("dedup_simhash", _simhash_sql(), doc="16-bit SimHash per document")
def dedup_simhash(spark, sf_dir):
    from scip_spark.functions.dedup import simhash_table

    return simhash_table(tbl(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    """
    WITH tok AS (
      SELECT DISTINCT doc_id AS jid, t.token
      FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
            FROM documents WHERE doc_id < 40) d,
           UNNEST(d.toks) AS t(token)
    ),
    sizes AS (SELECT jid, COUNT(*) AS n_tok FROM tok GROUP BY jid),
    pairs AS (
      SELECT a.jid AS id_a, b.jid AS id_b
      FROM sizes a JOIN sizes b ON a.jid < b.jid
    ),
    inter AS (
      SELECT ta.jid AS id_a, tb.jid AS id_b, COUNT(*) AS n_inter
      FROM tok ta JOIN tok tb ON ta.token = tb.token AND ta.jid < tb.jid
      GROUP BY 1, 2
    )
    SELECT p.id_a, p.id_b,
           CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
             / (sa.n_tok + sb.n_tok - COALESCE(i.n_inter, 0)) AS jaccard
    FROM pairs p
    LEFT JOIN inter i ON p.id_a = i.id_a AND p.id_b = i.id_b
    JOIN sizes sa ON p.id_a = sa.jid
    JOIN sizes sb ON p.id_b = sb.jid
    """,
    doc="exact token-set Jaccard over a bounded pair set",
)
def dedup_ngram_jaccard(spark, sf_dir):
    docs = tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    ids = docs.select(F.col("doc_id").alias("jid"))
    pairs = (
        ids.alias("x")
        .join(ids.alias("y"), F.col("x.jid") < F.col("y.jid"))
        .select(F.col("x.jid").alias("id_a"), F.col("y.jid").alias("id_b"))
    )
    return dedup.jaccard_pairs(docs, pairs)


@register(
    "dedup_embedding_cosine",
    """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE vec_id < 300
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_reduce(list_transform(list_zip(a.emb, b.emb), p -> p[1] * p[2]), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(a.emb, x -> x * x), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(b.emb, x -> x * x), (x, y) -> x + y))) AS sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_reduce(list_transform(list_zip(a.emb, b.emb), p -> p[1] * p[2]), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(a.emb, x -> x * x), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(b.emb, x -> x * x), (x, y) -> x + y))) > 0.25
    """,
    doc="embedding-cosine near-duplicate pairs (exact, bounded id range; "
    "LSH/IVF provide the unbounded scale path)",
)
def dedup_embedding_cosine(spark, sf_dir):
    from scip_spark.functions.similarity import cosine

    emb = tbl(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").cast("array<double>").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").cast("array<double>").alias("eb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    sim = cosine(F.col("ea"), F.col("eb"))
    return pairs.select("id_a", "id_b", sim.alias("sim")).filter(F.col("sim") > 0.25)


@register(
    "sample_with_replacement",
    """
    WITH ranked AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
      FROM orders
    ),
    n AS (SELECT COUNT(*) AS n FROM orders),
    draws AS (
      SELECT i AS draw_idx,
             (CAST(('0x' || substr(md5('swr-v1|' || CAST(i AS VARCHAR)), 1, 12))
                   AS BIGINT) % n) + 1 AS target
      FROM range(1, 101) t(i), n
    )
    SELECT d.draw_idx, r.o_orderkey, r.o_totalprice
    FROM draws d JOIN ranked r ON r.rn = d.target
    """,
    doc="P10 choices(): deterministic with-replacement sample — draw i "
    "picks global rank (md5(seed|i) mod n)+1, exact across engines",
)
def sample_with_replacement(spark, sf_dir):
    """Deterministic `random.choices` analogue (reference
    src/scip/main.py:191-196): 100 seeded draws, each mapping to an
    exact global rank of the orders relation. The rank comes from the
    distributed construction in functions/ranking.py (no
    single-partition window); the 100 draws broadcast onto it."""
    from scip_spark.functions.ranking import with_global_rank

    orders = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )
    ranked = with_global_rank(orders, "o_orderkey", "o_orderkey", out_col="rn")
    cnt = orders.agg(F.count("*").alias("n"))
    draw_hash = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit("swr-v1"), F.col("draw_idx").cast("string"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    draws = (
        spark.range(1, 101)
        .select(F.col("id").alias("draw_idx"))
        .crossJoin(F.broadcast(cnt))
        .select("draw_idx", (draw_hash % F.col("n") + 1).alias("target"))
    )
    return (
        ranked.join(F.broadcast(draws), ranked["rn"] == draws["target"])
        .select("draw_idx", "o_orderkey", "o_totalprice")
    )


# Shared recursive-CTE scaffold: given a `pairs` CTE (id_a, id_b)
# already defined in the enclosing WITH RECURSIVE, yields the
# undirected/cc/comp chain mirroring functions/dedup.py
# connected_components (min-label propagation, fully converged).
# Factored once so every CC-backed oracle (dedup_connected_components,
# dedup_cluster_sizes, entity_resolution_customers,
# dedup_semantic_keep) stays semantically identical.
CC_FROM_PAIRS = """
    undirected AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    cc(node_id, component) AS (
      SELECT src, src FROM undirected
      UNION
      SELECT u.dst, cc.component
      FROM cc JOIN undirected u ON cc.node_id = u.src
    ),
    comp AS (
      SELECT node_id, MIN(component) AS component FROM cc GROUP BY node_id
    )
"""


def _cc_sql() -> str:
    return f"""
    WITH RECURSIVE sigs AS ({_minhash_sql()}),
    buckets AS ({" UNION ALL ".join(f"SELECT doc_id, {i} AS band_idx, band_{i} AS digest FROM sigs" for i in range(N_BANDS))}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a JOIN buckets b
        ON a.band_idx = b.band_idx AND a.digest = b.digest AND a.doc_id < b.doc_id
    ),
    {CC_FROM_PAIRS}
    SELECT node_id, component FROM comp
    """


@register(
    "dedup_connected_components",
    _cc_sql(),
    doc="duplicate clustering: connected components over LSH pairs "
    "(iterative DataFrame label propagation; oracle = recursive CTE)",
)
def dedup_connected_components(spark, sf_dir):
    return _shared_components(spark, sf_dir)


def _cluster_split_sql() -> str:
    from scip_spark.functions.corpus import SPLIT_BUCKETS

    bucket = (
        "CAST(('0x' || substr(md5('split-v2|' || CAST(root AS VARCHAR)),"
        f" 1, 12)) AS BIGINT) % {SPLIT_BUCKETS}"
    )
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_idx, band_{i} AS digest FROM sigs"
        for i in range(N_BANDS)
    )
    return f"""
    WITH RECURSIVE sigs AS ({_minhash_sql()}),
    buckets AS ({bands_union}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a JOIN buckets b
        ON a.band_idx = b.band_idx AND a.digest = b.digest AND a.doc_id < b.doc_id
    ),
    {CC_FROM_PAIRS},
    roots AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS root
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node_id
    )
    SELECT doc_id, root,
           CASE WHEN {bucket} < 9800 THEN 'train'
                WHEN {bucket} < 9900 THEN 'val'
                ELSE 'test' END AS split
    FROM roots ORDER BY doc_id
    """


@register(
    "corpus_cluster_safe_split",
    _cluster_split_sql(),
    doc="LEAKAGE-SAFE train/val/test split — the constructive fix for "
    "what split_leakage_pairs audits: a per-document hash split puts "
    "near-duplicate documents on opposite sides of the train/eval "
    "boundary (eval contamination no downstream screen can undo), so "
    "this splits by the DUPLICATE-CLUSTER root instead — connected "
    "components over the LSH candidate pairs, every member of a "
    "cluster follows its root's hash bucket, singletons hash on their "
    "own id. Zero cross-split candidate pairs BY CONSTRUCTION (pinned "
    "in pytest). Same stable 98/1/1 hash-boundary machinery as "
    "corpus_split_assign (backfill never moves existing docs unless "
    "new data merges their clusters — the unavoidable tradeoff of "
    "leakage safety, noted here explicitly). Scale shape: the LSH "
    "pair join and O(diameter) label-propagation rounds are the "
    "already-audited dedup_connected_components plan; the split "
    "itself is one left join + a projection.",
)
def corpus_cluster_safe_split(spark, sf_dir):
    from scip_spark.functions.corpus import split_assign

    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    comp = _shared_components(spark, sf_dir)
    roots = docs.join(
        comp, docs.doc_id == comp.node_id, "left"
    ).select(
        "doc_id", F.coalesce("component", "doc_id").alias("root")
    )
    return (
        split_assign(roots, key_col="root", seed="split-v2")
        .select("doc_id", "root", "split")
    )


def _boilerplate_sql(chunk: int = 4, max_docs: int = 2) -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ts
      FROM documents
    ),
    ch AS (
      SELECT doc_id, u.i AS idx,
             array_to_string(
               list_slice(ts, u.i * {chunk} + 1, u.i * {chunk} + {chunk}), ' ') AS chunk_text
      FROM tok,
           unnest(range(0, CAST(ceil(len(ts) / {float(chunk)}) AS BIGINT))) AS u(i)
    ),
    hashed AS (
      SELECT doc_id, idx, chunk_text,
             CAST(('0x' || substr(md5(chunk_text), 1, 12)) AS BIGINT) AS h
      FROM ch
    ),
    freq AS (
      SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM hashed GROUP BY h
    ),
    marked AS (
      SELECT hashed.doc_id, hashed.idx, hashed.chunk_text,
             freq.ndocs > {max_docs} AS is_boiler
      FROM hashed JOIN freq USING (h)
    ),
    agg AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN is_boiler THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             md5(coalesce(
               array_to_string(
                 list(chunk_text ORDER BY idx) FILTER (WHERE NOT is_boiler), ' '),
               '')) AS clean_md5
      FROM marked GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(a.n_kept, 0) AS n_kept,
           coalesce(a.n_removed, 0) AS n_removed,
           coalesce(a.clean_md5, md5('')) AS clean_md5
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """


@register(
    "boilerplate_chunk_scrub",
    _boilerplate_sql(),
    doc="C4/RefinedWeb-style boilerplate removal: 4-token chunks that "
    "appear in >2 distinct documents are scrubbed and each document is "
    "reassembled from its kept chunks in order (clean_md5 pins the "
    "reassembled text); chunk counting shuffles only 16-byte hashes",
)
def boilerplate_chunk_scrub(spark, sf_dir):
    from scip_spark.functions.dedup import boilerplate_scrub

    return boilerplate_scrub(tbl(spark, sf_dir, "documents"), chunk=4, max_docs=2)


@register(
    "dedup_cluster_sizes",
    f"""
    SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM (
      SELECT component, CAST(COUNT(*) AS BIGINT) AS csize
      FROM ({_cc_sql()})
      GROUP BY component
    )
    GROUP BY csize
    """,
    doc="duplicate-cluster size histogram from the connected "
    "components of the LSH pair graph — the dedup-rate report a "
    "corpus pipeline emits (how much of the corpus collapses, and "
    "into how many clusters); two tiny aggregations over the CC "
    "output, singleton docs (no candidate pair) excluded by "
    "construction",
)
def dedup_cluster_sizes(spark, sf_dir):
    comp = _shared_components(spark, sf_dir)
    return (
        comp.groupBy("component")
        .agg(F.count("*").cast("long").alias("csize"))
        .groupBy("csize")
        .agg(F.count("*").cast("long").alias("n_clusters"))
    )


@register(
    "dedup_triangle_count",
    f"""
    WITH e AS (SELECT id_a AS a, id_b AS b FROM ({_lsh_pairs_sql()}))
    SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM e e1
    JOIN e e2 ON e1.b = e2.a
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
    doc="triangle count over the canonical (a<b) LSH candidate-pair "
    "graph - the cluster-density signal (many triangles = tight "
    "near-dup cliques, few = chains/false positives). Edge-join "
    "triangle enumeration: each triangle i<j<k counted once via "
    "(i,j)x(j,k) semi-matched against (i,k); edges are the bounded "
    "LSH candidate set, and the two equi-joins shuffle only id pairs",
)
def dedup_triangle_count(spark, sf_dir):
    pairs = _shared_lsh_pairs(spark, sf_dir)
    e = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y")
    tri = wedges.join(
        e, (e["a"] == wedges["x"]) & (e["b"] == wedges["z"])
    ).agg(F.count("*").cast("long").alias("n_triangles"))
    n_edges = e.agg(F.count("*").cast("long").alias("n_edges"))
    return n_edges.crossJoin(F.broadcast(tri))


@register(
    "dedup_incremental",
    """
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    old AS (SELECT fp FROM fp WHERE doc_id % 3 <> 0),
    new AS (SELECT doc_id, fp FROM fp WHERE doc_id % 3 = 0),
    fresh AS (
      SELECT n.doc_id, n.fp FROM new n
      WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.fp = n.fp)
    ),
    admitted AS (
      SELECT fp, MIN(doc_id) AS doc_id FROM fresh GROUP BY fp
    )
    SELECT CAST((SELECT COUNT(*) FROM new) AS BIGINT) AS n_incoming,
           CAST((SELECT COUNT(*) FROM new) - (SELECT COUNT(*) FROM fresh)
                AS BIGINT) AS n_dup_vs_corpus,
           CAST((SELECT COUNT(*) FROM fresh) - (SELECT COUNT(*) FROM admitted)
                AS BIGINT) AS n_dup_within_batch,
           CAST((SELECT COUNT(*) FROM admitted) AS BIGINT) AS n_admitted
    """,
    doc="incremental corpus dedup (the daily-crawl path): an incoming "
    "batch is exact-deduped against the existing corpus with a "
    "left-anti semi-join on 16-byte fingerprints (corpus text never "
    "moves), then first-wins within the batch — the batch analogue of "
    "streaming/dedup.py, sized so only fingerprints shuffle",
)
def dedup_incremental(spark, sf_dir):
    from scip_spark.functions.text import fingerprint

    docs = tbl(spark, sf_dir, "documents").withColumn(
        "fp", fingerprint(F.col("text"))
    )
    old = docs.filter(F.col("doc_id") % 3 != 0).select("fp")
    new = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "fp")
    fresh = new.join(old, "fp", "left_anti")
    admitted = fresh.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    n_new = new.agg(F.count("*").cast("long").alias("n_incoming"))
    n_fresh = fresh.agg(F.count("*").cast("long").alias("nf"))
    n_adm = admitted.agg(F.count("*").cast("long").alias("n_admitted"))
    return (
        n_new.crossJoin(F.broadcast(n_fresh))
        .crossJoin(F.broadcast(n_adm))
        .select(
            "n_incoming",
            (F.col("n_incoming") - F.col("nf")).alias("n_dup_vs_corpus"),
            (F.col("nf") - F.col("n_admitted")).alias("n_dup_within_batch"),
            "n_admitted",
        )
    )


@register(
    "dedup_setsim_join",
    """
    WITH tok AS (
      SELECT DISTINCT doc_id AS sid, t.token
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
            FROM documents) d,
           UNNEST(d.toks) AS t(token)
    ),
    sizes AS (SELECT sid, COUNT(*) AS n_tok FROM tok GROUP BY sid),
    inter AS (
      SELECT a.sid AS id_a, b.sid AS id_b, COUNT(*) AS n_inter
      FROM tok a JOIN tok b ON a.token = b.token AND a.sid < b.sid
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           CAST(n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - n_inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.id_a = sa.sid
    JOIN sizes sb ON i.id_b = sb.sid
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - n_inter)
          >= CAST(0.95 AS DOUBLE)
    """,
    doc="EXACT Jaccard-threshold self-join via prefix filtering "
    "(AllPairs family) — deterministic complement to MinHash/LSH; the "
    "oracle skips the (result-preserving) prefix pruning and verifies "
    "the full shared-token pair set",
)
def dedup_setsim_join(spark, sf_dir):
    return dedup.setsim_prefix_join(
        tbl(spark, sf_dir, "documents"),
        threshold=0.95,
        tok=_shared_doc_tokens(spark, sf_dir),
    )


def _agreement_sql(threshold: float = 0.95) -> str:
    """Truth = the exact Jaccard-threshold join over the SAME 3-gram
    shingle sets the LSH indexes (comparing against token-set Jaccard
    would audit a different similarity function and read as false
    misses); candidates = the LSH band join, both reusing the entries'
    own SQL shapes. Counts and fixed-point recall/precision are pure
    integers — hash-matched."""
    return f"""
    WITH cand AS ({_lsh_pairs_sql()}),
    tokenized AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    shingled AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(generate_series(1, len(toks) - 2),
                        i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2])
                  ELSE [] END AS sh
      FROM tokenized
    ),
    tok AS (
      SELECT DISTINCT doc_id AS sid, t.s AS token
      FROM shingled, UNNEST(sh) AS t(s)
    ),
    sizes AS (SELECT sid, COUNT(*) AS n_tok FROM tok GROUP BY sid),
    inter AS (
      SELECT a.sid AS id_a, b.sid AS id_b, COUNT(*) AS n_inter
      FROM tok a JOIN tok b ON a.token = b.token AND a.sid < b.sid
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON i.id_a = sa.sid
      JOIN sizes sb ON i.id_b = sb.sid
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - n_inter)
            >= CAST({threshold!r} AS DOUBLE)
    ),
    stats AS (
      SELECT (SELECT COUNT(*) FROM truth) AS nt,
             (SELECT COUNT(*) FROM cand) AS nc,
             (SELECT COUNT(*)
              FROM truth t JOIN cand c
                ON t.id_a = c.id_a AND t.id_b = c.id_b) AS nh
    )
    SELECT CAST(nt AS BIGINT) AS n_true,
           CAST(nc AS BIGINT) AS n_candidates,
           CAST(nh AS BIGINT) AS n_hit,
           CAST(CASE WHEN nt = 0 THEN -1
                     ELSE (nh * 1048576) // nt END AS BIGINT) AS recall_fp,
           CAST(CASE WHEN nc = 0 THEN -1
                     ELSE (nh * 1048576) // nc END AS BIGINT) AS precision_fp
    FROM stats
    """


@register(
    "dedup_method_agreement",
    _agreement_sql(),
    doc="approximate-vs-exact dedup AGREEMENT audit — the validation "
    "step before trusting LSH at 100 TB: exact SHINGLE-set "
    "Jaccard>=0.95 pairs (the prefix-filtered setsim join run over "
    "the SAME word-3-gram shingles the MinHash indexes — auditing "
    "against a different similarity, e.g. unigram token sets, would "
    "manufacture false misses) full-count-compared against the LSH "
    "candidate set, emitting fixed-point recall (candidate coverage "
    "of true pairs — the r=2,b=4 S-curve promises ~0.9999 at j=0.95; "
    "missed pairs are PERMANENT dedup escapes since candidates gate "
    "verification) and precision (verification workload efficiency). "
    "All counts integer, recall/precision on the 2^20 grid → the "
    "audit itself hash-matches cross-engine. Scale shape: both sides "
    "are the already-audited entries' plans (banded equi-join; "
    "prefix-filtered exact join); the agreement join is pair-keyed "
    "over two result relations, each tiny relative to the corpus.",
)
def dedup_method_agreement(spark, sf_dir):
    from scip_spark.functions.dedup import shingles_from
    from scip_spark.functions.text import tokens as _tokens

    docs = tbl(spark, sf_dir, "documents")
    # '_'-joined 3-gram shingles as whitespace tokens, so the exact
    # setsim join measures the similarity the LSH actually indexes.
    # Token array staged as a bound attribute — an inline tokens()
    # inside the shingle lambda re-runs the tokenizer per shingle.
    docs_sh = (
        docs.select("doc_id", _tokens(F.col("text")).alias("_toks"))
        .select(
            "doc_id",
            F.array_join(shingles_from("_toks", 3, sep="_"), " ").alias("text"),
        )
    )
    truth = dedup.setsim_prefix_join(docs_sh, threshold=0.95).select(
        "id_a", "id_b"
    )
    cand = _shared_lsh_pairs(spark, sf_dir).select("id_a", "id_b")
    nh = truth.join(cand, ["id_a", "id_b"], "left_semi").agg(
        F.count("*").cast("long").alias("nh")
    )
    stats = (
        truth.agg(F.count("*").cast("long").alias("nt"))
        .crossJoin(F.broadcast(cand.agg(F.count("*").cast("long").alias("nc"))))
        .crossJoin(F.broadcast(nh))
    )
    grid = 1 << 20
    return stats.select(
        F.col("nt").alias("n_true"),
        F.col("nc").alias("n_candidates"),
        F.col("nh").alias("n_hit"),
        F.expr(
            f"cast(case when nt = 0 then -1 else (nh * {grid}) div nt end"
            " as bigint)"
        ).alias("recall_fp"),
        F.expr(
            f"cast(case when nc = 0 then -1 else (nh * {grid}) div nc end"
            " as bigint)"
        ).alias("precision_fp"),
    )


@register(
    "dedup_containment_pairs",
    """
    WITH tok AS (
      SELECT DISTINCT doc_id AS sid, t.token
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
            FROM documents) d,
           UNNEST(d.toks) AS t(token)
    ),
    sizes AS (SELECT sid, COUNT(*) AS n_tok FROM tok GROUP BY sid),
    inter AS (
      SELECT a.sid AS id_a, b.sid AS id_b, COUNT(*) AS n_inter
      FROM tok a JOIN tok b ON a.token = b.token AND a.sid <> b.sid
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           CAST(n_inter AS DOUBLE) / sa.n_tok AS containment
    FROM inter i JOIN sizes sa ON i.id_a = sa.sid
    WHERE CAST(n_inter AS DOUBLE) / sa.n_tok >= CAST(1.0 AS DOUBLE)
    """,
    doc="asymmetric containment self-join (|A∩B|/|A| = 1: A's token "
    "set fully inside B) — the copy-paste-inclusion case symmetric "
    "Jaccard's length filter misses; A prefix-pruned to its single "
    "rarest token, B contributes full postings; oracle = unpruned "
    "shared-token pair set",
)
def dedup_containment_pairs(spark, sf_dir):
    return dedup.containment_join(
        tbl(spark, sf_dir, "documents"),
        threshold=1.0,
        tok=_shared_doc_tokens(spark, sf_dir),
    )


_WINNOW_K, _WINNOW_W, _WINNOW_MIN, _WINNOW_CAP = 5, 4, 2, 64


@register(
    "winnow_dup_pairs",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             [CAST(('0x' || substr(md5(array_to_string(
                  list_slice(toks, i, i + {_WINNOW_K} - 1), ' ')), 1, 12))
               AS BIGINT)
              FOR i IN generate_series(1, len(toks) - {_WINNOW_K} + 1)] AS grams
      FROM t WHERE len(toks) >= {_WINNOW_K} + {_WINNOW_W} - 1
    ),
    fp AS (
      SELECT DISTINCT doc_id,
             unnest([list_min(list_slice(grams, j, j + {_WINNOW_W} - 1))
                     FOR j IN generate_series(1, len(grams) - {_WINNOW_W} + 1)]) AS fp
      FROM g
    ),
    ok AS (
      SELECT fp FROM (SELECT fp, COUNT(*) AS c FROM fp GROUP BY fp)
      WHERE c <= {_WINNOW_CAP}
    ),
    fpo AS (SELECT doc_id, fp FROM fp JOIN ok USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fpo a JOIN fpo b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_WINNOW_MIN}
    """,
    doc="substring-level near-dup pairs via winnowing fingerprints "
    "(Schleimer et al. 2003): shared token runs >= w+k-1 anywhere in "
    "either doc; df-capped fingerprint equi-join, no all-pairs",
)
def winnow_dup_pairs(spark, sf_dir):
    return dedup.winnow_dup_pairs(
        tbl(spark, sf_dir, "documents"),
        k=_WINNOW_K, w=_WINNOW_W,
        min_shared=_WINNOW_MIN, df_cap=_WINNOW_CAP,
    )


@register(
    "winnow_dup_spans",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             [CAST(('0x' || substr(md5(array_to_string(
                  list_slice(toks, i, i + {_WINNOW_K} - 1), ' ')), 1, 12))
               AS BIGINT)
              FOR i IN generate_series(1, len(toks) - {_WINNOW_K} + 1)] AS grams
      FROM t WHERE len(toks) >= {_WINNOW_K} + {_WINNOW_W} - 1
    ),
    fpp AS (
      SELECT DISTINCT doc_id, s['fp'] AS fp, s['pos'] AS pos FROM (
        SELECT doc_id,
               unnest([{{'fp': list_min(list_slice(grams, j, j + {_WINNOW_W} - 1)),
                        'pos': j + list_position(
                            list_slice(grams, j, j + {_WINNOW_W} - 1),
                            list_min(list_slice(grams, j, j + {_WINNOW_W} - 1))) - 1}}
                       FOR j IN generate_series(1, len(grams) - {_WINNOW_W} + 1)]) AS s
        FROM g)
    ),
    ok AS (
      SELECT fp FROM (SELECT fp, COUNT(DISTINCT doc_id) AS c FROM fpp GROUP BY fp)
      WHERE c <= {_WINNOW_CAP}
    ),
    fpo AS (SELECT doc_id, fp, pos FROM fpp JOIN ok USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           CAST(MIN(a.pos) AS BIGINT) AS a_start,
           CAST(MAX(a.pos) AS BIGINT) AS a_end,
           CAST(MIN(b.pos) AS BIGINT) AS b_start,
           CAST(MAX(b.pos) AS BIGINT) AS b_end
    FROM fpo a JOIN fpo b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_WINNOW_MIN}
    """,
    doc="span-level duplication extents: winnowing fingerprints with "
    "leftmost-min position evidence, aggregated per pair to the "
    "1-based token extent of the shared material in each doc — the "
    "actionable cut-the-span form of winnow_dup_pairs",
)
def winnow_dup_spans(spark, sf_dir):
    return dedup.winnow_dup_spans(
        tbl(spark, sf_dir, "documents"),
        k=_WINNOW_K, w=_WINNOW_W,
        min_shared=_WINNOW_MIN, df_cap=_WINNOW_CAP,
    )


@register(
    "contrastive_negatives",
    f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    probes AS (
      SELECT d.doc_id AS anchor, u.j AS probe_idx,
             (d.doc_id
              + CAST(('0x' || substr(md5('cneg-v1|' || CAST(d.doc_id AS VARCHAR)
                                          || '|' || CAST(u.j AS VARCHAR)), 1, 12))
                     AS BIGINT) % (n.n - 1) + 1) % n.n AS cand
      FROM documents d, n, UNNEST(generate_series(0, 7)) AS u(j)
    ),
    valid AS (
      SELECT p.anchor, p.probe_idx, p.cand
      FROM probes p JOIN documents c ON c.doc_id = p.cand
    ),
    pairs AS ({_lsh_pairs_sql()}),
    survivors AS (
      -- dedupe probe collisions on the same candidate (two md5 steps
      -- can land on one id): keep the earliest probe per (anchor, cand)
      SELECT v.anchor, MIN(v.probe_idx) AS probe_idx, v.cand
      FROM valid v
      LEFT JOIN pairs pr
        ON pr.id_a = least(v.anchor, v.cand)
       AND pr.id_b = greatest(v.anchor, v.cand)
      WHERE pr.id_a IS NULL
      GROUP BY v.anchor, v.cand
    )
    SELECT anchor, cand AS negative_id, CAST(probe_idx AS INT) AS probe_idx
    FROM (
      SELECT anchor, cand, probe_idx,
             ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY probe_idx) AS rn
      FROM survivors
    ) WHERE rn <= 4
    """,
    doc="contrastive negative sampling: 8 deterministic arithmetic "
    "probes per anchor ((id + md5-step) mod N — no all-pairs, no "
    "global shuffle beyond the near-dup anti-join), MinHash-LSH "
    "candidate pairs excluded so near-duplicates never become "
    "negatives, probe collisions deduped, first 4 DISTINCT survivors "
    "kept per anchor — the batch-negative "
    "construction a contrastive-embedding trainer consumes",
)
def contrastive_negatives(spark, sf_dir):
    from pyspark.sql.window import Window as W

    docs = tbl(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").cast("long").alias("n"))
    js = F.broadcast(
        docs.sparkSession.range(8).select(F.col("id").cast("int").alias("probe_idx"))
    )
    step = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit("cneg-v1"),
                        F.col("doc_id").cast("string"),
                        F.col("probe_idx").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        % (F.col("n") - 1)
        + 1
    )
    probes = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(n))
        .crossJoin(js)
        .select(
            F.col("doc_id").alias("anchor"),
            "probe_idx",
            ((F.col("doc_id") + step) % F.col("n")).alias("cand"),
        )
    )
    valid = probes.join(
        docs.select(F.col("doc_id").alias("cand")), "cand"
    )
    pairs = _shared_lsh_pairs(spark, sf_dir).select(
        F.col("id_a").alias("p_a"), F.col("id_b").alias("p_b")
    )
    survivors = (
        valid.join(
            pairs,
            (F.least("anchor", "cand") == F.col("p_a"))
            & (F.greatest("anchor", "cand") == F.col("p_b")),
            "left_anti",
        )
        # two probes can collide on one candidate — keep the earliest
        .groupBy("anchor", "cand")
        .agg(F.min("probe_idx").alias("probe_idx"))
    )
    w = W.partitionBy("anchor").orderBy("probe_idx")
    return (
        survivors.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .select(
            "anchor", F.col("cand").alias("negative_id"), F.col("probe_idx").cast("int").alias("probe_idx")
        )
    )


def _split_case(key: str) -> str:
    from scip_spark.functions.corpus_queries import _BUCKET

    b = _BUCKET.format(seed="split-v1", key=key)
    return (
        f"CASE WHEN {b} < 9800 THEN 'train' "
        f"WHEN {b} < 9900 THEN 'val' ELSE 'test' END"
    )


def _split_leakage_sql() -> str:
    return f"""
    WITH pairs AS ({_lsh_pairs_sql()}),
    assigned AS (
      SELECT p.id_a, p.id_b,
             {_split_case('p.id_a')} AS split_a,
             {_split_case('p.id_b')} AS split_b
      FROM pairs p
    )
    SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_leaking
    FROM assigned
    WHERE split_a <> split_b
    GROUP BY split_a, split_b
    """


@register(
    "split_leakage_pairs",
    _split_leakage_sql(),
    doc="train/test leakage audit: MinHash-LSH near-duplicate pairs "
    "whose members landed in DIFFERENT splits — eval contamination the "
    "hash split cannot prevent (near-dups hash independently). The "
    "pair relation is the existing bounded LSH candidate set; split "
    "assignment is the same pure md5 bucket as corpus_split_assign, "
    "so no extra scan or shuffle beyond the pair join",
)
def split_leakage_pairs(spark, sf_dir):
    from scip_spark.functions.corpus import split_assign

    docs = tbl(spark, sf_dir, "documents")
    pairs = _shared_lsh_pairs(spark, sf_dir)
    splits = split_assign(docs).select("doc_id", "split")
    sa = splits.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count("*").cast("long").alias("n_leaking"))
    )


def _scurve_sql() -> str:
    r = _ROWS_PER_BAND
    b = N_BANDS
    # p(s) = 1 - (1 - s^r)^b expanded as pure multiplication chains —
    # no pow(), whose last-ulp differs across libm implementations
    s_pow_r = " * ".join(["(u.i / CAST(10 AS DOUBLE))"] * r)
    one_minus = f"(1 - {s_pow_r})"
    p = f"1 - {' * '.join([one_minus] * b)}"
    return f"""
    SELECT CAST(u.i AS INT) AS s_tenths,
           {p} AS p_collide
    FROM UNNEST(generate_series(0, 10)) AS u(i)
    """


@register(
    "lsh_scurve_design",
    _scurve_sql(),
    doc=f"the LSH S-curve for this index's parameters (b={N_BANDS} "
    f"bands x r={_ROWS_PER_BAND} rows): P(candidate | jaccard s) = "
    "1-(1-s^r)^b on a 0.1 grid — the table that justifies the "
    "(bands, rows) choice before building a 100 TB index; expanded as "
    "multiplication chains so both engines compute identical doubles",
)
def lsh_scurve_design(spark, sf_dir):
    r = _ROWS_PER_BAND
    b = N_BANDS
    grid = spark.range(0, 11).select(F.col("id").cast("int").alias("s_tenths"))
    s = F.col("s_tenths") / F.lit(10).cast("double")
    s_pow_r = s
    for _ in range(r - 1):
        s_pow_r = s_pow_r * s
    one_minus = 1 - s_pow_r
    miss = one_minus
    for _ in range(b - 1):
        miss = miss * one_minus
    return grid.select("s_tenths", (1 - miss).alias("p_collide"))


def _keep_best_sql() -> str:
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_idx, band_{i} AS digest FROM sigs"
        for i in range(N_BANDS)
    )
    toks = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"
    return f"""
    WITH RECURSIVE sigs AS ({_minhash_sql()}),
    buckets AS ({bands_union}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a JOIN buckets b
        ON a.band_idx = b.band_idx AND a.digest = b.digest
       AND a.doc_id < b.doc_id
    ),
    {CC_FROM_PAIRS},
    scored AS (
      SELECT d.doc_id,
             COALESCE(c.component, d.doc_id) AS root,
             CAST(len({toks}) AS BIGINT) AS score
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node_id
    )
    SELECT doc_id, root, score,
           (ROW_NUMBER() OVER (PARTITION BY root
                               ORDER BY score DESC, doc_id) = 1) AS keep
    FROM scored ORDER BY doc_id
    """


@register(
    "dedup_keep_best_quality",
    _keep_best_sql(),
    doc="quality-aware canonical selection: one KEEPER per duplicate "
    "cluster, chosen as the HIGHEST-QUALITY member (integer token "
    "count as the quality proxy; min doc_id tiebreak) rather than "
    "dedup_semantic_keep's min-id policy — the real curation rule "
    "(keep the longest/cleanest copy, drop truncated mirrors). "
    "Clusters are connected components over the LSH candidate pairs; "
    "singletons keep themselves. Scale shape: the already-audited CC "
    "plan plus ONE shuffle by cluster root for the per-cluster "
    "argmax window — the text column never moves (score computed at "
    "scan, only (doc_id, root, score) shuffles).",
)
def dedup_keep_best_quality(spark, sf_dir):
    from pyspark.sql.window import Window as W

    from scip_spark.functions.text import token_count

    docs = tbl(spark, sf_dir, "documents")
    comp = _shared_components(spark, sf_dir)
    scored = (
        docs.select("doc_id", token_count("text").alias("score"))
        .join(comp, docs["doc_id"] == comp["node_id"], "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("root"),
            "score",
        )
    )
    w = W.partitionBy("root").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "root", "score", "keep")
    )


_ED_BAND = 32    # length-band width (chars)
_ED_MAXPCT = 10  # near-dup when edit distance <= 10% of max length


@register(
    "dedup_editdistance_pairs",
    f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS n,
             length(text) // {_ED_BAND} AS band,
             -- COALESCE: DuckDB array_to_string([]) is NULL where
             -- Spark array_join is '' — a whitespace-only doc (zero
             -- tokens) must land in the '' block in both engines
             COALESCE(array_to_string(list_slice(
               list_filter(string_split_regex(text, '\\s+'), t -> t <> ''),
               1, 2), ' '), '') AS tok01
      FROM documents WHERE text IS NOT NULL AND text <> ''
    ),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.text AS ta, b.text AS tb,
             GREATEST(a.n, b.n) AS mx
      FROM d a JOIN d b
        ON a.tok01 = b.tok01
       AND b.band BETWEEN a.band - 1 AND a.band + 1
       AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(levenshtein(ta, tb) AS BIGINT) AS dist,
           CAST(mx AS BIGINT) AS max_len
    FROM cand
    WHERE levenshtein(ta, tb) * 100 <= {_ED_MAXPCT} * mx
    ORDER BY id_a, id_b
    """,
    doc="character-level fuzzy dedup — the edit-distance modality the "
    "token-set (Jaccard/containment), fingerprint (minhash/simhash/"
    "winnow) and embedding families cannot express (OCR noise, "
    "single-character corruptions, near-identical boilerplate): "
    "candidate pairs block on (first TWO tokens, ±1 length band of "
    f"{_ED_BAND} chars) — never all-pairs — and verify with exact "
    "Wagner-Fischer levenshtein (pure integer, hash-exact in both "
    "engines), keeping pairs whose distance is <= 10% of the longer "
    "text by integer cross-multiplication. The Spark verify is "
    "THRESHOLD-CAPPED (levenshtein(l, r, t) band DP, O(len*t) not "
    "O(len^2); t = maxlen div 10 from a 1-row extents collect) — "
    "capped pairs return -1 and are excluded explicitly, and any pair "
    "that passes the 10% filter has dist <= t by construction, so the "
    "cap never changes the result (the oracle runs the uncapped "
    "form). Scale shape: the blocking join keys are (tok01, band) — "
    "Zipf-hot prefixes split under AQE; like the other exact joins, "
    "verbatim-replica probes are quadratic BY DATA (every copy pairs "
    "with every copy), so the probe uses the perturbed "
    "disjoint-vocabulary replica (see SCALE_PROBE.md).",
)
def dedup_editdistance_pairs(spark, sf_dir):
    from scip_spark.functions.text import tokens

    d = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select(
            "doc_id",
            "text",
            F.length("text").alias("n"),
            F.expr(f"length(text) div {_ED_BAND}").alias("band"),
            # first-2-TOKENS key via the shared whitespace tokenizer —
            # substring_index would keep a trailing space on 1-token
            # docs and split blocks differently from the oracle
            F.array_join(F.slice(tokens("text"), 1, 2), " ").alias("tok01"),
        )
    )
    # banded-DP cap: 10% of the longest doc (1-row bounded collect,
    # the broadcast-extents pattern) — every pair that can pass the
    # final 10%-of-pair-max filter is under this cap
    max_n = d.agg(F.max("n")).first()[0] or 1
    thr = max(1, max_n // _ED_MAXPCT)
    a = d.select(
        F.col("doc_id").alias("id_a"), F.col("text").alias("ta"),
        F.col("n").alias("na"), F.col("band").alias("ba"), "tok01",
    )
    b = d.select(
        F.col("doc_id").alias("id_b"), F.col("text").alias("tb"),
        F.col("n").alias("nb"), F.col("band").alias("bb"), "tok01",
    )
    cand = a.join(b, "tok01").filter(
        (F.col("bb") >= F.col("ba") - 1)
        & (F.col("bb") <= F.col("ba") + 1)
        & (F.col("id_a") < F.col("id_b"))
    ).select(
        "id_a", "id_b", "ta", "tb",
        F.greatest("na", "nb").alias("mx"),
    )
    return (
        cand.withColumn("dist", F.levenshtein("ta", "tb", thr).cast("long"))
        .filter(
            (F.col("dist") >= 0)
            & (F.col("dist") * 100 <= _ED_MAXPCT * F.col("mx"))
        )
        .select("id_a", "id_b", "dist", F.col("mx").cast("long").alias("max_len"))
    )


@register(
    "dedup_rate_by_source",
    """
    WITH fp AS (
      SELECT doc_id, source, md5(text) AS h
      FROM documents WHERE text IS NOT NULL
    ),
    cnt AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS c FROM fp GROUP BY 1)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) * 1048576
                // COUNT(*) AS BIGINT) AS dup_rate_fp,
           CAST(COUNT(DISTINCT CASE WHEN c > 1 THEN h END) AS BIGINT)
             AS n_dup_groups
    FROM fp JOIN cnt USING (h)
    GROUP BY source ORDER BY source
    """,
    doc="per-source duplicate-rate observability — the curation "
    "dashboard number that tells you WHICH crawl is feeding you "
    "copies before you pay for pair-level dedup: share of docs whose "
    "exact md5 fingerprint occurs more than once (corpus-wide, so "
    "cross-source mirrors count for both sides) on the 2^20 grid, "
    "plus distinct duplicated-fingerprint groups per source. Scale "
    "shape: fingerprint counts are one map-side-combined agg on the "
    "32-char hash (text itself never shuffles), the doc join is "
    "key-only, output is G rows.",
)
def dedup_rate_by_source(spark, sf_dir):
    fp = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "source", F.md5("text").alias("h"))
    )
    cnt = fp.groupBy("h").agg(F.count("*").cast("long").alias("c"))
    return (
        fp.join(cnt, "h")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
            .cast("long").alias("n_dup_docs"),
            F.expr(
                "sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) * 1048576L"
                " div count(*)"
            ).cast("long").alias("dup_rate_fp"),
            F.count_distinct(
                F.when(F.col("c") > 1, F.col("h"))
            ).cast("long").alias("n_dup_groups"),
        )
    )


_SSW = 8  # exact-substring window width (tokens)


@register(
    "dedup_substring_spans",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(COALESCE(text, ''), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t),
    win AS (
      SELECT doc_id, u.i AS pos,
             md5(array_to_string(list_slice(toks, u.i, u.i + {_SSW - 1}), ' ')) AS h
      FROM base, UNNEST(generate_series(1, len(toks) - {_SSW - 1})) AS u(i)
    ),
    cnt AS (SELECT h FROM win GROUP BY h HAVING COUNT(*) >= 2),
    cov AS (
      SELECT DISTINCT w.doc_id, tt.t
      FROM win w JOIN cnt USING (h),
           UNNEST(generate_series(w.pos, w.pos + {_SSW - 1})) AS tt(t)
    ),
    dup AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_tokens FROM cov GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           COALESCE(d.dup_tokens, 0) AS dup_tokens,
           CAST(CASE WHEN b.n_tokens > 0
                     THEN COALESCE(d.dup_tokens, 0) * 1048576 // b.n_tokens
                     ELSE 0 END AS BIGINT) AS dup_frac_fp
    FROM base b LEFT JOIN dup d USING (doc_id)
    """,
    doc="exact-substring (suffix-window) dedup, Lee et al. 2022 "
    f"'Deduplicating Training Data Makes Language Models Better' style "
    f"— the SPAN-level modality the doc-pair families can't express: "
    f"every {_SSW}-token window is md5-fingerprinted (exhaustive, not "
    f"winnowing-sampled, so any shared run of >= {_SSW} tokens is "
    f"caught by construction, within-doc repeats included); a window "
    f"occurring >= 2 times corpus-wide marks its token positions "
    f"duplicated, and the per-doc output is the union of covered "
    f"positions — exactly the spans a Lee-style pass would excise — "
    f"plus the duplicated fraction on the 2^20 grid. Scale shape: "
    f"LINEAR by construction where pair emission would be quadratic "
    f"on boilerplate — the only shuffles are the window-hash count "
    f"(map-side combined) and the per-doc coverage distinct; output "
    f"is one row per document. The windows explode is staged + "
    f"explode_outer so InferFiltersFromGenerate cannot sink the HOF "
    f"chain into a scan-level recompute (see winnow_dup_pairs).",
)
def dedup_substring_spans(spark, sf_dir):
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    base, win = _ss_windows(docs)
    return _ss_tail(base, win, _ss_shared(win))


def _ss_windows(docs):
    """(base, win) relations of the suffix-window family — works on a
    batch OR streaming `docs(doc_id, text)` (pure column algebra).
    base = (doc_id, n_tokens, toks) — the ONE tokenization every
    family member builds on; win = one row per {_SSW}-token window
    (doc_id, pos, h). Windows are staged on the bound toks attribute
    (HOF lambdas get no CSE) and exploded with explode_outer so
    InferFiltersFromGenerate cannot sink the chain below the scan;
    sequence() DESCENDS when stop < start, so short docs guard to a
    typed empty array."""
    from scip_spark.functions.text import tokens

    toked = docs.select(
        "doc_id", tokens(F.coalesce("text", F.lit(""))).alias("toks")
    )
    base = toked.select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens"), "toks"
    )
    wins = F.when(
        F.size("toks") >= _SSW,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - (_SSW - 1)),
            lambda i: F.struct(
                i.cast("long").alias("pos"),
                F.md5(F.concat_ws(" ", F.slice("toks", i, _SSW))).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:long,h:string>>"))
    staged = base.select("doc_id", wins.alias("wins"))
    win = (
        staged.select("doc_id", F.explode_outer("wins").alias("w"))
        .select("doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
        .filter(F.col("h").isNotNull())
    )
    return base, win


def _ss_shared(win):
    """Corpus-shared window hashes (occurrence count >= 2): map-side-
    combined count, hash-only shuffle."""
    return (
        win.groupBy("h")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )


def _ss_covered(win, shared):
    """(doc_id, t) distinct token positions covered by a shared
    window — the materialized-position form the EXCISION path needs
    (dedup_substring_clean rebuilds text from the kept positions)."""
    return (
        win.join(shared, "h")
        .select(
            "doc_id",
            F.explode(F.sequence("pos", F.col("pos") + (_SSW - 1))).alias("t"),
        )
        .distinct()
    )


def _ss_covered_counts(win, shared, alias="dup_tokens"):
    """|union of covered token positions| per doc, WITHOUT materializing
    positions: every interval has the SAME width W, so the union of
    sorted intervals [p, p+W) is ``Σ least(W, next_pos − pos)`` (last
    window contributes W) — a doc-partitioned window + one JVM sum,
    no collect_list, no array sort, no interpreted HOF fold.
    Bit-identical count to ``_ss_covered(...).groupBy(doc).count()``
    (integer arithmetic, pinned in tests), but the exchange carries ONE
    row per shared window instead of W position rows + a distinct —
    r14 probe: the duplicate-saturated 10× corpus dropped from 469 MB
    to ~97 MB total shuffle (the ×8 explode + distinct were 80% of
    bytes). r15: the r14 fold's collect_list + sort_array + aggregate()
    HOF was the driver-bench CPU cost (2.60→4.13 s on unchanged
    shuffle); this window form keeps the identical exchange shape
    (positions are unique per doc, so lead() sees exactly the fold's
    sorted stream) and measured 5.4→2.8 s cold at sf0.1, values
    pinned identical. Shuffle stays proportional to DUPLICATED
    windows, never to W× positions; the window is doc-partitioned
    (never partition-less) and the groupBy reuses its exchange."""
    from pyspark.sql.window import Window as W

    w = _SSW
    wspec = W.partitionBy("doc_id").orderBy("pos")
    return (
        win.join(shared, "h")
        .select("doc_id", "pos")
        .withColumn("nxt", F.lead("pos").over(wspec))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("nxt").isNotNull(),
                    F.least(F.lit(w), F.col("nxt") - F.col("pos")),
                ).otherwise(F.lit(w))
            )
            .cast("long")
            .alias(alias)
        )
    )


def _ss_tail(base, win, shared):
    """Coverage pricing shared by the batch op and its streaming twin:
    union of token positions covered by a shared window, per doc."""
    dup = _ss_covered_counts(win, shared, alias="dup_tokens")
    out = base.select("doc_id", "n_tokens").join(dup, "doc_id", "left")
    return out.select(
        "doc_id",
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr("coalesce(dup_tokens, 0) * 1048576L div n_tokens"),
        ).otherwise(F.lit(0)).cast("long").alias("dup_frac_fp"),
    )


@register(
    "dedup_substring_spans_stream",
    None,
    share_sql_with="dedup_substring_spans",  # value-identical twin (ADVICE r13)
    doc="dedup_substring_spans with the corpus-wide window-hash counts "
    "built by STRUCTURED STREAMING (14th driver-hash-checked streaming "
    "entry): the document stream's windows feed a STATEFUL streaming "
    "groupBy(h).count() — executor-side state, not driver-folded "
    "partials, because the window-count relation is corpus-sized (the "
    "state-store shape RocksDB exists for), unlike the sketch twins — "
    "drained update-mode through a foreachBatch PARQUET sink (each "
    "epoch's updated (h, c) rows land executor-side; a memory sink "
    "would re-materialize the corpus-sized relation on the driver), "
    "then max(c) per hash is the final count (counts only grow). Only "
    "the duplicated-hash subset is pinned (localCheckpoint) before the "
    "sink dir is removed. The shared-hash set then prices the "
    "identical _ss_tail coverage, so the streaming answer is "
    "bit-identical to batch and shares its oracle SQL verbatim.",
)
def dedup_substring_spans_stream(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from scip_spark.functions.sketch_queries import _split_to_tmp

    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = _split_to_tmp(docs, key="doc_id")
    sink = tempfile.mkdtemp(prefix="ss_spans_sink_")
    try:
        sdocs = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(tmp)
        )
        _, win_s = _ss_windows(sdocs)
        cnt_s = win_s.groupBy("h").agg(F.count("*").alias("c"))

        def sink_epoch(batch_df, epoch_id):
            # idempotent per-epoch path: a retried epoch overwrites
            # its own directory instead of double-appending
            batch_df.write.mode("overwrite").parquet(f"{sink}/e{epoch_id}")

        q = (
            cnt_s.writeStream.outputMode("update")
            .foreachBatch(sink_epoch)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("substring-span stream did not finish in 600s")
        epochs = [f"{sink}/{d}" for d in os.listdir(sink) if d.startswith("e")]
        if epochs:
            # update mode re-emits a hash's row on every epoch that
            # grows it; counts are monotone, so max(c) is final. Pin
            # the (small) duplicated-hash subset so the sink dir can go.
            shared = (
                spark.read.parquet(*epochs)
                .groupBy("h")
                .agg(F.max("c").alias("c"))
                .filter(F.col("c") >= 2)
                .select("h")
                .localCheckpoint(eager=True)
            )
        else:  # empty source: no epochs, no shared windows
            shared = spark.createDataFrame([], "h string")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)
    base, win = _ss_windows(
        tbl(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return _ss_tail(base, win, shared)


@register(
    "dedup_substring_clean",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(COALESCE(text, ''), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t),
    win AS (
      SELECT doc_id, u.i AS pos,
             md5(array_to_string(list_slice(toks, u.i, u.i + {_SSW - 1}), ' ')) AS h
      FROM base, UNNEST(generate_series(1, len(toks) - {_SSW - 1})) AS u(i)
    ),
    cnt AS (SELECT h FROM win GROUP BY h HAVING COUNT(*) >= 2),
    cov AS (
      SELECT w.doc_id, list_sort(list(DISTINCT tt.t)) AS cov
      FROM win w JOIN cnt USING (h),
           UNNEST(generate_series(w.pos, w.pos + {_SSW - 1})) AS tt(t)
      GROUP BY w.doc_id
    ),
    clean AS (
      SELECT b.doc_id, b.n_tokens,
             list_filter(
               list_transform(generate_series(1, len(b.toks)),
                              i -> CASE WHEN NOT list_contains(
                                          COALESCE(c.cov, []), i)
                                        THEN b.toks[i] END),
               x -> x IS NOT NULL) AS kept
      FROM base b LEFT JOIN cov c USING (doc_id)
    )
    SELECT doc_id, n_tokens,
           CAST(len(kept) AS BIGINT) AS n_kept,
           -- COALESCE: DuckDB's array_to_string([]) is NULL where
           -- Spark's array_join is '' — a fully-excised doc must hash
           -- the empty string in both engines
           md5(COALESCE(array_to_string(kept, ' '), '')) AS cleaned_md5,
           CAST(CASE WHEN n_tokens > 0
                     THEN len(kept) * 1048576 // n_tokens
                     ELSE 1048576 END AS BIGINT) AS kept_frac_fp
    FROM clean
    """,
    doc="the APPLY step of exact-substring dedup (Lee et al. 2022 "
    "excise the duplicated spans, keep the rest): tokens whose "
    "position falls in any corpus-shared window are dropped and the "
    "cleaned text is re-joined — reported as (n_kept, md5(cleaned), "
    "kept fraction on the 2^20 grid) so the corpus-sized string never "
    "reaches the comparison. Shares the window/coverage machinery of "
    "dedup_substring_spans; the per-doc positional filter is "
    "O(n·|covered|) column algebra with both relations doc-bounded. "
    "Scale shape: same linear window-count shuffle as the spans op "
    "plus one join on doc_id of the covered-position sets.",
)
def dedup_substring_clean(spark, sf_dir):
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    base, win = _ss_windows(docs)  # one tokenization for toks AND windows
    cov = (
        _ss_covered(win, _ss_shared(win))
        .groupBy("doc_id")
        .agg(F.collect_set("t").alias("cov"))
    )
    joined = base.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.filter(
            "toks",
            lambda x, i: ~F.array_contains(
                F.coalesce(F.col("cov"), F.array().cast("array<long>")),
                i + F.lit(1).cast("long"),
            ),
        ).alias("kept"),
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        F.size("kept").cast("long").alias("n_kept"),
        F.md5(F.array_join("kept", " ")).alias("cleaned_md5"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr("size(kept) * 1048576L div n_tokens"),
        ).otherwise(F.lit(1 << 20)).cast("long").alias("kept_frac_fp"),
    )


_DECON_SEED = "decon-v1"
_DECON_TRAIN = 9000  # bucket < 9000 of 10000 -> train, else eval


def _decon_bucket_sql(key: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{_DECON_SEED}|' || CAST({key} AS VARCHAR)),"
        f" 1, 12)) AS BIGINT) % 10000"
    )


@register(
    "decontaminate_train_spans",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(COALESCE(text, ''), '\\s+'),
                         x -> x <> '') AS toks,
             ({_decon_bucket_sql('doc_id')}) < {_DECON_TRAIN} AS is_train
      FROM documents
    ),
    base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks,
                    is_train FROM t),
    win AS (
      SELECT doc_id, is_train, u.i AS pos,
             md5(array_to_string(list_slice(toks, u.i, u.i + {_SSW - 1}), ' ')) AS h
      FROM base, UNNEST(generate_series(1, len(toks) - {_SSW - 1})) AS u(i)
    ),
    eh AS (SELECT DISTINCT h FROM win WHERE NOT is_train),
    cov AS (
      SELECT DISTINCT w.doc_id, tt.t
      FROM win w JOIN eh USING (h),
           UNNEST(generate_series(w.pos, w.pos + {_SSW - 1})) AS tt(t)
      WHERE w.is_train
    ),
    dup AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS contam_tokens
      FROM cov GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           COALESCE(d.contam_tokens, 0) AS contam_tokens,
           CAST(CASE WHEN b.n_tokens > 0
                     THEN COALESCE(d.contam_tokens, 0) * 1048576 // b.n_tokens
                     ELSE 0 END AS BIGINT) AS contam_frac_fp
    FROM base b LEFT JOIN dup d USING (doc_id)
    WHERE b.is_train
    """,
    doc="benchmark DECONTAMINATION by exact substring (the cross-set "
    f"variant of dedup_substring_spans, the standard pre-training "
    f"hygiene pass): a deterministic md5 split carves a held-out eval "
    f"set (bucket >= {_DECON_TRAIN} of 10000, seed {_DECON_SEED!r}); "
    f"every {_SSW}-token train window whose fingerprint appears "
    f"ANYWHERE in the eval set marks its positions contaminated, and "
    f"each train doc reports the covered-token union + fraction — the "
    f"spans to excise (or the docs to drop) before training, so eval "
    f"numbers stay honest. Scale shape: identical to the spans op — "
    f"window-hash semi-join, never pair emission; eval hashes are the "
    f"small side and broadcast-eligible.",
)
def decontaminate_train_spans(spark, sf_dir):
    from scip_spark.functions.corpus import hash_bucket

    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    base, win = _ss_windows(docs)
    is_train = hash_bucket(F.col("doc_id"), _DECON_SEED) < _DECON_TRAIN
    eval_hashes = win.filter(~is_train).select("h").distinct()
    train_win = win.filter(is_train)
    dup = _ss_covered_counts(train_win, eval_hashes, alias="contam_tokens")
    out = (
        base.filter(is_train)
        .select("doc_id", "n_tokens")
        .join(dup, "doc_id", "left")
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.coalesce("contam_tokens", F.lit(0)).cast("long").alias("contam_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr("coalesce(contam_tokens, 0) * 1048576L div n_tokens"),
        ).otherwise(F.lit(0)).cast("long").alias("contam_frac_fp"),
    )


@register(
    "dedup_exact_stream",
    None,
    share_sql_with="dedup_exact",  # value-identical twin
    doc="dedup_exact as a STRUCTURED STREAMING ingest ledger (16th "
    "driver-hash-checked streaming entry, closing the one family — "
    "exact dedup — that had a streaming module but no oracle-checked "
    "twin): the document stream feeds a stateful update-mode "
    "groupBy(fingerprint) with BOTH folds arrival-order-free — "
    "min(doc_id) is the canonical-keep rule (never 'first seen', "
    "which would tie the answer to micro-batch arrival order) and "
    "count grows monotonically — drained through a foreachBatch "
    "parquet sink; min/max over the drained epochs is the final "
    "ledger, bit-identical to the batch groupBy, sharing its oracle "
    "SQL verbatim. This is the EXACTLY-ONCE admission ledger of a "
    "streaming corpus-ingest pipeline; the bounded-state production "
    "variant (watermark-evicted dropDuplicatesWithinWatermark, for "
    "unbounded 100 TB/day ingest where late re-crawls fall to the "
    "batch sweep) is streaming/dedup.py::exact_dedup_stream, "
    "semantics pinned in tests/test_streaming.py.",
)
def dedup_exact_stream(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from scip_spark.functions.sketch_queries import _split_to_tmp
    from scip_spark.functions.text import fingerprint

    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = _split_to_tmp(docs, key="doc_id")
    sink = tempfile.mkdtemp(prefix="exact_dedup_sink_")
    try:
        sdocs = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(tmp)
        )
        ledger = (
            sdocs.select("doc_id", fingerprint(F.col("text")).alias("fp"))
            .groupBy("fp")
            .agg(
                F.min("doc_id").alias("canonical_id"),
                F.count("*").alias("n_dups"),
            )
        )

        def sink_epoch(batch_df, epoch_id):
            # idempotent per-epoch path: a retried epoch overwrites
            # its own directory instead of double-appending
            batch_df.write.mode("overwrite").parquet(f"{sink}/e{epoch_id}")

        q = (
            ledger.writeStream.outputMode("update")
            .foreachBatch(sink_epoch)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("exact-dedup stream did not finish in 600s")
        epochs = [f"{sink}/{d}" for d in os.listdir(sink) if d.startswith("e")]
        if not epochs:  # empty source: no groups
            return spark.createDataFrame(
                [], "fp string, canonical_id bigint, n_dups bigint"
            )
        # update mode re-emits a group's row on every epoch that changes
        # it; the running min only decreases and the count only grows,
        # so min/max over emissions IS the final state. Pin the (group-
        # bounded) ledger so the sink dir can go.
        return (
            spark.read.parquet(*epochs)
            .groupBy("fp")
            .agg(
                F.min("canonical_id").alias("canonical_id"),
                F.max("n_dups").alias("n_dups"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)
