"""Deduplication operators for training-data pipelines at 100 TB.

Four families, all shuffle-efficient:

- **Exact**: hash-groupBy on a normalized md5 fingerprint. One shuffle
  on a 32-byte key — never on the document text.
- **MinHash + LSH**: shingle → md5 sliced into N 16-bit min-hashes →
  band digests → candidate pairs via an equi-join on (band_idx, digest).
  The join key is a 32-byte digest, so the shuffle moves O(docs ×
  n_bands) tiny rows; the full text never shuffles. This is the
  banding construction from Broder's MinHash / the MMDS LSH chapter.
- **SimHash**: 16-bit signed-bit aggregation of token hashes; near-dup
  candidates share the exact simhash (or a rotated band of it).
- **n-gram Jaccard**: exact verification on candidate pairs via
  distinct-token joins (inter/union counts).

Everything is built-in expression algebra (md5 / transform /
aggregate / array ops) — JVM codegen, no Python in the hot path, and
every construction is reproducible in ANSI SQL for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scip_spark.functions.text import fingerprint, tokens

N_MINHASH = 8
N_BANDS = 4  # rows-per-band = N_MINHASH // N_BANDS = 2
SIMHASH_BITS = 16


def shingles_from(toks: Column | str, n: int = 3, sep: str = " ") -> Column:
    """Word n-gram shingles from an already-materialized token ARRAY.

    Pass a bound attribute (a projected ``tokens(text).alias(...)``
    column), never an inline tokenizer expression: subexpressions
    inside higher-order-function lambdas get no common-subexpression
    elimination, so an embedded ``tokens(text)`` re-runs the full
    split+filter once PER SHINGLE — O(doc_len) tokenizations per
    document. Staging the token array first made the minhash signature
    pipeline 3.7× faster at sf0.1 (values bit-identical)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    make = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(sep, F.slice(toks, i + 1, n)),
    )
    return F.when(F.size(toks) >= n, make).otherwise(F.array().cast("array<string>"))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as strings; empty array when too short.

    Inline form — the embedded tokenizer re-evaluates per shingle (no
    CSE inside lambdas); hot paths must stage the token array in a
    projection and use :func:`shingles_from` instead."""
    return shingles_from(tokens(text), n)


def minhash_signature(sh: Column, n_hashes: int = N_MINHASH) -> list[Column]:
    """MinHash family: the j-th hash of a shingle is the j-th disjoint
    4-hex-char slice of ONE md5(shingle) — 8 independent-enough 16-bit
    hashes for the price of a single digest (the "one permutation"
    slicing trick). Minima compare lexicographically on hex, which
    orders identically to the underlying 16-bit integers, and the
    construction reproduces bit-exactly in ANSI SQL (md5 + substr).

    16 bits is plenty for LSH candidate generation: band keys are
    rows-per-band × 16 bits and collision-induced estimator bias only
    matters once a document has O(2^16) distinct shingles.

    NB: slicing one digest instead of hashing 8 seeded copies cuts the
    dominant cost of the signature pipeline 8× — md5 over every
    (seed, shingle) pair was the hot loop at table scale.
    """

    def slice_hash(j: int):
        return lambda s: F.substring(F.md5(s), 4 * j + 1, 4)

    return [F.array_min(F.transform(sh, slice_hash(j))) for j in range(n_hashes)]


def band_digests(sig: list[Column], n_bands: int = N_BANDS) -> list[Column]:
    rows_per_band = len(sig) // n_bands
    return [
        F.md5(F.concat_ws("|", *sig[b * rows_per_band : (b + 1) * rows_per_band]))
        for b in range(n_bands)
    ]


def minhash_table(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """doc_id + mh_0..mh_{n-1} + band_0..band_{b-1}, computed entirely
    per ROW — zero shuffle at any corpus size.

    Physical form: two stacked projections. The first materializes ONE
    md5 digest per shingle as an array column (a projection boundary
    CollapseProject keeps, because the alias is non-cheap and
    referenced N times); the second takes the per-slice minima with
    array_min over cheap substring transforms. One md5 per shingle —
    same as the old explode→groupBy(min×N) formulation — but the
    signature never leaves the scanning task: no shingle-per-row
    explosion through the pipeline and no per-doc partial-minima
    shuffle. This is the formulation that survives 100 TB.
    """
    from scip_spark.functions.scale import ensure_parallelism

    # shingle-less docs (fewer than 3 tokens) are dropped, matching the
    # old explode+groupBy (and the oracle's unnest) semantics. The
    # predicate tests the TOKEN count, not the digest array: a filter
    # on the digs alias would be pushdown-substituted and re-evaluate
    # every md5 a second time inside the filter condition.
    # stage the token array as its own projection so the shingle
    # lambda slices a bound attribute — an inline tokens(text) inside
    # the transform re-runs the tokenizer once per shingle (no CSE in
    # lambda bodies); staged vs inline measured 3.7× at sf0.1,
    # signatures bit-identical (tools/probe output in OPTIMIZATION_r15)
    digs = (
        ensure_parallelism(docs)
        .filter(F.size(tokens(text_col)) >= 3)
        .select(F.col(id_col), tokens(text_col).alias("_toks"))
        .select(
            F.col(id_col),
            F.transform(shingles_from("_toks"), lambda s: F.md5(s)).alias("digs"),
        )
    )
    sig = digs.select(
        id_col,
        *[
            F.array_min(
                F.transform("digs", lambda d: F.substring(d, 4 * j + 1, 4))
            ).alias(f"mh_{j}")
            for j in range(N_MINHASH)
        ],
    )
    bands = band_digests([F.col(f"mh_{j}") for j in range(N_MINHASH)])
    return sig.select(
        id_col,
        *[F.col(f"mh_{j}") for j in range(N_MINHASH)],
        *[b.alias(f"band_{i}") for i, b in enumerate(bands)],
    )


HOT_BUCKET_THRESHOLD = 64


def lsh_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hot_bucket_threshold: int = HOT_BUCKET_THRESHOLD,
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing any LSH band.

    Scale path: the exploded (band_idx, digest) relation shuffles
    ~32 B/row and the signature pipeline runs ONCE (a self-join would
    carry two full copies of it); the only shuffle is the bucket
    groupBy. Collecting a bucket's member ids is cheap even for a
    mega-bucket (100k ids ≈ 800 KB), but the TRIANGULAR pair expansion
    is n² — 10¹⁰ structs inside one task for a 100k-doc boilerplate
    cluster, and no optimizer can split a single aggregation group.
    So buckets larger than ``hot_bucket_threshold`` emit a STAR instead
    (min member ↔ every other member): n−1 pairs, bounded per-task
    memory, and exactly the same connected components downstream —
    a star keeps the whole cluster linked, which is what the candidate
    graph exists for. Small buckets keep exact all-pairs semantics.
    """
    mh = minhash_table(docs, text_col, id_col)
    buckets = mh.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(f"band_{i}") for i in range(N_BANDS)])).alias(
            "band_idx", "digest"
        ),
    )
    members = buckets.groupBy("band_idx", "digest").agg(
        F.array_sort(F.collect_list(id_col)).alias("ms")
    ).filter(F.size("ms") > 1)
    # one conditional projection, NOT a union of two filtered branches:
    # a union would re-run the whole signature pipeline once per branch.
    # ms is sorted ascending, so element_at(ms, 1) is the bucket minimum.
    pair_expr = F.when(
        F.size("ms") <= hot_bucket_threshold,
        F.expr(
            "flatten(transform(ms, (x, i) -> "
            "transform(slice(ms, i + 2, size(ms) - i - 1), "
            "y -> struct(x AS id_a, y AS id_b))))"
        ),
    ).otherwise(
        F.expr(
            "transform(slice(ms, 2, size(ms) - 1), "
            "y -> struct(element_at(ms, 1) AS id_a, y AS id_b))"
        )
    )
    return (
        members.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _cut_lineage(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and return a frame whose plan starts
    at the materialized data. When a reliable checkpoint dir is set
    (``sc.setCheckpointDir``), ``checkpoint()`` writes it to the shared
    store, where it survives executor loss. With no dir set, the
    fallback is ``localCheckpoint()`` — NOTE its trade-off: partitions
    become NON-recomputable, so losing an executor fails the job instead
    of recomputing; acceptable on a single node / short iteration, but
    set a checkpoint dir at cluster scale."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Union-find over candidate pairs as iterative label propagation:
    every node starts as its own component; each round joins the
    current labels across edges and keeps the minimum. The min label
    advances ONE hop per round, so convergence takes O(graph diameter)
    rounds — dup clusters are near-cliques (diameter 2-3), so the
    default bound is generous, but a pathological chain longer than
    ``max_iter`` is REFUSED loudly (RuntimeError) rather than returning
    silently-unconverged labels that would disagree with the
    fully-converged recursive-CTE oracle. The reference has no
    grouping-of-duplicates operator at all; this is the standard Spark
    CC loop (GraphFrames' algorithm reduced to DataFrames).

    ``pairs``: (id_a, id_b). Returns (node_id, component) where
    component = min node id in the cluster. A pair with a NULL endpoint
    is dropped on entry: it links nothing, and its non-NULL endpoint
    gets a label only if some other pair names it. (The LSH candidate
    pairs never carry a NULL id: ``collect_list`` skips them.)

    Entry materialization: ``pairs`` is usually lazy (text → MinHash →
    LSH buckets), and every round's plan reads the edge relation. So the
    symmetric edges plus one self-loop per node are built in ONE pass
    over ``pairs`` and cut from their lineage (:func:`_cut_lineage`,
    the same checkpoint rule the loop applies every 4 rounds). The
    upstream pipeline runs once per call, and every later plan — each
    round's join and agg, and whatever the caller builds on the returned
    labels — starts from a checkpoint leaf instead of re-embedding and
    re-analyzing the LSH subtree. The node set is the self-loop rows.
    With no checkpoint dir set, both cuts are ``localCheckpoint()``:
    cheap, but not recomputable after an executor loss (see
    :func:`_cut_lineage`) — set a checkpoint dir at cluster scale.

    Per-round shape: ONE join. A self-loop edge per node makes the
    propagation groupBy see the node's own previous label alongside its
    neighbors', so the label update (min over neighborhood ∪ self), the
    node's old label (min over the self edge alone), and therefore the
    convergence flag (new < old) all come out of the SAME aggregation —
    no second join against the previous labels for the update, and no
    third join for the changed-count. Measured 0.55× the two-join loop
    at sf0.1 (OPTIMIZATION_r15.md, labels bit-identical, same 5 rounds).
    """
    ends = pairs.filter(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())

    def edge(s: str, d: str) -> Column:
        return F.struct(F.col(s).alias("src"), F.col(d).alias("dst"))

    # both directions of every pair plus a self-loop on each endpoint;
    # distinct() collapses a reflexive pair and repeated self-loops, so
    # every node carries exactly one (x, x) edge. Labels ignore edge
    # multiplicity anyway: min over neighborhood ∪ self.
    edges = _cut_lineage(
        ends.select(
            F.explode(
                F.array(edge("id_a", "id_b"), edge("id_b", "id_a"),
                        edge("id_a", "id_a"), edge("id_b", "id_b"))
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    labels = edges.filter(F.col("src") == F.col("dst")).select(
        F.col("src").alias("node_id"), F.col("src").alias("component")
    )
    prev_cached = None
    for it in range(max_iter):
        # propagate: new label for dst = min(label[src]) over in-edges,
        # which include the self-loop, so this IS least(old, neighbor_min);
        # `own` (the self edge's label) recovers the old label for the
        # change flag without touching the previous round's relation again
        staged = (
            edges.join(labels, edges.src == labels.node_id)
            .groupBy(F.col("dst").alias("node_id"))
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("src") == F.col("dst"), F.col("component"))).alias("own"),
            )
            .withColumn("chg", F.col("component") < F.col("own"))
            .drop("own")
            .cache()
        )
        changed = staged.agg(F.max("chg")).first()[0]
        new_labels = staged.drop("chg")
        # the agg above materialized staged; the previous iteration's
        # cache is dead weight from here on — without this unpersist,
        # 20 iterations pile 20 label snapshots into executor storage
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = staged
        # every few rounds, truncate the lineage: each round's plan
        # embeds the previous labels (propagation join), so un-truncated
        # lineage grows per round. Eager here too (the agg above
        # materialized the data), and it cuts the plan back to the
        # checkpointed RDD.
        if (it + 1) % 4 == 0:
            cp = _cut_lineage(new_labels)
            staged.unpersist()  # checkpoint storage supersedes the cache
            prev_cached = None
            new_labels = cp
        labels = new_labels
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"{max_iter} rounds (graph diameter exceeds max_iter) — "
            f"raise max_iter"
        )
    # the returned labels stay cached (the caller consumes them next)
    return labels


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """fingerprint → (canonical id, dup count); only the digest shuffles."""
    return (
        docs.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_dups"))
    )


def simhash(text: Column | str, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over whitespace tokens: per-bit signed vote of token
    hashes (md5 prefix → int), bit set when the vote is positive.

    Column form (inlines the token hashing into every bit's fold); for
    table-scale computation prefer :func:`simhash_table`, which
    materializes the hash array behind a projection boundary so each
    token is hashed once instead of once per bit.
    """
    toks = tokens(text)
    h = F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("int"))

    def bit_vote(b: int):
        # two-parameter merge lambda only — see minhash_signature note
        return lambda acc, v: acc + F.when(
            F.shiftright(v, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    out = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(h, F.lit(0).cast("long"), bit_vote(b))
        out = out + F.when(vote > 0, F.lit(2**b)).otherwise(F.lit(0)).cast("long")
    return out


def simhash_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = SIMHASH_BITS
) -> DataFrame:
    """(id, simhash) computed entirely per ROW: one md5 per token into
    an int array (a projection boundary CollapseProject keeps, so the
    hashes are evaluated once, not once per bit), then ``bits`` integer
    folds for the signed bit votes. No explode, no groupBy, and no
    join-back for empty docs — a zero-token array votes 0 on every bit
    and yields simhash 0, exactly like the old NULL-vote left join.
    Zero shuffle at any corpus size."""
    from scip_spark.functions.scale import ensure_parallelism

    hv = ensure_parallelism(docs).select(
        F.col(id_col),
        F.transform(
            tokens(text_col),
            lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("int"),
        ).alias("hv"),
    )

    def bit_vote(b: int):
        return lambda acc, v: acc + F.when(
            F.shiftright(v, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    sim = None
    for b in range(bits):
        vote = F.aggregate("hv", F.lit(0).cast("long"), bit_vote(b))
        term = F.when(vote > 0, F.lit(2**b)).otherwise(F.lit(0)).cast("long")
        sim = term if sim is None else sim + term
    return hv.select(F.col(id_col), sim.alias("simhash"))


def jaccard_pairs(docs: DataFrame, pairs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact token-set Jaccard for candidate pairs via distinct-token
    equi-joins (inter / union counts) — verification stage after LSH."""
    tok = docs.select(
        F.col(id_col).alias("jid"), F.explode(tokens(text_col)).alias("token")
    ).distinct()
    sizes = tok.groupBy("jid").agg(F.count("*").alias("n_tok"))
    ta = tok.select(F.col("jid").alias("id_a"), "token")
    tb = tok.select(F.col("jid").alias("id_b"), "token")
    inter = (
        pairs.join(ta, "id_a").join(tb, ["id_b", "token"]).groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("jid").alias("id_a"), F.col("n_tok").alias("n_a"))
    sb = sizes.select(F.col("jid").alias("id_b"), F.col("n_tok").alias("n_b"))
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .fillna({"n_inter": 0})
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def _chunk_array_of(toks: Column, chunk: int) -> Column:
    """Non-overlapping ``chunk``-token windows from a token-array
    column — the ONE chunking expression, shared by token_chunks (flag
    derivation) and boilerplate_scrub's reassembly so the two can
    never diverge (flags are applied positionally to these chunks).

    ``toks`` MUST be a bound attribute (a staged projection's output),
    never an inline ``tokens(text)`` expression: lambdas get no
    common-subexpression elimination, so an inline tokenizer would be
    re-evaluated once per chunk window — an O(chunks × doc_length)
    per-row blow-up (the winnow_fingerprints lesson; r15 measured the
    staged form at 0.42× the inlined one on the scrub query)."""
    n_chunks = F.ceil(F.size(toks) / F.lit(float(chunk))).cast("int")
    return F.when(F.size(toks) <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(toks, i * chunk + 1, chunk), " "),
        )
    )


def _chunked_docs(
    docs: DataFrame, chunk: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, __bp_chunks) with the tokenizer staged as its own
    projection (see :func:`_chunk_array_of` for why the boundary is
    load-bearing)."""
    return docs.select(
        F.col(id_col), tokens(text_col).alias("__bp_toks")
    ).select(
        id_col, _chunk_array_of(F.col("__bp_toks"), chunk).alias("__bp_chunks")
    )


def token_chunks(
    docs: DataFrame, chunk: int = 4, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Non-overlapping ``chunk``-token windows per document:
    (id, idx, chunk_text, h) with h = 48-bit md5 prefix of the chunk.

    The chunk list is built per-row inside the scan projection
    (tokenize → slice) — zero shuffle; only posexplode widens the
    relation. The analogue of line-splitting in a web-corpus pipeline
    (this corpus has no newlines, so the unit is a fixed token window).
    posexplode_outer + null filter rather than plain posexplode: the
    latter makes InferFiltersFromGenerate push a ``size(chunks) > 0``
    filter below the projections, substituting (and re-evaluating) the
    whole tokenize→chunk chain inside a scan-level Filter (same hazard
    as winnow_fingerprints; the null row an empty array emits is
    filtered on the Generate's OUTPUT, which cannot sink)."""
    from scip_spark.functions.sketches import kmv_hash

    return (
        _chunked_docs(docs, chunk, text_col, id_col)
        .select(
            F.col(id_col),
            F.posexplode_outer("__bp_chunks").alias("idx", "chunk_text"),
        )
        .filter(F.col("idx").isNotNull())
        .withColumn("h", kmv_hash("chunk_text"))
    )


def boilerplate_scrub(
    docs: DataFrame,
    chunk: int = 4,
    max_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove chunks that appear in more than ``max_docs`` distinct
    documents (boilerplate: headers, navigation, license blocks) and
    reassemble each document from its kept chunks, in order.

    The C4/RefinedWeb "line dedup" pass re-expressed relationally, with
    document TEXT kept out of every shuffle:

    1. chunk frequency: a (h, id)-distinct two-phase aggregation over
       the exploded (id, idx, h) projection — 16-byte hashes only;
    2. per-doc boiler flags: the exploded hash relation left-joins the
       boilerplate set (equi-join on h; AQE broadcasts it when small,
       which at production scale it is — frequency > T decays as 1/T)
       and folds back to one boolean array per doc, ordered by idx —
       a groupBy(id) of (idx, bool) pairs, bounded by doc length;
    3. reassembly: the flag arrays join the ORIGINAL docs relation on
       id and the kept chunks are re-derived from the text in the
       final projection.

    Text therefore crosses the wire once (the id-keyed flag join)
    instead of twice (explode→count→join→regroup would shuffle chunk
    text through both the join and the regroup). Every input doc emits
    a row: fully-boilerplate docs as (0 kept, md5('')), and zero-token
    docs (no chunks at all) likewise via the left join.
    """
    ch = token_chunks(docs, chunk=chunk, text_col=text_col, id_col=id_col).select(
        id_col, "idx", "h"
    )  # chunk text pruned before any exchange
    freq = ch.groupBy("h").agg(F.count_distinct(id_col).alias("ndocs"))
    hot = freq.filter(F.col("ndocs") > max_docs).select(
        "h", F.lit(True).alias("is_boiler")
    )
    marked = ch.join(hot, "h", "left").withColumn(
        "is_boiler", F.coalesce("is_boiler", F.lit(False))
    )
    flags = marked.groupBy(id_col).agg(
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.sum(F.when(F.col("is_boiler"), 0).otherwise(1))
        .cast("long")
        .alias("n_kept"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "is_boiler"))),
            lambda x: x["is_boiler"],
        ).alias("boiler_by_idx"),
    )
    # re-derive the chunk list from text (the SAME staged chunking
    # expression the flags were computed from) and keep chunks whose
    # flag is false, in order. LEFT join: a zero-token doc has no
    # exploded rows and therefore no flags row — it must still emit
    # (0 kept, 0 removed, md5('')) rather than vanish.
    rejoined = _chunked_docs(docs, chunk, text_col, id_col).join(
        flags, id_col, "left"
    )
    kept = F.filter(
        F.col("__bp_chunks"),
        lambda c, i: ~F.element_at(F.col("boiler_by_idx"), i + 1),
    )
    return rejoined.select(
        id_col,
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        F.md5(F.array_join(kept, " ")).alias("clean_md5"),
    )


BITMASK_VOCAB_CAP = 4096  # <= 64 longs of mask per doc

#: Broadcast budget for the bitmask paths' per-doc relations (masks /
#: prefixes). A <=4096-token vocabulary caps the candidate join's key
#: cardinality at |vocab|, so a shuffled join runs with at most |vocab|
#: effective partitions, skewed by token df, and AQE cannot split them
#: (the blow-up is join OUTPUT; the shuffled inputs are tiny). When the
#: per-doc relations provably fit a broadcast we hint them and the
#: fan-out streams through one codegen stage, partitioned by the
#: DOC-side layout instead of the vocabulary. The bound is computed on
#: the driver from data the vocab probe already collected (sum of
#: token document frequencies >= doc count, since every doc contributes
#: >= 1 distinct-token row), NOT from local core count — a 100-TB
#: corpus with a tiny vocabulary fails the gate and keeps the shuffled
#: plan.
_BITMASK_BCAST_BYTES = 64 << 20


def _small_vocab(tok: DataFrame, cap: int):
    """Collect the corpus vocabulary with document frequencies IFF it
    has at most ``cap`` distinct tokens; else None. The collect is
    bounded (``limit(cap + 1)``) so the driver never holds more than
    cap+1 rows no matter the corpus — the one extra aggregation pass
    over the token relation is what buys the bitmask verify below.
    Bits are assigned in sorted-token order, so the mapping is a pure
    function of the vocabulary set (deterministic across runs).

    Cost contract (per round-7 review): this probe is EAGER — it runs
    at plan-construction time, and on a corpus whose vocabulary
    exceeds ``cap`` it is a wasted aggregation pass. Callers that are
    construction-latency-sensitive, or that compose the join lazily,
    should pass ``bitmask_cap=0`` to skip it; streaming inputs skip it
    automatically (``tok.isStreaming`` — a streaming plan cannot be
    collected at build time at all).

    Large-vocabulary corpora (the failure case, i.e. ~all natural
    text) are pre-screened with an HLL estimate: approx_count_distinct
    partial-aggregates map-side and shuffles only one sketch per task,
    so a 100-TB corpus never pays the vocabulary-wide exact groupBy
    shuffle just to learn the vocabulary is too big. The exact probe
    runs only when the estimate is within the cap's error margin
    (HLL rsd=0.02, screened at 1.25×cap — a ~12-sigma margin, so a
    true ≤cap vocabulary is practically never mis-skipped; rsd is a
    standard deviation, not a hard bound, and a freak overestimate
    only costs the bitmask fast path, never correctness); the exact
    probe remains the ground truth — the estimate alone never ADMITS
    a vocabulary."""
    if cap <= 0 or tok.isStreaming:
        return None
    # Per-DataFrame memo (r15, guide §1): the probe is deterministic for
    # a fixed token relation, yet it ran its two jobs (HLL estimate +
    # bounded collect, ~0.9 s warm at sf0.1) on EVERY join call. The
    # session-shared tok relation is a long-lived singleton object, so
    # an instance attribute keyed by cap memoizes exactly per
    # (relation object, cap) and dies with the DataFrame — ad-hoc tok
    # relations get a fresh (empty) memo each call, never a stale one.
    memo = getattr(tok, "_scip_vocab_memo", None)
    if memo is not None and cap in memo:
        return memo[cap]
    result = None
    est = tok.agg(F.approx_count_distinct("token", 0.02)).first()[0]
    if est <= int(cap * 1.25):
        rows = (
            tok.groupBy("token").agg(F.count("*").alias("df"))
            .limit(cap + 1)
            .collect()
        )
        # empty: general path is already O(0)
        if len(rows) <= cap and rows:
            vocab = sorted((r["token"], r["df"]) for r in rows)
            result = [(t, d, i) for i, (t, d) in enumerate(vocab)]
    try:
        if memo is None:
            memo = {}
            tok._scip_vocab_memo = memo
        memo[cap] = result
    except Exception:  # noqa: BLE001 — memo is an optimization only
        pass
    return result


def _mask_relation(tok_bits: DataFrame, n_words: int) -> DataFrame:
    """(sid, n_tok, mask: array<long>[n_words]) from (sid, bit) rows.
    Two groupBys, both keyed by doc id (the second input is at most
    n_words rows per doc) — this replaces the |candidates| × |doc|
    exploded verify join with an O(n_words) popcount per candidate."""
    words = tok_bits.groupBy(
        "sid", (F.col("bit") / 64).cast("int").alias("w")
    ).agg(
        # pyspark's shiftleft() only takes a literal shift — use SQL
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit % 64)")).alias("wv"),
        F.count("*").alias("cnt"),
    )
    return words.groupBy("sid").agg(
        F.sum("cnt").alias("n_tok"),
        F.map_from_entries(F.collect_list(F.struct("w", "wv"))).alias("m"),
    ).select(
        "sid",
        "n_tok",
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            # element_at on a MAP is lookup by key (the word index)
            lambda i: F.coalesce(F.element_at("m", i), F.lit(0).cast("long")),
        ).alias("mask"),
    )


def _shared_mask_relation(tok: DataFrame, tok2: DataFrame,
                          n_words: int, persist_ok: bool) -> DataFrame:
    """Per-tok-object memo of the packed mask relation (r15): setsim
    and containment each rebuilt the same two-groupBy mask relation
    (~1 s warm at sf0.1) on every call against the session-shared
    token relation. Same lifetime discipline as the vocab memo in
    :func:`_small_vocab` — the memo lives on the tok DataFrame
    instance, so ad-hoc relations get a fresh one and nothing leaks
    across sessions. Persisted only when (a) the broadcast gate
    (``persist_ok``) bounds the relation at ``_BITMASK_BCAST_BYTES``
    AND (b) the tok relation is ITSELF persisted — i.e. it is one of
    the session-managed shared relations whose lifetime someone owns;
    an ad-hoc tok would otherwise pin its masks in the JVM
    CacheManager long after the Python object dies (cached blocks
    outlive the instance — review finding, this round). An external
    clearCache just triggers a correct (deterministic) recompute, as
    with queries.session_rel."""
    from pyspark.storagelevel import StorageLevel

    persist_ok = persist_ok and tok.storageLevel != StorageLevel.NONE
    memo = getattr(tok, "_scip_mask_memo", None)
    hit = memo.get(n_words) if memo is not None else None
    if hit is not None:
        if persist_ok and hit.storageLevel == StorageLevel.NONE:
            hit.persist(StorageLevel.MEMORY_AND_DISK)
        return hit
    m = _mask_relation(tok2.select("sid", "bit"), n_words)
    if persist_ok:
        m = m.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if memo is None:
            memo = {}
            tok._scip_mask_memo = memo
        memo[n_words] = m
    except Exception:  # noqa: BLE001 — memo is an optimization only
        pass
    return m


def _mask_inter(a: Column, b: Column, n_words: int | None = None) -> Column:
    """|A ∩ B| as sum of per-word popcounts of AND — exact, no explode.

    When the word count is known at plan time (every bitmask-path
    caller knows it), the fold is UNROLLED into a flat
    ``bit_count(a[i] & b[i]) + ...`` expression chain: higher-order
    ``aggregate``/``zip_with`` lambdas are evaluated interpreted
    (outside whole-stage codegen), and on the candidate fan-out —
    tens of millions of rows at sf0.1 — the lambda machinery cost
    ~2.5 s where the unrolled form is pure codegen (r15 measured,
    guide §4.1: prefer built-in expression trees over HOFs on hot
    paths). ``n_words=None`` keeps the general fold for callers with
    unknown width."""
    if n_words is not None:
        terms = [
            F.bit_count(
                F.element_at(a, i + 1).bitwiseAND(F.element_at(b, i + 1))
            )
            for i in range(n_words)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out.cast("long")
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseAND(y))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _setsim_symdiff1(spark, tok: DataFrame, vocab,
                     threshold: float) -> DataFrame:
    """High-threshold small-universe fast path for
    :func:`setsim_prefix_join` (FastSS/SymSpell-style deletion
    neighborhoods, Bocek et al. 2007, applied to token SETS).

    Gate (checked by the caller, conservatively): per-doc distinct
    token counts are bounded by the universe size ``V = len(vocab)``,
    and Jaccard >= t forces the intersection I >= t/(1+t)·(n_a+n_b),
    so the symmetric difference obeys

        |AΔB| = n_a + n_b - 2I <= (n_a+n_b)(1-t)/(1+t)
              <= 2V(1-t)/(1+t) < 2   whenever  V(1-t) < (1+t).

    Every qualifying pair therefore has |AΔB| ∈ {0, 1}: the token sets
    are IDENTICAL, or one set is the other plus exactly one token.
    Candidates become two bounded equi-joins on packed masks — no
    token-level fan-out, no positional filtering, no distinct:

    1. identical sets: the mask relation self-joined on the mask
       (one row per doc ⇒ each unordered pair emitted once);
    2. one-extra-token: each doc's mask with one set bit cleared (its
       deletion neighborhood, n_tok variants) equi-joined against the
       full masks — a qualifying subset pair matches on exactly the
       one differing bit, so pairs are again emitted exactly once,
       and the two branches are disjoint (n_b = n_a vs n_b = n_a+1).

    The verify is the SAME exact popcount + threshold filter as
    :func:`_setsim_bitmask` (the branches only bound the candidate
    set; near-misses like |AΔB| = 1 with small n fail the filter), and
    the jaccard value is the same one double division of exact longs —
    bit-identical to the general path and the oracle."""
    n_words = (len(vocab) + 63) // 64
    # 16·n_words, not 8: the deletion-variant relation carries TWO
    # n_words-long mask arrays per row (mask_b + vmask), so its rows
    # are ~twice the other per-doc relations' (review finding, this
    # round — the gate must bound the WIDEST broadcast it hints).
    bcast = (
        sum(d for _, d, _ in vocab) * (16 * n_words + 56)
        <= _BITMASK_BCAST_BYTES
    )

    def _maybe_bcast(df):
        return F.broadcast(df) if bcast else df

    vmap = F.broadcast(
        spark.createDataFrame(vocab, ["token", "df", "bit"])
    )
    tok2 = tok.join(vmap, "token").select("sid", "bit")
    masks = _shared_mask_relation(tok, tok2, n_words, bcast)
    ma = masks.select(
        F.col("sid").alias("id_a"), F.col("n_tok").alias("n_a"),
        F.col("mask").alias("mask_a"),
    )
    mb = masks.select(
        F.col("sid").alias("id_b"), F.col("n_tok").alias("n_b"),
        F.col("mask").alias("mask_b"),
    )
    n_inter = _mask_inter(F.col("mask_a"), F.col("mask_b"), n_words)
    jac = n_inter.cast("double") / (
        F.col("n_a") + F.col("n_b") - n_inter
    )
    eq_pairs = (
        ma.join(_maybe_bcast(mb), F.col("mask_a") == F.col("mask_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    # deletion neighborhood of the (would-be superset) B side: clear
    # each set bit in turn; XOR removes it because tok2 only carries
    # set bits
    word_ix = (F.col("bit") / 64).cast("int")
    bit_val = F.expr("shiftleft(CAST(1 AS BIGINT), bit % 64)")
    variants = tok2.join(_maybe_bcast(masks), "sid").select(
        F.col("sid").alias("id_b"), F.col("n_tok").alias("n_b"),
        F.col("mask").alias("mask_b"),
        F.transform(
            "mask",
            lambda w, i: F.when(i == word_ix, w.bitwiseXOR(bit_val))
            .otherwise(w),
        ).alias("vmask"),
    )
    sub_pairs = (
        ma.join(_maybe_bcast(variants), F.col("mask_a") == F.col("vmask"))
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return eq_pairs.unionAll(sub_pairs)


def _setsim_bitmask(spark, tok: DataFrame, vocab, threshold: float,
                    eps: float) -> DataFrame:
    """Small-vocabulary fast path for :func:`setsim_prefix_join`.

    Same prefix-filter candidate generation (rarest-first order by
    (df, token) — identical to the general path, so the completeness
    argument carries over verbatim); the exact verify is
    popcount-of-AND over packed long masks. n_tok comes from a COUNT
    window sharing the row_number window's exchange, so the fast path
    has no sizes join at all.

    Unlike :func:`_containment_bitmask`, the candidate distinct is
    KEPT ahead of the verify joins: setsim's multi-token prefixes
    reach the same pair many times, and an r8 A/B at the 25×
    perturbed probe showed inline per-candidate popcounts (masks
    carried through the bit join, no pre-verify distinct) regressing
    10.6→205 s while the same restructure took containment 119→65 s —
    duplicate multiplicity times the 13-long HOF popcount outweighs
    the shuffle the distinct costs here, and containment at t=1.0 has
    no duplicates at all."""
    from pyspark.sql.window import Window as W

    n_words = (len(vocab) + 63) // 64
    # sum(df) bounds both the doc count and every per-doc relation's
    # row count (prefix subset-of tok2; masks one row per doc) — known
    # on the driver for free, see _BITMASK_BCAST_BYTES.
    bcast = (
        sum(d for _, d, _ in vocab) * (8 * n_words + 48)
        <= _BITMASK_BCAST_BYTES
    )

    def _maybe_bcast(df):
        return F.broadcast(df) if bcast else df

    vmap = F.broadcast(
        spark.createDataFrame(vocab, ["token", "df", "bit"])
    )
    tok2 = tok.join(vmap, "token").select("sid", "token", "df", "bit")
    by_sid = W.partitionBy("sid")
    ranked = tok2.select(
        "sid",
        "bit",
        F.row_number().over(by_sid.orderBy("df", "token")).alias("rn"),
        F.count("*").over(by_sid).alias("n_tok"),
    )
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("n_tok") - F.floor(F.lit(threshold) * F.col("n_tok")) + 1
    )
    a = prefix.select(
        F.col("sid").alias("id_a"), "bit",
        F.col("n_tok").alias("n_a"), F.col("rn").alias("p_a"),
    )
    b = prefix.select(
        F.col("sid").alias("id_b"), "bit",
        F.col("n_tok").alias("n_b"), F.col("rn").alias("p_b"),
    )
    required = F.lit(threshold / (1.0 + threshold)) * (F.col("n_a") + F.col("n_b"))
    ubound = F.least("p_a", "p_b") + F.least(
        F.col("n_a") - F.col("p_a"), F.col("n_b") - F.col("p_b")
    )
    cand = (
        a.join(_maybe_bcast(b), "bit")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("n_a", "n_b")
            >= F.lit(threshold) * F.greatest("n_a", "n_b") - F.lit(eps)
        )
        .filter(ubound >= required - F.lit(eps))
        .select("id_a", "id_b")
        .distinct()
    )
    masks = _shared_mask_relation(tok, tok2, n_words, bcast)
    ma = masks.select(
        F.col("sid").alias("id_a"), F.col("n_tok").alias("n_a"),
        F.col("mask").alias("mask_a"),
    )
    mb = masks.select(
        F.col("sid").alias("id_b"), F.col("n_tok").alias("n_b"),
        F.col("mask").alias("mask_b"),
    )
    n_inter = _mask_inter(F.col("mask_a"), F.col("mask_b"), n_words)
    jac = n_inter.cast("double") / (
        F.col("n_a") + F.col("n_b") - n_inter
    )
    return (
        cand.join(_maybe_bcast(ma), "id_a")
        .join(_maybe_bcast(mb), "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def setsim_prefix_join(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bitmask_cap: int = BITMASK_VOCAB_CAP,
    tok: DataFrame | None = None,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering (the
    AllPairs/PPJoin family) — the deterministic complement to the
    probabilistic MinHash/LSH path: every pair with token-set Jaccard
    >= ``threshold`` is returned, with its exact similarity, and no
    all-pairs product is ever formed.

    Scale design (each step is a partitioned equi-join / groupBy):

    1. Distinct tokens per doc; per-doc set size (one groupBy on id).
    2. Global document frequency per token (groupBy on token; partial
       aggregation map-side, the relation is vocabulary-sized).
    3. Order each doc's tokens rarest-first by (df, token) — a window
       PARTITIONED BY doc id (never global). A pair with Jaccard >= t
       must share a token within the first ``n - ceil(t*n) + 1`` tokens
       of both docs under ANY common total order (prefix-filter
       theorem); we keep ``n - floor(t*n) + 1`` — one token longer — so
       float rounding of ``t*n`` can only lengthen the prefix, never
       break completeness.
    4. Candidates = equi-join of the PREFIX relations on token with
       ``id_a < id_b`` plus the length filter ``min >= t*max - 1e-9``
       (Jaccard >= t forces ``min(|A|,|B|) >= t*max(|A|,|B|)``; the
       epsilon only over-includes — the verify stage is exact).
       Rarest-first ordering keeps stopwords out of prefixes, so
       bucket sizes stay small; residual hot buckets are plain
       equi-join skew AQE can split.
    5. Exact verify on the candidate set only: intersection counts via
       a token equi-join scoped to candidate ids, Jaccard as ONE double
       division of exact longs — bit-identical in any engine.

    Output-size caveat (inherent to ANY exact threshold join, PPJoin
    included): a group of d near-identical documents emits O(d^2)
    pairs — the OUTPUT is quadratic in duplicate multiplicity, no plan
    fixes semantics. The standard composition at scale is
    ``exact_dedup_groups`` first (collapse verbatim copies to one
    canonical doc, linear), then setsim over canonical docs only.

    Vocabulary-keyed dispatch: when the corpus has at most
    ``bitmask_cap`` distinct tokens (established by a bounded
    ``limit(cap+1).collect()`` on the document-frequency relation),
    the verify stage runs on packed per-doc bitmasks —
    ``popcount(mask_a & mask_b)`` over <= cap/64 longs, exact and
    fully codegen — instead of the exploded candidate × token join.
    Candidate generation (the part whose completeness proof matters)
    is byte-identical in both paths. ``bitmask_cap=0`` disables.
    ``tok`` injects a precomputed distinct (sid, token) relation
    (typically session-shared and persisted) so repeated joins skip
    re-tokenizing the corpus.
    """
    eps = 1e-9
    if tok is None:
        tok = docs.select(
            F.col(id_col).alias("sid"), F.explode(tokens(text_col)).alias("token")
        ).distinct()
    vocab = _small_vocab(tok, bitmask_cap)
    if vocab is not None:
        # strict margin so float rounding can only UNDER-fire the
        # specialized path (falling back to the general bitmask plan,
        # which is always correct)
        if len(vocab) * (1.0 - threshold) < (1.0 + threshold) - 1e-9:
            return _setsim_symdiff1(docs.sparkSession, tok, vocab, threshold)
        return _setsim_bitmask(docs.sparkSession, tok, vocab, threshold, eps)
    sizes = tok.groupBy("sid").agg(F.count("*").alias("n_tok"))
    df_tok = tok.groupBy("token").agg(F.count("*").alias("df"))
    from pyspark.sql.window import Window as W

    ranked = (
        tok.join(df_tok, "token")
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("sid").orderBy("df", "token")),
        )
        .join(sizes, "sid")
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("n_tok") - F.floor(F.lit(threshold) * F.col("n_tok")) + 1
    ).select("sid", "token", "n_tok", "rn")
    a = prefix.select(
        F.col("sid").alias("id_a"), "token",
        F.col("n_tok").alias("n_a"), F.col("rn").alias("p_a"),
    )
    b = prefix.select(
        F.col("sid").alias("id_b"), "token",
        F.col("n_tok").alias("n_b"), F.col("rn").alias("p_b"),
    )
    # PPJoin positional filter (Xiao et al. 2008): a collision at sorted
    # positions (p_a, p_b) bounds the whole intersection by
    # min(p_a, p_b) + min(n_a - p_a, n_b - p_b) — tokens before the
    # match contribute at most min(p_a, p_b) - 1 + the match itself,
    # tokens after at most the shorter remaining run. Jaccard >= t
    # needs inter >= t/(1+t) * (n_a + n_b); the bound holds for EVERY
    # collision of a qualifying pair, so filtering each collision is
    # complete. On low-vocabulary corpora (weak prefix pruning) this is
    # the filter that does the work: at t=0.95 it cuts candidates ~40x.
    required = F.lit(threshold / (1.0 + threshold)) * (F.col("n_a") + F.col("n_b"))
    ubound = F.least("p_a", "p_b") + F.least(
        F.col("n_a") - F.col("p_a"), F.col("n_b") - F.col("p_b")
    )
    cand = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("n_a", "n_b")
            >= F.lit(threshold) * F.greatest("n_a", "n_b") - F.lit(eps)
        )
        .filter(ubound >= required - F.lit(eps))
        .select("id_a", "id_b")
        .distinct()
    )
    ta = tok.select(F.col("sid").alias("id_a"), "token")
    tb = tok.select(F.col("sid").alias("id_b"), "token")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("sid").alias("id_a"), F.col("n_tok").alias("n_a"))
    sb = sizes.select(F.col("sid").alias("id_b"), F.col("n_tok").alias("n_b"))
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _containment_bitmask(spark, tok: DataFrame, vocab, threshold: float,
                         eps: float) -> DataFrame:
    """Small-vocabulary fast path for :func:`containment_join`: same
    A-side prefix pruning + full B postings for candidates (joined on
    the vocabulary bit id), popcount-of-AND verify.

    As in :func:`_setsim_bitmask`, the masks ride inline on both join
    sides so the (potentially enormous — a tiny vocabulary makes every
    posting list long) candidate relation streams through ONE codegen
    stage: generated, popcounted, and threshold-filtered without ever
    being shuffled or materialized. At t >= 1.0 the A-prefix is
    exactly one token (rn <= n - floor(n) + 1 = 1), so survivor rows
    are already unique; below 1.0 one distinct over the near-empty
    survivor set restores pair uniqueness (duplicate survivor rows are
    bit-identical: same masks → same double). Same-box warm A/B at the
    25× perturbed probe: 119 s → see SCALE_PROBE.md (the former plan
    shuffled the candidate relation through two verify joins)."""
    from pyspark.sql.window import Window as W

    n_words = (len(vocab) + 63) // 64
    # same driver-known bound + rationale as _setsim_bitmask: the bit
    # key has <= |vocab| distinct values, so broadcast the A-prefix
    # side (subset of the per-doc rows) when it provably fits and let
    # the fan-out stream across the B postings' doc-keyed partitions.
    bcast = (
        sum(d for _, d, _ in vocab) * (8 * n_words + 48)
        <= _BITMASK_BCAST_BYTES
    )

    def _maybe_bcast(df):
        return F.broadcast(df) if bcast else df

    vmap = F.broadcast(
        spark.createDataFrame(vocab, ["token", "df", "bit"])
    )
    tok2 = tok.join(vmap, "token").select("sid", "token", "df", "bit")
    by_sid = W.partitionBy("sid")
    ranked = tok2.select(
        "sid",
        "bit",
        F.row_number().over(by_sid.orderBy("df", "token")).alias("rn"),
        F.count("*").over(by_sid).alias("n_tok"),
    )
    masks = _shared_mask_relation(tok, tok2, n_words, bcast)
    rm = ranked.join(_maybe_bcast(masks.select("sid", "mask")), "sid")
    a = rm.filter(
        F.col("rn")
        <= F.col("n_tok") - F.floor(F.lit(threshold) * F.col("n_tok")) + 1
    ).select(
        F.col("sid").alias("id_a"), "bit",
        F.col("n_tok").alias("n_a"), F.col("mask").alias("mask_a"),
    )
    b = rm.select(
        F.col("sid").alias("id_b"), "bit",
        F.col("n_tok").alias("n_b"), F.col("mask").alias("mask_b"),
    )
    n_inter = _mask_inter(F.col("mask_a"), F.col("mask_b"), n_words)
    cont = n_inter.cast("double") / F.col("n_a")
    out = (
        _maybe_bcast(a).join(b, "bit")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(F.col("n_b") >= F.lit(threshold) * F.col("n_a") - F.lit(eps))
        .select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )
    if threshold < 1.0:
        out = out.distinct()
    return out


def _gram_stage(
    docs: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """(sid, grams: array<long>) — md5-48bit hashes of the token
    k-grams, staged as two projections (tokens, then grams) so the
    per-element lambdas reference bound attributes; see
    :func:`winnow_fingerprints` for why the boundaries matter."""
    stage = docs.select(
        F.col(id_col).alias("sid"), tokens(text_col).alias("toks")
    )
    n_sh = F.size("toks") - k + 1
    return stage.select(
        "sid",
        F.when(
            n_sh >= 1,
            F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.conv(
                    F.substring(
                        F.md5(F.concat_ws(" ", F.slice("toks", i, k))), 1, 12
                    ),
                    16,
                    10,
                ).cast("long"),
            ),
        ).otherwise(F.array().cast("array<long>")).alias("grams"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS construction): hash every token ``k``-gram,
    slide a window of ``w`` consecutive k-gram hashes, keep the window
    minimum. The winnowing theorem guarantees any shared token run of
    length >= w + k - 1 contributes at least one SHARED fingerprint,
    while only ~2/(w+1) of the k-grams are kept — substring-level
    duplicate detection at a fraction of full n-gram indexing.

    Entirely per-row array algebra (shingle → md5-48bit → windowed
    array_min → array_distinct) — ZERO shuffle up to the returned
    exploded (doc, fp) relation; text never leaves its input
    partition. Docs shorter than w + k - 1 tokens emit no rows.

    Each derivation level (tokens → gram hashes → window minima) is
    its own PROJECTION: Spark's common-subexpression elimination does
    not descend into higher-order-function lambdas, so inlining
    ``grams`` into the per-window ``slice`` would re-tokenize and
    re-hash the whole document once PER WINDOW POSITION — a ~L×
    per-row blow-up (measured: minutes vs seconds at sf0.1).
    CollapseProject keeps these boundaries because the multiply
    referenced producers are non-cheap. The final explode is
    ``explode_outer`` + ``fp IS NOT NULL`` rather than plain explode:
    InferFiltersFromGenerate would otherwise add ``size(fps) > 0``
    and push it below every projection, SUBSTITUTING the full nested
    expression into a scan-level Filter — the exact recomputation the
    projection boundaries exist to prevent (measured 50× slower). The
    null filter is equivalent (empty arrays yield one null row) and
    cannot sink below the Generate that creates ``fp``."""
    stage = _gram_stage(docs, k, text_col, id_col)
    nw = F.size("grams") - w + 1
    stage = stage.select(
        "sid",
        F.when(
            nw >= 1,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), nw),
                    lambda j: F.array_min(F.slice("grams", j, w)),
                )
            ),
        ).otherwise(F.array().cast("array<long>")).alias("fps"),
    )
    return stage.select(
        "sid", F.explode_outer("fps").alias("fp")
    ).filter(F.col("fp").isNotNull())


def winnow_fingerprint_positions(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`winnow_fingerprints` with POSITION evidence: (sid, fp,
    pos) where ``pos`` is the 1-based token index of the selected
    minimal k-gram (leftmost minimum per window — a deterministic
    common convention, so equal runs in two docs select aligned
    positions). A matched fingerprint witnesses a shared token run
    covering at least tokens [pos, pos + k - 1] in each doc. Same
    staged-projection / explode_outer discipline as
    :func:`winnow_fingerprints` (see there for why)."""
    stage = _gram_stage(docs, k, text_col, id_col)
    nw = F.size("grams") - w + 1

    def _win(j):
        sl = F.slice("grams", j, w)
        mn = F.array_min(sl)
        return F.struct(
            mn.alias("fp"),
            (j.cast("long") + F.array_position(sl, mn) - 1).alias("pos"),
        )

    stage = stage.select(
        "sid",
        F.when(
            nw >= 1,
            F.array_distinct(F.transform(F.sequence(F.lit(1), nw), _win)),
        ).otherwise(
            F.array().cast("array<struct<fp:bigint,pos:bigint>>")
        ).alias("fps"),
    )
    return stage.select(
        "sid", F.explode_outer("fps").alias("s")
    ).filter(F.col("s").isNotNull()).select(
        "sid", F.col("s.fp").alias("fp"), F.col("s.pos").alias("pos")
    )


def winnow_dup_spans(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    df_cap: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level duplication evidence: for every unordered doc pair
    sharing >= ``min_shared`` winnowing fingerprints, the EXTENT of
    the shared material in each doc — (id_a, id_b, n_shared,
    a_start, a_end, b_start, b_end) in 1-based token-position space
    (an end position covers tokens through pos + k - 1). This is the
    actionable form of :func:`winnow_dup_pairs`: a pipeline can cut
    or dedup the offending spans instead of dropping whole docs.

    Same scale shape as the pair query (df-capped fingerprint
    equi-join, no all-pairs); a fingerprint recurring at several
    positions contributes one matched row per position combination
    (deterministic; bounded by the df cap and per-doc fp counts)."""
    fp = winnow_fingerprint_positions(
        docs, k=k, w=w, text_col=text_col, id_col=id_col
    )
    ok = (
        fp.select("sid", "fp").distinct()
        .groupBy("fp").agg(F.count("*").alias("c"))
        .filter(F.col("c") <= df_cap)
        .select("fp")
    )
    fpo = fp.join(ok, "fp")
    a = fpo.select(
        F.col("sid").alias("id_a"), "fp", F.col("pos").alias("pos_a")
    )
    b = fpo.select(
        F.col("sid").alias("id_b"), "fp", F.col("pos").alias("pos_b")
    )
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_shared"),
            F.min("pos_a").alias("a_start"),
            F.max("pos_a").alias("a_end"),
            F.min("pos_b").alias("b_start"),
            F.max("pos_b").alias("b_end"),
        )
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_dup_pairs(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    df_cap: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level near-duplicate pairs via shared winnowing
    fingerprints: (id_a, id_b, n_shared) for every unordered doc pair
    sharing at least ``min_shared`` fingerprints. This sits between
    chunk-level boilerplate scrubbing (fixed chunks, exact match) and
    set-level Jaccard (order-blind): it detects COPIED TOKEN RUNS of
    length >= w + k - 1 anywhere in either doc.

    Scale: candidate generation is an equi-join on the 48-bit
    fingerprint; fingerprints appearing in more than ``df_cap`` docs
    (global boilerplate) are dropped first — the same hot-key cap as
    the LSH band join, bounding any posting list at df_cap and the
    pair fan-out at df_cap^2 per fingerprint. No all-pairs product;
    document text never shuffles (only 8-byte fps + ids)."""
    fp = winnow_fingerprints(docs, k=k, w=w, text_col=text_col, id_col=id_col)
    ok = (
        fp.groupBy("fp").agg(F.count("*").alias("c"))
        .filter(F.col("c") <= df_cap)
        .select("fp")
    )
    fpo = fp.join(ok, "fp")
    a = fpo.select(F.col("sid").alias("id_a"), "fp")
    b = fpo.select(F.col("sid").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def containment_join(
    docs: DataFrame,
    threshold: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    bitmask_cap: int = BITMASK_VOCAB_CAP,
    tok: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC set-containment self-join: directed pairs (a, b),
    a != b, with |A∩B| / |A| >= threshold — the copy-paste-inclusion
    detector. Symmetric Jaccard's length filter (min >= t*max) MISSES a
    short document pasted into a long one; containment is the right
    semantics for sub-document duplication.

    Prefix filter (exact): if containment >= t then A has at most
    n_a - ceil(t*n_a) tokens outside B, so among A's
    ``n_a - floor(t*n_a) + 1`` rarest tokens (floor: one longer than
    needed, float-rounding-safe) at least one is in B. Only A is
    prefix-pruned — the matching token can sit anywhere in B, so B
    contributes its full posting list (the inverted index); rarest-first
    ordering keeps A-prefix tokens low-df, which bounds candidates by
    the POSTING LENGTH OF RARE TOKENS, not corpus size. Length filter:
    inter <= n_b forces n_b >= t*n_a. Exact verify on candidates only.
    At threshold 1.0 the A-prefix is a single token (its rarest).

    Same vocabulary-keyed bitmask dispatch as
    :func:`setsim_prefix_join` (see there); ``bitmask_cap=0``
    disables. ``tok`` injects a precomputed distinct (sid, token)
    relation (typically session-shared and persisted) so repeated
    joins skip re-tokenizing the corpus."""
    eps = 1e-9
    if tok is None:
        tok = docs.select(
            F.col(id_col).alias("sid"), F.explode(tokens(text_col)).alias("token")
        ).distinct()
    vocab = _small_vocab(tok, bitmask_cap)
    if vocab is not None:
        return _containment_bitmask(docs.sparkSession, tok, vocab, threshold, eps)
    sizes = tok.groupBy("sid").agg(F.count("*").alias("n_tok"))
    df_tok = tok.groupBy("token").agg(F.count("*").alias("df"))
    from pyspark.sql.window import Window as W

    ranked = (
        tok.join(df_tok, "token")
        .withColumn(
            "rn", F.row_number().over(W.partitionBy("sid").orderBy("df", "token"))
        )
        .join(sizes, "sid")
    )
    a = ranked.filter(
        F.col("rn") <= F.col("n_tok") - F.floor(F.lit(threshold) * F.col("n_tok")) + 1
    ).select(F.col("sid").alias("id_a"), "token", F.col("n_tok").alias("n_a"))
    b = tok.join(sizes, "sid").select(
        F.col("sid").alias("id_b"), "token", F.col("n_tok").alias("n_b")
    )
    cand = (
        a.join(b, "token")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(F.col("n_b") >= F.lit(threshold) * F.col("n_a") - F.lit(eps))
        .select("id_a", "id_b")
    )
    if threshold < 1.0:
        # single-token A-prefix at t >= 1.0: rows already unique (see
        # the bitmask path)
        cand = cand.distinct()
    ta = tok.select(F.col("sid").alias("id_a"), "token")
    tb = tok.select(F.col("sid").alias("id_b"), "token")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("sid").alias("id_a"), F.col("n_tok").alias("n_a"))
    cont = F.col("n_inter").cast("double") / F.col("n_a")
    return (
        inter.join(sa, "id_a")
        .select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )
