"""Column-form APIs (per-row expressions) must agree with the
table-scale (exploded/aggregated) plans that the registry queries use."""

import pandas as pd
from pyspark.sql import functions as F


def _docs(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog",
                    "der hund ist nicht der beste und das ist gut",
                    "a a a b",
                    "xy",  # too short for 3-shingles
                ],
            }
        )
    )


def test_quality_columns_match_exploded_query(spark):
    from scip_spark.functions.text import quality_columns, tokens

    docs = _docs(spark)
    cols = quality_columns("text")
    closed = docs.select("doc_id", *[c.alias(n) for n, c in cols.items()]).toPandas()
    row = closed.set_index("doc_id").loc[0]
    assert row.n_tokens == 9
    assert row.n_stopwords == 2  # 'the' twice
    assert abs(row.stopword_ratio - 2 / 9) < 1e-12


def test_lang_id_column(spark):
    from scip_spark.functions.text import lang_id

    out = _docs(spark).select("doc_id", lang_id("text").alias("l")).toPandas()
    got = dict(zip(out.doc_id, out.l))
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[3] == "unknown"


def _lang_id_reference(text):
    """Pure-Python lang_id: marker hits on lowercased whitespace tokens,
    first maximum in LANG_MARKERS order wins, 'unknown' on no hit."""
    from scip_spark.functions.text import LANG_MARKERS

    toks = [t.lower() for t in (text or "").split()]
    best, best_n = "unknown", 0
    for lang, words in LANG_MARKERS.items():
        n = sum(t in words for t in toks)
        if n > best_n:
            best, best_n = lang, n
    return best


def test_lang_id_matches_python_reference(spark):
    import random

    from scip_spark.functions.text import LANG_MARKERS, lang_id

    rng = random.Random(17)
    langs = list(LANG_MARKERS)
    vocab = [w for ws in LANG_MARKERS.values() for w in ws] + ["fox", "xyz", "42"]

    def case(w):
        return rng.choice([w, w.upper(), w.capitalize()])

    texts = []
    for _ in range(150):
        words = [case(rng.choice(vocab)) for _ in range(rng.randint(0, 9))]
        texts.append(rng.choice([" ", "  ", "\t", "\n "]).join(words))
    for _ in range(40):  # planted ties: equal hits for two or three languages
        tied = rng.sample(langs, rng.randint(2, 3))
        n = rng.randint(1, 3)
        words = [case(rng.choice(LANG_MARKERS[l])) for l in tied for _ in range(n)]
        rng.shuffle(words)
        texts.append(" ".join(words + ["fox"] * rng.randint(0, 2)))
    texts += ["", " ", "\t\n  ", None, "fox xyz", " The  DER "]

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    out = docs.select("doc_id", lang_id("text").alias("l")).toPandas()
    got = dict(zip(out.doc_id, out.l))
    want = {i: _lang_id_reference(t) for i, t in enumerate(texts)}
    assert got == want
    # every outcome is exercised, and the ties really are ties
    assert set(want.values()) == {"unknown", *langs}
    assert want[len(texts) - 1] == "en"  # one hit each: earliest language wins


def test_lang_id_expression_stays_linear(spark):
    """Each language's marker filter appears once per score array use
    (array_position's array and array_max's); a fold referencing its
    accumulator twice per step would double the tree per language."""
    from scip_spark.functions.text import LANG_MARKERS, lang_id

    docs = _docs(spark).select(lang_id("text").alias("l"))
    analyzed = docs._jdf.queryExecution().analyzed().toString()
    assert 0 < analyzed.count("array_contains") <= 2 * len(LANG_MARKERS)


def test_minhash_signature_closed_form_matches_table(spark):
    from scip_spark.functions.dedup import (
        N_MINHASH,
        minhash_signature,
        minhash_table,
        shingles,
    )

    docs = _docs(spark).filter(F.col("doc_id") < 3)
    sig_cols = minhash_signature(shingles("text"))
    closed = docs.select(
        "doc_id", *[c.alias(f"mh_{j}") for j, c in enumerate(sig_cols)]
    ).toPandas().set_index("doc_id").sort_index()
    table = minhash_table(docs).toPandas().set_index("doc_id").sort_index()
    for j in range(N_MINHASH):
        assert (closed[f"mh_{j}"] == table[f"mh_{j}"]).all()


def test_shingles_from_bound_tokens_matches_inline(spark):
    """The staged form (token array materialized as a projection,
    shingles built from the bound attribute — the no-CSE-in-lambdas
    fix) must emit exactly the inline shingles(text) arrays, including
    the empty array for too-short docs."""
    from scip_spark.functions.dedup import shingles, shingles_from
    from scip_spark.functions.text import tokens

    docs = _docs(spark)
    inline = docs.select("doc_id", shingles("text").alias("sh")).toPandas()
    staged = (
        docs.select("doc_id", tokens("text").alias("_toks"))
        .select("doc_id", shingles_from("_toks").alias("sh"))
        .toPandas()
    )
    a = inline.set_index("doc_id")["sh"].map(list).sort_index()
    b = staged.set_index("doc_id")["sh"].map(list).sort_index()
    assert (a == b).all()
    assert b.loc[3] == []  # "xy": too short for 3-shingles


def test_simhash_closed_form_matches_table(spark):
    from scip_spark.functions.dedup import simhash, simhash_table

    docs = _docs(spark)
    closed = (
        docs.select("doc_id", simhash("text").alias("s"))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    table = simhash_table(docs).toPandas().set_index("doc_id").sort_index()
    assert (closed["s"] == table["simhash"]).all()


def test_setsim_prefix_join_matches_bruteforce(spark):
    """Prefix filtering must be COMPLETE: the pruned join returns exactly
    the brute-force Jaccard>=t pair set, with exact similarities."""
    from itertools import combinations

    from scip_spark.functions.dedup import setsim_prefix_join

    corpus = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumps over a lazy dog",       # near-dup of 1
        3: "quick brown fox jumps over the lazy dog the",     # same set as 1
        4: "entirely different words compose this sentence",
        5: "entirely different words compose this sentence too",
        6: "short text",
        7: "short text",                                       # exact dup of 6
        8: "unrelated singleton content here",
    }
    t = 0.6
    docs = spark.createDataFrame(
        [(k, v) for k, v in corpus.items()], ["doc_id", "text"]
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in setsim_prefix_join(docs, threshold=t).collect()
    }
    sets = {k: set(v.split()) for k, v in corpus.items()}
    want = {}
    for a, b in combinations(sorted(corpus), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        j = inter / union
        if j >= t:
            want[(a, b)] = j
    assert set(got) == set(want)
    for pair, j in want.items():
        assert got[pair] == j  # one exact-int division — bit-identical
    assert (1, 3) in got and got[(1, 3)] == 1.0
    assert (6, 7) in got and got[(6, 7)] == 1.0


def test_setsim_prefix_join_prunes_vs_allpairs(spark):
    """On a corpus with two disjoint vocabularies the candidate join must
    not touch cross-vocabulary pairs (prefix tokens never collide)."""
    from scip_spark.functions.dedup import setsim_prefix_join

    rows = [(i, f"alpha{i % 3} beta{i % 3} gamma{i % 3} delta{i % 3}") for i in range(20)]
    rows += [(100 + i, f"zeta{i % 3} eta{i % 3} theta{i % 3} iota{i % 3}") for i in range(20)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = setsim_prefix_join(docs, threshold=0.9).collect()
    for r in out:
        assert (r.id_a < 100) == (r.id_b < 100)
        assert r.jaccard == 1.0
    # per side, docs with equal i%3 share identical token sets: cliques
    # of sizes 7/7/6 -> C(7,2)+C(7,2)+C(6,2) = 57 pairs per side
    assert len(out) == 2 * (21 + 21 + 15)


def test_setsim_bitmask_path_matches_general(spark):
    """Vocabulary-keyed dispatch: the packed-bitmask verify
    (vocab <= cap) must return EXACTLY the general exploded-verify
    path's pairs and similarities. 150 distinct tokens forces 3-long
    masks (crosses the 64-bit word boundary twice); seeded overlaps
    produce pairs on both sides of the threshold; one empty doc pins
    the no-token exclusion in both paths."""
    import random

    from scip_spark.functions.dedup import setsim_prefix_join

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(150)]
    rows = []
    for i in range(60):
        base = rng.sample(vocab, rng.randint(3, 12))
        rows.append((i, " ".join(base)))
        if rng.random() < 0.5:  # near-dup with a few swaps
            mut = list(base)
            for _ in range(rng.randint(0, 2)):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            rows.append((1000 + i, " ".join(mut)))
    rows.append((9999, ""))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for t in (0.5, 0.9):
        fast = sorted(map(tuple, setsim_prefix_join(docs, threshold=t).collect()))
        slow = sorted(map(tuple, setsim_prefix_join(
            docs, threshold=t, bitmask_cap=0).collect()))
        assert fast == slow
        assert fast  # non-vacuous: the generator must produce pairs


def test_setsim_symdiff1_path_matches_general(spark):
    """r15 high-threshold small-universe fast path (deletion
    neighborhoods): when V*(1-t) < (1+t), every qualifying pair has
    token-set symmetric difference <= 1, and setsim dispatches to the
    mask-equality + one-bit-deletion joins. Pins (a) exact pair/value
    equality against the general exploded-verify path across the gate
    boundary, (b) that exact-set duplicates (order/multiplicity
    perturbed) and one-token add/drop near-dups are all found, and
    (c) that near-misses (sym diff 1 on short docs) are correctly
    rejected by the exact verify."""
    import random

    from scip_spark.functions.dedup import setsim_prefix_join

    rng = random.Random(13)
    vocab = [f"t{i}" for i in range(24)]  # gate: 24*(1-t) < 1+t for t>=0.93
    rows = []
    for i in range(70):
        base = rng.sample(vocab, rng.randint(1, 22))
        rows.append((i, " ".join(base)))
        r = rng.random()
        if r < 0.35:  # exact set dup: shuffled order + repeated tokens
            dup = list(base)
            rng.shuffle(dup)
            dup += rng.sample(base, min(2, len(base)))
            rows.append((1000 + i, " ".join(dup)))
        elif r < 0.7:  # one-token add or drop
            mut = list(base)
            extras = [v for v in vocab if v not in mut]
            if rng.random() < 0.5 and len(mut) > 1:
                mut.pop(rng.randrange(len(mut)))
            elif extras:
                mut.append(rng.choice(extras))
            rows.append((2000 + i, " ".join(mut)))
    rows.append((9999, ""))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # 0.9: gate OFF (24*0.1 > 1.9) — general bitmask path;
    # 0.95/1.0: gate ON — symdiff1 path. All must agree with the
    # exploded-verify ground truth bit-for-bit.
    for t, gate in ((0.9, False), (0.95, True), (1.0, True)):
        assert (len(vocab) * (1.0 - t) < (1.0 + t) - 1e-9) is gate
        fast = sorted(map(tuple, setsim_prefix_join(docs, threshold=t).collect()))
        slow = sorted(map(tuple, setsim_prefix_join(
            docs, threshold=t, bitmask_cap=0).collect()))
        assert fast == slow
        assert fast  # non-vacuous


def test_containment_bitmask_path_matches_general(spark):
    """Same dual-path equivalence for the asymmetric containment join,
    including sub-document inclusion pairs (short docs sampled from a
    long doc's tokens)."""
    import random

    from scip_spark.functions.dedup import containment_join

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(150)]
    rows = []
    for i in range(40):
        base = rng.sample(vocab, rng.randint(5, 20))
        rows.append((i, " ".join(base)))
        if rng.random() < 0.4:  # short doc drawn from base: containment 1.0
            rows.append((1000 + i, " ".join(rng.sample(base, 3))))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for t in (1.0, 0.8):
        fast = sorted(map(tuple, containment_join(docs, threshold=t).collect()))
        slow = sorted(map(tuple, containment_join(
            docs, threshold=t, bitmask_cap=0).collect()))
        assert fast == slow
        assert fast


def test_winnow_dup_pairs_detects_copied_runs(spark):
    """Winnowing theorem (k=5, w=4): a shared token run of length
    >= w + k - 1 = 8 MUST produce at least one shared fingerprint;
    docs with no shared run of that length and disjoint vocab share
    none. Short docs (< 8 tokens) emit no fingerprints at all."""
    from scip_spark.functions.dedup import winnow_dup_pairs, winnow_fingerprints

    run = "r1 r2 r3 r4 r5 r6 r7 r8"  # exactly w+k-1 tokens
    rows = [
        (1, f"a1 a2 a3 {run} a4 a5"),
        (2, f"b1 b2 {run} b3 b4 b5 b6"),   # same run, different context
        (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),  # disjoint vocab
        (4, "d1 d2 d3"),                    # too short: no fingerprints
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_dup_pairs(docs, min_shared=1).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all({a, b} == {1, 2} for a, b in pairs)
    fps = winnow_fingerprints(docs)
    assert fps.filter(F.col("sid") == 4).count() == 0
    # determinism: same corpus -> identical fingerprint relation
    one = sorted(map(tuple, fps.collect()))
    two = sorted(map(tuple, winnow_fingerprints(docs).collect()))
    assert one == two


def test_winnow_dup_spans_extents_cover_copied_run(spark):
    """Span extents must land inside the copied run in BOTH docs, at
    the same relative offset (leftmost-min winnowing aligns equal
    runs): doc 1 carries the run at tokens 4..15, doc 2 at 3..14."""
    from scip_spark.functions.dedup import winnow_dup_spans

    run = " ".join(f"r{i}" for i in range(12))  # 12-token copied run
    rows = [
        (1, f"a1 a2 a3 {run} a4 a5"),           # run at positions 4..15
        (2, f"b1 b2 {run} b3 b4 b5 b6 b7"),     # run at positions 3..14
        (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.id_a, r.id_b): r for r in winnow_dup_spans(docs, min_shared=1).collect()}
    assert set(out) == {(1, 2)}
    r = out[(1, 2)]
    # fingerprint positions index k-gram starts: run occupies gram
    # starts 4..11 in doc 1 (k=5 grams fully inside the run) and 3..10
    # in doc 2; extents must stay inside and align relatively
    assert 4 <= r.a_start <= r.a_end <= 11
    assert 3 <= r.b_start <= r.b_end <= 10
    assert r.a_start - r.b_start == 1 and r.a_end - r.b_end == 1
    assert r.n_shared >= 1


def test_phrase_match_positions(spark):
    from scip_spark.functions.text import phrase_match_positions

    rows = [
        (1, "a b c a b c a b"),       # "a b c" at 1 and 4
        (2, "a b"),                    # shorter than phrase
        (3, "x a b c y"),              # at 2
        (4, "a a b c c"),              # at 2
        (5, ""),                       # empty
        (6, "a b x a b c"),            # at 4 (partial prefix earlier)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r.pos
        for r in df.select(
            "doc_id", phrase_match_positions("text", "a b c").alias("pos")
        ).collect()
    }
    assert got == {1: [1, 4], 2: [], 3: [2], 4: [2], 5: [], 6: [4]}


def test_containment_join_matches_bruteforce(spark):
    """Asymmetric containment: A-prefix pruning must keep exactly the
    brute-force pairs — including a SHORT doc inside a LONG one, the
    case symmetric Jaccard's length filter rejects."""
    from itertools import permutations

    from scip_spark.functions.dedup import containment_join

    corpus = {
        1: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        2: "alpha beta gamma",                      # fully inside 1
        3: "alpha beta gamma delta extra",          # 4/5 inside 1
        4: "unrelated words entirely different",
        5: "alpha beta gamma",                      # dup of 2 (mutual)
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in corpus.items()], ["doc_id", "text"]
    )
    t = 0.8
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_join(docs, threshold=t).collect()
    }
    sets = {k: set(v.split()) for k, v in corpus.items()}
    want = {}
    for a, b in permutations(sorted(corpus), 2):
        c = len(sets[a] & sets[b]) / len(sets[a])
        if c >= t:
            want[(a, b)] = c
    assert got == want
    assert (2, 1) in got and got[(2, 1)] == 1.0   # short inside long
    assert (1, 2) not in got                       # asymmetric
    assert (2, 5) in got and (5, 2) in got         # mutual duplicates
    assert (3, 1) in got and got[(3, 1)] == 0.8


def test_dedup_method_agreement_scurve_promise(spark):
    """The agreement audit on real testdata: at the r=2, b=4 S-curve
    design point, every exact shingle-Jaccard>=0.95 pair must be
    LSH-candidate-covered (recall 1.0 on the 2^20 grid — a missed pair
    would be a permanent dedup escape), with precision in (0, 1]
    (candidates may include sub-threshold pairs; verification prunes
    them)."""
    import scip_spark.entry_queries  # noqa: F401
    from scip_spark.queries import REGISTRY

    row = REGISTRY["dedup_method_agreement"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert row["n_true"] > 0  # the corpus does contain near-dupes
    assert row["recall_fp"] == 1 << 20, dict(row.asDict())
    assert 0 < row["precision_fp"] <= 1 << 20


def test_editdistance_pairs_finds_planted_corruption(spark, tmp_path):
    """A single-character corruption of a doc must pair with its
    original at the exact hand-computed distance; unrelated docs and
    >10%-divergent docs must not pair; blocking must not lose a
    same-first-token near-dup one length band away."""
    import scip_spark.entry_queries  # noqa: F401
    from scip_spark.queries import REGISTRY

    base = "alpha " + "beta gamma delta epsilon zeta " * 4   # ~125 chars
    rows = [
        (0, base),
        (1, base[:-1] + "X"),              # 1 substitution
        (2, base + "tail words here xx"),  # longer, same tok0, ~15% away
        (3, "omega " + base[6:]),          # different first token
        (4, base[:60]),                    # same tok0 but far shorter
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in rows],
        ["doc_id", "text", "lang", "source", "n_chars"],
    ).write.parquet(f"{sf}/documents.parquet")
    got = {
        (r["id_a"], r["id_b"]): r
        for r in REGISTRY["dedup_editdistance_pairs"].fn(spark, sf).collect()
    }
    assert (0, 1) in got and got[(0, 1)]["dist"] == 1
    assert all(3 not in p for p in got)  # tok0 block separates doc 3
    assert (0, 2) not in got             # 18-char insertion > 10% of len
    assert (0, 4) not in got             # 10% threshold excludes truncation


def test_dedup_rate_by_source_counts_planted_copies(spark, tmp_path):
    """Planted copies must be counted per source with cross-source
    mirrors flagged on BOTH sides, and rates exact on the 2^20 grid."""
    import scip_spark.entry_queries  # noqa: F401
    from scip_spark.queries import REGISTRY

    rows = [
        (0, "unique text zero", "A"),
        (1, "copied text one", "A"),
        (2, "copied text one", "A"),      # in-source dup pair
        (3, "mirrored text two", "A"),
        (4, "mirrored text two", "B"),    # cross-source mirror
        (5, "unique text five", "B"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        ["doc_id", "text", "lang", "source", "n_chars"],
    ).write.parquet(f"{sf}/documents.parquet")
    out = {
        r["source"]: r
        for r in REGISTRY["dedup_rate_by_source"].fn(spark, sf).collect()
    }
    assert out["A"]["n_docs"] == 4 and out["A"]["n_dup_docs"] == 3
    assert out["A"]["n_dup_groups"] == 2          # "copied" + "mirrored"
    assert out["A"]["dup_rate_fp"] == 3 * (1 << 20) // 4
    assert out["B"]["n_dup_docs"] == 1            # the mirror side counts
    assert out["B"]["n_dup_groups"] == 1


def test_substring_spans_match_pure_python(spark, tmp_path):
    """dedup_substring_spans vs an exact pure-Python suffix-window
    reference on planted docs: a cross-doc shared 10-token run, a doc
    with INTERNAL repetition (within-doc windows count), and a clean
    doc + a short doc (no windows)."""
    import hashlib
    from collections import Counter

    import scip_spark.entry_queries  # noqa: F401
    from scip_spark.queries import REGISTRY

    W = 8
    shared = "the quick brown fox jumps over the lazy dog again"  # 10 toks
    docs = {
        0: "intro words here " + shared + " trailing tail tokens x1 x2",
        1: "other leading stuff before " + shared + " different ending",
        2: ("loop alpha beta gamma delta eps zeta eta " * 3).strip(),  # internal repeat
        3: " ".join(f"uniq{i}" for i in range(30)),                    # clean
        4: "too few tokens",                                           # < W
    }
    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs.items()],
        ["doc_id", "text", "lang", "source", "n_chars"],
    ).write.parquet(f"{sf}/documents.parquet")

    # pure-Python reference
    wins = {}
    for i, t in docs.items():
        toks = t.split()
        wins[i] = [
            (p, hashlib.md5(" ".join(toks[p : p + W]).encode()).hexdigest())
            for p in range(len(toks) - W + 1)
        ]
    cnt = Counter(h for ws in wins.values() for _, h in ws)
    want = {}
    for i, t in docs.items():
        cov = set()
        for p, h in wins[i]:
            if cnt[h] >= 2:
                cov.update(range(p, p + W))
        want[i] = (len(t.split()), len(cov))

    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_frac_fp"])
        for r in REGISTRY["dedup_substring_spans"].fn(spark, sf).collect()
    }
    for i, (n, dup) in want.items():
        assert got[i][0] == n and got[i][1] == dup, (i, got[i], (n, dup))
        assert got[i][2] == (dup * (1 << 20) // n if n else 0)
    assert want[0][1] > 0 and want[1][1] > 0   # cross-doc run caught
    assert want[2][1] > 0                      # internal repetition caught
    assert want[3][1] == 0 and want[4][1] == 0


def test_covered_counts_fold_equals_explode_distinct(spark):
    """The interval-union fold (_ss_covered_counts — r14 scale path: no
    ×8 position explode, no distinct) is bit-identical to counting the
    materialized positions, across overlap chains, adjacency, disjoint
    spans and within-doc repetition."""
    from scip_spark.functions.dedup_queries import (
        _ss_covered,
        _ss_covered_counts,
        _ss_shared,
        _ss_windows,
    )
    from pyspark.sql import functions as F

    rows = []
    shared_run = "a b c d e f g h i j k l"          # 12-token shared run
    rows.append((0, "x1 x2 " + shared_run + " y1 y2"))
    rows.append((1, shared_run + " z1 z2 z3 " + shared_run))  # two spans, one doc
    rows.append((2, ("rep tok one two three four five six " * 4).strip()))
    rows.append((3, " ".join(f"u{i}" for i in range(40))))     # clean
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    base, win = _ss_windows(docs)
    shared = _ss_shared(win)
    a = {
        r["doc_id"]: r["n"]
        for r in _ss_covered(win, shared)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    b = {
        r["doc_id"]: r["dup_tokens"]
        for r in _ss_covered_counts(win, shared).collect()
    }
    assert a == b and a  # non-empty and identical
    assert 3 not in a    # clean doc contributes nothing


def test_substring_clean_consistent_with_spans(spark, tmp_path):
    """The apply step must excise exactly the spans the report op
    counts (n_tokens - n_kept == dup_tokens per doc), and the cleaned
    text of a planted doc hashes to the hand-built excision."""
    import hashlib

    import scip_spark.entry_queries  # noqa: F401
    from scip_spark.queries import REGISTRY

    W = 8
    shared = "the quick brown fox jumps over the lazy dog again"  # 10 toks
    docs = {
        0: "intro words here " + shared + " trailing tail tokens x1 x2",
        1: "other leading stuff before " + shared + " different ending",
        3: " ".join(f"uniq{i}" for i in range(30)),
    }
    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs.items()],
        ["doc_id", "text", "lang", "source", "n_chars"],
    ).write.parquet(f"{sf}/documents.parquet")

    spans = {
        r["doc_id"]: r
        for r in REGISTRY["dedup_substring_spans"].fn(spark, sf).collect()
    }
    clean = {
        r["doc_id"]: r
        for r in REGISTRY["dedup_substring_clean"].fn(spark, sf).collect()
    }
    for i in docs:
        assert clean[i]["n_tokens"] - clean[i]["n_kept"] == spans[i]["dup_tokens"], i
    # hand-built excision for doc 0: union of windows covering the
    # shared 10-token run (positions 4..13 1-based; windows starting
    # 4..6 wholly inside it... compute exactly like the engine does)
    toks0 = docs[0].split()
    toks1 = docs[1].split()
    h0 = [" ".join(toks0[p : p + W]) for p in range(len(toks0) - W + 1)]
    h1 = [" ".join(toks1[p : p + W]) for p in range(len(toks1) - W + 1)]
    cov = set()
    for p, g in enumerate(h0):
        if h0.count(g) + h1.count(g) >= 2:
            cov.update(range(p, p + W))
    kept = [t for j, t in enumerate(toks0) if j not in cov]
    want_md5 = hashlib.md5(" ".join(kept).encode()).hexdigest()
    assert clean[0]["cleaned_md5"] == want_md5
    assert clean[3]["n_kept"] == 30 and spans[3]["dup_tokens"] == 0


def test_decontaminate_train_spans_planted(spark, tmp_path):
    """Plant an eval doc whose 10-token run also appears in one train
    doc: that train doc (and only it) reports contaminated tokens, and
    contamination NEVER comes from train-train overlap (that is the
    spans op's job, not decontamination's)."""
    import hashlib

    import scip_spark.entry_queries  # noqa: F401
    from scip_spark.functions.dedup_queries import _DECON_SEED, _DECON_TRAIN
    from scip_spark.queries import REGISTRY

    def bucket(doc_id):
        h = hashlib.md5(f"{_DECON_SEED}|{doc_id}".encode()).hexdigest()[:12]
        return int(h, 16) % 10000

    train_ids = [i for i in range(200) if bucket(i) < _DECON_TRAIN][:3]
    eval_ids = [i for i in range(200) if bucket(i) >= _DECON_TRAIN][:1]
    assert len(train_ids) == 3 and len(eval_ids) == 1
    leak = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (train_ids[0], "lead in " + leak + " tail words here", "en", "s", 0),
        (train_ids[1], " ".join(f"t{i}" for i in range(30)), "en", "s", 0),
        # train-train duplication only — NOT contamination
        (train_ids[2], " ".join(f"t{i}" for i in range(30)), "en", "s", 0),
        (eval_ids[0], "bench prompt " + leak + " bench answer", "en", "s", 0),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.parquet(f"{sf}/documents.parquet")
    got = {
        r["doc_id"]: r["contam_tokens"]
        for r in REGISTRY["decontaminate_train_spans"].fn(spark, sf).collect()
    }
    assert set(got) == set(train_ids)         # eval docs not reported
    assert got[train_ids[0]] >= 10            # the leaked run is covered
    assert got[train_ids[1]] == 0 and got[train_ids[2]] == 0
