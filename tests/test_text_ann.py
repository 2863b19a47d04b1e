"""Text-pipeline + ANN operator tests."""

import pytest
from pyspark.sql import functions as F

from sparktiles.operators import ann as A
from sparktiles.operators import text as T

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup(spark, docs):
    # add known duplicates
    dupes = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    d = docs.unionByName(dupes)
    out = T.exact_dedup(d)
    assert out.where(F.col("n_copies") >= 2).count() >= 5
    # canonical is the smaller id
    r = out.where(F.col("n_copies") >= 2).agg(F.max("canonical_id")).first()[0]
    assert r < 100000


def test_minhash_finds_near_duplicates(spark, docs):
    # append a tiny suffix: texts share almost all shingles
    near = docs.limit(10).withColumn("doc_id", F.col("doc_id") + 200000) \
        .withColumn("text", F.concat(F.col("text"), F.lit(" suffix")))
    d = docs.unionByName(near)
    mapping = T.minhash_dedup(d, n_hashes=8, band_size=2)
    # each near-dup doc should map to its source (smaller id)
    hits = mapping.where(
        (F.col("doc_id") >= 200000) & (F.col("canonical_id") == F.col("doc_id") - 200000)
    ).count()
    assert hits >= 8  # most bands collide on near-identical shingle sets


def test_jaccard_bucketed_finds_cross_length_near_dup(spark):
    """The length-bucket (same-or-adjacent) blocking finds a near-dup
    pair whose lengths differ — exact-length equality blocking would
    never compare them. Doc 2 = doc 1 plus one extra word (length 129
    vs 119: buckets 4 vs 3 at width 32 — adjacent, not equal)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi omega"
    rows = [
        (1, base, len(base)),
        (2, base + " extraword", len(base) + 10),
        (3, "completely different tokens entirely here now", 46),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, n_chars int")
    pairs = T.ngram_jaccard_bucketed(
        d, bucket_width=32, min_jaccard=0.5, len_col="n_chars").collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert (1, 2) in got and got[(1, 2)] > 0.9
    assert all(k == (1, 2) for k in got), got
    # sanity: the buckets really are adjacent, not equal
    assert len(base) // 32 != (len(base) + 10) // 32
    # and each |Δbucket|<=1 pair joins exactly once (no explode dups)
    assert len(pairs) == len(got)


def test_simhash_and_hamming(spark, docs):
    near = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 300000) \
        .withColumn("text", F.concat(F.col("text"), F.lit(" x")))
    d = docs.limit(50).unionByName(near)
    sims = T.simhash(d)
    assert sims.count() == 55
    pairs = T.hamming_candidates(sims, n_bands=8)
    close = pairs.where(
        (F.col("id_b") - F.col("id_a") == 300000) & (F.col("hamming") <= 6)
    ).count()
    assert close >= 3  # near-identical docs have tiny hamming distance


def test_language_id(spark):
    d = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is in a tree"),
            (2, "der hund und die katze ist nicht das problem"),
            (3, "le chat et la maison est un des animaux"),
            (4, "xyzzy qwerty asdf"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang_pred for r in T.language_id(d).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr" and out[4] == "und"


def test_quality_scores(spark, docs):
    out = T.quality_scores(docs)
    row = out.first()
    assert row.n_tokens > 0 and 0 <= row.stopword_ratio <= 1
    assert out.where(F.col("quality_ok")).count() > 0


def test_token_counts(spark, docs):
    out = T.token_counts(docs).agg(
        F.sum("ws_tokens").alias("a"), F.sum("word_tokens").alias("b")).first()
    assert out.a > 0 and out.b > 0


def test_fingerprint_stable(spark, docs):
    f1 = {r.doc_id: r.fingerprint for r in T.fingerprint(docs).collect()}
    f2 = {r.doc_id: r.fingerprint for r in T.fingerprint(docs).collect()}
    assert f1 == f2 and len(f1) == docs.count()


@pytest.fixture(scope="module")
def qb(emb):
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(F.col("vec_id").alias("bid"), v.alias("bv"))
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), v.alias("qv"))
    return queries.cache(), base.cache()


def test_brute_force_topk_matches_numpy(spark, emb, qb):
    import numpy as np

    queries, base = qb
    got = A.brute_force_topk(queries, base, k=5)
    rows = got.collect()
    data = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    for qid in range(10):
        q = data[qid]
        sims = []
        for bid, v in data.items():
            if bid == qid:
                continue
            c = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            sims.append((-c, bid))
        exp = [bid for _, bid in sorted(sims)[:5]]
        mine = [r.bid for r in sorted((r for r in rows if r.qid == qid),
                                      key=lambda r: r.ann_rank)]
        assert mine == exp, qid


def test_lsh_topk_recall(spark, qb):
    queries, base = qb
    exact = A.brute_force_topk(queries, base, k=5)
    approx = A.lsh_topk(queries, base, k=5, dim=64, planes=3, bands=10)
    e = {(r.qid, r.bid) for r in exact.collect()}
    a = {(r.qid, r.bid) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, recall  # 10 bands x 3 planes on 500 vecs


def test_ivf_topk_recall(spark, qb):
    queries, base = qb
    exact = A.brute_force_topk(queries, base, k=5)
    approx = A.ivf_topk(queries, base, k=5, n_centroids=8, n_probe=4)
    e = {(r.qid, r.bid) for r in exact.collect()}
    a = {(r.qid, r.bid) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall


def test_cosine_near_dups_exact_matches_numpy(spark, emb):
    import numpy as np

    got = {(r.id_a, r.id_b) for r in
           A.cosine_near_dups(emb, 0.35, exact=True).collect()}
    data = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    ids = sorted(data)
    exp = set()
    for i, a in enumerate(ids):
        va = data[a]
        for b in ids[i + 1:]:
            vb = data[b]
            if float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))) >= 0.35:
                exp.add((a, b))
    assert got == exp
    assert exp  # threshold chosen so the set is non-trivial


def test_cosine_near_dups_lsh_recall(spark, emb):
    exact = {(r.id_a, r.id_b) for r in
             A.cosine_near_dups(emb, 0.3, exact=True).collect()}
    approx = {(r.id_a, r.id_b) for r in A.cosine_near_dups(
        emb, 0.3, dim=64, planes=4, bands=12).collect()}
    assert approx <= exact  # blocking only prunes; the cosine filter is exact
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_cosine_dedup_mapping(spark, emb):
    # planted exact duplicates must map to the original (smaller) id
    dupes = emb.limit(5).withColumn("vec_id", F.col("vec_id") + 100000)
    d = emb.unionByName(dupes)
    m = {r.id: r.canonical_id for r in
         A.cosine_dedup_mapping(d, 0.999999, exact=True).collect()}
    assert len(m) == d.count()
    for i in range(5):
        assert m[100000 + i] == i


def test_repetition_signals_hand_computed(spark):
    """Hand-checked Gopher fractions: doc 1 "a b a b a b" has 2-grams
    [a b, b a, a b, b a, a b] -> top 'a b' 3/5, dup (3+2)/5 = 1.0;
    3-grams [a b a, b a b, a b a, b a b] -> dup 4/4. Doc 2 is
    all-unique (top 2-gram 1/5 = 0.2, NOT > the 0.20 Gopher gate).
    Doc 3 is too short for any 2-gram (zero fractions, not dropped)."""
    d = spark.createDataFrame(
        [(1, "a b a b a b"),
         (2, "u v w x y z"),
         (3, "solo")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in T.repetition_signals(d).collect()}
    r1 = out[1]
    assert r1.n_2grams == 5 and r1.top_2gram_frac == 0.6
    assert r1.dup_2gram_frac == 1.0
    assert r1.n_3grams == 4 and r1.dup_3gram_frac == 1.0
    assert r1.repetitive
    r2 = out[2]
    assert r2.n_2grams == 5 and r2.dup_2gram_frac == 0.0
    assert r2.top_2gram_frac == 0.2 and not r2.repetitive
    r3 = out[3]
    assert r3.n_2grams == 0 and r3.top_2gram_frac == 0.0
    assert r3.dup_3gram_frac == 0.0 and not r3.repetitive


def test_duplicate_window_fractions_hand_computed(spark):
    """Docs 1 and 2 share the 3-window "a b c" (doc 1 has it twice);
    doc 3 is disjoint; doc 4 is too short for any window. Doc 1 has
    windows [a b c, b c a, c a b, a b c] -> 2/4 duplicated; doc 2 has
    [x a b, a b c, b c y] -> 1/3; doc 3 0/2; doc 4 zero windows."""
    d = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "x a b c y"),
         (3, "p q r s"), (4, "t u")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           T.duplicate_window_fractions(d, window=3).collect()}
    assert (out[1].n_windows, out[1].dup_windows) == (4, 2)
    assert out[1].dup_window_frac == 0.5
    assert (out[2].n_windows, out[2].dup_windows) == (3, 1)
    assert out[2].dup_window_frac == 0.3333
    assert (out[3].n_windows, out[3].dup_windows) == (2, 0)
    assert (out[4].n_windows, out[4].dup_window_frac) == (0, 0.0)


def test_decontaminate_hand_computed(spark):
    """Benchmark holds "q1 q2 q3 q4". Corpus doc 1 contains it
    verbatim (3 distinct shared 2-grams), doc 2 shares exactly one
    2-gram even though it appears twice (DISTINCT grams counted),
    doc 3 is clean."""
    bench = spark.createDataFrame(
        [(100, "q1 q2 q3 q4")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "w q1 q2 q3 q4 w"),
         (2, "q1 q2 z q1 q2"),
         (3, "m n o p")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           T.decontaminate(corpus, bench, n=2).collect()}
    assert out[1].n_contaminated_grams == 3 and out[1].contaminated
    assert out[2].n_contaminated_grams == 1 and out[2].contaminated
    assert out[3].n_contaminated_grams == 0 and not out[3].contaminated


def test_stratified_sample_quota_and_determinism(spark, docs):
    out = T.stratified_sample(docs, "lang", 10)
    per = {r.lang: r.cnt for r in
           out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    full = {r.lang: r.cnt for r in
            docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    for lang, n in full.items():
        assert per[lang] == min(10, n)
    # rank is dense 1..quota and the draw is reproducible
    a = sorted((r.doc_id, r.sample_rank) for r in out.collect())
    b = sorted((r.doc_id, r.sample_rank)
               for r in T.stratified_sample(docs, "lang", 10).collect())
    assert a == b
    ranks = sorted(r.sample_rank for r in out.where(F.col("lang") == "en").collect())
    assert ranks == list(range(1, len(ranks) + 1))


def test_semdedup_blocks_on_cluster(spark):
    """Identical vectors (cos=1) dedup only when they share a cluster:
    ids 1,2 (cluster 0) merge to 1; id 3 has the same vector but sits
    in cluster 1 alone -> stays canonical; 4 is orthogonal to 5 in
    cluster 1 -> both canonical."""
    rows = [
        (1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [1.0, 0.0], 1),
        (4, [0.0, 1.0], 1), (5, [1.0, 0.0], 2),
    ]
    d = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    m = {r.id: (r.cluster, r.canonical_id)
         for r in A.semdedup(d, 0.9, "label").collect()}
    assert m == {1: (0, 1), 2: (0, 1), 3: (1, 3), 4: (1, 4), 5: (2, 5)}


def test_semdedup_nan_and_zero_norm_match_sql(spark):
    """Edge inputs in one cluster: a zero-norm vector makes every
    cosine's divisor 0, which SQL evaluates to NULL (never a pair); a
    NaN component makes the cosine NaN, which SQL compares above every
    threshold (always a pair). semdedup must match its declared DuckDB
    oracle (queries._SEMDEDUP_SQL, threshold 0.35) on both, and Spark's
    exact cosine_dedup_mapping where Spark defines the cosine (ANSI
    division by zero raises, so without the zero-norm rows)."""
    import duckdb
    import pandas as pd

    from sparktiles.queries import _SEMDEDUP_SQL

    def vec(*head):
        return [float(v) for v in head] + [0.0] * (64 - len(head))

    rows = [
        (1, vec(1, 2), 0), (2, vec(1, 2), 0),       # duplicates
        (3, vec(0), 0), (4, vec(0), 0),             # zero-norm
        (5, vec(2, -1), 0),                         # orthogonal to 1, 2
        (6, vec(float("nan"), 1), 0),               # NaN component
        (7, vec(-1, 3), 0),
    ]
    schema = "vec_id long, embedding array<float>, label int"
    d = spark.createDataFrame(rows, schema)
    got = {r.id: r.canonical_id for r in A.semdedup(d, 0.35, "label").collect()}

    embeddings = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    con = duckdb.connect()
    con.register("embeddings", embeddings)
    want = {i: c for i, _cl, c in con.execute(_SEMDEDUP_SQL).fetchall()}
    assert got == want
    # 6 (NaN) pairs with every non-zero-norm vector, 3 and 4 with none
    assert want == {1: 1, 2: 1, 3: 3, 4: 4, 5: 5, 6: 1, 7: 1}

    finite = spark.createDataFrame(
        [r for r in rows if r[0] not in (3, 4)], schema)
    sem = {r.id: r.canonical_id
           for r in A.semdedup(finite, 0.35, "label").collect()}
    exact = {r.id: r.canonical_id for r in A.cosine_dedup_mapping(
        finite, 0.35, exact=True).collect()}
    assert sem == exact


def test_zero_norm_cosines_are_null(spark):
    """A zero-norm embedding makes the divisor of each of its cosines 0.
    SQL evaluates that to NULL, so the pair is never a near-dup. Every
    cosine operator must run without an ANSI [DIVIDE_BY_ZERO] error,
    give those cosines NULL and every other cosine a value, and
    cosine_near_dups must return exactly the pairs of its DuckDB oracle
    (queries._COS_DEDUP_SQL, threshold 0.35)."""
    import duckdb
    import pandas as pd

    from sparktiles.queries import _COS_DEDUP_SQL

    def vec(*head):
        return [float(v) for v in head] + [0.0] * (64 - len(head))

    rows = [(1, vec(1, 2)), (2, vec(1, 2)), (3, vec(0)), (4, vec(2, -1)),
            (5, vec(-1, 3)), (6, vec(1, 2.5))]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = A.cosine_near_dups(d, 0.35, exact=True).collect()
    con = duckdb.connect()
    con.register("embeddings",
                 pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    want = {(a, b): c for a, b, c in con.execute(_COS_DEDUP_SQL).fetchall()}
    assert {(r.id_a, r.id_b) for r in pairs} == set(want)
    assert not any(3 in p for p in want)
    for r in pairs:
        assert r.cos_sim == pytest.approx(want[(r.id_a, r.id_b)], abs=1e-4)

    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = d.select(F.col("vec_id").alias("bid"), v.alias("bv"))
    queries = d.select(F.col("vec_id").alias("qid"), v.alias("qv"))
    for op in (lambda: A.brute_force_topk(queries, base, k=5),
               lambda: A.lsh_topk(queries, base, k=5, dim=64, planes=2,
                                  bands=2),
               lambda: A.ivf_topk(queries, base, k=5, n_centroids=3,
                                  n_probe=3)):
        got = op().collect()
        assert got
        for r in got:
            assert (r.cos_sim is None) == (3 in (r.qid, r.bid)), r


def test_kmeans_lloyd_separated_blobs(spark):
    """Three well-separated blobs with k=3: members of one blob share
    a cluster, different blobs never do; the run is deterministic.
    Ids are b*37+j so the deterministic md5 seeding picks one seed
    per blob (seeding is data-blind; a 2-seeds-in-one-blob draw would
    converge to a legitimate split/merged local optimum instead)."""
    rows = []
    for b, center in enumerate(([10.0, 0.0], [0.0, 10.0], [-10.0, -10.0])):
        for j in range(8):
            rows.append((b * 37 + j,
                         [center[0] + (j % 3) * 0.1, center[1] + (j % 2) * 0.1]))
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.id: r.cluster for r in A.kmeans_lloyd(d, 3, iters=3).collect()}
    blobs = {}
    for i, c in out.items():
        blobs.setdefault(i // 37, set()).add(c)
    assert all(len(s) == 1 for s in blobs.values())
    assert len({next(iter(s)) for s in blobs.values()}) == 3
    again = {r.id: r.cluster for r in A.kmeans_lloyd(d, 3, iters=3).collect()}
    assert out == again


def test_semdedup_over_kmeans_pipeline(spark, emb):
    """End-to-end SemDeDup: kmeans clusters feed the cluster-blocked
    dedup; identical injected vectors land in one cluster and merge."""
    dupes = emb.limit(4).withColumn("vec_id", F.col("vec_id") + 500000)
    d = emb.unionByName(dupes)
    clusters = A.kmeans_lloyd(d, 4, iters=2)
    joined = d.join(clusters, d.vec_id == clusters.id).select(
        "vec_id", "embedding", "cluster")
    m = {r.id: r.canonical_id
         for r in A.semdedup(joined, 0.999, "cluster").collect()}
    for i in range(4):
        assert m[500000 + i] == i


# ------------------------------------------------------------------ CC dedup

def test_connected_components_hand_graph(spark):
    from sparktiles.operators.graph import connected_components_star

    # two components: a 10-node path (diameter 9) and a triangle, ids
    # chosen non-contiguous
    path = [(i, i + 1) for i in range(100, 109)]
    tri = [(7, 3), (3, 5), (5, 7)]
    edges = spark.createDataFrame(path + tri, "src long, dst long")
    got = {r["node"]: r["component"]
           for r in connected_components_star(edges).collect()}
    assert {got[n] for n in range(100, 110)} == {100}
    assert {got[n] for n in (3, 5, 7)} == {3}
    assert len(got) == 13


def test_connected_components_max_iter_raises(spark):
    from sparktiles.operators.graph import connected_components_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "src long, dst long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components_star(edges, max_iter=2, local_finish_rows=0)


def test_minhash_cc_transitively_closed(spark, docs):
    from sparktiles.operators.graph import minhash_dedup_cc

    # A~B and B~C near-dups via different edits: one-sweep minhash_dedup
    # may split them; the CC mapping must be idempotent (canonical of a
    # canonical is itself) and refine the one-sweep mapping
    base = docs.limit(40)
    v1 = base.withColumn("doc_id", F.col("doc_id") + 200000)
    v2 = base.withColumn("doc_id", F.col("doc_id") + 400000) \
             .withColumn("text", F.concat(F.lit("zz "), F.col("text")))
    d = base.unionByName(v1).unionByName(v2)

    cc = minhash_dedup_cc(d, n_hashes=8, band_size=2)
    m = {r["doc_id"]: r["canonical_id"] for r in cc.collect()}
    assert m, "no duplicate components found"
    for doc, canon in m.items():
        assert canon <= doc
        assert m.get(canon, canon) == canon, "mapping not transitively closed"
    # exact copies (base vs v1) must land in the same component
    joined = {d_ for d_ in m if d_ >= 200000 and d_ < 400000}
    for d_ in joined:
        assert m[d_] == m.get(d_ - 200000, d_ - 200000)


# ------------------------------------------------------------------ PII

def test_pii_scrub_hand_example(spark):
    rows = [
        (1, "mail me at jo.doe+x@mail.example.org or 192.168.1.7 thanks"),
        (2, "call +44 20 7946-0958 today"),
        (3, "nothing sensitive here 3.14 v1.2.3.4beta"),
        (4, "two mails a@b.io c@d.co one ip 8.8.8.8"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.pii_scrub(d).collect()}
    assert out[1]["text"] == "mail me at <EMAIL> or <IP> thanks"
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (1, 1, 0)
    assert out[2]["text"] == "call <PHONE> today"
    assert out[2]["n_phone"] == 1
    # v1.2.3.4beta: 'v' and '1' are both word chars, so there is no \b
    # before the digit run — NOT an IP; neither is 3.14
    assert out[3]["n_ipv4"] == 0 and not out[3]["has_pii"]
    assert out[3]["text"] == rows[2][1]  # untouched
    assert out[4]["n_email"] == 2 and out[4]["n_ipv4"] == 1
    assert out[4]["text"] == "two mails <EMAIL> <EMAIL> one ip <IP>"
    assert out[1]["has_pii"] and out[4]["has_pii"]


# ------------------------------------------------------------------ PQ

def test_pq_train_encode_roundtrip(spark, emb):
    books = A.pq_train(emb, m=4, k=4, iters=2)
    assert len(books) == 4 and len(books[0]) == 4 and len(books[0][0]) == 16
    codes = A.pq_encode(emb, books)
    rows = codes.collect()
    assert len(rows) == emb.count()
    for r in rows:
        for j in range(4):
            assert 0 <= r[f"code{j}"] < 4
    # deterministic: second run identical
    again = {r["id"]: tuple(r[f"code{j}"] for j in range(4))
             for r in A.pq_encode(emb, A.pq_train(emb, m=4, k=4, iters=2)).collect()}
    assert again == {r["id"]: tuple(r[f"code{j}"] for j in range(4)) for r in rows}


def test_pq_encode_arrow_matches_expression(spark, emb):
    books = A.pq_train(emb, m=4, k=8, iters=2)
    expr = {r["id"]: tuple(r[f"code{j}"] for j in range(4))
            for r in A.pq_encode(emb, books).collect()}
    arr = {r["id"]: tuple(r[f"code{j}"] for j in range(4))
           for r in A.pq_encode(emb, books, arrow=True).collect()}
    assert expr == arr


def test_pq_adc_recall_vs_exact(spark, emb):
    import math
    books = A.pq_train(emb, m=4, k=8, iters=3)
    codes = A.pq_encode(emb, books, arrow=True).cache()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.collect()}

    def exact_topk(qid, k=10):
        q = vecs[qid]
        d = sorted((sum((a - b) ** 2 for a, b in zip(q, v)), vid)
                   for vid, v in vecs.items())
        return [vid for _, vid in d[:k]]

    hits = total = 0
    for qid in sorted(vecs)[:5]:
        got = [r["vec_id"] for r in
               A.pq_adc_topk(codes, vecs[qid], books, topk=10,
                             query_id=qid).collect()]
        # ADC must retrieve the query itself first (its own
        # quantization error is the minimal achievable table sum)
        assert got[0] == qid
        ex = set(exact_topk(qid))
        hits += len(ex.intersection(got))
        total += len(ex)
    # 500 near-random 64-dim vectors are a worst case for m=4/k=8 PQ
    # (a numpy replica reads recall@10 0.30-0.42 across seedings);
    # require well above chance (10/500 = 0.02), not near-exactness
    assert hits / total >= 0.1, f"PQ recall {hits}/{total}"


def test_connected_components_self_loop_only_node(spark):
    from sparktiles.operators.graph import connected_components_star

    edges = spark.createDataFrame([(5, 5), (1, 2)], "src long, dst long")
    got = {r["node"]: r["component"]
           for r in connected_components_star(edges).collect()}
    assert got == {5: 5, 1: 1, 2: 1}


def _cc_cases():
    """Adversarial edge lists for the star-vs-union-find sweep."""
    import random

    cases = {
        # deep path (diameter 63 — multiple star rounds) with the min
        # in the MIDDLE, so both directions must propagate
        "deep_path": [(i, i + 1) for i in range(1000, 1063)]
        + [(1031, 7)],
        "cycle": [(i, (i + 1) % 17) for i in range(17)],
        "hub": [(999, i) for i in range(50)],  # hot-key star, min at leaf 0
        "self_loops": [(5, 5), (1, 2), (9, 9)],
        "two_cliques_bridge": [(a, b) for a in range(10, 15)
                               for b in range(10, 15) if a < b]
        + [(a, b) for a in range(20, 25) for b in range(20, 25) if a < b]
        + [(14, 20)],
    }
    rng = random.Random(42)
    for name, n, m in (("sparse_rand", 200, 120), ("dense_rand", 60, 300)):
        cases[name] = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    return cases


def _union_find_components(pairs):
    """{node: min node id of its component}, plain-Python union-find."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_star_matches_union_find(spark):
    """large-star/small-star must produce the (node -> min id) mapping
    of a plain union-find on every adversarial shape, both with its
    single-task local finish and through the distributed rounds only
    (local_finish_rows=0). The cases run as one graph, each shifted to
    its own id range, so each gate is one run."""
    from sparktiles.operators.graph import connected_components_star

    span = 1 << 20
    cases = _cc_cases()
    pairs = [(a + i * span, b + i * span)
             for i, ps in enumerate(cases.values()) for a, b in ps]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    ref = _union_find_components(pairs)
    for gate in (2_000_000, 0):
        got = {r["node"]: r["component"] for r in connected_components_star(
            edges, local_finish_rows=gate).collect()}
        bad = sorted({list(cases)[n // span] for n in set(got) | set(ref)
                      if got.get(n) != ref.get(n)})
        assert not bad, f"cases {bad}, local_finish_rows={gate}"


def test_connected_components_star_string_ids(spark):
    from sparktiles.operators.graph import connected_components_star

    edges = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("x", "y")], "src string, dst string")
    got = {r["node"]: r["component"]
           for r in connected_components_star(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_remove_boilerplate_lines_hand_example(spark):
    mk = lambda i, dom, *ls: (i, dom, "\n".join(ls))
    rows = [
        mk(1, "a.com", "unique one", "COOKIE BANNER", "more text"),
        mk(2, "a.com", "something else", "COOKIE BANNER"),
        mk(3, "a.com", "third doc", "COOKIE BANNER"),
        mk(4, "a.com", "no banner here at all"),
        # other domain: same banner text but only 1/2 docs -> at the
        # 0.5 bar with min_docs=2 unmet (cnt=1) -> stays
        mk(5, "b.org", "hello", "COOKIE BANNER"),
        mk(6, "b.org", "goodbye"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["doc_id"]: r for r in
           T.remove_boilerplate_lines(d, min_frac=0.5, min_docs=2).collect()}
    # a.com: banner in 3/4 docs -> removed, order of survivors kept
    assert out[1]["text"] == "unique one\nmore text"
    assert (out[1]["n_lines"], out[1]["n_removed"]) == (3, 1)
    assert out[2]["text"] == "something else"
    assert out[4]["text"] == "no banner here at all"
    assert out[4]["n_removed"] == 0
    # b.org: cnt=1 < min_docs -> banner survives
    assert out[5]["text"] == "hello\nCOOKIE BANNER"
    # doc reduced to nothing would be "" (not exercised here)
    assert all(out[i]["n_lines"] - out[i]["n_removed"] >= 1 for i in out)


def test_token_rarity_hand_example(spark):
    rows = [
        (1, "common common common zzzqx"),
        (2, "common common"),
        (3, "wwwyk common"),
        (4, ""),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.token_rarity(d, max_cf=2).collect()}
    # 'common' cf=6 -> frequent; zzzqx/wwwyk cf=1 -> rare
    assert (out[1]["n_tokens"], out[1]["n_rare"]) == (4, 1)
    assert out[1]["rare_frac"] == 0.25
    assert (out[2]["n_tokens"], out[2]["n_rare"]) == (2, 0)
    assert (out[3]["n_tokens"], out[3]["n_rare"]) == (2, 1)
    # empty doc: zero tokens, zero rare, frac 0 via the greatest() guard
    assert (out[4]["n_tokens"], out[4]["n_rare"], out[4]["rare_frac"]) == (0, 0, 0.0)
