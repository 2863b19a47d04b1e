"""Distributed connected components (large-star / small-star).

Why this exists: the one-sweep LSH dedup mapping
(`operators/text.py::minhash_dedup`) assigns each doc the smallest id
it shares *any* band bucket with — which is not transitively closed
(A~B and B~C via different buckets leaves A and C with different
canonicals). Closing the candidate graph into components is the
textbook finish of a near-dup pipeline (Kiveris et al. 2014,
"Connected Components in MapReduce and Beyond", the two-phase
large-star/small-star algorithm), and it is an honest *iterative*
Spark algorithm: a loop of window rounds with a convergence
certificate, lineage truncated per round so the plan does not grow
with the iteration count.

Scale notes (100 TB):

* Each round contracts the edge set toward the n-1 star edges, so
  later rounds shuffle less; Kiveris et al. bound the rounds by
  O(log^2 n). LSH dedup graphs are star-forests stitched by shared buckets, so
  this converges in a handful of rounds even at corpus scale, and the
  last rounds run as one single-task union-find once the edge set is
  small.
* Convergence is detected with ONE count + checksum aggregate per
  round — no full comparison join against the previous edge set.
* `localCheckpoint` truncates lineage each round. On a real cluster
  prefer `spark.sparkContext.setCheckpointDir(...)` + reliable
  `.checkpoint()` (executor loss replays a localCheckpoint'd
  partition from nothing); the `reliable=` flag switches.

Reference parity: the reference has no graph operator (its dedup is
SQL DISTINCT, /root/reference/openmaptiles/sqltomvt.py); this is part
of the training-data-curation surface the engine adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _local_union_find(cur: DataFrame) -> DataFrame:
    """Single-task union-find finish over a SMALL edge frame (a, b):
    returns (node, component) with component = min node id of the
    connected component — the exact contract of the star fixpoint.
    Runs as ONE mapInArrow task (not on the driver); callers gate it
    on the edge count, so the task holds O(|edges|) dict entries."""
    node_t = cur.schema["a"].dataType.simpleString()

    def k(batches):
        import pyarrow as pa

        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        arrays = []
        for batch in batches:
            arrays.append((batch.column(0), batch.column(1)))
            for a, b in zip(batch.column(0).to_pylist(),
                            batch.column(1).to_pylist()):
                ra, rb = find(a), find(b)
                if ra != rb:
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
        nset = {n for ab in arrays for col in ab for n in col.to_pylist()}
        if nset:
            out_n = sorted(nset)
            out_c = [find(n) for n in out_n]
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_n), pa.array(out_c)],
                names=["node", "component"])

    return cur.repartition(1).mapInArrow(
        k, f"node {node_t}, component {node_t}")


def connected_components_star(edges: DataFrame, src: str = "src",
                              dst: str = "dst", max_iter: int = 50,
                              reliable: bool = False,
                              local_finish_rows: int = 2_000_000) -> DataFrame:
    """(node, component) for every node appearing in `edges`, where
    component = min node id in the node's connected component, via
    large-star/small-star alternation (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond", Algorithm 2
    "two-phase"). Undirected; a node whose only edge is (n, n) gets
    component n. Raises RuntimeError if `max_iter` rounds don't reach
    the fixpoint.

    Star rounds never touch a labels table: each phase is ONE
    window-min over the current edge set partitioned by source (plus a
    distinct to fold the rewired duplicates), and the edge set itself
    CONTRACTS toward the n-1 star edges as subtrees hook onto their
    minimum — later rounds shuffle less, not the same.

    Phases (edges kept oriented larger -> smaller throughout):
      large-star(v): connect every strictly larger neighbor of v to
        m = min(N(v) ∪ {v}) — splits hot nodes, preserves
        connectivity, strictly decreases sum of neighbor ids.
      small-star(v): connect v and all its smaller neighbors to
        m = min(N_small(v) ∪ {v}) — forms the stars.
    Fixpoint (edge set unchanged over a full round, checked with a
    count + xxhash64 checksum, no full comparison join) implies every
    edge is (node, component-min): Kiveris Thm 1-2.

    Skew note: a window partitioned by node key puts one node's whole
    neighborhood on one task — the same reduce-key skew the MR
    original has; large-star is precisely the step that breaks such
    hubs apart (each round re-homes the hub's larger neighbors onto
    its min), so the skew self-heals in O(1) rounds rather than
    needing salting."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
    )
    cur = (
        e.where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .distinct()
    )
    cur = cur.checkpoint() if reliable else cur.localCheckpoint()

    def _checksum(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38) sum: immune to ANSI long-overflow on the hash fold
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    from pyspark.sql.window import Window

    prev = _checksum(cur)
    for _ in range(max_iter):
        # -------- scale-adaptive local finish (guide §2: derive the
        # execution shape from the data size, not a constant): star
        # rounds CONTRACT the edge set toward the n-1 star edges, and
        # once it fits one task there is no reason to pay 4 exchanges
        # + a checksum job per remaining diameter hop — a single-task
        # union-find emits the identical min-id labels in one job.
        # At 100 TB the first rounds run distributed and this branch
        # takes over only below the row gate (r06: the sf1.0 LSH edge
        # set enters at 12k rows and the old loop spent 7 rounds /
        # ~4.5s of tiny-shuffle scheduling on it).
        if prev[0] <= local_finish_rows:
            comp = _local_union_find(cur)
            return (
                nodes.join(comp, "node", "left")
                .select("node",
                        F.coalesce("component", F.col("node"))
                        .alias("component"))
            )
        # -------- large-star: min over the SYMMETRIC neighborhood
        sym = cur.union(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        m = F.least(F.min("b").over(Window.partitionBy("a")), F.col("a"))
        cur = (
            sym.withColumn("m", m)
            .where(F.col("b") > F.col("a"))  # rewire larger neighbors only
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # -------- small-star: edges all point larger -> smaller here,
        # so min(N_small ∪ {a}) = plain window min of b
        ss = cur.withColumn("m", F.min("b").over(Window.partitionBy("a")))
        cur = (
            ss.where(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(ss.select("a", F.col("m").alias("b")))
            .distinct()
        )
        cur = cur.checkpoint() if reliable else cur.localCheckpoint()
        sig = _checksum(cur)
        if sig == prev:
            return (
                nodes.join(cur.select(F.col("a").alias("node"),
                                      F.col("b").alias("_c")), "node", "left")
                .select("node",
                        F.coalesce("_c", F.col("node")).alias("component"))
            )
        prev = sig
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iter} rounds")


def minhash_dedup_cc(df: DataFrame, n_hashes: int = 8, band_size: int = 2,
                     text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Transitively-closed near-dup mapping: doc_id -> min doc_id of
    its whole duplicate *component* (vs `minhash_dedup`, which stops
    at one bucket hop). Star edges member->bucket-canonical keep the
    edge list linear in bucket membership — never the O(k^2) pairs of
    a bucket explosion. The closure is connected_components_star
    (measured 1.35× faster than hash-min label propagation on the
    800k-doc funnel dup structure with label-identical output,
    BENCH_CC_AB.json)."""
    from pyspark.sql.window import Window

    from sparktiles.operators.text import band_rows, minhash_signatures

    sigs = minhash_signatures(df, n_hashes, text_col, id_col)
    # Star edges straight off a window over the band rows: one
    # exchange, no collect_list array materialization, no explode —
    # the lsh_buckets members-array path cost ~1s more per leg at
    # sf1.0 (r06 A/B, identical edge set). localCheckpoint: the
    # closure references the edge set twice (the iterated frame AND
    # the node set for the final left join) — a lazy edge frame would
    # replay the full signatures scan a second time.
    w = Window.partitionBy("band", "signature")
    edges = (band_rows(sigs, band_size)
             .withColumn("dst", F.min(id_col).over(w))
             .withColumn("_n", F.count("*").over(w))
             .where(F.col("_n") > 1)
             .select(F.col(id_col).alias("src"), "dst")
             .localCheckpoint())
    cc = connected_components_star(edges)
    return cc.select(F.col("node").alias(id_col),
                     F.col("component").alias("canonical_id"))


def dedup_keep_best(df: DataFrame, quality_col: str = "n_chars",
                    n_hashes: int = 8, band_size: int = 2,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Representative selection for near-dup clusters: instead of
    minhash_dedup_cc's keep-the-smallest-id rule, keep the BEST
    member of each duplicate component by `quality_col` (ties break
    on doc_id — deterministic). This is the CCNet/BigScience variant
    of the dedup finish: when a cluster mixes a full page with its
    truncated syndications, id-order keeps an arbitrary one; quality
    order keeps the longest/cleanest.

    Scale shape: the component mapping is minhash_dedup_cc (iterative
    large-star/small-star over star edges); ranking is one window
    partitioned by component — duplicate clusters are small by
    construction (LSH bucket fan-in), so partitions are tiny. The quality lookup joins
    only docs that are IN a dup component (sparse vs the corpus).

    Returns (doc_id, component, keep_id, is_kept) for every doc in a
    duplicate component; docs in no component are absent (all kept —
    anti-join the is_kept=false rows to materialize the dedup)."""
    from pyspark.sql.window import Window

    mapping = minhash_dedup_cc(df, n_hashes, band_size, text_col, id_col)
    comp = mapping.select(
        F.col(id_col).alias("doc_id"),
        F.least(F.col(id_col), F.col("canonical_id")).alias("component"))
    q = df.select(F.col(id_col).alias("doc_id"),
                  F.col(quality_col).alias("_q"))
    w = Window.partitionBy("component").orderBy(
        F.col("_q").desc(), F.col("doc_id").asc())
    return (
        comp.join(q, "doc_id")
        .select("doc_id", "component",
                F.first("doc_id").over(w).alias("keep_id"))
        .withColumn("is_kept", F.col("doc_id") == F.col("keep_id"))
    )


def leakage_safe_split(df: DataFrame, holdout_pct: int = 10,
                       n_hashes: int = 8, band_size: int = 2,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Dedup-aware train/holdout split: assign documents to sides by
    their near-dup COMPONENT, never individually, so no near-dup
    pair straddles the split — the leakage guard every pretraining
    eval needs (a held-out doc whose near-duplicate sits in train is
    a contaminated eval point; Lee et al. 2021 measure exactly this
    seepage). Docs in no duplicate component are their own group.

    Deterministic and engine-reproducible: side is decided by the
    repo's md5 integer idiom on the group id's decimal string —
    ('0x'||substr(md5(g),1,15))::bigint % 100 < holdout_pct — so an
    engine-independent auditor reproduces the exact split.

    Scale shape: the component mapping is minhash_dedup_cc (iterative
    large-star/small-star over star edges, linear in bucket
    membership); the split itself adds ONE broadcast-or-shuffle left
    join (the mapping is sparse — only docs in dup components) and a
    map-side hash per row. Returns (doc_id, group_id, side)."""
    mapping = minhash_dedup_cc(df, n_hashes, band_size, text_col, id_col)
    comp = mapping.select(
        F.col(id_col).alias("doc_id"),
        F.least(F.col(id_col), F.col("canonical_id")).alias("_comp"))
    g = (df.select(F.col(id_col).alias("doc_id"))
         .join(comp, "doc_id", "left")
         .select("doc_id",
                 F.coalesce("_comp", F.col("doc_id")).alias("group_id")))
    bucket = (F.conv(F.substring(
        F.md5(F.col("group_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100)
    return g.select(
        "doc_id", "group_id",
        F.when(bucket < holdout_pct, F.lit("holdout"))
        .otherwise(F.lit("train")).alias("side"))
