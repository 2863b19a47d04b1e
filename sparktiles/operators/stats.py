"""Statistics / reporting operators (SURVEY.md §2.4, A5-A13).

Reference counterparts:
- layer_stats variance/toplength            -> bin/layer-stats:101-131
- tile summary (decoded MVT per-layer stats) -> openmaptiles/utils.py:311-373
- perf bucketing (ntile histogram)          -> openmaptiles/performance.py:216-252
- per-zoom tile ranges                      -> mbtile_tools.py:219-233
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def variance_stats(df: DataFrame, col: str, by: list[str] | None = None) -> DataFrame:
    """A5: COUNT/MIN/MAX/AVG/STDDEV/VARIANCE per group."""
    aggs = [
        F.count(col).alias("cnt"),
        F.min(col).alias("min"),
        F.max(col).alias("max"),
        F.avg(col).alias("avg"),
        F.stddev(col).alias("stddev"),
        F.variance(col).alias("variance"),
    ]
    return df.groupBy(*(by or [])).agg(*aggs)


def toplength(df: DataFrame, col: str, n: int = 30) -> DataFrame:
    """A13: DISTINCT values by length desc, top n (TakeOrderedAndProject)."""
    return (
        df.select(col).distinct()
        .where(F.length(col) > 0)
        .select(F.col(col).alias("val"), F.length(col).alias("len"))
        .orderBy(F.desc("len"), "val")
        .limit(n)
    )


def zoom_range_stats(tile_map: DataFrame) -> DataFrame:
    """A8: per-zoom tile counts + coordinate extents."""
    return tile_map.groupBy("zoom_level").agg(
        F.count("*").alias("cnt"),
        F.min("tile_column").alias("min_x"), F.max("tile_column").alias("max_x"),
        F.min("tile_row").alias("min_y"), F.max("tile_row").alias("max_y"),
    ).orderBy("zoom_level")


def size_buckets(tiles: DataFrame, size_col: str = "size", buckets: int = 10) -> DataFrame:
    """A10: sort by size, split into <=N ntile buckets, per-bucket
    count/sum/min/max (performance.py:216-252)."""
    w = Window.orderBy(F.col(size_col))
    b = tiles.withColumn("bucket", F.ntile(buckets).over(w))
    return b.groupBy("bucket").agg(
        F.count("*").alias("cnt"),
        F.sum(size_col).alias("total"),
        F.min(size_col).alias("smallest"),
        F.max(size_col).alias("largest"),
    ).orderBy("bucket")


def tile_summary(tile_images: DataFrame) -> DataFrame:
    """A9: decode MVT blobs -> per-layer feature counts, geom-type
    histogram, attr presence. Runs the pure-python decoder in
    mapInPandas (the test/debug path, not the hot path — reference
    debug-mvt / print_tile)."""
    from sparktiles.functions import mvtcodec as C

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for tile_id, tile_data in zip(pdf["tile_id"], pdf["tile_data"]):
                blob = bytes(tile_data)
                if not blob:
                    continue
                try:
                    layers = C.decode_tile(blob)
                except Exception:
                    continue
                for name, lyr in layers.items():
                    feats = lyr["features"]
                    type_hist = {}
                    n_attr = 0
                    for f in feats:
                        type_hist[f["type"]] = type_hist.get(f["type"], 0) + 1
                        n_attr += len(f["attrs"])
                    rows.append({
                        "tile_id": tile_id,
                        "layer": name,
                        "n_features": len(feats),
                        "n_points": type_hist.get(1, 0),
                        "n_lines": type_hist.get(2, 0),
                        "n_polys": type_hist.get(3, 0),
                        "n_attrs": n_attr,
                        "blob_bytes": len(blob),
                    })
            yield pd.DataFrame(rows, columns=[
                "tile_id", "layer", "n_features", "n_points", "n_lines",
                "n_polys", "n_attrs", "blob_bytes",
            ]) if rows else pd.DataFrame({
                "tile_id": pd.Series([], dtype=str),
                "layer": pd.Series([], dtype=str),
                "n_features": pd.Series([], dtype="int64"),
                "n_points": pd.Series([], dtype="int64"),
                "n_lines": pd.Series([], dtype="int64"),
                "n_polys": pd.Series([], dtype="int64"),
                "n_attrs": pd.Series([], dtype="int64"),
                "blob_bytes": pd.Series([], dtype="int64"),
            })

    return tile_images.mapInPandas(
        summarize,
        "tile_id string, layer string, n_features long, n_points long, "
        "n_lines long, n_polys long, n_attrs long, blob_bytes long",
    )


def tile_contents(tiles: DataFrame, attr: str = "name") -> DataFrame:
    """Decode built (z,x,y,mvt) tile rows into one row per
    (z,x,y,layer): feature count + md5 of the comma-joined sorted
    `attr` values. The oracle-checkable projection of tile CONTENT —
    the Spark-side half of the golden-tile-content tier the reference
    tests with tests/expected/debug_mvt_dump.out: an independent SQL
    engine can recompute the same rows from the source corpus with
    pure tile math, so the whole encode spine (assign -> clip -> snap
    -> varint/zigzag encode -> assemble) is hash-checked end-to-end."""
    import hashlib

    from sparktiles.functions import mvtcodec as C

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for z, x, y, mvt in zip(pdf["z"], pdf["x"], pdf["y"], pdf["mvt"]):
                blob = bytes(mvt)
                if not blob:
                    continue
                for name, lyr in C.decode_tile(blob).items():
                    vals = sorted(
                        str(f["attrs"].get(attr)) for f in lyr["features"])
                    rows.append({
                        "z": int(z), "x": int(x), "y": int(y),
                        "layer": name,
                        "n_features": len(vals),
                        "names_md5": hashlib.md5(
                            ",".join(vals).encode()).hexdigest(),
                    })
            cols = ["z", "x", "y", "layer", "n_features", "names_md5"]
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return tiles.mapInPandas(
        decode,
        "z int, x long, y long, layer string, n_features long, names_md5 string",
    )


def exact_group_quantiles(df: DataFrame, group_col: str, value_col: str,
                          qs: list[float]) -> DataFrame:
    """EXACT per-group quantiles at corpus scale, without the classic
    single-partition sort: quantile_disc semantics (the value at rank
    max(1, ceil(q*n)) in the group's sorted order — verified against
    DuckDB's quantile_disc, which serves as the independent oracle).

    Shape (the same granularity-bounded rank decomposition as
    perplexity_buckets' banding, generalized): a quantile needs only
    the per-(group, value) COUNT table, never a per-row rank — one
    map-side-combined groupBy bounds the shuffle by distinct
    (group, value) pairs at ANY corpus size, a cumulative window runs
    over that tiny table (partitioned by group, so many groups
    parallelize; one group's partition is bounded by its value
    granularity, not its row count), and the <=len(qs)-row quantile
    table cross-broadcasts onto it. Contrast percentile_approx: this
    is exact, deterministic, and cheaper when values are granular
    (ints, rounded floats) — the common case for curation signals.

    Returns (grp, q, value), one row per group per requested q."""
    spark = df.sparkSession
    cnts = (df.groupBy(F.col(group_col).alias("grp"),
                       F.col(value_col).alias("value"))
            .agg(F.count("*").alias("_c")))
    w_cum = (Window.partitionBy("grp").orderBy("value")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_all = Window.partitionBy("grp")
    t = cnts.select(
        "grp", "value", "_c",
        F.sum("_c").over(w_cum).alias("_cum"),
        F.sum("_c").over(w_all).alias("_n"))
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    r = F.greatest(F.lit(1).cast("bigint"),
                   F.ceil(F.col("q") * F.col("_n")))
    return (t.crossJoin(F.broadcast(qdf))
            .where((F.col("_cum") - F.col("_c") < r) & (r <= F.col("_cum")))
            .select("grp", "q", "value"))
