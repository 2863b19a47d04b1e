"""Operator showcase queries with DuckDB-oracle parity.

Each entry here is one operator family from SURVEY.md §2 expressed twice:
- a Spark DataFrame callable (spark, sf_dir) -> DataFrame
- an equivalent ANSI-SQL string DuckDB runs on the same parquet views

Cross-engine determinism rules used throughout:
- doubles rounded to 4 decimals and aliased identically on both sides
- md5() (identical hex in both engines) is the portable hash for
  dedup/minhash/fingerprint operators
- coordinates derived arithmetically from integer keys with
  irrational-ish offsets so floor() never lands on a tile boundary
- Spark floor() returns BIGINT -> oracle casts floor to BIGINT
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparktiles.functions.tilemath import (
    TILEBBOX_MAX,
    WORLD_MERC_WIDTH,
    Z0_SCALE_DENOMINATOR,
)
from sparktiles.plans.config import compile_field_mapping

HALF = 20037508.34278925
PI = 3.141592653589793


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Derived point geometry shared by several queries: deterministic lon/lat
# from an integer key (same formula in SQL below).
def _lon(key):
    return (key * 37 % 344).cast("double") - 172.0 + 0.1234567


def _lat(key):
    return (key * 13 % 136).cast("double") - 68.0 + 0.0891011


# CAST the integer part to DOUBLE first so DuckDB follows the exact
# double-arithmetic order Spark uses (decimal literals would otherwise
# keep DuckDB in DECIMAL arithmetic and change ROUND output types)
_LON_SQL = "CAST((({k}) * 37) % 344 AS DOUBLE) - 172.0 + 0.1234567"
_LAT_SQL = "CAST((({k}) * 13) % 136 AS DOUBLE) - 68.0 + 0.0891011"

# mercator y in meters from lat (identical formula both engines)
_MERCY_SQL = "ln(tan((90.0 + ({lat})) * {pi} / 360.0)) / {pi} * {half}"


def _merc_y(lat_col):
    return F.log(F.tan((F.lit(90.0) + lat_col) * F.lit(PI / 360.0))) / F.lit(PI) * F.lit(HALF)


def _merc_x(lon_col):
    return lon_col / F.lit(180.0) * F.lit(HALF)


QUERIES = {}
ORACLES = {}


def q(name, sql=None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn
    return deco


# ===================================================================
# G1/G2 — ZRes / Z scalar tile math
# ===================================================================

@q("tilemath_zres_z", f"""
SELECT
  n_nationkey AS zoom,
  ROUND({WORLD_MERC_WIDTH!r} / (256.0 * POW(2.0, n_nationkey % 15)), 4) AS zres,
  CAST(ROUND(LOG2({Z0_SCALE_DENOMINATOR!r} / ({Z0_SCALE_DENOMINATOR!r} / POW(2.0, n_nationkey % 15)))) AS INT) AS z_back
FROM nation
ORDER BY zoom
""")
def tilemath_zres_z(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    zz = F.col("n_nationkey") % 15
    sd = F.lit(Z0_SCALE_DENOMINATOR) / F.pow(F.lit(2.0), zz)
    return n.select(
        F.col("n_nationkey").alias("zoom"),
        F.round(F.lit(WORLD_MERC_WIDTH) / (F.lit(256.0) * F.pow(F.lit(2.0), zz)), 4).alias("zres"),
        F.round(F.log2(F.lit(Z0_SCALE_DENOMINATOR) / sd)).cast("int").alias("z_back"),
    ).orderBy("zoom")


# ===================================================================
# G12/J1 — slippy tile assignment + per-tile counts (the spatial join)
# ===================================================================

_TILE_ASSIGN_SQL = f"""
WITH pts AS (
  SELECT c_custkey AS key,
         {_LON_SQL.format(k='c_custkey')} AS lon,
         {_LAT_SQL.format(k='c_custkey')} AS lat
  FROM customer
), m AS (
  SELECT key, lon / 180.0 * {HALF!r} AS mx,
         {_MERCY_SQL.format(lat='lat', pi=PI, half=HALF)} AS my
  FROM pts
)
SELECT CAST(FLOOR((mx + {HALF!r}) / {WORLD_MERC_WIDTH!r} * 256.0) AS BIGINT) AS tile_x,
       CAST(FLOOR(({HALF!r} - my) / {WORLD_MERC_WIDTH!r} * 256.0) AS BIGINT) AS tile_y,
       COUNT(*) AS n_points
FROM m
GROUP BY tile_x, tile_y
"""


@q("tile_assign_points", _TILE_ASSIGN_SQL)
def tile_assign_points(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    mx = _merc_x(_lon(key))
    my = _merc_y(_lat(key))
    n = F.lit(256.0)  # zoom 8
    return (
        c.select(
            F.floor((mx + F.lit(HALF)) / F.lit(WORLD_MERC_WIDTH) * n).alias("tile_x"),
            F.floor((F.lit(HALF) - my) / F.lit(WORLD_MERC_WIDTH) * n).alias("tile_y"),
        )
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n_points"))
    )


# ===================================================================
# J1 (bbox path) — line/polygon envelope -> tile-range explosion
# ===================================================================

_LINE_BBOX_MARGIN = WORLD_MERC_WIDTH * 4.0 / 256.0  # buffer_px=4

_LINE_BBOX_SQL = f"""
WITH seg AS (
  SELECT c_custkey AS key,
         {_LON_SQL.format(k='c_custkey')} AS lon1,
         {_LAT_SQL.format(k='c_custkey')} AS lat1,
         {_LON_SQL.format(k='c_custkey')} + (c_custkey % 7) * 0.5 + 0.21 AS lon2,
         {_LAT_SQL.format(k='c_custkey')} + (c_custkey % 5) * 0.3 + 0.17 AS lat2
  FROM customer
), m AS (
  SELECT key,
         lon1 / 180.0 * {HALF!r} AS mx1,
         {_MERCY_SQL.format(lat='lat1', pi=PI, half=HALF)} AS my1,
         lon2 / 180.0 * {HALF!r} AS mx2,
         {_MERCY_SQL.format(lat='lat2', pi=PI, half=HALF)} AS my2
  FROM seg
), bb AS (
  SELECT key, LEAST(mx1, mx2) AS xmin, LEAST(my1, my2) AS ymin,
         GREATEST(mx1, mx2) AS xmax, GREATEST(my1, my2) AS ymax
  FROM m
), zf AS (
  SELECT key, xmin, ymin, xmax, ymax, z, POW(2.0, z) AS n,
         {_LINE_BBOX_MARGIN!r} / POW(2.0, z) AS margin
  FROM bb, (SELECT UNNEST([3, 4, 5, 6]) AS z)
), rng AS (
  SELECT key, z,
    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(FLOOR((xmin + (-1) * margin + {HALF!r}) / {WORLD_MERC_WIDTH!r} * n) AS BIGINT), CAST(n - 1 AS BIGINT))) AS x0,
    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(FLOOR((xmax + 1 * margin + {HALF!r}) / {WORLD_MERC_WIDTH!r} * n) AS BIGINT), CAST(n - 1 AS BIGINT))) AS x1,
    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(FLOOR(({HALF!r} - (ymax + 1 * margin)) / {WORLD_MERC_WIDTH!r} * n) AS BIGINT), CAST(n - 1 AS BIGINT))) AS y0,
    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(FLOOR(({HALF!r} - (ymin + (-1) * margin)) / {WORLD_MERC_WIDTH!r} * n) AS BIGINT), CAST(n - 1 AS BIGINT))) AS y1
  FROM zf
), cx AS (
  SELECT key, z, UNNEST(range(x0, x1 + 1)) AS x, y0, y1 FROM rng
), cand AS (
  SELECT key, z, x, UNNEST(range(y0, y1 + 1)) AS y FROM cx
)
SELECT CAST(z AS INT) AS z, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT (x, y)) AS BIGINT) AS n_tiles
FROM cand
GROUP BY z
"""


@q("line_bbox_tiles", _LINE_BBOX_SQL)
def line_bbox_tiles(spark, sf_dir):
    """assign_bbox_tiles oracle (J1 bbox path, the line/polygon
    candidate generation): per-zoom (segment, tile) candidate-pair and
    distinct-tile counts for derived line segments at z3-z6 with a 4px
    buffer — DuckDB recomputes the clamped tile ranges with identical
    float order."""
    from sparktiles.operators.pyramid import assign_bbox_tiles_multi

    c = _t(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    lon1, lat1 = _lon(key), _lat(key)
    lon2 = lon1 + (key % 7).cast("double") * 0.5 + 0.21
    lat2 = lat1 + (key % 5).cast("double") * 0.3 + 0.17
    mx1, my1 = _merc_x(lon1), _merc_y(lat1)
    mx2, my2 = _merc_x(lon2), _merc_y(lat2)
    bb = c.select(
        key.alias("key"),
        F.least(mx1, mx2).alias("xmin"), F.least(my1, my2).alias("ymin"),
        F.greatest(mx1, mx2).alias("xmax"), F.greatest(my1, my2).alias("ymax"),
    )
    asg = assign_bbox_tiles_multi(bb, 3, 6, buffer_px=4)
    return asg.groupBy("z").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("x", "y").alias("n_tiles"),
    )


# ===================================================================
# J1 (supercover path) — O(path) candidate generation for WKB layers
# ===================================================================

def _supercover_bfe(buffer_px: float) -> float:
    from sparktiles.functions.tilecover import _EPS

    return float(buffer_px) / 256.0 + _EPS


_SC_BFE = _supercover_bfe(4.0)

# DuckDB mirror of functions/tilecover._segment_col_spans for the
# single-segment derived lines (dx > 0 by construction, so the
# vertical-segment branch never fires): per column strip the
# sub-segment's linear y-extent, inclusive ceil/floor row bounds,
# np.clip order GREATEST-then-LEAST — float-op-for-float-op identical.
# Parameterized on the zoom list so the raster-cover oracle can run
# the same chain at a PIXEL zoom (rasterization == supercover there).


def _line_supercover_cand_sql(zooms: list[int]) -> str:
    return f"""
WITH seg AS (
  SELECT c_custkey AS key,
         {_LON_SQL.format(k='c_custkey')} AS lon1,
         {_LAT_SQL.format(k='c_custkey')} AS lat1,
         {_LON_SQL.format(k='c_custkey')} + (c_custkey % 7) * 0.5 + 0.21 AS lon2,
         {_LAT_SQL.format(k='c_custkey')} + (c_custkey % 5) * 0.3 + 0.17 AS lat2
  FROM customer
), m AS (
  SELECT key,
         lon1 / 180.0 * {HALF!r} AS mx1,
         {_MERCY_SQL.format(lat='lat1', pi=PI, half=HALF)} AS my1,
         lon2 / 180.0 * {HALF!r} AS mx2,
         {_MERCY_SQL.format(lat='lat2', pi=PI, half=HALF)} AS my2
  FROM seg
), tu AS (
  SELECT key, z, POW(2.0, z) AS n,
         CAST(POW(2.0, z) AS BIGINT) - 1 AS top,
         (mx1 + {HALF!r}) / {WORLD_MERC_WIDTH!r} * POW(2.0, z) AS px,
         ({HALF!r} - my1) / {WORLD_MERC_WIDTH!r} * POW(2.0, z) AS py,
         (mx2 + {HALF!r}) / {WORLD_MERC_WIDTH!r} * POW(2.0, z) AS qx,
         ({HALF!r} - my2) / {WORLD_MERC_WIDTH!r} * POW(2.0, z) AS qy
  FROM m, (SELECT UNNEST([{', '.join(str(z) for z in zooms)}]) AS z)
), sg AS (
  SELECT *, LEAST(px, qx) AS sx0, GREATEST(px, qx) AS sx1,
         qx - px AS dx, qy - py AS dy
  FROM tu
), cr AS (
  SELECT *,
    CAST(LEAST(GREATEST(CEIL(sx0 - {_SC_BFE!r} - 1.0), 0.0), CAST(top AS DOUBLE)) AS BIGINT) AS c0,
    CAST(LEAST(GREATEST(FLOOR(sx1 + {_SC_BFE!r}), 0.0), CAST(top AS DOUBLE)) AS BIGINT) AS c1
  FROM sg
), cols AS (
  SELECT key, z, top, px, py, dx, dy, sx0, sx1,
         UNNEST(range(c0, c1 + 1)) AS col
  FROM cr
), xs AS (
  SELECT *,
         GREATEST(CAST(col AS DOUBLE) - {_SC_BFE!r}, sx0) AS xa,
         LEAST(CAST(col AS DOUBLE) + 1.0 + {_SC_BFE!r}, sx1) AS xb
  FROM cols
), ys AS (
  SELECT key, z, top, col,
         py + (xa - px) / dx * dy AS ya,
         py + (xb - px) / dx * dy AS yb
  FROM xs
), rr AS (
  SELECT key, z, col,
    CAST(LEAST(GREATEST(CEIL(LEAST(ya, yb) - {_SC_BFE!r} - 1.0), 0.0), CAST(top AS DOUBLE)) AS BIGINT) AS r0,
    CAST(LEAST(GREATEST(FLOOR(GREATEST(ya, yb) + {_SC_BFE!r}), 0.0), CAST(top AS DOUBLE)) AS BIGINT) AS r1
  FROM ys
), cand AS (
  SELECT key, z, col AS x, UNNEST(range(r0, r1 + 1)) AS y FROM rr
)"""


_LINE_SUPERCOVER_SQL = _line_supercover_cand_sql([3, 4, 5, 6]) + """
SELECT CAST(z AS INT) AS z, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT (x, y)) AS BIGINT) AS n_tiles
FROM cand
GROUP BY z
"""


def _derived_wkb_lines(spark, sf_dir):
    """Deterministic single-segment WKB LineStrings from customer keys
    (shared by the supercover and raster-cover oracles)."""
    import numpy as np
    import pandas as pd

    c = _t(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    lon1, lat1 = _lon(key), _lat(key)
    lon2 = lon1 + (key % 7).cast("double") * 0.5 + 0.21
    lat2 = lat1 + (key % 5).cast("double") * 0.3 + 0.17
    seg = c.select(
        key.alias("key"),
        _merc_x(lon1).alias("mx1"), _merc_y(lat1).alias("my1"),
        _merc_x(lon2).alias("mx2"), _merc_y(lat2).alias("my2"),
    )

    def to_wkb(batches):
        # vectorized little-endian WKB LineString assembly (data prep):
        # 1 flag + 4 code + 4 npts + 2x16 coords = 41 bytes per row
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            buf = np.zeros((n, 41), dtype=np.uint8)
            buf[:, 0] = 1
            buf[:, 1] = 2   # geometry code 2 (LineString), LE
            buf[:, 5] = 2   # npts
            coords = np.stack(
                [pdf["mx1"].to_numpy(), pdf["my1"].to_numpy(),
                 pdf["mx2"].to_numpy(), pdf["my2"].to_numpy()],
                axis=1).astype("<f8")
            buf[:, 9:41] = coords.view(np.uint8).reshape(n, 32)
            yield pd.DataFrame({
                "key": pdf["key"].to_numpy(),
                "geom": [b.tobytes() for b in buf],
            })

    return seg.mapInPandas(to_wkb, "key long, geom binary")


@q("line_supercover_tiles", _LINE_SUPERCOVER_SQL)
def line_supercover_tiles(spark, sf_dir):
    """assign_supercover_tiles_multi oracle (J1 supercover path — the
    round-4 replacement for the bbox explode): per-zoom (segment, tile)
    candidate counts for the same derived line segments as
    line_bbox_tiles, z3-z6, 4px buffer. The engine decodes real WKB
    LineStrings and rasterizes per column strip; DuckDB recomputes the
    identical per-column spans in SQL. Distinct-tile AND pair counts
    both hash-match, proving the candidate set itself (not just its
    size) since n_tiles aggregates over exact (x, y)."""
    from sparktiles.operators.pyramid import assign_supercover_tiles_multi

    lines = _derived_wkb_lines(spark, sf_dir)
    asg = assign_supercover_tiles_multi(lines, 3, 6, buffer_px=4)
    return asg.groupBy("z").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("x", "y").alias("n_tiles"),
    )


# ===================================================================
# J2 — broadcast point-in-polygon join (axis-aligned admin cells)
# ===================================================================

_PIP_SQL = f"""
WITH polys AS (
  SELECT n_nationkey AS poly_id,
         (n_nationkey % 5) * 70.0 - 175.0 AS xmin,
         (CAST(FLOOR(n_nationkey / 5) AS INT) % 5) * 35.0 - 87.5 AS ymin,
         (n_nationkey % 5) * 70.0 - 175.0 + 70.0 AS xmax,
         (CAST(FLOOR(n_nationkey / 5) AS INT) % 5) * 35.0 - 87.5 + 35.0 AS ymax
  FROM nation
), pts AS (
  SELECT c_custkey AS key,
         {_LON_SQL.format(k='c_custkey')} AS lon,
         {_LAT_SQL.format(k='c_custkey')} AS lat
  FROM customer
)
SELECT p.poly_id AS poly_id, COUNT(*) AS n_inside
FROM pts t JOIN polys p
  ON t.lon >= p.xmin AND t.lon < p.xmax AND t.lat >= p.ymin AND t.lat < p.ymax
GROUP BY p.poly_id
"""


@q("pip_join_broadcast", _PIP_SQL)
def pip_join_broadcast(spark, sf_dir):
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    nk = F.col("n_nationkey")
    polys = nation.select(
        nk.alias("poly_id"),
        ((nk % 5).cast("double") * 70.0 - 175.0).alias("xmin"),
        (F.floor(nk / 5).cast("int") % 5).cast("double").alias("_r"),
    ).withColumn("ymin", F.col("_r") * 35.0 - 87.5).drop("_r")
    polys = polys.withColumn("xmax", F.col("xmin") + 70.0).withColumn(
        "ymax", F.col("ymin") + 35.0)
    pts = cust.select(
        _lon(F.col("c_custkey")).alias("lon"), _lat(F.col("c_custkey")).alias("lat")
    )
    j = pts.join(
        F.broadcast(polys),
        (F.col("lon") >= F.col("xmin")) & (F.col("lon") < F.col("xmax"))
        & (F.col("lat") >= F.col("ymin")) & (F.col("lat") < F.col("ymax")),
        "inner",
    )
    return j.groupBy("poly_id").agg(F.count("*").alias("n_inside"))


# ===================================================================
# J8 — kNN join (k nearest suppliers per customer sample)
# ===================================================================

_KNN_SQL = f"""
WITH q AS (
  SELECT c_custkey AS qid,
         {_LON_SQL.format(k='c_custkey')} AS qx,
         {_LAT_SQL.format(k='c_custkey')} AS qy
  FROM customer WHERE c_custkey % 50 = 0
), s AS (
  SELECT s_suppkey AS sid,
         {_LON_SQL.format(k='s_suppkey * 7 + 3')} AS sx,
         {_LAT_SQL.format(k='s_suppkey * 7 + 3')} AS sy
  FROM supplier
), d AS (
  SELECT qid, sid,
         ROUND((qx - sx) * (qx - sx) + (qy - sy) * (qy - sy), 4) AS dist2,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY ROUND((qx - sx) * (qx - sx) + (qy - sy) * (qy - sy), 4), sid) AS rn
  FROM q CROSS JOIN s
)
SELECT qid, sid, dist2, CAST(rn AS INT) AS rank
FROM d WHERE rn <= 3
"""


@q("knn_join", _KNN_SQL)
def knn_join(spark, sf_dir):
    """3-NN per sampled customer against formula-placed suppliers.

    r06 shape: the r05 plan generated the full 30M-row cross product
    (BroadcastNestedLoopJoin) and sorted it for WindowGroupLimit —
    21.6s at sf1.0 in BENCH_r05. Now a mapInArrow kernel derives both
    coordinate sets from the key formulas with the identical double-op
    sequence ((cast - 172.0) + offset, then (dx*dx) + (dy*dy)), so raw
    dist2 is bit-equal, and emits only rows with raw dist2 <=
    (3rd-smallest raw) + 1.001e-4 — a provable superset of every row
    whose ROUND(.,4) can reach rank <= 3. ROUND and the rank window
    stay in Spark; oracle unchanged."""
    import numpy as np
    import pyarrow as pa

    from sparktiles.operators.spread import spread

    spath = f"{sf_dir}/supplier.parquet"
    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") % 50 == 0)
    qkeys = spread(cust.select(F.col("c_custkey").alias("qid")),
                   min_bytes=0)

    def knn_cand(batches):
        import pyarrow.parquet as pq

        st = pq.read_table(spath, columns=["s_suppkey"])
        sids = st.column("s_suppkey").to_numpy()
        skey = sids * 7 + 3
        sx = ((skey * 37) % 344).astype(np.float64) - 172.0 + 0.1234567
        sy = ((skey * 13) % 136).astype(np.float64) - 68.0 + 0.0891011
        for batch in batches:
            if batch.num_rows == 0:
                continue
            qids = batch.column("qid").to_numpy()
            qx = ((qids * 37) % 344).astype(np.float64) - 172.0 + 0.1234567
            qy = ((qids * 13) % 136).astype(np.float64) - 68.0 + 0.0891011
            oq, os_, od = [], [], []
            # block size bounds the (block x |suppliers|) distance
            # matrix at ~64M doubles however large the supplier side
            qb = max(1, (64 << 20) // max(1, len(sids)))
            for c0 in range(0, len(qids), qb):
                c1 = min(c0 + qb, len(qids))
                dx = qx[c0:c1][:, None] - sx[None, :]
                dy = qy[c0:c1][:, None] - sy[None, :]
                d2 = (dx * dx) + (dy * dy)
                for i in range(c1 - c0):
                    row = d2[i]
                    if row.size > 3:
                        thr = np.partition(row, 2)[2] + 1.001e-4
                        sel = row <= thr
                    else:
                        sel = np.ones(row.size, dtype=bool)
                    oq.append(np.full(int(sel.sum()), qids[c0 + i],
                                      dtype=np.int64))
                    os_.append(sids[sel])
                    od.append(row[sel])
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(oq)), pa.array(np.concatenate(os_)),
                 pa.array(np.concatenate(od), type=pa.float64())],
                names=["qid", "sid", "d2"])

    cand = qkeys.mapInArrow(knn_cand, "qid long, sid long, d2 double")
    j = cand.withColumn("dist2", F.round(F.col("d2"), 4)).drop("d2")
    w = Window.partitionBy("qid").orderBy(F.col("dist2"), F.col("sid"))
    return (
        j.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("qid", "sid", "dist2", "rank")
    )


# ===================================================================
# P4 — enum field mapping (FieldExpander semantics)
# ===================================================================

_ENUM_VALUES = {
    "activity": {"event_type": ["click", "view"]},
    "conversion": {"event_type": ["purchase", "sign%"]},
    "problem": [
        {"__AND__": {"event_type": "error", "big": "yes"}},
        {"event_type": ["crash"]},
    ],
}

_ENUM_SQL = """
SELECT CASE
    WHEN event_type IN ('click', 'view') THEN 'activity'
    WHEN event_type = 'purchase' OR event_type LIKE 'sign%' THEN 'conversion'
    WHEN (event_type = 'error' AND (CASE WHEN value > 100 THEN 'yes' ELSE 'no' END) = 'yes')
         OR event_type = 'crash' THEN 'problem'
  END AS class,
  COUNT(*) AS n
FROM events
GROUP BY class
"""


@q("enum_field_mapping", _ENUM_SQL)
def enum_field_mapping(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "big", F.when(F.col("value") > 100, "yes").otherwise("no")
    )
    cls = compile_field_mapping(_ENUM_VALUES)
    return ev.select(cls.alias("class")).groupBy("class").agg(F.count("*").alias("n"))


# ===================================================================
# P8 — CleanNumeric / omt_as_numeric over dirty strings
# ===================================================================

_CLEAN_SQL = """
WITH dirty AS (
  SELECT l_orderkey, CASE
      WHEN l_orderkey % 7 = 0 THEN 'a' || CAST(l_quantity AS VARCHAR)
      WHEN l_orderkey % 7 = 1 THEN '  ' || CAST(l_quantity AS VARCHAR) || '  '
      WHEN l_orderkey % 7 = 2 THEN '.'
      WHEN l_orderkey % 7 = 3 THEN CAST(l_quantity AS VARCHAR) || 'e2'
      WHEN l_orderkey % 7 = 4 THEN ''
      ELSE CAST(l_quantity AS VARCHAR)
    END AS s
  FROM lineitem
), parsed AS (
  SELECT CASE WHEN regexp_full_match(s, '\\s*[-+]?(\\d+\\.?\\d*|\\.\\d+)([Ee][-+]?\\d+)?\\s*')
              THEN CAST(trim(s) AS DOUBLE) END AS v
  FROM dirty
)
SELECT COUNT(*) AS n_rows,
       COUNT(v) AS n_parsed,
       ROUND(SUM(COALESCE(v, -1)), 2) AS sum_as_numeric
FROM parsed
"""


@q("clean_numeric", _CLEAN_SQL)
def clean_numeric_q(spark, sf_dir):
    from sparktiles.functions.scalars import clean_numeric, omt_as_numeric

    li = _t(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey") % 7
    qty = F.col("l_quantity").cast("string")
    s = (
        F.when(k == 0, F.concat(F.lit("a"), qty))
        .when(k == 1, F.concat(F.lit("  "), qty, F.lit("  ")))
        .when(k == 2, F.lit("."))
        .when(k == 3, F.concat(qty, F.lit("e2")))
        .when(k == 4, F.lit(""))
        .otherwise(qty)
    )
    d = li.select(s.alias("s"))
    return d.agg(
        F.count("*").alias("n_rows"),
        F.count(clean_numeric("s")).alias("n_parsed"),
        F.round(F.sum(omt_as_numeric("s")), 2).alias("sum_as_numeric"),
    )


# ===================================================================
# W1 — LabelGrid density limiting (DISTINCT ON per grid cell)
# ===================================================================

_LABELGRID_SQL = f"""
WITH pts AS (
  SELECT s_suppkey AS id, s_acctbal AS importance,
         ({_LON_SQL.format(k='s_suppkey')}) / 180.0 * {HALF!r} AS mx,
         {_MERCY_SQL.format(lat=_LAT_SQL.format(k='s_suppkey'), pi=PI, half=HALF)} AS my
  FROM supplier
), g AS (
  SELECT id, importance,
         ROUND((mx - 500000.0) / 1000000.0) * 1000000.0 + 500000.0 AS gx,
         ROUND((my - 500000.0) / 1000000.0) * 1000000.0 + 500000.0 AS gy,
         ROW_NUMBER() OVER (
           PARTITION BY ROUND((mx - 500000.0) / 1000000.0),
                        ROUND((my - 500000.0) / 1000000.0)
           ORDER BY importance DESC, id) AS rn
  FROM pts
)
SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy, id AS best_id,
       ROUND(importance, 2) AS importance
FROM g WHERE rn = 1
"""


@q("label_grid_rank", _LABELGRID_SQL)
def label_grid_rank(spark, sf_dir):
    from sparktiles.functions.scalars import label_grid_exprs

    supp = _t(spark, sf_dir, "supplier")
    key = F.col("s_suppkey")
    pts = supp.select(
        key.alias("id"),
        F.col("s_acctbal").alias("importance"),
        _merc_x(_lon(key)).alias("mx"),
        _merc_y(_lat(key)).alias("my"),
    )
    gs = 1_000_000.0
    gx, gy = label_grid_exprs("mx", "my", gs)
    w = Window.partitionBy("gx", "gy").orderBy(F.desc("importance"), F.col("id"))
    return (
        pts.withColumn("gx", gx).withColumn("gy", gy)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("gx").cast("long").alias("gx"),
            F.col("gy").cast("long").alias("gy"),
            F.col("id").alias("best_id"),
            F.round("importance", 2).alias("importance"),
        )
    )


# ===================================================================
# P6 — LineLabel zoom gating
# ===================================================================

_LINELABEL_SQL = """
WITH lines AS (
  SELECT event_id, CAST(event_id % 21 AS INT) AS zoom,
         repeat('x', CAST(event_id % 12 AS INT)) AS label,
         value * 40.0 AS glen
  FROM events
)
SELECT zoom, COUNT(*) AS n,
       CAST(SUM(CASE WHEN zoom > 20 OR glen = 0
                OR (length(label) BETWEEN 1 AND glen / POW(2.0, 20 - zoom))
           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM lines GROUP BY zoom
"""


@q("line_label_filter", _LINELABEL_SQL)
def line_label_filter(spark, sf_dir):
    from sparktiles.functions.scalars import line_label

    ev = _t(spark, sf_dir, "events")
    lines = ev.select(
        (F.col("event_id") % 21).cast("int").alias("zoom"),
        F.repeat(F.lit("x"), (F.col("event_id") % 12).cast("int")).alias("label"),
        (F.col("value") * 40.0).alias("glen"),
    )
    kept = line_label(F.col("zoom"), "label", "glen")
    return lines.groupBy("zoom").agg(
        F.count("*").alias("n"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
    )


# ===================================================================
# A6 — duplicate-tile finder (md5 content dedup)
# ===================================================================

_DUPFINDER_SQL = """
WITH tiles AS (
  SELECT event_id, md5(event_type || '-' || CAST(user_id % 3 AS VARCHAR)) AS tile_id
  FROM events
)
SELECT tile_id, COUNT(*) AS cnt
FROM tiles GROUP BY tile_id HAVING COUNT(*) >= 20
"""


@q("dup_tile_finder", _DUPFINDER_SQL)
def dup_tile_finder(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    tiles = ev.select(
        F.md5(
            F.concat(F.col("event_type"), F.lit("-"), (F.col("user_id") % 3).cast("string"))
        ).alias("tile_id")
    )
    return tiles.groupBy("tile_id").agg(F.count("*").alias("cnt")).where(F.col("cnt") >= 20)


# ===================================================================
# A7/A8 — zoom-range stats over a derived tile_map
# ===================================================================

_ZOOMSTATS_SQL = """
WITH map AS (
  SELECT CAST(event_id % 15 AS INT) AS zoom_level,
         CAST(user_id % 100 AS BIGINT) AS tile_column,
         CAST(event_id % 100 AS BIGINT) AS tile_row
  FROM events
)
SELECT zoom_level, COUNT(*) AS cnt,
       MIN(tile_column) AS min_x, MAX(tile_column) AS max_x,
       MIN(tile_row) AS min_y, MAX(tile_row) AS max_y
FROM map GROUP BY zoom_level
"""


@q("zoom_range_stats", _ZOOMSTATS_SQL)
def zoom_range_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    m = ev.select(
        (F.col("event_id") % 15).cast("int").alias("zoom_level"),
        (F.col("user_id") % 100).alias("tile_column"),
        (F.col("event_id") % 100).alias("tile_row"),
    )
    return m.groupBy("zoom_level").agg(
        F.count("*").alias("cnt"),
        F.min("tile_column").alias("min_x"), F.max("tile_column").alias("max_x"),
        F.min("tile_row").alias("min_y"), F.max("tile_row").alias("max_y"),
    )


# ===================================================================
# A4/A5 — frequency + variance stats (layer-stats)
# ===================================================================

@q("freq_stats", """
SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type
""")
def freq_stats(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type").agg(F.count("*").alias("cnt")).orderBy("event_type")
    )


@q("variance_stats", """
SELECT l_returnflag,
       COUNT(*) AS cnt,
       ROUND(MIN(l_extendedprice), 2) AS min_price,
       ROUND(MAX(l_extendedprice), 2) AS max_price,
       ROUND(AVG(l_extendedprice), 2) AS avg_price,
       ROUND(STDDEV(l_extendedprice), 2) AS std_price
FROM lineitem GROUP BY l_returnflag
""")
def variance_stats(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.round(F.stddev("l_extendedprice"), 2).alias("std_price"),
    )


# ===================================================================
# A13/O3 — top-k longest distinct values
# ===================================================================

@q("toplength", """
SELECT p_type AS val, CAST(length(p_type) AS INT) AS len
FROM (SELECT DISTINCT p_type FROM part WHERE length(p_type) > 0)
ORDER BY len DESC, val LIMIT 10
""")
def toplength(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select("p_type").distinct()
    return (
        p.where(F.length("p_type") > 0)
        .select(F.col("p_type").alias("val"), F.length("p_type").cast("int").alias("len"))
        .orderBy(F.desc("len"), "val").limit(10)
    )


# ===================================================================
# A12/O2 — DISTINCT wikidata-style id union
# ===================================================================

@q("wikidata_id_union", """
SELECT DISTINCT id FROM (
  SELECT 'Q' || CAST(c_custkey AS VARCHAR) AS id FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT 'Q' || CAST(s_suppkey * 2 AS VARCHAR) AS id FROM supplier
) WHERE regexp_full_match(id, 'Q[1-9][0-9]{0,18}')
""")
def wikidata_id_union(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") % 3 == 0).select(
        F.concat(F.lit("Q"), F.col("c_custkey").cast("string")).alias("id"))
    s = _t(spark, sf_dir, "supplier").select(
        F.concat(F.lit("Q"), (F.col("s_suppkey") * 2).cast("string")).alias("id"))
    return c.unionByName(s).where(F.col("id").rlike("^Q[1-9][0-9]{0,18}$")).distinct()


# ===================================================================
# J3 — lookup join (merge_wiki_names shape: broadcast dim + conditional)
# ===================================================================

@q("wiki_lookup_join", """
SELECT c.c_custkey AS key,
       CASE WHEN n.n_name IS NOT NULL AND c.c_acctbal > 0
            THEN n.n_name ELSE c.c_name END AS merged_name
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
""")
def wiki_lookup_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
    return j.select(
        F.col("c_custkey").alias("key"),
        F.when(
            F.col("n_name").isNotNull() & (F.col("c_acctbal") > 0), F.col("n_name")
        ).otherwise(F.col("c_name")).alias("merged_name"),
    )


# ===================================================================
# J6 — left-semi tile-copy join
# ===================================================================

@q("tilecopy_semi_join", """
WITH map AS (SELECT DISTINCT o_custkey AS ref FROM orders WHERE o_totalprice > 100000)
SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey IN (SELECT ref FROM map)
""")
def tilecopy_semi_join(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000) \
        .select(F.col("o_custkey").alias("ref")).distinct()
    c = _t(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.ref, "left_semi").select("c_custkey", "c_mktsegment")


# ===================================================================
# T5 — tile_multiplier (changed-tile fanout across zooms)
# ===================================================================

_TILEMULT_SQL = """
WITH changed AS (
  SELECT DISTINCT CAST(6 AS INT) AS z,
         CAST(user_id % 64 AS BIGINT) AS x,
         CAST(event_id % 64 AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase'
), levels AS (
  SELECT c.z, c.x, c.y, tz FROM changed c, (SELECT UNNEST(range(4, 9)) AS tz)
), parents AS (
  SELECT CAST(tz AS INT) AS z, x // CAST(POW(2, z - tz) AS BIGINT) AS x,
         y // CAST(POW(2, z - tz) AS BIGINT) AS y
  FROM levels WHERE tz <= z
), down AS (
  SELECT CAST(tz AS INT) AS tz, x, y, CAST(POW(2, tz - z) AS BIGINT) AS k
  FROM levels WHERE tz > z
), children AS (
  SELECT d.tz AS z, xx.cx AS x, yy.cy AS y
  FROM down d,
       LATERAL (SELECT UNNEST(range(d.x * d.k, (d.x + 1) * d.k)) AS cx) xx,
       LATERAL (SELECT UNNEST(range(d.y * d.k, (d.y + 1) * d.k)) AS cy) yy
)
SELECT DISTINCT z, x, y FROM (
  SELECT * FROM parents UNION ALL SELECT * FROM children
)
"""


@q("tile_multiplier_fanout", _TILEMULT_SQL)
def tile_multiplier_fanout(spark, sf_dir):
    from sparktiles.operators.pyramid import tile_multiplier

    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    changed = ev.select(
        F.lit(6).cast("int").alias("z"),
        (F.col("user_id") % 64).alias("x"),
        (F.col("event_id") % 64).alias("y"),
    ).distinct()
    return tile_multiplier(changed, 4, 8)


# ===================================================================
# Dedup suite over documents
# ===================================================================

@q("dedup_exact", """
SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
""")
def dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.col("text")).alias("content_hash")).agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies"))


_MINHASH_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), idx AS (
  SELECT doc_id, t, UNNEST(range(1, len(t) - 1)) AS i FROM toks
), shingles AS (
  SELECT DISTINCT doc_id,
         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS s
  FROM idx
), sigs AS (
  SELECT doc_id,
         MIN(substr(md5('0' || s), 1, 8)) AS h0,
         MIN(substr(md5('0' || s), 9, 8)) AS h1,
         MIN(substr(md5('0' || s), 17, 8)) AS h2,
         MIN(substr(md5('0' || s), 25, 8)) AS h3
  FROM shingles GROUP BY doc_id
)
SELECT h0 || h1 AS band0, h2 || h3 AS band1,
       COUNT(*) AS bucket_size, MIN(doc_id) AS canonical_id
FROM sigs GROUP BY band0, band1
"""


@q("dedup_minhash_lsh", _MINHASH_SQL)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup buckets: 3-token shingles -> 4 portable
    minhashes (min of 8-hex slices of a seeded md5 digest) -> 2 band signatures ->
    bucket table. Docs sharing a band signature are near-dup candidates
    (the bucket-join side of the classic shingle->minhash->band->bucket
    pipeline). Signature generation is the operator's map-only
    fold (operators/text.py minhash_signatures) — the bucket groupBy
    is the query's ONLY shuffle."""
    from sparktiles.operators.text import minhash_signatures

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, n_hashes=4)
    return sigs.groupBy(
        F.concat("h0", "h1").alias("band0"),
        F.concat("h2", "h3").alias("band1"),
    ).agg(F.count("*").alias("bucket_size"), F.min("doc_id").alias("canonical_id"))


# Length-BUCKET blocking (same-or-adjacent bucket of 32 chars), not
# exact-length equality — a near-dup that gained/lost a few characters
# is still a candidate. The a-side explodes to {bkt-1, bkt, bkt+1} so
# the join stays equi-keyed; pairs below the 0.2 Jaccard floor are
# filtered on the UNROUNDED double (identical IEEE division both
# engines), the rounded value is the reported column.
_NGRAM_JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id, lang, CAST(FLOOR(n_chars / 32) AS BIGINT) AS bkt,
         list_distinct(string_split(text, ' ')) AS ts
  FROM documents
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) /
         (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS j
  FROM (SELECT t.*, o.d FROM toks t, (VALUES (-1), (0), (1)) o(d)) a
  JOIN toks b
    ON a.lang = b.lang AND a.bkt + a.d = b.bkt AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, ROUND(j, 4) AS jaccard FROM pairs WHERE j >= 0.2
"""


@q("dedup_ngram_jaccard", _NGRAM_JACCARD_SQL)
def dedup_ngram_jaccard(spark, sf_dir):
    from sparktiles.operators.text import ngram_jaccard_bucketed

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_bucketed(
        d, bucket_width=32, min_jaccard=0.2, len_col="n_chars",
        extra_block_cols=["lang"])
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


# ===================================================================
# Text analysis suite
# ===================================================================

_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]

_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, length(text) AS n_char,
         len(string_split(text, ' ')) AS n_tok,
         len(list_filter(string_split(text, ' '),
             x -> list_contains({_STOPWORDS!r}, x))) AS n_stop
  FROM documents
)
SELECT doc_id, lang, n_char, CAST(n_tok AS BIGINT) AS n_tok,
       ROUND(CAST(n_stop AS DOUBLE) / n_tok, 4) AS stopword_ratio,
       ROUND(CAST(n_char AS DOUBLE) / n_tok, 4) AS avg_token_len
FROM t
"""


@q("text_quality_score", _QUALITY_SQL)
def text_quality_score(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop, x)))
    return d.select(
        "doc_id", "lang",
        F.length("text").cast("long").alias("n_char"),
        F.size(toks).cast("long").alias("n_tok"),
        F.round(n_stop.cast("double") / F.size(toks), 4).alias("stopword_ratio"),
        F.round(F.length("text").cast("double") / F.size(toks), 4).alias("avg_token_len"),
    )


@q("token_count", """
SELECT lang,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS BIGINT) AS word_tokens
FROM documents GROUP BY lang
""")
def token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("ws_tokens"),
        F.sum(F.size(F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z0-9]+"), F.lit(0)))).alias("word_tokens"),
    )


@q("doc_fingerprint", """
SELECT doc_id, MIN(md5(substr(text, CAST(i AS INT), 16))) AS fingerprint
FROM documents, (SELECT UNNEST(range(1, 200, 8)) AS i)
WHERE CAST(i AS INT) + 16 <= length(text) + 1
GROUP BY doc_id
""")
def doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    idx = F.explode(F.sequence(F.lit(1), F.lit(193), F.lit(8))).alias("i")
    e = d.select("doc_id", F.length("text").alias("L"), "text").select(
        "doc_id", "L", "text", idx
    ).where(F.col("i") + 16 <= F.col("L") + 1)
    return e.groupBy("doc_id").agg(
        F.min(F.md5(F.expr("substr(text, i, 16)"))).alias("fingerprint")
    )


# ===================================================================
# ANN — brute-force cosine top-k over embeddings
# ===================================================================

_ANN_SQL = """
WITH e AS (
  SELECT vec_id, embedding,
         sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
               FROM UNNEST(embedding) AS u(x))) AS nrm
  FROM embeddings
), q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM e WHERE vec_id % 100 = 0),
base AS (SELECT vec_id AS bid, embedding AS bv, nrm AS bn FROM e),
pairs AS (
  SELECT qid, bid, qn, bn,
    (SELECT SUM(CAST(qv[CAST(i AS INT)] AS DOUBLE) * CAST(bv[CAST(i AS INT)] AS DOUBLE))
     FROM UNNEST(range(1, 65)) AS r(i)) AS dot
  FROM q CROSS JOIN base WHERE qid <> bid
), ranked AS (
  SELECT qid, bid, ROUND(dot / (qn * bn), 4) AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY ROUND(dot / (qn * bn), 4) DESC, bid) AS rn
  FROM pairs
)
SELECT qid, bid, cos_sim, CAST(rn AS INT) AS rank FROM ranked WHERE rn <= 5
"""


_MULTIMODAL_SQL = """
SELECT doc_id AS media_id,
  CAST((SELECT SUM(CASE WHEN i <= LENGTH(text)
                        THEN unicode(substr(text, CAST(i AS INT), 1))
                        ELSE 0 END)
        FROM UNNEST(range(1, 65)) AS r(i)) AS BIGINT) AS byte_sum,
  CAST(8 AS INT) AS emb_dim
FROM documents
"""


@q("multimodal_image_features", _MULTIMODAL_SQL)
def multimodal_image_features(spark, sf_dir):
    """Multimodal plumbing end-to-end: binary payload column -> canonical
    media shape -> Arrow-batched mapInPandas decode/feature-extract
    (operators/multimodal.py, deterministic fake decoder). The oracle
    recovers the exact input byte sum from the decoder's mean intensity
    (mean * 64 * 255 is an integer) — verifying the binary column
    round-trips bit-exactly through attach_media + the UDF batch path."""
    from sparktiles.operators.multimodal import attach_media, image_features

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.substring("text", 1, 64), "utf-8").alias("payload"))
    media = attach_media(docs, "payload", "image", "image/x-fake", id_col="doc_id")
    feats = image_features(media, deterministic_fake=True)
    return feats.select(
        "media_id",
        F.round(F.col("mean_intensity") * 64 * 255).cast("long").alias("byte_sum"),
        F.size("embedding").alias("emb_dim"),
    )


# ===================================================================
# SPTX real-codec pipeline: deterministic formula pixels -> REAL byte
# encode (header + uint8 raster) -> real parse/decode in the Arrow
# batch UDF -> integer-quantized stats. The oracle re-derives the same
# sums from the closed-form pixel definition — if the codec mangled a
# single byte anywhere (encode, shuffle, Arrow, decode), the exact
# integer sums would diverge.
# ===================================================================

_SPTX_SQL = """
WITH px AS (
  SELECT d.doc_id, r.i, ((d.doc_id * 31 + r.i * 7) % 256) AS v
  FROM documents d
  CROSS JOIN (SELECT unnest(range(0, 64)) AS i) r
)
SELECT doc_id AS media_id,
       CAST(SUM(v) AS BIGINT) AS px_sum,
       CAST(SUM(CASE WHEN i < 8 THEN v ELSE 0 END) AS BIGINT) AS row0_sum
FROM px GROUP BY doc_id
"""


@q("sptx_image_stats", _SPTX_SQL)
def sptx_image_stats(spark, sf_dir):
    """Real-codec multimodal path: SPTX images (toy raster format,
    operators/multimodal.py) built from formula pixels, parsed and
    feature-extracted by the production Arrow-batch UDF; stats are
    integer-quantized (mean * 255 * n is the exact pixel sum in
    float64) so both engines compare as BIGINT."""
    from sparktiles.operators.multimodal import (
        image_features, make_sptx_media)

    docs = _t(spark, sf_dir, "documents")
    media = make_sptx_media(docs, id_col="doc_id", w=8, h=8)
    feats = image_features(media)
    return feats.select(
        "media_id",
        F.round(F.col("mean_intensity") * (255 * 64)).cast("long")
        .alias("px_sum"),
        F.round(F.element_at("embedding", 1) * (255 * 8)).cast("long")
        .alias("row0_sum"),
    )


_COS_DEDUP_SQL = """
WITH e AS (
  SELECT vec_id, embedding,
         sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
               FROM UNNEST(embedding) AS u(x))) AS nrm
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    (SELECT SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
                * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
     FROM UNNEST(range(1, 65)) AS r(i)) / (a.nrm * b.nrm) AS cos
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cos, 4) AS cos_sim FROM pairs WHERE cos >= 0.35
"""


@q("dedup_embedding_cosine", _COS_DEDUP_SQL)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact path of
    operators/ann.py:cosine_near_dups); the LSH-blocked scale path is
    recall-tested in tests/test_ann.py."""
    from sparktiles.operators.ann import cosine_near_dups

    emb = _t(spark, sf_dir, "embeddings")
    pairs = cosine_near_dups(emb, 0.35, exact=True)
    return pairs.withColumn("cos_sim", F.round("cos_sim", 4))


@q("ann_cosine_topk", _ANN_SQL)
def ann_cosine_topk(spark, sf_dir):
    """Exact cosine top-5 per query (vec_id % 100 == 0) over the
    embeddings table.

    r06 shape: the r05 plan evaluated a per-pair zip_with/aggregate
    fold inside a 4M-row crossJoin (one 64-element array allocation
    per pair, 58.9s at sf1.0 in BENCH_r05). Now a mapInArrow kernel
    holds the base matrix once per task (read from the same parquet
    input — the broadcast-side pattern of guide §3.1/§4.5) and
    accumulates dot products one component at a time, which performs
    the identical left-associated double additions as the SQL fold,
    so every cosine is bit-equal. The kernel emits only the rows that
    can reach the top-5 after ROUND(.,4): raw cos >= (5th-largest raw)
    - 1.001e-4 is a provable superset (round moves a value by at most
    5e-5 + ulp, so any row whose rounded value ties or beats the
    rounded 5th must sit within 1e-4 of it raw). ROUND and the rank
    window stay in Spark, so published cos_sim/rank are the engine's
    own HALF_UP values and the oracle is untouched."""
    import numpy as np
    import pyarrow as pa

    from sparktiles.operators.spread import spread

    path = f"{sf_dir}/embeddings.parquet"
    emb = _t(spark, sf_dir, "embeddings")
    qs = spread(emb.where(F.col("vec_id") % 100 == 0)
                .select("vec_id", "embedding"), min_bytes=0)

    def _mat(col):
        col = col.combine_chunks()
        off = np.diff(col.offsets.to_numpy())
        assert off.size == 0 or (off == off[0]).all()
        d = int(off[0]) if off.size else 0
        return (col.values.to_numpy(zero_copy_only=False)
                .astype(np.float64).reshape(-1, d))

    def topk_cand(batches):
        import pyarrow.parquet as pq

        t = pq.read_table(path, columns=["vec_id", "embedding"])
        bids = t.column("vec_id").to_numpy()
        B = _mat(t.column("embedding"))
        dim = B.shape[1]
        nnb = np.zeros(len(bids))
        for j in range(dim):
            nnb += B[:, j] * B[:, j]
        nb = np.sqrt(nnb)
        # query-block size: at most two (qb x |base|) float64 arrays are
        # alive at once — the accumulator (reused by every block, divided
        # in place) and one broadcast temporary (the product in the fold,
        # then the denominator) — so qb keeps the pair under ~512 MB at
        # ANY base size (scale-adaptive, guide §5). The per-pair fold
        # order is per-row, so blocking cannot change a single cosine bit
        qb = max(1, (32 << 20) // max(1, len(bids)))
        for batch in batches:
            if batch.num_rows == 0:
                continue
            all_qids = batch.column("vec_id").to_numpy()
            Qall = _mat(pa.chunked_array([batch.column("embedding")]))
            oq, ob, oc = [], [], []
            buf = np.empty((min(qb, len(all_qids)), len(bids)))
            for q0 in range(0, len(all_qids), qb):
                qids = all_qids[q0:q0 + qb]
                Q = Qall[q0:q0 + qb]
                nnq = np.zeros(len(qids))
                acc = buf[:len(qids)]
                acc.fill(0.0)
                for j in range(dim):
                    nnq += Q[:, j] * Q[:, j]
                    acc += Q[:, j][:, None] * B[:, j][None, :]
                nq = np.sqrt(nnq)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.divide(acc, nq[:, None] * nb[None, :], out=acc)
                for i in range(len(qids)):
                    c = cos[i]
                    valid = bids != qids[i]
                    cc = np.where(np.isnan(c), np.inf, c)
                    vals = cc[valid]
                    if vals.size > 5:
                        thr = np.partition(vals, -5)[-5] - 1.001e-4
                        sel = valid & (cc >= thr)
                    else:
                        sel = valid
                    oq.append(np.full(int(sel.sum()), qids[i],
                                      dtype=np.int64))
                    ob.append(bids[sel])
                    oc.append(c[sel])
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(oq)), pa.array(np.concatenate(ob)),
                 pa.array(np.concatenate(oc), type=pa.float64())],
                names=["qid", "bid", "cos"])

    cand = qs.mapInArrow(topk_cand, "qid long, bid long, cos double")
    p = cand.withColumn("cos_sim", F.round(F.col("cos"), 4))
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.col("bid"))
    return (
        p.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5).select("qid", "bid", "cos_sim", "rank")
    )


# ===================================================================
# events time windows (batch incremental analog)
# ===================================================================

@q("event_time_windows", """
SELECT CAST(date_part('year', ts) AS INT) AS y,
       CAST(date_part('month', ts) AS INT) AS m,
       CAST(date_part('day', ts) AS INT) AS d,
       CAST(date_part('hour', ts) AS INT) AS h,
       event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
FROM events GROUP BY y, m, d, h, event_type
""")
def event_time_windows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.year("ts").alias("y"), F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"), F.hour("ts").alias("h"),
        "event_type",
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))


# ===================================================================
# T1 — pyramid enumeration counts within a lon/lat bbox
# ===================================================================

_PYRAMID_SQL = f"""
WITH zs AS (SELECT CAST(UNNEST(range(0, 8)) AS INT) AS z),
rng AS (
  SELECT z,
    GREATEST(0, LEAST(CAST(FLOOR((-30.0 + 180.0) / 360.0 * POW(2.0, z)) AS BIGINT),
                      CAST(POW(2.0, z) AS BIGINT) - 1)) AS x0,
    GREATEST(0, LEAST(CAST(FLOOR((40.0 + 180.0) / 360.0 * POW(2.0, z)) AS BIGINT),
                      CAST(POW(2.0, z) AS BIGINT) - 1)) AS x1,
    GREATEST(0, LEAST(CAST(FLOOR((1.0 - ln(tan(CAST(90.0 + 55.0 AS DOUBLE) * {PI!r} / 360.0)) / {PI!r}) / 2.0 * POW(2.0, z)) AS BIGINT),
                      CAST(POW(2.0, z) AS BIGINT) - 1)) AS y0,
    GREATEST(0, LEAST(CAST(FLOOR((1.0 - ln(tan(CAST(90.0 + -20.0 AS DOUBLE) * {PI!r} / 360.0)) / {PI!r}) / 2.0 * POW(2.0, z)) AS BIGINT),
                      CAST(POW(2.0, z) AS BIGINT) - 1)) AS y1
  FROM zs
)
SELECT z, (x1 - x0 + 1) * (y1 - y0 + 1) AS n_tiles FROM rng
"""


@q("pyramid_enumeration", _PYRAMID_SQL)
def pyramid_enumeration(spark, sf_dir):
    from sparktiles.operators.pyramid import tile_pyramid

    df = tile_pyramid(spark, 0, 7, bounds_lonlat=(-30.0, -20.0, 40.0, 55.0))
    return df.groupBy("z").agg(F.count("*").alias("n_tiles")).select(
        "z", "n_tiles")


# ===================================================================
# T3 — impute children fanout (dup parents inherit, rest generate)
# ===================================================================

_IMPUTE_SQL = """
WITH map AS (
  SELECT CAST(7 AS INT) AS zoom_level,
         CAST(user_id % 40 AS BIGINT) AS tile_column,
         CAST(event_id % 40 AS BIGINT) AS tile_row,
         md5(CAST(user_id % 5 AS VARCHAR)) AS tile_id
  FROM events
), dedup AS (
  SELECT DISTINCT zoom_level, tile_column, tile_row, tile_id FROM map
), dups AS (
  SELECT tile_id FROM dedup GROUP BY tile_id HAVING COUNT(*) >= 20
), kids AS (
  SELECT d.zoom_level + 1 AS zoom_level,
         d.tile_column * 2 + dx.v AS tile_column,
         d.tile_row * 2 + dy.v AS tile_row,
         d.tile_id,
         (dups.tile_id IS NOT NULL) AS is_dup
  FROM dedup d
  LEFT JOIN dups ON d.tile_id = dups.tile_id,
  (SELECT UNNEST([0, 1]) AS v) dx, (SELECT UNNEST([0, 1]) AS v) dy
)
SELECT CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
       CAST(SUM(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT) AS n_generate
FROM kids
"""


@q("impute_fanout", _IMPUTE_SQL)
def impute_fanout(spark, sf_dir):
    from sparktiles.operators.pyramid import impute_children

    ev = _t(spark, sf_dir, "events")
    parents = ev.select(
        F.lit(7).cast("int").alias("zoom_level"),
        (F.col("user_id") % 40).alias("tile_column"),
        (F.col("event_id") % 40).alias("tile_row"),
        F.md5((F.col("user_id") % 5).cast("string")).alias("tile_id"),
    ).distinct()
    dups = (
        parents.groupBy("tile_id").agg(F.count("*").alias("c"))
        .where(F.col("c") >= 20).select("tile_id")
    )
    imputed, gen = impute_children(parents, dups)
    # single job: tag + union + one agg (no driver-side .first() loops)
    both = imputed.select(F.lit(1).alias("_i")).unionByName(
        gen.select(F.lit(0).alias("_i")))
    return both.agg(
        F.sum("_i").cast("long").alias("n_imputed"),
        F.sum(1 - F.col("_i")).cast("long").alias("n_generate"),
    )


# ===================================================================
# sessionization — lag/gap window (streaming-analog batch op)
# ===================================================================

_SESSION_SQL = """
WITH e AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new,
         event_id
  FROM events
), s AS (
  SELECT user_id, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM e
)
SELECT user_id, CAST(session_id AS INT) AS session_id,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM s GROUP BY user_id, session_id
"""


@q("session_windows", _SESSION_SQL)
def session_windows(spark, sf_dir):
    from pyspark.sql.window import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    lagts = F.lag("ts").over(w)
    is_new = F.when(
        lagts.isNull()
        | ((F.col("ts") - lagts) > F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    e = ev.withColumn("is_new", is_new)
    s = e.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("int"),
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


# ===================================================================
# language-ID heuristic (stopword profiles)
# ===================================================================

_LANGID_SQL = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), scored AS (
  SELECT doc_id,
    CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is'], x))) AS DOUBLE) / len(toks) AS s_en,
    CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist','nicht','ein'], x))) AS DOUBLE) / len(toks) AS s_de
  FROM t
)
SELECT doc_id,
       CASE WHEN s_en = 0 AND s_de = 0 THEN 'und'
            WHEN s_en >= s_de THEN 'en' ELSE 'de' END AS lang_pred,
       ROUND(GREATEST(s_en, s_de), 4) AS lang_score
FROM scored
"""


@q("langid_heuristic", _LANGID_SQL)
def langid_heuristic(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    en = F.array(*[F.lit(w) for w in ["the", "and", "of", "to", "a", "in", "is"]])
    de = F.array(*[F.lit(w) for w in ["der", "die", "und", "das", "ist", "nicht", "ein"]])
    s_en = F.size(F.filter(toks, lambda x: F.array_contains(en, x))).cast("double") / F.size(toks)
    s_de = F.size(F.filter(toks, lambda x: F.array_contains(de, x))).cast("double") / F.size(toks)
    return d.select(
        "doc_id",
        F.when((s_en == 0) & (s_de == 0), "und")
        .when(s_en >= s_de, "en").otherwise("de").alias("lang_pred"),
        F.round(F.greatest(s_en, s_de), 4).alias("lang_score"),
    )


# ===================================================================
# quality filter funnel
# ===================================================================

_FUNNEL_SQL = """
WITH t AS (
  SELECT doc_id, length(text) AS n_char,
         len(string_split(text, ' ')) AS n_tok,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
           / length(text) AS punct_ratio
  FROM documents
)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_tok >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
       CAST(SUM(CASE WHEN punct_ratio < 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_punct,
       CAST(SUM(CASE WHEN n_tok >= 5 AND punct_ratio < 0.2
                AND (CAST(n_char AS DOUBLE) / n_tok) BETWEEN 2.0 AND 20.0
                THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
FROM t
"""


@q("quality_funnel", _FUNNEL_SQL)
def quality_funnel(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    punct = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?]", "")).cast(
        "double") / F.length("text")
    avg_len = F.length("text").cast("double") / n_tok
    return d.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(n_tok >= 5, 1).otherwise(0)).alias("pass_len"),
        F.sum(F.when(punct < 0.2, 1).otherwise(0)).alias("pass_punct"),
        F.sum(
            F.when((n_tok >= 5) & (punct < 0.2) & avg_len.between(2.0, 20.0), 1)
            .otherwise(0)
        ).alias("pass_all"),
    )


# ===================================================================
# Gopher-style repetition signals
# ===================================================================

_REPETITION_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
g2 AS (
  SELECT doc_id,
         unnest([ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))]) AS g
  FROM toks
),
g3 AS (
  SELECT doc_id,
         unnest([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                 for i in range(1, len(ts) - 1)]) AS g
  FROM toks
),
c2 AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
c3 AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g3 GROUP BY 1, 2),
a2 AS (
  SELECT doc_id, SUM(cnt) AS n2,
         ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 4) AS top2,
         ROUND(CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
               / SUM(cnt), 4) AS dup2
  FROM c2 GROUP BY 1
),
a3 AS (
  SELECT doc_id, SUM(cnt) AS n3,
         ROUND(CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
               / SUM(cnt), 4) AS dup3
  FROM c3 GROUP BY 1
)
SELECT t.doc_id,
       COALESCE(a2.n2, 0) AS n_2grams,
       COALESCE(a2.top2, 0.0) AS top_2gram_frac,
       COALESCE(a2.dup2, 0.0) AS dup_2gram_frac,
       COALESCE(a3.n3, 0) AS n_3grams,
       COALESCE(a3.dup3, 0.0) AS dup_3gram_frac,
       (COALESCE(a2.top2, 0.0) > 0.20 OR COALESCE(a3.dup3, 0.0) > 0.30)
         AS repetitive
FROM toks t LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
"""


@q("gopher_repetition", _REPETITION_SQL)
def gopher_repetition(spark, sf_dir):
    """Gopher repetition filters (dup/top n-gram occurrence fractions)
    over the documents table — operators/text.py repetition_signals."""
    from sparktiles.operators.text import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


# ===================================================================
# ExactSubstr-style duplicate windows / decontamination / sampling /
# SemDeDup — the remaining training-data curation family
# ===================================================================

# DuckDB 1-based inclusive slice ts[i:i+4] = 5 tokens; range(1, n) is
# empty when n <= 1 so short docs produce no windows (they re-enter
# via the LEFT JOIN with zero counts, matching Spark's CASE guard).
_WINDOWS_5 = """
  SELECT doc_id, md5(g) AS h FROM (
    SELECT doc_id,
           unnest([list_aggregate(ts[i:i+4], 'string_agg', ' ')
                   for i in range(1, len(ts) - 3)]) AS g
    FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM {src})
  )
"""

_DUPWIN_SQL = f"""
WITH w AS ({_WINDOWS_5.format(src="documents")}),
pdg AS (SELECT doc_id, h, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
gd AS (SELECT h, COUNT(*) AS ndocs FROM pdg GROUP BY 1),
st AS (
  SELECT doc_id, SUM(cnt) AS n_windows,
         SUM(CASE WHEN ndocs > 1 THEN cnt ELSE 0 END) AS dup_windows
  FROM pdg JOIN gd USING (h) GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(n_windows, 0) AS n_windows,
       COALESCE(dup_windows, 0) AS dup_windows,
       ROUND(COALESCE(CAST(dup_windows AS DOUBLE) / n_windows, 0.0), 4)
         AS dup_window_frac
FROM documents d LEFT JOIN st USING (doc_id)
"""


@q("dup_window_fraction", _DUPWIN_SQL)
def dup_window_fraction(spark, sf_dir):
    """ExactSubstr-flavored cross-doc duplicate-window fractions
    (operators/text.py duplicate_window_fractions, window=5)."""
    from sparktiles.operators.text import duplicate_window_fractions

    return duplicate_window_fractions(_t(spark, sf_dir, "documents"), window=5)


_DECONTAM_SQL = f"""
WITH corpus AS (SELECT * FROM documents WHERE source <> 'src0'),
bench AS (SELECT * FROM documents WHERE source = 'src0'),
cg AS (SELECT DISTINCT doc_id, h FROM ({_WINDOWS_5.format(src="corpus")})),
bg AS (SELECT DISTINCT h FROM ({_WINDOWS_5.format(src="bench")})),
hits AS (
  SELECT doc_id, COUNT(*) AS n FROM cg JOIN bg USING (h) GROUP BY 1
)
SELECT c.doc_id,
       COALESCE(n, 0) AS n_contaminated_grams,
       COALESCE(n, 0) > 0 AS contaminated
FROM corpus c LEFT JOIN hits USING (doc_id)
"""


@q("benchmark_decontamination", _DECONTAM_SQL)
def benchmark_decontamination(spark, sf_dir):
    """Benchmark decontamination: docs from source src0 act as the
    held-out eval set; every other doc is flagged if it shares a
    5-gram (operators/text.py decontaminate; benchmark side
    broadcast)."""
    from sparktiles.operators.text import decontaminate

    docs = _t(spark, sf_dir, "documents")
    return decontaminate(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"), n=5)


@q("stratified_sample_lang", """
SELECT doc_id, lang, sample_rank FROM (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT)
           AS sample_rank
  FROM documents
) WHERE sample_rank <= 20
""")
def stratified_sample_lang(spark, sf_dir):
    """Deterministic per-language quota sampling (corpus
    re-balancing) — operators/text.py stratified_sample, quota 20."""
    from sparktiles.operators.text import stratified_sample

    return stratified_sample(_t(spark, sf_dir, "documents"), "lang", 20)


_SEMDEDUP_SQL = """
WITH e AS (
  SELECT vec_id, label, embedding,
         sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
               FROM UNNEST(embedding) AS u(x))) AS nrm
  FROM embeddings
), flt AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE (SELECT SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
                    * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
         FROM UNNEST(range(1, 65)) AS r(i)) / (a.nrm * b.nrm) >= 0.35
), nbr AS (
  SELECT id_a AS id, id_b AS n FROM flt
  UNION ALL SELECT id_b, id_a FROM flt
), best AS (SELECT id, MIN(n) AS minn FROM nbr GROUP BY 1)
SELECT e.vec_id AS id, e.label AS cluster,
       LEAST(e.vec_id, COALESCE(minn, e.vec_id)) AS canonical_id
FROM e LEFT JOIN best ON e.vec_id = best.id
"""


@q("semdedup_mapping", _SEMDEDUP_SQL)
def semdedup_mapping(spark, sf_dir):
    """SemDeDup cluster-blocked semantic dedup over the embeddings
    table, blocking on the label column (operators/ann.py semdedup,
    threshold 0.35)."""
    from sparktiles.operators.ann import semdedup

    return semdedup(_t(spark, sf_dir, "embeddings"), 0.35, "label")


def _kmeans_sql(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """Unrolled Lloyd k-means as pure SQL: seeds = k smallest
    md5(id) rows (portable), then `iters` assign/update rounds as
    chained CTEs, then a final assignment. Verified exact-match
    against kmeans_lloyd at sf0.001/0.01/0.1 — integer cluster ids
    are ulp-robust on this corpus because the clusters are well
    separated (a near-Voronoi-boundary corpus could flip ids between
    engines; the dedup use case doesn't care, the hash gate would)."""
    def assign(src_cent, out):
        return f"""{out} AS (
  SELECT id, ci FROM (
    SELECT pd.id, c.ci,
           ROW_NUMBER() OVER (PARTITION BY pd.id
             ORDER BY SUM((pd.x - c.m) * (pd.x - c.m)), c.ci) AS rn
    FROM pd JOIN {src_cent} c ON pd.d = c.d
    GROUP BY pd.id, c.ci
  ) WHERE rn = 1
)"""

    def update(src_assign, prev_cent, out):
        return f"""m_{out} AS (
  SELECT {src_assign}.ci, pd.d, AVG(pd.x) AS m
  FROM {src_assign} JOIN pd USING (id) GROUP BY 1, 2
), {out} AS (
  SELECT p.ci, p.d, COALESCE(m_{out}.m, p.m) AS m
  FROM {prev_cent} p LEFT JOIN m_{out} ON m_{out}.ci = p.ci AND m_{out}.d = p.d
)"""

    parts = [f"""pts AS (SELECT vec_id AS id, embedding FROM embeddings),
pd AS (
  SELECT id, CAST(i AS INT) AS d,
         CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
  FROM pts, UNNEST(range(1, {dim + 1})) AS r(i)
),
seed AS (
  SELECT * FROM (
    SELECT id, CAST(ROW_NUMBER() OVER (
      ORDER BY md5(CAST(id AS VARCHAR)), id) - 1 AS INT) AS ci
    FROM pts
  ) WHERE ci < {k}
),
c0 AS (SELECT s.ci, pd.d, pd.x AS m FROM seed s JOIN pd ON pd.id = s.id)"""]
    cur = "c0"
    for it in range(1, iters + 1):
        parts.append(assign(cur, f"a{it}"))
        parts.append(update(f"a{it}", cur, f"c{it}"))
        cur = f"c{it}"
    parts.append(assign(cur, "afinal"))
    return "WITH " + ",\n".join(parts) + "\nSELECT id, ci AS cluster FROM afinal"


@q("kmeans_clusters", _kmeans_sql())
def kmeans_clusters(spark, sf_dir):
    """Deterministic Lloyd k-means assignment (k=8, 2 iterations)
    over the embeddings table — operators/ann.py kmeans_lloyd, the
    iterative-algorithm representative (broadcast centroids, zero
    base shuffles; oracle is the same algorithm unrolled in SQL)."""
    from sparktiles.operators.ann import kmeans_lloyd

    return kmeans_lloyd(_t(spark, sf_dir, "embeddings"), 8, iters=2)


# ===================================================================
# product quantization — encode + asymmetric-distance top-k.
# The oracle uses CLOSED-FORM codebooks (integer-valued centroids
# from a formula over (subspace, cluster, component)) so the SQL
# stays generable; training itself (pq_train = per-subspace Lloyd)
# is covered by the kmeans oracle + pytest. Distances are built as
# the SAME left-associated chain of double ops in both engines, so
# codes and ADC ranks are bit-exact, and the outputs are ints only.
# ===================================================================

_PQ_M, _PQ_K, _PQ_D0 = 4, 8, 16  # 64-dim embeddings -> 4 x 16


def _pq_cent(j: int, c: int, t: int) -> float:
    return float(((c * 31 + t * 7 + j * 13) % 17) - 8)


def _pq_formula_books():
    return [[[_pq_cent(j, c, t) for t in range(_PQ_D0)]
             for c in range(_PQ_K)] for j in range(_PQ_M)]


def _pq_dist_sql(vec_expr: str, j: int, c: int) -> str:
    """(0.0 + (v[i]-cent)^2 + ...) left-associated, component order —
    bit-identical to the Spark fold."""
    terms = []
    for t in range(_PQ_D0):
        idx = j * _PQ_D0 + t + 1
        cent = _pq_cent(j, c, t)
        terms.append(
            f"(CAST({vec_expr}[{idx}] AS DOUBLE) - ({cent!r})) * "
            f"(CAST({vec_expr}[{idx}] AS DOUBLE) - ({cent!r}))")
    return "(0.0 + " + " + ".join(terms) + ")"


def _pq_codes_sql() -> str:
    dists = []
    for j in range(_PQ_M):
        for c in range(_PQ_K):
            dists.append(f"{_pq_dist_sql('e', j, c)} AS d{j}_{c}")
    codes = []
    for j in range(_PQ_M):
        least = "LEAST(" + ", ".join(f"d{j}_{c}" for c in range(_PQ_K)) + ")"
        case = " ".join(f"WHEN d{j}_{c} = {least} THEN {c}"
                        for c in range(_PQ_K))
        codes.append(f"CAST(CASE {case} END AS INT) AS code{j}")
    return f"""
WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
d AS (SELECT vec_id, {", ".join(dists)} FROM v)
SELECT vec_id, {", ".join(codes)} FROM d
"""


def _pq_adc_sql(topk: int = 10, n_q: int = 3) -> str:
    adc_terms = []
    for j in range(_PQ_M):
        case = " ".join(
            f"WHEN {c} THEN {_pq_dist_sql('q.qe', j, c)}"
            for c in range(_PQ_K))
        adc_terms.append(f"CASE c.code{j} {case} END")
    adc = "(0.0 + " + " + ".join(adc_terms) + ")"
    return f"""
WITH codes AS ({_pq_codes_sql()}),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
      WHERE vec_id < {n_q}),
pairs AS (
  SELECT q.query_id, c.vec_id, {adc} AS adc
  FROM q CROSS JOIN codes c
), r AS (
  SELECT query_id, vec_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc, vec_id) AS INT) AS rank
  FROM pairs
)
SELECT query_id, vec_id, rank FROM r WHERE rank <= {topk}
"""


@q("pq_codes", _pq_codes_sql())
def pq_codes(spark, sf_dir):
    """PQ encode (m=4 subspaces, k=8 centroids, formula codebooks):
    map-only broadcast-literal argmin per subspace, base never
    shuffles (operators/ann.py pq_encode)."""
    from sparktiles.operators.ann import pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    return pq_encode(emb, _pq_formula_books()).withColumnRenamed(
        "id", "vec_id")


@q("pq_adc_topk", _pq_adc_sql())
def pq_adc_topk_query(spark, sf_dir):
    """Asymmetric-distance PQ top-10 for 3 query vectors over the
    PQ-coded corpus: per-query distance TABLE shipped as literals,
    per-row cost = m lookups + a fixed-order sum; global top-k is
    Spark's TakeOrdered (operators/ann.py pq_adc_topk)."""
    from sparktiles.operators.ann import pq_adc_topk, pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_formula_books()
    # cache: each per-query union branch reuses the encoded corpus
    # instead of re-running the argmin expression tree n_q times
    codes = pq_encode(emb, books).cache()
    qs = {r["vec_id"]: [float(x) for x in r["embedding"]]
          for r in emb.where(F.col("vec_id") < 3).collect()}
    out = None
    for qid in sorted(qs):
        t = pq_adc_topk(codes, qs[qid], books, topk=10, query_id=qid)
        out = t if out is None else out.unionByName(t)
    return out


# ===================================================================
# rows-only entries (non-SQL-expressible: engine-specific hashing /
# pandas kernels) — the driver records the weaker rows-only check
# ===================================================================

def _simhash_sql() -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(60))
    fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END)"
        for b in range(60))
    return f"""
WITH toks AS (
  SELECT doc_id, ('0x' || substr(md5(t.tok), 1, 15))::BIGINT AS h
  FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
  WHERE t.tok != ''
), votes AS (
  SELECT doc_id,
         {votes}
  FROM toks GROUP BY doc_id
), fp AS (
  SELECT doc_id, {fp} AS simhash FROM votes
), banded AS (
  SELECT doc_id, simhash, band, (simhash >> (band * 16)) & 65535 AS key
  FROM fp, (SELECT UNNEST([0, 1, 2, 3]) AS band)
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 16
"""


@q("simhash_dedup", _simhash_sql())
def simhash_dedup_q(spark, sf_dir):
    """64-bit SimHash near-dup candidates over the portable md5-derived
    token hash (simhash(portable=True)): every stage — tokenize, hash,
    per-bit vote, fingerprint, multi-band blocking, hamming filter — is
    recomputed bit-for-bit by the DuckDB oracle."""
    from sparktiles.operators.text import hamming_candidates, simhash

    d = _t(spark, sf_dir, "documents")
    sims = simhash(d, portable=True)
    return hamming_candidates(sims, n_bands=4).where(F.col("hamming") <= 16)


_ANN_RECALL_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, 5 AS k, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 100 = 0
"""


def _ann_recall(spark, sf_dir, approx_fn, floor):
    """Recall@k of an approximate ANN path vs the exact brute-force
    top-k, emitted as a single oracle-checkable row: the approximate
    path is engine-specific (xxhash64 hyperplanes/centroids), but the
    CLAIM — mean recall over the exact top-5 is >= `floor` — is a
    deterministic, portable contract the driver hash-checks."""
    from sparktiles.operators.ann import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(F.col("vec_id").alias("bid"), v.alias("bv"))
    qs = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), v.alias("qv"))
    exact = brute_force_topk(qs, base, k=5).select("qid", "bid")
    approx = approx_fn(qs, base).select("qid", "bid")
    hits = approx.join(exact, ["qid", "bid"]).agg(F.count("*").alias("_hits"))
    nq = qs.agg(F.count("*").alias("n_queries"))
    return nq.crossJoin(hits).select(
        F.col("n_queries").cast("long").alias("n_queries"),
        F.lit(5).alias("k"),
        ((F.col("_hits") / (F.col("n_queries") * 5)) >= floor).alias("recall_ok"),
    )


@q("ann_lsh_recall", _ANN_RECALL_SQL)
def ann_lsh_recall_q(spark, sf_dir):
    """Hyperplane-LSH ANN recall@5 vs exact (measured 0.88-0.96 at
    sf0.001-0.01; gate at 0.8)."""
    from sparktiles.operators.ann import lsh_topk

    return _ann_recall(
        spark, sf_dir,
        lambda qs, base: lsh_topk(qs, base, k=5, dim=64, planes=3, bands=10),
        floor=0.8)


@q("ann_ivf_recall", _ANN_RECALL_SQL)
def ann_ivf_recall_q(spark, sf_dir):
    """IVF-style ANN recall@5 vs exact (n_probe=8/16 measured 0.80-0.84
    at sf0.001-0.01; gate at 0.7)."""
    from sparktiles.operators.ann import ivf_topk

    return _ann_recall(
        spark, sf_dir,
        lambda qs, base: ivf_topk(qs, base, k=5, n_centroids=16, n_probe=8),
        floor=0.7)


# Shared corpus + built pyramid for the flagship MVT queries: pages are
# documents with one deterministic `Name_<pid> (lat; lon)` mention each;
# geoparse extracts the mention, the build produces the z0-4 pyramid
# (buffer 8px, mid_zoom 2). The DuckDB oracle below recomputes tile
# membership with pure SQL tile math from the same documents table.
_MVT_STORE_CACHE: dict = {}


def _cleanup_mvt_stores():
    import shutil

    for store, _b in _MVT_STORE_CACHE.values():
        shutil.rmtree(store, ignore_errors=True)
    _MVT_STORE_CACHE.clear()


import atexit  # noqa: E402

atexit.register(_cleanup_mvt_stores)


def _mvt_built(spark, sf_dir, gzip_level=None):
    import tempfile

    from sparktiles.plans.config import FieldDef, LayerDef, TilesetDef
    from sparktiles.plans.pipeline import (
        BuildConfig, TileBuild, make_point_layer_frames)
    from sparktiles.sources.geoparse import build_features

    cache_key = (sf_dir, gzip_level)
    if cache_key in _MVT_STORE_CACHE:
        return _MVT_STORE_CACHE[cache_key]
    docs = _t(spark, sf_dir, "documents")
    pid = (F.col("doc_id") * 7 + 1) % 10000
    lon = ((pid * 37).cast("double") % 344) - 172.0 + 0.1234567
    lat = ((pid * 13).cast("double") % 136) - 68.0 + 0.0891011
    mention = F.format_string("Name_%d (%.5f; %.5f)", pid, lat, lon)
    pages = docs.select(
        F.format_string("https://example.org/doc/%d", F.col("doc_id")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(F.concat(F.col("text"), F.lit(" "), mention), "utf-8").alias("html"),
        F.concat(F.col("text"), F.lit(" "), mention).alias("text"),
        F.col("lang"),
    )
    feats = build_features(pages)
    tileset = TilesetDef(
        name="q", layers=[LayerDef(id="place", fields=[FieldDef("name")],
                                   buffer_size=8)],
        minzoom=0, maxzoom=4)
    frames = make_point_layer_frames(feats, tileset)
    store = tempfile.mkdtemp(prefix="sparktiles_q_")
    b = TileBuild(spark, frames, BuildConfig(
        store_dir=store, minzoom=0, maxzoom=4, mid_zoom=2,
        gzip_level=gzip_level))
    b.build_fast()
    _MVT_STORE_CACHE[cache_key] = (store, b)
    return store, b


# Candidate-tile CTE the oracles share: the set-oriented restatement of
# "which (z,x,y) tiles does each geoparsed point land in (own tile +
# 8px-buffer neighbors)" — identical float order to assign_point_tiles
# (fx = (mx+half)/world*2^z; strict `<` buffer tests; floor casts).
# printf('%.5f', v) reproduces the %.5f round-trip the mention text
# goes through in format_string -> regex-parse.
def _mvt_cand_sql():
    import math
    pi = math.pi
    return f"""
WITH pts AS (
  SELECT (doc_id * 7 + 1) % 10000 AS pid FROM documents
), parsed AS (
  SELECT 'Name_' || CAST(pid AS VARCHAR) AS name,
         CAST(printf('%.5f', CAST((pid * 37) % 344 AS DOUBLE) - 172.0 + 0.1234567) AS DOUBLE) AS lon,
         CAST(printf('%.5f', CAST((pid * 13) % 136 AS DOUBLE) - 68.0 + 0.0891011) AS DOUBLE) AS lat
  FROM pts
), m AS (
  SELECT name, lon / 180.0 * {HALF!r} AS mx,
         ln(tan((90.0 + lat) * {pi / 360.0!r})) / {pi!r} * {HALF!r} AS my
  FROM parsed
), zf AS (
  SELECT name, z,
         (mx + {HALF!r}) / {WORLD_MERC_WIDTH!r} * POW(2.0, z) AS fx,
         ({HALF!r} - my) / {WORLD_MERC_WIDTH!r} * POW(2.0, z) AS fy,
         CAST(POW(2.0, z) AS BIGINT) - 1 AS top
  FROM m, (SELECT UNNEST([0, 1, 2, 3, 4]) AS z)
), tl AS (
  SELECT name, z, fx, fy, top,
         CAST(FLOOR(fx) AS BIGINT) AS tx, CAST(FLOOR(fy) AS BIGINT) AS ty
  FROM zf
), cand AS (
  SELECT name, z, tx + dx AS x, ty + dy AS y
  FROM tl, (VALUES (0, 0), (-1, 0), (1, 0), (0, -1), (0, 1),
                   (-1, -1), (1, -1), (-1, 1), (1, 1)) AS o(dx, dy)
  WHERE (dx = 0 OR (dx = -1 AND fx - tx < 0.03125 AND tx > 0)
               OR (dx = 1 AND tx + 1 - fx < 0.03125 AND tx < top))
    AND (dy = 0 OR (dy = -1 AND fy - ty < 0.03125 AND ty > 0)
               OR (dy = 1 AND ty + 1 - fy < 0.03125 AND ty < top))
)
"""


_MVT_BUILD_SQL = _mvt_cand_sql() + """
SELECT CAST(z AS INT) AS zoom_level,
       CAST(POW(4.0, z) AS BIGINT) AS n_tiles,
       CAST(COUNT(*) AS BIGINT) AS n_nonempty
FROM (SELECT DISTINCT z, x, y FROM cand)
GROUP BY z
"""

_MVT_CONTENT_SQL = _mvt_cand_sql() + """
SELECT CAST(z AS INT) AS z, x, y, 'place' AS layer,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       md5(string_agg(name, ',' ORDER BY name)) AS names_md5
FROM cand
GROUP BY z, x, y
"""


@q("mvt_tile_build", _MVT_BUILD_SQL)
def mvt_tile_build_q(spark, sf_dir):
    """End-to-end MVT pyramid build; per-zoom tile_map totals.
    Oracle invariants: n_tiles(z) = 4^z (full pyramid at z<=mid; above
    mid every parent emits exactly 4 children via impute), and
    n_nonempty(z) = tiles with >=1 assigned feature (a non-empty child
    always has a non-empty parent — the child's 8px buffer ring lies
    inside the parent's in meters — so the impute walk never drops or
    fabricates a non-empty tile)."""
    import hashlib

    from sparktiles.plans.pipeline import empty_tile_blob

    _store, b = _mvt_built(spark, sf_dir)
    empty_id = hashlib.md5(empty_tile_blob(None)).hexdigest()
    return (
        b.read_tile_map().groupBy("zoom_level")
        .agg(F.count("*").alias("n_tiles"),
             F.sum((F.col("tile_id") != empty_id).cast("long")).alias("n_nonempty"))
    )


@q("mvt_content_check", _MVT_CONTENT_SQL)
def mvt_content_check_q(spark, sf_dir):
    """Golden-tile-content check: decode EVERY built tile of the z0-4
    pyramid back out of its MVT bytes and emit per-(z,x,y,layer)
    feature counts + the md5 of the sorted feature names; DuckDB
    recomputes both from the documents table with pure SQL tile math
    (reference parity: tests/expected/debug_mvt_dump.out golden dump)."""
    from sparktiles.operators.stats import tile_contents

    store, _b = _mvt_built(spark, sf_dir)
    tiles = (
        spark.read.option("basePath", f"{store}/tiles_all")
        .parquet(f"{store}/tiles_all")
        .select(F.col("z").cast("int").alias("z"), "x", "y", "mvt")
    )
    return tile_contents(tiles, attr="name")


_MVT_GZIP_SQL = _mvt_cand_sql() + """
SELECT CAST(z AS INT) AS z, x, y, 'place' AS layer,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       md5(string_agg(name, ',' ORDER BY name)) AS names_md5,
       TRUE AS gzipped
FROM cand
GROUP BY z, x, y
"""


@q("mvt_gzip_roundtrip", _MVT_GZIP_SQL)
def mvt_gzip_roundtrip_q(spark, sf_dir):
    """The reference's DEFAULT tile framing: gzip'd MVT blobs with
    tile_id = md5(gzip bytes) (sqltomvt.py:115-125 GZIP(...) +
    mbtiles dedup keying). Builds the flagship pyramid with
    gzip_level=6, asserts every stored non-empty blob carries the gzip
    magic, gunzips + decodes every tile, and emits the same per-tile
    content rows as mvt_content_check — so the compressed path is
    hash-checked end-to-end, not just the identity framing."""
    from sparktiles.operators.stats import tile_contents

    store, _b = _mvt_built(spark, sf_dir, gzip_level=6)
    tiles = (
        spark.read.option("basePath", f"{store}/tiles_all")
        .parquet(f"{store}/tiles_all")
        .select(F.col("z").cast("int").alias("z"), "x", "y", "mvt")
    )
    magic = F.substring(F.col("mvt"), 1, 2) == F.lit(bytes([0x1F, 0x8B]))
    return tile_contents(tiles, attr="name").join(
        tiles.select("z", "x", "y", magic.alias("gzipped")), ["z", "x", "y"])


_MVT_CAP_SQL = f"""
WITH pts AS (
  SELECT doc_id, (doc_id * 7 + 1) % 10000 AS pid FROM documents
), parsed AS (
  SELECT doc_id, 'Name_' || CAST(pid AS VARCHAR) AS name,
         CAST(printf('%.5f', CAST((pid * 37) % 344 AS DOUBLE) - 172.0 + 0.1234567) AS DOUBLE) AS lon,
         CAST(printf('%.5f', CAST((pid * 13) % 136 AS DOUBLE) - 68.0 + 0.0891011) AS DOUBLE) AS lat
  FROM pts
), m AS (
  SELECT doc_id, name, lon / 180.0 * {HALF!r} AS mx,
         {_MERCY_SQL.format(lat='lat', pi=PI, half=HALF)} AS my
  FROM parsed
), zf AS (
  SELECT doc_id, name, z,
         (mx + {HALF!r}) / {WORLD_MERC_WIDTH!r} * POW(2.0, z) AS fx,
         ({HALF!r} - my) / {WORLD_MERC_WIDTH!r} * POW(2.0, z) AS fy,
         CAST(POW(2.0, z) AS BIGINT) - 1 AS top
  FROM m, (SELECT UNNEST([0, 1, 2, 3, 4]) AS z)
), tl AS (
  SELECT doc_id, name, z, fx, fy, top,
         CAST(FLOOR(fx) AS BIGINT) AS tx, CAST(FLOOR(fy) AS BIGINT) AS ty
  FROM zf
), cand AS (
  SELECT doc_id, name, z, tx + dx AS x, ty + dy AS y
  FROM tl, (VALUES (0, 0), (-1, 0), (1, 0), (0, -1), (0, 1),
                   (-1, -1), (1, -1), (-1, 1), (1, 1)) AS o(dx, dy)
  WHERE (dx = 0 OR (dx = -1 AND fx - tx < 0.03125 AND tx > 0)
               OR (dx = 1 AND tx + 1 - fx < 0.03125 AND tx < top))
    AND (dy = 0 OR (dy = -1 AND fy - ty < 0.03125 AND ty > 0)
               OR (dy = 1 AND ty + 1 - fy < 0.03125 AND ty < top))
), capped AS (
  SELECT doc_id, name, z, x, y,
         ROW_NUMBER() OVER (PARTITION BY z, x, y ORDER BY doc_id) AS rn
  FROM cand
)
SELECT CAST(z AS INT) AS z, x, y, 'place' AS layer,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       md5(string_agg(name, ',' ORDER BY name)) AS names_md5
FROM capped WHERE rn <= 4
GROUP BY z, x, y
"""


@q("tile_density_cap", _MVT_CAP_SQL)
def tile_density_cap_q(spark, sf_dir):
    """W1/J1 — the kernel-level density cap, content-checked cross-
    engine: a z0-4 pyramid where every tile keeps only its 4 smallest
    feature keys (LayerSpec.max_features_per_tile=4, key-ordered — the
    reference's bounded-label-density pattern, sql/LabelGrid.sql:20-29,
    applied per tile). The cap runs INSIDE the grouped encode pass
    (grouped_map_sorted layer_caps per-(tile, layer) compaction + the
    kernel slice — no cap window, single Exchange); every built tile is
    then decoded back out of its MVT bytes and DuckDB recomputes the
    capped selection with ROW_NUMBER() OVER (PARTITION BY tile ORDER BY
    key) <= 4 over pure-SQL tile math. feature_id here is doc_id (not
    the xxhash64 geoparse id) so both engines order by the same key."""
    from sparktiles.operators.mvt import (
        LayerSpec,
        assemble_normalized,
        normalize_layer_df,
    )
    from sparktiles.operators.pyramid import assign_point_tiles_multi
    from sparktiles.operators.stats import tile_contents

    docs = _t(spark, sf_dir, "documents")
    pid = (F.col("doc_id") * 7 + 1) % 10000
    lon = F.format_string(
        "%.5f", ((pid * 37).cast("double") % 344) - 172.0 + 0.1234567
    ).cast("double")
    lat = F.format_string(
        "%.5f", ((pid * 13).cast("double") % 136) - 68.0 + 0.0891011
    ).cast("double")
    feats = docs.select(
        F.col("doc_id").alias("feature_id"),
        F.format_string("Name_%d", pid).alias("name"),
        _merc_x(lon).alias("px"),
        _merc_y(lat).alias("py"),
    )
    spec = LayerSpec(layer_id="place", index=0,
                     attr_fields={"name": "string"}, buffer_px=8,
                     max_features_per_tile=4)
    assigned = assign_point_tiles_multi(feats, 0, 4, buffer_px=8)
    norm = normalize_layer_df(assigned, spec, n_vals=1)
    tiles = assemble_normalized(norm, [spec], None).select(
        F.col("z").cast("int").alias("z"), "x", "y", "mvt")
    return tile_contents(tiles, attr="name")


_MVT_ATTR_TYPES_SQL = f"""
WITH pts AS (
  SELECT c_custkey AS key,
         {_LON_SQL.format(k='c_custkey')} AS lon,
         {_LAT_SQL.format(k='c_custkey')} AS lat
  FROM customer
), m AS (
  SELECT key, lon / 180.0 * {HALF!r} AS mx,
         {_MERCY_SQL.format(lat='lat', pi=PI, half=HALF)} AS my
  FROM pts
), f AS (
  SELECT key,
         CAST(FLOOR((mx + {HALF!r}) / {WORLD_MERC_WIDTH!r} * 64.0) AS BIGINT) AS x,
         CAST(FLOOR(({HALF!r} - my) / {WORLD_MERC_WIDTH!r} * 64.0) AS BIGINT) AS y,
         printf('C%d', key) AS name,
         key * 7 AS pop,
         CAST(key AS DOUBLE) * 0.5 AS ele,
         (key % 3 = 0) AS flag
  FROM m
)
SELECT CAST(6 AS INT) AS z, x, y,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(SUM(pop) AS BIGINT) AS sum_pop,
       ROUND(SUM(ele), 4) AS sum_ele,
       CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       md5(string_agg(name, ',' ORDER BY name)) AS names_md5
FROM f
GROUP BY x, y
"""


@q("mvt_attr_types_roundtrip", _MVT_ATTR_TYPES_SQL)
def mvt_attr_types_roundtrip(spark, sf_dir):
    """Typed-attribute MVT round trip (A1 + the batch attribute
    conversion path): a z6 point layer with string/number-int/
    number-double/bool declared fields is encoded to real MVT layer
    blobs, decoded back out of the bytes, and per-tile aggregates of
    the DECODED values are hash-checked against DuckDB recomputing
    them from the key derivations — so dictionary encoding, the MVT
    value union (int vs double chosen by integrality, bool), and
    _attr_convert_batch are all gated cross-engine, not just by the
    in-process fuzz parity test."""
    import pandas as pd

    from sparktiles.functions import mvtcodec as C
    from sparktiles.operators.mvt import LayerSpec, encode_layer_df
    from sparktiles.operators.pyramid import assign_point_tiles

    c = _t(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    feats = c.select(
        key.cast("long").alias("feature_id"),
        _merc_x(_lon(key)).alias("px"), _merc_y(_lat(key)).alias("py"),
        F.format_string("C%d", key).alias("name"),
        (key * 7).cast("long").alias("pop"),
        (key.cast("double") * 0.5).alias("ele"),
        (key % 3 == 0).alias("flag"),
    )
    spec = LayerSpec(
        layer_id="poi", index=0,
        attr_fields={"name": "string", "pop": "number",
                     "ele": "number", "flag": "bool"},
        key_field="feature_id", buffer_px=0)
    assigned = assign_point_tiles(feats, 6, buffer_px=0)
    lb = encode_layer_df(assigned, spec)

    def dec(batches):
        for pdf in batches:
            rows = []
            for z_, x_, y_, blob in zip(pdf["z"], pdf["x"], pdf["y"],
                                        pdf["mvtl"]):
                tile = C.decode_tile(bytes(blob))
                for ft in tile["poi"]["features"]:
                    a = ft["attrs"]
                    rows.append((int(z_), int(x_), int(y_), a["name"],
                                 int(a["pop"]), float(a["ele"]),
                                 bool(a["flag"])))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "z", "x", "y", "name", "pop", "ele", "flag"])

    decoded = lb.mapInPandas(
        dec, "z int, x long, y long, name string, pop long, "
             "ele double, flag boolean")
    return decoded.groupBy("z", "x", "y").agg(
        F.count("*").alias("n_features"),
        F.sum("pop").alias("sum_pop"),
        F.round(F.sum("ele"), 4).alias("sum_ele"),
        F.sum(F.col("flag").cast("long")).alias("n_true"),
        F.md5(F.concat_ws(",", F.sort_array(F.collect_list("name")))
              .cast("binary")).alias("names_md5"),
    )


# ===================================================================
# G5/G11/P7 — WKB roundtrip + ToPoint centroid + geometry stats
# ===================================================================

_TOPOINT_SQL = """
WITH r AS (
  SELECT CAST(n_nationkey AS BIGINT) AS key,
         CAST(n_nationkey AS DOUBLE) * 1000 + 0.1234567 AS x0,
         CAST(n_nationkey AS DOUBLE) * 600 - 8000 + 0.0891011 AS y0,
         500.0 + CAST(n_nationkey AS DOUBLE) * 13.7 AS w,
         300.0 + CAST(n_nationkey AS DOUBLE) * 7.3 AS h
  FROM nation
)
SELECT key,
       ROUND((x0 + (x0 + w)) / 2.0, 4) AS cx,
       ROUND((y0 + (y0 + h)) / 2.0, 4) AS cy,
       ROUND(w * h, 2) AS area,
       5 AS n_points
FROM r
"""


@q("topoint_centroid", _TOPOINT_SQL)
def topoint_centroid(spark, sf_dir):
    """WKB encode -> decode -> ToPoint(centroid branch, <=5-pt polys) ->
    area/length stats, oracle-checked: the rectangle corpus makes the
    geometry kernels' outputs SQL-predictable (midpoint / w*h / 2(w+h))
    while the engine path runs the real codec + kernels
    (reference sql/ToPoint.sql:24-47 centroid branch)."""
    from typing import Iterator

    import pandas as pd

    from sparktiles.functions import geom as G
    from sparktiles.operators.generalize import geometry_stats, to_point_table

    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("double")
    base = n.select(
        F.col("n_nationkey").cast("long").alias("key"),
        (k * 1000 + 0.1234567).alias("x0"),
        (k * 600 - 8000 + 0.0891011).alias("y0"),
        (F.lit(500.0) + k * 13.7).alias("w"),
        (F.lit(300.0) + k * 7.3).alias("h"),
    )

    def mk_wkb(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in batches:
            geoms = []
            for x0, y0, w, h in zip(pdf.x0, pdf.y0, pdf.w, pdf.h):
                ring = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h],
                                 [x0, y0 + h], [x0, y0]], dtype=float)
                geoms.append(bytearray(G.wkb_dumps(("Polygon", [ring]), srid=3857)))
            out = pdf[["key"]].copy()
            out["geom"] = geoms
            yield out

    rects = base.mapInPandas(mk_wkb, "key long, geom binary")
    labeled = to_point_table(rects, "geom", "pt")
    stats = geometry_stats(labeled, "geom")

    def decode_pt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            xs, ys = [], []
            for b in pdf.pt:
                g = G.wkb_loads(bytes(b))
                xs.append(float(g[1][0])); ys.append(float(g[1][1]))
            out = pdf[["key", "n_points", "area", "length"]].copy()
            out["cx"] = xs; out["cy"] = ys
            yield out

    dec = stats.mapInPandas(
        decode_pt,
        "key long, n_points int, area double, length double, "
        "cx double, cy double")
    # (no perimeter column: ST_Length of a polygon is 0 by definition —
    # reference semantics — so only area is content-checkable here)
    return dec.select(
        "key",
        F.round("cx", 4).alias("cx"), F.round("cy", 4).alias("cy"),
        F.round("area", 2).alias("area"),
        "n_points",
    )


# ===================================================================
# G3 — TileBBox corner math
# ===================================================================

_TILEBBOX_SQL = f"""
WITH t AS (
  SELECT CAST(n_nationkey % 8 AS INT) AS z,
         CAST(n_nationkey % 13 % GREATEST(POW(2, n_nationkey % 8), 1) AS BIGINT) AS x,
         CAST(n_nationkey % 7 % GREATEST(POW(2, n_nationkey % 8), 1) AS BIGINT) AS y
  FROM nation
)
SELECT z, x, y,
  ROUND(-20037508.34 + x * (20037508.34 * 2.0 / POW(2.0, z)), 4) + 0.0 AS xmin,
  ROUND(20037508.34 - y * (20037508.34 * 2.0 / POW(2.0, z))
        - (20037508.34 * 2.0 / POW(2.0, z)), 4) + 0.0 AS ymin,
  ROUND(-20037508.34 + x * (20037508.34 * 2.0 / POW(2.0, z))
        + (20037508.34 * 2.0 / POW(2.0, z)), 4) + 0.0 AS xmax,
  ROUND(20037508.34 - y * (20037508.34 * 2.0 / POW(2.0, z)), 4) + 0.0 AS ymax
FROM t
"""


@q("tile_bbox_corners", _TILEBBOX_SQL)
def tile_bbox_corners(spark, sf_dir):
    from sparktiles.functions.tilemath import tile_bbox_exprs

    n = _t(spark, sf_dir, "nation")
    z = (F.col("n_nationkey") % 8).cast("int")
    side = F.greatest(F.pow(F.lit(2.0), z.cast("double")), F.lit(1.0))
    x = ((F.col("n_nationkey") % 13).cast("double") % side).cast("long")
    y = ((F.col("n_nationkey") % 7).cast("double") % side).cast("long")
    t = n.select(z.alias("z"), x.alias("x"), y.alias("y"))
    xmin, ymin, xmax, ymax = tile_bbox_exprs(F.col("z"), F.col("x"), F.col("y"))
    # `+ 0.0` normalizes IEEE signed zero at the x=0/y=0 world edges so the
    # value-hash matches DuckDB, whose ROUND can yield -0.0 there.
    return t.select(
        "z", "x", "y",
        (F.round(xmin, 4) + F.lit(0.0)).alias("xmin"),
        (F.round(ymin, 4) + F.lit(0.0)).alias("ymin"),
        (F.round(xmax, 4) + F.lit(0.0)).alias("xmax"),
        (F.round(ymax, 4) + F.lit(0.0)).alias("ymax"),
    )


# ===================================================================
# A10 — ntile size buckets (perf histogram)
# ===================================================================

_NTILE_SQL = """
WITH sized AS (
  SELECT event_id, CAST(FLOOR(value * 100) AS BIGINT) AS size FROM events
), b AS (
  SELECT size, NTILE(10) OVER (ORDER BY size, event_id) AS bucket FROM sized
)
SELECT CAST(bucket AS INT) AS bucket, COUNT(*) AS cnt,
       CAST(SUM(size) AS BIGINT) AS total, MIN(size) AS smallest, MAX(size) AS largest
FROM b GROUP BY bucket
"""


@q("tile_size_buckets", _NTILE_SQL)
def tile_size_buckets(spark, sf_dir):
    from pyspark.sql.window import Window as W

    ev = _t(spark, sf_dir, "events")
    sized = ev.select(
        "event_id", F.floor(F.col("value") * 100).alias("size"))
    w = W.orderBy("size", "event_id")
    b = sized.withColumn("bucket", F.ntile(10).over(w).cast("int"))
    return b.groupBy("bucket").agg(
        F.count("*").alias("cnt"), F.sum("size").alias("total"),
        F.min("size").alias("smallest"), F.max("size").alias("largest"))


# ===================================================================
# MinHash-LSH canonical-id mapping (library op vs SQL oracle)
# ===================================================================

_MINHASH_MAP_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), idx AS (
  SELECT doc_id, t, UNNEST(range(1, len(t) - 1)) AS i FROM toks
), shingles AS (
  SELECT DISTINCT doc_id,
         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS s
  FROM idx
), sigs AS (
  SELECT doc_id,
         MIN(substr(md5('0' || s), 1, 8)) AS h0,
         MIN(substr(md5('0' || s), 9, 8)) AS h1,
         MIN(substr(md5('0' || s), 17, 8)) AS h2,
         MIN(substr(md5('0' || s), 25, 8)) AS h3,
         MIN(substr(md5('1' || s), 1, 8)) AS h4,
         MIN(substr(md5('1' || s), 9, 8)) AS h5,
         MIN(substr(md5('1' || s), 17, 8)) AS h6,
         MIN(substr(md5('1' || s), 25, 8)) AS h7
  FROM shingles GROUP BY doc_id
), bands AS (
  SELECT doc_id, 0 AS band, h0 || h1 AS sig FROM sigs
  UNION ALL SELECT doc_id, 1, h2 || h3 FROM sigs
  UNION ALL SELECT doc_id, 2, h4 || h5 FROM sigs
  UNION ALL SELECT doc_id, 3, h6 || h7 FROM sigs
), buckets AS (
  SELECT band, sig, MIN(doc_id) AS canon, COUNT(*) AS n
  FROM bands GROUP BY band, sig
)
SELECT b.doc_id AS doc_id, MIN(k.canon) AS canonical_id
FROM bands b JOIN buckets k USING (band, sig)
WHERE k.n > 1 GROUP BY b.doc_id
"""


@q("minhash_dedup_mapping", _MINHASH_MAP_SQL)
def minhash_dedup_mapping(spark, sf_dir):
    from sparktiles.operators.text import minhash_dedup

    d = _t(spark, sf_dir, "documents")
    return minhash_dedup(d, n_hashes=8, band_size=2)


# ===================================================================
# connected-components dedup — transitively-closed near-dup mapping.
# Spark side: iterative hash-min label propagation over the LSH
# candidate star-edges (operators/graph.py). Oracle: the same edge
# set closed with a recursive CTE (transitive closure is fine at
# sf0.01 graph sizes; the Spark side is the scale path).
# ===================================================================

_MINHASH_CC_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), idx AS (
  SELECT doc_id, t, UNNEST(range(1, len(t) - 1)) AS i FROM toks
), shingles AS (
  SELECT DISTINCT doc_id,
         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS s
  FROM idx
), sigs AS (
  SELECT doc_id,
         MIN(substr(md5('0' || s), 1, 8)) AS h0,
         MIN(substr(md5('0' || s), 9, 8)) AS h1,
         MIN(substr(md5('0' || s), 17, 8)) AS h2,
         MIN(substr(md5('0' || s), 25, 8)) AS h3,
         MIN(substr(md5('1' || s), 1, 8)) AS h4,
         MIN(substr(md5('1' || s), 9, 8)) AS h5,
         MIN(substr(md5('1' || s), 17, 8)) AS h6,
         MIN(substr(md5('1' || s), 25, 8)) AS h7
  FROM shingles GROUP BY doc_id
), bands AS (
  SELECT doc_id, 0 AS band, h0 || h1 AS sig FROM sigs
  UNION ALL SELECT doc_id, 1, h2 || h3 FROM sigs
  UNION ALL SELECT doc_id, 2, h4 || h5 FROM sigs
  UNION ALL SELECT doc_id, 3, h6 || h7 FROM sigs
), buckets AS (
  SELECT band, sig, MIN(doc_id) AS canon, COUNT(*) AS n
  FROM bands GROUP BY band, sig
), star AS (
  SELECT DISTINCT b.doc_id AS a, k.canon AS b
  FROM bands b JOIN buckets k USING (band, sig)
  WHERE k.n > 1 AND b.doc_id <> k.canon
), sym AS (
  SELECT a, b FROM star UNION SELECT b, a FROM star
), reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS doc_id, MIN(b) AS canonical_id FROM reach GROUP BY a
"""


@q("minhash_dedup_cc", _MINHASH_CC_SQL)
def minhash_dedup_cc_mapping(spark, sf_dir):
    """Transitively-closed LSH dedup: doc_id -> min id of its whole
    duplicate component (iterative hash-min CC, operators/graph.py —
    the closure minhash_dedup's one bucket hop can't give)."""
    from sparktiles.operators.graph import minhash_dedup_cc

    d = _t(spark, sf_dir, "documents")
    return minhash_dedup_cc(d, n_hashes=8, band_size=2)


# ===================================================================
# PII scrub — typed redaction with per-category counts. The synthetic
# corpus has no organic PII, so both engines seed the same
# deterministic emails/IPs/phones from doc_id before scrubbing; the
# patterns are a deliberately portable regex subset (operators/
# text.py PII_PATTERNS) so Java regex and RE2 agree byte-for-byte.
# ===================================================================

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PII_PHONE = r"\+[0-9][0-9 -]{7,}[0-9]"

_PII_SQL = f"""
WITH seeded AS (
  SELECT doc_id,
    text ||
    CASE WHEN doc_id % 3 = 0
         THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.org' ELSE '' END ||
    CASE WHEN doc_id % 5 = 0
         THEN ' from 10.1.' || CAST(doc_id % 250 AS VARCHAR) || '.7' ELSE '' END ||
    CASE WHEN doc_id % 7 = 0
         THEN ' call +1 555 123 4477' ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(text,
      '{_PII_EMAIL}', '<EMAIL>', 'g'),
      '{_PII_IP}', '<IP>', 'g'),
      '{_PII_PHONE}', '<PHONE>', 'g') AS text,
  CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
  (len(regexp_extract_all(text, '{_PII_EMAIL}'))
   + len(regexp_extract_all(text, '{_PII_IP}'))
   + len(regexp_extract_all(text, '{_PII_PHONE}'))) > 0 AS has_pii
FROM seeded
"""


@q("pii_scrub", _PII_SQL)
def pii_scrub_query(spark, sf_dir):
    """Typed PII redaction over the documents table (operators/
    text.py::pii_scrub) — map-only column regexes, zero shuffles."""
    from sparktiles.operators.text import pii_scrub

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 3 == 0, F.concat(
                F.lit(" contact u"), did.cast("string"), F.lit("@ex.org"))
            ).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.concat(
                F.lit(" from 10.1."), (did % 250).cast("string"), F.lit(".7"))
            ).otherwise(F.lit("")),
            F.when(did % 7 == 0, F.lit(" call +1 555 123 4477")
                   ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(seeded)


# ===================================================================
# boilerplate-line removal — C4/CCNet per-domain repeated-line strip.
# The synthetic corpus is single-line, so both engines append the
# same deterministic per-domain boilerplate (75% of docs -> above the
# 0.5 bar) plus a rare line (below the bar, must survive) before the
# operator runs.
# ===================================================================

_BOILER_SQL = """
WITH seeded AS (
  SELECT doc_id, source,
    text ||
    CASE WHEN doc_id % 4 <> 0
         THEN chr(10) || 'Special offer from ' || source || ' click here'
         ELSE '' END ||
    CASE WHEN doc_id % 97 = 0
         THEN chr(10) || 'rare line ' || source ELSE '' END AS text
  FROM documents
), lines AS (
  SELECT doc_id, source,
         unnest(string_split(text, chr(10))) AS line,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos
  FROM seeded
), ndocs AS (
  SELECT source, COUNT(*) AS n FROM seeded GROUP BY source
), linedocs AS (
  SELECT source, line, COUNT(DISTINCT doc_id) AS cnt
  FROM lines GROUP BY source, line
), boiler AS (
  SELECT l.source, l.line FROM linedocs l JOIN ndocs d USING (source)
  WHERE l.cnt >= 2 AND CAST(l.cnt AS DOUBLE) / d.n >= 0.5
), kept AS (
  SELECT k.doc_id, k.pos, k.line
  FROM lines k LEFT JOIN boiler b
    ON k.source = b.source AND k.line = b.line
  WHERE b.line IS NULL
), rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
), totals AS (
  SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id
)
SELECT t.doc_id, COALESCE(r.text, '') AS text,
       CAST(t.n_lines AS BIGINT) AS n_lines,
       CAST(t.n_lines - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
"""


@q("boilerplate_removal", _BOILER_SQL)
def boilerplate_removal(spark, sf_dir):
    """Per-domain boilerplate-line strip (operators/text.py
    remove_boilerplate_lines): lines shuffle as (domain, xxhash64)
    pairs, the boilerplate set broadcasts, rebuild is order-stable."""
    from sparktiles.operators.text import remove_boilerplate_lines

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    seeded = d.select(
        "doc_id", "source",
        F.concat(
            F.col("text"),
            F.when(did % 4 != 0, F.concat(
                F.lit("\nSpecial offer from "), F.col("source"),
                F.lit(" click here"))).otherwise(F.lit("")),
            F.when(did % 97 == 0, F.concat(
                F.lit("\nrare line "), F.col("source"))
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return remove_boilerplate_lines(seeded, min_frac=0.5, min_docs=2)


# ===================================================================
# rare-token fraction — vocabulary-side quality signal. All-integer
# counts plus one exact division, so no float canonicalization risk.
# ===================================================================

_RARITY_SQL = """
WITH toks AS (
  SELECT doc_id, t AS tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> ''
), cf AS (
  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
), rare AS (
  SELECT t.doc_id, COUNT(*) AS n_rare
  FROM toks t JOIN cf USING (tok)
  WHERE cf.c <= 2 GROUP BY t.doc_id
), totals AS (
  SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(t.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(r.n_rare, 0) AS BIGINT) AS n_rare,
       CAST(COALESCE(r.n_rare, 0) AS DOUBLE)
         / GREATEST(COALESCE(t.n_tokens, 0), 1) AS rare_frac
FROM documents d
LEFT JOIN totals t USING (doc_id)
LEFT JOIN rare r USING (doc_id)
"""


@q("token_rarity", _RARITY_SQL)
def token_rarity_query(spark, sf_dir):
    """Rare-token fraction (operators/text.py token_rarity): the
    frequent vocabulary head broadcasts, the Zipf tail is counted by
    anti-join — the tail itself is never materialized."""
    from sparktiles.operators.text import token_rarity

    return token_rarity(_t(spark, sf_dir, "documents"), max_cf=2)


# ===================================================================
# manual pivot — per-user event-type counts as columns
# ===================================================================

_PIVOT_SQL = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
       CAST(SUM(CASE WHEN event_type NOT IN ('click','view','purchase') THEN 1 ELSE 0 END) AS BIGINT) AS other
FROM events GROUP BY user_id
"""


@q("event_type_pivot", _PIVOT_SQL)
def event_type_pivot(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    et = F.col("event_type")
    return ev.groupBy("user_id").agg(
        F.sum(F.when(et == "click", 1).otherwise(0)).alias("clicks"),
        F.sum(F.when(et == "view", 1).otherwise(0)).alias("views"),
        F.sum(F.when(et == "purchase", 1).otherwise(0)).alias("purchases"),
        F.sum(F.when(~et.isin("click", "view", "purchase"), 1).otherwise(0)).alias("other"),
    )


# ------------------------------------------------- multilayer fused spine

_MVT_ML_SQL = _mvt_cand_sql() + f""", custpts AS (
  SELECT c_custkey AS key,
         {_LON_SQL.format(k='c_custkey')} AS lon,
         {_LAT_SQL.format(k='c_custkey')} AS lat
  FROM customer
), m2 AS (
  SELECT 'C' || CAST(key AS VARCHAR) AS name, lon / 180.0 * {HALF!r} AS mx,
         {_MERCY_SQL.format(lat='lat', pi=PI, half=HALF)} AS my
  FROM custpts
), zf2 AS (
  SELECT name, z,
         (mx + {HALF!r}) / {WORLD_MERC_WIDTH!r} * POW(2.0, z) AS fx,
         ({HALF!r} - my) / {WORLD_MERC_WIDTH!r} * POW(2.0, z) AS fy,
         CAST(POW(2.0, z) AS BIGINT) - 1 AS top
  FROM m2, (SELECT UNNEST([0, 1, 2, 3, 4]) AS z)
), tl2 AS (
  SELECT name, z, fx, fy, top,
         CAST(FLOOR(fx) AS BIGINT) AS tx, CAST(FLOOR(fy) AS BIGINT) AS ty
  FROM zf2
), cand2 AS (
  SELECT name, z, tx + dx AS x, ty + dy AS y
  FROM tl2, (VALUES (0, 0), (-1, 0), (1, 0), (0, -1), (0, 1),
                   (-1, -1), (1, -1), (-1, 1), (1, 1)) AS o(dx, dy)
  WHERE (dx = 0 OR (dx = -1 AND fx - tx < 0.03125 AND tx > 0)
               OR (dx = 1 AND tx + 1 - fx < 0.03125 AND tx < top))
    AND (dy = 0 OR (dy = -1 AND fy - ty < 0.03125 AND ty > 0)
               OR (dy = 1 AND ty + 1 - fy < 0.03125 AND ty < top))
), la AS (
  SELECT z, x, y, 0 AS ord, 'place' AS layer,
         CAST(COUNT(*) AS BIGINT) AS n_features,
         md5(string_agg(name, ',' ORDER BY name)) AS names_md5
  FROM cand GROUP BY z, x, y
), lb AS (
  SELECT z, x, y, 1 AS ord, 'poi' AS layer,
         CAST(COUNT(*) AS BIGINT) AS n_features,
         md5(string_agg(name, ',' ORDER BY name)) AS names_md5
  FROM cand2 GROUP BY z, x, y
), u AS (SELECT * FROM la UNION ALL SELECT * FROM lb)
SELECT CAST(z AS INT) AS z, x, y, layer, n_features, names_md5,
       CAST(ROW_NUMBER() OVER (PARTITION BY z, x, y ORDER BY ord) - 1
            AS INT) AS layer_pos
FROM u
"""

_MVT_ML_STORE_CACHE: dict = {}


def _mvt_ml_built(spark, sf_dir):
    """Two-layer flagship store (place: page mentions; poi: customer
    points) built through the SINGLE-SHUFFLE multi-layer spine
    (normalize_layer_df union -> assemble_normalized, round 5) — the
    path every multi-layer tileset runs."""
    import tempfile

    from sparktiles.operators.mvt import LayerSpec
    from sparktiles.plans.pipeline import BuildConfig, TileBuild
    from sparktiles.sources.geoparse import build_features

    if sf_dir in _MVT_ML_STORE_CACHE:
        return _MVT_ML_STORE_CACHE[sf_dir]
    docs = _t(spark, sf_dir, "documents")
    pid = (F.col("doc_id") * 7 + 1) % 10000
    lon = ((pid * 37).cast("double") % 344) - 172.0 + 0.1234567
    lat = ((pid * 13).cast("double") % 136) - 68.0 + 0.0891011
    mention = F.format_string("Name_%d (%.5f; %.5f)", pid, lat, lon)
    pages = docs.select(
        F.format_string("https://example.org/doc/%d", F.col("doc_id")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(F.concat(F.col("text"), F.lit(" "), mention), "utf-8").alias("html"),
        F.concat(F.col("text"), F.lit(" "), mention).alias("text"),
        F.col("lang"),
    )
    feats = build_features(pages)
    key = F.col("c_custkey")
    cfeats = _t(spark, sf_dir, "customer").select(
        key.cast("long").alias("feature_id"),
        _merc_x(_lon(key)).alias("px"), _merc_y(_lat(key)).alias("py"),
        F.format_string("C%d", key).alias("name"),
    )
    frames = [
        (LayerSpec(layer_id="place", index=0,
                   attr_fields={"name": "string"}, buffer_px=8), feats),
        (LayerSpec(layer_id="poi", index=1,
                   attr_fields={"name": "string"}, buffer_px=8), cfeats),
    ]
    store = tempfile.mkdtemp(prefix="sparktiles_qml_")
    b = TileBuild(spark, frames, BuildConfig(
        store_dir=store, minzoom=0, maxzoom=4, mid_zoom=2, gzip_level=None))
    b.build_fast()
    _MVT_ML_STORE_CACHE[sf_dir] = (store, b)
    return store, b


@q("mvt_multilayer_fused", _MVT_ML_SQL)
def mvt_multilayer_fused_q(spark, sf_dir):
    """Multi-layer fused-spine content check: a 2-layer pyramid built
    with ONE (zxy) shuffle (per-layer map-side normalization, grouped
    per-layer dictionary encode + ordered concat) is decoded back out
    of the tile BYTES and per-(tile, layer) feature counts, sorted-name
    hashes AND the layer's POSITION inside the blob are hash-checked
    against DuckDB recomputing all three from the source tables — so
    layer framing, the layer-index concat order, and both layers'
    dictionary encodes are gated cross-engine."""
    import hashlib

    import pandas as pd

    from sparktiles.functions import mvtcodec as C

    store, _b = _mvt_ml_built(spark, sf_dir)
    tiles = (
        spark.read.option("basePath", f"{store}/tiles_all")
        .parquet(f"{store}/tiles_all")
        .select(F.col("z").cast("int").alias("z"), "x", "y", "mvt")
    )

    def dec(batches):
        for pdf in batches:
            rows = []
            for z, x, y, mvt in zip(pdf["z"], pdf["x"], pdf["y"], pdf["mvt"]):
                blob = bytes(mvt)
                if not blob:
                    continue
                for pos, (name, lyr) in enumerate(C.decode_tile(blob).items()):
                    vals = sorted(str(f["attrs"].get("name"))
                                  for f in lyr["features"])
                    rows.append((int(z), int(x), int(y), name, len(vals),
                                 hashlib.md5(",".join(vals).encode()).hexdigest(),
                                 pos))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "z", "x", "y", "layer", "n_features", "names_md5",
                    "layer_pos"])

    return tiles.mapInPandas(
        dec, "z int, x long, y long, layer string, n_features long, "
             "names_md5 string, layer_pos int")


# ===================================================== URL-level dedup

_URL_BUILD_SQL = """
WITH d AS (
  SELECT doc_id, n_chars,
    'https://www.' || source || '.example.com/item/'
      || CAST(doc_id % 7 AS VARCHAR)
      || CASE WHEN doc_id % 3 = 0
              THEN '?utm_source=feed&utm_campaign=c'
                   || CAST(doc_id % 5 AS VARCHAR)
                   || '&ref=r' || CAST(doc_id % 2 AS VARCHAR)
              WHEN doc_id % 3 = 1 THEN '/#frag'
              ELSE '' END AS url
  FROM documents
)"""

_URL_DEDUP_SQL = _URL_BUILD_SQL + """
, c AS (
  SELECT doc_id, n_chars,
    regexp_replace(regexp_replace(regexp_replace(
      lower(url), '^https?://', ''), '^www\\.', ''), '#.*$', '') AS u
  FROM d
), parts AS (
  SELECT doc_id, n_chars,
    regexp_replace(string_split(u, '?')[1], '/$', '') AS path,
    coalesce(string_split(u, '?')[2], '') AS qs
  FROM c
), canon AS (
  SELECT doc_id, n_chars,
    CASE WHEN len(params) > 0
         THEN path || '?' || array_to_string(params, '&')
         ELSE path END AS canon_url
  FROM (SELECT doc_id, n_chars, path,
          list_filter(string_split(qs, '&'),
                      p -> p <> '' AND NOT starts_with(p, 'utm_')) AS params
        FROM parts)
)
SELECT canon_url, doc_id, n_dupes FROM (
  SELECT canon_url, doc_id,
    ROW_NUMBER() OVER (PARTITION BY canon_url
                       ORDER BY n_chars DESC, doc_id ASC) AS rn,
    CAST(COUNT(*) OVER (PARTITION BY canon_url) AS BIGINT) AS n_dupes
  FROM canon) WHERE rn = 1
"""


def _docs_with_urls(spark, sf_dir):
    """Deterministic crawl-style URL per document (same closed form as
    the oracle's d CTE): scheme + www + tracking params + fragment +
    trailing-slash variants so canonicalization has real work."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    suffix = (
        F.when(did % 3 == 0, F.concat(
            F.lit("?utm_source=feed&utm_campaign=c"),
            (did % 5).cast("string"),
            F.lit("&ref=r"), (did % 2).cast("string")))
        .when(did % 3 == 1, F.lit("/#frag"))
        .otherwise(F.lit("")))
    return docs.select(
        "doc_id", "n_chars", "source", "text",
        F.concat(F.lit("https://www."), F.col("source"),
                 F.lit(".example.com/item/"),
                 (did % 7).cast("string"), suffix).alias("url"))


@q("url_canonical_dedup", _URL_DEDUP_SQL)
def url_canonical_dedup(spark, sf_dir):
    """URL-level dedup of a crawl corpus: canonicalize (scheme/www/
    fragment/tracking-param/trailing-slash normalization, operators/
    text.py canonical_url) and keep the best doc per canonical URL.
    The whole canonicalization is column expressions — the oracle
    re-derives the same key with RE2 regexes + list_filter."""
    from sparktiles.operators.text import dedup_url_canonical

    return dedup_url_canonical(_docs_with_urls(spark, sf_dir))


# ================================================== paragraph dedup

_PARA_SQL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), idx AS (
  SELECT doc_id, ws,
         CAST(ceil(len(ws) / 16.0) AS BIGINT) AS np
  FROM w
), pg AS (
  SELECT doc_id, ws, UNNEST(range(np)) AS g FROM idx
), p AS (
  SELECT doc_id, g,
         array_to_string(array_slice(ws, g * 16 + 1, (g + 1) * 16), ' ') AS para
  FROM pg
), common AS (
  SELECT para FROM p GROUP BY para HAVING COUNT(DISTINCT doc_id) > 2
), kept AS (
  SELECT * FROM p WHERE para NOT IN (SELECT para FROM common)
), reb AS (
  SELECT doc_id, string_agg(para, ' ' ORDER BY g) AS text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT i.doc_id, COALESCE(r.text, '') AS text,
       i.np AS n_paras,
       CAST(i.np - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
FROM idx i LEFT JOIN reb r USING (doc_id)
"""


@q("paragraph_dedup", _PARA_SQL)
def paragraph_dedup_q(spark, sf_dir):
    """CCNet-style paragraph dedup: 16-word chunks shared by >2
    distinct docs are dropped everywhere; docs rebuilt in order
    (operators/text.py paragraph_dedup — map-side chunking, hash-keyed
    distinct-doc counts, broadcast anti-join, order-stable rebuild)."""
    from sparktiles.operators.text import paragraph_dedup

    return paragraph_dedup(_t(spark, sf_dir, "documents"),
                           k_words=16, max_docs=2)


# ============================================ raster <-> vector tiles

_RASTER_G_SQL = f"""
WITH pts AS (
  SELECT o_orderkey AS key,
         {_LON_SQL.format(k='o_orderkey')} AS lon,
         {_LAT_SQL.format(k='o_orderkey')} AS lat
  FROM orders
), m AS (
  SELECT key, lon / 180.0 * {HALF!r} AS mx,
         {_MERCY_SQL.format(lat='lat', pi=PI, half=HALF)} AS my
  FROM pts
), g AS (
  SELECT CAST(FLOOR((mx + {HALF!r}) / {WORLD_MERC_WIDTH!r} * 128.0) AS BIGINT) AS gx,
         CAST(FLOOR(({HALF!r} - my) / {WORLD_MERC_WIDTH!r} * 128.0) AS BIGINT) AS gy
  FROM m
)"""

_RASTER_PIX_SQL = _RASTER_G_SQL + """
, pix AS (
  SELECT gx // 16 AS tx, gy // 16 AS ty,
         gx % 16 AS px, gy % 16 AS py, COUNT(*) AS cnt
  FROM g GROUP BY 1, 2, 3, 4
)"""

_RASTER_STATS_SQL = _RASTER_PIX_SQL + """
SELECT CAST(3 AS INT) AS z, tx, ty,
  CAST(SUM(cnt) AS BIGINT) AS n_points,
  CAST(COUNT(*) AS BIGINT) AS nonzero_pixels,
  CAST(MAX(LEAST(cnt, 255)) AS INT) AS max_pix,
  CAST(SUM(LEAST(cnt, 255)) AS BIGINT) AS raster_sum,
  CAST(SUM(LEAST(cnt, 255) * (py * 16 + px + 1)) AS BIGINT) AS pix_checksum
FROM pix GROUP BY tx, ty
"""

_RASTER_RUNS_SQL = _RASTER_PIX_SQL + """
, qpix AS (
  SELECT tx, ty, py, px, LEAST(cnt, 255) AS c
  FROM pix WHERE LEAST(cnt, 255) >= 2
), s AS (
  SELECT tx, ty, py, px, c,
    CASE WHEN px - LAG(px) OVER (PARTITION BY tx, ty, py ORDER BY px) = 1
         THEN 0 ELSE 1 END AS is_start
  FROM qpix
)
SELECT CAST(3 AS INT) AS z, tx, ty,
  CAST(SUM(is_start) AS BIGINT) AS n_runs,
  CAST(COUNT(*) AS BIGINT) AS run_pixels,
  CAST(SUM(c) AS BIGINT) AS run_sum
FROM s GROUP BY tx, ty
"""


def _order_point_rasters(spark, sf_dir):
    """z=3, 16x16 density rasters (SPTX payloads) over points derived
    from o_orderkey — the vector->raster direction."""
    from sparktiles.operators.raster import rasterize_point_tiles

    o = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    pts = o.select(_merc_x(_lon(key)).alias("x"),
                   _merc_y(_lat(key)).alias("y"))
    return rasterize_point_tiles(pts, zoom=3, grid=16)


@q("raster_tile_stats", _RASTER_STATS_SQL)
def raster_tile_stats(spark, sf_dir):
    """Vector->raster proof: point features binned into per-tile SPTX
    count rasters (operators/raster.py), then the BYTES are decoded
    back and per-tile pixel statistics (sum, nonzero, max, placement
    checksum) are recomputed from the raw points by the oracle."""
    from sparktiles.operators.raster import raster_grid_stats

    rasters = _order_point_rasters(spark, sf_dir)
    return raster_grid_stats(rasters, grid=16).select(
        "z", "tx", "ty", "n_points", "nonzero_pixels", "max_pix",
        "raster_sum", "pix_checksum")


@q("raster_polygonize_runs", _RASTER_RUNS_SQL)
def raster_polygonize_runs(spark, sf_dir):
    """Raster->vector proof: run-length polygonize of above-threshold
    pixels (operators/raster.py raster_runs_to_features) vs the oracle
    recomputing run starts with a LAG window over qualifying pixels."""
    from sparktiles.operators.raster import raster_runs_to_features

    runs = raster_runs_to_features(_order_point_rasters(spark, sf_dir),
                                   threshold=2)
    return runs.groupBy("z", "tx", "ty").agg(
        F.count("*").cast("bigint").alias("n_runs"),
        F.sum("run_len").cast("bigint").alias("run_pixels"),
        F.sum("run_sum").cast("bigint").alias("run_sum"))


_RASTER_COVER_SQL = _line_supercover_cand_sql([7]) + """
, pix AS (
  SELECT x // 16 AS tx, y // 16 AS ty,
         x % 16 AS px, y % 16 AS py, COUNT(*) AS cnt
  FROM cand GROUP BY 1, 2, 3, 4
)
SELECT CAST(3 AS INT) AS z, tx, ty,
  CAST(SUM(cnt) AS BIGINT) AS n_points,
  CAST(COUNT(*) AS BIGINT) AS nonzero_pixels,
  CAST(MAX(LEAST(cnt, 255)) AS INT) AS max_pix,
  CAST(SUM(LEAST(cnt, 255)) AS BIGINT) AS raster_sum,
  CAST(SUM(LEAST(cnt, 255) * (py * 16 + px + 1)) AS BIGINT) AS pix_checksum
FROM pix GROUP BY tx, ty
"""


@q("raster_wkb_cover_stats", _RASTER_COVER_SQL)
def raster_wkb_cover_stats(spark, sf_dir):
    """Line rasterization == supercover at pixel zoom: WKB LineStrings
    are supercover-assigned at z=7 (the z=3 tiles' 16x16 pixel grid),
    packed into SPTX coverage rasters (operators/raster.py
    rasterize_cover_tiles), decoded back, and the per-tile pixel stats
    are checked against DuckDB running the identical column-strip
    supercover chain + pixel split in SQL."""
    from sparktiles.operators.pyramid import assign_supercover_tiles_multi
    from sparktiles.operators.raster import (rasterize_cover_tiles,
                                             raster_grid_stats)

    lines = _derived_wkb_lines(spark, sf_dir)
    asg = assign_supercover_tiles_multi(lines, 7, 7, buffer_px=4)
    rasters = rasterize_cover_tiles(asg, pixel_zoom=7, grid=16)
    return raster_grid_stats(rasters, grid=16).select(
        "z", "tx", "ty", "n_points", "nonzero_pixels", "max_pix",
        "raster_sum", "pix_checksum")


# ================================================ unigram LM quality

_LM_SQL = """
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok FROM toks WHERE tok <> ''
), cf AS (
  SELECT tok, COUNT(*) AS cf FROM tf GROUP BY tok
), vocab AS (
  SELECT tok, cf FROM cf ORDER BY cf DESC, tok ASC LIMIT 16
), st AS (
  SELECT (SELECT SUM(cf) FROM cf) AS total,
         (SELECT COUNT(*) FROM cf) AS ntypes,
         (SELECT SUM(cf) FROM vocab) AS vmass,
         (SELECT COUNT(*) FROM vocab) AS nvocab
), p AS (
  SELECT t.doc_id,
    CASE WHEN v.cf IS NOT NULL THEN CAST(v.cf AS DOUBLE) / s.total
         ELSE CAST(s.total - s.vmass AS DOUBLE) / s.total
              / (s.ntypes - s.nvocab) END AS p
  FROM tf t LEFT JOIN vocab v USING (tok) CROSS JOIN st s
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(-AVG(log2(p)), 4) AS bits_per_token
FROM p GROUP BY doc_id
"""


@q("lm_quality_score", _LM_SQL)
def lm_quality_score(spark, sf_dir):
    """CCNet-style perplexity-bucket signal, self-contained: unigram
    LM trained on the corpus itself (top-16 vocab here so the OOV
    uniform-tail branch is exercised), each doc scored by bits/token
    (operators/text.py unigram_lm_scores — sort-limit vocab, broadcast
    model + tail scalars, one groupBy(doc))."""
    from sparktiles.operators.text import unigram_lm_scores

    return unigram_lm_scores(_t(spark, sf_dir, "documents"),
                             vocab_size=16)


# ========================================================== BM25 top-k

_BM25_SQL = """
WITH lens AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS DOUBLE) AS dl
  FROM documents
), corpus AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM lens
), toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks
  WHERE tok IN ('spark', 'window', 'merge') GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok
), s AS (
  SELECT t.doc_id,
    ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0) * t.tf * (1.2 + 1.0)
      / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / c.avgdl)) AS s
  FROM tf t JOIN dfreq d USING (tok) JOIN lens l USING (doc_id)
  CROSS JOIN corpus c
)
SELECT doc_id, ROUND(SUM(s), 4) AS score
FROM s GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


@q("bm25_topk", _BM25_SQL)
def bm25_topk_q(spark, sf_dir):
    """Lexical retrieval: BM25 top-10 for a 3-term query (operators/
    text.py bm25_topk). The query-term set broadcasts as a literal
    filter so only matching token occurrences shuffle; df/N/avgdl are
    small aggregates; final top-k is a distributed sort-limit."""
    from sparktiles.operators.text import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"),
                     ["spark", "window", "merge"], k=10)


# ===================================================== raster pyramid

_RASTER_PYR_SQL = _RASTER_G_SQL + """
, zz AS (
  SELECT gx, gy, z FROM g, (SELECT UNNEST([1, 2, 3]) AS z)
), pyx AS (
  SELECT z,
         (gx >> (3 - z)) // 16 AS tx, (gy >> (3 - z)) // 16 AS ty,
         (gx >> (3 - z)) % 16 AS px, (gy >> (3 - z)) % 16 AS py,
         COUNT(*) AS cnt
  FROM zz GROUP BY 1, 2, 3, 4, 5
)
SELECT CAST(z AS INT) AS z, tx, ty,
  CAST(SUM(cnt) AS BIGINT) AS n_points,
  CAST(COUNT(*) AS BIGINT) AS nonzero_pixels,
  CAST(MAX(LEAST(cnt, 255)) AS INT) AS max_pix,
  CAST(SUM(LEAST(cnt, 255)) AS BIGINT) AS raster_sum,
  CAST(SUM(LEAST(cnt, 255) * (py * 16 + px + 1)) AS BIGINT) AS pix_checksum
FROM pyx GROUP BY z, tx, ty
"""


@q("raster_pyramid_stats", _RASTER_PYR_SQL)
def raster_pyramid_stats(spark, sf_dir):
    """Raster pyramid z1-z3 from ONE pass over the points (operators/
    raster.py raster_pyramid): coarser zooms derive from the finest
    zoom's aggregated pixel table by index shifts — the raster twin of
    the tile pyramid's impute optimization. Stats recomputed from the
    DECODED SPTX bytes per zoom; DuckDB re-derives them with the same
    shifts from the raw points."""
    from sparktiles.operators.raster import raster_grid_stats, raster_pyramid

    o = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    pts = o.select(_merc_x(_lon(key)).alias("x"),
                   _merc_y(_lat(key)).alias("y"))
    rasters = raster_pyramid(pts, minzoom=1, maxzoom=3, grid=16)
    return raster_grid_stats(rasters, grid=16).select(
        "z", "tx", "ty", "n_points", "nonzero_pixels", "max_pix",
        "raster_sum", "pix_checksum")


# ====================================================== raster merge

_RASTER_MERGE_SQL = f"""
WITH pts AS (
  SELECT {_LON_SQL.format(k='o_orderkey')} AS lon,
         {_LAT_SQL.format(k='o_orderkey')} AS lat
  FROM orders
  UNION ALL
  SELECT {_LON_SQL.format(k='c_custkey')} AS lon,
         {_LAT_SQL.format(k='c_custkey')} AS lat
  FROM customer
), m AS (
  SELECT lon / 180.0 * {HALF!r} AS mx,
         {_MERCY_SQL.format(lat='lat', pi=PI, half=HALF)} AS my
  FROM pts
), g AS (
  SELECT CAST(FLOOR((mx + {HALF!r}) / {WORLD_MERC_WIDTH!r} * 128.0) AS BIGINT) AS gx,
         CAST(FLOOR(({HALF!r} - my) / {WORLD_MERC_WIDTH!r} * 128.0) AS BIGINT) AS gy
  FROM m
), pix AS (
  SELECT gx // 16 AS tx, gy // 16 AS ty,
         gx % 16 AS px, gy % 16 AS py, COUNT(*) AS cnt
  FROM g GROUP BY 1, 2, 3, 4
)
SELECT CAST(3 AS INT) AS z, tx, ty,
  CAST(SUM(cnt) AS BIGINT) AS n_points,
  CAST(COUNT(*) AS BIGINT) AS nonzero_pixels,
  CAST(MAX(LEAST(cnt, 255)) AS INT) AS max_pix,
  CAST(SUM(LEAST(cnt, 255)) AS BIGINT) AS raster_sum,
  CAST(SUM(LEAST(cnt, 255) * (py * 16 + px + 1)) AS BIGINT) AS pix_checksum
FROM pix GROUP BY tx, ty
"""


@q("raster_merge_stats", _RASTER_MERGE_SQL)
def raster_merge_stats(spark, sf_dir):
    """Incremental raster maintenance proof: a standing store built
    from orders points is merged with a customer-point delta
    (operators/raster.py raster_merge — touched tiles decode+add+
    re-encode, untouched pass through, saturation commutes), then the
    merged BYTES are decoded back; DuckDB recomputes the same stats
    from the unioned raw points, so merge ≡ full rebuild is checked
    cross-engine."""
    from sparktiles.operators.raster import raster_grid_stats, raster_merge

    okey = F.col("o_orderkey")
    ckey = F.col("c_custkey")
    opts = _t(spark, sf_dir, "orders").select(
        _merc_x(_lon(okey)).alias("x"), _merc_y(_lat(okey)).alias("y"))
    cpts = _t(spark, sf_dir, "customer").select(
        _merc_x(_lon(ckey)).alias("x"), _merc_y(_lat(ckey)).alias("y"))
    from sparktiles.operators.raster import rasterize_point_tiles
    standing = rasterize_point_tiles(opts, zoom=3, grid=16)
    merged = raster_merge(standing, cpts, zoom=3, grid=16)
    return raster_grid_stats(merged, grid=16).select(
        "z", "tx", "ty", "n_points", "nonzero_pixels", "max_pix",
        "raster_sum", "pix_checksum")


# ================================== ExactSubstr span removal / packing /
# temperature resampling — the round-5 curation additions

# positions are 1-based in both engines; DuckDB range(1, len-3) and
# Spark sequence(1, size-4) both enumerate starts 1..len-window+1 for
# window=5, and both produce nothing for docs shorter than the window.
_EXACTSUBSTR_CUT_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
w AS (
  SELECT doc_id,
         unnest(range(1, len(ts) - 3)) AS pos,
         unnest([md5(list_aggregate(ts[i:i+4], 'string_agg', ' '))
                 for i in range(1, len(ts) - 3)]) AS h
  FROM t
),
dup AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) > 1),
starts AS (
  SELECT doc_id, list(DISTINCT pos) AS sts
  FROM w WHERE h IN (SELECT h FROM dup) GROUP BY doc_id
),
cov AS (
  SELECT t.doc_id, ts,
         list_distinct(flatten(
           [range(st, st + 5) for st in COALESCE(sts, [])])) AS covered
  FROM t LEFT JOIN starts USING (doc_id)
)
SELECT doc_id,
       CAST(len(ts) AS INT) AS n_tokens,
       CAST(len(covered) AS INT) AS n_removed,
       COALESCE(list_aggregate(
         [ts[p] for p in range(1, len(ts) + 1)
          if NOT list_contains(covered, p)],
         'string_agg', ' '), '') AS kept_text
FROM cov
"""


@q("exactsubstr_cut", _EXACTSUBSTR_CUT_SQL)
def exactsubstr_cut_q(spark, sf_dir):
    """ExactSubstr duplicate-span REMOVAL (Lee et al. 2021) — the cut
    step on top of the dup_window_fraction detection: every 5-token
    window occurring >1 time corpus-wide marks its tokens for removal
    and the doc is rebuilt from the survivors
    (operators/text.py exactsubstr_cut)."""
    from sparktiles.operators.text import exactsubstr_cut

    return exactsubstr_cut(_t(spark, sf_dir, "documents"), window=5)


# DuckDB SUM(BIGINT) widens to HUGEINT — cast back so the schema
# matches Spark's bigint running sum.
_PACK_SQL = """
WITH lens AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
off AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS token_offset
  FROM lens
)
SELECT doc_id, n_tokens, token_offset,
       token_offset // 256 AS first_chunk,
       (token_offset + n_tokens - 1) // 256 AS last_chunk,
       (token_offset + n_tokens - 1) // 256
         - token_offset // 256 + 1 AS n_chunks,
       token_offset % 256 AS chunk_offset,
       (token_offset + n_tokens - 1) // 256
         > token_offset // 256 AS crosses_boundary
FROM off
"""


@q("pack_sequences", _PACK_SQL)
def pack_sequences_q(spark, sf_dir):
    """Concat-and-chunk training-sequence packing at a 256-token
    budget (operators/text.py pack_sequences). The oracle is the
    naive single-window cumulative sum; the Spark side is the
    two-pass blocked distributed scan — same numbers, scalable
    plan."""
    from sparktiles.operators.text import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), budget=256)


_RESAMPLE_SQL = """
WITH c AS (
  SELECT source, COUNT(*) AS n_domain FROM documents GROUP BY source
),
q AS (
  SELECT source, n_domain,
         LEAST(n_domain,
               CAST(FLOOR(4.0 * SQRT(CAST(n_domain AS DOUBLE)))
                 AS BIGINT)) AS quota
  FROM c
),
r AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT)
           AS sample_rank
  FROM documents
)
SELECT r.doc_id, r.source AS domain, q.n_domain, q.quota, r.sample_rank,
       r.sample_rank <= q.quota AS kept
FROM r JOIN q USING (source)
"""


_INVIDX_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS (
  SELECT token, doc_id, COUNT(*) AS tf
  FROM tok WHERE token <> '' GROUP BY 1, 2
)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS cf,
       string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
FROM tf
GROUP BY token
"""


@q("inverted_index", _INVIDX_SQL)
def inverted_index_q(spark, sf_dir):
    """Materialized inverted index (operators/text.py
    inverted_index); posting lists serialized doc:tf in doc order so
    the full ordered list is value-compared cross-engine (the
    synthetic vocab is 31 tokens, so every posting list is
    corpus-long — a sharper check than a df-thresholded subset; the
    max_df stopword cut is covered by unit tests)."""
    from sparktiles.operators.text import inverted_index

    return inverted_index(_t(spark, sf_dir, "documents"))


_NGRAM_COUNTS_SQL = """
WITH g AS (
  SELECT unnest([list_aggregate(ts[i:i+1], 'string_agg', ' ')
                 for i in range(1, len(ts))]) AS gram
  FROM (SELECT string_split(text, ' ') AS ts FROM documents)
)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt
FROM g GROUP BY gram HAVING COUNT(*) >= 2
"""


@q("ngram_count_table", _NGRAM_COUNTS_SQL)
def ngram_count_table_q(spark, sf_dir):
    """KenLM-style bigram count table with count-2 pruning
    (operators/text.py ngram_count_table)."""
    from sparktiles.operators.text import ngram_count_table

    return ngram_count_table(_t(spark, sf_dir, "documents"),
                             n=2, min_count=2)


@q("domain_temperature_resample", _RESAMPLE_SQL)
def domain_temperature_resample_q(spark, sf_dir):
    """count^0.5 temperature flattening of the domain mixture with
    deterministic md5-rank quota sampling
    (operators/text.py domain_temperature_resample)."""
    from sparktiles.operators.text import domain_temperature_resample

    return domain_temperature_resample(
        _t(spark, sf_dir, "documents"), alpha=0.5, scale=4.0)


# ============================================ CCNet perplexity buckets

_PPL_BUCKETS_SQL = """
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok FROM toks WHERE tok <> ''
), cf AS (
  SELECT tok, COUNT(*) AS cf FROM tf GROUP BY tok
), vocab AS (
  SELECT tok, cf FROM cf ORDER BY cf DESC, tok ASC LIMIT 16
), st AS (
  SELECT (SELECT SUM(cf) FROM cf) AS total,
         (SELECT COUNT(*) FROM cf) AS ntypes,
         (SELECT SUM(cf) FROM vocab) AS vmass,
         (SELECT COUNT(*) FROM vocab) AS nvocab
), p AS (
  SELECT t.doc_id,
    CASE WHEN v.cf IS NOT NULL THEN CAST(v.cf AS DOUBLE) / s.total
         ELSE CAST(s.total - s.vmass AS DOUBLE) / s.total
              / (s.ntypes - s.nvocab) END AS p
  FROM tf t LEFT JOIN vocab v USING (tok) CROSS JOIN st s
), scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         ROUND(-AVG(log2(p)), 4) AS bits_per_token
  FROM p GROUP BY doc_id
), j AS (
  SELECT s.doc_id, d.lang, s.n_tokens, s.bits_per_token
  FROM scored s JOIN documents d USING (doc_id)
), r AS (
  SELECT *,
    CAST(FLOOR((3 * (ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY bits_per_token ASC, doc_id ASC) - 1))
      / (COUNT(*) OVER (PARTITION BY lang))) AS INT) AS bi
  FROM j
)
SELECT doc_id, lang, n_tokens, bits_per_token,
       CASE WHEN bi = 0 THEN 'head'
            WHEN bi = 2 THEN 'tail' ELSE 'middle' END AS ppl_bucket
FROM r
"""


@q("perplexity_buckets", _PPL_BUCKETS_SQL)
def perplexity_buckets_q(spark, sf_dir):
    """CCNet head/middle/tail partitioning: per-language
    equal-frequency bands over the self-trained unigram-LM bits/token
    (operators/text.py perplexity_buckets; vocab 16 so the OOV tail
    branch is exercised like the lm_quality_score oracle)."""
    from sparktiles.operators.text import perplexity_buckets

    return perplexity_buckets(_t(spark, sf_dir, "documents"),
                              vocab_size=16, n_buckets=3)


# ===================================== MinHash candidate verification

_MINHASH_VERIFY_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), idx AS (
  SELECT doc_id, t, UNNEST(range(1, len(t) - 1)) AS i FROM toks
), shingles AS (
  SELECT DISTINCT doc_id,
         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS s
  FROM idx
), sigs AS (
  SELECT doc_id,
         MIN(substr(md5('0' || s), 1, 8)) AS h0,
         MIN(substr(md5('0' || s), 9, 8)) AS h1,
         MIN(substr(md5('0' || s), 17, 8)) AS h2,
         MIN(substr(md5('0' || s), 25, 8)) AS h3,
         MIN(substr(md5('1' || s), 1, 8)) AS h4,
         MIN(substr(md5('1' || s), 9, 8)) AS h5,
         MIN(substr(md5('1' || s), 17, 8)) AS h6,
         MIN(substr(md5('1' || s), 25, 8)) AS h7
  FROM shingles GROUP BY doc_id
), bands AS (
  SELECT doc_id, 0 AS band, h0 || h1 AS sig FROM sigs
  UNION ALL SELECT doc_id, 1, h2 || h3 FROM sigs
  UNION ALL SELECT doc_id, 2, h4 || h5 FROM sigs
  UNION ALL SELECT doc_id, 3, h6 || h7 FROM sigs
), buckets AS (
  SELECT band, sig, MIN(doc_id) AS canon, COUNT(*) AS n
  FROM bands GROUP BY band, sig
), pairs AS (
  SELECT DISTINCT k.canon AS doc_a, b.doc_id AS doc_b
  FROM bands b JOIN buckets k USING (band, sig)
  WHERE k.n > 1 AND b.doc_id <> k.canon
)
SELECT p.doc_a, p.doc_b,
  ROUND((CAST(sa.h0 = sb.h0 AS INT) + CAST(sa.h1 = sb.h1 AS INT)
       + CAST(sa.h2 = sb.h2 AS INT) + CAST(sa.h3 = sb.h3 AS INT)
       + CAST(sa.h4 = sb.h4 AS INT) + CAST(sa.h5 = sb.h5 AS INT)
       + CAST(sa.h6 = sb.h6 AS INT) + CAST(sa.h7 = sb.h7 AS INT))
    / 8.0, 4) AS est_jaccard
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.doc_a
JOIN sigs sb ON sb.doc_id = p.doc_b
WHERE ROUND((CAST(sa.h0 = sb.h0 AS INT) + CAST(sa.h1 = sb.h1 AS INT)
       + CAST(sa.h2 = sb.h2 AS INT) + CAST(sa.h3 = sb.h3 AS INT)
       + CAST(sa.h4 = sb.h4 AS INT) + CAST(sa.h5 = sb.h5 AS INT)
       + CAST(sa.h6 = sb.h6 AS INT) + CAST(sa.h7 = sb.h7 AS INT))
    / 8.0, 4) >= 0.5
"""


@q("minhash_jaccard_verify", _MINHASH_VERIFY_SQL)
def minhash_jaccard_verify_q(spark, sf_dir):
    """Signature-agreement Jaccard estimates over the LSH candidate
    pairs, thresholded at 0.5 (operators/text.py
    minhash_jaccard_verify — the false-positive filter between
    banding and the actual drop)."""
    from sparktiles.operators.text import minhash_jaccard_verify

    return minhash_jaccard_verify(_t(spark, sf_dir, "documents"),
                                  threshold=0.5)


# ========================================= best-of-cluster dedup keep

_KEEP_BEST_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), idx AS (
  SELECT doc_id, t, UNNEST(range(1, len(t) - 1)) AS i FROM toks
), shingles AS (
  SELECT DISTINCT doc_id,
         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS s
  FROM idx
), sigs AS (
  SELECT doc_id,
         MIN(substr(md5('0' || s), 1, 8)) AS h0,
         MIN(substr(md5('0' || s), 9, 8)) AS h1,
         MIN(substr(md5('0' || s), 17, 8)) AS h2,
         MIN(substr(md5('0' || s), 25, 8)) AS h3,
         MIN(substr(md5('1' || s), 1, 8)) AS h4,
         MIN(substr(md5('1' || s), 9, 8)) AS h5,
         MIN(substr(md5('1' || s), 17, 8)) AS h6,
         MIN(substr(md5('1' || s), 25, 8)) AS h7
  FROM shingles GROUP BY doc_id
), bands AS (
  SELECT doc_id, 0 AS band, h0 || h1 AS sig FROM sigs
  UNION ALL SELECT doc_id, 1, h2 || h3 FROM sigs
  UNION ALL SELECT doc_id, 2, h4 || h5 FROM sigs
  UNION ALL SELECT doc_id, 3, h6 || h7 FROM sigs
), buckets AS (
  SELECT band, sig, MIN(doc_id) AS canon, COUNT(*) AS n
  FROM bands GROUP BY band, sig
), star AS (
  SELECT DISTINCT b.doc_id AS a, k.canon AS b
  FROM bands b JOIN buckets k USING (band, sig)
  WHERE k.n > 1 AND b.doc_id <> k.canon
), sym AS (
  SELECT a, b FROM star UNION SELECT b, a FROM star
), reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), cc AS (
  SELECT a AS doc_id, MIN(b) AS canonical_id FROM reach GROUP BY a
), comp AS (
  SELECT doc_id, LEAST(doc_id, canonical_id) AS component FROM cc
), jq AS (
  SELECT c.doc_id, c.component, d.n_chars AS q
  FROM comp c JOIN documents d USING (doc_id)
), ranked AS (
  SELECT doc_id, component,
    FIRST_VALUE(doc_id) OVER (
      PARTITION BY component ORDER BY q DESC, doc_id ASC) AS keep_id
  FROM jq
)
SELECT doc_id, component, keep_id, doc_id = keep_id AS is_kept
FROM ranked
"""


@q("dedup_keep_best", _KEEP_BEST_SQL)
def dedup_keep_best_q(spark, sf_dir):
    """Quality-ranked representative per duplicate component (longest
    doc by n_chars wins, ties on doc_id) instead of smallest-id
    (operators/graph.py dedup_keep_best on top of the iterative
    hash-min CC closure)."""
    from sparktiles.operators.graph import dedup_keep_best

    return dedup_keep_best(_t(spark, sf_dir, "documents"),
                           quality_col="n_chars")


# =============================================== winnowing (MOSS) set

_WINNOW_SQL = """
WITH h0 AS (
  SELECT doc_id, length(text) - 7 AS n,
         UNNEST(range(1, length(text) - 6)) AS i1, text
  FROM documents WHERE length(text) - 7 >= 4
), g AS (
  SELECT doc_id, n, CAST(i1 - 1 AS BIGINT) AS i,
         md5(substr(text, CAST(i1 AS INT), 8)) AS h
  FROM h0
), e AS (
  SELECT doc_id, h, i,
         UNNEST(range(GREATEST(0, i - 3), LEAST(i, n - 4) + 1)) AS s
  FROM g
), m AS (
  SELECT doc_id, s,
         MIN(h || lpad(CAST(1000000000 - i AS VARCHAR), 10, '0')) AS m
  FROM e GROUP BY doc_id, s
)
SELECT DISTINCT doc_id,
       CAST(1000000000 - CAST(substr(m, 33, 10) AS BIGINT) AS INT) AS pos,
       substr(m, 1, 32) AS fp
FROM m
"""


@q("winnowing_fingerprints", _WINNOW_SQL)
def winnowing_fingerprints_q(spark, sf_dir):
    """True winnowing fingerprint sets (Schleimer et al. 2003 — the
    MOSS scheme; operators/text.py winnowing_fingerprints): per-window
    min k-gram hash with rightmost-position tie-break, k=8 window=4,
    selected (pos, fp) pairs deduplicated per document."""
    from sparktiles.operators.text import winnowing_fingerprints

    return winnowing_fingerprints(_t(spark, sf_dir, "documents"),
                                  k=8, window=4)


# ============================================ DSIR importance weights

_DSIR_SQL = """
WITH t0 AS (
  SELECT doc_id, lang = 'en' AS is_t,
         list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
), uni AS (
  SELECT doc_id, is_t, UNNEST(ts) AS g FROM t0
), bi AS (
  SELECT doc_id, is_t,
         UNNEST(CASE WHEN len(ts) < 2 THEN []::VARCHAR[] ELSE
           list_transform(range(1, len(ts)),
             i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1])
           END) AS g
  FROM t0
), ga AS (
  SELECT * FROM uni UNION ALL SELECT * FROM bi
), gb AS (
  SELECT doc_id, is_t,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % 256 AS b
  FROM ga
), cr AS (
  SELECT b, COUNT(*) AS cr FROM gb GROUP BY b
), ctt AS (
  SELECT b, COUNT(*) AS ct FROM gb WHERE is_t GROUP BY b
), lr AS (
  SELECT cr.b, cr.cr, COALESCE(ctt.ct, 0) AS ct
  FROM cr LEFT JOIN ctt USING (b)
), tt AS (
  SELECT SUM(cr) AS tr, SUM(ct) AS tsum FROM lr
), lam AS (
  SELECT b, LN((ct + 1.0) / (tt.tsum + 256.0))
            - LN((cr + 1.0) / (tt.tr + 256.0)) AS lam
  FROM lr, tt
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       ROUND(SUM(lam), 4) AS log_weight
FROM gb JOIN lam USING (b) GROUP BY doc_id
"""


@q("dsir_importance", _DSIR_SQL)
def dsir_importance_q(spark, sf_dir):
    """DSIR hashed-ngram importance weights (Xie et al. 2023;
    operators/text.py dsir_logweights): uni+bi grams into 256 md5
    buckets, add-one-smoothed target (lang='en') vs raw bucket
    models, per-doc sum of log-likelihood ratios."""
    from sparktiles.operators.text import dsir_logweights

    return dsir_logweights(_t(spark, sf_dir, "documents"),
                           target_col="lang", target_value="en",
                           n_buckets=256)


# ================================================== BPE pair counting

_BPE_SQL = """
WITH w AS (
  SELECT UNNEST(list_filter(string_split(text, ' '),
                            t -> len(t) >= 2)) AS w
  FROM documents
), wi AS (
  SELECT w, UNNEST(range(1, len(w))) AS i FROM w
), p AS (
  SELECT substr(w, CAST(i AS INT), 1) AS left_sym,
         substr(w, CAST(i AS INT) + 1, 1) AS right_sym
  FROM wi
)
SELECT left_sym, right_sym, CAST(COUNT(*) AS BIGINT) AS cnt
FROM p GROUP BY 1, 2
ORDER BY cnt DESC, left_sym ASC, right_sym ASC
LIMIT 20
"""


@q("bpe_pair_counts", _BPE_SQL)
def bpe_pair_counts_q(spark, sf_dir):
    """The BPE trainer's count-and-rank primitive (Sennrich et al.
    2016; operators/text.py bpe_pair_counts): adjacent char-pair
    counts over whitespace words, top-20 by count with full ordering
    for determinism."""
    from sparktiles.operators.text import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf_dir, "documents"), top_k=20)


# ============================================= exact group quantiles

_QUANTILES_SQL = """
SELECT lang AS grp, CAST(0.25 AS DOUBLE) AS q,
       quantile_disc(n_chars, 0.25) AS value
FROM documents GROUP BY lang
UNION ALL
SELECT lang, CAST(0.5 AS DOUBLE), quantile_disc(n_chars, 0.5)
FROM documents GROUP BY lang
UNION ALL
SELECT lang, CAST(0.75 AS DOUBLE), quantile_disc(n_chars, 0.75)
FROM documents GROUP BY lang
UNION ALL
SELECT lang, CAST(0.9 AS DOUBLE), quantile_disc(n_chars, 0.9)
FROM documents GROUP BY lang
"""


@q("exact_group_quantiles", _QUANTILES_SQL)
def exact_group_quantiles_q(spark, sf_dir):
    """Exact per-language quantiles of document length via the
    granularity-bounded rank decomposition (operators/stats.py
    exact_group_quantiles) — checked against DuckDB's own
    quantile_disc, an INDEPENDENT implementation of the same
    semantics rather than a mirrored query."""
    from sparktiles.operators.stats import exact_group_quantiles

    return exact_group_quantiles(_t(spark, sf_dir, "documents"),
                                 "lang", "n_chars",
                                 [0.25, 0.5, 0.75, 0.9])


# ============================================ winnowing overlap pairs

_WINNOW_PAIRS_SQL = """
WITH h0 AS (
  SELECT doc_id, length(text) - 7 AS n,
         UNNEST(range(1, length(text) - 6)) AS i1, text
  FROM documents WHERE length(text) - 7 >= 4
), g AS (
  SELECT doc_id, n, CAST(i1 - 1 AS BIGINT) AS i,
         md5(substr(text, CAST(i1 AS INT), 8)) AS h
  FROM h0
), e AS (
  SELECT doc_id, h, i,
         UNNEST(range(GREATEST(0, i - 3), LEAST(i, n - 4) + 1)) AS s
  FROM g
), m AS (
  SELECT doc_id, s,
         MIN(h || lpad(CAST(1000000000 - i AS VARCHAR), 10, '0')) AS m
  FROM e GROUP BY doc_id, s
), fps AS (
  SELECT DISTINCT doc_id, substr(m, 1, 32) AS fp FROM m
), hot AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) > 16
), cold AS (
  SELECT doc_id, fp FROM fps
  WHERE fp NOT IN (SELECT fp FROM hot)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS shared_fps
FROM cold a JOIN cold b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


@q("winnowing_overlap_pairs", _WINNOW_PAIRS_SQL)
def winnowing_overlap_pairs_q(spark, sf_dir):
    """The MOSS overlap join (operators/text.py
    winnowing_overlap_pairs): doc pairs sharing >= 2 distinct
    winnowing fingerprints after the max_df=16 boilerplate cut —
    each shared fingerprint certifies a common passage of length
    >= window+k-1 chars."""
    from sparktiles.operators.text import winnowing_overlap_pairs

    return winnowing_overlap_pairs(_t(spark, sf_dir, "documents"),
                                   k=8, window=4, min_shared=2,
                                   max_df=16)


# ============================================ Kneser-Ney bigram LM

_KN_SQL = """
WITH arr AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS a
  FROM documents
), toks AS (
  SELECT doc_id, unnest(a) AS tok, generate_subscripts(a, 1) AS pos
  FROM arr WHERE len(a) > 0
), cf AS (
  SELECT tok, COUNT(*) AS cf FROM toks GROUP BY tok
), vocab AS (
  SELECT tok FROM cf ORDER BY cf DESC, tok ASC LIMIT 16
), toksm AS (
  SELECT t.doc_id, t.pos,
         CASE WHEN v.tok IS NOT NULL THEN t.tok ELSE chr(1) END AS tok
  FROM toks t LEFT JOIN vocab v USING (tok)
), big AS (
  SELECT doc_id,
         lag(tok, 1, chr(2)) OVER (PARTITION BY doc_id ORDER BY pos) AS v,
         tok AS w
  FROM toksm
), c_vw AS (
  SELECT v, w, COUNT(*) AS c_vw FROM big GROUP BY v, w
), hist AS (
  SELECT v, SUM(c_vw) AS c_v, COUNT(*) AS n1p_v FROM c_vw GROUP BY v
), cont AS (
  SELECT w, COUNT(*) AS n1p_w FROM c_vw GROUP BY w
), nb AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS nb FROM c_vw
), p AS (
  SELECT b.doc_id,
    GREATEST(CAST(m.c_vw AS DOUBLE) - 0.75, 0.0) / CAST(h.c_v AS DOUBLE)
    + 0.75 * CAST(h.n1p_v AS DOUBLE) / CAST(h.c_v AS DOUBLE)
      * (CAST(c.n1p_w AS DOUBLE) / s.nb) AS p
  FROM big b JOIN c_vw m USING (v, w) JOIN hist h USING (v)
       JOIN cont c USING (w) CROSS JOIN nb s
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(-AVG(log2(p)), 4) AS bits_per_token
FROM p GROUP BY doc_id
"""


@q("kn_bigram_quality", _KN_SQL)
def kn_bigram_quality(spark, sf_dir):
    """Interpolated Kneser-Ney bigram bits/token per document — the
    order-2 upgrade of lm_quality_score, i.e. the distributed
    equivalent of CCNet's KenLM perplexity filter with real KN
    smoothing (operators/text.py kn_bigram_scores: three map-side
    corpus scans, checkpointed bounded vocab + model broadcasts,
    zip_with bigram construction — no shuffle before the count
    groupBys). vocab_size=16 so the UNK path is exercised; the
    oracle rebuilds the same model with window-lag bigrams and the
    identical IEEE operation order."""
    from sparktiles.operators.text import kn_bigram_scores

    return kn_bigram_scores(_t(spark, sf_dir, "documents"),
                            vocab_size=16)


@q("bpe_tokenize")
def bpe_tokenize(spark, sf_dir):
    """BPE train-then-apply over the documents table
    (operators/tokenizer.py): merges learned driver-side from the
    bounded word-frequency table, documents encoded via Arrow-batched
    mapInPandas with a per-batch word cache. Rows-only driver check —
    greedy BPE has no SQL oracle; token-sequence parity is pinned by
    the pure-Python golden in tests/test_bpe_encode.py."""
    from sparktiles.operators.tokenizer import bpe_tokenize_corpus

    return bpe_tokenize_corpus(_t(spark, sf_dir, "documents"),
                               n_merges=64)


# ==================================== C4/ftfy text normalization

# exercises: two mojibake sequences, curly quotes, en dash, NBSP,
# ellipsis, a BEL control char, tab + double-space runs, edge spaces
_NORM_SUFFIX = (" It\u00e2\u20ac\u2122s  \u00c3\u00a9lan\t"
                "\u2013 \u201cq\u201d\u00a0\u2026\x07end ")


def _normalize_sql() -> str:
    """DuckDB rebuild of operators/text.py normalize_text, GENERATED
    from the same rule tables (single source of truth, no drift).
    Every literal is chr()-composed so the SQL stays ASCII. The query
    appends a crafted suffix exercising every rule to each document
    (both engines append the identical suffix), so the parity check
    does real normalization work on every row."""
    from sparktiles.operators.text import (_MOJIBAKE_PAIRS, _PUNCT_FROM,
                                           _PUNCT_TO)

    def cc(s):
        return "||".join(f"chr({ord(c)})" for c in s) if s else "''"

    expr = "t2"
    for bad, good in _MOJIBAKE_PAIRS:
        expr = f"replace({expr}, {cc(bad)}, {cc(good)})"
    expr = f"translate({expr}, {cc(_PUNCT_FROM)}, {cc(_PUNCT_TO)})"
    expr = f"regexp_replace({expr}, {cc(chr(8230))}, '...', 'g')"
    expr = (f"regexp_replace({expr}, "
            "'[\\x00-\\x08\\x0b-\\x1f\\x7f]', '', 'g')")
    expr = f"trim(regexp_replace({expr}, '[ \\t]+', ' ', 'g'))"
    return f"""
WITH enriched AS (
  SELECT doc_id, text || {cc(_NORM_SUFFIX)} AS t2 FROM documents
)
SELECT doc_id, {expr} AS norm_text, {expr} <> t2 AS changed
FROM enriched
"""


@q("text_normalize", _normalize_sql())
def text_normalize(spark, sf_dir):
    """C4/ftfy normalization chain (operators/text.py normalize_text)
    over documents enriched with a suffix that exercises every rule;
    the oracle SQL is generated from the operator's own rule tables."""
    from sparktiles.operators.text import normalize_text

    docs = (_t(spark, sf_dir, "documents")
            .withColumn("text",
                        F.concat(F.col("text"), F.lit(_NORM_SUFFIX))))
    return normalize_text(docs)


# ================================== leakage-safe train/holdout split

# the oracle REUSES the CC oracle verbatim as a CTE, then applies the
# same md5-integer side rule — one source of truth for the closure
_SPLIT_SQL = _MINHASH_CC_SQL.replace(
    "SELECT a AS doc_id, MIN(b) AS canonical_id FROM reach GROUP BY a",
    """, mapping AS (
  SELECT a AS doc_id, MIN(b) AS canonical_id FROM reach GROUP BY a
), grp AS (
  SELECT d.doc_id,
         COALESCE(LEAST(m.doc_id, m.canonical_id), d.doc_id) AS group_id
  FROM documents d LEFT JOIN mapping m USING (doc_id)
)
SELECT doc_id, group_id,
       CASE WHEN ('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 10
            THEN 'holdout' ELSE 'train' END AS side
FROM grp""")


@q("leakage_safe_split", _SPLIT_SQL)
def leakage_safe_split_q(spark, sf_dir):
    """Dedup-aware train/holdout split (operators/graph.py
    leakage_safe_split): sides assigned per near-dup COMPONENT via
    the md5 integer idiom, so no near-duplicate pair straddles the
    split; singleton docs are their own group."""
    from sparktiles.operators.graph import leakage_safe_split

    return leakage_safe_split(_t(spark, sf_dir, "documents"),
                              holdout_pct=10)


# ================================================ domain blocklist

_BLOCKLIST_SQL = """
WITH docs AS (
  SELECT *, 'https://www.s' || CAST(doc_id % 13 AS VARCHAR) || '.example'
         || CASE WHEN doc_id % 3 = 0 THEN '.net' ELSE '.com' END
         || '/p/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), dom AS (
  SELECT *, string_split(string_split(regexp_replace(regexp_replace(
           lower(url), '^https?://', ''), '^www\\.', ''),
           '/')[1], ':')[1] AS domain
  FROM docs
)
SELECT * FROM dom
WHERE NOT (domain = 's1.example.com' OR domain LIKE '%.s1.example.com'
        OR domain = 'example.net'    OR domain LIKE '%.example.net'
        OR domain = 's5.example.com' OR domain LIKE '%.s5.example.com')
"""


@q("domain_blocklist_filter", _BLOCKLIST_SQL)
def domain_blocklist_filter(spark, sf_dir):
    """UT1-style blocklist gate (operators/text.py
    filter_blocked_domains): hash-probe on the host and every
    dot-suffix against a broadcast blocklist — synthetic URLs give
    every doc a host; 'example.net' blocks a third of the corpus via
    the SUBDOMAIN rule. The oracle is an independent implementation
    (literal equality/LIKE per blocked entry, no suffix explode)."""
    from sparktiles.operators.text import filter_blocked_domains

    docs = _t(spark, sf_dir, "documents").withColumn(
        "url",
        F.concat(F.lit("https://www.s"),
                 (F.col("doc_id") % 13).cast("string"),
                 F.lit(".example"),
                 F.when(F.col("doc_id") % 3 == 0, F.lit(".net"))
                 .otherwise(F.lit(".com")),
                 F.lit("/p/"), F.col("doc_id").cast("string")))
    return filter_blocked_domains(
        docs, ["s1.example.com", "example.net", "s5.example.com"])


# ================================================== corpus profile

_CORPUS_STATS_SQL = """
WITH toks AS (
  SELECT UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
  FROM documents
), cf AS (
  SELECT tok, COUNT(*) AS cf FROM toks GROUP BY tok
), top10 AS (
  SELECT SUM(cf) AS t10 FROM
    (SELECT cf FROM cf ORDER BY cf DESC, tok ASC LIMIT 10)
)
SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       (SELECT SUM(cf) FROM cf) AS n_tokens,
       (SELECT COUNT(*) FROM cf) AS n_types,
       ROUND(CAST((SELECT COUNT(*) FROM cf WHERE cf = 1) AS DOUBLE)
             / (SELECT COUNT(*) FROM cf), 4) AS hapax_frac,
       ROUND(CAST((SELECT t10 FROM top10) AS DOUBLE)
             / (SELECT SUM(cf) FROM cf), 4) AS top10_coverage
"""


@q("corpus_stats", _CORPUS_STATS_SQL)
def corpus_stats_q(spark, sf_dir):
    """One-row corpus profile (operators/text.py corpus_stats):
    doc/token/type counts, hapax fraction, top-10 type coverage."""
    from sparktiles.operators.text import corpus_stats

    return corpus_stats(_t(spark, sf_dir, "documents"))


# ============================================== source mix report

_SOURCE_MIX_SQL = """
WITH base AS (
  SELECT source, lang, length(text) AS nc,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS nt
  FROM documents
), per_src AS (
  SELECT source, COUNT(*) AS n_docs, SUM(nt) AS n_tokens,
         ROUND(AVG(CAST(nc AS DOUBLE)), 2) AS avg_chars
  FROM base GROUP BY source
), sl AS (
  SELECT source, lang, COUNT(*) AS n FROM base GROUP BY source, lang
), top AS (
  SELECT source, lang AS top_lang FROM (
    SELECT source, lang,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n DESC, lang ASC) AS rk
    FROM sl) WHERE rk = 1
), ent AS (
  SELECT source, COUNT(*) AS n_langs,
         ROUND(-SUM(p * log2(p)) + 0.0, 4) AS lang_entropy_bits
  FROM (SELECT source, CAST(n AS DOUBLE)
               / SUM(n) OVER (PARTITION BY source) AS p, n
        FROM sl) GROUP BY source
)
SELECT p.source, p.n_docs, p.n_tokens, p.avg_chars,
       e.n_langs, t.top_lang, e.lang_entropy_bits
FROM per_src p JOIN top t USING (source) JOIN ent e USING (source)
"""


@q("source_mix_report", _SOURCE_MIX_SQL)
def source_mix_report_q(spark, sf_dir):
    """Per-source mixture table (operators/text.py source_mix_report):
    docs/tokens/avg chars, language count, dominant language,
    language entropy in bits."""
    from sparktiles.operators.text import source_mix_report

    return source_mix_report(_t(spark, sf_dir, "documents"))


# ================================ cross-domain: per-tile language mix

_TILE_LANG_SQL = f"""
WITH pts AS (
  SELECT doc_id, lang,
         {_LON_SQL.format(k='doc_id')} AS lon,
         {_LAT_SQL.format(k='doc_id')} AS lat
  FROM documents
), m AS (
  SELECT lang, lon / 180.0 * {HALF!r} AS mx,
         {_MERCY_SQL.format(lat='lat', pi=PI, half=HALF)} AS my
  FROM pts
), t AS (
  SELECT CAST(FLOOR((mx + {HALF!r}) / {WORLD_MERC_WIDTH!r} * 32.0) AS BIGINT) AS tile_x,
         CAST(FLOOR(({HALF!r} - my) / {WORLD_MERC_WIDTH!r} * 32.0) AS BIGINT) AS tile_y,
         lang
  FROM m
), tl AS (
  SELECT tile_x, tile_y, lang, COUNT(*) AS n FROM t
  GROUP BY tile_x, tile_y, lang
), top AS (
  SELECT tile_x, tile_y, lang AS top_lang FROM (
    SELECT tile_x, tile_y, lang,
           ROW_NUMBER() OVER (PARTITION BY tile_x, tile_y
                              ORDER BY n DESC, lang ASC) AS rk
    FROM tl) WHERE rk = 1
), ent AS (
  SELECT tile_x, tile_y, SUM(n) AS n_docs, COUNT(*) AS n_langs,
         ROUND(-SUM(p * log2(p)) + 0.0, 4) AS lang_entropy_bits
  FROM (SELECT tile_x, tile_y, n, CAST(n AS DOUBLE)
               / SUM(n) OVER (PARTITION BY tile_x, tile_y) AS p
        FROM tl) GROUP BY tile_x, tile_y
)
SELECT e.tile_x, e.tile_y, e.n_docs, e.n_langs, t.top_lang,
       e.lang_entropy_bits
FROM ent e JOIN top t USING (tile_x, tile_y)
"""


@q("tile_lang_entropy", _TILE_LANG_SQL)
def tile_lang_entropy(spark, sf_dir):
    """The graft's two halves in ONE plan: geoparsed documents (the
    repo's deterministic lon/lat derivation — the geoparse stand-in
    every spatial oracle uses) are assigned z5 tiles map-side, then
    each tile aggregates its documents' language mixture: doc count,
    language count, dominant language, language entropy in bits. The
    shape is a single (tile, lang) groupBy (map-side combined; the
    per-tile windows run over the BOUNDED tiles x langs table), i.e.
    a language-diversity choropleth over the crawl at raster-tile
    granularity."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    key = F.col("doc_id")
    mx = _merc_x(_lon(key))
    my = _merc_y(_lat(key))
    n = F.lit(32.0)   # zoom 5
    t = d.select(
        F.floor((mx + F.lit(HALF)) / F.lit(WORLD_MERC_WIDTH) * n)
        .alias("tile_x"),
        F.floor((F.lit(HALF) - my) / F.lit(WORLD_MERC_WIDTH) * n)
        .alias("tile_y"),
        "lang")
    tl = t.groupBy("tile_x", "tile_y", "lang").agg(
        F.count("*").alias("_n"))
    w = Window.partitionBy("tile_x", "tile_y").orderBy(
        F.col("_n").desc(), F.col("lang").asc())
    top = (tl.withColumn("_rk", F.row_number().over(w))
           .where(F.col("_rk") == 1)
           .select("tile_x", "tile_y", F.col("lang").alias("top_lang")))
    ent = (tl.withColumn(
        "_tot", F.sum("_n").over(Window.partitionBy("tile_x", "tile_y")))
        .withColumn("_p", F.col("_n").cast("double") / F.col("_tot"))
        .groupBy("tile_x", "tile_y").agg(
            F.sum("_n").alias("n_docs"),
            F.count("*").alias("n_langs"),
            F.round(-F.sum(F.col("_p") * F.log2("_p")) + F.lit(0.0), 4)
            .alias("lang_entropy_bits")))
    return (ent.join(top, ["tile_x", "tile_y"])
            .select("tile_x", "tile_y", "n_docs", "n_langs",
                    "top_lang", "lang_entropy_bits"))


# ===================================================== as-of join

_ASOF_SQL = """
WITH probes AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), builds AS (
  SELECT user_id, ts, MAX(value) AS value FROM events
  WHERE event_type = 'signup' GROUP BY user_id, ts
)
SELECT p.user_id, p.event_id, p.ts, b.ts AS asof_ts, b.value AS asof_value
FROM probes p ASOF LEFT JOIN builds b
  ON p.user_id = b.user_id AND p.ts >= b.ts
"""


@q("asof_join_events", _ASOF_SQL)
def asof_join_events(spark, sf_dir):
    """Backward as-of join (operators/temporal.py asof_join): every
    purchase event picks the user's most recent at-or-before signup.
    The engine's union + last-ignorenulls window construction is
    checked against DuckDB's NATIVE ASOF LEFT JOIN operator — two
    independent implementations of the semantics."""
    from sparktiles.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    probes = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    builds = ev.where(F.col("event_type") == "signup").select(
        "user_id", "ts", "value")
    return asof_join(probes, builds)


# ===================================== model-based quality filter

_SW_LIST = "['the','a','of','and','to','in','is','on','for','with']"

_CLASSIFIER_SQL = f"""
WITH f AS (
  SELECT doc_id,
    ROUND(CAST(len(list_filter(string_split(text, ' '),
        x -> list_contains({_SW_LIST}, x))) AS DOUBLE)
      / len(string_split(text, ' ')), 4) AS stopword_ratio,
    ROUND(CAST(length(regexp_replace(text, '[^\\.,;:!?]', '', 'g'))
        AS DOUBLE) / length(text), 4) AS punct_ratio,
    ROUND(CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
        AS DOUBLE) / length(text), 4) AS digit_ratio,
    ROUND(CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
        AS DOUBLE) / length(text), 4) AS upper_ratio,
    ROUND(CAST(length(text) AS DOUBLE)
      / len(string_split(text, ' ')) / 10.0, 4) AS tok_len_scaled
  FROM documents
)
SELECT doc_id, stopword_ratio, punct_ratio, digit_ratio, upper_ratio,
       tok_len_scaled,
       ROUND(CAST(0.755 AS DOUBLE) * 1.0
           + CAST(4.4772 AS DOUBLE) * stopword_ratio
           + CAST(0.0 AS DOUBLE) * punct_ratio
           + CAST(0.0 AS DOUBLE) * digit_ratio
           + CAST(0.0 AS DOUBLE) * upper_ratio
           + CAST(-1.8182 AS DOUBLE) * tok_len_scaled, 4) AS lr_logit,
       (ROUND(CAST(0.755 AS DOUBLE) * 1.0
           + CAST(4.4772 AS DOUBLE) * stopword_ratio
           + CAST(0.0 AS DOUBLE) * punct_ratio
           + CAST(0.0 AS DOUBLE) * digit_ratio
           + CAST(0.0 AS DOUBLE) * upper_ratio
           + CAST(-1.8182 AS DOUBLE) * tok_len_scaled, 4)
         > CAST(0.0 AS DOUBLE)) AS lr_keep
FROM f
"""


@q("quality_classifier_scores", _CLASSIFIER_SQL)
def quality_classifier_scores(spark, sf_dir):
    """Model-based quality filter, serving side (operators/classify.py
    lr_score with the frozen DEFAULT_WEIGHTS): five map-side quality
    signals, a left-associated w.x logit, and the keep flag. All
    integer-ratio arithmetic rounded to 4 dp before the dot product,
    so DuckDB reproduces every double bit-for-bit."""
    from sparktiles.operators.classify import quality_classifier

    d = _t(spark, sf_dir, "documents")
    return quality_classifier(d).select(
        "doc_id", "stopword_ratio", "punct_ratio", "digit_ratio",
        "upper_ratio", "tok_len_scaled", "lr_logit", "lr_keep")


@q("quality_lr_train_weights")
def quality_lr_train_weights(spark, sf_dir):
    """Model-based quality filter, training side (rows-only check —
    iterative gradient descent is not SQL-expressible): distill the
    stopword/token-length band gate into linear weights. 40 full-batch
    iterations, each ONE map-side-combined aggregate job over a
    localCheckpointed 6-double/row frame. Returns (feature, weight)
    rows, weights rounded to 2 dp (partition-order float-sum noise
    sits far below that)."""
    from sparktiles.operators.classify import (
        FEATURE_COLS, lr_train, quality_features)

    d = _t(spark, sf_dir, "documents")
    feat = quality_features(d).withColumn(
        "_lbl",
        ((F.col("stopword_ratio") > 0.05)
         & (F.col("tok_len_scaled") < 0.56)).cast("int"))
    w = lr_train(feat, "_lbl", iters=40, lr=2.0)
    names = ["bias"] + list(FEATURE_COLS)
    return spark.createDataFrame(
        [(n, float(round(v, 2))) for n, v in zip(names, w)],
        "feature string, weight double")


# ================================================ Bloom incremental dedup

_BLOOM_SQL = """
WITH standing AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0
), batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM standing WHERE doc_id % 10 = 1
), seeds AS (
  SELECT UNNEST([0, 1, 2, 3]) AS i
), bits AS (
  SELECT DISTINCT
    ('0x' || substr(md5(CAST(i AS VARCHAR) || text), 1, 15))::BIGINT
      % 32768 AS pos
  FROM standing, seeds
), miss AS (
  SELECT DISTINCT doc_id
  FROM batch, seeds
  WHERE ('0x' || substr(md5(CAST(i AS VARCHAR) || text), 1, 15))::BIGINT
          % 32768
        NOT IN (SELECT pos FROM bits)
), sh AS (
  SELECT DISTINCT md5(text) AS h FROM standing
)
SELECT b.doc_id,
       (m.doc_id IS NULL) AS maybe_dup,
       ((m.doc_id IS NULL) AND (s.h IS NOT NULL)) AS is_dup
FROM batch b
LEFT JOIN miss m ON b.doc_id = m.doc_id
LEFT JOIN sh s ON md5(b.text) = s.h
"""


@q("bloom_dedup_incremental", _BLOOM_SQL)
def bloom_dedup_incremental_q(spark, sf_dir):
    """Bloom-filter incremental dedup (operators/sketch.py): a fresh
    crawl batch checked against the STANDING corpus's fixed-size bit
    sketch — map-only Arrow probe over the batch, exact md5 rescue
    join over flagged docs only. Standing = docs with doc_id%4!=0;
    batch = the doc_id%4==0 docs plus re-id'd replicas of every
    standing doc with doc_id%10==1 (the true dups the sketch must
    catch — Bloom guarantees zero false negatives, asserted in
    tests/test_sketch.py). m=32768 bits, k=4 seeded-md5 hashes via
    the repo's md5-integer idiom, so DuckDB reproduces every bit
    position and therefore every flag."""
    from sparktiles.operators.sketch import bloom_dedup_incremental

    d = _t(spark, sf_dir, "documents")
    standing = d.where(F.col("doc_id") % 4 != 0).select("doc_id", "text")
    replicas = standing.where(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    batch = (d.where(F.col("doc_id") % 4 == 0).select("doc_id", "text")
             .unionAll(replicas))
    return bloom_dedup_incremental(standing, batch, m_bits=32768, k=4)
