"""Seeded benchmark inputs.

The plans (which places a changefeed touches, which tiles a client asks
for) are pure Python and depend only on the seed, so they are tested
without Spark. ``apply_changefeed`` turns a plan into snapshot 2 of the
page corpus with Catalyst expressions only.
"""

from __future__ import annotations

import random

# one region of clustered places: the K places nearest a seeded centre
REGION_PLACES = 48
ADDED_PAGES = 40
# shares of the touched pages (by url hash, out of 10) that the
# changefeed removes or updates; the rest stay unchanged
REMOVE_BELOW, UPDATE_BELOW = 3, 8


def place_lonlat(pid: int) -> tuple[float, float]:
    """Python twin of sources.pages.place_lon_expr / place_lat_expr."""
    p = float(pid)
    lon = ((p * 37.0 + p * p * 0.001) % 352.0) - 176.0 + 0.1234567
    lat = ((p * 13.0 + p * p * 0.0007) % 142.0) - 71.0 + 0.0891011
    return lon, lat


def mention(pid: int) -> str:
    lon, lat = place_lonlat(pid)
    return "Name_%d (%.5f; %.5f)" % (pid, lat, lon)


def changefeed_plan(seed: int, n_places: int) -> dict:
    """Region = the REGION_PLACES places nearest a seeded centre (the hot
    city, place 0, is never in it), plus the added pages' mentions."""
    rng = random.Random(seed * 7919 + 1)
    clon, clat = rng.uniform(-150.0, 150.0), rng.uniform(-60.0, 60.0)
    near = sorted(
        range(1, n_places),
        key=lambda p: (place_lonlat(p)[0] - clon) ** 2
        + (place_lonlat(p)[1] - clat) ** 2)
    region = sorted(near[:REGION_PLACES])
    added = [[region[rng.randrange(len(region))]
              for _ in range(rng.randint(1, 3))] for _ in range(ADDED_PAGES)]
    return {"seed": seed, "center": (clon, clat), "region": region,
            "added": added}


def request_plan(seed: int, maxzoom: int, n: int) -> list[tuple]:
    """n requests (kind, z, x, y). kind: 'get' (expect 200), 'reval'
    (GET, then the same GET with If-None-Match: expect 200 then 304),
    'off' (one zoom past the store: expect 204)."""
    rng = random.Random(seed * 104729 + 2)
    out = []
    for _ in range(n):
        r = rng.random()
        kind = "get" if r < 0.6 else ("reval" if r < 0.9 else "off")
        z = maxzoom + 1 if kind == "off" else rng.randint(0, maxzoom)
        out.append((kind, z, rng.randrange(1 << z), rng.randrange(1 << z)))
    return out


def apply_changefeed(spark, pages, plan: dict):
    """Snapshot 2: pages mentioning a region place are removed, updated
    (one more region mention appended) or kept, by url hash; then the
    plan's added pages are appended."""
    from pyspark.sql import functions as F

    region = plan["region"]
    seed = plan["seed"]
    pids = F.transform(
        F.regexp_extract_all("text", F.lit(r"Name_(\d+) \("), F.lit(1)),
        lambda s: s.cast("long"))
    touched = F.arrays_overlap(pids, F.array(*[F.lit(p) for p in region]))
    h = F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(10))
    extra = F.element_at(
        F.array(*[F.lit(" near " + mention(p)) for p in region]),
        (F.pmod(F.xxhash64("url"), F.lit(len(region))) + 1).cast("int"))
    kept = pages.where(~touched | (h >= REMOVE_BELOW))
    text = F.when(touched & (h < UPDATE_BELOW),
                  F.concat("text", extra)).otherwise(F.col("text"))
    snap = kept.withColumn("text", text).withColumn(
        "html", F.encode(F.format_string(
            "<html><body>%s</body></html>", F.col("text")), "utf-8"))
    rows = [(f"https://example.org/{seed}/added/{i}",
             f"page added {i} near " + " near ".join(mention(p) for p in ps))
            for i, ps in enumerate(plan["added"])]
    added = spark.createDataFrame(rows, "url string, text string").select(
        "url",
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(F.format_string("<html><body>%s</body></html>",
                                 F.col("text")), "utf-8").alias("html"),
        "text",
        F.lit("en").alias("lang"))
    return snap.select(*added.columns).unionByName(added)
