"""Geoparse: pages (url, warc_ts, html, text, lang) -> point features.

The reference's front-end is an imposm3 import of OSM PBF into typed
feature tables (reference bin/import-osm:21-53, openmaptiles/imposm.py);
our corpus is web pages (BASELINE.json input_hint), so the import stage
becomes a vectorized text geoparse: regex extraction of
`Name_<id> (lat; lon)` place mentions into the features_point shape of
FIXTURES.md §2 (modeled on the imposm point-table mapping
tests/testlayers/housenumber/mapping.yaml:8-27).

Extraction is pure JVM column math: regexp_extract_all pulls every
mention, posexplode numbers them, regexp_extract splits the groups —
the whole import stage stays inside whole-stage codegen (no Python
workers, no Arrow transfer). Downstream enrichment (feature_id hash,
mercator coords, tags, enum class) is pure column math too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparktiles.functions.tilemath import mercator_x_expr, mercator_y_expr

_MENTION_RE_J = r"Name_(\d+) \((-?\d+\.\d{5}); (-?\d+\.\d{5})\)"


def extract_mentions(pages: DataFrame) -> DataFrame:
    """pages -> one row per place mention. All JVM: regexp_extract_all
    (every match) -> posexplode (mention_idx) -> regexp_extract
    (groups), with the import stage inside whole-stage codegen."""
    p = F.lit(_MENTION_RE_J)
    ms = F.regexp_extract_all(F.col("text"), p, F.lit(0))
    exploded = pages.select(
        "url", "lang", F.posexplode(ms).alias("mention_idx", "_m")
    )
    pid = F.regexp_extract("_m", _MENTION_RE_J, 1).cast("long")
    return exploded.select(
        "url",
        "lang",
        F.col("mention_idx").cast("int").alias("mention_idx"),
        pid.alias("place_id"),
        F.regexp_extract("_m", _MENTION_RE_J, 2).cast("double").alias("lat"),
        F.regexp_extract("_m", _MENTION_RE_J, 3).cast("double").alias("lon"),
        F.concat(F.lit("Name_"), pid.cast("string")).alias("name"),
    )


CLASS_SRC = ["city", "town", "village", "hamlet", "university", "farm_aux"]
ELE_FORMATS_NOTE = "dirty numeric corpus for CleanNumeric (FIXTURES.md §2)"


def build_features(pages: DataFrame) -> DataFrame:
    """Full geoparse stage: mentions + deterministic enrichment ->
    features_point(feature_id, url, lon, lat, x, y, name, class_src,
    tags, ele, rank_src). feature_id = xxhash64(url, mention_idx)
    (FIXTURES.md §2: deterministic hash(url, mention_idx))."""
    from sparktiles.operators.spread import spread

    # spread(): a few-MB local page corpus plans as 1-2 scan splits,
    # serializing the regex extraction AND pinning every downstream
    # cached-feature consumer (spatial join, tile assign fan-out) to
    # the same 2 partitions; no-op when the scan already has >= cores
    # splits (cluster scale).
    m = extract_mentions(spread(pages, min_bytes=1 << 17))
    pid = F.col("place_id")

    # dirty elevation strings exercising CleanNumeric branches
    ele = (
        F.when(pid % 11 == 0, F.lit("."))
        .when(pid % 7 == 0, F.format_string(" %d.25 ", pid % 9000))
        .when(pid % 5 == 0, F.format_string("%d.5e1", pid % 500))
        .when(pid % 3 == 0, F.format_string("a%d", pid))
        .otherwise(F.format_string("%d", pid % 9000))
    )
    # localized names; some intentionally empty (delete_empty_keys corpus)
    tags = F.map_filter(
        F.create_map(
            F.lit("name"), F.col("name"),
            F.lit("name:en"), F.when(pid % 2 == 0, F.concat(F.lit("EN "), F.col("name"))).otherwise(F.lit("")),
            F.lit("name:de"), F.when(pid % 3 == 0, F.concat(F.lit("DE "), F.col("name"))).otherwise(F.lit("")),
            F.lit("name:cs"), F.when(pid % 5 == 0, F.concat(F.lit("CS "), F.col("name"))).otherwise(F.lit("")),
            F.lit("wikidata"), F.when(pid % 4 == 0, F.format_string("Q%d", pid + 1)).otherwise(F.lit("")),
        ),
        lambda k, v: v.isNotNull(),
    )
    return m.select(
        F.xxhash64("url", "mention_idx").alias("feature_id"),
        "url",
        "lon",
        "lat",
        mercator_x_expr(F.col("lon")).alias("px"),
        mercator_y_expr(F.col("lat")).alias("py"),
        "name",
        F.element_at(
            F.array(*[F.lit(c) for c in CLASS_SRC]), (pid % len(CLASS_SRC) + 1).cast("int")
        ).alias("class_src"),
        tags.alias("tags"),
        ele.alias("ele"),
        (pid % 100).cast("int").alias("rank_src"),
        "lang",
    )
