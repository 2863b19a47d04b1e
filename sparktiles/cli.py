"""CLI entry points — `spark-submit --py-files sparktiles.zip -m` style.

Subcommands mirror the reference's bin/ tools:
  build-tiles   bin/generate-tiles  (pyramid build with MID_ZOOM impute)
  layer-stats   bin/layer-stats     (frequency/variance/toplength)
  debug-tile    bin/debug-mvt       (decode + summarize one tile)
  copy-tiles    mbtile_tools.TileCopier
  metadata      mbtile_tools.Metadata generate

usage examples:
  spark-submit --py-files sparktiles.zip -m sparktiles.cli build-tiles \
      --pages /data/pages --store /data/tiles --minzoom 0 --maxzoom 14 \
      --mid-zoom 8 --gzip 6
  python -m sparktiles.cli debug-tile --store /data/tiles --z 5 --x 17 --y 11
"""

from __future__ import annotations

import argparse
import json
import sys


def cmd_build_tiles(args):
    from pyspark.sql import functions as F

    from sparktiles.session import get_spark
    from sparktiles.plans.config import FieldDef, LayerDef, TilesetDef
    from sparktiles.plans.pipeline import (
        BuildConfig, TileBuild, make_point_layer_frames)
    from sparktiles.sources.geoparse import build_features
    from sparktiles.sources.pages import generate_pages

    spark = get_spark("sparktiles-build", cpus=args.cpus)
    if args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        pages = generate_pages(spark, args.synthetic_pages)
    feats = build_features(pages)
    if args.tileset:
        # bin/generate-tiles contract: the tileset YAML drives layers,
        # zoom range and languages; CLI flags override zooms if given
        tileset = TilesetDef.from_yaml(args.tileset)
        minzoom = args.minzoom if args.minzoom is not None else tileset.minzoom
        maxzoom = args.maxzoom if args.maxzoom is not None else tileset.maxzoom
    else:
        minzoom = args.minzoom if args.minzoom is not None else 0
        maxzoom = args.maxzoom if args.maxzoom is not None else 14
        tileset = TilesetDef(
            name=args.name,
            layers=[LayerDef(id="place", fields=[FieldDef("name")],
                             buffer_size=args.buffer)],
            minzoom=minzoom, maxzoom=maxzoom,
        )
    frames = make_point_layer_frames(feats, tileset)
    if args.with_lines:
        from sparktiles.operators.mvt import LayerSpec
        from sparktiles.sources.lines import generate_lines

        lines = generate_lines(spark, n=args.with_lines).withColumnRenamed(
            "line_id", "feature_id")
        frames.append((LayerSpec(
            layer_id="transportation", index=len(frames),
            attr_fields={"class": "string", "name": "string"},
            key_field="feature_id", buffer_px=4, geometry_kind="wkb"),
            lines))
    if args.with_polygons:
        from sparktiles.operators.mvt import LayerSpec
        from sparktiles.sources.polygons import generate_polygons

        polys = generate_polygons(spark, n_grid=args.with_polygons) \
            .withColumnRenamed("poly_id", "feature_id")
        frames.append((LayerSpec(
            layer_id="boundary", index=len(frames),
            attr_fields={"admin_class": "string", "name": "string"},
            key_field="feature_id", buffer_px=4, geometry_kind="wkb"),
            polys))
    cfg = BuildConfig(
        store_dir=args.store, minzoom=minzoom, maxzoom=maxzoom,
        mid_zoom=args.mid_zoom,
        gzip_level=args.gzip if args.gzip >= 0 else None,
    )
    build = TileBuild(spark, frames, cfg)
    summary = build.build_fast()
    print(json.dumps(summary))


def cmd_layer_stats(args):
    from sparktiles.session import get_spark
    from sparktiles.operators.stats import tile_summary, zoom_range_stats

    spark = get_spark("sparktiles-stats", cpus=args.cpus)
    from sparktiles.plans.pipeline import BuildConfig, TileBuild

    b = TileBuild(spark, [], BuildConfig(store_dir=args.store))
    zoom_range_stats(b.read_tile_map()).show(100, truncate=False)
    tile_summary(b.read_tile_images()).groupBy("layer").sum().show(truncate=False)


def cmd_debug_tile(args):
    from pyspark.sql import functions as F

    from sparktiles.functions import mvtcodec as C
    from sparktiles.session import get_spark
    from sparktiles.plans.pipeline import BuildConfig, TileBuild

    spark = get_spark("sparktiles-debug", cpus=args.cpus)
    b = TileBuild(spark, [], BuildConfig(store_dir=args.store))
    row = (
        b.read_tile_map()
        .where((F.col("zoom_level") == args.z) & (F.col("tile_column") == args.x)
               & (F.col("tile_row") == args.y))
        .join(b.read_tile_images(), "tile_id")
        .first()
    )
    if row is None:
        print("tile not found", file=sys.stderr)
        sys.exit(1)
    layers = C.decode_tile(bytes(row.tile_data))
    print(f"tile {args.z}/{args.x}/{args.y} id={row.tile_id} "
          f"bytes={len(bytes(row.tile_data))}")
    for name, lyr in layers.items():
        print(f"  layer {name}: extent={lyr['extent']} "
              f"features={len(lyr['features'])}")
        for f in lyr["features"][: args.limit]:
            print(f"    id={f['id']} type={f['type']} attrs={f['attrs']}")


def cmd_copy_tiles(args):
    from sparktiles.session import get_spark
    from sparktiles.plans.pipeline import BuildConfig, TileBuild
    from sparktiles.sources.tilestore import copy_tiles

    spark = get_spark("sparktiles-copy", cpus=args.cpus)
    b = TileBuild(spark, [], BuildConfig(store_dir=args.store))
    filters = {}
    if args.zooms:
        filters["zooms"] = [int(z) for z in args.zooms.split(",")]
    if args.bbox:
        filters["bbox_lonlat"] = tuple(float(v) for v in args.bbox.split(","))
    out = copy_tiles(
        b.read_tile_map(), b.read_tile_images(),
        f"{args.dest}/tile_map", f"{args.dest}/tile_images", **filters)
    print(json.dumps(out))


def cmd_serve(args):
    from sparktiles.serve import main as serve_main

    argv = ["--store", args.store, "--host", args.host, "--port", str(args.port)]
    if args.verbose:
        argv.append("--verbose")
    serve_main(argv)


def main(argv=None):
    p = argparse.ArgumentParser(prog="sparktiles")
    p.add_argument("--cpus", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build-tiles")
    b.add_argument("--pages", default=None)
    b.add_argument("--synthetic-pages", type=int, default=100_000)
    b.add_argument("--store", required=True)
    b.add_argument("--name", default="sparktiles")
    b.add_argument("--tileset", default=None,
                   help="tileset YAML (reference testmaptiles.yaml layout)")
    b.add_argument("--minzoom", type=int, default=None)
    b.add_argument("--maxzoom", type=int, default=None)
    b.add_argument("--mid-zoom", type=int, default=8)
    b.add_argument("--buffer", type=int, default=8)
    b.add_argument("--gzip", type=int, default=-1)
    b.add_argument("--with-lines", type=int, default=0, metavar="N",
                   help="add a WKB transportation layer with N synthetic "
                        "polylines (supercover assignment + vecmvt encode)")
    b.add_argument("--with-polygons", type=int, default=0, metavar="N",
                   help="add a WKB boundary layer with an NxN synthetic "
                        "polygon grid")
    b.set_defaults(fn=cmd_build_tiles)

    s = sub.add_parser("layer-stats")
    s.add_argument("--store", required=True)
    s.set_defaults(fn=cmd_layer_stats)

    d = sub.add_parser("debug-tile")
    d.add_argument("--store", required=True)
    d.add_argument("--z", type=int, required=True)
    d.add_argument("--x", type=int, required=True)
    d.add_argument("--y", type=int, required=True)
    d.add_argument("--limit", type=int, default=10)
    d.set_defaults(fn=cmd_debug_tile)

    c = sub.add_parser("copy-tiles")
    c.add_argument("--store", required=True)
    c.add_argument("--dest", required=True)
    c.add_argument("--zooms", default=None)
    c.add_argument("--bbox", default=None)
    c.set_defaults(fn=cmd_copy_tiles)

    v = sub.add_parser("serve", help="HTTP tile reader over a built store")
    v.add_argument("--store", required=True)
    v.add_argument("--host", default="127.0.0.1")
    v.add_argument("--port", type=int, default=8090)
    v.add_argument("--verbose", action="store_true")
    v.set_defaults(fn=cmd_serve)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
