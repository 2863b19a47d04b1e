"""The benchmark's workloads.

Each workload has the same shape, driven by run.py:

- ``setup(b)``: makes the seeded inputs under the work directory; run
  several times and timed (``setup_s``).
- ``warmup(b)``: one untimed pass over the same code paths, because a
  first Spark run is 1.5-8x slower than the next on a 4-vCPU VM.
- ``op(b, traced)``: one timed operation; returns its wall seconds.
  With ``traced`` the operation is split into the public calls of each
  layer, each inside a span tagged with the layer's job group.
- ``check(b)``: output checks, counted in ``attempted`` / ``failed``.

Nothing under sparktiles/ is changed or monkey-patched; every layer is
reached through its public functions.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import os
import random
import shutil
import threading
import time

from harness import digest_rows, percentile, summarize
from inputs import apply_changefeed, changefeed_plan, request_plan

HERE = os.path.dirname(os.path.abspath(__file__))
GZIP = 6
MAP_FIELDS = ["zoom_level", "tile_column", "tile_row", "tile_id"]
MB = float(1 << 20)


def universe(maxz: int) -> int:
    return sum(4 ** z for z in range(maxz + 1))


def _now() -> float:
    return time.perf_counter()


def recorded(key: str):
    with open(os.path.join(HERE, "data", "expected.json")) as f:
        return json.load(f).get(key, {})


# ------------------------------------------------------------ store reads

def _duck(sql: str):
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def store_map(store: str) -> list[tuple]:
    """All (z, x, y, tile_id) rows of a store's tile_map."""
    return _duck(f"SELECT zoom_level, tile_column, tile_row, tile_id FROM "
                 f"parquet_scan('{store}/tile_map/**/*.parquet', "
                 f"hive_partitioning=1)")


def store_blobs(store: str, tile_ids) -> dict:
    """tile_id -> blob for the given ids, from every tile_images dir."""
    ids = ", ".join(f"'{t}'" for t in tile_ids)
    rows = _duck(f"SELECT DISTINCT tile_id, tile_data FROM parquet_scan("
                 f"'{store}/tile_images/**/*.parquet', hive_partitioning=0) "
                 f"WHERE tile_id IN ({ids})")
    return {t: bytes(blob) for t, blob in rows}


def dir_mb(path: str) -> tuple[float, int]:
    """(MB on disk, number of data files) under path."""
    size, files = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += not n.startswith((".", "_"))
    return size / MB, files


def map_digest(rows) -> str:
    return digest_rows(MAP_FIELDS, rows)["sha"]


def empty_tile_id() -> str:
    from sparktiles.plans.pipeline import empty_tile_blob

    return hashlib.md5(empty_tile_blob(GZIP)).hexdigest()


# ------------------------------------------------------------ tile builds

class TileBuilder:
    """One tile build: build_fast untraced; traced, phase 1 runs as its
    public equivalent (layer frames -> assemble -> tiles_all) and phase
    2 as build_fast resumed on that tiles_all."""

    maxzoom = 6
    mid_zoom = 4
    # role -> span name
    spans: dict = {}
    caps: dict = {}

    def config(self, store, maxzoom=None):
        from sparktiles.plans.pipeline import BuildConfig

        mz = self.maxzoom if maxzoom is None else maxzoom
        return BuildConfig(store_dir=store, minzoom=0, maxzoom=mz,
                           mid_zoom=min(self.mid_zoom, mz), gzip_level=GZIP)

    def features(self, b, pages="pages1"):
        from sparktiles.sources.geoparse import build_features

        return build_features(b.spark.read.parquet(b.path(pages)))

    def build(self, b, store, traced=False, maxzoom=None) -> dict:
        from sparktiles.plans.pipeline import TileBuild

        shutil.rmtree(store, ignore_errors=True)
        cfg = self.config(store, maxzoom)
        t0 = _now()
        if traced:
            T, s = b.tracer, self.spans
            with T.span(s["build"], "pipeline"):
                with T.span(s["phase1"], "pipeline"):
                    frames = self.phase1(b, store)
                with T.span(s["phase2"], "pipeline"):
                    out = TileBuild(b.spark, frames, cfg).build_fast()
        else:
            out = TileBuild(b.spark, self.frames(b), cfg).build_fast()
        out["wall"], out["store"] = _now() - t0, store
        return out

    def geoparse(self, b):
        with b.tracer.span(self.spans["geoparse"], "geoparse"):
            feats = self.features(b).cache()
            n = feats.count()
        return feats, n

    def store_metrics(self, b, out, untraced_wall, prefix, cover_key):
        """Per-layer metrics of a finished traced build; returns (data
        files written, MB of tile blobs)."""
        from pyspark.sql import functions as F

        L, store = b.layer, out["store"]
        own = b.tracer.self_times(root=self.spans["build"])
        L[cover_key] = sum(v for k, v in own.items()
                           if k != self.spans["build"]) / untraced_wall
        L[f"{prefix}.tiles_per_s"] = out["tiles"] / untraced_wall
        L[f"{prefix}.store_mb"], files = dir_mb(store)
        blob = b.spark.read.parquet(f"{store}/tiles_all").agg(
            F.sum(F.length("mvt"))).first()[0]
        return files, (blob or 0) / MB

    def check_build(self, b, out) -> str:
        rows = store_map(out["store"])
        n = universe(self.maxzoom)
        b.check(out["tiles"] == n, f"map rows {out['tiles']} != universe {n}")
        b.check(len(rows) == n and len({r[:3] for r in rows}) == n,
                f"{out['store']}: not one map row per tile")
        self.check_tiles(b, out["store"], rows)
        return map_digest(rows)

    def check_tiles(self, b, store, rows, n=40):
        """A seeded sample of non-empty tiles decodes, with the expected
        layer names and 1..cap features per layer."""
        from sparktiles.functions.mvtcodec import decode_tile

        empty = empty_tile_id()
        ids = sorted({r[3] for r in rows if r[3] != empty})
        sample = random.Random(b.seed).sample(ids, min(n, len(ids)))
        blobs = store_blobs(store, sample)
        b.check(len(sample) > 0, f"{store}: no non-empty tiles")
        for tid in sample:
            blob = blobs.get(tid)
            ok = blob is not None and blob[:2] == b"\x1f\x8b"
            if ok:
                layers = decode_tile(blob)
                ok = bool(layers) and set(layers) <= set(self.caps) and all(
                    1 <= len(v["features"]) <= self.caps[k]
                    for k, v in layers.items())
            b.check(ok, f"tile {tid}: decode or cap check failed")


class PointBuild(TileBuilder):
    """One point layer (name, buffer 8, cap 512): the JVM fan-out, the
    zxy exchange, the tiles_all write and the phase-2 impute walk."""

    buffer_px = 8
    caps = {"place": 512}
    spans = {"build": "build", "phase1": "pipeline.phase1",
             "phase2": "pipeline.phase2", "geoparse": "geoparse"}

    def spec(self):
        from sparktiles.operators.mvt import LayerSpec

        return LayerSpec(layer_id="place", index=0,
                         attr_fields={"name": "string"},
                         buffer_px=self.buffer_px,
                         max_features_per_tile=self.caps["place"])

    def frames(self, b, pages="pages1"):
        return [(self.spec(), self.features(b, pages))]

    def phase1(self, b, store):
        from sparktiles.operators.mvt import encode_and_assemble_single
        from sparktiles.operators.pyramid import assign_point_tiles_multi

        T, L, spec = b.tracer, b.layer, self.spec()
        feats, L["geoparse.features"] = self.geoparse(b)
        with T.span("pyramid.assign", "pyramid"):
            assigned = assign_point_tiles_multi(
                feats, 0, self.maxzoom, buffer_px=spec.buffer_px).cache()
            L["pyramid.candidate_rows"] = assigned.count()
        with T.span("mvt.assemble", "mvt"):
            encode_and_assemble_single(assigned, spec, GZIP).write.mode(
                "overwrite").partitionBy("z").parquet(f"{store}/tiles_all")
        self._cached = (feats, assigned)
        return [(spec, feats)]

    def layer_metrics(self, b, out, untraced_wall):
        from pyspark.sql import functions as F

        L = b.layer
        files, L["mvt.blob_mb"] = self.store_metrics(
            b, out, untraced_wall, "pipeline", "trace.self_cover_frac")
        L["pipeline.files_written"] = files
        rows = store_map(out["store"])
        L["pipeline.dedup_ratio"] = len({r[3] for r in rows}) / len(rows)
        L["pyramid.rows_per_feature"] = (
            L["pyramid.candidate_rows"] / L["geoparse.features"])
        feats, assigned = self._cached
        a = assigned.groupBy("z", "x", "y").count().agg(
            F.sum(F.least("count", F.lit(self.caps["place"]))).alias("kept"),
            F.sum("count").alias("cand")).first()
        L["mvt.cap_keep_frac"] = a["kept"] / a["cand"]
        assigned.unpersist()
        feats.unpersist()


class Wkb3Build(TileBuilder):
    """Place points + seeded lines + seeded polygons; the WKB layers
    carry 8 declared attributes; caps 1024/512/256. Map-side Python
    dominates: WKB decode, supercover cover, clip, attribute
    conversion and the multi-layer assemble."""

    n_lines = 4000
    n_grid = 24
    caps = {"place": 1024, "transportation": 512, "boundary": 256}
    wkb_attrs = {"class": "string", "name": "string", "pop": "number",
                 "layer_n": "number", "oneway": "bool", "ref": "string",
                 "ele_n": "number", "network": "string"}
    spans = {"build": "wkb3.build", "phase1": "wkb3.phase1",
             "phase2": "wkb3.phase2", "geoparse": "wkb3.geoparse"}

    def setup(self, b):
        from sparktiles.sources.lines import generate_lines
        from sparktiles.sources.polygons import generate_polygons

        generate_lines(b.spark, n=self.n_lines, seed=b.seed).write.mode(
            "overwrite").parquet(b.path("lines"))
        generate_polygons(b.spark, n_grid=self.n_grid, seed=b.seed).write.mode(
            "overwrite").parquet(b.path("polys"))

    @staticmethod
    def _wkb8(df):
        from pyspark.sql import functions as F

        fid = F.col("feature_id")
        return df.select(
            "feature_id", "geom", "class", "name",
            ((fid % 100000) / 7.0).alias("pop"),
            (fid % 5).cast("int").alias("layer_n"),
            (fid % 2 == 0).alias("oneway"),
            F.format_string("R%d", fid % 53).alias("ref"),
            (fid % 900).cast("double").alias("ele_n"),
            F.format_string("net%d", fid % 7).alias("network"))

    def frames(self, b, feats=None):
        from sparktiles.operators.mvt import LayerSpec

        sp, c = b.spark, self.caps
        feats = self.features(b) if feats is None else feats
        lines = sp.read.parquet(b.path("lines")).withColumnRenamed(
            "line_id", "feature_id")
        polys = (sp.read.parquet(b.path("polys"))
                 .withColumnRenamed("poly_id", "feature_id")
                 .withColumnRenamed("admin_class", "class"))

        def wkb_spec(name, index):
            return LayerSpec(layer_id=name, index=index,
                             attr_fields=self.wkb_attrs, buffer_px=4,
                             geometry_kind="wkb", max_features_per_tile=c[name])

        return [
            (LayerSpec(layer_id="place", index=0, attr_fields={"name": "string"},
                       buffer_px=8, max_features_per_tile=c["place"]), feats),
            (wkb_spec("transportation", 1), self._wkb8(lines)),
            (wkb_spec("boundary", 2), self._wkb8(polys)),
        ]

    def phase1(self, b, store):
        from sparktiles.operators.mvt import assemble_normalized, normalize_layer_df

        T = b.tracer
        feats, _ = self.geoparse(b)
        frames = self.frames(b, feats)
        n_vals = max(len(s.attr_fields) for s, _ in frames)
        with T.span("mvt.normalize", "mvt"):
            norm = None
            for spec, df in frames:
                nf = normalize_layer_df(df, spec, zoom_range=(0, self.maxzoom),
                                        n_vals=n_vals)
                norm = nf if norm is None else norm.unionByName(nf)
            norm = norm.cache()
            norm.count()
        with T.span("wkb3.assemble", "mvt"):
            assemble_normalized(norm, [s for s, _ in frames], GZIP).write.mode(
                "overwrite").partitionBy("z").parquet(f"{store}/tiles_all")
        self._cached = (feats, norm, frames)
        return frames

    def layer_metrics(self, b, out, untraced_wall):
        """Store metrics plus probes outside the build: the supercover
        cover of the WKB layers and the vecmvt kernel on a sample."""
        import numpy as np
        from pyspark.sql import functions as F

        from sparktiles.functions.vecmvt import wkb_row_fields_vec
        from sparktiles.operators.pyramid import assign_supercover_tiles_multi

        T, L = b.tracer, b.layer
        _, L["wkb3.blob_mb"] = self.store_metrics(
            b, out, untraced_wall, "wkb3", "trace.wkb3_self_cover_frac")
        feats, norm, frames = self._cached
        cap = F.element_at(F.array(*[F.lit(s.max_features_per_tile)
                                     for s, _ in frames]),
                           (F.col("_li") + 1).cast("int"))
        a = norm.groupBy("zxy", "_li").count().agg(
            F.sum(F.least("count", cap)).alias("kept"),
            F.sum("count").alias("cand")).first()
        L["wkb3.cap_keep_frac"] = a["kept"] / a["cand"]
        norm.unpersist()
        feats.unpersist()
        wkb = frames[1][1].select("feature_id", "geom").unionByName(
            frames[2][1].select("feature_id", "geom"))
        with T.span("pyramid.supercover", "pyramid"):
            cover = assign_supercover_tiles_multi(
                wkb, 0, self.maxzoom, buffer_px=4).cache()
            L["pyramid.supercover_rows"] = cover.count()
        sample = (cover.orderBy(F.xxhash64("feature_id", "z", "x", "y",
                                           F.lit(b.seed)))
                  .limit(4000).collect())
        cover.unpersist()
        blobs = np.empty(len(sample), dtype=object)
        blobs[:] = [bytes(r.geom) for r in sample]
        z, x, y = (np.array([r[c] for r in sample], dtype=np.int64)
                   for c in ("z", "x", "y"))
        reps, t0 = 0, _now()
        while reps < 3 or _now() - t0 < 0.5:
            wkb_row_fields_vec(blobs, z, x, y, 4096, 64)
            reps += 1
        L["vecmvt.rows_per_s"] = reps * len(sample) / (_now() - t0)


# --------------------------------------------------- incremental + serving

class Retile:
    """A seeded, spatially clustered changefeed through
    run_incremental_retile into the point store; the merged map and the
    new images are written back to the store."""

    def __init__(self, builder: PointBuild):
        self.pb = builder

    @staticmethod
    def _as_map(tiles):
        from pyspark.sql import functions as F

        return tiles.select(F.col("z").alias("zoom_level"),
                            F.col("x").alias("tile_column"),
                            F.col("y").alias("tile_row"), "tile_id")

    def regenerate(self, b, store, inv):
        """regenerate_fn: snapshot-2 tiles of the invalidation list,
        written once so the map rows and the images share them."""
        from pyspark.sql import functions as F

        from sparktiles.operators.mvt import encode_and_assemble_single
        from sparktiles.operators.pyramid import assign_point_tiles_multi

        spec = self.pb.spec()
        assigned = assign_point_tiles_multi(
            self.pb.features(b, "pages2"), 0, self.pb.maxzoom,
            buffer_px=spec.buffer_px).join(inv, ["z", "x", "y"], "left_semi")
        fresh_dir = f"{store}/retile_tiles"
        encode_and_assemble_single(assigned, spec, GZIP).write.mode(
            "overwrite").parquet(fresh_dir)
        tiles = b.spark.read.parquet(fresh_dir)
        empties = inv.join(tiles.select("z", "x", "y"), ["z", "x", "y"],
                           "left_anti").withColumn("tile_id", F.lit(empty_tile_id()))
        return self._as_map(tiles).unionByName(self._as_map(empties))

    def publish(self, b, store, merged):
        """Write the merged map and the new images, then swap the maps."""
        from pyspark.sql import functions as F

        nxt = f"{store}/tile_map_next"
        merged.write.mode("overwrite").partitionBy("zoom_level").parquet(nxt)
        (b.spark.read.parquet(f"{store}/retile_tiles")
         .select("tile_id", F.col("mvt").alias("tile_data"))
         .dropDuplicates(["tile_id"])
         .write.mode("overwrite").parquet(f"{store}/tile_images/retile"))
        shutil.rmtree(f"{store}/tile_map")
        os.rename(nxt, f"{store}/tile_map")

    def run(self, b, store, traced=False) -> float:
        from sparktiles.plans.pipeline import MAP_SCHEMA
        from sparktiles.sources.geoparse import build_features
        from sparktiles.streaming.incremental import run_incremental_retile

        sp = b.spark
        p1, p2 = sp.read.parquet(b.path("pages1")), sp.read.parquet(b.path("pages2"))
        existing = sp.read.schema(MAP_SCHEMA).option(
            "basePath", f"{store}/tile_map").parquet(f"{store}/tile_map")
        if traced:
            return self.run_traced(b, store, p1, p2, existing)
        t0 = _now()
        merged = run_incremental_retile(
            sp, p1, p2, build_features, existing, 0, self.pb.maxzoom,
            lambda inv: self.regenerate(b, store, inv),
            buffer_px=self.pb.buffer_px)
        self.publish(b, store, merged)
        return _now() - t0

    def run_traced(self, b, store, p1, p2, existing) -> float:
        """The public equivalent of run_incremental_retile, one span per
        step: diff, invalidation, regenerate, merge."""
        from pyspark.sql import functions as F

        from sparktiles.operators.pyramid import assign_point_tiles_multi
        from sparktiles.sources.geoparse import build_features
        from sparktiles.streaming.incremental import changed_features, merge_tile_map

        T, L = b.tracer, b.layer
        old_ids = {r[:3]: r[3] for r in store_map(store)}
        t0 = _now()
        with T.span("retile", "incremental"):
            with T.span("incremental.diff", "incremental"):
                diff = changed_features(p1, p2).cache()
                L["incremental.changed_urls"] = diff.count()
            with T.span("incremental.invalidate", "incremental"):
                new = build_features(p2.join(
                    diff.where(F.col("change") != "removed"), "url", "left_semi"))
                old = build_features(p1.join(
                    diff.where(F.col("change") != "added"), "url", "left_semi"))
                inv = assign_point_tiles_multi(
                    new.unionByName(old.select(*new.columns)), 0,
                    self.pb.maxzoom, buffer_px=self.pb.buffer_px,
                ).select("z", "x", "y").distinct().cache()
                L["incremental.invalidated_tiles"] = inv.count()
            with T.span("incremental.regen", "incremental"):
                fresh = self.regenerate(b, store, inv)
            with T.span("incremental.merge", "incremental"):
                self.publish(b, store, merge_tile_map(existing, fresh, inv))
        wall = _now() - t0
        inv_keys = {(r.z, r.x, r.y) for r in inv.collect()}
        useful = sum(1 for r in store_map(store)
                     if r[:3] in inv_keys and old_ids.get(r[:3]) != r[3])
        L["incremental.useful_frac"] = useful / max(1, len(inv_keys))
        diff.unpersist()
        inv.unpersist()
        return wall


class Serve:
    """serve.make_server on the store, then a fixed seeded request list
    from 2 closed-loop clients: 200s, 304 revalidations and 204s."""

    requests = 1600
    warm_requests = 300
    clients = 2

    def __init__(self, maxzoom: int):
        self.maxzoom = maxzoom
        self.results = []

    @staticmethod
    def _client(port, reqs, out):
        def get(z, x, y, etag=None):
            t0 = _now()
            c = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
            try:
                c.request("GET", f"/tiles/{z}/{x}/{y}.pbf",
                          headers={"If-None-Match": etag} if etag else {})
                r = c.getresponse()
                body = r.read()
                got = (r.status, r.getheader("ETag"),
                       r.getheader("Content-Encoding"), len(body))
            except (OSError, http.client.HTTPException):
                got = (None, None, None, 0)  # fails the status check
            finally:
                c.close()
            out.append((_now() - t0, (z, x, y), *got, bool(etag)))
            return got[1]

        for kind, z, x, y in reqs:
            etag = get(z, x, y)
            if kind == "reval":
                get(z, x, y, etag)

    def _load(self, port, reqs):
        outs = [[] for _ in range(self.clients)]
        threads = [threading.Thread(target=self._client,
                                    args=(port, reqs[i::self.clients], outs[i]))
                   for i in range(self.clients)]
        t0 = _now()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return [r for o in outs for r in o], _now() - t0

    def run(self, b, store, traced=False) -> float:
        from sparktiles.serve import make_server

        t0 = _now()
        srv = make_server(store)
        load = _now() - t0
        th = threading.Thread(target=srv.serve_forever,
                              kwargs={"poll_interval": 0.05})
        th.start()
        try:
            port = srv.server_address[1]
            self._load(port, request_plan(b.seed + 1, self.maxzoom,
                                          self.warm_requests))
            res, wall = self._load(
                port, request_plan(b.seed, self.maxzoom, self.requests))
        finally:
            srv.shutdown()
            srv.server_close()
            th.join()
        self.results.append((store, res))
        lat = sorted(r[0] * 1e3 for r in res)
        b.note("serve_load_s", load)
        b.note("serve_rps", len(res) / wall)
        b.info["serve_latency_ms"] = summarize(lat)
        if traced:
            L = b.layer
            L["serve.load_wall_s"] = load
            L["serve.rows_loaded"] = len(srv.RequestHandlerClass.tiles)
            for s in (200, 204, 304):
                L[f"serve.status_{s}"] = sum(1 for r in res if r[2] == s)
            L["serve.bytes_sent_mb"] = sum(r[5] for r in res) / MB
            L["serve.p50_ms"] = percentile(lat, 50.0)
            L["serve.p99_ms"] = percentile(lat, 99.0)
            L["serve.rps"] = len(res) / wall
        return load + wall

    def check(self, b, store, res):
        """Status per request kind, ETag == "<tile_id>", gzip encoding."""
        expected = {r[:3]: r[3] for r in store_map(store)}
        for _, zxy, status, etag, enc, n, conditional in res:
            tid = expected.get(zxy)
            if tid is None:
                ok = status == 204
            elif conditional:
                ok = status == 304 and etag == f'"{tid}"'
            else:
                ok = status == 200 and etag == f'"{tid}"' and enc == "gzip" and n > 0
            b.check(ok, f"serve {zxy}: {status} {etag} {enc}")


class Tiles:
    """One operation: point build -> incremental re-tile of that store
    -> serve it -> 3-layer WKB build, all from the seeded inputs."""

    name = "tiles"
    pages = 10_000
    sf = None

    def __init__(self):
        self.points, self.wkb = PointBuild(), Wkb3Build()
        self.retile = Retile(self.points)
        self.serve = Serve(self.points.maxzoom)
        self.builds = []

    def setup(self, b):
        from sparktiles.sources.pages import generate_pages

        p1 = b.path("pages1")
        generate_pages(b.spark, self.pages, seed=b.seed).write.mode(
            "overwrite").parquet(p1)
        plan = changefeed_plan(b.seed, max(10_000, self.pages // 10))
        apply_changefeed(b.spark, b.spark.read.parquet(p1), plan).write.mode(
            "overwrite").parquet(b.path("pages2"))
        self.wkb.setup(b)

    def warmup(self, b):
        """The full point rebuild of snapshot 2 (also the reference the
        incremental merge is checked against) and a z0-z2 WKB build."""
        from sparktiles.plans.pipeline import TileBuild

        store = b.path("rebuild2")
        self.rebuild = TileBuild(b.spark, self.points.frames(b, "pages2"),
                                 self.points.config(store)).build_fast()
        self.rebuild["store"] = store
        self.wkb.build(b, b.path("wkb_warm"), maxzoom=2)

    def op(self, b, traced=False) -> float:
        i = len(self.builds)
        pts = self.points.build(b, b.path(f"points{i}"), traced)
        if traced:
            self.points.layer_metrics(b, pts, self.untraced["points"])
        retile = self.retile.run(b, pts["store"], traced)
        serve = self.serve.run(b, pts["store"], traced)
        wkb = self.wkb.build(b, b.path(f"wkb{i}"), traced)
        if traced:
            self.wkb.layer_metrics(b, wkb, self.untraced["wkb"])
            b.layer["incremental.retile_s"] = retile
        else:
            self.untraced = {"points": pts["wall"], "wkb": wkb["wall"]}
        self.builds.append((pts, wkb))
        for k, v in (("points_build_s", pts["wall"]), ("retile_s", retile),
                     ("serve_s", serve), ("wkb3_build_s", wkb["wall"]),
                     ("points_tiles_per_s", pts["tiles"] / pts["wall"]),
                     ("wkb3_tiles_per_s", wkb["tiles"] / wkb["wall"])):
            b.note(k, v)
        return pts["wall"] + retile + serve + wkb["wall"]

    def check(self, b):
        """The merged map equals the full rebuild of snapshot 2; builds
        of one seed agree; digests of recorded seeds match."""
        pb = self.points
        want = pb.check_build(b, self.rebuild)
        wkb_digests = set()
        for pts, wkb in self.builds:
            b.check(pb.check_build(b, pts) == want,
                    f"{pts['store']}: merged map != full rebuild of snapshot 2")
            wkb_digests.add(self.wkb.check_build(b, wkb))
        b.check(len(wkb_digests) == 1, f"WKB builds of one seed differ: {wkb_digests}")
        got = {"points_snapshot2": want, "wkb3": min(wkb_digests)}
        for key, digest in got.items():
            rec = recorded(key).get(str(b.seed))
            if rec is not None:
                b.check(rec == digest, f"{key}: {digest} != recorded {rec}")
        for store, res in self.serve.results:
            self.serve.check(b, store, res)
        b.info["digests"] = got
        b.info["changefeed_region"] = changefeed_plan(
            b.seed, max(10_000, self.pages // 10))["region"]


# ---------------------------------------------------------------- curation

# leg -> operator module (job group) that does its work
LEGS = {
    "semdedup_mapping": "ann", "ann_cosine_topk": "ann", "knn_join": "ann",
    "minhash_dedup_cc": "graph", "dedup_minhash_lsh": "text",
    "winnowing_overlap_pairs": "text", "dsir_importance": "text",
    "kn_bigram_quality": "text", "leakage_safe_split": "graph",
    "minhash_jaccard_verify": "text", "dedup_keep_best": "graph",
    "exactsubstr_cut": "text", "paragraph_dedup": "text",
    "pack_sequences": "text", "bm25_topk": "text",
    "text_quality_score": "text",
}
CURATION_TABLES = ("documents", "embeddings", "customer", "supplier")


class Curation:
    """Curation legs of queries.QUERIES over the fixed sf0.01 tables,
    each through the noop sink. The seed does not change the input."""

    name = "curation"
    pages = None
    sf = "0.01"

    def setup(self, b):
        src = os.path.join(HERE, "data", "sf0.01")
        for t in CURATION_TABLES:
            b.spark.read.parquet(f"{src}/{t}.parquet").write.mode(
                "overwrite").parquet(b.path(f"sf/{t}.parquet"))
        self.sweeps = []

    def warmup(self, b):
        """Collect every leg once: the warm-up doubles as the digest check."""
        import sparktiles.queries as Q

        self.digests = {}
        for leg in LEGS:
            try:
                df = Q.QUERIES[leg](b.spark, b.path("sf"))
                self.digests[leg] = digest_rows(df.columns, df.collect())
            except Exception as e:  # counted as a failed leg in check()
                self.digests[leg] = {"error": repr(e)[:200]}

    def op(self, b, traced=False) -> float:
        import sparktiles.queries as Q

        walls = {}
        for leg, group in LEGS.items():
            t0 = _now()
            with b.tracer.span(f"curation.{leg}", group):
                Q.QUERIES[leg](b.spark, b.path("sf")).write.format(
                    "noop").mode("overwrite").save()
            walls[leg] = _now() - t0
        self.sweeps.append(walls)
        total = sum(walls.values())
        if traced:
            for leg, w in walls.items():
                b.layer[f"curation.{leg}.wall_s"] = w
            b.layer["curation.sum_s"] = total
        return total

    def check(self, b):
        want = recorded("curation_sf0.01")
        for leg in LEGS:
            got = self.digests.get(leg)
            b.check(got == want.get(leg),
                    f"{leg}: {got} != recorded {want.get(leg)}")
        b.info["leg_median_s"] = {
            leg: summarize([s[leg] for s in self.sweeps])["median"] for leg in LEGS}
        b.info["digests"] = self.digests


WORKLOADS = {w.name: w for w in (Tiles, Curation)}
