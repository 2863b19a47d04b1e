"""End-to-end tile build: features -> layers -> MVT tiles -> store.

Reproduces the reference driver loop (bin/generate-tiles:88-117):
  z <= MID_ZOOM : generate every tile of the pyramid ('pyramid' scheme)
  z >  MID_ZOOM : impute from z-1 (children of duplicate/'empty-ish'
                  tiles inherit the parent tile_id without generation,
                  mbtile_tools.py:106-196), generate only the remaining
                  list ('list' scheme)

TileBuild.build_fast() runs that walk and writes the store
(tile_map/zoom_level=z/, tile_images/, lineage/, _manifest.json,
metrics.json). Phase 1 writes every non-empty tile of every zoom in
one shuffle (tiles_all); phase 2 replays the walk above on tiles_all
keys in a fixed number of Spark jobs (operators/pyramid.py "one-pass
impute walk"): Python decides the dup roots on data the size of
tiles_all, the JVM expands each root's subtree inside the one map
write; then the images and per-file lineage rows. It resumes per
phase, records a config fingerprint in the manifest and refuses a
store built with another config (north_rule: resumable from
checkpoint with per-partition lineage + metrics).

Scale notes: the feature->tile fan-out is map-side; the only wide
shuffles are the per-(z,x,y[,layer]) groupBys, which AQE re-balances
(skew-split on hot cells). Tile rows are quadkey-local because the
grouping key embeds (x, y) morton order via repartitioning on (z,x,y).
"""

from __future__ import annotations

import hashlib
import json
import re
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field, fields
from pathlib import Path

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparktiles.functions import mvtcodec as C
from sparktiles.operators.mvt import (
    LayerSpec,
    assemble_normalized,
    encode_and_assemble_single,
    normalize_layer_df,
)
from sparktiles.functions.tilemath import deg2num
from sparktiles.operators.pyramid import (
    assign_point_tiles,
    emit_map_blocks,
    expand_map_blocks,
    impute_summary,
    replay_impute,
    tile_pyramid,
    walk_input,
)
from sparktiles.plans.config import TilesetDef
from sparktiles.session import codegen_compiles

MAP_SCHEMA = "zoom_level int, tile_column long, tile_row long, tile_id string"
LINEAGE_COLS = ("zoom_level", "partition_file", "n_rows", "n_nonempty",
                "min_x", "max_x", "min_y", "max_y", "n_distinct_ids")
_PART_FILE = re.compile(r"part-(\d+)-")
# map rows one build_fast phase-2 task expands and writes (see
# TileBuild._walk_partitions)
MAP_ROWS_PER_TASK = 2_000_000


@contextmanager
def _job_label(sc, text: str):
    """Label the Spark jobs run inside the block (spark.job.description,
    shown in the UI and the event log); the previous label is restored."""
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


@contextmanager
def _sql_conf(spark, key: str, value: str):
    """Set a SQL conf for the block; the previous value is restored."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.unset(key) if prev is None else spark.conf.set(key, prev)


class _DictUpdate(AccumulatorParam):
    """Accumulator of a dict whose keys each come from one task."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


def empty_tile_blob(gzip_level: int | None) -> bytes:
    """A tile with zero features: every layer contributes '' (reference
    COALESCE(ST_AsMVT(...),''), sqltomvt.py:176-179) so the tile blob is
    empty (gzip'd when gzip is on)."""
    blob = b""
    if gzip_level is not None:
        blob = C.gzip_blob(blob, gzip_level)
    return blob


@dataclass
class BuildConfig:
    store_dir: str
    minzoom: int = 0
    maxzoom: int = 8
    mid_zoom: int = 4
    gzip_level: int | None = None
    bounds_lonlat: tuple | None = None
    languages: list = field(default_factory=list)

    def fingerprint(self, specs) -> str:
        """Hash of everything that decides the store's bytes: zooms,
        gzip, bounds and every LayerSpec (a callable by its qualified
        name — its repr carries a memory address)."""
        def plain(v):
            if callable(v):
                return f"{getattr(v, '__module__', '')}.{getattr(v, '__qualname__', repr(v))}"
            return v

        doc = {
            "minzoom": self.minzoom, "maxzoom": self.maxzoom,
            "mid_zoom": self.mid_zoom, "gzip_level": self.gzip_level,
            "bounds_lonlat": list(self.bounds_lonlat) if self.bounds_lonlat else None,
            "layers": [{f.name: plain(getattr(s, f.name))
                        for f in fields(s)} for s in specs],
        }
        blob = json.dumps(doc, sort_keys=True, default=repr).encode()
        return hashlib.sha256(blob).hexdigest()[:16]

    def __post_init__(self):
        # pack_zxy_expr XOR-packs (z<<58)^(x<<29)^y; beyond z=29 the
        # fields would overlap and tiles silently merge — fail loudly
        if not (0 <= self.minzoom <= self.maxzoom <= 29):
            raise ValueError(
                f"zoom range [{self.minzoom}, {self.maxzoom}] outside "
                "supported [0, 29] (packed-zxy key width)")


class TileBuild:
    """Builds the tile pyramid of prepared feature DataFrames into a
    store (build_fast).

    layer_frames: list of (LayerSpec, features DataFrame). Each features
    DataFrame must carry: feature_id long, x double, y double (mercator)
    for point layers or geom binary for wkb layers, plus the attr
    columns named in LayerSpec.attr_fields.
    """

    def __init__(self, spark: SparkSession, layer_frames, cfg: BuildConfig):
        self.spark = spark
        self.layer_frames = layer_frames
        self.cfg = cfg
        self.store = Path(cfg.store_dir)
        self.store.mkdir(parents=True, exist_ok=True)
        self.manifest_path = self.store / "_manifest.json"

    # ------------------------------------------------------------ store

    def _load_manifest(self) -> dict:
        if self.manifest_path.exists():
            return json.loads(self.manifest_path.read_text())
        return {}

    def _fingerprint(self) -> str:
        return self.cfg.fingerprint([spec for spec, _ in self.layer_frames])

    def _check_fingerprint(self):
        """Refuse a store whose manifest records another config. A store
        without a recorded fingerprint (tiles_all written by another
        writer) is accepted."""
        got = self._load_manifest().get("fingerprint")
        if got is not None and got != self._fingerprint():
            raise ValueError(
                f"{self.store} was built with another config (fingerprint "
                f"{got}, this build {self._fingerprint()}); use a new store_dir")

    def _record_fingerprint(self):
        m = self._load_manifest()
        m["fingerprint"] = self._fingerprint()
        self.manifest_path.write_text(json.dumps(m, indent=1))

    def _map_root(self) -> str:
        return str(self.store / "tile_map")

    def _map_path(self, z: int) -> str:
        # hive layout: zoom_level comes from the directory name, never
        # duplicated inside the files (one write per row, one scan for
        # any zoom subset; DuckDB reads it with hive_partitioning=1)
        return str(self.store / "tile_map" / f"zoom_level={z}")

    def read_tile_map(self, z: int | None = None) -> DataFrame:
        r = self.spark.read.schema(MAP_SCHEMA).option("basePath", self._map_root())
        path = self._map_path(z) if z is not None else self._map_root()
        return r.parquet(path).select(
            "zoom_level", "tile_column", "tile_row", "tile_id")

    def read_lineage(self) -> DataFrame:
        """Per-partition lineage/metrics rows written by build_fast."""
        return self.spark.read.parquet(str(self.store / "lineage"))

    def read_tile_images(self) -> DataFrame:
        # tile_images/all from build_fast, plus the dirs a re-tile
        # publishes beside it (e.g. tile_images/retile)
        root = self.store / "tile_images"
        paths = [str(p) for p in sorted(root.iterdir()) if p.is_dir()]
        dfs = [self.spark.read.parquet(p) for p in paths]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out.dropDuplicates(["tile_id"])

    # ------------------------------------------------------------ build

    def _can_fuse(self, spec, kinds: tuple = ("wkb",)) -> bool:
        """Layers with no post_assign hook take a FUSED assign + encode
        stage (the hook needs the assigned rows as a DataFrame between
        the stages): WKB layers via the supercover kernel — candidate
        rows never cross Arrow carrying raw WKB; point layers
        (multi-layer spine only) via the in-kernel fan-out — base rows
        cross Arrow exactly once. The single-layer point path stays
        JVM-assigned: there the fan-out feeds the exchange directly with
        NO map-side Python at all (the point normalizer runs after the
        exchange, in the grouped pass), so fusing would add an Arrow
        crossing instead of removing one."""
        return spec.geometry_kind in kinds and spec.post_assign is None

    def _build_tiles(self, zr: tuple[int, int]) -> DataFrame:
        """All layers -> z,x,y,mvt,tile_id of every NON-EMPTY tile in
        the zoom range, with ONE wide (zxy) shuffle into one grouped
        encode pass (operators/mvt.py): a single layer goes through
        encode_and_assemble_single; multi-layer builds union per-layer
        normalized frames (normalize_layer_df) map-side and run
        assemble_normalized over the union."""
        if len(self.layer_frames) == 1:
            spec, feats = self.layer_frames[0]
            if self._can_fuse(spec):
                return encode_and_assemble_single(
                    feats, spec, self.cfg.gzip_level, zoom_range=zr)
            return encode_and_assemble_single(
                self._assign(feats, spec, *zr), spec, self.cfg.gzip_level)
        # all layers share the widest _v column set so the union lines up
        n_vals = max(len(s.attr_fields) for s, _ in self.layer_frames)
        norm = None
        for spec, feats in self.layer_frames:
            if self._can_fuse(spec, kinds=("wkb", "point")):
                nf = normalize_layer_df(feats, spec, zoom_range=zr,
                                        n_vals=n_vals)
            else:
                nf = normalize_layer_df(self._assign(feats, spec, *zr), spec,
                                        n_vals=n_vals)
            norm = nf if norm is None else norm.unionByName(nf)
        return assemble_normalized(
            norm, [s for s, _ in self.layer_frames], self.cfg.gzip_level)

    def _assign(self, feats: DataFrame, spec, minz: int, maxz: int) -> DataFrame:
        """Tile-assign a layer frame for [minz, maxz]: points via column
        math, WKB geometries via supercover rasterization — candidates
        are the tiles the geometry actually touches (O(path length)),
        not its bbox (O(bbox area)); the exact clip in the MVT kernel
        then drops only the ~2x dilation margin instead of the measured
        95.6% bbox waste (docs/SCALE.md stage 3)."""
        from sparktiles.operators.pyramid import (
            assign_point_tiles_multi,
            assign_supercover_tiles_multi,
        )

        if spec.geometry_kind == "point":
            if minz == maxz:
                out = assign_point_tiles(feats, minz, buffer_px=spec.buffer_px)
            else:
                out = assign_point_tiles_multi(
                    feats, minz, maxz, buffer_px=spec.buffer_px)
        else:
            out = assign_supercover_tiles_multi(
                feats, minz, maxz, buffer_px=spec.buffer_px)
        if spec.post_assign is not None:
            out = spec.post_assign(out)
        return out

    def build_fast(self) -> dict:
        """Two-phase build with identical output to the reference walk
        (the module docstring's per-zoom loop):

        Phase 1 — ONE wide job: every layer's features are exploded to
        all zooms (assign_point_tiles_multi), grouped once by (z,x,y)
        into MVT blobs, and written partitioned by z. This replaces
        per-zoom generation; valid because a tile that the impute loop
        would generate gets exactly the same features either way (a
        feature inside a child's buffered bbox is inside its parent's
        buffered bbox — buffers double in meters per zoom step down).

        Phase 2 — bookkeeping only, in a fixed number of Spark jobs
        whatever maxzoom is (operators/pyramid.py "one-pass impute
        walk"):
        (a) the tiles_all keys + universe markers, grouped per low-zoom
            tile / mid-zoom subtree, are checkpointed once — in one
            partition per ~MAP_ROWS_PER_TASK map rows when the map is
            larger than that, since the map write runs in these tasks;
        (b) one kernel pass summarizes them, the driver replays the
            reference walk on the summary (per-zoom dup sets + stats),
            and one more pass emits the map as blocks (a dup root is
            one row standing for its subtree) that the JVM expands into
            every map row z0..max inside the one map write;
        (c) tile_images is written from the tiles_all rows whose ids
            the blocks carry (a semi-join), the lineage rows from
            per-task counts the map write collected — the written map
            is read back only when a task wrote several files per zoom
            (spark.sql.files.maxRecordsPerFile).

        Resume is per phase: tiles_all/_SUCCESS marks phase 1 (also
        when another writer produced it), the manifest's "phase2"
        entry marks phase 2, and a rerun redoes any phase that is not
        marked. The manifest records the config fingerprint; a store
        built with another config is refused.

        Returns (and writes to metrics.json) tiles, wall_s, tiles_per_s,
        phase1_wall_s, phase2_wall_s, codegen_compiles (classes the
        driver JVM compiled during the build) and per-zoom n_tiles /
        n_nonempty / n_imputed / n_generated; a store whose phase 2 is
        committed returns its recorded summary without running a job.
        """
        cfg = self.cfg
        t_start = time.time()
        compiles0 = codegen_compiles(self.spark)
        self._check_fingerprint()
        done = self._load_manifest().get("phase2")
        if done is not None:
            return done
        tiles_all = str(self.store / "tiles_all")
        sc = self.spark.sparkContext
        if not (self.store / "tiles_all" / "_SUCCESS").exists():
            with _job_label(sc, "build_fast phase 1: tiles_all"):
                tiles = self._build_tiles((cfg.minzoom, cfg.maxzoom))
                tiles.write.mode("overwrite").partitionBy("z").parquet(tiles_all)
        self._record_fingerprint()
        t_phase2 = time.time()
        summary = self._phase2(tiles_all)
        wall = time.time() - t_start
        summary = {
            "tiles": summary["tiles"],
            "wall_s": round(wall, 3),
            "tiles_per_s": round(summary["tiles"] / wall, 2) if wall > 0 else None,
            "phase1_wall_s": round(t_phase2 - t_start, 3),
            "phase2_wall_s": round(time.time() - t_phase2, 3),
            "codegen_compiles": codegen_compiles(self.spark) - compiles0,
            "zooms": summary["zooms"],
        }
        (self.store / "metrics.json").write_text(json.dumps(summary, indent=1))
        m = self._load_manifest()
        m["phase2"] = summary
        self.manifest_path.write_text(json.dumps(m, indent=1))
        return summary

    def _walk_partitions(self, mid: int) -> int | None:
        """Partition count of the walk input, which the map write keeps:
        None (AQE's byte-sized choice) for a map of at most
        MAP_ROWS_PER_TASK rows, else about that many map rows per task,
        at most one task per mid-zoom subtree. The map's size is known
        from the bounds alone: every in-domain mid tile has a full
        subtree of sum(4^d) tiles."""
        cfg = self.cfg
        top = (1 << mid) - 1
        if cfg.bounds_lonlat is None:
            n_mid = (top + 1) ** 2
        else:
            lon0, lat0, lon1, lat1 = cfg.bounds_lonlat
            (x0, y1), (x1, y0) = (
                tuple(min(max(v, 0), top) for v in deg2num(lat, lon, mid))
                for lon, lat in ((lon0, lat0), (lon1, lat1)))
            n_mid = (x1 - x0 + 1) * (y1 - y0 + 1)
        rows = n_mid * sum(4 ** d for d in range(cfg.maxzoom - mid + 1))
        if rows <= MAP_ROWS_PER_TASK:
            return None
        return min(n_mid, -(-rows // MAP_ROWS_PER_TASK))

    def _phase2(self, tiles_all: str) -> dict:
        """tile_map, tile_images and lineage from a finished tiles_all
        (see build_fast). Returns {"tiles", "zooms"}."""
        cfg, sc = self.cfg, self.spark.sparkContext
        empty_blob = empty_tile_blob(cfg.gzip_level)
        empty_id = hashlib.md5(empty_blob).hexdigest()
        mid = max(cfg.minzoom, min(cfg.mid_zoom, cfg.maxzoom))
        tiles = self.spark.read.parquet(tiles_all)
        universe = tile_pyramid(self.spark, cfg.minzoom, mid, cfg.bounds_lonlat)
        with _job_label(sc, "build_fast phase 2: impute summary"):
            # checkpointed, not cached: both kernels read it, and a
            # cached plan keeps every shuffle partition where AQE
            # coalesces these few rows into one task. Its storage
            # blocks live until `part` is garbage-collected (Spark's
            # ContextCleaner then drops them).
            part = walk_input(tiles, universe, mid, empty_id,
                              self._walk_partitions(mid)) \
                .localCheckpoint(eager=False)
            summary = impute_summary(part, mid, cfg.maxzoom, empty_id)
        plan = replay_impute(summary, cfg.minzoom, mid, cfg.maxzoom, empty_id)
        acc = sc.accumulator({}, _DictUpdate())
        # the blocks feed the map write and the images' id list; the
        # checkpoint keeps the kernel from running twice
        blocks = emit_map_blocks(part, plan["dups"], mid, cfg.maxzoom,
                                 empty_id, acc).localCheckpoint(eager=False)
        # one open file per zoom per task instead of the dynamic-
        # partition write's sort of every map row: a task writes at most
        # ~MAP_ROWS_PER_TASK narrow rows, so its open writers stay small
        # (the sort held ~1 GB more JVM memory at z0-z12, docs/SCALE.md
        # section 5)
        with _job_label(sc, "build_fast phase 2: tile_map"), _sql_conf(
                self.spark, "spark.sql.maxConcurrentOutputFileWriters",
                str(cfg.maxzoom - cfg.minzoom + 1)):
            (expand_map_blocks(blocks, cfg.maxzoom)
             .write.partitionBy("zoom_level").mode("overwrite")
             .parquet(self._map_root()))

        # images: one tiles_all row per tile_id the map uses (the
        # blocks carry exactly the map's ids), plus the empty tile
        used = blocks.select("tile_id").distinct()
        with _job_label(sc, "build_fast phase 2: tile_images"):
            (tiles.where(F.col("tile_id") != empty_id)
             .join(used, "tile_id", "left_semi")
             .select("tile_id", F.col("mvt").alias("tile_data"))
             .dropDuplicates(["tile_id"])
             .unionByName(self.spark.createDataFrame(
                 [(empty_id, bytearray(empty_blob))],
                 "tile_id string, tile_data binary"))
             .write.mode("overwrite").parquet(str(self.store / "tile_images" / "all")))

        self._write_lineage(acc.value, empty_id)
        return {"tiles": sum(s["n_tiles"] for s in plan["zooms"]),
                "zooms": plan["zooms"]}

    def _write_lineage(self, stats: dict, empty_id: str):
        """Per-partition lineage: one row per map file with row counts +
        tile-coordinate extents (north_rule: lineage + metrics tables
        enabling checkpoint resume / audit).

        `stats` holds the counts the map write's tasks sent, keyed
        (partition id, zoom). Spark names a task's file
        part-<partition id>-<uuid>...; when every (partition id, zoom)
        key matches exactly one file, the rows are written from the
        driver and the map is not read back. Otherwise (e.g.
        spark.sql.files.maxRecordsPerFile splits a task's output) the
        rows are aggregated from the written map per input file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cfg = self.cfg
        files: dict = {}
        for z in range(cfg.minzoom, cfg.maxzoom + 1):
            for f in Path(self._map_path(z)).glob("part-*"):
                m = _PART_FILE.match(f.name)
                key = (int(m.group(1)), z) if m else f.name
                files.setdefault(key, []).append(f)
        lin_dir = self.store / "lineage"
        if set(files) != set(stats) or any(len(v) != 1 for v in files.values()):
            lineage = (
                self.read_tile_map().withColumn("_file", F.input_file_name())
                .groupBy("zoom_level", "_file").agg(
                    F.count("*").alias("n_rows"),
                    F.sum((F.col("tile_id") != empty_id).cast("long"))
                    .alias("n_nonempty"),
                    F.min("tile_column").alias("min_x"),
                    F.max("tile_column").alias("max_x"),
                    F.min("tile_row").alias("min_y"),
                    F.max("tile_row").alias("max_y"),
                    F.countDistinct("tile_id").alias("n_distinct_ids"))
                .withColumnRenamed("_file", "partition_file"))
            lineage.write.mode("overwrite").parquet(str(lin_dir))
            return
        # partition_file as Spark's input_file_name() spells it
        rows = [dict(zip(LINEAGE_COLS, (z, f"file://{fs[0].resolve()}") + stats[(p, z)]))
                for (p, z), fs in sorted(files.items())]
        shutil.rmtree(lin_dir, ignore_errors=True)
        lin_dir.mkdir()
        schema = pa.schema(
            [("zoom_level", pa.int32()), ("partition_file", pa.string())]
            + [(c, pa.int64()) for c in LINEAGE_COLS[2:]])
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       str(lin_dir / "part-00000.parquet"))


def make_point_layer_frames(features: DataFrame, tileset: TilesetDef):
    """Build (LayerSpec, frame) pairs for point layers from a tileset
    definition: compiles each layer's enum field mappings and name
    projections into the feature frame (what layer_to_query +
    FIELD_MAPPING expansion does in the reference, sqltomvt.py:188-224
    + sql.py:252-280)."""
    from sparktiles.functions import scalars as S

    frames = []
    for idx, layer in enumerate(tileset.topo_order()):
        df = features
        attr_fields: dict[str, str] = {}
        for fd in layer.fields:
            e = fd.expr()
            if e is not None:
                df = df.withColumn(fd.name, e)
            attr_fields[fd.name] = fd.mvt_type
        if tileset.languages and "tags" in df.columns:
            for lang in tileset.languages:
                col = f"name:{lang}"
                df = df.withColumn(col, S.tag_field("tags", col))
                attr_fields[col] = "string"
        from sparktiles.plans.config import validate_layer_frame

        validate_layer_frame(df, layer, tileset.languages if "tags" in features.columns else [])
        spec = LayerSpec(
            layer_id=layer.id,
            index=idx,
            attr_fields=attr_fields,
            key_field="feature_id",
            buffer_px=layer.resolved_buffer(tileset),
            geometry_kind=layer.geometry_kind,
            post_assign=layer.transform,
        )
        frames.append((spec, df))
    return frames
