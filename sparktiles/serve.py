"""Thin HTTP tile reader over a built tile store (SURVEY §2.1 S8).

Mirrors the reference's postserve surface (openmaptiles/postserve.py:58-113):
  GET /tiles/{z}/{x}/{y}.pbf -> tile blob
      Content-Type: application/x-protobuf, Content-Disposition: attachment,
      strong ETag = '"<md5 tile_id>"', Content-Encoding: gzip when the blob
      is gzip-framed, 204 No Content for empty tiles.
  GET /tilejson.json          -> TileJSON 2.2.0 metadata
      (reference analog: postserve.py:159-231 create_metadata).
Plus If-None-Match -> 304 (the strong ETag exists exactly for this).

Serving is read-only and Spark-free: the store's parquet is loaded once
through DuckDB into an in-process dict keyed by (z, x, y) — the sandbox
stand-in for a tile CDN origin reading Iceberg. For stores larger than
memory, point a real origin at tile_map/tile_images instead; the HTTP
contract stays the same.
"""

from __future__ import annotations

import json
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path

GZIP_MAGIC = b"\x1f\x8b"


def load_store(store_dir: str):
    """(z,x,y) -> (tile_id, blob) plus min/max zoom, via one DuckDB scan."""
    import duckdb

    store = Path(store_dir)
    con = duckdb.connect()
    # images need the DISTINCT (tile_images/all and a re-tile's dir can
    # share ids, and a repeated id would repeat its map rows); map rows
    # that repeat collapse in the (z, x, y) dict below
    rows = con.execute(
        f"""
        SELECT m.zoom_level, m.tile_column, m.tile_row, m.tile_id,
               i.tile_data
        FROM parquet_scan('{store}/tile_map/**/*.parquet',
                          hive_partitioning=1) m
        JOIN (SELECT DISTINCT tile_id, tile_data
              FROM parquet_scan('{store}/tile_images/**/*.parquet',
                                hive_partitioning=0)) i USING (tile_id)
        """
    ).fetchall()
    con.close()
    tiles = {(z, x, y): (tid, bytes(blob)) for z, x, y, tid, blob in rows}
    zooms = [z for z, _, _ in tiles] or [0]
    return tiles, min(zooms), max(zooms)


class TileHandler(BaseHTTPRequestHandler):
    tiles: dict = {}
    tilejson: dict = {}
    verbose = False

    def log_message(self, fmt, *args):  # quiet by default
        if self.verbose:
            super().log_message(fmt, *args)

    def do_HEAD(self):
        # same status + headers as GET, no body (CDN/cache probes)
        self._head_only = True
        try:
            self.do_GET()
        finally:
            self._head_only = False

    def _body(self, data: bytes):
        if not getattr(self, "_head_only", False):
            self.wfile.write(data)

    def do_GET(self):
        parts = self.path.strip("/").split("/")
        if self.path.rstrip("/").endswith("tilejson.json") or self.path == "/":
            body = json.dumps(self.tilejson).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self._body(body)
            return
        if len(parts) == 4 and parts[0] == "tiles" and parts[3].endswith(".pbf"):
            try:
                z, x, y = int(parts[1]), int(parts[2]), int(parts[3][:-4])
            except ValueError:
                self.send_error(400, "bad tile address")
                return
            hit = self.tiles.get((z, x, y))
            if hit is None:
                self.send_response(204)  # empty tile, like the reference
                self.end_headers()
                return
            tile_id, blob = hit
            etag = f'"{tile_id}"'
            if self.headers.get("If-None-Match") == etag:
                self.send_response(304)
                self.send_header("ETag", etag)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Type", "application/x-protobuf")
            self.send_header("Content-Disposition", "attachment")
            self.send_header("ETag", etag)
            if blob[:2] == GZIP_MAGIC:
                self.send_header("Content-Encoding", "gzip")
            self.send_header("Content-Length", str(len(blob)))
            self.end_headers()
            self._body(blob)
            return
        self.send_error(404, "unknown path")


def make_server(store_dir: str, host: str = "127.0.0.1", port: int = 0,
                name: str = "sparktiles") -> ThreadingHTTPServer:
    """Build (not start) the server; port=0 picks a free port."""
    tiles, minz, maxz = load_store(store_dir)

    class Handler(TileHandler):
        pass

    Handler.tiles = tiles
    srv = ThreadingHTTPServer((host, port), Handler)
    Handler.tilejson = {
        "tilejson": "2.2.0",
        "name": name,
        "format": "pbf",
        "minzoom": minz,
        "maxzoom": maxz,
        "tiles": [f"http://{host}:{srv.server_address[1]}/tiles/{{z}}/{{x}}/{{y}}.pbf"],
    }
    return srv


def main(argv=None):
    import argparse

    ap = argparse.ArgumentParser(description="serve a built tile store")
    ap.add_argument("--store", required=True)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8090)
    ap.add_argument("--verbose", action="store_true")
    args = ap.parse_args(argv)
    srv = make_server(args.store, args.host, args.port)
    srv.RequestHandlerClass.verbose = args.verbose
    n = len(srv.RequestHandlerClass.tiles)
    print(f"serving {n} tiles from {args.store} "
          f"on http://{args.host}:{srv.server_address[1]}")
    srv.serve_forever()


if __name__ == "__main__":
    main()
