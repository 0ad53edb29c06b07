#!/usr/bin/env python
"""spark-submit entrypoint: raster<->vector tile materialization.

    spark-submit --py-files geolake_spark.zip jobs/materialize_tiles.py \
        --pages /path/pages.parquet --table /path/tile_table --zoom 8 \
        [--resume] [--geojson /path/tiles.geojson.d]

Writes per-tile rollups as a z/x/y-partitioned Iceberg-style snapshot
(resumable); optionally exports tile polygons as GeoJSON features.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--zoom", type=int, default=8)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--geojson", default=None)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from geolake_spark.catalog import IcebergishTable
    from geolake_spark.operators import tiles
    from geolake_spark.session import get_spark
    from geolake_spark.write import write_snapshot

    spark = get_spark("materialize_tiles", cores=args.cores)
    pages = spark.read.parquet(args.pages)
    rolled = tiles.rollup_tiles(pages, zoom=args.zoom)
    info = write_snapshot(rolled, IcebergishTable(args.table),
                          ["tile_z", "tile_x"], resume=args.resume)
    print(info)
    if args.geojson:
        tiles.tiles_geojson(rolled).write.mode("overwrite").text(args.geojson)
    spark.stop()


if __name__ == "__main__":
    main()
