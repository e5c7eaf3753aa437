"""M7 — XYZ raster tile assignment + raster↔vector overlap report.

The north rule adds a tiling stage the reference lacks as code but
implies as data: media spans carry XYZ tile refs, vector elements carry
coordinates. This stage:

  * assigns every element (vector side) its slippy-map tile at a fixed
    zoom — a native expression, no UDF, no shuffle;
  * produces the overlap report: per tile, how many vector elements and
    raster (media) spans land there — one hash aggregate keyed by the
    tile ref.

At 100 TB the aggregate is the only shuffle and it keys on ~4^zoom
uniformly-sized tiles; urban skew is bounded because a tile at z=14 is
~2.4 km — hot tiles stay far below task granularity after partial
(map-side) aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_addr_bot_spark.config import DEFAULT_TILE_ZOOM
from osm_addr_bot_spark.geo.tiles import xyz_tile_cols, xyz_tile_ref


def assign_tiles(df: DataFrame) -> DataFrame:
    """Add tile_x / tile_y / tile_ref from lat/lon columns, at the
    DEFAULT_TILE_ZOOM that datagen writes every media_ref at."""
    x, y = xyz_tile_cols(F.col("lat"), F.col("lon"), DEFAULT_TILE_ZOOM)
    return df.withColumns(
        {
            "tile_x": x,
            "tile_y": y,
            "tile_ref": xyz_tile_ref(F.col("lat"), F.col("lon"), DEFAULT_TILE_ZOOM),
        }
    )


def raster_vector_overlap(elements: DataFrame, media: DataFrame) -> DataFrame:
    """Per-tile overlap: (tile_ref, n_elements, n_media, n_docs). Media
    spans count under their declared media_ref."""
    vec = (
        assign_tiles(elements.select("doc_id", "lat", "lon"))
        .groupBy("tile_ref")
        .agg(
            F.count("*").alias("n_elements"),
            F.countDistinct("doc_id").alias("n_vec_docs"),
        )
    )
    ras = (
        media.select("doc_id", F.col("media_ref").alias("tile_ref"))
        .groupBy("tile_ref")
        .agg(
            F.count("*").alias("n_media"),
            F.countDistinct("doc_id").alias("n_ras_docs"),
        )
    )
    return (
        vec.join(ras, "tile_ref", "full")
        .select(
            "tile_ref",
            F.coalesce("n_elements", F.lit(0)).alias("n_elements"),
            F.coalesce("n_media", F.lit(0)).alias("n_media"),
            (F.coalesce("n_vec_docs", F.lit(0)) + F.coalesce("n_ras_docs", F.lit(0))).alias(
                "n_docs"
            ),
        )
    )
