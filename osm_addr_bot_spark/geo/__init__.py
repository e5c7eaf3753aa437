from osm_addr_bot_spark.geo.haversine import haversine_m
from osm_addr_bot_spark.geo.hexgrid import hex_cell_udf, pick_res
from osm_addr_bot_spark.geo.tiles import xyz_tile_cols, xyz_tile_ref
from osm_addr_bot_spark.geo.s2 import s2_parent

__all__ = [
    "haversine_m",
    "hex_cell_udf",
    "pick_res",
    "xyz_tile_cols",
    "xyz_tile_ref",
    "s2_parent",
]
