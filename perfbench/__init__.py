"""Standalone benchmark of the geojson_vt_rs_spark engine (see README.md)."""
