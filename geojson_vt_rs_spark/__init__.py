"""geojson_vt_rs_spark — a PySpark-native vector-tiling + spatial-join engine.

A from-scratch reimplementation of the query/data-processing capabilities of
``maxammann/geojson-vt-rs`` (reference read-only at /root/reference), built
Spark-first: DataFrame/SQL plans with vectorized numpy kernels inside
Arrow-batched pandas UDFs for the geometry hot paths.  Nothing here is a
translation of the Rust execution engine; the reference defines *what* to
compute (operator semantics, golden fixtures), this package decides *how*
(declarative plans, partition-pruned tile tables, broadcast spatial joins).

Layout:
  core/       pure numpy geometry kernels (project, simplify, clip, wrap,
              tile emit, quadtree tiler) on a flat-array feature encoding —
              the single source of truth for geometry semantics, shared by
              the local API and the Spark operators.
  operators/  Spark DataFrame stages (convert, clip, wrap, pyramid loop,
              tile emit, dedup, similarity).
  sources/    readers/writers: GeoJSON -> features DF, synthetic images
              table, tile parquet sink, fixture tile-JSON parser.
  functions/  pure Column-expression helpers (tile ids, cell assignment,
              mercator math, text analysis) — JVM-side, no Python UDFs.
  plans/      high-level engine APIs: GeoJSONVT index, geojson_to_tile,
              spatial joins (PIP, kNN), raster mosaic pipeline.
"""

from geojson_vt_rs_spark.config import Options, TileOptions

__all__ = ["Options", "TileOptions"]
__version__ = "0.1.0"
