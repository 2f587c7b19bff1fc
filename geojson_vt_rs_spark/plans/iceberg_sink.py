"""Iceberg-shaped tile sink (SURVEY §1.4/§2.1: tile index as
"Parquet/Iceberg PARTITIONED BY (z)"; reference memo-table semantics
/root/reference/src/lib.rs:145-150,184-223).

Production pattern: Spark writes the level's parquet files DISTRIBUTED
(exactly as the staged-rename protocol does — the data path never
funnels through the driver), then ONE metadata-only snapshot commit
registers those files in the Iceberg table (`add_files`).  The snapshot
is the commit point and carries the level manifest in its summary
properties, subsuming the JSON manifest: readers see a level's rows
atomically or not at all, resume enumerates committed levels from the
snapshot log, and a crash between the file write and the commit leaves
only unreferenced files (invisible; swept by table maintenance).

This container has no `pyiceberg`, so the writer is IMPORT-GUARDED and
untested here (documented); `CheckpointedPyramid` keeps the staged-
rename + JSON-manifest protocol as both the fallback and the tested
source of truth.  The pyiceberg surface used is deliberately minimal
(pyiceberg >= 0.6: SqlCatalog, create_table_if_not_exists, add_files,
snapshot summary properties).
"""

from __future__ import annotations

import glob
import json
import os
from typing import Optional

_MANIFEST_PROP = "spark-graft-manifest"


def iceberg_available() -> bool:
    try:
        import pyiceberg  # noqa: F401

        return True
    except ImportError:
        return False


class IcebergTileSink:
    """Snapshot-commit layer over the pyramid's published level dirs.

    One Iceberg table per store dir (tiles + leaves as two tables),
    local SqlCatalog warehouse under ``<out_dir>/_iceberg`` by default —
    swap ``catalog_kwargs`` for a REST/Glue catalog in production.
    """

    def __init__(self, out_dir: str, catalog_kwargs: Optional[dict] = None):
        if not iceberg_available():
            raise ImportError(
                "pyiceberg is not installed; CheckpointedPyramid falls "
                "back to the staged-rename + JSON-manifest protocol"
            )
        from pyiceberg.catalog.sql import SqlCatalog

        self.out_dir = out_dir
        wh = os.path.join(out_dir, "_iceberg")
        os.makedirs(wh, exist_ok=True)
        kw = catalog_kwargs or {
            "uri": f"sqlite:///{wh}/catalog.db",
            "warehouse": f"file://{wh}",
        }
        self.catalog = SqlCatalog("spark_graft", **kw)
        try:
            self.catalog.create_namespace("tiles_db")
        except Exception:
            pass  # already exists

    def _fallback_schema(self, name: str):
        """Arrow schema for an all-empty first level (no data file to
        sample): derived from the engine's stable row schemas, minus the
        ``z`` hive-partition column the parquet files never contain."""
        from geojson_vt_rs_spark.operators.pipeline import z_part_schema
        from geojson_vt_rs_spark.operators.schema import (
            TILE_STORE_SCHEMA,
            TILED_FEATURE_SCHEMA,
        )

        return z_part_schema(
            TILE_STORE_SCHEMA if name == "tiles" else TILED_FEATURE_SCHEMA
        )

    def _table(self, name: str, sample_parquet: Optional[str]):
        """Load or create the table with the schema of the first data
        file (the engine's schemas are stable across levels); an
        all-empty first level falls back to the engine schema."""
        import pyarrow.parquet as pq
        from pyiceberg.exceptions import NoSuchTableError

        ident = f"tiles_db.{name}"
        try:
            return self.catalog.load_table(ident)
        except NoSuchTableError:
            schema = (
                pq.read_schema(sample_parquet)
                if sample_parquet is not None
                else self._fallback_schema(name)
            )
            return self.catalog.create_table(ident, schema=schema)

    def commit_level(self, name: str, level_dir: str, manifest: dict) -> None:
        """Register the published level dir's parquet files as ONE
        snapshot whose summary carries the level manifest — the atomic
        commit point replacing the JSON manifest file.  A level with no
        parquet files (all-empty tiles) still commits its manifest."""
        files = sorted(
            glob.glob(os.path.join(level_dir, "**", "*.parquet"), recursive=True)
        ) if level_dir else []
        table = self._table(name, files[0] if files else None)
        with table.transaction() as tx:
            if files:
                tx.add_files(file_paths=files)
            tx.set_properties(
                {
                    f"{_MANIFEST_PROP}-{manifest['level']}": json.dumps(
                        manifest, sort_keys=True
                    )
                }
            )

    def read_manifest(self, name: str, level: int) -> Optional[dict]:
        from pyiceberg.exceptions import NoSuchTableError

        try:
            table = self.catalog.load_table(f"tiles_db.{name}")
        except NoSuchTableError:
            return None
        raw = table.properties.get(f"{_MANIFEST_PROP}-{level}")
        return None if raw is None else json.loads(raw)
