"""DataFrame schemas + Arrow serde between rows and core.VtFeature.

The flat-array encoding (SURVEY.md §1.4) keeps every geometry a single
row of primitive arrays — Arrow-friendly, no 4-deep nesting — so pandas
UDF batches hand numpy arrays straight to the core kernels, zero-copy in
the common case.  Top-level bbox/num_points columns exist so Catalyst
evaluates all pruning predicates (trivial accept/reject, stop
conditions) JVM-side before any Python is invoked.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from geojson_vt_rs_spark.core.geom import VtFeature

_arr = T.ArrayType


def _f(name, dtype, nullable=True):
    return T.StructField(name, dtype, nullable)


FEATURE_FIELDS = [
    _f("feature_seq", T.LongType()),
    _f("world_copy", T.IntegerType()),
    _f("slice_path", T.StringType()),
    _f("id_str", T.StringType()),
    _f("id_num", T.LongType()),
    _f("id_float", T.DoubleType()),
    _f("props_json", T.StringType()),
    _f("geom_type", T.IntegerType()),
    _f("xs", _arr(T.DoubleType())),
    _f("ys", _arr(T.DoubleType())),
    _f("zs", _arr(T.DoubleType())),
    _f("part_offsets", _arr(T.IntegerType())),
    _f("ring_offsets", _arr(T.IntegerType())),
    _f("gc_kinds", _arr(T.IntegerType())),
    _f("gc_part_offsets", _arr(T.IntegerType())),
    _f("part_dist", _arr(T.DoubleType())),
    _f("part_seg_start", _arr(T.DoubleType())),
    _f("part_seg_end", _arr(T.DoubleType())),
    _f("part_area", _arr(T.DoubleType())),
    _f("bbox_min_x", T.DoubleType()),
    _f("bbox_min_y", T.DoubleType()),
    _f("bbox_max_x", T.DoubleType()),
    _f("bbox_max_y", T.DoubleType()),
    _f("num_points", T.IntegerType()),
]

FEATURE_SCHEMA = T.StructType(FEATURE_FIELDS)

# CheckpointedPyramid tiles-table row schema (plans/checkpoint.py): feature
# rows carry the deterministic order-key columns (feature_idx NULL, ranked
# at read time); stats rows keep the feature_idx = -1 marker
TILE_STORE_SCHEMA = T.StructType(
    [
        _f("z", T.IntegerType()),
        _f("x", T.IntegerType()),
        _f("y", T.IntegerType()),
        _f("feature_idx", T.IntegerType()),
        _f("type", T.IntegerType()),
        _f("kind", T.IntegerType()),
        _f("geometry_json", T.StringType()),
        _f("tags_json", T.StringType()),
        _f("tile_id_str", T.StringType()),
        _f("tile_id_num", T.LongType()),
        _f("tile_id_float", T.DoubleType()),
        _f("tile_num_points", T.IntegerType()),
        _f("tile_num_simplified", T.IntegerType()),
        _f("action", T.StringType()),
        _f("world_copy", T.IntegerType()),
        _f("feature_seq", T.LongType()),
        _f("slice_path", T.StringType()),
        _f("sub_idx", T.IntegerType()),
    ]
)

# features flowing through the pyramid carry their tile assignment
TILED_FEATURE_SCHEMA = T.StructType(
    [
        _f("z", T.IntegerType(), False),
        _f("x", T.IntegerType(), False),
        _f("y", T.IntegerType(), False),
    ]
    + FEATURE_FIELDS
)

# rendered tile rows: one row per emitted tile feature plus one stats row
# (feature_idx = -1) per tile so empty tiles exist in the table
TILE_ROW_SCHEMA = T.StructType(
    [
        _f("z", T.IntegerType(), False),
        _f("x", T.IntegerType(), False),
        _f("y", T.IntegerType(), False),
        _f("feature_idx", T.IntegerType(), False),
        _f("type", T.IntegerType()),
        _f("kind", T.IntegerType()),
        _f("geometry_json", T.StringType()),
        _f("tags_json", T.StringType()),
        _f("id_str", T.StringType()),
        _f("id_num", T.LongType()),
        _f("id_float", T.DoubleType()),
        _f("num_points", T.IntegerType()),
        _f("num_simplified", T.IntegerType()),
    ]
)


def feature_to_row(f: VtFeature) -> dict:
    return dict(
        feature_seq=f.feature_seq,
        world_copy=f.world_copy,
        slice_path=f.slice_path,
        id_str=f.id_str,
        id_num=f.id_num,
        id_float=f.id_float,
        props_json=f.props_json,
        geom_type=f.geom_type,
        xs=f.xs,
        ys=f.ys,
        zs=f.zs,
        part_offsets=f.part_offsets,
        ring_offsets=f.ring_offsets,
        gc_kinds=None if f.gc_kinds is None else f.gc_kinds.astype(np.int32),
        gc_part_offsets=f.gc_part_offsets,
        part_dist=f.part_dist,
        part_seg_start=f.part_seg_start,
        part_seg_end=f.part_seg_end,
        part_area=f.part_area,
        bbox_min_x=f.bbox[0],
        bbox_min_y=f.bbox[1],
        bbox_max_x=f.bbox[2],
        bbox_max_y=f.bbox[3],
        num_points=f.num_points,
    )


def _np(v, dtype):
    if v is None:
        return None
    return np.asarray(v, dtype=dtype)


def features_to_pdf(features: list, extra: Optional[dict] = None) -> pd.DataFrame:
    """Column-wise assembly (dict-of-lists) — avoids per-cell boxing.
    ``id_num`` is a nullable Int64 column: ints mixed with None would
    make it float64 and round ids above 2**53."""
    names = [f.name for f in FEATURE_SCHEMA.fields]
    data: dict = {n: [] for n in names}
    for f in features:
        row = feature_to_row(f)
        for n in names:
            data[n].append(row[n])
    data["id_num"] = pd.array(data["id_num"], dtype="Int64")
    cols = names
    if extra:
        n_rows = len(features)
        for k, v in extra.items():
            data[k] = [v] * n_rows
        cols = list(extra.keys()) + names
    return pd.DataFrame(data, columns=cols)


_F8_COLS = ("xs", "ys", "zs", "part_dist", "part_seg_start", "part_seg_end",
            "part_area")

_ARRAY_COLS = frozenset(
    f.name for f in FEATURE_SCHEMA.fields if isinstance(f.dataType, T.ArrayType)
)


def _cell_to_list(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    if isinstance(v, np.ndarray):
        return v.tolist()
    if isinstance(v, list):
        return v
    return list(v)


_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def sanitize_pdf(pdf: pd.DataFrame, schema: Optional[T.StructType] = None) -> pd.DataFrame:
    """Make a driver-side pandas frame acceptable to the NON-Arrow
    ``createDataFrame`` verifier.

    PySpark's non-Arrow path type-verifies every element and rejects
    (a) ``numpy.float64`` inside an ``array<double>`` cell and (b) the
    float NaN that pandas uses for nulls in upcast int/string columns.
    The engine's own sessions enable Arrow, but external sessions (the
    driver harness) may not — sanitize before any driver-side
    ``createDataFrame``.  Worker-side mapInPandas output always goes
    through Arrow and keeps numpy (fast path).
    """
    out = pdf.copy(deep=False)
    types = {f.name: f.dataType for f in schema.fields} if schema is not None else {}
    for col in out.columns:
        dt = types.get(col)
        if col in _ARRAY_COLS or isinstance(dt, T.ArrayType):
            out[col] = [_cell_to_list(v) for v in out[col]]
        elif isinstance(dt, _INT_TYPES):
            # pandas upcasts nullable ints to float64: NaN -> None, 5.0 -> 5;
            # kept as object cells (a list of ints and None would go back
            # to float64 and round values above 2**53, e.g. Int64 ids)
            out[col] = pd.Series([None if pd.isna(v) else int(v)
                                  for v in out[col]], index=out.index,
                                 dtype=object)
        elif isinstance(dt, (T.DoubleType, T.FloatType)):
            # pandas uses NaN for null doubles; the engine never produces
            # NaN values, so NaN here always means NULL (e.g. id_float);
            # kept as object cells (a list of floats and None would go
            # back to float64 NaN, which the verifier keeps as a value)
            out[col] = pd.Series([None if pd.isna(v) else float(v)
                                  for v in out[col]], index=out.index,
                                 dtype=object)
        elif isinstance(dt, T.StringType):
            out[col] = [v if isinstance(v, str) else None for v in out[col]]
    return out


def create_feature_df(spark, pdf: pd.DataFrame, schema):
    """Driver-side pandas -> DataFrame that works with or without Arrow.

    Arrow sessions (the engine's own) take the fast path: Arrow converts
    numpy-array cells and NaN nulls natively, so the per-cell sanitize —
    which exists for the NON-Arrow verifier in external sessions (the
    driver harness) — would only burn driver CPU (it dominated the
    large-input drill-down: per-cell tolist over 10^5-row leaf frames).
    Arrow conversion errors fall back to the sanitized path (conversion
    happens eagerly at createDataFrame, so failures surface here)."""
    try:
        arrow_on = (
            spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
            == "true"
        )
    except Exception:
        arrow_on = False
    if arrow_on:
        try:
            return spark.createDataFrame(pdf, schema=schema)
        except Exception:
            pass  # e.g. a cell shape Arrow rejects: sanitize and retry
    return spark.createDataFrame(sanitize_pdf(pdf, schema), schema=schema)


def _sql_lit(v) -> Optional[str]:
    """One VALUES cell as a SQL literal; None when unrepresentable."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        if v != v or v in (float("inf"), float("-inf")):
            return None  # keep NaN/inf semantics to the RDD path
        return f"CAST({float(v)!r} AS DOUBLE)"
    if isinstance(v, str):
        if any(ord(c) < 0x20 for c in v):
            return None
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return None


def local_relation_df(spark, rows, schema: str, max_rows: int = 4096):
    """Small driver-side row list -> LocalRelation-backed DataFrame.

    ``spark.createDataFrame(list)`` parallelizes into defaultParallelism
    slices, so BROADCASTING such a table runs a many-task Python-
    roundtrip job just to collect it back (0.3-1.3 s/use measured on
    local[32]).  A literal VALUES scan is a LocalTableScan: broadcasts
    materialize driver-side with no job.  Rows the literal syntax cannot
    express (control chars, NaN) and oversized inputs fall back to a
    single-slice parallelize (one-task build job, bounded plan text)."""
    if "<" in schema:
        # nested types embed commas — the naive DDL split below would
        # mangle them; such tables take the RDD path
        if not rows:
            return spark.createDataFrame(rows, schema)
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schema
        )
    names = [c.split()[0] for c in schema.split(",")]
    if rows and len(rows) <= max_rows:
        tuples = []
        for r in rows:
            lits = [_sql_lit(v) for v in r]
            if any(x is None for x in lits):
                tuples = None
                break
            tuples.append("(" + ",".join(lits) + ")")
        if tuples is not None:
            cast_cols = ", ".join(
                f"CAST({n} AS {t.strip().split(' ', 1)[1]}) AS {n}"
                for n, t in zip(names, schema.split(","))
            )
            return spark.sql(
                f"SELECT {cast_cols} FROM (VALUES {', '.join(tuples)}) "
                f"AS t({', '.join(names)})"
            )
    if not rows:
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def pdf_to_features(pdf: pd.DataFrame) -> Iterator[VtFeature]:
    """Columnar fast path: index numpy object arrays directly instead of
    materializing per-row dicts (to_dict boxes every cell)."""
    n = len(pdf)
    if n == 0:
        return
    c = {name: pdf[name].to_numpy() for name in
         ("feature_seq", "world_copy", "slice_path", "id_str", "id_num",
          "id_float",
          "props_json", "geom_type", "xs", "ys", "zs", "part_offsets",
          "ring_offsets", "gc_kinds", "gc_part_offsets", "part_dist",
          "part_seg_start", "part_seg_end", "part_area", "bbox_min_x",
          "bbox_min_y", "bbox_max_x", "bbox_max_y", "num_points")}
    for i in range(n):
        gk = c["gc_kinds"][i]
        props = c["props_json"][i]
        id_str = c["id_str"][i]
        id_num = c["id_num"][i]
        id_float = c["id_float"][i]
        yield VtFeature(
            geom_type=int(c["geom_type"][i]),
            xs=_np(c["xs"][i], np.float64),
            ys=_np(c["ys"][i], np.float64),
            zs=_np(c["zs"][i], np.float64),
            part_offsets=_np(c["part_offsets"][i], np.int32),
            ring_offsets=_np(c["ring_offsets"][i], np.int32),
            gc_kinds=None if gk is None else np.asarray(gk, dtype=np.int8),
            gc_part_offsets=_np(c["gc_part_offsets"][i], np.int32),
            part_dist=_np(c["part_dist"][i], np.float64),
            part_seg_start=_np(c["part_seg_start"][i], np.float64),
            part_seg_end=_np(c["part_seg_end"][i], np.float64),
            part_area=_np(c["part_area"][i], np.float64),
            props_json=props if isinstance(props, str) else None,
            id_str=id_str if isinstance(id_str, str) else None,
            id_num=int(id_num) if id_num is not None and pd.notna(id_num) else None,
            id_float=(
                float(id_float)
                if id_float is not None and pd.notna(id_float)
                else None
            ),
            feature_seq=int(c["feature_seq"][i]),
            world_copy=int(c["world_copy"][i]),
            slice_path=c["slice_path"][i] or "",
            bbox=(
                float(c["bbox_min_x"][i]),
                float(c["bbox_min_y"][i]),
                float(c["bbox_max_x"][i]),
                float(c["bbox_max_y"][i]),
            ),
            num_points=int(c["num_points"][i]),
        )
