"""Mosaic decode placement at REAL image sizes (r5 verdict item 5).

The bench's synthetic images are ~1.5 KB, where `decode_early=True`
(decode + nn-resample map-side, ship fixed 768-byte slot thumbnails
through the render exchange) costs an extra Arrow pass for no byte
savings — so it is opt-in.  The documented crossover is ~100 KB+
originals: there the exchange moves 100 KB-10 MB per surviving row
unless the thumbnail extraction runs first.  This tool measures BOTH
placements at BOTH size profiles, interleaved, and asserts the tiles
are byte-identical across placements (same rule as
tests/test_graft.py::test_mosaic_decode_early_identical).

Run: python tools/bench_mosaic_decode.py   (env: SPARK_GRAFT_CPUS,
MOSAIC_BENCH_N rows per profile, default 4000).  Prints one JSON line;
curated numbers go to BENCH.md.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd


def make_images(spark, n: int, sizes, partitions: int):
    """generate_images with a custom size table (the module's generator
    pins ~24-48 px sides; 192-256 px sides give 110-190 KB raw rows)."""
    from geojson_vt_rs_spark.sources.images import (
        IMAGE_SCHEMA,
        compute_phash,
        make_pixels,
    )
    from geojson_vt_rs_spark.sources.jpeg import encode_jpeg
    from geojson_vt_rs_spark.sources.png import encode_png

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                w = sizes[i % len(sizes)]
                h = sizes[(i // 3) % len(sizes)]
                rgb = make_pixels(i, w, h)
                fmt = ("png", "png", "jpeg", "raw")[i % 4]
                if fmt == "png":
                    data = encode_png(rgb)
                elif fmt == "jpeg":
                    data = encode_jpeg(rgb)
                else:
                    data = rgb.tobytes()
                rows.append(
                    dict(
                        image_id=f"img{i:08d}",
                        bytes=data,
                        w=w,
                        h=h,
                        fmt=fmt,
                        caption=f"caption for img{i:08d}",
                        phash=compute_phash(rgb),
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in IMAGE_SCHEMA.fields]
            )

    return spark.range(0, n, 1, partitions).mapInPandas(
        gen, schema=IMAGE_SCHEMA
    )


def main():
    from geojson_vt_rs_spark.operators.session import get_spark
    from geojson_vt_rs_spark.plans.checkpoint import cpu_ticks, steal_frac
    from geojson_vt_rs_spark.plans.spatial import (
        mosaic_tiles,
        with_cells,
        with_footprints,
    )

    import bench

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n = int(os.environ.get("MOSAIC_BENCH_N", "4000"))
    zoom = 5
    reps = 3
    spark = get_spark(app_name=f"mosdec-{time.monotonic_ns()}", cpus=cpus)
    bench.warm_python_workers(spark, cpus=cpus)

    profiles = {
        # the module generator's own sizes (~0.8-7 KB encoded rows)
        "toy": None,
        # 192-256 px sides: raw rows 110-190 KB, png/jpeg similar order
        "large": [192, 224, 256],
    }
    out = {"n_rows": n, "cpus": cpus, "zoom": zoom, "reps": reps}
    ticks0 = cpu_ticks()
    for name, sizes in profiles.items():
        if sizes is None:
            from geojson_vt_rs_spark.sources.images import generate_images

            raw = generate_images(spark, n, cpus * 2)
        else:
            raw = make_images(spark, n, sizes, cpus * 2)
        imgs = with_cells(with_footprints(raw), zoom).persist()
        imgs.count()
        avg_bytes = imgs.selectExpr("avg(length(bytes))").collect()[0][0]

        # identity across placements (byte-for-byte tiles)
        a = {
            (r["x"], r["y"]): bytes(r["tile_png"])
            for r in mosaic_tiles(imgs, zoom, decode_early=False).collect()
        }
        b = {
            (r["x"], r["y"]): bytes(r["tile_png"])
            for r in mosaic_tiles(imgs, zoom, decode_early=True).collect()
        }
        assert a == b, f"{name}: placements diverge"

        walls = {False: [], True: []}
        for _ in range(reps):
            for early in (False, True):
                t0 = time.time()
                mosaic_tiles(imgs, zoom, decode_early=early).write.format(
                    "noop"
                ).mode("overwrite").save()
                walls[early].append(round(time.time() - t0, 3))
        imgs.unpersist()
        med = lambda v: sorted(v)[len(v) // 2]
        out[name] = dict(
            avg_image_bytes=round(float(avg_bytes), 1),
            n_tiles=len(a),
            late_decode_sec=walls[False],
            early_decode_sec=walls[True],
            late_median=med(walls[False]),
            early_median=med(walls[True]),
        )
    out["steal_probe"] = steal_frac(ticks0, cpu_ticks())
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
