#!/usr/bin/env python
"""Image-codec decode scale bench (~48k images across 4 container formats).

image_pixel_stats_docs proves codec semantics under the correctness gate
at fixture scale; this is the scale point for the image family: a
deterministic binary-column corpus large enough that the Arrow decode
stage runs on every core, one closed-form assertion per row.

Every image is 32x32 gray with 8x8-constant tiles: tile t of image v has
value (v*31 + t*17) % 256, so each image's luma sum is the exact integer
64 * sum_t((v*31 + t*17) % 256) for EVERY format — PNG/GIF/BMP are
lossless and tile-constant JPEG with the all-8s quant table round-trips
bit-exactly (operators/jpeg_codec.py docstring). Format assignment is
v % 4: 0=png, 1=gif, 2=jpeg (baseline), 3=bmp, with every 8th jpeg
written progressive instead — both entropy modes under load.

Steal-gated with event-log attribution (bench_util). Writes
BENCH/IMAGE_SCALE.md at full scale; prints ONE JSON line. Usage:
`python bench_images.py [--scale S]`.
"""

from __future__ import annotations

import collections
from datetime import date

import bench_util

SCALE = bench_util.cli().scale
N_IMG = bench_util.scaled(48_000, SCALE)
W = H = 32
TILES = (H // 8) * (W // 8)


def expected_luma_sum(v: int) -> int:
    return 64 * sum((v * 31 + t * 17) % 256 for t in range(TILES))


def make_images(spark):
    import numpy as np
    import pandas as pd

    def gen(batches):
        from delm_spark.operators.image_codec import encode_bmp, encode_gif, encode_png
        from delm_spark.operators.jpeg_codec import encode_jpeg, encode_jpeg_progressive

        for pdf in batches:
            out = []
            for v in pdf["id"]:
                v = int(v)
                tiles = np.array(
                    [(v * 31 + t * 17) % 256 for t in range(TILES)], np.uint8
                ).reshape(H // 8, W // 8)
                gray = np.repeat(np.repeat(tiles, 8, 0), 8, 1)
                fmt = v % 4
                if fmt == 0:
                    payload = encode_png(gray[:, :, None])
                elif fmt == 1:
                    payload = encode_gif(np.repeat(gray[:, :, None], 3, axis=2))
                elif fmt == 2:
                    enc = encode_jpeg_progressive if (v // 4) % 8 == 0 else encode_jpeg
                    payload = enc(gray[:, :, None])
                else:
                    payload = encode_bmp(np.repeat(gray[:, :, None], 3, axis=2))
                out.append((f"m{v:08d}", v, payload))
            yield pd.DataFrame(out, columns=["media_id", "v", "content"])

    return (
        spark.range(N_IMG)
        .repartition(256)
        .mapInPandas(gen, "media_id string, v long, content binary")
    )


def main() -> None:
    from pyspark.sql import functions as F

    from delm_spark.operators.multimodal import image_pixel_stats

    spark, evdir = bench_util.session("images")
    media, n = bench_util.corpus(spark, f"img_corpus_{N_IMG}", make_images)

    def phase_decode():
        stats = image_pixel_stats(media.select("media_id", "v", "content"))
        return {"by_format": (
            stats.withColumn(
                "luma_sum",
                F.round(F.col("mean_luma").cast("double") * F.col("n_pixels")).cast(
                    "long"
                ),
            )
            .groupBy("format")
            .agg(
                F.count("*").alias("rows"),
                F.sum("luma_sum").alias("luma_total"),
                F.sum(F.col("n_pixels")).alias("px"),
            )
            .collect()
        )}

    (run,), _ = bench_util.run_phases(spark, evdir, [("image_pixel_stats", phase_decode)])
    phase = run["phases"][0]
    wall, steal, agg = phase["wall_sec"], run["steal_pct"], phase["by_format"]

    by_fmt = {r["format"]: r for r in agg}
    # closed-form totals per format
    want = collections.Counter()
    want_rows = collections.Counter()
    fmt_of = {0: "png", 1: "gif", 2: "jpeg", 3: "bmp"}
    for v in range(N_IMG):
        f = fmt_of[v % 4]
        want[f] += expected_luma_sum(v)
        want_rows[f] += 1
    ok = all(
        by_fmt[f]["rows"] == want_rows[f]
        and by_fmt[f]["luma_total"] == want[f]
        and by_fmt[f]["px"] == want_rows[f] * W * H
        for f in fmt_of.values()
    )
    result = {
        "metric": "image_decode_scale",
        "n_images": n,
        "wall_sec": wall,
        "images_per_sec": round(n / wall, 1),
        "steal_pct": steal,
        "steal_gate_met": run["steal_gate_met"],
        "closed_form_luma_match": ok,
        "per_format_rows": {f: by_fmt[f]["rows"] for f in fmt_of.values()},
    }
    md = f"""# BENCH — image-codec decode at scale

Generated {date.today()} by bench_images.py. {n:,} 32x32 images
(PNG / GIF / JPEG / BMP, round-robin by id; every 8th JPEG written
progressive), all decoded by the pure-stdlib/numpy codecs inside ONE
Arrow `image_pixel_stats` pass on local[{spark.sparkContext.defaultParallelism}].

| images | wall s | images/s | steal% | closed-form luma match |
|---|---|---|---|---|
| {n:,} | {wall} | {round(n / wall, 1):,} | {steal} | {ok} |

Every row is verified: per-format group sums of the decoded luma equal
the closed-form integer totals derived from the generator parameters
(tile-constant gray images are bit-exact through all four codecs,
including the JPEG DCT path with the all-8s quantization table), so a
single wrong pixel anywhere in {n:,} decodes would fail the gate.

Throughput context: these are correctness-path codecs (bit-serial
Python entropy coding); a production corpus plugs libjpeg/Pillow through
the same `decoder` seam. The number that matters at 100 TB is that the
stage is embarrassingly parallel — one Arrow batch per task, zero
shuffle — so codec swap changes the constant, not the shape.
"""
    # a wrong decode fails the run before the report can rewrite BENCH/
    assert ok, f"decoded luma totals differ from the closed form: {result}"
    bench_util.report("IMAGE_SCALE", result, md, SCALE == 1)


if __name__ == "__main__":
    main()
