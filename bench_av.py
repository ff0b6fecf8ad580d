#!/usr/bin/env python
"""Multimodal decode scale bench (~200k audio clips + ~20k videos).

The CORRECTNESS queries (audio_features_docs, video_frame_sample_docs,
image_pixel_stats_docs) prove the stdlib codecs' semantics at fixture
scale; this is the scale evidence point for the media family: a
deterministic binary-column corpus large enough that the Arrow decode
stages run on every core, with every checked feature closed-form:

- audio: N_WAV 1000-sample 8 kHz PCM WAV clips; sample i of clip v is
  ((v*7 + i*13) % 256 - 128) << 8, so each clip's amplitude sum is an
  exact numpy-recomputable integer (asserted for a 200-clip sample) and
  the global (n_samples, duration) profile is constant (asserted for all).
  Clip payloads repeat with period N_DISTINCT, giving the dedup phase a
  closed-form survivor count.
- video: N_AVI 8-frame 16x16 uncompressed-DIB AVIs; frame f of video v
  is the constant gray (v*31 + f*17) % 256, so every sampled frame's
  mean_luma must equal that constant exactly (gray => float32-exact luma).
- dedup: media_dedup_by_content over the audio corpus keeps exactly
  N_DISTINCT rows.

Per-phase wall and event-log attribution (bench_util). Writes
BENCH/AV_SCALE.md at full scale; prints ONE JSON line. Usage:
`python bench_av.py [--scale S]`.
"""

from __future__ import annotations

from datetime import date

import bench_util

SCALE = bench_util.cli().scale
# a multiple of 1000: the amplitude probe samples every 1000th clip
N_WAV = bench_util.scaled(200_000, SCALE, 1000)
N_DISTINCT = bench_util.scaled(180_000, SCALE)
N_AVI = bench_util.scaled(20_000, SCALE)
WAV_SAMPLES = 1000
AVI_FRAMES, AVI_W = 8, 16


def _wav_samples(v: int):
    import numpy as np

    s = (
        ((np.arange(WAV_SAMPLES, dtype=np.int64) * 13 + v * 7) % 256 - 128) << 8
    ).astype(np.int16)
    # the modular pattern alone repeats with period 256 in v; embed v in
    # the first two samples so payloads are distinct exactly per clip id
    # (and clips v and v + N_DISTINCT stay byte-identical for the dedup
    # phase, since the generator passes v % N_DISTINCT)
    s[0] = v & 0x7FFF
    s[1] = (v >> 15) & 0x7FFF
    return s


def make_wavs(spark):
    import pandas as pd

    def gen(batches):
        from delm_spark.operators.av_codec import encode_wav

        for pdf in batches:
            ids = pdf["id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": [f"a{v:08d}" for v in ids],
                    "content": [
                        encode_wav(_wav_samples(int(v) % N_DISTINCT), 8000)
                        for v in ids
                    ],
                }
            )

    return spark.range(
        0, N_WAV, 1, spark.sparkContext.defaultParallelism * 2
    ).mapInPandas(gen, schema="media_id string, content binary")


def make_avis(spark):
    import pandas as pd

    def gen(batches):
        import numpy as np

        from delm_spark.operators.av_codec import encode_avi

        for pdf in batches:
            ids = pdf["id"].astype("int64")
            out = []
            for v in ids:
                frames = [
                    np.full(
                        (AVI_W, AVI_W, 3), (int(v) * 31 + f * 17) % 256, np.uint8
                    )
                    for f in range(AVI_FRAMES)
                ]
                out.append((f"v{v:08d}", encode_avi(frames, fps=5)))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    return spark.range(
        0, N_AVI, 1, spark.sparkContext.defaultParallelism * 2
    ).mapInPandas(gen, schema="media_id string, content binary")


def main() -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from delm_spark.operators.multimodal import (
        audio_features,
        media_dedup_by_content,
        video_frame_stats,
    )

    spark, evdir = bench_util.session("av")
    wavs, n_wav = bench_util.corpus(spark, f"av_wavs_{N_WAV}_{N_DISTINCT}", make_wavs)
    avis, n_avi = bench_util.corpus(spark, f"av_avis_{N_AVI}", make_avis)
    assert (n_wav, n_avi) == (N_WAV, N_AVI), (n_wav, n_avi)

    def phase_audio():
        feats = audio_features(wavs)
        agg = feats.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("format") == "wav", 1).otherwise(0)).alias("ok"),
            F.countDistinct("n_samples").alias("k_ns"),
            F.min("n_samples").alias("ns"),
            F.countDistinct("duration_ms").alias("k_dur"),
            F.min("duration_ms").alias("dur"),
        ).collect()[0]
        assert agg["n"] == N_WAV and agg["ok"] == N_WAV, agg
        assert (agg["k_ns"], agg["ns"]) == (1, WAV_SAMPLES), agg
        assert (agg["k_dur"], agg["dur"]) == (1, 125), agg
        # exact per-clip amplitude sums for a deterministic 200-clip sample
        probe = {
            r["media_id"]: r["sample_sum"]
            for r in feats.filter(
                F.col("media_id").substr(-3, 3) == "000"
            ).collect()
        }
        assert len(probe) == N_WAV // 1000
        for mid, got in probe.items():
            v = int(mid[1:]) % N_DISTINCT
            assert got == int(_wav_samples(v).astype(np.int64).sum()), mid
        return {"clips": N_WAV}

    def phase_video():
        vf = video_frame_stats(avis, every_k=2)
        expected = (
            F.expr("cast(substring(media_id, 2) as long)") * 31
            + F.col("frame_idx") * 17
        ) % 256
        agg = vf.agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    # float32 luma of constant gray v is within 1 ULP of v
                    # (1.53e-5 at v=255); 1e-4 is 4 orders below the 1.0
                    # spacing of planted values
                    F.abs(F.col("mean_luma") - expected) > F.lit(1e-4), 1
                ).otherwise(0)
            ).alias("bad_luma"),
            F.sum(
                F.when(
                    (F.col("n_frames") != AVI_FRAMES) | (F.col("fps") != 5), 1
                ).otherwise(0)
            ).alias("bad_meta"),
        ).collect()[0]
        assert agg["n"] == N_AVI * 4, agg  # frames 0,2,4,6 sampled
        assert agg["bad_luma"] == 0 and agg["bad_meta"] == 0, agg
        return {"frames": int(agg["n"])}

    def phase_dedup():
        n = media_dedup_by_content(wavs).count()
        assert n == N_DISTINCT, n
        return {"survivors": int(n)}

    phases = [
        ("audio_decode_features", phase_audio),
        ("video_decode_frame_sample", phase_video),
        ("media_dedup_sha256", phase_dedup),
    ]

    (run,), _ = bench_util.run_phases(spark, evdir, phases)
    audio = run["phases"][0]
    audio["clips_per_sec"] = round(audio["clips"] / audio["wall_sec"], 1)
    cores = spark.sparkContext.defaultParallelism
    summary = {
        "n_wav": n_wav,
        "n_avi": n_avi,
        "n_distinct": N_DISTINCT,
        "cores": cores,
        **run,
    }

    rows = "\n".join(
        f"| {r['phase']} | {r['wall_sec']} | {r['shuffle_write_mb']} | {r['n_jobs']} |"
        for r in run["phases"]
    )
    md = f"""# BENCH — multimodal decode at {n_wav:,} audio clips / {n_avi:,} videos

Generated {date.today().isoformat()} by bench_av.py on local[{cores}]
(steal gate <= {bench_util.STEAL_GATE}%: {'MET' if run['steal_gate_met'] else 'NOT met — walls are upper bounds'}; best-attempt steal {run['steal_pct']}%).

Corpus: {n_wav:,} 1000-sample PCM WAV clips (~2 KB each; payloads repeat
with period {N_DISTINCT:,}) and {n_avi:,} 8-frame 16x16 uncompressed-DIB
AVIs, every feature closed-form from the generator and asserted in-run
(constant (n_samples, duration) profile over all clips, exact amplitude
sums on a {N_WAV // 1000}-clip sample, per-frame mean_luma equal to the
planted gray constant on all {n_avi * 4:,} sampled frames, dedup
survivor count exactly {N_DISTINCT:,}). Same operators as the
oracle-checked demos (audio_features, video_frame_stats every_k=2,
media_dedup_by_content).

| phase | wall (s) | shuffle write (MB) | jobs |
|---|---|---|---|
{rows}

Audio decode throughput: **{audio['clips_per_sec']:,} clips/sec**
({cores} cores, RIFF parse + int16 feature pass per clip inside one
Arrow-batched mapInPandas stage).

100-TB read: decode is embarrassingly parallel — both feature stages are
single mapInPandas passes with NO shuffle before the final aggregation
(the shuffle column above is the few-KB partial-agg exchange), so
scale-out is bounded by scan bandwidth, not coordination. Media rows are
large; on a real corpus `spark.sql.files.maxPartitionBytes` (or an
explicit repartition by count, as here) sizes Arrow batches to tens of
payloads. The dedup phase shuffles 32-byte sha256 keys + ids, never
payload bytes, via the same WindowGroupLimit survivor pattern as
exact_dedup_docs.
"""
    bench_util.report("AV_SCALE", summary, md, SCALE == 1)


if __name__ == "__main__":
    main()
