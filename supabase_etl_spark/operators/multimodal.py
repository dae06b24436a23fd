"""Multimodal column operators (SURVEY.md §2.2 "multimodal columns").

Convention: media travel as opaque ``binary`` payload columns beside
typed metadata — ``(uri string, content binary, mime string,
meta struct<...>)`` — exactly how a 100 TB image/audio/video corpus
lives in parquet (the bytes stay columnar, codecs run in Arrow-batched
Python, Spark never interprets them).

The container has no media libraries, so — following the Avro-codec
precedent (jar absent ⇒ implement the public spec) — the decode step
runs on the engine's own pure-Python raster codecs
(``operators/imagecodec.py``: PPM/BMP per their public layouts, PNG per
RFC 2083).  Feature extraction and resize therefore operate on REAL
decoded pixels; the oracle replays the deterministic pixel synthesis
(not the codec) in SQL, so a wrong decode is a hash mismatch.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from supabase_etl_spark.operators import imagecodec as IC

FRAME_BYTES = 1024  # fake "video": 1 KiB per frame

# Deterministic image-synthesis parameters (replayed by the SQL oracle):
#   seed  = doc_id % SEED_MOD
#   w     = DIM_BASE + doc_id % DIM_SPAN
#   h     = DIM_BASE + (doc_id * 5 + 3) % DIM_SPAN
#   v(x,y,c) = (seed + 3x + 5y + 7c) % 256
SEED_MOD = 251
DIM_BASE = 8
DIM_SPAN = 9  # dims in [8, 16]
IMG_RESIZE_TARGET = 12  # aspect-preserving max dim for the real resize


def sniff_mime(content: Column) -> Column:
    """Magic-byte MIME sniffing on the payload prefix (hex-compare —
    pure JVM expression, no Python)."""
    prefix = F.upper(F.hex(F.substring(content, 1, 4)))
    return (
        F.when(prefix.startswith("FFD8FF"), F.lit("image/jpeg"))
        .when(prefix.startswith("89504E47"), F.lit("image/png"))
        .when(prefix.startswith("424D"), F.lit("image/bmp"))
        .when(prefix.startswith("5036"), F.lit("image/x-portable-pixmap"))
        .when(prefix.startswith("47494638"), F.lit("image/gif"))
        .when(prefix.startswith("50415231"), F.lit("application/vnd.apache.parquet"))
        .when(prefix.startswith("4F676753"), F.lit("audio/ogg"))
        .when(prefix.startswith("52494646"), F.lit("audio/x-wav"))  # RIFF
        .otherwise(F.lit("application/octet-stream"))
    )


decode_image = IC.decode_image  # magic-byte dispatch → (w, h, channels, pixels)


def synth_params(doc_id: int) -> tuple[int, int, int, int]:
    """(seed, width, height, format_id) for the deterministic image
    fixture derived from a document id; format_id 0=PNG, 1=BMP, 2=PPM."""
    return (
        doc_id % SEED_MOD,
        DIM_BASE + doc_id % DIM_SPAN,
        DIM_BASE + (doc_id * 5 + 3) % DIM_SPAN,
        doc_id % 3,
    )


def synth_rgb(seed: int, width: int, height: int) -> bytes:
    """Row-major RGB ramp v(x,y,c) = (seed + 3x + 5y + 7c) % 256 —
    trivially replayable in SQL with two range cross joins."""
    return bytes(
        (seed + 3 * x + 5 * y + 7 * c) % 256
        for y in range(height)
        for x in range(width)
        for c in range(3)
    )


_ENCODERS = (IC.encode_png, IC.encode_bmp, IC.encode_ppm)


def generate_images(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas fixture generator: one real encoded image per input
    row (format round-robins PNG/BMP/PPM by id). This is the ingest
    stand-in for a binaryFile scan over a media lake — bytes are real
    container files the decoders must actually parse."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            uris, contents = [], []
            for doc_id in pdf[id_col]:
                seed, w, h, fmt = synth_params(int(doc_id))
                uris.append(f"doc://{doc_id}")
                contents.append(_ENCODERS[fmt](w, h, synth_rgb(seed, w, h)))
            yield pd.DataFrame({"uri": uris, "content": contents})

    return df.mapInPandas(run, schema="uri string, content binary")


def extract_features(df: DataFrame, content_col: str = "content") -> DataFrame:
    """mapInPandas feature extraction over REAL decoded pixels: each
    payload is parsed by the engine's raster codecs, then two exact
    pixel moments (Σv and Σ(x+2y)·v) are computed from the decoded
    buffer. Arrow batches in, one row out per image — the decode stage
    is CPU-local and embarrassingly parallel, the 100 TB shape."""
    schema = (
        "uri string, n_bytes long, "
        "feat struct<width: int, height: int, channels: int, "
        "pixel_sum: long, pixel_wsum: long>"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for content in pdf[content_col]:
                w, h, ch, px = IC.decode_image(bytes(content))
                psum = 0
                wsum = 0
                for y in range(h):
                    for x in range(w):
                        base = (y * w + x) * ch
                        for c in range(ch):
                            v = px[base + c]
                            psum += v
                            wsum += (x + 2 * y) * v
                feats.append(
                    {
                        "width": w,
                        "height": h,
                        "channels": ch,
                        "pixel_sum": psum,
                        "pixel_wsum": wsum,
                    }
                )
            yield pd.DataFrame(
                {
                    "uri": pdf["uri"],
                    "n_bytes": pdf[content_col].map(len),
                    "feat": feats,
                }
            )

    return df.mapInPandas(run, schema=schema)


def sample_frames(df: DataFrame, every_k: int, content_col: str = "content") -> DataFrame:
    """Frame sampling for fake "video" payloads: split bytes into
    FRAME_BYTES chunks, keep every k-th, emit (uri, frame_idx,
    frame_md5). One-to-many mapInPandas — the decode-free skeleton of
    ffmpeg-style frame extraction."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            uris, idxs, hashes = [], [], []
            for uri, content in zip(pdf["uri"], pdf[content_col]):
                n_frames = max(1, -(-len(content) // FRAME_BYTES))
                for i in range(0, n_frames, every_k):
                    chunk = content[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                    uris.append(uri)
                    idxs.append(i)
                    hashes.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame({"uri": uris, "frame_idx": idxs, "frame_md5": hashes})

    return df.mapInPandas(run, schema="uri string, frame_idx int, frame_md5 string")


def resize_plan(
    df: DataFrame,
    content_col: str = "content",
    target: int = IMG_RESIZE_TARGET,
) -> DataFrame:
    """mapInPandas REAL resize: decode the payload with the engine's
    raster codecs, nearest-neighbor-resample the actual pixel buffer to
    an aspect-preserving max dimension, and emit the resized pixel sum
    (an exact moment the SQL oracle replays through the same integer
    index mapping dst(x,y)=src(x·w//nw, y·h//nh)). Arrow batches in,
    one row out per image; integer-only math end to end."""
    schema = (
        "uri string, width int, height int, new_width int, new_height int, "
        "new_bytes long, resized_sum long"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "uri": [], "width": [], "height": [],
                "new_width": [], "new_height": [],
                "new_bytes": [], "resized_sum": [],
            }
            for uri, content in zip(pdf["uri"], pdf[content_col]):
                w, h, ch, px = IC.decode_image(bytes(content))
                m = max(w, h)
                if m <= target:
                    nw, nh = w, h
                else:
                    nw = max(1, w * target // m)
                    nh = max(1, h * target // m)
                resized = IC.resize_nearest(w, h, ch, px, nw, nh)
                out["uri"].append(uri)
                out["width"].append(w)
                out["height"].append(h)
                out["new_width"].append(nw)
                out["new_height"].append(nh)
                out["new_bytes"].append(len(resized))
                out["resized_sum"].append(sum(resized))
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=schema)


# --- audio (WAV PCM via operators/audiocodec.py) ------------------------

AUDIO_RATE = 8000
AUDIO_LEN_BASE = 400
AUDIO_LEN_SPAN = 201  # n_samples in [400, 600]
AUDIO_AMP_MOD = 4001  # samples in [-2000, 2000]


def synth_audio_params(doc_id: int) -> tuple[int, int]:
    """(seed, n_samples) for the deterministic PCM fixture."""
    return doc_id % SEED_MOD, AUDIO_LEN_BASE + doc_id % AUDIO_LEN_SPAN


def synth_pcm(seed: int, n: int) -> list[int]:
    """s(i) = (7·seed + 11·i) mod 4001 − 2000 — a sawtooth-ish integer
    signal trivially replayable in SQL with one range unnest."""
    return [(7 * seed + 11 * i) % AUDIO_AMP_MOD - 2000 for i in range(n)]


def generate_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas fixture generator: one REAL RIFF/WAVE container per
    input row — the audio analog of generate_images."""
    from supabase_etl_spark.operators import audiocodec as AC

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            uris, contents = [], []
            for doc_id in pdf[id_col]:
                seed, n = synth_audio_params(int(doc_id))
                uris.append(f"doc://{doc_id}.wav")
                contents.append(AC.encode_wav(synth_pcm(seed, n), AUDIO_RATE))
            yield pd.DataFrame({"uri": uris, "content": contents})

    return df.mapInPandas(run, schema="uri string, content binary")


def extract_audio_features(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Arrow-batched real WAV decode → exact integer signal features:
    sample count/rate, peak |s|, Σ|s|, and zero crossings (sign flips
    between consecutive samples). Integer features make the decode
    oracle-checkable without float discipline."""
    from supabase_etl_spark.operators import audiocodec as AC

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for uri, content in zip(pdf["uri"], pdf[content_col]):
                rate, channels, s = AC.decode_wav(bytes(content))
                zc = sum(
                    1 for a, b in zip(s, s[1:]) if (a < 0) != (b < 0)
                )
                rows.append(
                    {
                        "uri": uri,
                        "sample_rate": rate,
                        "n_samples": len(s),
                        "peak": max(abs(v) for v in s) if s else 0,
                        "sum_abs": sum(abs(v) for v in s),
                        "zero_crossings": zc,
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run,
        schema=(
            "uri string, sample_rate int, n_samples int, peak int, "
            "sum_abs bigint, zero_crossings int"
        ),
    )


def audio_energy_fingerprint(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Arrow-batched real WAV decode → (uri, n_samples, fingerprint):
    |sample| energy pooled into 16 time blocks, one bit per block
    (block mean > clip mean, exact integer cross-multiplication) — the
    chromaprint-granularity perceptual signature
    multimodal_audio_fingerprint_dedup groups on, factored out so the
    incremental-ingest capstone decodes each clip exactly once."""
    from supabase_etl_spark.operators import audiocodec as AC

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            uris, ns, fps = [], [], []
            for uri, content in zip(pdf["uri"], pdf[content_col]):
                _rate, _ch, samples = AC.decode_wav(bytes(content))
                n = len(samples)
                bs = [0] * 16
                bc = [0] * 16
                ts = 0
                for i, s in enumerate(samples):
                    e = abs(s)
                    bi = (i * 16) // n
                    bs[bi] += e
                    bc[bi] += 1
                    ts += e
                bits = "".join(
                    "1" if bs[bi] * n > ts * bc[bi] else "0" for bi in range(16)
                )
                uris.append(uri)
                ns.append(n)
                fps.append(bits)
            yield pd.DataFrame(
                {"uri": uris, "n_samples": ns, "fingerprint": fps}
            )

    return df.mapInPandas(
        run, schema="uri string, n_samples int, fingerprint string"
    )


def resample_audio(df: DataFrame, factor: int = 2, content_col: str = "content") -> DataFrame:
    """Arrow-batched integer decimation: decode WAV, average each
    consecutive ``factor``-sample block (floor division — exact
    integers, SQL-replayable), re-encode at rate/factor. The audio
    analog of the image resize: a real signal-processing pass whose
    output is bit-checkable."""
    from supabase_etl_spark.operators import audiocodec as AC

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for uri, content in zip(pdf["uri"], pdf[content_col]):
                rate, _ch, s = AC.decode_wav(bytes(content))
                n_out = len(s) // factor
                out = [
                    sum(s[i * factor : (i + 1) * factor]) // factor
                    for i in range(n_out)
                ]
                rows.append(
                    {
                        "uri": uri,
                        "content": AC.encode_wav(out, rate // factor),
                        "n_in": len(s),
                        "n_out": n_out,
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run, schema="uri string, content binary, n_in int, n_out int"
    )


# --- video (YUV4MPEG2 via operators/videocodec.py) ----------------------

VIDEO_W, VIDEO_H = 8, 6
VIDEO_FRAMES_BASE = 6
VIDEO_FRAMES_SPAN = 5  # n_frames in [6, 10]
VIDEO_SAMPLE_EVERY = 3  # keep frames 0, 3, 6, ...


def synth_video_params(doc_id: int) -> tuple[int, int]:
    """(seed, n_frames) for the deterministic video fixture."""
    return doc_id % SEED_MOD, VIDEO_FRAMES_BASE + doc_id % VIDEO_FRAMES_SPAN


def synth_planes(seed: int, f: int) -> tuple[bytes, bytes, bytes]:
    """Y/Cb/Cr planes of frame ``f`` — closed-form per pixel, one
    range unnest away from SQL."""
    y = bytes(
        (seed + 3 * x + 5 * yy + 11 * f) % 256
        for yy in range(VIDEO_H)
        for x in range(VIDEO_W)
    )
    cb = bytes(
        (seed + 7 * f + x) % 256 for yy in range(VIDEO_H) for x in range(VIDEO_W)
    )
    cr = bytes(
        (seed + 13 * f + yy) % 256 for yy in range(VIDEO_H) for x in range(VIDEO_W)
    )
    return y, cb, cr


def generate_videos(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas fixture generator: one REAL YUV4MPEG2 stream per
    input row — the video analog of generate_images/generate_audio."""
    from supabase_etl_spark.operators import videocodec as VC

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            uris, contents = [], []
            for doc_id in pdf[id_col]:
                seed, n = synth_video_params(int(doc_id))
                frames = [synth_planes(seed, f) for f in range(n)]
                uris.append(f"doc://{doc_id}.y4m")
                contents.append(VC.encode_y4m(VIDEO_W, VIDEO_H, frames))
            yield pd.DataFrame({"uri": uris, "content": contents})

    return df.mapInPandas(run, schema="uri string, content binary")


def sample_video_frames(df: DataFrame, every_k: int, content_col: str = "content") -> DataFrame:
    """Arrow-batched REAL frame sampling: decode the Y4M container,
    keep every k-th frame, emit one row per kept frame with exact
    integer luma/chroma statistics — the decimation every video
    training pipeline runs before feature extraction."""
    from supabase_etl_spark.operators import videocodec as VC

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for uri, content in zip(pdf["uri"], pdf[content_col]):
                w, h, _fps, frames = VC.decode_y4m(bytes(content))
                for f in range(0, len(frames), every_k):
                    y, cb, cr = frames[f]
                    rows.append(
                        {
                            "uri": uri,
                            "frame_idx": f,
                            "n_frames": len(frames),
                            "luma_sum": sum(y),
                            "luma_max": max(y),
                            "chroma_sum": sum(cb) + sum(cr),
                        }
                    )
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run,
        schema=(
            "uri string, frame_idx int, n_frames int, "
            "luma_sum bigint, luma_max int, chroma_sum bigint"
        ),
    )


def decode_gray_vectors(df: DataFrame, content_col: str = "content") -> DataFrame:
    """mapInPandas decode → one row per image carrying its dims and the
    row-major GRAY vector (per-pixel channel sum, an integer in
    [0, 3·255] — exact, no luma rounding). The vector form is the
    pairwise-comparison shape: downstream SSIM/PSNR joins pair images
    on (width, height) and reduce two bounded arrays with zip_with —
    one row per PAIR, never a per-pixel shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, grays = [], [], []
            for content in pdf[content_col]:
                w, h, ch, px = IC.decode_image(bytes(content))
                gray = [
                    sum(px[(y * w + x) * ch + c] for c in range(ch))
                    for y in range(h)
                    for x in range(w)
                ]
                ws.append(w)
                hs.append(h)
                grays.append(gray)
            yield pd.DataFrame({"uri": pdf["uri"], "w": ws, "h": hs, "gray": grays})

    return df.mapInPandas(run, schema="uri string, w int, h int, gray array<long>")


def decode_gray_with_ahash(df: DataFrame, content_col: str = "content") -> DataFrame:
    """ONE decode pass emitting both the row-major GRAY vector (the
    SSIM/PSNR pairwise shape, as decode_gray_vectors) and the 64-bit
    block-pooled average-hash computed from the SAME gray values —
    for compositions that need the perceptual signature AND the pixel
    vectors (candidate generation + structural verify), so the image
    set is never decoded twice (VERDICT r8 task 5). Callers should
    pin the result (pinning.pin) when consuming it from more than
    one side of a join: mapInPandas re-executes per consumer."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, grays, hashes = [], [], [], []
            for content in pdf[content_col]:
                w, h, ch, px = IC.decode_image(bytes(content))
                gray = [
                    sum(px[(y * w + x) * ch + c] for c in range(ch))
                    for y in range(h)
                    for x in range(w)
                ]
                bs = [[0] * 8 for _ in range(8)]
                bc = [[0] * 8 for _ in range(8)]
                ts = sum(gray)
                tc = w * h
                for y in range(h):
                    bi = (y * 8) // h
                    base = y * w
                    for x in range(w):
                        bj = (x * 8) // w
                        bs[bi][bj] += gray[base + x]
                        bc[bi][bj] += 1
                bits = "".join(
                    "1" if bs[bi][bj] * tc > ts * bc[bi][bj] else "0"
                    for bi in range(8)
                    for bj in range(8)
                )
                ws.append(w)
                hs.append(h)
                grays.append(gray)
                hashes.append(bits)
            yield pd.DataFrame(
                {
                    "uri": pdf["uri"],
                    "w": ws,
                    "h": hs,
                    "gray": grays,
                    "ahash": hashes,
                }
            )

    return df.mapInPandas(
        run, schema="uri string, w int, h int, gray array<long>, ahash string"
    )


def audio_clipping_stats(
    df: DataFrame, clip_t: int, content_col: str = "content"
) -> DataFrame:
    """Arrow-batched WAV decode → exact integer clipping diagnostics:
    samples at or above ``clip_t`` in magnitude (the near-full-scale
    band a limiter or a bad gain stage parks audio in), plus the
    LONGEST consecutive clipped run — the feature that separates a
    transient peak from a flattened waveform. All-integer outputs keep
    the decode oracle-checkable without float discipline."""
    from supabase_etl_spark.operators import audiocodec as AC

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for uri, content in zip(pdf["uri"], pdf[content_col]):
                _rate, _ch, s = AC.decode_wav(bytes(content))
                run_len = best = n_clip = 0
                for v in s:
                    if abs(v) >= clip_t:
                        n_clip += 1
                        run_len += 1
                        if run_len > best:
                            best = run_len
                    else:
                        run_len = 0
                rows.append(
                    {
                        "uri": uri,
                        "n_samples": len(s),
                        "peak": max(abs(v) for v in s) if s else 0,
                        "n_clipped": n_clip,
                        "max_clip_run": best,
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run,
        schema=(
            "uri string, n_samples int, peak int, n_clipped int, "
            "max_clip_run int"
        ),
    )


def audio_walsh_coeffs(
    df: DataFrame, ks: tuple[int, ...], content_col: str = "content"
) -> DataFrame:
    """Arrow-batched WAV decode → square-wave (Walsh/sequency) analysis
    coefficients c_k = Σ_n s[n]·w_k(n) with w_k(n) = 1 − 2·(⌊2kn/N⌋ mod
    2), the ±1 square wave completing k cycles over the N samples — the
    integer-exact analog of a k-bin DFT (Walsh–Hadamard sequency
    analysis; transcendental-free, so Spark and the SQL oracle agree
    bit-for-bit with no float discipline). |c_k| ≤ 2000·N fits easily
    in int64; power = c_k² stays exact too."""
    from supabase_etl_spark.operators import audiocodec as AC

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for uri, content in zip(pdf["uri"], pdf[content_col]):
                _rate, _ch, s = AC.decode_wav(bytes(content))
                n = len(s)
                for k in ks:
                    c = sum(
                        v * (1 - 2 * (((2 * k * i) // n) % 2))
                        for i, v in enumerate(s)
                    )
                    rows.append(
                        {"uri": uri, "n_samples": n, "k": k, "coeff": c}
                    )
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run, schema="uri string, n_samples int, k int, coeff bigint"
    )


def image_color_stats(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Arrow-batched image decode → exact integer color/intensity
    sufficient statistics per image: an 8-bucket histogram of the
    per-pixel channel sum (gray ∈ [0, 765], bucket = min(gray//96, 7))
    plus the integer moments of the two opponent axes rg = R−G and
    2·yb = R+G−2B that the Hasler–Süsstrunk colorfulness metric is
    built from. Doubles (entropy, colorfulness) are derived JVM-side
    from these exact integers so the decode stays hash-checkable."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for uri, content in zip(pdf["uri"], pdf[content_col]):
                w, h, ch, px = IC.decode_image(bytes(content))
                hist = [0] * 8
                s_rg = s_rg2 = s_yb2 = s_yb22 = 0
                for p in range(w * h):
                    base = p * ch
                    r = px[base]
                    g = px[base + 1] if ch > 1 else r
                    b = px[base + 2] if ch > 2 else r
                    gray = r + g + b if ch > 2 else 3 * r
                    hist[min(gray // 96, 7)] += 1
                    rg = r - g
                    yb2 = r + g - 2 * b
                    s_rg += rg
                    s_rg2 += rg * rg
                    s_yb2 += yb2
                    s_yb22 += yb2 * yb2
                rows.append(
                    {
                        "uri": uri,
                        "w": w,
                        "h": h,
                        "hist": hist,
                        "sum_rg": s_rg,
                        "sum_rg2": s_rg2,
                        "sum_yb2": s_yb2,
                        "sum_yb22": s_yb22,
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run,
        schema=(
            "uri string, w int, h int, hist array<long>, sum_rg bigint, "
            "sum_rg2 bigint, sum_yb2 bigint, sum_yb22 bigint"
        ),
    )


def video_motion_energy(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Arrow-batched Y4M decode → per-frame motion energy: the exact
    integer sum of absolute luma differences against the previous frame
    (frame 0 has no predecessor and emits no row). The scalar-per-frame
    output is the keyframe-selection input every video curation
    pipeline computes before deciding which frames to keep — payload
    shrinks ~W·H× before anything shuffles."""
    from supabase_etl_spark.operators import videocodec as VC

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for uri, content in zip(pdf["uri"], pdf[content_col]):
                _w, _h, _fps, frames = VC.decode_y4m(bytes(content))
                for f in range(1, len(frames)):
                    prev_y = frames[f - 1][0]
                    cur_y = frames[f][0]
                    rows.append(
                        {
                            "uri": uri,
                            "frame_idx": f,
                            "n_frames": len(frames),
                            "motion": sum(
                                abs(a - b) for a, b in zip(cur_y, prev_y)
                            ),
                        }
                    )
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run,
        schema="uri string, frame_idx int, n_frames int, motion bigint",
    )


def audio_canonical_features(
    df: DataFrame, canon_rate: int, n_blocks: int = 8, content_col: str = "content"
) -> DataFrame:
    """Arrow-batched WAV decode → RATE CANONICALIZATION (2:1 floor-avg
    decimation until the sample rate reaches ``canon_rate`` — the same
    exact integer DSP as resample_audio, so a clip and its pre-decimated
    copy canonicalize to IDENTICAL sample lists) → integer envelope
    features: length, peak, Σ|v|, and ``n_blocks`` energy-block sums.
    This is the normalize-then-fingerprint front half of cross-sample-
    rate audio dedup; every output is an exact integer."""
    from supabase_etl_spark.operators import audiocodec as AC

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for uri, content in zip(pdf["uri"], pdf[content_col]):
                rate, _ch, s = AC.decode_wav(bytes(content))
                while rate > canon_rate:
                    s = [
                        (s[2 * j] + s[2 * j + 1]) // 2
                        for j in range(len(s) // 2)
                    ]
                    rate //= 2
                m = len(s)
                blocks = [0] * n_blocks
                for j, v in enumerate(s):
                    blocks[(n_blocks * j) // m] += abs(v)
                rows.append(
                    {
                        "uri": uri,
                        "m": m,
                        "peak": max(abs(v) for v in s) if s else 0,
                        "sum_abs": sum(abs(v) for v in s),
                        "b": blocks,
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run,
        schema="uri string, m int, peak int, sum_abs bigint, b array<long>",
    )


def video_canonical_features(
    df: DataFrame,
    canon_fps: tuple[int, int] = (25, 2),
    content_col: str = "content",
) -> DataFrame:
    """Arrow-batched Y4M decode → FRAME-RATE CANONICALIZATION (keep
    even-index frames, halving the rate, until fps ≤ ``canon_fps`` —
    so a clip and its pre-decimated re-encoded copy canonicalize to
    IDENTICAL frame lists) → exact integer per-frame features: the
    luma-sum and chroma-sum sequences in frame order. The video front
    half of cross-frame-rate dedup; one row per clip, two bounded
    arrays, ~W·H× payload shrink before anything shuffles."""
    from supabase_etl_spark.operators import videocodec as VC

    target_num, target_den = canon_fps

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for uri, content in zip(pdf["uri"], pdf[content_col]):
                _w, _h, fps, frames = VC.decode_y4m(bytes(content))
                num, den = fps
                while num * target_den > target_num * den:
                    frames = frames[::2]
                    den *= 2
                rows.append(
                    {
                        "uri": uri,
                        "m": len(frames),
                        "luma": [sum(f[0]) for f in frames],
                        "chroma": [sum(f[1]) + sum(f[2]) for f in frames],
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run,
        schema="uri string, m int, luma array<long>, chroma array<long>",
    )


def decimate_videos(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Decode each Y4M clip, keep the even-index frames, and RE-ENCODE
    at half the frame rate — the fixture constructor for cross-frame-
    rate duplicates (the video analog of resample_audio)."""
    from supabase_etl_spark.operators import videocodec as VC

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            uris, contents = [], []
            for uri, content in zip(pdf["uri"], pdf[content_col]):
                w, h, (num, den), frames = VC.decode_y4m(bytes(content))
                uris.append(uri)
                contents.append(
                    VC.encode_y4m(w, h, frames[::2], fps=(num, den * 2))
                )
            yield pd.DataFrame({"uri": uris, "content": contents})

    return df.mapInPandas(run, schema="uri string, content binary")
