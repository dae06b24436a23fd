"""Multimodal-column queries (SURVEY.md §2.2 "multimodal columns").

Two payload conventions are exercised:

* **Text payloads** (UTF-8 bytes of document text) for byte-level
  plumbing — binaryFile source, payload stats, frame sampling.
* **Real image payloads**: the testdata ships no media files, so the
  image queries *generate* real PNG/BMP/PPM container files (one per
  document, format round-robin, pixels a deterministic ramp of the
  doc_id) and then DECODE them with the engine's own pure-Python
  raster codecs (operators/imagecodec.py — the Avro-codec precedent
  applied to images). The oracle replays the pixel synthesis in SQL
  (range cross joins), NOT the codec — so feature extraction and
  resize are checked against real decoded pixels; a wrong unfilter or
  row order is a hash mismatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table, read_binary
from supabase_etl_spark.operators import multimodal as M
from supabase_etl_spark.pinning import pin
from supabase_etl_spark.queries import query

FRAME_STEP = 3


def _payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (uri, content binary, mime) payload convention."""
    d = load_table(spark, sf_dir, "documents")
    content = F.encode("text", "UTF-8")
    return d.select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("uri"),
        content.alias("content"),
        M.sniff_mime(content).alias("mime"),
    )


@query(
    "multimodal_payload_stats",
    oracle="""
    SELECT concat('doc://', doc_id) AS uri,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS payload_md5,
           'application/octet-stream' AS mime
    FROM documents
    ORDER BY uri
    """,
    tags=("llm", "multimodal"),
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte length, content hash, and magic-byte MIME sniff per payload
    — pure JVM expressions over the binary column (md5 of UTF-8 bytes
    equals DuckDB's md5 of the text)."""
    p = _payloads(spark, sf_dir)
    return p.select(
        "uri",
        F.octet_length("content").alias("n_bytes"),
        F.md5("content").alias("payload_md5"),
        "mime",
    ).orderBy("uri")


# Image fixtures are capped to a fixed id range so the query costs the
# same at every SF (the oracle applies the identical predicate).
IMG_DOCS = 256

# Shared oracle CTE: replays operators/multimodal.synth_params in SQL.
_IMG_DOCS_CTE = f"""
    docs AS (
        SELECT doc_id,
               concat('doc://', doc_id) AS uri,
               doc_id % {M.SEED_MOD} AS seed,
               CAST({M.DIM_BASE} + doc_id % {M.DIM_SPAN} AS INT) AS w,
               CAST({M.DIM_BASE} + (doc_id * 5 + 3) % {M.DIM_SPAN} AS INT) AS h
        FROM documents WHERE doc_id < {IMG_DOCS}
    )
"""


def _images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real encoded image per document (PNG/BMP/PPM round-robin) —
    the driver-generated media fixture for the decode queries."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < IMG_DOCS)
    return M.generate_images(d.select("doc_id"))


@query(
    "multimodal_feature_extract",
    oracle=f"""
    WITH {_IMG_DOCS_CTE},
    px AS (
        SELECT d.uri, d.w, d.h, x.i AS xi, y.j AS yj,
               (d.seed + 3 * x.i + 5 * y.j + 7 * c.k) % 256 AS v
        FROM docs d,
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS x(i),
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS y(j),
             range(0, 3) AS c(k)
        WHERE x.i < d.w AND y.j < d.h
    )
    SELECT uri,
           any_value(w) AS width,
           any_value(h) AS height,
           CAST(3 AS INT) AS channels,
           CAST(sum(v) AS BIGINT) AS pixel_sum,
           CAST(sum((xi + 2 * yj) * v) AS BIGINT) AS pixel_wsum
    FROM px GROUP BY uri
    ORDER BY uri
    """,
    tags=("llm", "multimodal"),
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode in Arrow-batched mapInPandas: each payload is
    a genuine PNG/BMP/PPM container file parsed by the engine's own
    codecs (operators/imagecodec.py), and two exact pixel moments are
    computed from the decoded buffer. The oracle replays the pixel
    *synthesis* (not the codec) via range cross joins — any decode
    defect (wrong unfilter, row order, BGR swap) is a hash mismatch."""
    feats = M.extract_features(_images(spark, sf_dir))
    return feats.select(
        "uri",
        F.col("feat.width").alias("width"),
        F.col("feat.height").alias("height"),
        F.col("feat.channels").alias("channels"),
        F.col("feat.pixel_sum").alias("pixel_sum"),
        F.col("feat.pixel_wsum").alias("pixel_wsum"),
    ).orderBy("uri")


@query(
    "multimodal_codec_roundtrip",
    oracle=f"""
    SELECT CASE doc_id % 3 WHEN 0 THEN 'image/png'
                           WHEN 1 THEN 'image/bmp'
                           ELSE 'image/x-portable-pixmap' END AS mime,
           count(*) AS n_images,
           count(*) AS n_pixel_exact,
           CAST(sum({M.DIM_BASE} + doc_id % {M.DIM_SPAN}) AS BIGINT) AS width_sum
    FROM documents WHERE doc_id < {IMG_DOCS}
    GROUP BY 1
    ORDER BY mime
    """,
    tags=("llm", "multimodal"),
)
def multimodal_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec conformance as a distributed query: decode every generated
    container file and compare the decoded buffer BYTE-FOR-BYTE against
    the synthesis formula; aggregate per format. The oracle pins
    n_pixel_exact == n_images — one wrong byte in any PNG unfilter /
    BMP row flip / PPM header parse fails the row."""
    import pandas as pd
    from supabase_etl_spark.operators import imagecodec as IC

    def check(batches):
        for pdf in batches:
            mimes, oks, widths = [], [], []
            for uri, content in zip(pdf["uri"], pdf["content"]):
                doc_id = int(uri.split("//")[1])
                seed, w, h, fmt = M.synth_params(doc_id)
                dec = IC.decode_image(bytes(content))
                mimes.append(
                    ["image/png", "image/bmp", "image/x-portable-pixmap"][fmt]
                )
                oks.append(dec == (w, h, 3, M.synth_rgb(seed, w, h)))
                widths.append(w)
            yield pd.DataFrame({"mime": mimes, "ok": oks, "width": widths})

    checked = _images(spark, sf_dir).mapInPandas(
        check, schema="mime string, ok boolean, width int"
    )
    return (
        checked.groupBy("mime")
        .agg(
            F.count("*").alias("n_images"),
            F.count_if(F.col("ok")).alias("n_pixel_exact"),
            F.sum("width").cast("long").alias("width_sum"),
        )
        .orderBy("mime")
    )


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH docs AS (
        SELECT concat('doc://', doc_id) AS uri, text,
               greatest(1, CAST(ceil(octet_length(encode(text)) / {M.FRAME_BYTES}.0)
                                AS INT)) AS nf
        FROM documents WHERE doc_id < 50
    )
    SELECT uri, unnest(range(0, nf, {FRAME_STEP})) AS frame_idx,
           md5(substr(text, unnest(range(0, nf, {FRAME_STEP})) * {M.FRAME_BYTES} + 1,
               {M.FRAME_BYTES})) AS frame_md5
    FROM docs
    ORDER BY uri, frame_idx
    """,
    tags=("llm", "multimodal"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-3rd-frame sampling over fake video payloads (1 KiB byte
    chunks as frames): one-to-many mapInPandas, the shape of ffmpeg
    keyframe extraction with the decode swapped for md5."""
    p = _payloads(spark, sf_dir).filter(
        F.col("uri").isin([f"doc://{i}" for i in range(50)])
    )
    return M.sample_frames(p, FRAME_STEP).orderBy("uri", "frame_idx")


# Pinned directory: the oracle SQL is a fixed string the driver runs
# verbatim (no sf_dir substitution hook), so this source-scan demo scans
# the same directory on both sides regardless of the sf_dir argument.
BINARY_SCAN_DIR = "/root/testdata/sf0.01"


@query(
    "multimodal_binary_scan",
    oracle=f"""
    SELECT regexp_extract(filename, '[^/]+$') AS file_name,
           size AS n_bytes,
           substr(hex(content), 1, 16) AS head_hex,
           md5(hex(content)) AS content_hex_md5
    FROM read_blob('{BINARY_SCAN_DIR}/*.parquet')
    ORDER BY file_name
    """,
    tags=("llm", "multimodal"),
)
def multimodal_binary_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.read.format('binaryFile') over the testdata directory
    itself: (path, length, content bytes) per file, fingerprinted via
    the hex encoding (both engines hex identically; DuckDB's hash
    functions don't take blobs). The source streams file splits in
    parallel at scale — this is the ingest edge for media corpora."""
    b = read_binary(spark, BINARY_SCAN_DIR, glob="*.parquet")
    return b.select(
        F.regexp_extract(F.col("path"), "[^/]+$", 0).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.substring(F.hex("content"), 1, 16).alias("head_hex"),
        F.md5(F.hex("content")).alias("content_hex_md5"),
    ).orderBy("file_name")


@query(
    "multimodal_resize",
    oracle=f"""
    WITH {_IMG_DOCS_CTE},
    resized AS (
        SELECT uri, seed, w, h,
               CAST(CASE WHEN greatest(w, h) <= {M.IMG_RESIZE_TARGET} THEN w
                    ELSE greatest(1, w * {M.IMG_RESIZE_TARGET} // greatest(w, h))
               END AS INT) AS nw,
               CAST(CASE WHEN greatest(w, h) <= {M.IMG_RESIZE_TARGET} THEN h
                    ELSE greatest(1, h * {M.IMG_RESIZE_TARGET} // greatest(w, h))
               END AS INT) AS nh
        FROM docs
    ),
    px AS (
        SELECT r.uri, r.w, r.h, r.nw, r.nh,
               (r.seed + 3 * ((x.i * r.w) // r.nw)
                       + 5 * ((y.j * r.h) // r.nh)
                       + 7 * c.k) % 256 AS v
        FROM resized r,
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS x(i),
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS y(j),
             range(0, 3) AS c(k)
        WHERE x.i < r.nw AND y.j < r.nh
    )
    SELECT uri,
           any_value(w) AS width, any_value(h) AS height,
           any_value(nw) AS new_width, any_value(nh) AS new_height,
           CAST(any_value(nw) * any_value(nh) * 3 AS BIGINT) AS new_bytes,
           CAST(sum(v) AS BIGINT) AS resized_sum
    FROM px GROUP BY uri
    ORDER BY uri
    """,
    tags=("llm", "multimodal"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL aspect-preserving resize (operators/multimodal.resize_plan):
    decode the container file, nearest-neighbor-resample the actual
    pixel buffer to max dim {12}, and report the resized pixel sum.
    The oracle replays the exact integer index mapping
    dst(x,y)=src(x·w//nw, y·h//nh) over the synthesis formula — the
    resample itself is verified, not just the target dims."""
    return M.resize_plan(_images(spark, sf_dir)).orderBy("uri")


AUDIO_DOCS = 40  # fixture corpus: doc_id < AUDIO_DOCS


@query(
    "multimodal_audio_features",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, concat('doc://', doc_id, '.wav') AS uri,
               doc_id % {M.SEED_MOD} AS seed,
               {M.AUDIO_LEN_BASE} + doc_id % {M.AUDIO_LEN_SPAN} AS n
        FROM documents WHERE doc_id < {AUDIO_DOCS}
    ),
    sig AS (
        SELECT d.uri, d.n, t.i,
               (7 * d.seed + 11 * t.i) % {M.AUDIO_AMP_MOD} - 2000 AS s,
               (7 * d.seed + 11 * (t.i + 1)) % {M.AUDIO_AMP_MOD} - 2000 AS s_next
        FROM docs d, range(0, {M.AUDIO_LEN_BASE + M.AUDIO_LEN_SPAN}) AS t(i)
        WHERE t.i < d.n
    )
    SELECT uri,
           CAST({M.AUDIO_RATE} AS INT) AS sample_rate,
           CAST(any_value(n) AS INT) AS n_samples,
           CAST(max(abs(s)) AS INT) AS peak,
           CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
           CAST(sum(CASE WHEN i < n - 1 AND ((s < 0) <> (s_next < 0))
                         THEN 1 ELSE 0 END) AS INT) AS zero_crossings
    FROM sig GROUP BY uri
    ORDER BY uri
    """,
    tags=("llm", "multimodal", "audio"),
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: each payload is a genuine RIFF/WAVE PCM
    container (engine-built per the public WAV spec,
    operators/audiocodec.py — the audio analog of the PNG/BMP/PPM
    image path), parsed back by the chunk-walking decoder inside an
    Arrow-batched mapInPandas, then reduced to exact integer signal
    features (peak, Σ|s|, zero crossings). The oracle replays the
    deterministic PCM *synthesis* (not the codec) with one range
    unnest — a wrong header layout, endianness slip, or off-by-one in
    the chunk walk is a hash mismatch, not a silently plausible
    number. At 100 TB: bytes stay columnar in parquet/binaryFile
    splits; decode parallelism is partition count; features shrink the
    payload 1000x before anything shuffles."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < AUDIO_DOCS)
    audio = M.generate_audio(d.select("doc_id"))
    return M.extract_audio_features(audio).orderBy("uri")


@query(
    "multimodal_audio_resample",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, concat('doc://', doc_id, '.wav') AS uri,
               doc_id % {M.SEED_MOD} AS seed,
               {M.AUDIO_LEN_BASE} + doc_id % {M.AUDIO_LEN_SPAN} AS n
        FROM documents WHERE doc_id < {AUDIO_DOCS}
    ),
    pairs AS (
        SELECT d.uri, d.n, t.i,
               ((7 * d.seed + 11 * (2 * t.i)) % {M.AUDIO_AMP_MOD} - 2000) AS s0,
               ((7 * d.seed + 11 * (2 * t.i + 1)) % {M.AUDIO_AMP_MOD} - 2000) AS s1
        FROM docs d,
             range(0, ({M.AUDIO_LEN_BASE + M.AUDIO_LEN_SPAN}) // 2) AS t(i)
        WHERE t.i < d.n // 2
    ),
    resampled AS (
        -- floor((s0+s1)/2) with truncation-toward-negative-infinity
        -- (Python //), which differs from SQL integer division on
        -- negative sums: use floor() on a double division explicitly
        SELECT uri, CAST(floor((s0 + s1) / 2.0) AS BIGINT) AS r
        FROM pairs
    )
    SELECT uri,
           CAST({M.AUDIO_RATE} // 2 AS INT) AS out_rate,
           CAST(count(*) AS INT) AS n_out,
           CAST(max(abs(r)) AS INT) AS peak,
           CAST(sum(abs(r)) AS BIGINT) AS sum_abs
    FROM resampled GROUP BY uri
    ORDER BY uri
    """,
    tags=("llm", "multimodal", "audio"),
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio RESAMPLE through the engine's WAV codec: decode →
    2:1 decimation (each output sample the floor-average of a
    consecutive pair — exact integer DSP) → re-encode at half the
    rate → decode AGAIN and reduce to integer features, so the hash
    covers decode, the arithmetic, and the re-encoded container
    round-trip in one query. The oracle replays the decimation in
    closed form from the deterministic synthesis. Python's floor
    division rounds toward −∞ — the oracle states floor() explicitly
    because SQL integer division truncates toward zero on negatives,
    exactly the class of silent cross-engine bug this registry's
    oracle discipline exists to catch."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < AUDIO_DOCS)
    resampled = M.resample_audio(M.generate_audio(d.select("doc_id")), factor=2)
    feats = M.extract_audio_features(resampled)
    return (
        feats.select(
            "uri",
            F.col("sample_rate").alias("out_rate"),
            F.col("n_samples").alias("n_out"),
            "peak",
            "sum_abs",
        )
        .orderBy("uri")
    )


VIDEO_DOCS = 30  # fixture corpus: doc_id < VIDEO_DOCS


@query(
    "multimodal_video_frame_stats",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, concat('doc://', doc_id, '.y4m') AS uri,
               doc_id % {M.SEED_MOD} AS seed,
               {M.VIDEO_FRAMES_BASE} + doc_id % {M.VIDEO_FRAMES_SPAN} AS n
        FROM documents WHERE doc_id < {VIDEO_DOCS}
    ),
    sampled AS (
        SELECT d.uri, d.seed, d.n, t.f
        FROM docs d, range(0, {M.VIDEO_FRAMES_BASE + M.VIDEO_FRAMES_SPAN}) AS t(f)
        WHERE t.f < d.n AND t.f % {M.VIDEO_SAMPLE_EVERY} = 0
    ),
    px AS (
        SELECT s.uri, s.f, s.n,
               (s.seed + 3 * x.i + 5 * y.j + 11 * s.f) % 256 AS yv,
               (s.seed + 7 * s.f + x.i) % 256 AS cbv,
               (s.seed + 13 * s.f + y.j) % 256 AS crv
        FROM sampled s,
             range(0, {M.VIDEO_W}) AS x(i),
             range(0, {M.VIDEO_H}) AS y(j)
    )
    SELECT uri,
           CAST(f AS INT) AS frame_idx,
           CAST(any_value(n) AS INT) AS n_frames,
           CAST(sum(yv) AS BIGINT) AS luma_sum,
           CAST(max(yv) AS INT) AS luma_max,
           CAST(sum(cbv) + sum(crv) AS BIGINT) AS chroma_sum
    FROM px GROUP BY uri, f
    ORDER BY uri, frame_idx
    """,
    tags=("llm", "multimodal", "video"),
    bench=True,
    basis="absolute",
)
def multimodal_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode + frame sampling: each payload is a genuine
    YUV4MPEG2 stream (engine-built per the public mjpegtools spec,
    operators/videocodec.py — completing the image/audio/VIDEO codec
    triple with actual parsed containers in all three modalities); the
    Arrow-batched sampler parses the stream header and FRAME markers,
    keeps every {M.VIDEO_SAMPLE_EVERY}rd frame, and reduces each kept
    frame's Y/Cb/Cr planes to exact integer statistics. The oracle
    replays the deterministic plane synthesis — a header-parse slip,
    plane-order swap, or frame-boundary off-by-one is a hash mismatch.
    At 100 TB: streams stay opaque binary columns in parquet; decode
    parallelism is partition count; frame sampling shrinks payloads
    {M.VIDEO_SAMPLE_EVERY}x before features, the standard
    training-pipeline decimation."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < VIDEO_DOCS)
    vids = M.generate_videos(d.select("doc_id"))
    return M.sample_video_frames(vids, M.VIDEO_SAMPLE_EVERY).orderBy(
        "uri", "frame_idx"
    )


def _ahash_images(images: DataFrame) -> DataFrame:
    """Decode each image container and reduce it to its 64-bit
    perceptual average-hash (8x8 block-pooled luminance, one bit per
    block by exact integer cross-multiplication) — shared by the phash
    dedup query and the SSIM-over-candidates composition. Pure Arrow
    map: each payload shrinks to a 64-char signature before any
    shuffle."""
    import pandas as pd

    from supabase_etl_spark.operators import imagecodec as IC

    def ahash(batches):
        for pdf in batches:
            uris, hashes = [], []
            for uri, content in zip(pdf["uri"], pdf["content"]):
                w, h, _c, buf = IC.decode_image(bytes(content))
                bs = [[0] * 8 for _ in range(8)]
                bc = [[0] * 8 for _ in range(8)]
                ts = tc = 0
                for y in range(h):
                    row = y * w * 3
                    bi = (y * 8) // h
                    for x in range(w):
                        p = row + x * 3
                        lum = buf[p] + buf[p + 1] + buf[p + 2]
                        bj = (x * 8) // w
                        bs[bi][bj] += lum
                        bc[bi][bj] += 1
                        ts += lum
                        tc += 1
                bits = "".join(
                    "1" if bs[bi][bj] * tc > ts * bc[bi][bj] else "0"
                    for bi in range(8)
                    for bj in range(8)
                )
                uris.append(uri)
                hashes.append(bits)
            yield pd.DataFrame({"uri": uris, "ahash": hashes})

    return images.mapInPandas(ahash, schema="uri string, ahash string")


@query(
    "multimodal_image_phash_dedup",
    oracle=f"""
    WITH {_IMG_DOCS_CTE},
    px AS (
        SELECT d.uri, d.w, d.h, x.i AS xi, y.j AS yj,
               ((d.seed + 3 * x.i + 5 * y.j) % 256)
               + ((d.seed + 3 * x.i + 5 * y.j + 7) % 256)
               + ((d.seed + 3 * x.i + 5 * y.j + 14) % 256) AS lum
        FROM docs d,
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS x(i),
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS y(j)
        WHERE x.i < d.w AND y.j < d.h
    ),
    blocks AS (
        SELECT uri, (yj * 8) // h AS bi, (xi * 8) // w AS bj,
               SUM(lum) AS bs, COUNT(*) AS bc
        FROM px GROUP BY 1, 2, 3
    ),
    tot AS (SELECT uri, SUM(lum) AS ts, COUNT(*) AS tc FROM px GROUP BY uri),
    bits AS (
        SELECT b.uri,
               CASE WHEN b.bs * t.tc > t.ts * b.bc THEN '1' ELSE '0' END AS bit,
               b.bi, b.bj
        FROM blocks b JOIN tot t USING (uri)
    ),
    hashes AS (
        SELECT uri, string_agg(bit, '' ORDER BY bi, bj) AS ahash
        FROM bits GROUP BY uri
    )
    SELECT ahash,
           count(*) AS n_images,
           min(uri) AS keeper_uri
    FROM hashes GROUP BY ahash
    ORDER BY keeper_uri
    """,
    tags=("llm", "multimodal", "dedup"),
)
def multimodal_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-dup detection by perceptual average-hash (aHash):
    decode every container (real PNG/BMP/PPM codecs, Arrow-batched
    mapInPandas), block-pool luminance into an 8x8 grid, emit one bit
    per block (block mean > image mean — compared by exact integer
    cross-multiplication, no float division), and group images by the
    64-bit signature. Visually identical images hash equal regardless
    of container format; the grouping is the multimodal sibling of
    dedup_exact. The oracle replays pixel synthesis + the identical
    integer pooling in SQL — a codec defect or pooling off-by-one is a
    hash mismatch. 100 TB shape: decode+hash is a pure map (Arrow
    batches, no shuffle); the only shuffle is the 64-bit-signature
    groupBy — exactly dedup_exact's plan with a decode in the scan."""
    hashed = _ahash_images(_images(spark, sf_dir))
    return (
        hashed.groupBy("ahash")
        .agg(F.count(F.lit(1)).alias("n_images"), F.min("uri").alias("keeper_uri"))
        .orderBy("keeper_uri")
    )


@query(
    "multimodal_audio_fingerprint_dedup",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, concat('doc://', doc_id, '.wav') AS uri,
               doc_id % {M.SEED_MOD} AS seed,
               {M.AUDIO_LEN_BASE} + doc_id % {M.AUDIO_LEN_SPAN} AS n
        FROM documents WHERE doc_id < {AUDIO_DOCS}
    ),
    sig AS (
        SELECT d.uri, (t.i * 16) // d.n AS bi,
               abs((7 * d.seed + 11 * t.i) % {M.AUDIO_AMP_MOD} - 2000) AS e
        FROM docs d, range(0, {M.AUDIO_LEN_BASE + M.AUDIO_LEN_SPAN}) AS t(i)
        WHERE t.i < d.n
    ),
    blocks AS (
        SELECT uri, bi, SUM(e) AS bs, COUNT(*) AS bc FROM sig GROUP BY 1, 2
    ),
    tot AS (SELECT uri, SUM(e) AS ts, COUNT(*) AS tc FROM sig GROUP BY uri),
    bits AS (
        SELECT b.uri, b.bi,
               CASE WHEN b.bs * t.tc > t.ts * b.bc THEN '1' ELSE '0' END AS bit
        FROM blocks b JOIN tot t USING (uri)
    ),
    fps AS (
        SELECT uri, string_agg(bit, '' ORDER BY bi) AS fingerprint
        FROM bits GROUP BY uri
    )
    SELECT fingerprint, count(*) AS n_clips, min(uri) AS keeper_uri
    FROM fps GROUP BY fingerprint
    ORDER BY keeper_uri
    """,
    tags=("llm", "multimodal", "audio", "dedup"),
)
def multimodal_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO fingerprint dedup (chromaprint's shape at energy-envelope
    granularity): decode each RIFF/WAVE container with the engine's
    chunk-walking codec, pool |sample| energy into 16 time blocks, emit
    one bit per block (block energy > clip mean, exact integer
    cross-multiplication), and group clips by the 16-bit envelope
    signature — the audio sibling of multimodal_image_phash_dedup,
    completing perceptual dedup across all three modalities. Decode +
    fingerprint is a pure Arrow map; the only shuffle is the signature
    groupBy. The oracle replays PCM synthesis + identical pooling in
    SQL."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < AUDIO_DOCS)
    audio = M.generate_audio(d.select("doc_id"))
    fps = M.audio_energy_fingerprint(audio).select("uri", "fingerprint")
    return (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_clips"), F.min("uri").alias("keeper_uri"))
        .orderBy("keeper_uri")
    )


SCENE_CUT_PER_PIXEL = 30  # mean-abs-luma-diff cut threshold per pixel


@query(
    "multimodal_video_scene_cuts",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, concat('doc://', doc_id, '.y4m') AS uri,
               doc_id % {M.SEED_MOD} AS seed,
               {M.VIDEO_FRAMES_BASE} + doc_id % {M.VIDEO_FRAMES_SPAN} AS n
        FROM documents WHERE doc_id < {VIDEO_DOCS}
    ),
    diffs AS (
        SELECT d.uri, t.f,
               abs(((d.seed + 3 * x.i + 5 * y.j + 11 * t.f) % 256)
                   - ((d.seed + 3 * x.i + 5 * y.j + 11 * (t.f - 1)) % 256)) AS dv
        FROM docs d,
             range(1, {M.VIDEO_FRAMES_BASE + M.VIDEO_FRAMES_SPAN}) AS t(f),
             range(0, {M.VIDEO_W}) AS x(i),
             range(0, {M.VIDEO_H}) AS y(j)
        WHERE t.f < d.n
    )
    SELECT uri,
           CAST(f AS INT) AS frame_idx,
           CAST(sum(dv) AS BIGINT) AS diff_sum,
           (sum(dv) > {SCENE_CUT_PER_PIXEL * M.VIDEO_W * M.VIDEO_H}) AS is_cut
    FROM diffs GROUP BY uri, f
    ORDER BY uri, frame_idx
    """,
    tags=("llm", "multimodal", "video"),
)
def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO scene-change detection (the shot-boundary pass a video
    curation pipeline runs before frame sampling): decode every
    YUV4MPEG2 stream with the engine codec, compute each consecutive
    frame pair's summed absolute luma difference, and flag frames
    whose diff energy clears the per-pixel threshold — exact integer
    arithmetic end to end. Decode + diff is a pure Arrow map emitting
    one row per frame transition (payload shrinks ~1000x before any
    shuffle); the oracle replays plane synthesis and the identical
    diff in SQL, so a plane-order or stride defect in the codec is a
    hash mismatch, not a plausible-looking energy."""
    import pandas as pd

    from supabase_etl_spark.operators import videocodec as VC

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < VIDEO_DOCS)
    videos = M.generate_videos(d.select("doc_id"))
    cut_bar = SCENE_CUT_PER_PIXEL * M.VIDEO_W * M.VIDEO_H

    def cuts(batches):
        for pdf in batches:
            uris, fids, sums, flags = [], [], [], []
            for uri, content in zip(pdf["uri"], pdf["content"]):
                _w, _h, _fps, frames = VC.decode_y4m(bytes(content))
                for f in range(1, len(frames)):
                    prev_y, cur_y = frames[f - 1][0], frames[f][0]
                    ds = sum(abs(a - b) for a, b in zip(cur_y, prev_y))
                    uris.append(uri)
                    fids.append(f)
                    sums.append(ds)
                    flags.append(ds > cut_bar)
            yield pd.DataFrame(
                {"uri": uris, "frame_idx": fids, "diff_sum": sums, "is_cut": flags}
            )

    out = videos.mapInPandas(
        cuts, schema="uri string, frame_idx int, diff_sum bigint, is_cut boolean"
    )
    return out.orderBy("uri", "frame_idx")


@query(
    "multimodal_video_frame_phash_dedup",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, concat('doc://', doc_id, '.y4m') AS uri,
               doc_id % {M.SEED_MOD} AS seed,
               {M.VIDEO_FRAMES_BASE} + doc_id % {M.VIDEO_FRAMES_SPAN} AS n
        FROM documents WHERE doc_id % 97 = 0 AND doc_id < 3880
    ),
    px AS (
        SELECT d.uri, t.f, x.i AS xi, y.j AS yj,
               ((d.seed + 3 * x.i + 5 * y.j + 11 * t.f) % 256) AS lum
        FROM docs d,
             range(0, {M.VIDEO_FRAMES_BASE + M.VIDEO_FRAMES_SPAN}) AS t(f),
             range(0, {M.VIDEO_W}) AS x(i),
             range(0, {M.VIDEO_H}) AS y(j)
        WHERE t.f < d.n
    ),
    blocks AS (
        SELECT uri, f, (yj * 8) // {M.VIDEO_H} AS bi, (xi * 8) // {M.VIDEO_W} AS bj,
               SUM(lum) AS bs, COUNT(*) AS bc
        FROM px GROUP BY 1, 2, 3, 4
    ),
    bits AS (
        SELECT a.uri, a.f, a.bi, a.bj,
               CASE WHEN a.bs * b.bc > b.bs * a.bc THEN '1' ELSE '0' END AS bit
        FROM blocks a JOIN blocks b
          ON a.uri = b.uri AND a.f = b.f AND a.bi = b.bi AND b.bj = a.bj + 1
    ),
    hashes AS (
        SELECT uri, f, string_agg(bit, '' ORDER BY bi, bj) AS dhash
        FROM bits GROUP BY uri, f
    )
    SELECT dhash,
           count(*) AS n_frames,
           CAST(count(DISTINCT uri) AS BIGINT) AS n_videos,
           min(uri || '#' || lpad(CAST(f AS VARCHAR), 3, '0')) AS keeper
    FROM hashes GROUP BY dhash
    ORDER BY keeper
    """,
    tags=("llm", "multimodal", "dedup", "video"),
)
def multimodal_video_frame_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRAME-level perceptual dedup ACROSS videos: decode every Y4M
    stream (engine codec), dHash each frame's luma plane — block-pool
    to the 8x8 grid and emit one bit per HORIZONTALLY ADJACENT block
    pair (left mean > right mean, exact integer cross-multiplication) —
    and group frames corpus-wide by signature. dHash, not aHash, on
    purpose: on smooth-gradient frames every block clears or misses
    the global mean the same way (a first aHash draft collapsed the
    whole corpus into ONE signature — vacuous dedup), while adjacent
    differences track where the mod-256 wrap lands and genuinely
    discriminate. Cross-video duplicates are planted by construction
    (a frame's pixels depend only on (seed + 11f) mod 256), and
    n_videos > 1 groups are exactly the stock-frame shares this pass
    exists to find.

    Scale: decode + hash is a pure Arrow map (frame -> <=64-char
    signature before any shuffle); grouping is dedup_exact's single
    hash shuffle at frame granularity. The oracle replays synthesis +
    identical pooling/comparison in SQL."""
    import pandas as pd

    from supabase_etl_spark.operators import videocodec as VC

    # strided doc set (bounded at 40 videos at any sf): the 0..29 prefix
    # slice keeps every synthetic luma gradient wrap-free, which makes
    # ANY perceptual hash constant — the stride spreads seeds over the
    # full 0..250 range so wraps (and therefore signatures) vary
    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 3880)
    )
    videos = M.generate_videos(d.select("doc_id"))
    w, h = M.VIDEO_W, M.VIDEO_H

    def frame_hashes(batches):
        for pdf in batches:
            uris, fids, hashes = [], [], []
            for uri, content in zip(pdf["uri"], pdf["content"]):
                _w, _h, _fps, frames = VC.decode_y4m(bytes(content))
                for f, planes in enumerate(frames):
                    yplane = planes[0]
                    bsum: dict[tuple[int, int], int] = {}
                    bcnt: dict[tuple[int, int], int] = {}
                    for idx, v in enumerate(yplane):
                        xi, yj = idx % w, idx // w
                        key = ((yj * 8) // h, (xi * 8) // w)
                        bsum[key] = bsum.get(key, 0) + v
                        bcnt[key] = bcnt.get(key, 0) + 1
                    bits = []
                    for bi, bj in sorted(bsum):
                        nxt = (bi, bj + 1)
                        if nxt in bsum:
                            bits.append(
                                "1"
                                if bsum[(bi, bj)] * bcnt[nxt]
                                > bsum[nxt] * bcnt[(bi, bj)]
                                else "0"
                            )
                    uris.append(uri)
                    fids.append(f)
                    hashes.append("".join(bits))
            yield pd.DataFrame({"uri": uris, "f": fids, "dhash": hashes})

    frames_df = videos.mapInPandas(
        frame_hashes, schema="uri string, f int, dhash string"
    )
    keeper = F.concat_ws(
        "#", F.col("uri"), F.lpad(F.col("f").cast("string"), 3, "0")
    )
    return (
        frames_df.select("dhash", "uri", keeper.alias("k"))
        .groupBy("dhash")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.count_distinct("uri").cast("bigint").alias("n_videos"),
            F.min("k").alias("keeper"),
        )
        .orderBy("keeper")
    )


PATCH = 4  # ViT patch edge (px); fixture dims are 8-16 so 2-4 per axis


@query(
    "multimodal_vit_patchify",
    oracle=f"""
    WITH {_IMG_DOCS_CTE},
    px AS (
        SELECT d.uri, d.w, d.h, x.i AS xi, y.j AS yj,
               (d.seed + 3 * x.i + 5 * y.j + 7 * c.k) % 256 AS v
        FROM docs d,
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS x(i),
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS y(j),
             range(0, 3) AS c(k)
        WHERE x.i < d.w AND y.j < d.h
    )
    SELECT uri,
           CAST(yj // {PATCH} AS INT) AS patch_row,
           CAST(xi // {PATCH} AS INT) AS patch_col,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(SUM(v) AS BIGINT) AS patch_sum,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS patch_mean
    FROM px
    GROUP BY uri, yj // {PATCH}, xi // {PATCH}
    ORDER BY uri, patch_row, patch_col
    """,
    tags=("llm", "multimodal"),
)
def multimodal_vit_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch extraction over REAL decoded images: each
    PNG/BMP/PPM payload is parsed by the engine's raster codecs inside
    Arrow-batched mapInPandas, the pixel grid is split into 4×4
    patches (edge patches partial, as ViT preprocessors pad or drop
    them), and per-patch count/sum/mean are emitted — the exact
    aggregation a patch-embedding pipeline feeds into the projection
    layer, minus the matmul. The oracle replays the pixel SYNTHESIS
    with integer-division patch grouping, so a decode defect (row
    order, unfilter, channel swap) or a patch-boundary off-by-one is a
    hash mismatch. Scale shape: decode + patchify is per-row CPU work
    in Arrow batches; the output fan-out is (w/P)·(h/P) rows per image
    — the same embarrassingly-parallel layout a 100 TB media lake
    needs, with no shuffle until the grouped emit."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    from supabase_etl_spark.operators import imagecodec as IC

    imgs = _images(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            uris, prs, pcs, ns, sums = [], [], [], [], []
            for uri, content in zip(pdf["uri"], pdf["content"]):
                w, h, ch, px = IC.decode_image(bytes(content))
                a = (
                    np.frombuffer(px, dtype=np.uint8)
                    .astype(np.int64)
                    .reshape(h, w, ch)
                )
                for pr in range((h + PATCH - 1) // PATCH):
                    for pc in range((w + PATCH - 1) // PATCH):
                        blk = a[
                            pr * PATCH : (pr + 1) * PATCH,
                            pc * PATCH : (pc + 1) * PATCH,
                            :,
                        ]
                        uris.append(uri)
                        prs.append(pr)
                        pcs.append(pc)
                        ns.append(int(blk.size))
                        sums.append(int(blk.sum()))
            yield pd.DataFrame(
                {
                    "uri": uris,
                    "patch_row": pd.Series(prs, dtype="int32"),
                    "patch_col": pd.Series(pcs, dtype="int32"),
                    "n_values": pd.Series(ns, dtype="int64"),
                    "patch_sum": pd.Series(sums, dtype="int64"),
                }
            )

    patches = imgs.mapInPandas(
        run,
        schema="uri string, patch_row int, patch_col int, n_values long, patch_sum long",
    )
    return patches.select(
        "uri",
        "patch_row",
        "patch_col",
        "n_values",
        "patch_sum",
        (F.col("patch_sum").cast("double") / F.col("n_values")).alias("patch_mean"),
    ).orderBy("uri", "patch_row", "patch_col")


VAD_FRAME = 50  # samples per energy frame
VAD_THRESH = 55000  # frame activity threshold on sum(|s|)


@query(
    "multimodal_audio_energy_segments",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, concat('doc://', doc_id, '.wav') AS uri,
               doc_id % {M.SEED_MOD} AS seed,
               {M.AUDIO_LEN_BASE} + doc_id % {M.AUDIO_LEN_SPAN} AS n
        FROM documents WHERE doc_id < {AUDIO_DOCS}
    ),
    sig AS (
        SELECT d.uri, t.i // {VAD_FRAME} AS frame,
               ABS((7 * d.seed + 11 * t.i) % {M.AUDIO_AMP_MOD} - 2000) AS a
        FROM docs d, range(0, {M.AUDIO_LEN_BASE + M.AUDIO_LEN_SPAN}) AS t(i)
        WHERE t.i < d.n
    ),
    frames AS (
        SELECT uri, CAST(frame AS BIGINT) AS frame,
               CAST(SUM(a) AS BIGINT) AS energy
        FROM sig GROUP BY uri, frame
    ),
    active AS (
        SELECT uri, frame, energy,
               frame - ROW_NUMBER() OVER (PARTITION BY uri ORDER BY frame) AS island
        FROM frames WHERE energy > {VAD_THRESH}
    )
    SELECT uri,
           CAST(MIN(frame) AS BIGINT) AS start_frame,
           CAST(MAX(frame) AS BIGINT) AS end_frame,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(energy) AS BIGINT) AS segment_energy
    FROM active
    GROUP BY uri, island
    ORDER BY uri, start_frame
    """,
    tags=("llm", "multimodal", "audio"),
)
def multimodal_audio_energy_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based activity segmentation over REAL decoded audio (the
    VAD-shaped primitive speech pipelines run before transcription):
    each RIFF/WAVE payload is parsed by the engine's chunk-walking
    decoder in Arrow-batched mapInPandas and reduced to per-50-sample
    frame energies; active frames (Σ|s| over threshold) merge into
    segments with the gaps-and-islands rewrite. The oracle replays the
    PCM synthesis, so a decode defect or frame-boundary off-by-one is
    a hash mismatch. Scale: decode+frame is per-row Arrow work, frames
    shrink the payload 50x before the per-uri island windows."""
    import pandas as pd
    from collections.abc import Iterator

    from supabase_etl_spark.operators import audiocodec as AC

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < AUDIO_DOCS)
    audio = M.generate_audio(d.select("doc_id"))

    def frame_energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            uris, frames, energies = [], [], []
            for uri, content in zip(pdf["uri"], pdf["content"]):
                _rate, _n, samples = AC.decode_wav(bytes(content))
                for f0 in range(0, len(samples), VAD_FRAME):
                    uris.append(uri)
                    frames.append(f0 // VAD_FRAME)
                    energies.append(sum(abs(s) for s in samples[f0 : f0 + VAD_FRAME]))
            yield pd.DataFrame(
                {
                    "uri": uris,
                    "frame": pd.Series(frames, dtype="int64"),
                    "energy": pd.Series(energies, dtype="int64"),
                }
            )

    from pyspark.sql import Window

    frames = audio.mapInPandas(
        frame_energy, schema="uri string, frame long, energy long"
    )
    w = Window.partitionBy("uri").orderBy("frame")
    active = frames.filter(F.col("energy") > VAD_THRESH).withColumn(
        "island", F.col("frame") - F.row_number().over(w)
    )
    return (
        active.groupBy("uri", "island")
        .agg(
            F.min("frame").alias("start_frame"),
            F.max("frame").alias("end_frame"),
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("energy").alias("segment_energy"),
        )
        .drop("island")
        .orderBy("uri", "start_frame")
    )


HIST_BUCKETS = 8  # intensity histogram buckets (256 / 32)
HIST_TOP_K = 3


@query(
    "multimodal_image_histogram_similarity",
    oracle=f"""
    WITH {_IMG_DOCS_CTE},
    px AS (
        SELECT d.uri,
               (d.seed + 3 * x.i + 5 * y.j + 7 * c.k) % 256 AS v
        FROM docs d,
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS x(i),
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS y(j),
             range(0, 3) AS c(k)
        WHERE x.i < d.w AND y.j < d.h
    ),
    hist AS (
        SELECT uri, v // 32 AS bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM px GROUP BY uri, v // 32
    ),
    norms AS (
        SELECT uri, CAST(SUM(c * c) AS BIGINT) AS n2 FROM hist GROUP BY uri
    ),
    dots AS (
        SELECT a.uri AS ua, b.uri AS ub, CAST(SUM(a.c * b.c) AS BIGINT) AS dot
        FROM hist a JOIN hist b ON a.bucket = b.bucket AND a.uri < b.uri
        GROUP BY a.uri, b.uri
    ),
    sym AS (
        SELECT ua AS uri, ub AS neighbor, dot FROM dots
        UNION ALL
        SELECT ub AS uri, ua AS neighbor, dot FROM dots
    ),
    scored AS (
        SELECT s.uri, s.neighbor,
               s.dot / SQRT(CAST(na.n2 AS DOUBLE) * nb.n2) AS cosine
        FROM sym s
        JOIN norms na ON s.uri = na.uri
        JOIN norms nb ON s.neighbor = nb.uri
    )
    SELECT uri, neighbor, ROUND(cosine, 9) AS cosine, CAST(rk AS BIGINT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY uri ORDER BY ROUND(cosine, 9) DESC, neighbor ASC) AS rk
        FROM scored
    )
    WHERE rk <= {HIST_TOP_K}
    ORDER BY uri, rank
    """,
    tags=("llm", "multimodal", "similarity"),
)
def multimodal_image_histogram_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color-distribution near-duplicate search over REAL decoded
    images: each payload is decoded by the engine's raster codecs in
    Arrow-batched mapInPandas, reduced to an 8-bucket intensity
    histogram (the classic global-color image descriptor —
    complementary to the structural aHash/dHash dedups, which miss
    recolored crops that histograms catch and vice versa), then
    top-3 nearest neighbors per image by histogram cosine via a
    bucket-keyed inverted-index join. Integer dot/norm arithmetic +
    IEEE sqrt keeps cosines bit-identical; ranking is
    quantize-then-rank. The image fixture is capped at {IMG_DOCS} ids
    by design; an unbounded media lake would LSH-bucket the histograms
    first (the dedup_embedding_cosine machinery applies verbatim)."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    from supabase_etl_spark.operators import imagecodec as IC

    imgs = _images(spark, sf_dir)

    def hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            uris, buckets, counts = [], [], []
            for uri, content in zip(pdf["uri"], pdf["content"]):
                w, h, ch, px = IC.decode_image(bytes(content))
                a = np.frombuffer(px, dtype=np.uint8)
                bc = np.bincount(a // 32, minlength=HIST_BUCKETS)
                for b in range(HIST_BUCKETS):
                    if bc[b]:
                        uris.append(uri)
                        buckets.append(b)
                        counts.append(int(bc[b]))
            yield pd.DataFrame(
                {
                    "uri": uris,
                    "bucket": pd.Series(buckets, dtype="int32"),
                    "c": pd.Series(counts, dtype="int64"),
                }
            )

    # decode once: norms + both join sides (scan-leaf lint)
    h = pin(imgs.mapInPandas(hist, schema="uri string, bucket int, c long"))
    norms = h.groupBy("uri").agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("n2"))
    a = h.alias("a")
    b = h.alias("b")
    dots = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.uri") < F.col("b.uri")))
        .groupBy(F.col("a.uri").alias("ua"), F.col("b.uri").alias("ub"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).cast("bigint").alias("dot"))
    )
    sym = dots.select(F.col("ua").alias("uri"), F.col("ub").alias("neighbor"), "dot").unionAll(
        dots.select(F.col("ub").alias("uri"), F.col("ua").alias("neighbor"), "dot")
    )
    na = norms.select(F.col("uri"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("uri").alias("neighbor"), F.col("n2").alias("nb2"))
    scored = (
        sym.join(na, "uri")
        .join(nb, "neighbor")
        .select(
            "uri",
            "neighbor",
            (
                F.col("dot") / F.sqrt(F.col("na2").cast("double") * F.col("nb2"))
            ).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    wr = Window.partitionBy("uri").orderBy(
        F.round("cosine", 9).desc(), F.col("neighbor").asc()
    )
    return (
        scored.select(
            "uri",
            "neighbor",
            F.round("cosine", 9).alias("cosine"),
            F.row_number().over(wr).cast("bigint").alias("rank"),
        )
        .filter(F.col("rank") <= HIST_TOP_K)
        .orderBy("uri", "rank")
    )


@query(
    "multimodal_image_sobel_edges",
    oracle=f"""
    WITH {_IMG_DOCS_CTE},
    grads AS (
        SELECT d.uri, d.w, d.h,
               ABS(((d.seed + 3*(x.i+1) + 5*(y.j-1) + 7*c.k) % 256
                    + 2*((d.seed + 3*(x.i+1) + 5*y.j + 7*c.k) % 256)
                    + (d.seed + 3*(x.i+1) + 5*(y.j+1) + 7*c.k) % 256)
                   - ((d.seed + 3*(x.i-1) + 5*(y.j-1) + 7*c.k) % 256
                      + 2*((d.seed + 3*(x.i-1) + 5*y.j + 7*c.k) % 256)
                      + (d.seed + 3*(x.i-1) + 5*(y.j+1) + 7*c.k) % 256))
               + ABS(((d.seed + 3*(x.i-1) + 5*(y.j+1) + 7*c.k) % 256
                      + 2*((d.seed + 3*x.i + 5*(y.j+1) + 7*c.k) % 256)
                      + (d.seed + 3*(x.i+1) + 5*(y.j+1) + 7*c.k) % 256)
                     - ((d.seed + 3*(x.i-1) + 5*(y.j-1) + 7*c.k) % 256
                        + 2*((d.seed + 3*x.i + 5*(y.j-1) + 7*c.k) % 256)
                        + (d.seed + 3*(x.i+1) + 5*(y.j-1) + 7*c.k) % 256))
                   AS g
        FROM docs d,
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS x(i),
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS y(j),
             range(0, 3) AS c(k)
        WHERE x.i >= 1 AND x.i < d.w - 1 AND y.j >= 1 AND y.j < d.h - 1
    )
    SELECT uri, CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_interior,
           CAST(SUM(g) AS BIGINT) AS edge_energy,
           CAST(MAX(g) AS BIGINT) AS max_gradient
    FROM grads GROUP BY uri
    ORDER BY uri
    """,
    tags=("llm", "multimodal"),
)
def multimodal_image_sobel_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sobel edge extraction over REAL decoded images: each container
    file goes through the engine codecs, and the 3x3 Sobel |Gx|+|Gy|
    energy is computed on the decoded buffer with numpy inside
    Arrow-batched mapInPandas — the canonical image-feature shape
    (decode → convolve → per-image stats) a multimodal training
    pipeline runs per shard. Exact integer gradients, so the oracle
    can replay the pixel SYNTHESIS formula analytically (every
    neighbor value is inline modular arithmetic, no SQL convolution
    joins); any decode or orientation defect is a hash mismatch. One
    corpus pass, per-image work bounded by w·h·3."""
    import numpy as np
    import pandas as pd

    from supabase_etl_spark.operators import imagecodec as IC

    def sobel(batches):
        for pdf in batches:
            uris, ws, hs, nin, es, mg = [], [], [], [], [], []
            for uri, content in zip(pdf["uri"], pdf["content"]):
                w, h, ch, buf = IC.decode_image(bytes(content))
                a = np.frombuffer(buf, dtype=np.uint8).astype(np.int64)
                a = a.reshape(h, w, ch)
                gx = (
                    (a[:-2, 2:] + 2 * a[1:-1, 2:] + a[2:, 2:])
                    - (a[:-2, :-2] + 2 * a[1:-1, :-2] + a[2:, :-2])
                )
                gy = (
                    (a[2:, :-2] + 2 * a[2:, 1:-1] + a[2:, 2:])
                    - (a[:-2, :-2] + 2 * a[:-2, 1:-1] + a[:-2, 2:])
                )
                g = np.abs(gx) + np.abs(gy)
                uris.append(uri)
                ws.append(w)
                hs.append(h)
                nin.append(int(g.shape[0] * g.shape[1] * ch))
                es.append(int(g.sum()))
                mg.append(int(g.max()))
            yield pd.DataFrame(
                {
                    "uri": uris,
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "n_interior": pd.Series(nin, dtype="int64"),
                    "edge_energy": pd.Series(es, dtype="int64"),
                    "max_gradient": pd.Series(mg, dtype="int64"),
                }
            )

    return (
        _images(spark, sf_dir)
        .mapInPandas(
            sobel,
            "uri string, width int, height int, n_interior bigint, "
            "edge_energy bigint, max_gradient bigint",
        )
        .orderBy("uri")
    )


AV_DOCS = 30  # A/V pairs: doc_id < AV_DOCS carries both a WAV and a Y4M
AV_SYNC_TOL_MS = 200.0  # drift alert threshold


@query(
    "multimodal_av_sync_audit",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id,
               {M.AUDIO_LEN_BASE} + doc_id % {M.AUDIO_LEN_SPAN} AS n_samples,
               {M.VIDEO_FRAMES_BASE} + doc_id % {M.VIDEO_FRAMES_SPAN} AS n_frames
        FROM documents WHERE doc_id < {AV_DOCS}
    )
    SELECT doc_id,
           CAST(n_samples AS INT) AS n_samples,
           CAST(n_frames AS INT) AS n_frames,
           round(1000.0 * n_samples / {M.AUDIO_RATE}, 9) AS audio_ms,
           round(1000.0 * n_frames / 25.0, 9) AS video_ms,
           round(1000.0 * n_samples / {M.AUDIO_RATE}
                 - 1000.0 * n_frames / 25.0, 9) AS drift_ms,
           abs(1000.0 * n_samples / {M.AUDIO_RATE}
               - 1000.0 * n_frames / 25.0) > {AV_SYNC_TOL_MS!r} AS out_of_sync
    FROM docs
    ORDER BY doc_id
    """,
    tags=("llm", "multimodal", "audio", "video"),
)
def multimodal_av_sync_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio/video SYNC audit over REAL container decodes — the
    ingest-QA check a multimodal training pipeline runs before pairing
    modalities: each document's WAV (RIFF PCM) and Y4M (YUV4MPEG2)
    payloads are built and decoded by the engine's own codecs inside
    Arrow mapInPandas; durations come from the DECODED header facts
    (sample count / sample rate; frame count / the container's F25:1
    rate), and the drift between the two tracks is flagged against a
    200 ms budget. The oracle replays the synthesis arithmetic — a
    codec header bug (wrong rate, miscounted frames) lands here as a
    hash mismatch.

    Scale: decode is embarrassingly parallel; only (doc_id, two small
    ints) survive to the join — the ~1000x payload shrink the other
    multimodal ops document. The audio×video join is doc-keyed."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < AV_DOCS)
    ids = d.select("doc_id")
    audio = M.generate_audio(ids)
    a_feats = M.extract_audio_features(audio).select(
        F.regexp_extract("uri", r"doc://(\d+)\.wav", 1).cast("bigint").alias("doc_id"),
        "n_samples",
        "sample_rate",
    )
    video = M.generate_videos(ids)
    v_feats = (
        M.sample_video_frames(video, every_k=1)
        .groupBy(
            F.regexp_extract("uri", r"doc://(\d+)\.y4m", 1)
            .cast("bigint")
            .alias("doc_id")
        )
        .agg(F.max("n_frames").alias("n_frames"))
    )
    audio_ms = F.lit(1000.0) * F.col("n_samples") / F.col("sample_rate")
    video_ms = F.lit(1000.0) * F.col("n_frames") / F.lit(25.0)
    return (
        a_feats.join(v_feats, "doc_id")
        .select(
            "doc_id",
            F.col("n_samples").cast("int").alias("n_samples"),
            F.col("n_frames").cast("int").alias("n_frames"),
            F.round(audio_ms, 9).alias("audio_ms"),
            F.round(video_ms, 9).alias("video_ms"),
            F.round(audio_ms - video_ms, 9).alias("drift_ms"),
            (F.abs(audio_ms - video_ms) > AV_SYNC_TOL_MS).alias("out_of_sync"),
        )
        .orderBy("doc_id")
    )


SSIM_TOP_K = 10
# SSIM stability constants for the integer gray range L = 3*255
_SSIM_L = 765.0
_SSIM_C1 = repr((0.01 * _SSIM_L) ** 2)
_SSIM_C2 = repr((0.03 * _SSIM_L) ** 2)
_SSIM_C3 = repr((0.03 * _SSIM_L) ** 2 / 2.0)


@query(
    "multimodal_image_ssim_pairs",
    oracle=f"""
    WITH {_IMG_DOCS_CTE},
    px AS (
        SELECT d.uri, d.w, d.h,
               y.j * d.w + x.i AS idx,
               (d.seed + 3 * x.i + 5 * y.j) % 256
               + (d.seed + 3 * x.i + 5 * y.j + 7) % 256
               + (d.seed + 3 * x.i + 5 * y.j + 14) % 256 AS v
        FROM docs d,
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS x(i),
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS y(j)
        WHERE x.i < d.w AND y.j < d.h
    ),
    mom AS (
        SELECT uri, w, h,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(SUM(v) AS DOUBLE) AS s1,
               CAST(SUM(v * v) AS DOUBLE) AS s2
        FROM px GROUP BY uri, w, h
    ),
    cross_mom AS (
        SELECT a.uri AS ua, b.uri AS ub, CAST(SUM(a.v * b.v) AS DOUBLE) AS sab
        FROM px a JOIN px b
          ON a.w = b.w AND a.h = b.h AND a.idx = b.idx AND a.uri < b.uri
        GROUP BY a.uri, b.uri
    ),
    scored AS (
        SELECT c.ua, c.ub,
               round(
                 ((2.0 * (ma.s1/ma.n) * (mb.s1/mb.n) + {_SSIM_C1})
                  / ((ma.s1/ma.n)*(ma.s1/ma.n) + (mb.s1/mb.n)*(mb.s1/mb.n) + {_SSIM_C1}))
                 * ((2.0 * sqrt(ma.s2/ma.n - (ma.s1/ma.n)*(ma.s1/ma.n))
                         * sqrt(mb.s2/mb.n - (mb.s1/mb.n)*(mb.s1/mb.n)) + {_SSIM_C2})
                    / ((ma.s2/ma.n - (ma.s1/ma.n)*(ma.s1/ma.n))
                       + (mb.s2/mb.n - (mb.s1/mb.n)*(mb.s1/mb.n)) + {_SSIM_C2}))
                 * ((c.sab/ma.n - (ma.s1/ma.n)*(mb.s1/mb.n) + {_SSIM_C3})
                    / (sqrt(ma.s2/ma.n - (ma.s1/ma.n)*(ma.s1/ma.n))
                       * sqrt(mb.s2/mb.n - (mb.s1/mb.n)*(mb.s1/mb.n)) + {_SSIM_C3})),
                 9) AS ssim
        FROM cross_mom c
        JOIN mom ma ON c.ua = ma.uri
        JOIN mom mb ON c.ub = mb.uri
    )
    SELECT ua, ub, ssim
    FROM scored
    ORDER BY ssim DESC, ua, ub
    LIMIT {SSIM_TOP_K}
    """,
    tags=("llm", "multimodal", "similarity"),
)
def multimodal_image_ssim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global SSIM (Wang et al. 2004, single-window form) between every
    pair of REAL decoded images sharing the same dimensions: luminance
    · contrast · structure terms from exact integer pixel moments
    (μ, σ², σab on the per-pixel channel-sum gray, L = 765, the
    standard C1=(0.01L)², C2=(0.03L)², C3=C2/2 stabilizers). Top-10
    most structurally similar pairs — the perceptual-QA complement to
    the aHash/dHash dedup trio (SSIM catches "same structure,
    different brightness" that bit hashes miss).

    100 TB: decode shrinks each payload to a ≤(16×16) gray VECTOR in
    one Arrow pass; pairs are blocked on (w, h) — the same-dims
    equi-join — and each pair reduces two bounded arrays with a
    zip_with dot product: one row per pair, no per-pixel shuffle, no
    all-pairs across dimension classes. Window-level SSIM = the same
    plan with (w, h, window_id) keys. Oracle replays the pixel
    synthesis; the engine decodes real PNG/BMP/PPM containers — a
    codec defect is a hash mismatch."""
    vecs = M.decode_gray_vectors(_images(spark, sf_dir))
    mom = vecs.select(
        "uri",
        "w",
        "h",
        "gray",
        (F.col("w") * F.col("h")).cast("double").alias("n"),
        F.aggregate("gray", F.lit(0).cast("long"), lambda a, x: a + x)
        .cast("double")
        .alias("s1"),
        F.aggregate("gray", F.lit(0).cast("long"), lambda a, x: a + x * x)
        .cast("double")
        .alias("s2"),
    )
    a = mom.select(
        F.col("uri").alias("ua"), F.col("w").alias("wa"), F.col("h").alias("ha"),
        F.col("gray").alias("ga"), F.col("n").alias("na"),
        F.col("s1").alias("s1a"), F.col("s2").alias("s2a"),
    )
    b = mom.select(
        F.col("uri").alias("ub"), F.col("w").alias("wb"), F.col("h").alias("hb"),
        F.col("gray").alias("gb"), F.col("n").alias("nb"),
        F.col("s1").alias("s1b"), F.col("s2").alias("s2b"),
    )
    pairs = a.join(
        b,
        (F.col("wa") == F.col("wb")) & (F.col("ha") == F.col("hb")) & (F.col("ua") < F.col("ub")),
    ).withColumn(
        "sab",
        F.aggregate(
            F.zip_with("ga", "gb", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double"),
    )
    return (
        pairs.select("ua", "ub", F.round(_ssim_score(), 9).alias("ssim"))
        .orderBy(F.desc("ssim"), "ua", "ub")
        .limit(SSIM_TOP_K)
    )


def _ssim_score():
    """Global-window SSIM column over a pair frame carrying the moment
    columns (na, s1a, s2a, nb, s1b, s2b, sab) — the luminance ·
    contrast · structure product with the standard stabilizers."""
    mua = F.col("s1a") / F.col("na")
    mub = F.col("s1b") / F.col("nb")
    vara = F.col("s2a") / F.col("na") - mua * mua
    varb = F.col("s2b") / F.col("nb") - mub * mub
    cov = F.col("sab") / F.col("na") - mua * mub
    c1, c2, c3 = (F.lit(float(x)) for x in (_SSIM_C1, _SSIM_C2, _SSIM_C3))
    return (
        ((2.0 * mua * mub + c1) / (mua * mua + mub * mub + c1))
        * ((2.0 * F.sqrt(vara) * F.sqrt(varb) + c2) / (vara + varb + c2))
        * ((cov + c3) / (F.sqrt(vara) * F.sqrt(varb) + c3))
    )


@query(
    "multimodal_ssim_over_phash_candidates",
    oracle=f"""
    WITH {_IMG_DOCS_CTE},
    px AS (
        SELECT d.uri, d.w, d.h,
               y.j * d.w + x.i AS idx,
               x.i AS xi, y.j AS yj,
               (d.seed + 3 * x.i + 5 * y.j) % 256
               + (d.seed + 3 * x.i + 5 * y.j + 7) % 256
               + (d.seed + 3 * x.i + 5 * y.j + 14) % 256 AS v
        FROM docs d,
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS x(i),
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS y(j)
        WHERE x.i < d.w AND y.j < d.h
    ),
    blocks AS (
        SELECT uri, (yj * 8) // h AS bi, (xi * 8) // w AS bj,
               SUM(v) AS bs, COUNT(*) AS bc
        FROM px GROUP BY 1, 2, 3
    ),
    tot AS (SELECT uri, SUM(v) AS ts, COUNT(*) AS tc FROM px GROUP BY uri),
    hashes AS (
        SELECT b.uri,
               string_agg(
                   CASE WHEN b.bs * t.tc > t.ts * b.bc THEN '1' ELSE '0' END,
                   '' ORDER BY b.bi, b.bj) AS ahash
        FROM blocks b JOIN tot t USING (uri) GROUP BY b.uri
    ),
    mom AS (
        SELECT uri, w, h,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(SUM(v) AS DOUBLE) AS s1,
               CAST(SUM(v * v) AS DOUBLE) AS s2
        FROM px GROUP BY uri, w, h
    ),
    cand AS (
        SELECT ha.uri AS ua, hb.uri AS ub
        FROM hashes ha JOIN hashes hb
          ON ha.ahash = hb.ahash AND ha.uri < hb.uri
    ),
    cross_mom AS (
        SELECT c.ua, c.ub, CAST(SUM(a.v * b.v) AS DOUBLE) AS sab
        FROM cand c
        JOIN px a ON a.uri = c.ua
        JOIN px b ON b.uri = c.ub
         AND a.w = b.w AND a.h = b.h AND a.idx = b.idx
        GROUP BY c.ua, c.ub
    )
    SELECT c.ua, c.ub,
           round(
             ((2.0 * (ma.s1/ma.n) * (mb.s1/mb.n) + {_SSIM_C1})
              / ((ma.s1/ma.n)*(ma.s1/ma.n) + (mb.s1/mb.n)*(mb.s1/mb.n) + {_SSIM_C1}))
             * ((2.0 * sqrt(ma.s2/ma.n - (ma.s1/ma.n)*(ma.s1/ma.n))
                     * sqrt(mb.s2/mb.n - (mb.s1/mb.n)*(mb.s1/mb.n)) + {_SSIM_C2})
                / ((ma.s2/ma.n - (ma.s1/ma.n)*(ma.s1/ma.n))
                   + (mb.s2/mb.n - (mb.s1/mb.n)*(mb.s1/mb.n)) + {_SSIM_C2}))
             * ((c.sab/ma.n - (ma.s1/ma.n)*(mb.s1/mb.n) + {_SSIM_C3})
                / (sqrt(ma.s2/ma.n - (ma.s1/ma.n)*(ma.s1/ma.n))
                   * sqrt(mb.s2/mb.n - (mb.s1/mb.n)*(mb.s1/mb.n)) + {_SSIM_C3})),
             9) AS ssim
    FROM cross_mom c
    JOIN mom ma ON c.ua = ma.uri
    JOIN mom mb ON c.ub = mb.uri AND ma.w = mb.w AND ma.h = mb.h
    ORDER BY ssim DESC, ua, ub
    """,
    tags=("llm", "multimodal", "similarity", "dedup"),
    bench=True,
    basis="absolute",
)
def multimodal_ssim_over_phash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION composition of perceptual dedup + structural
    verification (VERDICT r7 task 6): candidate pairs come from the
    aHash bucket join (images sharing the 64-bit signature — the
    dedup_exact-shaped shuffle of multimodal_image_phash_dedup), and
    ONLY those pairs are scored with global SSIM. Replaces the
    quadratic same-dims blocking of multimodal_image_ssim_pairs (an
    eval fixture) with a candidate set linear in true near-duplicates:
    at 100 TB the bucket join emits ~one pair per duplicate, the gray
    vectors join in by uri (two bounded-array lookups per pair), and
    no dimension class ever goes all-pairs. Same-dims guard on the
    SSIM join keeps zip_with well-defined when a signature collides
    across sizes.

    The image set is decoded EXACTLY ONCE (r8 task 5): one Arrow
    mapInPandas pass emits gray vector + aHash together and is pinned
    once, so the signature self-join and both moment
    sides read the same materialized decode instead of re-running the
    codec per consumer (previously two decode passes, one per
    helper)."""
    dec = pin(M.decode_gray_with_ahash(_images(spark, sf_dir)), eager=True)
    hashed = dec.select("uri", "ahash")
    cand = (
        hashed.alias("x")
        .join(
            hashed.alias("y"),
            (F.col("x.ahash") == F.col("y.ahash"))
            & (F.col("x.uri") < F.col("y.uri")),
        )
        .select(F.col("x.uri").alias("ua"), F.col("y.uri").alias("ub"))
    )
    mom = dec.select(
        "uri",
        "w",
        "h",
        "gray",
        (F.col("w") * F.col("h")).cast("double").alias("n"),
        F.aggregate("gray", F.lit(0).cast("long"), lambda a, x: a + x)
        .cast("double")
        .alias("s1"),
        F.aggregate("gray", F.lit(0).cast("long"), lambda a, x: a + x * x)
        .cast("double")
        .alias("s2"),
    )
    a = mom.select(
        F.col("uri").alias("ua"), F.col("w").alias("wa"), F.col("h").alias("ha"),
        F.col("gray").alias("ga"), F.col("n").alias("na"),
        F.col("s1").alias("s1a"), F.col("s2").alias("s2a"),
    )
    b = mom.select(
        F.col("uri").alias("ub"), F.col("w").alias("wb"), F.col("h").alias("hb"),
        F.col("gray").alias("gb"), F.col("n").alias("nb"),
        F.col("s1").alias("s1b"), F.col("s2").alias("s2b"),
    )
    pairs = (
        cand.join(a, "ua")
        .join(b, "ub")
        .filter((F.col("wa") == F.col("wb")) & (F.col("ha") == F.col("hb")))
        .withColumn(
            "sab",
            F.aggregate(
                F.zip_with("ga", "gb", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).cast("double"),
        )
    )
    return pairs.select("ua", "ub", F.round(_ssim_score(), 9).alias("ssim")).orderBy(
        F.desc("ssim"), "ua", "ub"
    )


SSIM_DEDUP_T = 0.98  # structural-verify accept threshold (round-9 SSIM)


@query(
    "multimodal_dedup_pipeline_e2e",
    oracle=f"""
    WITH RECURSIVE {_IMG_DOCS_CTE},
    px AS (
        SELECT d.doc_id, d.uri, d.w, d.h,
               y.j * d.w + x.i AS idx,
               x.i AS xi, y.j AS yj,
               (d.seed + 3 * x.i + 5 * y.j) % 256
               + (d.seed + 3 * x.i + 5 * y.j + 7) % 256
               + (d.seed + 3 * x.i + 5 * y.j + 14) % 256 AS v
        FROM docs d,
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS x(i),
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS y(j)
        WHERE x.i < d.w AND y.j < d.h
    ),
    blocks AS (
        SELECT uri, (yj * 8) // h AS bi, (xi * 8) // w AS bj,
               SUM(v) AS bs, COUNT(*) AS bc
        FROM px GROUP BY 1, 2, 3
    ),
    tot AS (SELECT uri, SUM(v) AS ts, COUNT(*) AS tc FROM px GROUP BY uri),
    hashes AS (
        SELECT b.uri,
               string_agg(
                   CASE WHEN b.bs * t.tc > t.ts * b.bc THEN '1' ELSE '0' END,
                   '' ORDER BY b.bi, b.bj) AS ahash
        FROM blocks b JOIN tot t USING (uri) GROUP BY b.uri
    ),
    mom AS (
        SELECT doc_id, uri, w, h,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(SUM(v) AS DOUBLE) AS s1,
               CAST(SUM(v * v) AS DOUBLE) AS s2
        FROM px GROUP BY doc_id, uri, w, h
    ),
    cand AS (
        SELECT ha.uri AS ua, hb.uri AS ub
        FROM hashes ha JOIN hashes hb
          ON ha.ahash = hb.ahash AND ha.uri < hb.uri
    ),
    cross_mom AS (
        SELECT c.ua, c.ub, CAST(SUM(a.v * b.v) AS DOUBLE) AS sab
        FROM cand c
        JOIN px a ON a.uri = c.ua
        JOIN px b ON b.uri = c.ub
         AND a.w = b.w AND a.h = b.h AND a.idx = b.idx
        GROUP BY c.ua, c.ub
    ),
    verified AS (
        SELECT ma.doc_id AS ida, mb.doc_id AS idb
        FROM cross_mom c
        JOIN mom ma ON c.ua = ma.uri
        JOIN mom mb ON c.ub = mb.uri AND ma.w = mb.w AND ma.h = mb.h
        WHERE round(
             ((2.0 * (ma.s1/ma.n) * (mb.s1/mb.n) + {_SSIM_C1})
              / ((ma.s1/ma.n)*(ma.s1/ma.n) + (mb.s1/mb.n)*(mb.s1/mb.n) + {_SSIM_C1}))
             * ((2.0 * sqrt(ma.s2/ma.n - (ma.s1/ma.n)*(ma.s1/ma.n))
                     * sqrt(mb.s2/mb.n - (mb.s1/mb.n)*(mb.s1/mb.n)) + {_SSIM_C2})
                / ((ma.s2/ma.n - (ma.s1/ma.n)*(ma.s1/ma.n))
                   + (mb.s2/mb.n - (mb.s1/mb.n)*(mb.s1/mb.n)) + {_SSIM_C2}))
             * ((c.sab/ma.n - (ma.s1/ma.n)*(mb.s1/mb.n) + {_SSIM_C3})
                / (sqrt(ma.s2/ma.n - (ma.s1/ma.n)*(ma.s1/ma.n))
                   * sqrt(mb.s2/mb.n - (mb.s1/mb.n)*(mb.s1/mb.n)) + {_SSIM_C3})),
             9) >= {SSIM_DEDUP_T!r}
    ),
    edges AS (
        SELECT ida AS src, idb AS dst FROM verified
        UNION
        SELECT idb, ida FROM verified
    ),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM docs
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    clusters AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
    csize AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM clusters GROUP BY cluster_id
    )
    SELECT c.doc_id, c.cluster_id, s.cluster_size,
           (c.doc_id = c.cluster_id) AS is_survivor
    FROM clusters c JOIN csize s ON c.cluster_id = s.cluster_id
    ORDER BY c.doc_id
    """,
    tags=("llm", "multimodal", "dedup", "pipeline"),
)
def multimodal_dedup_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IMAGE-SPACE mirror of dedup_pipeline_end_to_end — perceptual
    dedup as one composed plan, every stage the registry's own
    operator:

      1. DECODE ONCE: gray vector + 64-bit aHash from a single pinned
         Arrow pass (operators/multimodal.decode_gray_with_ahash).
      2. CANDIDATES: aHash-equality bucket join (dedup_exact-shaped
         shuffle on the signature — linear in true near-duplicates,
         never all-pairs, no dims class fallback).
      3. STRUCTURAL VERIFY: global SSIM on candidate pairs only
         (row-local zip_with dot products over the pinned vectors),
         accept at >= {SSIM_DEDUP_T} on the round-9 score.
      4. CLUSTER: large-star/small-star connected components
         (operators/cc — log-round, checkpoint-truncated).
      5. SURVIVE: min-doc_id canonical per cluster + cluster sizes.

    Output is the keep/drop ledger for the image corpus. 100 TB
    posture: payloads shrink ~1000x at the decode boundary before any
    shuffle, candidates are signature-bucketed, the SSIM verify is
    per-pair row-local, and CC runs on (id, id) pairs — corpus-linear
    plus near-dup-linear, the same argument as the text pipeline."""
    from supabase_etl_spark.operators.cc import connected_components

    dec = pin(M.decode_gray_with_ahash(_images(spark, sf_dir)), eager=True)
    did = F.regexp_replace("uri", "^doc://", "").cast("bigint")
    hashed = dec.select(did.alias("did"), "uri", "ahash")
    cand = (
        hashed.alias("x")
        .join(
            hashed.alias("y"),
            (F.col("x.ahash") == F.col("y.ahash"))
            & (F.col("x.uri") < F.col("y.uri")),
        )
        .select(
            F.col("x.uri").alias("ua"),
            F.col("y.uri").alias("ub"),
            F.col("x.did").alias("ida"),
            F.col("y.did").alias("idb"),
        )
    )
    mom = dec.select(
        "uri",
        "w",
        "h",
        "gray",
        (F.col("w") * F.col("h")).cast("double").alias("n"),
        F.aggregate("gray", F.lit(0).cast("long"), lambda a, x: a + x)
        .cast("double")
        .alias("s1"),
        F.aggregate("gray", F.lit(0).cast("long"), lambda a, x: a + x * x)
        .cast("double")
        .alias("s2"),
    )
    a = mom.select(
        F.col("uri").alias("ua"), F.col("w").alias("wa"), F.col("h").alias("ha"),
        F.col("gray").alias("ga"), F.col("n").alias("na"),
        F.col("s1").alias("s1a"), F.col("s2").alias("s2a"),
    )
    b = mom.select(
        F.col("uri").alias("ub"), F.col("w").alias("wb"), F.col("h").alias("hb"),
        F.col("gray").alias("gb"), F.col("n").alias("nb"),
        F.col("s1").alias("s1b"), F.col("s2").alias("s2b"),
    )
    verified = (
        cand.join(a, "ua")
        .join(b, "ub")
        .filter((F.col("wa") == F.col("wb")) & (F.col("ha") == F.col("hb")))
        .withColumn(
            "sab",
            F.aggregate(
                F.zip_with("ga", "gb", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).cast("double"),
        )
        .filter(F.round(_ssim_score(), 9) >= SSIM_DEDUP_T)
        .select(F.col("ida").alias("src"), F.col("idb").alias("dst"))
    )
    nodes = dec.select(did.alias("node"))
    labels = connected_components(nodes, verified)
    csize = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        labels.join(csize, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("component")).alias("is_survivor"),
        )
        .orderBy("doc_id")
    )


CLIP_T = 1900  # near-full-scale threshold on the ±2000 PCM fixture range
WALSH_KS = (1, 2, 4, 8)  # sequency bins (cycles over the clip)


@query(
    "multimodal_audio_clipping_audit",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, concat('doc://', doc_id, '.wav') AS uri,
               doc_id % {M.SEED_MOD} AS seed,
               {M.AUDIO_LEN_BASE} + doc_id % {M.AUDIO_LEN_SPAN} AS n
        FROM documents WHERE doc_id < {AUDIO_DOCS}
    ),
    sig AS (
        SELECT d.uri, d.n, t.i,
               (7 * d.seed + 11 * t.i) % {M.AUDIO_AMP_MOD} - 2000 AS s
        FROM docs d, range(0, {M.AUDIO_LEN_BASE + M.AUDIO_LEN_SPAN}) AS t(i)
        WHERE t.i < d.n
    ),
    clipped AS (
        SELECT uri, i,
               i - ROW_NUMBER() OVER (PARTITION BY uri ORDER BY i) AS grp
        FROM sig WHERE abs(s) >= {CLIP_T}
    ),
    runs AS (
        SELECT uri, count(*) AS run_len FROM clipped GROUP BY uri, grp
    ),
    agg AS (
        SELECT uri, CAST(any_value(n) AS INT) AS n_samples,
               CAST(max(abs(s)) AS INT) AS peak,
               CAST(sum(CASE WHEN abs(s) >= {CLIP_T} THEN 1 ELSE 0 END)
                    AS INT) AS n_clipped
        FROM sig GROUP BY uri
    )
    SELECT a.uri, a.n_samples, a.peak, a.n_clipped,
           CAST(coalesce(max(r.run_len), 0) AS INT) AS max_clip_run,
           round(CAST(a.n_clipped AS DOUBLE) / a.n_samples, 6) AS clip_ratio
    FROM agg a LEFT JOIN runs r ON a.uri = r.uri
    GROUP BY a.uri, a.n_samples, a.peak, a.n_clipped
    ORDER BY a.uri
    """,
    tags=("llm", "multimodal", "audio", "dq"),
)
def multimodal_audio_clipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-quality gate for a training corpus: REAL WAV decode →
    per-clip clipping census (samples in the near-full-scale band
    |s| ≥ {CLIP_T}, the longest consecutive clipped run, clip ratio).
    The run length is the signal a peak meter can't give — a flattened
    waveform (hard limiter, broken gain stage) shows long runs, a
    transient shows 1-2. The oracle replays the deterministic PCM
    synthesis and finds runs with the gaps-and-islands window — the
    max-run LOOP in the decode UDF and the SQL island count must agree
    exactly or the hash breaks. At 100 TB: decode parallelism is
    partition count; five integers per clip leave the executor."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < AUDIO_DOCS)
    stats = M.audio_clipping_stats(M.generate_audio(d.select("doc_id")), CLIP_T)
    return stats.select(
        "uri",
        "n_samples",
        "peak",
        "n_clipped",
        "max_clip_run",
        F.round(
            F.col("n_clipped").cast("double") / F.col("n_samples"), 6
        ).alias("clip_ratio"),
    ).orderBy("uri")


@query(
    "multimodal_audio_walsh_sequency",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, concat('doc://', doc_id, '.wav') AS uri,
               doc_id % {M.SEED_MOD} AS seed,
               {M.AUDIO_LEN_BASE} + doc_id % {M.AUDIO_LEN_SPAN} AS n
        FROM documents WHERE doc_id < {AUDIO_DOCS}
    ),
    sig AS (
        SELECT d.uri, d.n, t.i,
               (7 * d.seed + 11 * t.i) % {M.AUDIO_AMP_MOD} - 2000 AS s
        FROM docs d, range(0, {M.AUDIO_LEN_BASE + M.AUDIO_LEN_SPAN}) AS t(i)
        WHERE t.i < d.n
    ),
    co AS (
        SELECT s.uri, CAST(any_value(s.n) AS INT) AS n_samples,
               CAST(k.k AS INT) AS k,
               CAST(sum(s.s * (1 - 2 * (((2 * k.k * s.i) // s.n) % 2)))
                    AS BIGINT) AS coeff
        FROM sig s CROSS JOIN (VALUES (1), (2), (4), (8)) AS k(k)
        GROUP BY s.uri, k.k
    )
    SELECT uri, n_samples, k, coeff, coeff * coeff AS power
    FROM co ORDER BY uri, k
    """,
    tags=("llm", "multimodal", "audio"),
)
def multimodal_audio_walsh_sequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequency-domain feature extraction over real decoded audio:
    Walsh (square-wave) analysis coefficients c_k = Σ s[n]·w_k(n) for
    k ∈ {WALSH_KS} cycles, w_k the ±1 square wave — the
    Walsh–Hadamard analog of a k-bin DFT, chosen over Goertzel/DCT
    because the ±1 basis keeps every coefficient an exact int64 (no
    transcendental basis, so the SQL oracle is bit-identical by
    construction rather than by libm agreement). Spectral shape per
    clip = 4 integers; the corpus never shuffles anything wider."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < AUDIO_DOCS)
    co = M.audio_walsh_coeffs(M.generate_audio(d.select("doc_id")), WALSH_KS)
    return co.select(
        "uri",
        "n_samples",
        "k",
        "coeff",
        (F.col("coeff") * F.col("coeff")).alias("power"),
    ).orderBy("uri", "k")


def _sql_entropy8(cols: list[str], n: str) -> str:
    """-Σ (c/n)·ln(c/n) over 8 bucket-count columns, left-associated in
    index order so the Spark expression tree (same order) folds doubles
    identically."""
    terms = [
        f"(CASE WHEN {c} > 0 THEN -(CAST({c} AS DOUBLE) / {n})"
        f" * ln(CAST({c} AS DOUBLE) / {n}) ELSE 0.0 END)"
        for c in cols
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "multimodal_image_entropy_colorfulness",
    oracle=f"""
    WITH {_IMG_DOCS_CTE},
    px AS (
        SELECT d.uri, d.w, d.h,
               (d.seed + 3 * x.i + 5 * y.j) % 256 AS r,
               (d.seed + 3 * x.i + 5 * y.j + 7) % 256 AS g,
               (d.seed + 3 * x.i + 5 * y.j + 14) % 256 AS b
        FROM docs d,
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS x(i),
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS y(j)
        WHERE x.i < d.w AND y.j < d.h
    ),
    st AS (
        SELECT uri, w, h, CAST(count(*) AS DOUBLE) AS n,
               {", ".join(f"SUM(CASE WHEN least((r + g + b) // 96, 7) = {i} THEN 1 ELSE 0 END) AS c{i}" for i in range(8))},
               SUM(r - g) AS sum_rg,
               SUM((r - g) * (r - g)) AS sum_rg2,
               SUM(r + g - 2 * b) AS sum_yb2,
               SUM((r + g - 2 * b) * (r + g - 2 * b)) AS sum_yb22
        FROM px GROUP BY uri, w, h
    ),
    m AS (
        SELECT uri, w, h, n,
               {", ".join(f"c{i}" for i in range(8))},
               CAST(sum_rg AS DOUBLE) / n AS mean_rg,
               CAST(sum_rg2 AS DOUBLE) / n AS ms_rg,
               CAST(sum_yb2 AS DOUBLE) / (2.0 * n) AS mean_yb,
               CAST(sum_yb22 AS DOUBLE) / (4.0 * n) AS ms_yb
        FROM st
    )
    SELECT uri, w, h,
           round({_sql_entropy8([f"c{i}" for i in range(8)], "n")}, 6)
               AS entropy,
           CAST(CASE {" ".join(f"WHEN c{i} = greatest({', '.join(f'c{j}' for j in range(8))}) THEN {i}" for i in range(8))} END
               AS INT) AS dominant_bucket,
           round(sqrt(greatest((ms_rg - mean_rg * mean_rg)
                               + (ms_yb - mean_yb * mean_yb), 0.0))
                 + 0.3 * sqrt(mean_rg * mean_rg + mean_yb * mean_yb),
                 6) AS colorfulness
    FROM m ORDER BY uri
    """,
    tags=("llm", "multimodal", "dq"),
)
def multimodal_image_entropy_colorfulness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-quality gate for a vision corpus: REAL decode → 8-bucket
    intensity-histogram entropy (flat/synthetic images score low — the
    visual analog of the text garbage filter) and Hasler–Süsstrunk
    colorfulness from the rg/yb opponent axes (gray-world screenshots
    and color-cast scans separate cleanly). The decode UDF emits ONLY
    exact integer sufficient statistics (histogram + opponent-axis
    moments); entropy/colorfulness are JVM-side double expressions
    written in the same association order as the oracle's, so the hash
    checks decode, binning, and the derivation. The variance operand is
    clamped at 0 on both sides — ms − mean² can round fractionally
    negative in float. At 100 TB: one decode pass, 12 integers per
    image shuffle-side."""
    stats = M.image_color_stats(_images(spark, sf_dir))
    n = F.col("w").cast("double") * F.col("h").cast("double")
    cs = [F.element_at("hist", i + 1) for i in range(8)]
    ent_terms = [
        F.when(
            c > 0,
            -(c.cast("double") / F.col("n")) * F.log(c.cast("double") / F.col("n")),
        ).otherwise(F.lit(0.0))
        for c in cs
    ]
    entropy = ent_terms[0]
    for t in ent_terms[1:]:
        entropy = entropy + t
    mean_rg = F.col("sum_rg").cast("double") / F.col("n")
    ms_rg = F.col("sum_rg2").cast("double") / F.col("n")
    mean_yb = F.col("sum_yb2").cast("double") / (F.lit(2.0) * F.col("n"))
    ms_yb = F.col("sum_yb22").cast("double") / (F.lit(4.0) * F.col("n"))
    colorfulness = F.sqrt(
        F.greatest(
            (ms_rg - mean_rg * mean_rg) + (ms_yb - mean_yb * mean_yb),
            F.lit(0.0),
        )
    ) + F.lit(0.3) * F.sqrt(mean_rg * mean_rg + mean_yb * mean_yb)
    return (
        stats.withColumn("n", n)
        .select(
            "uri",
            "w",
            "h",
            F.round(entropy, 6).alias("entropy"),
            (F.array_position(F.col("hist"), F.array_max("hist")) - 1)
            .cast("int")
            .alias("dominant_bucket"),
            F.round(colorfulness, 6).alias("colorfulness"),
        )
        .orderBy("uri")
    )


@query(
    "multimodal_video_motion_keyframes",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, concat('doc://', doc_id, '.y4m') AS uri,
               doc_id % {M.SEED_MOD} AS seed,
               {M.VIDEO_FRAMES_BASE} + doc_id % {M.VIDEO_FRAMES_SPAN} AS n
        FROM documents WHERE doc_id < {VIDEO_DOCS}
    ),
    dif AS (
        SELECT d.uri, f.f AS frame_idx, d.n,
               SUM(abs((d.seed + 3 * x.i + 5 * y.j + 11 * f.f) % 256
                       - (d.seed + 3 * x.i + 5 * y.j + 11 * (f.f - 1)) % 256))
                   AS motion
        FROM docs d,
             range(1, {M.VIDEO_FRAMES_BASE + M.VIDEO_FRAMES_SPAN}) AS f(f),
             range(0, {M.VIDEO_W}) AS x(i),
             range(0, {M.VIDEO_H}) AS y(j)
        WHERE f.f < d.n
        GROUP BY d.uri, f.f, d.n
    ),
    nb AS (
        SELECT uri, frame_idx, n, motion,
               coalesce(lag(motion) OVER (PARTITION BY uri ORDER BY frame_idx),
                        -1) AS prev,
               coalesce(lead(motion) OVER (PARTITION BY uri ORDER BY frame_idx),
                        -1) AS nxt
        FROM dif
    ),
    kf AS (
        SELECT uri, frame_idx, n, motion
        FROM nb WHERE motion > prev AND motion >= nxt
    )
    SELECT uri, CAST(frame_idx AS INT) AS frame_idx,
           CAST(n AS INT) AS n_frames, CAST(motion AS BIGINT) AS motion,
           CAST(ROW_NUMBER() OVER (PARTITION BY uri ORDER BY frame_idx)
                AS INT) AS kf_rank
    FROM kf ORDER BY uri, frame_idx
    """,
    tags=("llm", "multimodal", "video"),
)
def multimodal_video_motion_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe selection for video curation: REAL Y4M decode → exact
    per-frame motion energy (Σ|Δluma| vs the previous frame) → local
    maxima are the keyframes (strictly rising into the frame, not
    falling out of it — the tie rule that keeps plateau runs from
    double-selecting). This is the frame-sampling pass a video training
    pipeline runs instead of fixed-stride decimation: scene changes get
    kept, static spans get dropped. The per-video neighbor windows
    partition by uri — bounded by frames-per-clip, never corpus-wide.
    At 100 TB: decode emits one scalar per frame (~W·H× shrink before
    any shuffle); everything downstream is per-clip."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < VIDEO_DOCS)
    mo = M.video_motion_energy(M.generate_videos(d.select("doc_id")))
    w = Window.partitionBy("uri").orderBy("frame_idx")
    nb = mo.select(
        "uri",
        "frame_idx",
        F.col("n_frames"),
        "motion",
        F.coalesce(F.lag("motion").over(w), F.lit(-1)).alias("prev"),
        F.coalesce(F.lead("motion").over(w), F.lit(-1)).alias("nxt"),
    )
    kf = nb.filter((F.col("motion") > F.col("prev")) & (F.col("motion") >= F.col("nxt")))
    return (
        kf.select(
            "uri",
            "frame_idx",
            "n_frames",
            "motion",
            F.row_number().over(w).cast("int").alias("kf_rank"),
        )
        .orderBy("uri", "frame_idx")
    )


CANON_RATE = 4000  # canonical sample rate for cross-rate dedup
AUDIO_BLOCKS = 8
COARSE_DIV = 256  # block-energy quantizer for the bucketing signature


@query(
    "multimodal_audio_dedup_pipeline_e2e",
    oracle=f"""
    WITH RECURSIVE docs AS (
        SELECT doc_id, doc_id % {M.SEED_MOD} AS seed,
               {M.AUDIO_LEN_BASE} + doc_id % {M.AUDIO_LEN_SPAN} AS n
        FROM documents WHERE doc_id < {AUDIO_DOCS}
    ),
    can AS (
        -- canonical 4 kHz samples: floor-avg of consecutive synth pairs
        -- (identical for the original and its pre-decimated copy)
        SELECT d.doc_id, t.j, d.n // 2 AS m,
               CAST(floor(((((7 * d.seed + 11 * (2 * t.j))
                             % {M.AUDIO_AMP_MOD}) - 2000)
                           + (((7 * d.seed + 11 * (2 * t.j + 1))
                               % {M.AUDIO_AMP_MOD}) - 2000)) / 2.0)
                    AS BIGINT) AS v
        FROM docs d,
             range(0, ({M.AUDIO_LEN_BASE + M.AUDIO_LEN_SPAN}) // 2) AS t(j)
        WHERE t.j < d.n // 2
    ),
    feat AS (
        SELECT doc_id, CAST(any_value(m) AS INT) AS m,
               CAST(max(abs(v)) AS INT) AS peak,
               CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
               {", ".join(f"CAST(sum(CASE WHEN ({AUDIO_BLOCKS} * j) // m = {i} THEN abs(v) ELSE 0 END) AS BIGINT) AS b{i}" for i in range(AUDIO_BLOCKS))}
        FROM can GROUP BY doc_id
    ),
    nodes AS (
        SELECT 2 * f.doc_id + var.v AS node, f.doc_id, var.v AS variant,
               f.m, f.peak, f.sum_abs,
               {", ".join(f"f.b{i}" for i in range(AUDIO_BLOCKS))},
               concat_ws(':', f.m,
                         {", ".join(f"f.b{i} // {COARSE_DIV}" for i in range(AUDIO_BLOCKS))})
                   AS sig
        FROM feat f, (VALUES (0), (1)) AS var(v)
    ),
    verified AS (
        SELECT a.node AS na, b.node AS nb
        FROM nodes a JOIN nodes b
          ON a.sig = b.sig AND a.node < b.node
        WHERE a.m = b.m AND a.peak = b.peak AND a.sum_abs = b.sum_abs
          AND {" AND ".join(f"a.b{i} = b.b{i}" for i in range(AUDIO_BLOCKS))}
    ),
    edges AS (
        SELECT na AS src, nb AS dst FROM verified
        UNION
        SELECT nb, na FROM verified
    ),
    reach(a, b) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    clusters AS (SELECT a AS node, min(b) AS cluster_id FROM reach GROUP BY a),
    csize AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM clusters GROUP BY cluster_id
    )
    SELECT c.node // 2 AS doc_id, CAST(c.node % 2 AS INT) AS variant,
           c.cluster_id, s.cluster_size,
           (c.node = c.cluster_id) AS is_survivor
    FROM clusters c JOIN csize s USING (cluster_id)
    ORDER BY doc_id, variant
    """,
    tags=("llm", "multimodal", "audio", "dedup", "pipeline"),
    bench=True,
    basis="absolute",
)
def multimodal_audio_dedup_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO-SPACE dedup pipeline end-to-end, the audio sibling of
    multimodal_dedup_pipeline_e2e: the corpus is every clip at its
    native rate PLUS a 2:1-resampled copy of each (re-encoded through
    the engine's WAV codec — the cross-sample-rate duplicate every real
    audio lake contains), and the pipeline must find exactly those
    pairs: decode → CANONICALIZE rate (exact 2:1 floor-avg decimation
    to 4 kHz, so a clip and its resample collapse to identical sample
    lists) → 8-block energy-envelope fingerprint → coarse-quantized
    signature bucket join (candidates, never all-pairs) → EXACT verify
    on the full envelope (peak, Σ|v|, all 8 blocks) → large/small-star
    connected components → min-node survivor ledger.

    The oracle replays synthesis→decimation→fingerprint→verify and the
    component closure as one recursive CTE: a wrong re-encoded header,
    a truncation-vs-floor slip in the decimation, or an unconverged CC
    all hash-mismatch. Scale: one decode pass (checkpointed, consumed
    by both join sides), signature-keyed candidates linear in true
    dups, log-round CC on (node, label) pairs."""
    from supabase_etl_spark.operators.cc import connected_components

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < AUDIO_DOCS)
    orig = M.generate_audio(d.select("doc_id"))
    res = M.resample_audio(orig, factor=2).select(
        F.concat(F.col("uri"), F.lit(".r2")).alias("uri"), "content"
    )
    corpus = orig.select("uri", "content").unionByName(res)
    feats = pin(M.audio_canonical_features(
        corpus, CANON_RATE, AUDIO_BLOCKS
    ), eager=True)
    doc_id = F.regexp_extract("uri", r"doc://(\d+)", 1).cast("bigint")
    variant = F.when(F.col("uri").endswith(".r2"), 1).otherwise(0)
    coarse = [
        (F.element_at("b", i + 1) / COARSE_DIV).cast("long")
        for i in range(AUDIO_BLOCKS)
    ]
    nodes = feats.select(
        (F.lit(2) * doc_id + variant).alias("node"),
        "m",
        "peak",
        "sum_abs",
        "b",
        F.concat_ws(":", F.col("m"), *coarse).alias("sig"),
    )
    a = nodes.select(
        "sig",
        F.col("node").alias("na"),
        F.col("m").alias("ma"),
        F.col("peak").alias("pa"),
        F.col("sum_abs").alias("sa"),
        F.col("b").alias("ba"),
    )
    b = nodes.select(
        "sig",
        F.col("node").alias("nb"),
        F.col("m").alias("mb"),
        F.col("peak").alias("pb"),
        F.col("sum_abs").alias("sb"),
        F.col("b").alias("bb"),
    )
    verified = (
        a.join(b, "sig")
        .filter(
            (F.col("na") < F.col("nb"))
            & (F.col("ma") == F.col("mb"))
            & (F.col("pa") == F.col("pb"))
            & (F.col("sa") == F.col("sb"))
            & (F.col("ba") == F.col("bb"))
        )
        .select(F.col("na").alias("src"), F.col("nb").alias("dst"))
    )
    labels = connected_components(nodes.select("node"), verified)
    csize = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        labels.join(csize, "component")
        .select(
            (F.col("node") / 2).cast("bigint").alias("doc_id"),
            (F.col("node") % 2).cast("int").alias("variant"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("component")).alias("is_survivor"),
        )
        .orderBy("doc_id", "variant")
    )


VCANON_FPS = (25, 2)  # canonical frame rate (12.5 fps) for cross-rate dedup
VCOARSE_DIV = 256  # per-frame luma quantizer for the bucketing signature


@query(
    "multimodal_video_dedup_pipeline_e2e",
    oracle=f"""
    WITH RECURSIVE docs AS (
        SELECT doc_id, doc_id % {M.SEED_MOD} AS seed,
               {M.VIDEO_FRAMES_BASE} + doc_id % {M.VIDEO_FRAMES_SPAN} AS n
        FROM documents WHERE doc_id < {VIDEO_DOCS}
    ),
    cf AS (
        -- canonical 12.5 fps frame features: even source frames only
        -- (identical for the original and its decimated re-encode)
        SELECT d.doc_id, f.f,
               SUM((d.seed + 3 * x.i + 5 * y.j + 11 * (2 * f.f)) % 256)
                   AS luma,
               SUM((d.seed + 7 * (2 * f.f) + x.i) % 256
                   + (d.seed + 13 * (2 * f.f) + y.j) % 256) AS chroma
        FROM docs d,
             range(0, ({M.VIDEO_FRAMES_BASE + M.VIDEO_FRAMES_SPAN} + 1) // 2)
                 AS f(f),
             range(0, {M.VIDEO_W}) AS x(i),
             range(0, {M.VIDEO_H}) AS y(j)
        WHERE 2 * f.f < d.n
        GROUP BY d.doc_id, f.f
    ),
    feat AS (
        SELECT doc_id, CAST(count(*) AS INT) AS m,
               list(luma ORDER BY f) AS luma_l,
               list(chroma ORDER BY f) AS chroma_l,
               string_agg(CAST(luma // {VCOARSE_DIV} AS VARCHAR),
                          ':' ORDER BY f) AS coarse
        FROM cf GROUP BY doc_id
    ),
    nodes AS (
        SELECT 2 * f.doc_id + v.v AS node, f.doc_id, v.v AS variant,
               f.m, f.luma_l, f.chroma_l,
               concat(f.m, '|', f.coarse) AS sig
        FROM feat f, (VALUES (0), (1)) AS v(v)
    ),
    verified AS (
        SELECT a.node AS na, b.node AS nb
        FROM nodes a JOIN nodes b
          ON a.sig = b.sig AND a.node < b.node
        WHERE a.m = b.m AND a.luma_l = b.luma_l AND a.chroma_l = b.chroma_l
    ),
    edges AS (
        SELECT na AS src, nb AS dst FROM verified
        UNION
        SELECT nb, na FROM verified
    ),
    reach(a, b) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    clusters AS (SELECT a AS node, min(b) AS cluster_id FROM reach GROUP BY a),
    csize AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM clusters GROUP BY cluster_id
    )
    SELECT c.node // 2 AS doc_id, CAST(c.node % 2 AS INT) AS variant,
           c.cluster_id, s.cluster_size,
           (c.node = c.cluster_id) AS is_survivor
    FROM clusters c JOIN csize s USING (cluster_id)
    ORDER BY doc_id, variant
    """,
    tags=("llm", "multimodal", "video", "dedup", "pipeline"),
    bench=True,
    basis="absolute",
)
def multimodal_video_dedup_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO-SPACE dedup pipeline end-to-end — completes the modality
    triptych beside multimodal_dedup_pipeline_e2e (images) and
    multimodal_audio_dedup_pipeline_e2e (audio): the corpus is every
    clip at its native 25 fps PLUS a frame-decimated 12.5 fps re-encode
    of each (the cross-frame-rate duplicate a scraped video lake is
    full of), and the pipeline must find exactly those pairs: decode →
    CANONICALIZE frame rate (keep even frames until ≤ 12.5 fps, so a
    clip and its decimated copy collapse to identical frame lists) →
    per-frame luma/chroma-sum sequences → coarse-quantized per-frame
    signature bucket join → EXACT verify on both full sequences →
    connected components → min-node survivor ledger.

    The oracle replays plane synthesis at even frame indices, the
    signature, the verify, and the component closure in one recursive
    CTE — a wrong re-encoded F-rate header, an off-by-one in the frame
    stride, or an unconverged CC all hash-mismatch. Scale: one decode
    pass (checkpointed, both join sides), candidates linear in true
    dups, two bounded arrays per clip shuffle-side."""
    from supabase_etl_spark.operators.cc import connected_components

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < VIDEO_DOCS)
    orig = M.generate_videos(d.select("doc_id"))
    dec = M.decimate_videos(orig).select(
        F.concat(F.col("uri"), F.lit(".d2")).alias("uri"), "content"
    )
    corpus = orig.select("uri", "content").unionByName(dec)
    feats = pin(M.video_canonical_features(corpus, VCANON_FPS), eager=True)
    doc_id = F.regexp_extract("uri", r"doc://(\d+)", 1).cast("bigint")
    variant = F.when(F.col("uri").endswith(".d2"), 1).otherwise(0)
    coarse = F.array_join(
        F.transform(
            F.col("luma"), lambda x: (x / VCOARSE_DIV).cast("long").cast("string")
        ),
        ":",
    )
    nodes = feats.select(
        (F.lit(2) * doc_id + variant).alias("node"),
        "m",
        "luma",
        "chroma",
        F.concat_ws("|", F.col("m"), coarse).alias("sig"),
    )
    a = nodes.select(
        "sig",
        F.col("node").alias("na"),
        F.col("m").alias("ma"),
        F.col("luma").alias("la"),
        F.col("chroma").alias("ca"),
    )
    b = nodes.select(
        "sig",
        F.col("node").alias("nb"),
        F.col("m").alias("mb"),
        F.col("luma").alias("lb"),
        F.col("chroma").alias("cb"),
    )
    verified = (
        a.join(b, "sig")
        .filter(
            (F.col("na") < F.col("nb"))
            & (F.col("ma") == F.col("mb"))
            & (F.col("la") == F.col("lb"))
            & (F.col("ca") == F.col("cb"))
        )
        .select(F.col("na").alias("src"), F.col("nb").alias("dst"))
    )
    labels = connected_components(nodes.select("node"), verified)
    csize = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        labels.join(csize, "component")
        .select(
            (F.col("node") / 2).cast("bigint").alias("doc_id"),
            (F.col("node") % 2).cast("int").alias("variant"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("component")).alias("is_survivor"),
        )
        .orderBy("doc_id", "variant")
    )


ALIGN_TAU = 0.5  # alignment gate threshold on the stand-in scorer


@query(
    "multimodal_image_text_alignment",
    oracle=f"""
    WITH {_IMG_DOCS_CTE},
    px AS (
        SELECT d.doc_id, d.w, d.h,
               least(((d.seed + 3 * x.i + 5 * y.j) % 256
                      + (d.seed + 3 * x.i + 5 * y.j + 7) % 256
                      + (d.seed + 3 * x.i + 5 * y.j + 14) % 256) // 96, 7) AS bkt
        FROM docs d,
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS x(i),
             range(0, {M.DIM_BASE + M.DIM_SPAN}) AS y(j)
        WHERE x.i < d.w AND y.j < d.h
    ),
    ih AS (
        SELECT doc_id, CAST(count(*) AS DOUBLE) AS n,
               {", ".join(f"SUM(CASE WHEN bkt = {i} THEN 1 ELSE 0 END) AS c{i}" for i in range(8))}
        FROM px GROUP BY doc_id
    ),
    tf AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
        FROM documents WHERE doc_id < {IMG_DOCS}
    ),
    th AS (
        SELECT doc_id, CAST(greatest(len(t), 1) AS DOUBLE) AS m,
               {", ".join(f"len(list_filter(t, x -> least(length(x) - 1, 7) = {i})) AS d{i}" for i in range(8))}
        FROM tf
    ),
    sc AS (
        SELECT i.doc_id,
               ({" + ".join(f"(i.c{k} / i.n) * (t.d{k} / t.m)" for k in range(8))}) AS dot,
               sqrt({" + ".join(f"(i.c{k} / i.n) * (i.c{k} / i.n)" for k in range(8))}) AS ni,
               sqrt({" + ".join(f"(t.d{k} / t.m) * (t.d{k} / t.m)" for k in range(8))}) AS nt
        FROM ih i JOIN th t USING (doc_id)
    )
    SELECT doc_id,
           round(CASE WHEN ni * nt = 0 THEN 0.0 ELSE dot / (ni * nt) END, 6)
               AS align_score,
           (CASE WHEN ni * nt = 0 THEN 0.0 ELSE dot / (ni * nt) END)
               >= {ALIGN_TAU!r} AS kept
    FROM sc ORDER BY doc_id
    """,
    tags=("llm", "multimodal", "curation"),
)
def multimodal_image_text_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text ALIGNMENT gate — the LAION/DataComp curation step
    that drops caption-image pairs whose modalities disagree. The
    production scorer is a CLIP dot product; this container has no
    vision model, so per the multimodal stubbing policy the scorer is
    a DETERMINISTIC STAND-IN (cosine between the image's 8-bucket
    intensity histogram from the REAL decode and the caption's 8-bucket
    token-length profile) while every piece of Spark plumbing the real
    thing needs is genuine: the decode-once Arrow pass emitting exact
    integer sufficient statistics, the modality join keyed on doc_id,
    the row-local feature normalization, the thresholded keep/drop
    verdict. Swapping in real CLIP embeddings changes one column
    expression, not the plan.

    100 TB posture: one image decode pass (integer histograms
    shuffle-side, 8 longs per image), one row-local text profile, ONE
    doc_id equi-join — batch-of-pairs, never cross-modal cartesian."""
    stats = M.image_color_stats(_images(spark, sf_dir))
    n = (F.col("w") * F.col("h")).cast("double")
    ih = stats.select(
        F.regexp_extract("uri", r"doc://(\d+)", 1).cast("bigint").alias("doc_id"),
        *[
            (F.element_at("hist", k + 1) / n).alias(f"p{k}")
            for k in range(8)
        ],
    )
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < IMG_DOCS)
    t = F.array_remove(F.split("text", r"\s+"), "")
    m = F.greatest(F.size(t), F.lit(1)).cast("double")
    def _bucket_is(kk: int):
        # NB: a two-parameter lambda would make F.filter pass the array
        # INDEX as the second argument — capture the bucket in a closure
        return lambda x: F.least(F.length(x) - 1, F.lit(7)) == kk

    th = d.select(
        "doc_id",
        *[
            (F.size(F.filter(t, _bucket_is(k))) / m).alias(f"q{k}")
            for k in range(8)
        ],
    )
    j = ih.join(th, "doc_id")
    dot = sum(
        (F.col(f"p{k}") * F.col(f"q{k}") for k in range(1, 8)),
        F.col("p0") * F.col("q0"),
    )
    ni = F.sqrt(
        sum((F.col(f"p{k}") * F.col(f"p{k}") for k in range(1, 8)),
            F.col("p0") * F.col("p0"))
    )
    nt = F.sqrt(
        sum((F.col(f"q{k}") * F.col(f"q{k}") for k in range(1, 8)),
            F.col("q0") * F.col("q0"))
    )
    score = F.when(ni * nt == 0, F.lit(0.0)).otherwise(dot / (ni * nt))
    return j.select(
        "doc_id",
        F.round(score, 6).alias("align_score"),
        (score >= ALIGN_TAU).alias("kept"),
    ).orderBy("doc_id")
