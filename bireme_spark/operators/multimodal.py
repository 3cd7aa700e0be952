"""Multimodal column plumbing: opaque binary payloads + typed
metadata, processed by Arrow-batched ``mapInPandas``.

At 100 TB the pattern is: media bytes live in a ``binary`` column
(or object-store pointers), metadata in a sibling struct; decode /
resize / frame-sample runs as vectorized Pandas stages over
``mapInPandas`` so each Arrow batch crosses the JVM↔Python boundary
once. The Spark-side plumbing (schema, batching, partitioning) AND
the codecs are real: pure-python PNG/BMP, RIFF/WAVE PCM16 and
Y4M/YUV420 decoders (``functions/{image,audio,video}codec.py``).
Only compressed containers (JPEG, MP3, MP4) need native libs absent
from this container — their branches raise from the codec, and a
production deploy swaps in PIL/ffmpeg bodies behind the same
``decode_media`` seam.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODE_SCHEMA = "doc_id long, n_bytes int, head_byte int, mean_byte double"


def attach_binary_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Pack content into an opaque binary column + typed metadata
    struct — the storage layout multimodal rows use."""
    payload = F.encode(F.col(text_col), "UTF-8")
    meta = F.struct(
        F.lit("application/octet-stream").alias("mime"),
        F.length(payload).alias("n_bytes"),
        F.lit("stub-v1").alias("codec"),
    )
    return df.select(F.col(id_col).alias("doc_id"), payload.alias("payload"), meta.alias("meta"))


def decode_media(payload: bytes, mode: str = "bytes"):
    """Media decode behind the native-backend seam
    (:mod:`bireme_spark.functions.native`): PIL / libsndfile / ffmpeg
    bodies are used automatically when installed (the 10–100× faster
    production path, which also unlocks JPEG/MP3/MP4), else the REAL
    pure-python codecs — PNG/BMP via stdlib zlib+struct
    (:mod:`..functions.imagecodec`), RIFF/WAVE PCM16
    (:mod:`..functions.audiocodec`), Y4M/YUV420
    (:mod:`..functions.videocodec`). Return contracts are identical
    across backends: ``image`` → (width, height, channels, pixels,
    format); ``audio`` → (sample_rate, n_channels, samples);
    ``video`` → (width, height, (fps_num, fps_den), frames).
    Compressed containers on the pure path raise from the codec."""
    if mode == "bytes":
        return payload
    if mode == "image":
        from bireme_spark.functions.native import decode_image_any

        return decode_image_any(bytes(payload))
    if mode == "audio":
        from bireme_spark.functions.native import decode_audio_any

        return decode_audio_any(bytes(payload))
    if mode == "video":
        from bireme_spark.functions.native import decode_video_any

        return decode_video_any(bytes(payload))
    raise NotImplementedError(
        f"decode_media(mode={mode!r}) is a stub — plug in av/ffmpeg here"
    )


IMAGE_SCHEMA = (
    "doc_id long, width int, height int, channels int, mean_pixel double, format string"
)


def extract_image_features(binary_df: DataFrame) -> DataFrame:
    """REAL image-decode stage: each Arrow batch's payloads run
    through the pure-python PNG/BMP codec; emits geometry + pixel
    stats. Same mapInPandas shape a PIL/libvips deployment uses."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, ws, hs, chs, means, fmts = [], [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, ch, pix, fmt = decode_media(bytes(payload), "image")
                ids.append(doc_id)
                ws.append(w)
                hs.append(h)
                chs.append(ch)
                means.append(sum(pix) / len(pix))
                fmts.append(fmt)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "channels": pd.Series(chs, dtype="int32"),
                    "mean_pixel": means,
                    "format": fmts,
                }
            )

    return binary_df.mapInPandas(batches, schema=IMAGE_SCHEMA)


def extract_features(binary_df: DataFrame) -> DataFrame:
    """Vectorized per-batch feature extraction over the binary column
    (Arrow-batched mapInPandas; one Python crossing per batch)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            buf = pdf["payload"].map(lambda b: decode_media(bytes(b), "bytes"))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": buf.map(len).astype("int32"),
                    "head_byte": buf.map(lambda b: b[0] if b else -1).astype("int32"),
                    "mean_byte": buf.map(
                        lambda b: float(sum(b)) / len(b) if b else 0.0
                    ),
                }
            )

    return binary_df.mapInPandas(batches, schema=DECODE_SCHEMA)


RESIZE_SCHEMA = "doc_id long, payload binary, width int, height int, codec string"
FRAME_SCHEMA = "doc_id long, frame_idx int, frame binary, n_frame_bytes int"
FRAME_SIZE = 256  # stub frame stride (stands in for decoded frame size)


def resize_media(binary_df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize stage plumbing: Arrow-batched mapInPandas rewriting the
    payload to the target geometry. STUB transform — a real deploy
    swaps the body for PIL/libvips; the batch shape, output schema,
    and metadata contract are the production ones."""
    target = width * height

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            buf = pdf["payload"].map(
                # deterministic fake resample: truncate / zero-pad to
                # the target pixel budget
                lambda b: bytes(b)[:target].ljust(target, b"\x00")
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": buf,
                    "width": width,
                    "height": height,
                    "codec": "stub-resize-v1",
                }
            )

    return binary_df.mapInPandas(batches, schema=RESIZE_SCHEMA)


def sample_frames(binary_df: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame-sampling plumbing: one input row fans out to one row per
    kept frame (the explode happens inside the Arrow batch, so the
    JVM sees only the sampled frames). STUB framing — fixed-stride
    byte windows stand in for codec-decoded frames."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n_frames = (len(b) + FRAME_SIZE - 1) // FRAME_SIZE
                for i in range(0, n_frames, every_n):
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(b[i * FRAME_SIZE : (i + 1) * FRAME_SIZE])
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame": frames,
                    "n_frame_bytes": pd.Series([len(f) for f in frames], dtype="int32"),
                }
            )

    return binary_df.mapInPandas(batches, schema=FRAME_SCHEMA)


def perceptual_hash(binary_df: DataFrame) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint per image: decode,
    integer grayscale, 8×8 block-mean downsample, threshold at the
    global integer mean → 64-bit hex hash. All arithmetic is integer
    floor math, so the hash is bit-identical on any platform.

    Arrow-batched mapInPandas over (id, payload) rows — the same
    partition-parallel shape as extract_image_features; at 100 TB the
    per-row Python decode is the documented native-codec seam.
    """
    from collections.abc import Iterator

    import pandas as pd

    from bireme_spark.functions.imagecodec import decode_image

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, c, pix, _fmt = decode_image(bytes(payload))
                gray = [
                    [
                        sum(pix[(y * w + x) * c + ch] for ch in range(min(c, 3)))
                        // min(c, 3)
                        for x in range(w)
                    ]
                    for y in range(h)
                ]
                g8 = []
                for j in range(8):
                    y0, y1 = j * h // 8, max((j + 1) * h // 8, j * h // 8 + 1)
                    for i in range(8):
                        x0, x1 = i * w // 8, max((i + 1) * w // 8, i * w // 8 + 1)
                        vals = [gray[y][x] for y in range(y0, y1) for x in range(x0, x1)]
                        g8.append(sum(vals) // len(vals))
                m = sum(g8) // 64
                bits = 0
                for k, v in enumerate(g8):
                    if v > m:
                        bits |= 1 << k
                ids.append(int(doc_id))
                hashes.append(f"{bits:016x}")
            yield pd.DataFrame({"doc_id": ids, "ahash": hashes})

    return binary_df.mapInPandas(run, schema="doc_id long, ahash string")


def audio_fingerprint(binary_df: DataFrame, n_bands: int = 8) -> DataFrame:
    """Coarse spectral-energy fingerprint per clip: decode WAV, split
    the sample stream into ``n_bands`` equal time bands, take each
    band's integer mean absolute amplitude, threshold against the
    clip's own integer mean → n-bit hex fingerprint. Integer floor
    math end-to-end — bit-identical on any platform, and invariant
    to uniform volume scaling only in threshold pattern terms.

    Same Arrow-batched mapInPandas shape as perceptual_hash.
    """
    from collections.abc import Iterator

    import pandas as pd

    from bireme_spark.functions.audiocodec import decode_wav

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, prints = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _rate, _ch, samples = decode_wav(bytes(payload))
                n = len(samples)
                if n == 0:
                    # zero-sample WAV: sentinel fingerprint, never a
                    # ZeroDivisionError in the band mean
                    ids.append(int(doc_id))
                    prints.append("empty")
                    continue
                bands = []
                for b in range(n_bands):
                    lo, hi = b * n // n_bands, max((b + 1) * n // n_bands, b * n // n_bands + 1)
                    seg = samples[lo:hi]
                    bands.append(sum(abs(s) for s in seg) // len(seg))
                m = sum(bands) // n_bands
                bits = 0
                for k, v in enumerate(bands):
                    if v > m:
                        bits |= 1 << k
                ids.append(int(doc_id))
                prints.append(f"{bits:02x}")
            yield pd.DataFrame({"doc_id": ids, "afp": prints})

    return binary_df.mapInPandas(run, schema="doc_id long, afp string")


def detect_scene_cuts(binary_df: DataFrame, threshold: int = 40) -> DataFrame:
    """Scene-cut detection per clip: decode Y4M, compute the mean
    absolute luma difference between consecutive frames (integer
    floor mean), count diffs > threshold — the shot-boundary
    primitive of every video curation pipeline. Integer math only,
    bit-identical anywhere.

    Same Arrow-batched mapInPandas shape as the other media
    extractors; at 100 TB the per-row Python decode is the documented
    native-codec (ffmpeg) seam.
    """
    from collections.abc import Iterator

    import pandas as pd

    from bireme_spark.functions.videocodec import decode_y4m

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, nframes, cuts = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, _fps, frames = decode_y4m(bytes(payload))
                n = len(frames)
                c = 0
                for f in range(1, n):
                    y0, y1 = frames[f - 1][0], frames[f][0]
                    diff = sum(abs(a - b) for a, b in zip(y0, y1)) // (w * h)
                    if diff > threshold:
                        c += 1
                ids.append(int(doc_id))
                nframes.append(n)
                cuts.append(c)
            yield pd.DataFrame({"doc_id": ids, "n_frames": nframes, "n_cuts": cuts})

    return binary_df.mapInPandas(run, schema="doc_id long, n_frames int, n_cuts int")


def resize_image_nn(binary_df: DataFrame, width: int, height: int) -> DataFrame:
    """REAL nearest-neighbor image resize over the pure-python codecs
    (the production-shape upgrade of the ``resize_media`` stub):
    decode, sample src pixel (x·w_src)//w_dst per destination cell,
    report the resized geometry and the mean pixel as one IEEE
    division of the integer-exact pixel sum (no rounding — Python
    round() is half-even, SQL ROUND is not; see CLAUDE.md). Arrow-batched mapInPandas, partition-parallel;
    swap the body for libvips at the documented native seam.
    """
    from collections.abc import Iterator

    import pandas as pd

    from bireme_spark.functions.imagecodec import decode_image

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, means = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, c, pix, _fmt = decode_image(bytes(payload))
                total = 0
                for j in range(height):
                    ys = j * h // height
                    for i in range(width):
                        xs = i * w // width
                        base = (ys * w + xs) * c
                        total += sum(pix[base : base + c])
                n = width * height * c
                ids.append(int(doc_id))
                means.append(total / n)  # IEEE division of exact ints
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "width": [width] * len(ids),
                    "height": [height] * len(ids),
                    "mean_pixel": means,
                }
            )

    return binary_df.mapInPandas(
        run, schema="doc_id long, width int, height int, mean_pixel double"
    )
