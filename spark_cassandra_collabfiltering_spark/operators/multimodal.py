"""Multimodal column plumbing (driver-mandated extension).

Images/audio/video ride through the engine as opaque ``binary`` columns
with a typed metadata struct. The Spark-side machinery here is real and
tested — schema, partition-preserving mapInPandas with Arrow batches —
and since round 5 the DECODE step is real too: from-scratch PNG
(CRC-checked chunk parse + zlib inflate + full scanline-filter
reconstruction), WAV (RIFF/PCM16), GIF-LZW and BMP codecs in
operators/codecs.py — joined in round 7 by a from-scratch baseline
JPEG (ITU-T T.81: Huffman entropy decode, dequant, IDCT, 4:4:4 color)
and AVI/Motion-JPEG video (RIFF chunk-tree reader + per-frame JPEG) —
all exercised encode→decode with integer-exact features the DuckDB
oracle reproduces in closed form. What still needs a third-party call
is only INTER-FRAME compressed video (H.264 etc., pyav territory):
swap the inner decode in ``decode_media_features`` and nothing else
changes; the byte-level ``_decode_stub`` path below is retained for
codec-agnostic features (crc/length/head bytes).

Scale: mapInPandas streams Arrow record batches through Python with no
shuffle; decode parallelism == input partitions. Repartition upstream
by size (``maxPartitionBytes``) so each task holds a bounded byte
budget, never by a collect-and-loop.
"""

from __future__ import annotations

import binascii
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("crc32", T.LongType(), True),
        T.StructField("head_hex", T.StringType(), True),
        T.StructField("byte_mean", T.DoubleType(), True),
    ]
)


def attach_binary_payload(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic fake media: the document's utf-8 bytes as payload
    (stands in for image/audio bytes) + typed metadata struct.
    In production this column comes straight from the lake (parquet
    binary / image source); everything downstream is unchanged."""
    payload = F.col(text_col).cast("binary")
    return df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("image").alias("modality"),
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(payload).cast("bigint").alias("n_bytes"),
        ).alias("media_meta"),
    )


def _decode_stub(payload: bytes) -> dict:
    """Deterministic byte-level 'decode'. A real codec goes here:

        from PIL import Image; img = Image.open(io.BytesIO(payload))

    Raises NotImplementedError for modalities a real decoder would
    reject; the fake path computes stdlib-only features so the full
    plumbing is executable in this container."""
    if payload is None:
        raise NotImplementedError("real decoder required for null/streaming payloads")
    return {
        "n_bytes": len(payload),
        "crc32": zlib.crc32(payload) & 0xFFFFFFFF,
        "head_hex": binascii.hexlify(payload[:8]).decode(),
        "byte_mean": (sum(payload) / len(payload)) if payload else 0.0,
    }


def extract_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over the binary column.

    Arrow-batched: each Python task receives pandas DataFrames of
    whole batches (not rows), emits the typed feature frame. This is
    the exact harness a resize/frame-sample/spectrogram step runs in.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [_decode_stub(p) for p in pdf["payload"]]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def resize_media(media: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Resize step (STUB codec, real plumbing): mapInPandas 1→1 over
    the binary column, emitting a fixed-size payload + dimensions.

    The stub deterministically truncates/pads the payload to
    width*height bytes — a real implementation replaces ONLY the inner
    function body with e.g. ``PIL.Image.open(...).resize((w, h))``;
    batch shape, schema, and plan are unchanged."""
    target = width * height

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized = [
                None if p is None else (bytes(p)[:target]).ljust(target, b"\0")
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": resized,
                    "width": width,
                    "height": height,
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        batches, schema=RESIZED_SCHEMA
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def sample_frames(
    media: DataFrame, frame_bytes: int = 256, every_n: int = 4
) -> DataFrame:
    """Frame sampling (STUB codec, real plumbing): mapInPandas 1→N —
    each payload yields every ``every_n``-th fixed-size chunk as a
    'frame' row. The fan-out inside the Arrow batch is the exact shape
    a pyav keyframe sampler produces; downstream operators (dedup,
    embedding, resize) treat frames as independent rows, so frame
    parallelism comes free from repartitioning the OUTPUT, not the
    decode."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                if p is None:
                    continue
                b = bytes(p)
                n_chunks = (len(b) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_chunks, every_n):
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(b[i * frame_bytes : (i + 1) * frame_bytes])
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": frames})

    return media.select("doc_id", "payload").mapInPandas(batches, schema=FRAME_SCHEMA)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_units", T.LongType(), True),
        T.StructField("unit_sum", T.LongType(), True),
    ]
)


def _synth_payload(doc_id: int) -> tuple[str, bytes]:
    """Deterministic REAL media payload for a doc id: even ids become an
    8-bit greyscale PNG (dimensions and pixel values are pure functions
    of the id), odd ids a PCM16 mono WAV. Stands in for bytes arriving
    from the lake; every byte is a real decodable file."""
    from spark_cassandra_collabfiltering_spark.operators import codecs

    if doc_id % 2 == 0:
        w, h = 8 + doc_id % 9, 4 + doc_id % 7
        px = bytes(
            (doc_id * 31 + x * 7 + y * 13) % 256 for y in range(h) for x in range(w)
        )
        return "png", codecs.encode_png_gray(w, h, px)
    n = 64 + doc_id % 50
    samples = [((doc_id * 17 + i * 5) % 2048) - 1024 for i in range(n)]
    return "wav", codecs.encode_wav_pcm16(8000, samples)


def synthesize_media_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas encode stage: (id) -> (id, payload, media_meta) with
    REAL PNG/WAV bytes (operators/codecs.py). In production this column
    comes off the lake; here the encoder doubles as the test harness
    for the decoder (different code path per direction — varied PNG
    scanline filters, wave-module WAV framing)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            kinds, payloads = [], []
            for d in pdf[id_col]:
                kind, payload = _synth_payload(int(d))
                kinds.append(kind)
                payloads.append(payload)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "payload": payloads,
                    "modality": kinds,
                    "mime": ["image/png" if k == "png" else "audio/wav" for k in kinds],
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    flat_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
            T.StructField("modality", T.StringType(), True),
            T.StructField("mime", T.StringType(), True),
            T.StructField("n_bytes", T.LongType(), True),
        ]
    )
    ids = df.select(F.col(id_col).cast("bigint").alias(id_col))
    # same id-stream repartition as synthesize_gif_payloads (r7): the
    # encode stage must not inherit the scan's file-count parallelism
    ids = ids.repartition(ids.sparkSession.sparkContext.defaultParallelism)
    flat = ids.mapInPandas(batches, schema=flat_schema)
    return flat.select(
        "doc_id",
        "payload",
        F.struct("modality", "mime", "n_bytes").alias("media_meta"),
    )


def decode_media_features(media: DataFrame) -> DataFrame:
    """REAL decode feature extraction (no stub): mapInPandas over the
    binary column, sniffing PNG vs WAV vs BMP by signature and running the
    stdlib decoders (operators/codecs.py — CRC-checked chunk parse,
    zlib inflate, full scanline-filter reconstruction for PNG; RIFF
    parse for WAV). Features are integer-exact:

    - png: (width, height, n_units = pixel count, unit_sum = pixel sum)
    - wav: (NULL, NULL, n_units = sample count, unit_sum = sum |sample|)
    - bmp: (width, height, n_units = pixel count, unit_sum = channel sum)
    - corrupt/undecodable payloads become kind='corrupt' rows (nulls) —
      quarantine, not job abort, same contract as the JSONL source.

    Arrow-batched and scan-local: decode parallelism == input
    partitions, no shuffle. This is the exact harness a Pillow/pyav
    call runs in; only the inner decode call changes."""
    from spark_cassandra_collabfiltering_spark.operators import codecs

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p) if p is not None else b""
                try:
                    if b[:8] == b"\x89PNG\r\n\x1a\n":
                        w, h, px = codecs.decode_png_gray(b)
                        rows.append((doc_id, "png", w, h, w * h, sum(px)))
                    elif b[:2] == b"\xff\xd8":
                        w, h, nc, px = codecs.decode_jpeg(b)
                        rows.append((doc_id, "jpeg", w, h, w * h, sum(px)))
                    elif b[:4] == b"RIFF":
                        _, samples = codecs.decode_wav_pcm16(b)
                        rows.append(
                            (doc_id, "wav", None, None, len(samples),
                             sum(abs(s) for s in samples))
                        )
                    elif b[:2] == b"BM":
                        w, h, px = codecs.decode_bmp_rgb(b)
                        rows.append(
                            (doc_id, "bmp", w, h, w * h,
                             sum(r + g + bl for r, g, bl in px))
                        )
                    else:
                        raise ValueError("unknown container signature")
                except ValueError:
                    rows.append((doc_id, "corrupt", None, None, None, None))
            yield pd.DataFrame(
                rows, columns=["doc_id", "kind", "width", "height", "n_units", "unit_sum"]
            )

    return media.select("doc_id", "payload").mapInPandas(
        batches, schema=DECODED_SCHEMA
    )


def _synth_jpeg_payload(doc_id: int) -> bytes:
    """Deterministic REAL JPEG for a doc id, BLOCK-CONSTANT content at
    quality 100 — the provably-lossless subset (all-ones quant tables;
    a constant 8x8 block is DC-only with integer DC), so the decode
    features have a closed-form oracle. Even ids: grayscale. Odd ids:
    the full 3-component 4:4:4 color path carrying gray-valued RGB
    (Y=c, Cb=Cr=128 — exact through YCbCr both ways). General lossy
    content is pinned by the PSNR/hypothesis tests in
    tests/test_codecs.py, not oracled."""
    from spark_cassandra_collabfiltering_spark.operators import codecs

    w, h = 8 * (1 + doc_id % 4), 8 * (1 + doc_id % 3)
    vals = {
        (bx, by): (doc_id * 31 + bx * 37 + by * 91) % 256
        for by in range(h // 8)
        for bx in range(w // 8)
    }
    if doc_id % 2 == 0:
        px = bytes(
            vals[(x // 8, y // 8)] for y in range(h) for x in range(w)
        )
        return codecs.encode_jpeg_gray(w, h, px, quality=100)
    rgb = [
        (vals[(x // 8, y // 8)],) * 3 for y in range(h) for x in range(w)
    ]
    return codecs.encode_jpeg_rgb(w, h, rgb, quality=100)


def jpeg_decode_query(df_documents: DataFrame) -> DataFrame:
    """documents → real baseline JPEG payloads (grayscale + 4:4:4
    color) → the from-scratch T.81 decoder → integer-exact features.
    Same narrow two-stage Arrow chain as media_decode_query."""

    def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": [
                        _synth_jpeg_payload(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    ids = df_documents.select(F.col("doc_id").cast("bigint").alias("doc_id"))
    ids = ids.repartition(ids.sparkSession.sparkContext.defaultParallelism)
    media = ids.mapInPandas(
        encode,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("payload", T.BinaryType(), True),
            ]
        ),
    )
    return decode_media_features(media)


def media_decode_query(df_documents: DataFrame) -> DataFrame:
    """documents → real PNG/WAV payloads → real decode → integer-exact
    features. Both stages are Arrow mapInPandas, chained narrow (no
    shuffle between encode and decode)."""
    media = synthesize_media_payloads(df_documents.select("doc_id"))
    return decode_media_features(media)


AUDIO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("energy", T.LongType(), True),
    ]
)


def audio_frame_energy(media: DataFrame, frame: int = 32) -> DataFrame:
    """Audio DSP over the REAL WAV codec: decode PCM16 payloads and
    emit per-FRAME energy (sum of squared samples over ``frame``-sized
    windows; the trailing partial frame keeps its true sample count) —
    the framing + energy step every audio-filtering pipeline runs
    (silence/clipping detection, VAD prefilters) with integer-exact
    output, no floats, no FFT dependency.

    Same harness discipline as decode_media_features: Arrow
    mapInPandas, scan-local (decode parallelism == input partitions,
    zero shuffles — frames of one doc stay inside its row batch).
    Non-WAV and corrupt payloads are skipped (the quarantine counts
    live in the decode-features query; this one is the DSP arm)."""
    from spark_cassandra_collabfiltering_spark.operators import codecs

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p) if p is not None else b""
                if b[:4] != b"RIFF":
                    continue
                try:
                    _, samples = codecs.decode_wav_pcm16(b)
                except ValueError:
                    continue
                for f0 in range(0, len(samples), frame):
                    chunk = samples[f0 : f0 + frame]
                    rows.append(
                        (doc_id, f0 // frame, len(chunk),
                         sum(s * s for s in chunk))
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "n_samples", "energy"]
            )

    return media.select("doc_id", "payload").mapInPandas(
        batches, schema=AUDIO_FRAME_SCHEMA
    )


def audio_energy_query(df_documents: DataFrame) -> DataFrame:
    """Synthesize real WAV payloads (odd doc ids) then run the framing
    + energy DSP over the genuine decoder — the registry's audio arm."""
    media = synthesize_media_payloads(df_documents.select("doc_id"))
    return audio_frame_energy(media)


def synthesize_gif_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-doc multi-frame GIF payloads through the REAL encoder
    (operators/codecs.py encode_gif): doc d gets n_frames = 2 + d%3
    frames of (8 + d%5) x (6 + d%4) pixels over the 16-gray palette,
    pixel(x, y, f) = (d*7 + f*13 + x*3 + y) % 16 — a closed form the
    oracle recomputes without touching bytes."""
    from spark_cassandra_collabfiltering_spark.operators import codecs

    pal = [(i * 17, i * 17, i * 17) for i in range(16)]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            payloads = []
            for d in pdf[id_col]:
                d = int(d)
                w, h = 8 + d % 5, 6 + d % 4
                # closed-form pixel grid vectorized (r7): the per-pixel
                # Python generator was part of the operator's measured
                # pixel-linear constant
                yy, xx = np.mgrid[0:h, 0:w]
                base = (d * 7 + xx * 3 + yy) % 16
                frames = [
                    ((base + f * 13) % 16).astype(np.uint8).tobytes()
                    for f in range(2 + d % 3)
                ]
                payloads.append(codecs.encode_gif(w, h, frames, pal))
            yield pd.DataFrame({"doc_id": pdf[id_col].values, "payload": payloads})

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )
    # repartition the 8-byte id stream before the Arrow stage (r7):
    # documents.parquet arrives in file-count partitions (2 at sf1), so
    # without this the per-doc Python encode runs on 2 of 32 cores —
    # the cheapest possible exchange buys full decode parallelism (the
    # docstring's "decode parallelism == input partitions" contract,
    # now made true for the synthesized arm too)
    ids = df.select(F.col(id_col).cast("bigint").alias(id_col))
    ids = ids.repartition(ids.sparkSession.sparkContext.defaultParallelism)
    return ids.mapInPandas(batches, schema=schema)


def frame_sample_features(media: DataFrame, every: int = 2) -> DataFrame:
    """FRAME SAMPLING over real animation decode — the video-pipeline
    shape (sample every k-th frame, extract per-frame features)
    running on genuine GIF bytes: Arrow mapInPandas decodes each
    payload with the real LZW decoder, keeps frames where
    frame_idx % every == 0, and emits integer-exact per-frame stats
    (n_px, sum of palette-mapped gray values). Scan-local: one doc's
    frames never leave its batch; decode parallelism == input
    partitions; zero shuffles."""
    from spark_cassandra_collabfiltering_spark.operators import codecs

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p) if p is not None else b""
                if b[:3] != b"GIF":
                    continue
                try:
                    w, h, pal, frames = codecs.decode_gif(b)
                except ValueError:
                    continue
                # palette-mapped gray sum vectorized (r7): index the
                # palette's red channel with the frame bytes in numpy
                # instead of a per-pixel Python generator
                pal0 = np.asarray([r for r, _, _ in pal], dtype=np.int64)
                for fi, px in enumerate(frames):
                    if fi % every:
                        continue
                    arr = np.frombuffer(px, dtype=np.uint8)
                    rows.append(
                        (
                            int(doc_id),
                            fi,
                            len(px),
                            int(pal0[arr].sum()),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "n_px", "gray_sum"]
            )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("n_px", T.LongType(), False),
            T.StructField("gray_sum", T.LongType(), False),
        ]
    )
    return media.mapInPandas(batches, schema=schema)


def frame_sample_query(df_documents: DataFrame, every: int = 2) -> DataFrame:
    """Synthesize real multi-frame GIFs, then sample + featurize via
    the genuine decoder — the registry's video-shape arm."""
    media = synthesize_gif_payloads(df_documents.select("doc_id"))
    return frame_sample_features(media, every=every)


def audio_resample_features(
    media: DataFrame, num: int = 2, den: int = 3
) -> DataFrame:
    """Rational PCM RESAMPLING (out_rate = in_rate * num/den) through
    the real WAV decoder, in exact integer arithmetic: output sample j
    sits at input position j*den/num — k = (j*den) div num,
    frac = (j*den) mod num, out = s[k] + (s[k+1]-s[k])*frac div num —
    with the division numerator shifted positive first, because //
    floors in Python but truncates toward zero in DuckDB on negatives
    (measured; the repo-wide integer-division discipline). n_out =
    ((n_in-1)*num) div den so the interpolant never reads past the
    last sample.
    Emits per-doc (n_in, n_out, sum_out, energy_out) — integer-exact,
    so the oracle replays the same interpolation over the closed-form
    synthesized samples without touching bytes. Same scan-local Arrow
    harness as the energy DSP."""
    from spark_cassandra_collabfiltering_spark.operators import codecs

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p) if p is not None else b""
                if b[:4] != b"RIFF":
                    continue
                try:
                    _, s = codecs.decode_wav_pcm16(b)
                except ValueError:
                    continue
                n = len(s)
                if n < 2:
                    continue
                n_out = ((n - 1) * num) // den
                out = []
                # interpolation divides a possibly-NEGATIVE delta; //
                # floors in Python but truncates toward zero in DuckDB
                # (measured), so shift the numerator positive first —
                # floor == trunc for non-negatives in every engine
                off = 65536 * num
                for j in range(n_out):
                    k, frac = divmod(j * den, num)
                    nxt = s[k + 1] if k + 1 < n else s[k]
                    out.append(
                        s[k] + ((nxt - s[k]) * frac + off) // num - off // num
                    )
                rows.append(
                    (
                        int(doc_id), n, n_out,
                        sum(out), sum(v * v for v in out),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_in", "n_out", "sum_out", "energy_out"],
            )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("n_in", T.LongType(), False),
            T.StructField("n_out", T.LongType(), False),
            T.StructField("sum_out", T.LongType(), False),
            T.StructField("energy_out", T.LongType(), False),
        ]
    )
    return media.mapInPandas(batches, schema=schema)


def audio_resample_query(df_documents: DataFrame, num: int = 2, den: int = 3) -> DataFrame:
    """Synthesize real WAVs, then resample through the genuine decoder."""
    media = synthesize_media_payloads(df_documents.select("doc_id"))
    return audio_resample_features(media, num=num, den=den)


def audio_vad_summary(
    media: DataFrame, frame: int = 32, thr_msq: int = 350000
) -> DataFrame:
    """Energy-threshold VAD (voice/silence activity detection — the
    silence-filtering gate an audio pipeline runs before transcription
    or training): a frame is VOICED when its mean-square energy
    exceeds the threshold, compared as the integer cross-multiply
    energy > thr·n_samples (never a division). Per doc:
    (n_frames, n_voiced, voiced_e6 ratio). Composes the real-codec
    frame-energy DSP (:func:`audio_frame_energy`) — one extra bounded
    hash-agg on the (doc, frame) grain."""
    fe = audio_frame_energy(media, frame=frame)
    voiced = F.when(
        F.col("energy") > F.lit(thr_msq) * F.col("n_samples"), 1
    ).otherwise(0)
    return (
        fe.select("doc_id", voiced.alias("_v"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.sum("_v").cast("long").alias("n_voiced"),
        )
        .withColumn(
            "voiced_e6",
            F.expr("n_voiced * 1000000 div n_frames").cast("long"),
        )
    )


def audio_vad_query(df_documents: DataFrame) -> DataFrame:
    media = synthesize_media_payloads(df_documents.select("doc_id"))
    return audio_vad_summary(media)


# ---------------------------------------------------------------------------
# r7 cont.: perceptual image near-dup — dHash over the REAL codecs.
# The multimodal arm of the dedup family: decode (PNG/JPEG sniff) ->
# mean-pool to the canonical 9x8 grid -> 64-bit difference hash carried
# as four 16-bit bands -> banded hamming join (the simhash shape). At
# 100 TB the hash is a map-only Arrow stage and the pair search never
# goes all-pairs: band equality is the LSH bucket (pigeonhole: any pair
# within hamming distance 3 shares >= 1 exact band).
# ---------------------------------------------------------------------------

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("b0", T.IntegerType(), True),
        T.StructField("b1", T.IntegerType(), True),
        T.StructField("b2", T.IntegerType(), True),
        T.StructField("b3", T.IntegerType(), True),
    ]
)


def image_dhash_bands(media: DataFrame) -> DataFrame:
    """(doc_id, payload) -> (doc_id, b0..b3): the 64-bit dHash split
    into four 16-bit bands (bit (y*8+x) set iff px[y, x+1] > px[y, x]
    on the 8-row x 9-col grid; band = bit//16, positive ints — no
    64-bit sign gymnastics anywhere). Non-9x8 images are mean-pooled
    with NumPy (area-weighted to cell boundaries), so the hash is
    resolution-invariant: an upscaled copy keeps its hash (pinned in
    tests). Corrupt payloads quarantine to NULL bands."""
    import numpy as np

    from spark_cassandra_collabfiltering_spark.operators import codecs

    def pool_to(img: "np.ndarray", rows: int, cols: int) -> "np.ndarray":
        h, w = img.shape
        ys = (np.arange(rows + 1) * h) // rows
        xs = (np.arange(cols + 1) * w) // cols
        out = np.empty((rows, cols), dtype=np.float64)
        for r in range(rows):
            for c in range(cols):
                out[r, c] = img[ys[r]:ys[r + 1], xs[c]:xs[c + 1]].mean()
        return out

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p) if p is not None else b""
                try:
                    if b[:8] == b"\x89PNG\r\n\x1a\n":
                        w, h, px = codecs.decode_png_gray(b)
                        img = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
                    elif b[:2] == b"\xff\xd8":
                        w, h, nc, px = codecs.decode_jpeg(b)
                        arr = np.frombuffer(px, dtype=np.uint8)
                        img = (
                            arr.reshape(h, w) if nc == 1
                            else arr.reshape(h, w, 3).mean(axis=2)
                        )
                    else:
                        raise ValueError("unknown container signature")
                    g = img.astype(np.float64)
                    if g.shape != (8, 9):
                        g = pool_to(g, 8, 9)
                    bands = [0, 0, 0, 0]
                    for y in range(8):
                        for x in range(8):
                            if g[y, x + 1] > g[y, x]:
                                bit = y * 8 + x
                                bands[bit // 16] |= 1 << (bit % 16)
                    rows.append((doc_id, *bands))
                except ValueError:
                    rows.append((doc_id, None, None, None, None))
            yield pd.DataFrame(
                rows, columns=["doc_id", "b0", "b1", "b2", "b3"]
            )

    return media.select("doc_id", "payload").mapInPandas(
        batches, schema=DHASH_SCHEMA
    )


def dhash_near_dup_pairs(bands: DataFrame, max_dist: int = 3) -> DataFrame:
    """Banded hamming join over dHash bands: candidates share at least
    one exact 16-bit band (complete for max_dist <= 3 by pigeonhole
    over 4 bands), verified by exact popcount distance. Output
    (doc_a, doc_b, dist), doc_a < doc_b."""
    import pyspark.sql.functions as F

    b = bands.filter(F.col("b0").isNotNull())
    # publish the hashed bands through ONE explicit exchange: the two
    # self-join sides are otherwise two copies of the whole Python
    # encode+decode+dHash subtree, and AQE materializes both leaf
    # stages concurrently, so the codec pipeline would execute twice;
    # identical subtrees below an exchange are materialized once and
    # reused (the minhash-sets rule)
    b = b.repartition(
        b.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    sides = []
    for side in ("a", "b"):
        sides.append(
            b.select(
                F.col("doc_id").alias(f"doc_{side}"),
                *[F.col(c).alias(f"{c}{side}") for c in ("b0", "b1", "b2", "b3")],
            )
        )
    exploded_a = sides[0].select(
        "*",
        F.posexplode(F.array("b0a", "b1a", "b2a", "b3a")).alias("band", "val"),
    )
    exploded_b = sides[1].select(
        "*",
        F.posexplode(F.array("b0b", "b1b", "b2b", "b3b")).alias("band", "val"),
    )
    cand = (
        exploded_a.join(exploded_b, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", *[f"{c}a" for c in ("b0", "b1", "b2", "b3")],
                *[f"{c}b" for c in ("b0", "b1", "b2", "b3")])
        .distinct()
    )
    dist = sum(
        F.bit_count(F.col(f"{c}a").bitwiseXOR(F.col(f"{c}b")))
        for c in ("b0", "b1", "b2", "b3")
    )
    return (
        cand.withColumn("dist", dist.cast("int"))
        .filter(F.col("dist") <= max_dist)
        .select("doc_a", "doc_b", "dist")
    )


def _synth_dhash_png(doc_id: int) -> bytes:
    """Planted 9x8 binary PNG for the near-dup oracle: docs 2g and 2g+1
    share base pixels; the odd twin flips ONE pixel (<= 2 dHash bits),
    so every (2g, 2g+1) pair sits within hamming distance 2 while
    cross-group hashes differ widely. Lossless PNG at the canonical
    grid — no resampling, so the oracle's closed form IS the pixel
    array the decoder must recover."""
    from spark_cassandra_collabfiltering_spark.operators import codecs

    g = doc_id // 2
    fx, fy = g % 9, (g * 3) % 8

    def px(x: int, y: int) -> int:
        v = 255 if (g * 131 + x * 7 + y * 13) % 97 < 39 else 0
        if doc_id % 2 == 1 and x == fx and y == fy:
            v = 255 - v
        return v

    flat = bytes(px(x, y) for y in range(8) for x in range(9))
    return codecs.encode_png_gray(9, 8, flat)


def image_neardup_query(df_documents: DataFrame, max_dist: int = 3) -> DataFrame:
    """documents -> planted 9x8 PNG twins -> REAL decode -> dHash bands
    -> banded hamming join. The exact-oracle proof that decode + hash +
    candidate generation + verify all compose correctly."""

    def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": [
                        _synth_dhash_png(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    ids = df_documents.select(F.col("doc_id").cast("bigint").alias("doc_id"))
    ids = ids.repartition(ids.sparkSession.sparkContext.defaultParallelism)
    media = ids.mapInPandas(
        encode,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("payload", T.BinaryType(), True),
            ]
        ),
    )
    return dhash_near_dup_pairs(image_dhash_bands(media), max_dist)


# ---------------------------------------------------------------------------
# r7 cont.: audio near-dup — amplitude-invariant envelope fingerprint
# over the real WAV codec (the audio arm of the dedup family, beside
# the image dHash). Volume-scaled copies of a recording share the
# fingerprint because quantization is RELATIVE to the doc's own peak
# frame energy; different recordings diverge. Map-only decode; the
# pair search is one hash-agg on the fingerprint — never all-pairs.
# ---------------------------------------------------------------------------


def audio_envelope_fingerprint(
    media: DataFrame, frame: int = 32, levels: int = 4
) -> DataFrame:
    """(doc_id, payload) -> (doc_id, n_frames, fp): per-frame energies
    (integer-exact, real decode) quantized to ``levels`` buckets
    RELATIVE to the doc's peak frame energy (level = e*levels //
    (max_e+1) — invariant under uniform gain to the extent the gained
    samples keep energy ratios, and reproducible in closed form by the
    oracle), then md5 over the dash-joined level sequence."""

    e = audio_frame_energy(media, frame=frame)
    w = Window.partitionBy("doc_id")
    # exact INTEGER division (div), not float floor — bit-identical in
    # any engine, no float-boundary drift
    leveled = e.withColumn("_mx", F.max("energy").over(w)).select(
        "doc_id",
        "frame_idx",
        F.expr(f"cast((energy * {levels}) div (_mx + 1) as int)").alias("lvl"),
    )
    seq = (
        leveled.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("frame_idx", "lvl"))
                    ),
                    lambda s: s["lvl"].cast("string"),
                ),
                "-",
            ).alias("env"),
        )
    )
    return seq.select(
        "doc_id", "n_frames", F.md5(F.col("env")).alias("fp")
    )


def audio_near_dup_pairs(fps: DataFrame) -> DataFrame:
    """Pairs sharing the envelope fingerprint (and frame count):
    (doc_a, doc_b, n_frames), doc_a < doc_b. One exchange on fp."""
    # same single-materialization rule as the image bands: both join
    # sides read one explicit exchange instead of re-running the WAV
    # decode + fingerprint subtree per side
    fps = fps.repartition(
        fps.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    a = fps.select(
        F.col("doc_id").alias("doc_a"), "n_frames", "fp"
    )
    b = fps.select(F.col("doc_id").alias("doc_b"), "n_frames", "fp")
    return (
        a.join(b, ["fp", "n_frames"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "n_frames")
    )


def _synth_audio_twin(doc_id: int) -> bytes:
    """Planted WAV twins: docs 2g and 2g+1 carry the SAME recording at
    different volumes (odd twin = 3/2 gain, integer floor, no clip at
    |s| <= 768) — the relative envelope quantization must pair them."""
    from spark_cassandra_collabfiltering_spark.operators import codecs

    g = doc_id // 2
    n = 256 + (g % 64) * 32  # 8..71 frames: real envelope entropy
    base = [((g * 17 + i * 5) % 1024) - 512 for i in range(n)]
    if doc_id % 2 == 1:
        base = [(3 * s) // 2 if s >= 0 else -((3 * (-s)) // 2) for s in base]
    return codecs.encode_wav_pcm16(8000, base)


def audio_neardup_query(df_documents: DataFrame) -> DataFrame:
    """documents -> planted volume twins -> real decode -> envelope
    fingerprint -> pair join. Exactly oracled: the oracle replays the
    gain, framing, energy and quantization arithmetic in closed form."""

    def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": [
                        _synth_audio_twin(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    ids = df_documents.select(F.col("doc_id").cast("bigint").alias("doc_id"))
    ids = ids.repartition(ids.sparkSession.sparkContext.defaultParallelism)
    media = ids.mapInPandas(
        encode,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("payload", T.BinaryType(), True),
            ]
        ),
    )
    return audio_near_dup_pairs(audio_envelope_fingerprint(media, levels=8))


# ---------------------------------------------------------------------------
# r7 cont.: TRUE video — Motion-JPEG in AVI, decoded from scratch
# (codecs.encode_avi_mjpeg / decode_avi_mjpeg + decode_jpeg per frame).
# ---------------------------------------------------------------------------

VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("unit_sum", T.LongType(), True),
    ]
)


def video_frame_features(media: DataFrame, every_n: int = 2) -> DataFrame:
    """(doc_id, payload[AVI/MJPG]) -> one row per SAMPLED frame with the
    decoded pixel sum: RIFF walk -> keep every ``every_n``-th frame ->
    baseline-JPEG decode. Corrupt containers quarantine as a single
    (frame_idx NULL) row. Scan-local 1->N Arrow fan-out, the pyav
    keyframe-sampler shape with a real from-scratch codec inside."""
    from spark_cassandra_collabfiltering_spark.operators import codecs

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p) if p is not None else b""
                try:
                    w, h, frames = codecs.decode_avi_mjpeg(b)
                    for fi in range(0, len(frames), every_n):
                        fw, fh, nc, px = codecs.decode_jpeg(frames[fi])
                        rows.append((doc_id, fi, fw, fh, sum(px)))
                except ValueError:
                    rows.append((doc_id, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "width", "height", "unit_sum"],
            )

    return media.select("doc_id", "payload").mapInPandas(
        batches, schema=VIDEO_FRAME_SCHEMA
    )


def _synth_mjpeg_avi(doc_id: int) -> bytes:
    """Deterministic MJPG AVI: 2 + doc%4 block-constant q100 grayscale
    frames (the lossless-subset trick, per-frame content varies) —
    every decoded pixel sum has a closed form."""
    from spark_cassandra_collabfiltering_spark.operators import codecs

    w, h = 8 * (1 + doc_id % 3), 8 * (1 + doc_id % 2)
    frames = []
    for f in range(2 + doc_id % 4):
        px = bytes(
            (doc_id * 31 + f * 53 + (x // 8) * 37 + (y // 8) * 91) % 256
            for y in range(h)
            for x in range(w)
        )
        frames.append(codecs.encode_jpeg_gray(w, h, px, quality=100))
    return codecs.encode_avi_mjpeg(w, h, frames)


def video_sample_query(df_documents: DataFrame) -> DataFrame:
    """documents -> real MJPG AVIs -> RIFF walk -> every-2nd-frame
    JPEG decode -> integer-exact per-frame features."""

    def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": [
                        _synth_mjpeg_avi(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    ids = df_documents.select(F.col("doc_id").cast("bigint").alias("doc_id"))
    ids = ids.repartition(ids.sparkSession.sparkContext.defaultParallelism)
    media = ids.mapInPandas(
        encode,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("payload", T.BinaryType(), True),
            ]
        ),
    )
    return video_frame_features(media, every_n=2)
