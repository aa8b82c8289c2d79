"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

Image decode tries PIL at module import (import-try, same pattern as
sentiment.py's VADER): when Pillow is present, ``decode_and_featurize``
decodes real image bytes (grayscale) with the identical downstream
featurize path; when absent (this runtime), the real-decode path raises
NotImplementedError at plan-execution time and the deterministic fake
codec is the test path. Everything Spark-side is real and tested either
way: schemas, Arrow batch shapes, mapInPandas signatures, partition
sizing. Audio/video decode would follow the same import-try with libav.

Fake codec format (deterministic, test-only):
    b"FAKEIMG:<width>,<height>:" + pixel bytes (row-major, 1 byte/px)
    b"FAKEVID:<n_frames>,<width>,<height>:" + n_frames*w*h frame bytes
    b"FAKEAUD:<sample_rate>:" + int16-LE PCM samples
(sampled FAKEVID frames are emitted as FAKEIMG payloads, so
``sample_frames`` composes directly with ``decode_and_featurize``)
"""

# NOTE: no `from __future__ import annotations` — the pandas_udf below needs
# real pd.Series type hints, not strings.
import io
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

try:  # import-try: real codec when the runtime ships Pillow
    from PIL import Image as _PILImage

    HAS_PIL = True
except ImportError:  # pragma: no cover - runtime-dependent
    _PILImage = None
    HAS_PIL = False

MEDIA_ASSET_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("media_kind", T.StringType(), False),  # image|audio|video
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
])

DECODED_DDL = ("doc_id string, media_ref string, width int, height int, "
               "mean_px double, feature array<float>")


def _decode_fake(payload: bytes):
    if payload is None or not payload.startswith(b"FAKEIMG:"):
        return None
    head, px = payload.split(b":", 2)[1:]
    w, h = (int(x) for x in head.split(b","))
    arr = np.frombuffer(px, dtype=np.uint8)[: w * h].astype(np.float64)
    if arr.size < w * h:
        arr = np.pad(arr, (0, w * h - arr.size))
    return w, h, arr.reshape(h, w)


#: synthetic-asset geometry shared by the md5-chain builders below and
#: their DuckDB oracle replays (queries.py): 8x6 = 48 px = 3 md5 blocks.
SYNTH_W, SYNTH_H = 8, 6
SYNTH_AUDIO_SAMPLES, SYNTH_AUDIO_RATE = 64, 16_000


def _md5_chain_hex(ref, n_blocks: int):
    """Hex chain md5(ref:0)||md5(ref:1)||... as a native Column — the
    engine-replayable payload generator (DuckDB computes the identical
    chain, so decoded features can be oracled end-to-end, unlike the
    MT19937-seeded ``make_fake_*`` helpers which are test-only)."""
    return F.concat(*[F.md5(F.concat(ref, F.lit(f":{i}")))
                      for i in range(n_blocks)])


def synth_image_assets(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic FAKEIMG assets, one per input row, built NATIVELY
    (md5 + unhex + concat — no UDF): payload pixels are the md5 chain of
    the media_ref, 8x6 px. The decode side (``decode_and_featurize``) is
    the same mapInPandas path real image bytes would take."""
    ref = F.concat(F.lit("img://"), F.col(id_col).cast("string"))
    px = F.unhex(_md5_chain_hex(ref, (SYNTH_W * SYNTH_H) // 16))
    return docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        ref.alias("media_ref"),
        F.lit("image").alias("media_kind"),
        F.concat(F.lit(b"FAKEIMG:%d,%d:" % (SYNTH_W, SYNTH_H)), px)
        .alias("payload"),
        F.create_map(F.lit("codec"), F.lit("fake")).alias("meta"),
    )


def synth_video_assets(docs: DataFrame, id_col: str = "doc_id",
                       n_frames: int = 4) -> DataFrame:
    """Deterministic FAKEVID assets (``n_frames`` 8x6 frames, contiguous
    md5-chain bytes) — native construction, same rationale as
    :func:`synth_image_assets`; feeds ``sample_frames``."""
    ref = F.concat(F.lit("vid://"), F.col(id_col).cast("string"))
    px = F.unhex(_md5_chain_hex(ref, n_frames * (SYNTH_W * SYNTH_H) // 16))
    return docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        ref.alias("media_ref"),
        F.lit("video").alias("media_kind"),
        F.concat(F.lit(b"FAKEVID:%d,%d,%d:" % (n_frames, SYNTH_W, SYNTH_H)),
                 px).alias("payload"),
        F.create_map(F.lit("codec"), F.lit("fake")).alias("meta"),
    )


def synth_audio_assets(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic FAKEAUD assets (64 int16-LE PCM samples = 128
    md5-chain bytes at 16 kHz) — native construction; feeds
    ``audio_features``."""
    ref = F.concat(F.lit("aud://"), F.col(id_col).cast("string"))
    raw = F.unhex(_md5_chain_hex(ref, SYNTH_AUDIO_SAMPLES * 2 // 16))
    return docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        ref.alias("media_ref"),
        F.lit("audio").alias("media_kind"),
        F.concat(F.lit(b"FAKEAUD:%d:" % SYNTH_AUDIO_RATE), raw)
        .alias("payload"),
        F.create_map(F.lit("codec"), F.lit("fake")).alias("meta"),
    )


def make_fake_image(doc_id: str, media_ref: str, w: int = 8, h: int = 6) -> bytes:
    """Deterministic pixels from the ref string (test corpus helper)."""
    seed = int.from_bytes(media_ref.encode()[-8:].rjust(8, b"\0"), "big") % (2**32)
    rng = np.random.RandomState(seed)
    px = rng.randint(0, 256, size=w * h, dtype=np.uint32).astype(np.uint8)
    return b"FAKEIMG:%d,%d:" % (w, h) + px.tobytes()


def _decode_pil(payload):
    """Real decode via Pillow (grayscale), same (w, h, 2-D float array)
    contract as the fake codec; undecodable bytes -> None (row skipped)."""
    if payload is None:
        return None
    try:
        img = _PILImage.open(io.BytesIO(bytes(payload))).convert("L")
        return img.width, img.height, np.asarray(img, dtype=np.float64)
    except Exception:  # noqa: BLE001 — corrupt bytes are data, not bugs
        return None


def decode_and_featurize(assets: DataFrame, *, feature_dim: int = 16,
                         use_fake_codec: bool = False) -> DataFrame:
    """mapInPandas decode + feature extraction. One Arrow batch in, one out;
    per-batch numpy work, no per-row Python UDFs. Decoder selection:
    use_fake_codec=True -> deterministic test codec; else PIL when the
    runtime has it (import-try above); else NotImplementedError at
    plan-execution time (clearly-marked stub in PIL-less runtimes)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if use_fake_codec:
                decode = _decode_fake
            elif HAS_PIL:
                decode = _decode_pil
            else:
                raise NotImplementedError(
                    "real image decode requires PIL/libav (not in this "
                    "runtime); pass use_fake_codec=True for the "
                    "deterministic test codec"
                )
            rows = []
            for doc_id, ref, payload in zip(pdf["doc_id"], pdf["media_ref"],
                                            pdf["payload"]):
                decoded = decode(payload)
                if decoded is None:
                    continue
                w, h, img = decoded
                # deterministic "embedding": histogram projection
                hist, _ = np.histogram(img, bins=feature_dim, range=(0, 256))
                feat = (hist / max(img.size, 1)).astype(np.float32)
                rows.append((doc_id, ref, w, h, float(img.mean()), feat.tolist()))
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_ref", "width", "height",
                               "mean_px", "feature"],
            )

    return assets.mapInPandas(op, schema=DECODED_DDL)


def make_fake_video(doc_id: str, media_ref: str, n_frames: int = 12,
                    w: int = 8, h: int = 6) -> bytes:
    """Deterministic frames from the ref string (test corpus helper):
    frame i's pixels are the FAKEIMG pixels of ref shifted by i."""
    seed = int.from_bytes(media_ref.encode()[-8:].rjust(8, b"\0"), "big") % (2**32)
    rng = np.random.RandomState(seed)
    base = rng.randint(0, 256, size=w * h, dtype=np.uint32).astype(np.uint8)
    frames = b"".join(
        ((base.astype(np.uint16) + i) % 256).astype(np.uint8).tobytes()
        for i in range(n_frames)
    )
    return b"FAKEVID:%d,%d,%d:" % (n_frames, w, h) + frames


def sample_frames(assets: DataFrame, *, every: int = 4,
                  use_fake_codec: bool = False) -> DataFrame:
    """Frame sampling for video assets: one row in -> one row per sampled
    frame (frame 0, every-th, 2*every-th, ...), each carrying the frame as
    a FAKEIMG payload so the result feeds ``decode_and_featurize``
    unchanged. mapInPandas, per-batch numpy slicing; the real codec
    (libav/PyAV keyframe iteration) slots into the same row contract and
    is stubbed in this runtime (import-try pattern, same as PIL above)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, ref, payload in zip(pdf["doc_id"], pdf["media_ref"],
                                            pdf["payload"]):
                if payload is None:
                    continue
                b = bytes(payload)
                if not b.startswith(b"FAKEVID:"):
                    if use_fake_codec:
                        continue  # non-video payloads skipped, like corrupt rows
                    raise NotImplementedError(
                        "real video frame extraction requires libav/PyAV "
                        "(not in this runtime); FAKEVID payloads are the "
                        "deterministic test path"
                    )
                head, px = b.split(b":", 2)[1:]
                n, w, h = (int(x) for x in head.split(b","))
                arr = np.frombuffer(px, dtype=np.uint8)[: n * w * h]
                for i in range(0, n, every):
                    frame = arr[i * w * h:(i + 1) * w * h].tobytes()
                    rows.append((doc_id, ref, i,
                                 b"FAKEIMG:%d,%d:" % (w, h) + frame))
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_ref", "frame_idx", "payload"])

    return assets.mapInPandas(
        op, schema="doc_id string, media_ref string, frame_idx int, payload binary")


def make_fake_audio(doc_id: str, media_ref: str, n_samples: int = 4800,
                    sample_rate: int = 16_000) -> bytes:
    """Deterministic int16 PCM from the ref string (test corpus helper)."""
    seed = int.from_bytes(media_ref.encode()[-8:].rjust(8, b"\0"), "big") % (2**32)
    rng = np.random.RandomState(seed)
    # "<i2" (explicit little-endian) pins the documented int16-LE format
    # on any host endianness (review r4)
    pcm = (rng.standard_normal(n_samples) * 3000).astype("<i2")
    return b"FAKEAUD:%d:" % sample_rate + pcm.tobytes()


AUDIO_DDL = ("doc_id string, media_ref string, sample_rate int, "
             "duration_s double, rms double, zero_cross_rate double")


def audio_features(assets: DataFrame, *, use_fake_codec: bool = False) -> DataFrame:
    """Audio decode + feature extraction: per-clip duration, RMS level and
    zero-crossing rate from PCM. mapInPandas with per-batch numpy — the
    audio member of the decode plane. Real compressed-audio decode needs
    libav/soundfile (absent in this runtime): FAKEAUD payloads are the
    deterministic test path, everything downstream of the byte parse is
    the real feature code either way."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, ref, payload in zip(pdf["doc_id"], pdf["media_ref"],
                                            pdf["payload"]):
                if payload is None:
                    continue
                b = bytes(payload)
                if not b.startswith(b"FAKEAUD:"):
                    if use_fake_codec:
                        continue
                    raise NotImplementedError(
                        "real audio decode requires libav/soundfile (not in "
                        "this runtime); FAKEAUD payloads are the "
                        "deterministic test path"
                    )
                head, raw = b.split(b":", 2)[1:]
                sr = int(head)
                # explicit LE dtype: the format is int16-LE by contract
                # (and the media_audio oracle reassembles LE bytes), so
                # native-endian parse would break on big-endian hosts
                pcm = np.frombuffer(raw, dtype="<i2").astype(np.float64)
                n = len(pcm)
                if n == 0:
                    continue
                rms = float(np.sqrt(np.mean(pcm * pcm)))
                zc = float(np.count_nonzero(np.diff(np.signbit(pcm))) / n)
                rows.append((doc_id, ref, sr, n / sr, round(rms, 6),
                             round(zc, 6)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_ref", "sample_rate",
                               "duration_s", "rms", "zero_cross_rate"])

    return assets.mapInPandas(op, schema=AUDIO_DDL)


def media_assets_from_spans(spans_df: DataFrame, *, fake_payloads: bool = False) -> DataFrame:
    """Lift extracted media spans into the media_assets shape. Payloads stay
    NULL (media bytes are never fetched in the extract plane — SURVEY S9);
    the test corpus can inject fake payloads via a deterministic pandas UDF."""
    assets = (
        spans_df.select("doc_id", F.inline("spans"))
        .filter(F.col("kind") == "media")
        .select(
            "doc_id",
            F.col("media_ref"),
            F.when(F.col("media_ref").rlike("(?i)\\.(png|jpe?g|gif|svg)($|\\?)"),
                   F.lit("image"))
            .when(F.col("media_ref").rlike("(?i)\\.(ogg|mp3|wav)($|\\?)"), F.lit("audio"))
            .when(F.col("media_ref").rlike("(?i)\\.(webm|mp4)($|\\?)"), F.lit("video"))
            .otherwise(F.lit("image")).alias("media_kind"),
            F.lit(None).cast("binary").alias("payload"),
            F.create_map(F.lit("caption"), F.col("text")).alias("meta"),
        )
    )
    if fake_payloads:
        @F.pandas_udf(T.BinaryType())
        def fake(doc_ids: pd.Series, refs: pd.Series) -> pd.Series:
            return pd.Series(
                [make_fake_image(d, r) for d, r in zip(doc_ids, refs)],
                dtype=object,
            )

        assets = assets.withColumn("payload", fake(F.col("doc_id"), F.col("media_ref")))
    return assets
