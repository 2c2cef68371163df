"""Multimodal columns: images/audio/video as opaque binary + metadata.

Design (the Spark-native pattern for 100 TB multimodal corpora):

* Payloads are ``binary`` columns carried alongside a typed metadata
  struct ``(modality, media_format, n_bytes, byte_sha)`` — Parquet
  stores them as byte arrays, Spark never interprets them until a
  decode stage runs.
* Decode / feature-extract runs as ``mapInPandas``: Arrow moves the
  byte batches to Python in columnar blocks, the extractor processes a
  whole batch per call (never row-at-a-time), and the output schema is
  declared up front so the plan stays fully typed.
* The actual media decoding (PIL/ffmpeg/torchaudio) is NOT available
  in this environment: ``decode_media`` raises ``NotImplementedError``
  unless ``allow_stub=True``, in which case a deterministic fake
  decoder produces byte-derived features — the Spark-side plumbing
  (schema, batching, partitioning) is real and tested either way.

Scale notes: feature extraction is embarrassingly parallel (map-only,
no shuffle); partition sizing is governed by payload bytes, so callers
should ``repartition`` by target partition *bytes*, not row counts —
see ``attach_payload(..., rows_per_partition=...)``.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("byte_sha", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.DoubleType()), False),
    ]
)

FEATURE_DIM = 8


def attach_payload(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    modality: str = "image",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach a synthetic binary payload + metadata struct to each row
    (deterministic: UTF-8 bytes of the text column stand in for decoded
    media in this container). Real ingestion would read the bytes from
    object storage; everything downstream is format-agnostic.

    Partition sizing is caller/conf-driven (``num_partitions``), never
    computed here: a transform must not run hidden eager jobs (a
    ``.count()`` inside a builder fires a full scan before the real
    one). At ingest, size partitions by payload *bytes* via
    ``spark.sql.files.maxPartitionBytes`` on the upstream scan, or pass
    an explicit ``num_partitions`` derived from known corpus stats."""
    payload = F.encode(F.col(text_col), "UTF-8")
    out = df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            F.lit(modality).alias("modality"),
            F.lit("synthetic/utf8").alias("media_format"),
            F.length(payload).cast("long").alias("n_bytes"),
            F.sha2(payload, 256).alias("byte_sha"),
        ).alias("media_meta"),
    )
    if num_partitions:
        out = out.repartition(num_partitions)
    return out


def _real_image_decoder():
    """The real-codec hook: returns a ``(payload) -> raw RGB bytes``
    callable backed by Pillow when it is importable, else ``None``.
    Import is attempted lazily per call site (executors import
    independently; no module-level hard dependency), so the same wheel
    runs both in this codec-less container and on a cluster image with
    Pillow installed."""
    try:
        import io

        from PIL import Image  # type: ignore[import-not-found]
    except ImportError:
        return None

    def decode(payload: bytes) -> bytes:
        with Image.open(io.BytesIO(payload)) as im:
            return im.convert("RGB").tobytes()

    return decode


#: formats produced by attach_payload's synthetic path — always decoded
#: by the stub (they are not real media containers)
_STUB_FORMATS = frozenset({"synthetic/utf8"})


def decode_media(payload: bytes, media_format: str, allow_stub: bool = False) -> bytes:
    """Decode one media payload to raw bytes.

    Resolution order: a REAL codec when one is importable (currently
    Pillow for image containers — covered by a skip-marked test that
    runs wherever Pillow exists), else the deterministic stub when
    ``allow_stub=True`` (raw bytes unchanged), else
    ``NotImplementedError``. Synthetic payloads (``synthetic/utf8``)
    never route to a real codec — they are not media containers."""
    if media_format not in _STUB_FORMATS:
        real = _real_image_decoder()
        if real is not None:
            return real(payload)
    if not allow_stub:
        raise NotImplementedError(
            "media decoding requires PIL/ffmpeg/torchaudio, not available here; "
            "pass allow_stub=True for the deterministic fake"
        )
    return payload


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_index", T.IntegerType(), False),
        T.StructField("frame_payload", T.BinaryType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)


def resize_images(media: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Image resize stage: Arrow-batched ``mapInPandas`` with a typed
    (payload, width, height) output. The pixel work is a stub (real
    resize needs PIL — not in this container): payloads are
    deterministically truncated/padded to width×height bytes, so batch
    shapes, schema, and memory behavior match the real operator.
    Worker closure is self-contained (ships by value)."""
    w, h = width, height

    def run(batches):
        import pandas as _pd

        target = w * h
        for pdf in batches:
            resized = [
                bytes(p[:target]) + b"\x00" * max(0, target - len(p))
                for p in pdf["payload"]
            ]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": resized,
                    "width": w,
                    "height": h,
                    "n_bytes": [len(p) for p in resized],
                }
            )

    return media.mapInPandas(run, RESIZED_SCHEMA)


def sample_frames(
    media: DataFrame, n_frames: int = 4, frame_len: int | None = None
) -> DataFrame:
    """Video frame sampling: one input payload → ``n_frames`` output
    rows (uniform strides), the row-expanding ``mapInPandas`` shape a
    real ffmpeg-backed sampler would use. Frame decode is stubbed as
    byte-range slicing. ``frame_len`` fixes each frame's byte length
    (default: the stride, i.e. contiguous quarters); a short fixed
    window at each stride is the keyframe-fingerprint shape
    ``multimodal_frame_dedup`` pairs on."""
    k = n_frames

    def run(batches):
        import pandas as _pd

        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                step = max(1, len(p) // k)
                flen = frame_len if frame_len is not None else step
                for i in range(k):
                    ids.append(int(doc_id))
                    idxs.append(i)
                    frames.append(bytes(p[i * step : i * step + flen]))
            yield _pd.DataFrame(
                {
                    "doc_id": _pd.Series(ids, dtype="int64"),
                    "frame_index": _pd.Series(idxs, dtype="int32"),
                    "frame_payload": frames,
                    "n_bytes": _pd.Series([len(f) for f in frames], dtype="int64"),
                }
            )

    return media.mapInPandas(run, FRAME_SCHEMA)


def extract_features(media: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Batch feature extraction over (doc_id, payload, media_meta) via
    ``mapInPandas`` — Arrow-batched, schema-stable, map-only.

    The worker function is deliberately self-contained (imports and the
    feature kernel live inside it, no module-global references) so
    cloudpickle ships it by value: Python workers then need neither
    this package on their ``sys.path`` nor an ``addPyFile`` — the
    function runs under any externally-created SparkSession.
    """
    dim = FEATURE_DIM

    def run(batches):
        import hashlib as _hl

        import pandas as _pd

        def feats_of(payload: bytes) -> list[float]:
            counts = [0] * dim
            for b in payload:
                counts[b % dim] += 1
            total = max(1, len(payload))
            return [c / total for c in counts]

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "modality": [m["modality"] for m in pdf["media_meta"]],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "byte_sha": [_hl.sha256(p).hexdigest() for p in pdf["payload"]],
                    "feature": [feats_of(p) for p in pdf["payload"]],
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


AUDIO_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("window_index", T.IntegerType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("window_sha", T.StringType(), False),
        T.StructField("energy", T.LongType(), False),
    ]
)


def window_audio(media: DataFrame, win: int = 64, hop: int = 48) -> DataFrame:
    """Audio framing: one payload → overlapping fixed-length windows
    with hop (the STFT/spectrogram frame shape a torchaudio-backed
    pipeline produces before any FFT) via row-expanding
    ``mapInPandas``. Window count for an n-byte payload is
    ``1 + ceil(max(0, n - win) / hop)`` — the last window may be
    short; a payload shorter than one window yields itself. Per
    window: a sha256 fingerprint (the chunk-dedup key) and an integer
    "energy" (byte-sum — the deterministic stand-in for RMS; a real
    decoder would compute it from PCM samples, same schema).

    Scale: map-only Arrow-batched expansion, ~n/hop output rows per
    payload; no shuffle until a consumer groups on the fingerprint."""

    def run(batches):
        import hashlib as _hl

        import pandas as _pd

        for pdf in batches:
            ids, idxs, lens, shas, eng = [], [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                n = len(p)
                k = 1 if n <= win else (n - win + hop - 1) // hop + 1
                for i in range(k):
                    w = bytes(p[i * hop : i * hop + win])
                    ids.append(int(doc_id))
                    idxs.append(i)
                    lens.append(len(w))
                    shas.append(_hl.sha256(w).hexdigest())
                    eng.append(sum(w))
            yield _pd.DataFrame(
                {
                    "doc_id": _pd.Series(ids, dtype="int64"),
                    "window_index": _pd.Series(idxs, dtype="int32"),
                    "n_bytes": _pd.Series(lens, dtype="int64"),
                    "window_sha": shas,
                    "energy": _pd.Series(eng, dtype="int64"),
                }
            )

    return media.mapInPandas(run, AUDIO_WINDOW_SCHEMA)
