"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

North-star surface (BASELINE.json): at 100 TB, media live as ``binary``
columns (or object-store paths) beside typed metadata structs; decode /
feature-extraction runs as Arrow-batched ``mapInPandas`` so bytes never
cross the driver and each task holds one batch.

Codec status: **real** for uncompressed public formats — WAV/RIFF PCM,
netpbm PPM/PGM, 24-bit BMP decode + deterministic descriptors live in
:mod:`obsplus_spark.operators.codecs` (pure numpy, no external libs).
Compressed formats (JPEG/PNG/MP4…) still fall back to a deterministic
byte-level fake with the same output schema — their codecs aren't in
this container and the fallback keeps plans/shuffles/joins exercised
end-to-end. Drop-in: extend ``codecs.decode_features`` with a PIL/librosa
call on a full cluster.
"""

from __future__ import annotations

import hashlib
import logging
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_log = logging.getLogger(__name__)

#: metadata struct carried beside every media payload
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image/audio/video
        T.StructField("format", T.StringType()),      # png/jpeg/wav/...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META_SCHEMA),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, n_bytes long, sha long, features array<float>"
)


def _decode_real(payload: bytes, meta) -> list[float]:
    """The real codec hook. Not available in this container."""
    raise NotImplementedError(
        "media decoding requires image/audio libraries not present in the "
        "round-1 environment; use decode_stub=True (deterministic fake) "
        "or plug a codec in here on a full cluster"
    )


def _fake_image_features(payload: bytes, dim: int) -> list[float]:
    """Deterministic stand-in: md5-chained bytes → [0,1) floats.

    Keeps every downstream property real (fixed dim, deterministic,
    content-sensitive) without any media library.
    """
    out: list[float] = []
    seed = payload or b""
    h = hashlib.md5(seed).digest()
    while len(out) < dim:
        for i in range(0, len(h), 4):
            out.append(int.from_bytes(h[i : i + 4], "big") / 2**32)
            if len(out) == dim:
                break
        h = hashlib.md5(h).digest()
    return out


def extract_features(
    media: DataFrame,
    dim: int = 16,
    batch_size_hint: int = 256,
    decode_stub: bool = True,
) -> DataFrame:
    """Binary payloads → fixed-dim feature vectors via ``mapInPandas``.

    Arrow streams each partition as pandas batches; one output row per
    media row: ``(media_id, n_bytes, sha, features array<float>)``. The
    ``features`` column feeds directly into
    :mod:`obsplus_spark.operators.similarity` (ANN) — the intended
    pipeline shape for image-dedup at scale.

    Per-row dispatch: formats with a real pure-numpy codec
    (``codecs.DECODABLE``: wav/ppm/pgm/bmp) decode for real; everything
    else uses the deterministic fake when ``decode_stub`` (default) or
    raises via ``_decode_real`` when not.
    """
    import pandas as pd

    from obsplus_spark.operators.codecs import decode_features
    from obsplus_spark.util import ensure_parallelism

    has_meta = "meta" in media.columns

    def _one(payload: bytes, fmt: str | None) -> list[float]:
        real = decode_features(payload, fmt, dim)
        if real is not None:
            return real
        if decode_stub:
            return _fake_image_features(payload, dim)
        return _decode_real(payload, None)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            if has_meta:
                fmts = [
                    (m.get("format") if isinstance(m, dict) else None)
                    for m in pdf["meta"]
                ]
            else:
                fmts = [None] * len(pdf)
            feats = [_one(p, f) for p, f in zip(payloads, fmts)]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(lambda b: len(b) if b is not None else 0),
                    "sha": payloads.map(
                        lambda b: int.from_bytes(
                            hashlib.sha256(b or b"").digest()[:8], "big", signed=True
                        )
                    ),
                    "features": feats,
                }
            )

    return ensure_parallelism(media).mapInPandas(_batches, FEATURE_SCHEMA)


def sample_video_frames(
    media: DataFrame,
    every_n: int = 3,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Distributed video frame sampling over PPMV containers: every
    ``every_n``-th frame is decoded (skipped frames are *seeked over* by
    length prefix — the sampler's cost is proportional to frames kept,
    not frames stored) and reduced to per-frame stats. One Arrow-batched
    pass, bytes never leave the executors; undecodable payloads drop
    (PERMISSIVE convention).

    Output: (media_id, frame_idx, h, w, f_sum, f_min, f_max).
    """
    import pandas as pd

    from obsplus_spark.operators.codecs import decode_ppmv
    from obsplus_spark.util import ensure_parallelism

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    mid_i = int(mid)
                    frames = decode_ppmv(bytes(p), every_n)
                except Exception as exc:  # PERMISSIVE: the row drops
                    _log.warning("skipping undecodable media %r: %r", mid, exc)
                    continue
                for idx, arr in frames:
                    rows.append(
                        (
                            mid_i,
                            int(idx),
                            int(arr.shape[0]),
                            int(arr.shape[1]),
                            int(arr.sum()),
                            int(arr.min()),
                            int(arr.max()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "frame_idx", "h", "w",
                    "f_sum", "f_min", "f_max",
                ],
            )

    return ensure_parallelism(media).mapInPandas(
        _batches,
        "media_id long, frame_idx long, h long, w long,"
        " f_sum long, f_min long, f_max long",
    )


def frame_signal_features(
    df: DataFrame,
    frame_len: int = 256,
    id_col: str = "signal_id",
    order_cols: "tuple[str, ...]" = ("pos",),
    sample_col: str = "k",
) -> DataFrame:
    """Fixed-length framing + per-frame features over a sequential
    signal — the audio feature-extraction stage (frame → energy /
    zero-crossing rate) that follows :func:`~obsplus_spark.operators.
    codecs.decode_wav` in a real pipeline, expressed entirely as JVM
    window/aggregate expressions (the decode step is the only Python in
    the chain; framing integer samples needs none).

    Per frame of ``frame_len`` consecutive samples (ordered by
    ``order_cols`` within ``id_col``): sample count (the tail frame may
    be short), energy ``Σk²`` (exact integer math for PCM-int inputs;
    the BIGINT output bounds the per-FRAME sum at ~8.6e9 int16
    samples — frames are thousands of samples by construction, five
    orders of magnitude of headroom; past it the ANSI engine fails
    loudly rather than wrapping),
    zero crossings (sign change vs the previous sample of the SIGNAL —
    a crossing on a frame boundary is attributed to the later frame;
    the first sample of a signal has no predecessor and contributes
    none), and raw RMS ``sqrt(energy/n)`` rounded to 9 dp.

    Scale shape: ONE shuffle — the row-number/lag window partitions by
    the signal id, and the (id, frame) aggregate reuses that
    partitioning (grouping keys extend the partition key, so no second
    exchange). 100 TB of decoded audio frames in one pass.
    """
    if int(frame_len) < 1:
        raise ValueError(f"frame_len must be >= 1, got {frame_len}")
    from obsplus_spark.util import sql_over

    order = ", ".join(order_cols)
    return sql_over(
        {"d": df},
        f"""
        WITH o AS (
          SELECT {id_col}, {sample_col} AS _k,
                 row_number() OVER w - 1 AS _rn,
                 lag({sample_col}) OVER w AS _pk
          FROM {{d}}
          WINDOW w AS (PARTITION BY {id_col} ORDER BY {order})
        )
        SELECT {id_col},
               _rn div {int(frame_len)} AS frame_idx,
               CAST(count(1) AS BIGINT) AS n_samples,
               CAST(sum(_k * _k) AS BIGINT) AS energy,
               CAST(count_if(_k * _pk < 0) AS BIGINT) AS zero_crossings,
               round(sqrt(sum(_k * _k) / count(1)), 9) AS rms
        FROM o
        GROUP BY {id_col}, _rn div {int(frame_len)}
        """,
    )


def activity_segments(
    frames: DataFrame,
    threshold: int,
    id_col: str = "signal_id",
    frame_col: str = "frame_idx",
    energy_col: str = "energy",
) -> DataFrame:
    """Voice/activity segmentation over framed signal features: frames
    whose energy exceeds ``threshold`` are "active", and maximal runs
    of CONSECUTIVE active frames merge into segments — the VAD-style
    pass that turns :func:`frame_signal_features` output into speech/
    event regions (clip extraction, silence trimming, per-utterance
    batching).

    Run detection is the classic gaps-and-islands difference trick:
    ``frame_idx − row_number()`` over active frames is constant within
    a consecutive run, so the segment roll-up is a plain aggregate on
    that derived key. A non-active frame (or a missing frame index —
    framing emits no empty frames, so index gaps behave as silence)
    breaks the run. All-integer → engine-exact.

    Scale shape: the threshold filter folds into the scan of the frame
    table; ONE id-keyed exchange serves both the run-id window and the
    segment aggregate (grouping keys extend the partition key). No
    joins, no driver actions.

    Output: (id, start_frame, end_frame, n_frames, total_energy), all
    BIGINT.
    """
    from obsplus_spark.util import sql_over

    t = int(threshold)
    return sql_over(
        {"f": frames},
        f"""
        WITH act AS (
          SELECT {id_col}, {frame_col} AS _f, {energy_col} AS _e,
                 {frame_col} - row_number() OVER (PARTITION BY {id_col}
                     ORDER BY {frame_col}) AS _run
          FROM {{f}} WHERE {energy_col} > {t}
        )
        SELECT {id_col},
               CAST(min(_f) AS BIGINT) AS start_frame,
               CAST(max(_f) AS BIGINT) AS end_frame,
               CAST(count(1) AS BIGINT) AS n_frames,
               CAST(sum(_e) AS BIGINT) AS total_energy
        FROM act
        GROUP BY {id_col}, _run
        """,
    )
