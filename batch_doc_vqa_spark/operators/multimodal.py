"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The reference feeds page images to vision models as base64 payloads
(/root/reference/src/batch_doc_vqa/core/image_utils.py:13-16) and splits PDFs
into per-page images (utils/image_processing.py:8-53). At 100 TB the same
pattern is: binary column + typed metadata struct, processed by Arrow-batched
``mapInPandas`` so each Python worker sees whole record batches.

PIL/ffmpeg are NOT in this container, but several public container formats
decode with stdlib+numpy alone (``functions/media_decode.py``): PNG and BMP
pixels (full reconstruction), WAV audio frames — those rows get REAL
metadata/pixels/features and ``decode_status='ok'``. GIF/JPEG are
header-probe only (real dimensions, no pixel access): ``decode_status=
'probe'`` so the publish gate can tell them from full decodes. Everything
else falls back to the clearly-marked deterministic stub (`_stub_decode`,
content-hash dims) with ``decode_status='stub'`` — the gate quarantines
both 'probe' and 'stub' rows by default. The schemas, batch iteration,
partition-size discipline and UDF signatures are the same production
plumbing either way.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import media_decode

MEDIA_META_SCHEMA = (
    "media_id string, kind string, n_bytes long, sha256 string, "
    "width int, height int, duration_ms long, decode_status string"
)

FRAME_SCHEMA = "media_id string, frame_idx int, ts_ms long, frame_sha string"

# Full pixel/frame decode exists for PNG/BMP/WAV; GIF/JPEG probe header
# dimensions only ('probe'); anything else is labeled decode_status='stub'.
_FULL_DECODE_KINDS = {"image/png", "image/bmp", "audio/wav"}


def _stub_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake decode: (width, height, duration_ms) from content.

    Replace with PIL/ffmpeg when available; raising NotImplementedError here
    would be the strict-mode behavior.
    """
    h = hashlib.sha256(payload).digest()
    return 320 + h[0], 240 + h[1], 1000 * (1 + h[2] % 30)


def _probe_one(payload: bytes | None, fallback_kind: str) -> tuple:
    """(kind, width, height, duration_ms, decode_status) for one payload.

    Recognized container formats (media_decode.probe_bytes) carry real
    metadata — 'ok' when a full pixel/frame decoder exists (PNG/BMP/WAV),
    'probe' when only the header is readable (GIF/JPEG). Unrecognized
    payloads keep the caller's kind and the stub dims ('stub')."""
    if not payload:
        return fallback_kind, 0, 0, 0, "empty"
    real = media_decode.probe_bytes(payload)
    if real is not None:
        status = "ok" if real["kind"] in _FULL_DECODE_KINDS else "probe"
        return real["kind"], real["width"], real["height"], real["duration_ms"], status
    w, h, dur = _stub_decode(payload)
    return fallback_kind, w, h, dur, "stub"


def probe_media(df: DataFrame, id_col: str, bin_col: str, kind_col: str) -> DataFrame:
    """binary column → typed metadata rows via Arrow-batched mapInPandas."""

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            payloads = b[bin_col]
            probes = [
                _probe_one(p, k) for p, k in zip(payloads, b[kind_col])
            ]
            meta = {
                "media_id": b[id_col].astype(str),
                "kind": [pr[0] for pr in probes],
                "n_bytes": payloads.map(lambda p: len(p) if p is not None else 0),
                "sha256": payloads.map(
                    lambda p: hashlib.sha256(p).hexdigest() if p is not None else ""
                ),
                "width": [pr[1] for pr in probes],
                "height": [pr[2] for pr in probes],
                "duration_ms": [pr[3] for pr in probes],
                "decode_status": [pr[4] for pr in probes],
            }
            yield pd.DataFrame(meta)

    return df.mapInPandas(probe, schema=MEDIA_META_SCHEMA)


def sample_frames(
    df: DataFrame,
    id_col: str,
    bin_col: str,
    every_ms: int = 5000,
    repartition_to: int | None = None,
) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled frame timestamp.

    Durations are REAL for recognized containers (WAV via media_decode);
    the frame content hash is stubbed (frame_sha = hash(payload, ts)) —
    the fan-out shape (1 media row → N frame rows) is the real pattern.

    Map-only by default, like every other media op: no forced Exchange.
    Pass ``repartition_to`` only when the upstream partitioning is known-bad
    (e.g. one giant archive file) and the fan-out would otherwise skew.
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out: dict[str, list] = {"media_id": [], "frame_idx": [], "ts_ms": [], "frame_sha": []}
            for mid, payload in zip(b[id_col].astype(str), b[bin_col]):
                if payload is None:
                    continue
                _, _, _, dur, status = _probe_one(payload, "")
                if status not in ("ok", "probe") or dur == 0:
                    _, _, dur = _stub_decode(payload) if payload else (0, 0, 0)
                for idx, ts in enumerate(range(0, dur, every_ms)):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["ts_ms"].append(ts)
                    out["frame_sha"].append(
                        hashlib.sha256(payload + ts.to_bytes(8, "big")).hexdigest()[:16]
                    )
            yield pd.DataFrame(out)

    if repartition_to is not None:
        df = df.repartition(repartition_to)
    return df.mapInPandas(sample, schema=FRAME_SCHEMA)


def base64_payloads(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """Binary payload → base64 transport encoding (P15).

    The reference base64-encodes page images for vision-model request bodies
    (core/image_utils.py:13-16). Pure JVM column expressions — no Python on
    the hot path; the data-URL prefix mirrors the reference's payload shape.
    Spark's base64 may emit MIME-chunked output (76-char lines joined by
    CRLF, spark.sql.legacy.chunkBase64String); strip the line breaks so the
    payload is canonical RFC 4648 regardless of session config.
    """
    b64 = F.regexp_replace(F.base64(F.col(bin_col)), "\r\n", "")
    return df.select(
        F.col(id_col).cast("string").alias("media_id"),
        F.length(F.col(bin_col)).alias("n_bytes"),
        b64.alias("payload_b64"),
        F.concat(F.lit("data:application/octet-stream;base64,"), b64).alias("data_url"),
    )


RESIZE_SCHEMA = "media_id string, width int, height int, out_w int, out_h int"


def resize_media(df: DataFrame, id_col: str, bin_col: str, max_w: int = 256, max_h: int = 256) -> DataFrame:
    """Aspect-preserving resize plumbing (decode stubbed, math real).

    Source dims come from the stub decode; the clamp is the real production
    formula: scale = min(1, max_w/w, max_h/h), out = floor(dim·scale). When a
    codec lands, only ``_stub_decode`` changes.
    """

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out: dict[str, list] = {"media_id": [], "width": [], "height": [], "out_w": [], "out_h": []}
            for mid, payload in zip(b[id_col].astype(str), b[bin_col]):
                # only NULL payloads skip (same contract as extract_features);
                # zero-byte payloads still decode — silently dropping them
                # would lose rows with no status/quarantine trace
                if payload is None:
                    continue
                kind, w, h, _, status = _probe_one(payload, "")
                if status not in ("ok", "probe") or not kind.startswith("image/"):
                    w, h, _ = _stub_decode(payload)
                if w <= 0 or h <= 0:
                    # malformed header carrying 0 in a dimension field flows
                    # through status='probe' — record-and-continue, never a
                    # ZeroDivisionError that kills the task (X2 contract)
                    w, h, _ = _stub_decode(payload)
                s = min(1.0, max_w / w, max_h / h)
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["out_w"].append(int(w * s))
                out["out_h"].append(int(h * s))
            yield pd.DataFrame(out)

    return df.mapInPandas(resize, schema=RESIZE_SCHEMA)


DECODE_SCHEMA = (
    "media_id string, kind string, width int, height int, duration_ms long, "
    "decode_status string, " + ", ".join(f"f{i} double" for i in range(8))
)


def decode_media_kernel(payload: bytes | None, fallback_kind: str) -> dict:
    """Pure kernel: payload → real metadata + 8 real features (or stub).

    Images (PNG/BMP full pixels): per-channel means, std, aspect, gradient
    energies, min — ``media_decode.image_features``. Audio (WAV): rms, peak,
    zero-cross, duration + 4 zeros. GIF/JPEG: header dims only, status
    'probe', zero features. Unrecognized: stub dims + sha-digest features
    (the old stub contract). This function IS the oracle — the Spark op maps
    it over Arrow batches.
    """
    kind, w, h, dur, status = _probe_one(payload, fallback_kind)
    feats = [0.0] * 8
    if status == "ok":
        try:
            if kind == "image/png":
                feats = media_decode.image_features(media_decode.decode_png(payload))
            elif kind == "image/bmp":
                feats = media_decode.image_features(media_decode.decode_bmp(payload))
            elif kind == "audio/wav":
                feats = media_decode.audio_features(payload) + [0.0] * 4
        except ValueError as exc:  # recognized container, undecodable body
            status, feats = "decode_error:" + str(exc)[:40], [0.0] * 8
    elif status == "stub":
        digest = hashlib.sha256(payload).digest()
        feats = [round(digest[i] / 255.0, 6) for i in range(8)]
    return dict(
        kind=kind, width=w, height=h, duration_ms=dur, decode_status=status,
        **{f"f{i}": feats[i] for i in range(8)},
    )


def decode_media(df: DataFrame, id_col: str, bin_col: str, kind_col: str) -> DataFrame:
    """REAL media decode over Arrow batches: metadata + content features."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, payload, k in zip(b[id_col].astype(str), b[bin_col], b[kind_col]):
                rows.append({"media_id": mid, **decode_media_kernel(payload, k)})
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=DECODE_SCHEMA)


FEATURE_DIM = 8
FEATURES_SCHEMA = "media_id string, " + ", ".join(f"f{i} double" for i in range(FEATURE_DIM))


def extract_features(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """Feature-extraction plumbing: payload → fixed-dim float features.

    The embedding model is stubbed deterministically (sha256 bytes / 255,
    rounded to 6); the Arrow batch shape, fixed-dim schema, and per-column
    layout (f0..f7 — arrays crash hash canonicalizers and lose pushdown) are
    the production pattern a real encoder drops into.
    """

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out: dict[str, list] = {"media_id": []}
            for i in range(FEATURE_DIM):
                out[f"f{i}"] = []
            for mid, payload in zip(b[id_col].astype(str), b[bin_col]):
                if payload is None:
                    continue
                digest = hashlib.sha256(payload).digest()
                out["media_id"].append(mid)
                for i in range(FEATURE_DIM):
                    out[f"f{i}"].append(round(digest[i] / 255.0, 6))
            yield pd.DataFrame(out)

    return df.mapInPandas(feats, schema=FEATURES_SCHEMA)
