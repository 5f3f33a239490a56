"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

kgre carries no image/audio codecs, so the *decode* step is a
deterministic fake — but the Spark-side plumbing is real and tested:
schemas, binary payload handling through Arrow batches, UDF signatures,
batch shapes, frame sampling.

Fake blob format (deterministic, self-describing):
    b'KGR1' | width:uint32be | height:uint32be | n_frames:uint32be | payload
payload = n_frames frames of (width*height) bytes each.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAGIC = b"KGR1"
HEADER_LEN = 4 + 4 + 4 + 4

BLOBS_SCHEMA = "doc_id long, media_type string, blob binary"
META_SCHEMA = ("doc_id long, media_type string, width int, height int, "
               "n_frames int, n_bytes long, valid boolean")


def encode_blob(width: int, height: int, n_frames: int, seed: int) -> bytes:
    """Deterministic fake media payload: byte i = (seed*131 + i*17) mod 256
    (a closed-form pattern any engine can reproduce, so frame-level
    features are oracle-checkable end-to-end)."""
    n = width * height * n_frames
    payload = ((seed * 131 + np.arange(n, dtype=np.int64) * 17) % 256
               ).astype(np.uint8).tobytes()
    return MAGIC + struct.pack(">III", width, height, n_frames) + payload


def blobs_from_documents(docs: DataFrame) -> DataFrame:
    """Derive a deterministic multimodal table from the documents table
    (doc_id decides dimensions/modality) — executor-side generation."""

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                mt = ["image", "audio", "video"][d % 3]
                w = 8 + d % 16
                h = 8 + (d // 3) % 16
                nf = 1 if mt == "image" else 1 + d % 5
                rows.append(
                    {"doc_id": d, "media_type": mt,
                     "blob": encode_blob(w, h, nf, d)}
                )
            yield pd.DataFrame(rows, columns=["doc_id", "media_type", "blob"])

    return docs.select("doc_id").mapInPandas(run, schema=BLOBS_SCHEMA)


def decode_metadata(blobs: DataFrame) -> DataFrame:
    """Parse the typed header out of the binary column (Arrow-batched)."""

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, mt, blob in zip(pdf["doc_id"], pdf["media_type"],
                                        pdf["blob"]):
                blob = bytes(blob)
                ok = blob[:4] == MAGIC and len(blob) >= HEADER_LEN
                if ok:
                    w, h, nf = struct.unpack(">III", blob[4:16])
                else:
                    w = h = nf = 0
                rows.append({"doc_id": doc_id, "media_type": mt, "width": w,
                             "height": h, "n_frames": nf,
                             "n_bytes": len(blob), "valid": ok})
            yield pd.DataFrame(rows, columns=["doc_id", "media_type", "width",
                                              "height", "n_frames", "n_bytes",
                                              "valid"])

    return blobs.mapInPandas(run, schema=META_SCHEMA)


def frame_sample(blobs: DataFrame, every_k: int = 2) -> DataFrame:
    """Sample every k-th frame of video blobs -> one row per sampled frame
    with a per-frame mean-intensity feature (the 'decode' is the fake
    byte-plane; the batching/explosion plumbing is the real thing)."""

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                blob = bytes(blob)
                if blob[:4] != MAGIC:
                    continue
                w, h, nf = struct.unpack(">III", blob[4:16])
                frame_sz = w * h
                for f in range(0, nf, every_k):
                    frame = np.frombuffer(
                        blob, dtype=np.uint8, count=frame_sz,
                        offset=HEADER_LEN + f * frame_sz,
                    )
                    rows.append({"doc_id": doc_id, "frame_idx": f,
                                 "mean_intensity": float(np.round(frame.mean(), 4))})
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx",
                                              "mean_intensity"])

    return blobs.filter(F.col("media_type") == "video").mapInPandas(
        run, schema="doc_id long, frame_idx int, mean_intensity double"
    )


def resize_frames(blobs: DataFrame, out_w: int = 4,
                  out_h: int = 4) -> DataFrame:
    """Nearest-neighbor resize of every video frame to (out_w, out_h) —
    REAL resize math on the byte-planes (only the codec decode is
    stubbed): out(y, x) = in((y*h)//out_h, (x*w)//out_w).  Emits the
    resized frame's mean so the result is oracle-checkable without
    shipping pixel arrays through the compare."""

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                blob = bytes(blob)
                if blob[:4] != MAGIC:
                    continue
                w, h, nf = struct.unpack(">III", blob[4:16])
                ys = (np.arange(out_h) * h) // out_h
                xs = (np.arange(out_w) * w) // out_w
                for f in range(nf):
                    frame = np.frombuffer(
                        blob, dtype=np.uint8, count=w * h,
                        offset=HEADER_LEN + f * w * h).reshape(h, w)
                    small = frame[np.ix_(ys, xs)]
                    rows.append({"doc_id": doc_id, "frame_idx": f,
                                 "out_mean": float(np.round(
                                     small.astype(np.float64).mean(), 4))})
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx",
                                              "out_mean"])

    return blobs.filter(F.col("media_type") == "video").mapInPandas(
        run, schema="doc_id long, frame_idx int, out_mean double")


def frame_features(blobs: DataFrame) -> DataFrame:
    """Per-frame feature extraction over the byte-planes: pixel count,
    mean, population variance (exact integer sums, so any engine
    reproduces it), min, max."""

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                blob = bytes(blob)
                if blob[:4] != MAGIC:
                    continue
                w, h, nf = struct.unpack(">III", blob[4:16])
                sz = w * h
                for f in range(nf):
                    fr = np.frombuffer(blob, dtype=np.uint8, count=sz,
                                       offset=HEADER_LEN + f * sz
                                       ).astype(np.int64)
                    s, s2 = int(fr.sum()), int((fr * fr).sum())
                    mean = s / sz
                    rows.append({
                        "doc_id": doc_id, "frame_idx": f,
                        "n_px": sz,
                        "mean_px": float(np.round(mean, 4)),
                        "var_px": float(np.round(s2 / sz - mean * mean, 4)),
                        "min_px": int(fr.min()), "max_px": int(fr.max()),
                    })
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "n_px",
                                              "mean_px", "var_px", "min_px",
                                              "max_px"])

    return blobs.mapInPandas(
        run, schema="doc_id long, frame_idx int, n_px int, mean_px double, "
                    "var_px double, min_px int, max_px int")
