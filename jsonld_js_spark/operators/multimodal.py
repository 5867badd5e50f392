"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio ride through the engine as ``binary`` columns with a mime
column; decode and feature-extract are Arrow-batched Pandas stages
over ``mapInPandas``.

Decode status in this container (no PIL/libvips/ffmpeg):
- PNG and 16-bit PCM WAV decode is REAL — pure-stdlib implementations
  in operators/codecs.py (zlib inflate + all five PNG row filters;
  RIFF framing via the ``wave`` module), exercised end-to-end by the
  oracle-checked ``mm_decode_features`` driver query.
- formats that require native codecs (JPEG, MP3, H.264, ...) are not
  decoded: ``extract_media_features`` leaves their feature columns
  null, and ``extract_binary_features`` keeps the clearly-marked
  deterministic fake for arbitrary payloads so the batching/schema
  plumbing stays testable on any input.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame

from .codecs import decode_png, decode_wav

FEATURE_SCHEMA = "doc_id long, n_bytes long, fake_width long, fake_height long"

MEDIA_SCHEMA = ("doc_id long, kind string, width long, height long, "
                "channels long, sample_rate long, n_samples long, "
                "value_sum long, n_values long")


def extract_media_features(df: DataFrame) -> DataFrame:
    """df(doc_id, payload binary, mime) -> REAL decoded features, one
    Arrow batch in / one out. PNG rows fill (width, height, channels)
    and the pixel sum; WAV rows fill (sample_rate, n_samples) and the
    absolute-amplitude sum; value_sum/n_values make exact means
    cross-engine checkable without floats."""
    import pandas as pd

    def one(doc_id, payload, mime):
        base = {"doc_id": doc_id, "kind": None, "width": None,
                "height": None, "channels": None, "sample_rate": None,
                "n_samples": None, "value_sum": None, "n_values": None}
        if payload is None:
            return base
        if mime == "image/png":
            d = decode_png(bytes(payload))
            base.update(kind="image", width=d["width"], height=d["height"],
                        channels=d["channels"], value_sum=d["pixel_sum"],
                        n_values=d["n_pixels"] * d["channels"])
        elif mime in ("audio/wav", "audio/x-wav"):
            d = decode_wav(bytes(payload))
            base.update(kind="audio", sample_rate=d["sample_rate"],
                        n_samples=d["n_samples"], value_sum=d["abs_sum"],
                        n_values=d["n_samples"])
        return base

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = [one(r.doc_id, r.payload, r.mime)
                    for r in pdf.itertuples(index=False)]
            out = pd.DataFrame(rows, columns=[
                "doc_id", "kind", "width", "height", "channels",
                "sample_rate", "n_samples", "value_sum", "n_values"])
            yield out

    return df.mapInPandas(run, schema=MEDIA_SCHEMA)


def _fake_dims(n_bytes: int) -> tuple[int, int]:
    """DETERMINISTIC FAKE standing in for decode+measure of payloads in
    formats the stdlib codecs cannot decode."""
    return n_bytes % 640, n_bytes % 480


def extract_binary_features(df: DataFrame) -> DataFrame:
    """df(doc_id, payload binary, mime) -> per-payload features.

    The batch loop is the exact shape a real decoder uses: payloads
    arrive as one Arrow record batch, features leave as one — no
    per-row Python round-trips through the JVM.
    """
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            n_bytes = pdf["payload"].map(lambda b: len(b) if b is not None else 0)
            dims = n_bytes.map(_fake_dims)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes.astype("int64"),
                "fake_width": dims.map(lambda d: d[0]).astype("int64"),
                "fake_height": dims.map(lambda d: d[1]).astype("int64"),
            })

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


def synthesize_media_payloads(docs: DataFrame) -> DataFrame:
    """Deterministic REAL media payloads from doc ids (test/bench
    corpus for the decode path): even ids get a grayscale PNG
    (w=8+id%16, h=8+(3*id)%16, every pixel id%256), odd ids a mono
    16-bit WAV (rate=8000+(id%3)*4000, n=64+id%32 samples alternating
    +/-(1+id%1000)) — every decoded feature is pure arithmetic on the
    id, so an independent SQL oracle can check real decoding
    end-to-end. Payload BYTES are built per batch in Arrow."""
    import pandas as pd

    from .codecs import encode_png_gray, encode_wav_pcm16

    def build(i: int):
        if i % 2 == 0:
            return (encode_png_gray(8 + i % 16, 8 + (3 * i) % 16, i % 256),
                    "image/png")
        a = 1 + i % 1000
        n = 64 + i % 32
        samples = [a if k % 2 == 0 else -a for k in range(n)]
        return (encode_wav_pcm16(8000 + (i % 3) * 4000, samples),
                "audio/wav")

    def run(batches):
        for pdf in batches:
            built = [build(int(i)) for i in pdf["doc_id"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "payload": [b for b, _ in built],
                "mime": [m for _, m in built]})

    return (docs.select("doc_id")
            .mapInPandas(run, schema="doc_id long, payload binary, mime string"))
