"""Multimodal column operators (extension tier).

Treats image/audio/video payloads as opaque ``binary`` columns with a
typed metadata struct, and implements decode / feature-extraction /
frame-sampling as Arrow-batched ``mapInPandas`` operators.

Decode modes:
- ``decode="fake"`` (default): deterministic features from the bytes
  themselves — real Spark plumbing (schema, batching, partitioning)
  with a stand-in kernel; works for any payload.
- ``decode="real"``: TRUE decode for PPM(P6)/BMP/PNG/baseline-JPEG
  images, PCM WAV audio, and animated-GIF video via the in-repo
  pure-Python codecs (``operators.codecs``) — actual pixel statistics,
  PCM sample stats, and per-frame means.
  Formats needing a real codec library (progressive/subsampled JPEG,
  MP4/WebM, MP3 *audio decode*) raise at the call site; MP3 stream
  STRUCTURE (duration/bitrate/channels, r11: ``mp3_stream_stats``)
  parses for real via the header walk in ``codecs.parse_mp3_frames``.
- ``decode="strict"``: raises NotImplementedError where PIL/ffmpeg
  would plug in.

Schema contract:
    media(media_id long, kind string, payload binary,
          meta struct<width:int, height:int, n_frames:int,
                      sample_rate:int, format:string>)
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, n_frames:int, sample_rate:int, format:string>"
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, "
    "mean_byte double, feature array<double>"
)

def fake_media_from_documents(docs: DataFrame) -> DataFrame:
    """Derive a deterministic fake media table from the documents table
    (text bytes as payload) — exercises the real binary-column
    plumbing without shipping binary fixtures."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            (F.col("doc_id") % 64 + 16).cast("int").alias("width"),
            (F.col("doc_id") % 48 + 16).cast("int").alias("height"),
            (F.col("doc_id") % 10 + 1).cast("int").alias("n_frames"),
            F.lit(16000).cast("int").alias("sample_rate"),
            F.lit("fake").alias("format"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes) -> list[float]:
    # Deterministic stand-in for codec output: 4 byte-statistics.
    if not payload:
        return [0.0, 0.0, 0.0, 0.0]
    n = len(payload)
    s = sum(payload)
    return [float(n), s / n, float(payload[0]), float(payload[-1])]


def extract_features(df: DataFrame, decode: str = "fake") -> DataFrame:
    """Decode + featurize each media payload via mapInPandas (Arrow
    batches; one python worker per partition — scales with executors).

    decode="fake": deterministic byte statistics (no codec needed).
    decode="real": PPM/BMP pixel decode — feature = [width, height,
    mean_R, mean_G, mean_B]; mean_byte = mean pixel value. WAV audio
    decode (stdlib wave, codecs.decode_wav) — feature = [sample_rate,
    n_frames, duration_sec, rms, peak] over the PCM samples;
    mean_byte = mean sample. Other kinds keep the byte-stats feature.
    decode="strict": NotImplementedError at the codec call site —
    marks exactly where PIL/soundfile/ffmpeg plug in.
    """

    def op(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats, means, sizes = [], [], []
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                if decode == "strict":
                    raise NotImplementedError(
                        "real media decode requires PIL/soundfile/ffmpeg "
                        "(not in this container) — use decode='fake'"
                    )
                b = bytes(payload) if payload is not None else b""
                if decode == "real" and kind == "image":
                    from .codecs import decode_image

                    px = decode_image(b)
                    h, w, _ = px.shape
                    cm = px.reshape(-1, 3).mean(axis=0)
                    f = [float(w), float(h), *map(float, cm)]
                    feats.append(f)
                    sizes.append(len(b))
                    means.append(float(px.mean()))
                elif decode == "real" and kind == "audio":
                    import numpy as np

                    from .codecs import decode_wav

                    rate, samples = decode_wav(b)
                    x = samples.astype(np.float64)
                    feats.append(
                        [
                            float(rate),
                            float(samples.shape[0]),
                            samples.shape[0] / rate,
                            float(np.sqrt((x**2).mean())) if len(x) else 0.0,
                            float(np.abs(x).max()) if len(x) else 0.0,
                        ]
                    )
                    sizes.append(len(b))
                    means.append(float(x.mean()) if len(x) else 0.0)
                elif decode == "real" and kind == "video":
                    # animated GIF: the one multi-frame container
                    # decodable with zero external libs (codecs.decode_gif
                    # — full GIF-LZW). feature = [width, height,
                    # n_frames, mean_R, mean_G, mean_B] over ALL frames.
                    from .codecs import decode_gif

                    fr = decode_gif(b)
                    nfr, h, w, _ = fr.shape
                    cm = fr.reshape(-1, 3).mean(axis=0)
                    feats.append(
                        [float(w), float(h), float(nfr), *map(float, cm)]
                    )
                    sizes.append(len(b))
                    means.append(float(fr.mean()))
                else:
                    f = _fake_decode(b)
                    feats.append(f)
                    sizes.append(len(b))
                    means.append(f[1])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": sizes,
                    "mean_byte": means,
                    "feature": feats,
                }
            )

    return df.mapInPandas(op, schema=FEATURE_SCHEMA)


def gif_frame_stats(df: DataFrame) -> DataFrame:
    """REAL per-frame decode for video-kind payloads: run each animated
    GIF through ``codecs.decode_gif`` (pure-Python GIF-LZW) and emit one
    row per frame with its channel means — the actual frame-extraction
    step ``sample_frames`` only plans (metadata-level). Arrow
    ``mapInPandas``: one worker per partition, payload bytes never
    shuffle; downstream per-frame featurization (dedup hashing, quality
    screens) joins on (media_id, frame_idx)."""
    import pandas as pd

    def op(batches: Iterator) -> Iterator:
        from .codecs import decode_gif

        for pdf in batches:
            ids, idxs, mr, mg, mb = [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = decode_gif(bytes(payload))
                for i, fr in enumerate(frames):
                    cm = fr.reshape(-1, 3).mean(axis=0)
                    ids.append(mid)
                    idxs.append(i)
                    mr.append(float(cm[0]))
                    mg.append(float(cm[1]))
                    mb.append(float(cm[2]))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": idxs,
                    "mean_r": mr,
                    "mean_g": mg,
                    "mean_b": mb,
                }
            )

    return df.mapInPandas(
        op,
        schema=(
            "media_id long, frame_idx int, "
            "mean_r double, mean_g double, mean_b double"
        ),
    )


def sample_frames(df: DataFrame, every_k: int = 2) -> DataFrame:
    """Frame sampling for video rows — a pure metadata/array operator
    (no decode): emit (media_id, frame_idx) for every k-th frame."""
    return (
        df.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.expr(f"sequence(0, meta.n_frames - 1, {every_k})")
            ).alias("frame_idx"),
        )
    )


def mp3_stream_stats(df: DataFrame) -> DataFrame:
    """MP3 stream structure stats WITHOUT audio decode (r11): run each
    payload through ``codecs.parse_mp3_frames`` (frame-header walk —
    duration, per-frame bitrates, channel mode, ID3 tags) and emit one
    row per stream. This is the corpus-triage step a 100 TB audio
    pipeline runs FIRST — duration/bitrate/VBR histograms, mono/stereo
    split, sample-rate inventory — and it needs only the 4-byte frame
    headers, so the expensive full PCM decode (the remaining
    documented real-codec boundary) is deferred to the rows a filter
    actually keeps. Arrow ``mapInPandas``; payload bytes never
    shuffle; duration is recomputed as n_frames·samples_per_frame/rate
    (exact — the parser rejects mid-stream rate changes) so the value
    is reproducible from the emitted columns alone."""
    import pandas as pd

    def op(batches: Iterator) -> Iterator:
        from .codecs import parse_mp3_frames

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                m = parse_mp3_frames(bytes(payload))
                rows.append(
                    {
                        "media_id": mid,
                        "n_frames": m["n_frames"],
                        "sample_rate": m["sample_rate"],
                        "channels": m["channels"],
                        "has_id3v2": m["has_id3v2"],
                        # raw f64 (n*spf exact int, one division) — no
                        # Python round() here: banker's rounding differs
                        # from SQL ROUND at halfway points, so consumers
                        # that hash-compare apply F.round themselves
                        "duration_sec": m["n_frames"]
                        * m["samples_per_frame"]
                        / m["sample_rate"],
                        "total_kbps": sum(m["kbps"]),
                        "is_vbr": len(set(m["kbps"])) > 1,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_frames",
                    "sample_rate",
                    "channels",
                    "has_id3v2",
                    "duration_sec",
                    "total_kbps",
                    "is_vbr",
                ],
            )

    return df.mapInPandas(
        op,
        schema=(
            "media_id long, n_frames int, sample_rate int, channels int, "
            "has_id3v2 boolean, duration_sec double, total_kbps long, "
            "is_vbr boolean"
        ),
    )
