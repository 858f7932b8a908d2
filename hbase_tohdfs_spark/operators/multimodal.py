"""Multimodal operators: each renders a media payload from a document's
text and decodes it in the same Arrow-batched ``mapInPandas`` pass, so
Python cost is amortized per batch, not per row, and the payload never
crosses the JVM/Python boundary (at real scale the render step is the
object-store fetch of a (uri, offset, length) pointer).

IMAGE, AUDIO, and VIDEO-FRAME decode are REAL: payloads are genuine
containers — 24-bit BMP (``formats/bmp.py``), 8-bit RGB PNG with full
five-filter DEFLATE scanlines (``formats/png.py``), GIF87a with palette
+ variable-width LZW (``formats/gif.py``), baseline AND progressive
JFIF/JPEG with Huffman entropy coding, IDCT, and chroma subsampling
(``formats/jpeg.py``), RIFF/WAVE PCM (``formats/wav.py``), and
concatenated-BMP frame sequences — the decoders parse headers, strides,
chunk lists, CRCs, filter predictors, entropy-coded scans, and frame
boundaries, then compute channel statistics from the actual payload
bytes.  The lossless formats (BMP/PNG/GIF) join the bit-exact DuckDB
pixel oracle in a mixed corpus; JPEG, being lossy, is verified by
round-trip error bounds and real-world interop tests instead.  Audio
mp3/aac remain unavailable (no codec libraries here): the WAV reader
rejects any format tag but PCM and G.711 with a ValueError.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hbase_tohdfs_spark.formats import bmp as bmpfmt
from hbase_tohdfs_spark.formats import gif as giffmt
from hbase_tohdfs_spark.formats import png as pngfmt
from hbase_tohdfs_spark.formats import wav as wavfmt

def _round_half_away(x: float, digits: int = 6) -> float:
    """SQL-style round (half away from zero).  Python's ``round`` is
    banker's (half to even) and its last digit can disagree with the
    DuckDB/Spark ``round`` on boundary values."""
    import math

    scale = 10.0**digits
    return math.floor(x * scale + 0.5) / scale if x >= 0 else -math.floor(
        -x * scale + 0.5
    ) / scale


def _synth_pixels(seed: bytes) -> tuple[int, int, list]:
    """THE pixel formula all three synthetic containers share — and the
    single thing every media oracle replays from ``md5(text)`` in SQL.
    Dimensions ``4 + d[0] % 13`` x ``4 + d[1] % 13``; pixel at logical
    index ``i = y*width + x`` is ``(d[(i+11)%16], d[(i+5)%16], d[i%16])``.
    One definition, three writers: a formula edit cannot silently
    diverge a third of the mixed corpus."""
    d = hashlib.md5(seed).digest()
    w = 4 + d[0] % 13
    h = 4 + d[1] % 13
    pixels = [
        [
            (d[(y * w + x + 11) % 16], d[(y * w + x + 5) % 16], d[(y * w + x) % 16])
            for x in range(w)
        ]
        for y in range(h)
    ]
    return w, h, pixels


def synth_bmp(seed: bytes) -> bytes:
    """Render the deterministic ``_synth_pixels`` grid as an
    uncompressed 24-bit BMP (see that helper for the oracle-replayed
    formula)."""
    return bmpfmt.write_bmp24(*_synth_pixels(seed))


def synth_png(seed: bytes) -> bytes:
    """The SAME ``_synth_pixels`` grid in a real PNG container —
    DEFLATE IDAT, cycled row filters, chunk CRCs.  One pixel formula,
    three containers: the oracle replays the formula and never sees
    bytes, so it verifies the PNG decode chain (inflate + unfilter)
    exactly as it verifies the BMP one."""
    return pngfmt.write_png(*_synth_pixels(seed))


def synth_gif(seed: bytes) -> bytes:
    """The SAME ``_synth_pixels`` grid in a real GIF87a container —
    palette extraction + genuine variable-width LZW compression.
    Images are <= 16x16 = 256 pixels, so they always fit GIF's
    256-color table."""
    return giffmt.write_gif(*_synth_pixels(seed))


def read_image(payload: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Container-dispatching image decode: sniff the magic bytes and
    route to the real BMP, PNG, GIF, or JPEG parser.  Returns (width,
    height, top-down RGB rows) either way — downstream features are
    container-agnostic, which is what lets one corpus mix formats."""
    payload = bytes(payload)
    if payload[:2] == b"BM":
        return bmpfmt.read_bmp24(payload)
    if payload[: len(pngfmt.SIGNATURE)] == pngfmt.SIGNATURE:
        return pngfmt.read_png(payload)
    if payload[:3] == b"GIF":
        return giffmt.read_gif(payload)
    if payload[:2] == b"\xff\xd8":
        from hbase_tohdfs_spark.formats import jpeg as jpegfmt

        return jpegfmt.read_jpeg(payload)
    raise ValueError(
        f"unsupported image container (magic {payload[:4]!r}); real "
        "codecs here: BMP, PNG, GIF, JPEG"
    )


def _render_image_payload(doc_id, text) -> tuple[bytes, str]:
    """The mixed-corpus image renderer at row grain: BMP / PNG / GIF by
    ``doc_id % 3``, so every run of the image operators exercises ALL
    THREE real decoders (stride/BGR, inflate+unfilter, palette+LZW) on
    a third of the corpus each; pixels follow one formula regardless of
    container (see synth_png / synth_gif).  The single definition shared
    by :func:`render_image_stages` and :func:`render_image_phash`, so
    their format mix cannot diverge."""
    renderers = (
        (synth_bmp, "image/bmp"),
        (synth_png, "image/png"),
        (synth_gif, "image/gif"),
    )
    render, mime = renderers[int(doc_id) % 3]
    return render(str(text).encode("utf-8")), mime


def decode_bmp(payload: bytes) -> dict:
    """REAL image decode: parse the BMP container (header, stride,
    bottom-up BGR rows) and compute per-channel means from the actual
    pixel bytes.  Means are in byte units (0..255), rounded to 6 for
    hash-stable oracle comparison."""
    w, h, rows = bmpfmt.read_bmp24(payload)
    n = w * h
    sums = [0, 0, 0]
    for row in rows:
        for r, g, b in row:
            sums[0] += r
            sums[1] += g
            sums[2] += b
    return {
        "width": w,
        "height": h,
        "channel_means": [_round_half_away(s / n, 6) for s in sums],
    }


def walk_stub_frames(payload: bytes, every: int, digest=None) -> list[tuple]:
    """THE stub container's frame walk — ``8 + md5(payload)[5] % 8``
    frames, every ``every``-th one "decoded" to
    ``md5(payload || ':' || idx)`` — as ``(n_frames, frame_idx,
    frame_md5)`` tuples — the per-row helper of
    :func:`blob_features_and_frames`, kept separate so the frame formula
    is written once, next to its docstring.  ``digest`` accepts an
    already-computed ``hashlib.md5(payload)`` so the fused pass keeps
    its one-digest-per-payload property."""
    if digest is None:
        digest = hashlib.md5(payload)
    n = 8 + digest.digest()[5] % 8
    return [
        (
            n,
            idx,
            hashlib.md5(payload + b":" + str(idx).encode()).hexdigest(),
        )
        for idx in range(0, n, every)
    ]


# ----------------------------------------------------------------- audio
AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("channel_rms", T.ArrayType(T.DoubleType())),
    ]
)


def synth_wav(seed: bytes, sample_rate: int = 8000) -> bytes:
    """Render a deterministic PCM WAV from ``md5(seed)``: channel count
    ``1 + d[2] % 2``, length ``64 + d[3] % 64`` samples, and sample
    ``(i, c) = d[(i + 5c + 7) % 16] * 257 - 32768`` (exact int16).  The
    DuckDB oracle replays this formula; the Spark side only ever parses
    the RIFF container."""
    d = hashlib.md5(seed).digest()
    n_ch = 1 + d[2] % 2
    n_samples = 64 + d[3] % 64
    channels = [
        [d[(i + 5 * c + 7) % 16] * 257 - 32768 for i in range(n_samples)]
        for c in range(n_ch)
    ]
    return wavfmt.write_wav16(sample_rate, channels)


def decode_wav(payload: bytes) -> dict:
    """REAL audio decode: walk the RIFF chunks, parse interleaved
    samples (PCM16 or G.711 mu-law/A-law, dispatched on the fmt tag),
    and compute per-channel RMS from the actual decoded waveform
    (rounded to 6 for hash-stable oracle comparison).  The oracle
    corpus is PCM (bit-exact replay); companded payloads flow through
    the identical feature path via the standard expansion tables."""
    import math

    rate, n_ch, chans = wavfmt.read_wav_any(payload)
    n = len(chans[0])
    return {
        "sample_rate": rate,
        "n_channels": n_ch,
        "n_samples": n,
        "channel_rms": [
            _round_half_away(math.sqrt(sum(s * s for s in ch) / n), 6)
            for ch in chans
        ],
    }


def render_audio_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Fused render + RIFF/PCM decode + RMS in ONE Arrow-batched pass
    (same rationale as :func:`render_image_stages`).  Measured against
    the r11 two-pass render-then-decode form, sf0.1 interleaved
    min-of-3: media_audio_pipeline 1.23s -> 0.68s = 1.81x."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_wav(synth_wav(str(t).encode("utf-8")))
                for t in pdf[text_col]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": [f["sample_rate"] for f in feats],
                    "n_channels": [f["n_channels"] for f in feats],
                    "n_samples": [f["n_samples"] for f in feats],
                    "channel_rms": [f["channel_rms"] for f in feats],
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(run, AUDIO_FEATURE_SCHEMA)


IMAGE_STAGES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("stage", T.StringType()),
        T.StructField("src_width", T.IntegerType()),
        T.StructField("src_height", T.IntegerType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
        T.StructField("channel_means", T.ArrayType(T.DoubleType())),
    ]
)


def _decode_resize_stage_rows(
    payload: bytes, target_w: int, target_h: int
) -> list[tuple]:
    """Per-payload decode+resize: parse the container ONCE, return both
    stage rows as ``(stage, src_w, src_h, out_w, out_h, channel_means)``
    tuples — the per-row helper of :func:`render_image_stages`."""
    w, h, rows = read_image(payload)
    n = w * h
    dec = [0, 0, 0]
    for row in rows:
        for r, g, bl in row:
            dec[0] += r
            dec[1] += g
            dec[2] += bl
    rs = [0, 0, 0]
    for ty in range(target_h):
        sy = (ty * h) // target_h
        for tx in range(target_w):
            sx = (tx * w) // target_w
            r, g, bl = rows[sy][sx]
            rs[0] += r
            rs[1] += g
            rs[2] += bl
    return [
        (stage, w, h, ow, oh, [_round_half_away(s / cnt, 6) for s in sums])
        for stage, ow, oh, sums, cnt in (
            ("decode", w, h, dec, n),
            ("resize", target_w, target_h, rs, target_w * target_h),
        )
    ]


def _image_stages_batch_fn(target_w: int, target_h: int, text_col: str = "text"):
    """Batch loop of :func:`render_image_stages`: the input batches carry
    (doc_id, ``text_col``) and each payload is rendered and decoded in
    the same pass (``text_col`` must match the caller's selected column —
    ADVICE r12: a hardcoded "text" broke every non-default column at
    execution time)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "stage": [], "src_width": [], "src_height": [],
                "out_width": [], "out_height": [], "channel_means": [],
            }
            for doc_id, t in zip(pdf["doc_id"], pdf[text_col]):
                payload = _render_image_payload(doc_id, t)[0]
                for stage, sw, sh, ow, oh, means in _decode_resize_stage_rows(
                    payload, target_w, target_h
                ):
                    out["doc_id"].append(doc_id)
                    out["stage"].append(stage)
                    out["src_width"].append(sw)
                    out["src_height"].append(sh)
                    out["out_width"].append(ow)
                    out["out_height"].append(oh)
                    out["channel_means"].append(means)
            yield pd.DataFrame(out)

    return run


def render_image_stages(
    docs: DataFrame, target_w: int = 8, target_h: int = 8, text_col: str = "text"
) -> DataFrame:
    """Fused render + decode + resize in ONE Arrow-batched pass.

    The r11 staged form (render, then decode + resize) was two
    back-to-back ``mapInPandas`` stages, so every blob crossed
    the JVM/Python boundary three times (render out, decode in, result
    out) purely to move between two Python functions.  At real scale the
    render stage is the object-store fetch — and fetch+decode belong in
    the same task so the payload is materialized exactly once and never
    re-serialized (optimization guide §4/§8: the fingerprint pass is the
    only place the body is ever decoded).  Measured on the sf0.1 bench
    (interleaved min-of-3, identical rows): media_image_pipeline
    1.95s -> 1.27s = 1.54x; plan shape 2 MapInPandas -> 1."""
    return docs.select("doc_id", text_col).mapInPandas(
        _image_stages_batch_fn(target_w, target_h, text_col=text_col),
        IMAGE_STAGES_SCHEMA,
    )


# ------------------------------------------------------------ video frames
VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channel_means", T.ArrayType(T.DoubleType())),
    ]
)


def synth_bmp_sequence(seed: bytes) -> bytes:
    """A deterministic "video": ``4 + d[2] % 5`` complete BMP frames
    back-to-back, frame ``f`` rendered by ``synth_bmp(seed + b':' + f)``.
    Concatenated BMPs are walkable because each header carries its own
    file size — the parser must actually read headers to find frame
    boundaries."""
    d = hashlib.md5(seed).digest()
    n_frames = 4 + d[2] % 5
    return b"".join(
        synth_bmp(seed + b":" + str(f).encode()) for f in range(n_frames)
    )


def sample_bmp_frames(payload: bytes, every: int = 2) -> list[dict]:
    """REAL frame sampling: walk the BMP sequence by each frame's
    self-declared file size, fully decode every ``every``-th frame, and
    report its dimensions + channel means.  Skipped frames are skipped
    cheaply (header read only) — the shape a real ffmpeg-based sampler
    has."""
    import struct as _struct

    payload = bytes(payload)
    offsets = []
    pos = 0
    while pos < len(payload):
        if payload[pos : pos + 2] != b"BM":
            raise ValueError(f"bad frame boundary at byte {pos}")
        fsize = _struct.unpack_from("<I", payload, pos + 2)[0]
        offsets.append((pos, fsize))
        pos += fsize
    out = []
    for idx in range(0, len(offsets), every):
        start, fsize = offsets[idx]
        feats = decode_bmp(payload[start : start + fsize])
        out.append(
            {
                "n_frames": len(offsets),
                "frame_idx": idx,
                "width": feats["width"],
                "height": feats["height"],
                "channel_means": feats["channel_means"],
            }
        )
    return out


def render_video_frames(
    docs: DataFrame, every: int = 2, text_col: str = "text"
) -> DataFrame:
    """Fused render + frame-walk + per-frame decode in ONE Arrow-batched
    pass.  Video payloads are the largest blobs in the media family, so
    the r11 two-pass form's extra JVM round-trip of the full BMP sequence
    cost the most here.  Measured sf0.1 interleaved min-of-3:
    media_video_pipeline 3.33s -> 1.36s = 2.44x."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "n_frames": [], "frame_idx": [],
                "width": [], "height": [], "channel_means": [],
            }
            for doc_id, t in zip(pdf["doc_id"], pdf[text_col]):
                payload = synth_bmp_sequence(str(t).encode("utf-8"))
                for f in sample_bmp_frames(payload, every):
                    out["doc_id"].append(doc_id)
                    out["n_frames"].append(f["n_frames"])
                    out["frame_idx"].append(f["frame_idx"])
                    out["width"].append(f["width"])
                    out["height"].append(f["height"])
                    out["channel_means"].append(f["channel_means"])
            yield pd.DataFrame(out)

    return docs.select("doc_id", text_col).mapInPandas(run, VIDEO_FRAME_SCHEMA)


#: output shape of :func:`blob_features_and_frames` — the union of the
#: feature grain and the frame grain, NULL-padded per kind.
MULTIMODAL_UNION_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("head_hex", T.StringType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)


def blob_features_and_frames(
    docs: DataFrame, every: int = 4, text_col: str = "text"
) -> DataFrame:
    """Fused payload features + sampled frames in ONE Arrow-batched pass.

    The r11 staged form (a features pass UNION a frames pass over the
    same payloads) scanned the corpus twice and ran two Python stages,
    each re-materializing every payload AND re-computing the same md5
    digest.  One pass computes the digest once per payload and
    emits both grains NULL-padded into the union shape the pipeline
    query returns anyway.  Measured sf0.1 interleaved min-of-4,
    identical rows: multimodal_pipeline 1.67s -> 1.01s = 1.66x; plan
    shape 2 scans + 2 MapInPandas -> 1 + 1."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {f.name: [] for f in MULTIMODAL_UNION_SCHEMA.fields}
            for doc_id, t in zip(pdf["doc_id"], pdf[text_col]):
                # NULL text (ADVICE r12): match the DuckDB oracle, whose
                # md5(NULL) is NULL — a str(None) payload would
                # fabricate b"None" rows.  Features row with NULL
                # payload columns, no frames (the oracle's
                # generate_series over a NULL n_frames emits nothing).
                if t is None or (isinstance(t, float) and t != t):
                    out["doc_id"].append(doc_id)
                    out["kind"].append("features")
                    for col in (
                        "n_bytes", "content_md5", "head_hex",
                        "n_frames", "frame_idx", "frame_md5",
                    ):
                        out[col].append(None)
                    continue
                payload = str(t).encode("utf-8")
                digest = hashlib.md5(payload)
                out["doc_id"].append(doc_id)
                out["kind"].append("features")
                out["n_bytes"].append(len(payload))
                out["content_md5"].append(digest.hexdigest())
                out["head_hex"].append(payload[:8].hex())
                out["n_frames"].append(None)
                out["frame_idx"].append(None)
                out["frame_md5"].append(None)
                for n, idx, fmd5 in walk_stub_frames(payload, every, digest):
                    out["doc_id"].append(doc_id)
                    out["kind"].append("frame")
                    out["n_bytes"].append(None)
                    out["content_md5"].append(None)
                    out["head_hex"].append(None)
                    out["n_frames"].append(n)
                    out["frame_idx"].append(idx)
                    out["frame_md5"].append(fmd5)
            pdf_out = pd.DataFrame(out)
            # mixed None/int columns land as object dtype; pin the
            # nullable Arrow-compatible dtypes the schema declares
            pdf_out["n_bytes"] = pdf_out["n_bytes"].astype("Int64")
            pdf_out["n_frames"] = pdf_out["n_frames"].astype("Int32")
            pdf_out["frame_idx"] = pdf_out["frame_idx"].astype("Int32")
            yield pdf_out

    return docs.select("doc_id", text_col).mapInPandas(
        run, MULTIMODAL_UNION_SCHEMA
    )


# --------------------------------------------------------- perceptual hash
PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.StringType()),
    ]
)


def compute_phash(payload: bytes) -> str:
    """64-bit average-hash (aHash) of an image payload (BMP/PNG/GIF/
    JPEG, magic-dispatched): decode, grayscale ((r+g+b)//3),
    nearest-neighbor
    resample to 8x8, threshold each cell against the 8x8 mean, pack
    MSB-first into 16 hex chars.

    The threshold compares ``gray * 64 >= sum(grays)`` — pure integer
    arithmetic, so the bit pattern is exactly reproducible in SQL (a
    float mean would put boundary cells at the mercy of rounding).
    """
    w, h, rows = read_image(bytes(payload))
    grays = []
    for ty in range(8):
        sy = (ty * h) // 8
        for tx in range(8):
            sx = (tx * w) // 8
            r, g, b = rows[sy][sx]
            grays.append((r + g + b) // 3)
    total = sum(grays)
    v = 0
    for g in grays:
        v = (v << 1) | (1 if g * 64 >= total else 0)
    return f"{v:016x}"


def render_image_phash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Fused render + aHash in ONE Arrow-batched pass (same rationale as
    :func:`render_image_stages`): the fingerprint half of image near-dup
    detection (hamming distance on these 64-bit hashes is the standard
    first-pass image dedup at corpus scale; grouping equal hashes
    catches exact and near-exact re-encodes).  Measured against the r11
    two-pass form, sf0.1 interleaved min-of-3: image_phash 1.24s ->
    1.00s = 1.24x."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": [
                        compute_phash(_render_image_payload(d, t)[0])
                        for d, t in zip(pdf["doc_id"], pdf[text_col])
                    ],
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(run, PHASH_SCHEMA)


def phash_dup_groups(phashes: DataFrame) -> DataFrame:
    """Exact-phash duplicate groups: images whose 64-bit aHash collides
    are (near-)identical up to aHash's tolerance.  One keyed shuffle on
    the 16-char hash — the image twin of exact text dedup."""
    return (
        phashes.groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("phash")
    )
