"""Multimodal columns: images/audio/video as opaque binary + metadata.

The pattern a 100 TB multimodal pipeline needs: payloads travel as
``binary`` columns with typed metadata beside them; decode/feature
steps are Arrow-batched ``mapInPandas`` stages so bytes never cross the
Python boundary row-at-a-time.

The actual codecs (PIL/librosa/ffmpeg) are NOT in this container, so
the decode kernel is stubbed (deterministic fake features, clearly
marked) — but the Spark-side plumbing is real and tested: schema,
batch iteration, partition-parallel execution, metadata passthrough.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feat_mean", DoubleType()),
        StructField("feat_dim", LongType()),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Treat document text as an opaque payload — the binary-column
    plumbing is identical for real image/audio bytes."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text/plain").alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.octet_length(F.encode(F.col("text"), "UTF-8")).cast("long").alias("n_bytes"),
        F.col("source"),
    )


def _decode_stub(payload: bytes) -> list[float]:
    """STUB decode kernel. A real pipeline would decode image/audio here
    (PIL.Image.open / librosa.load — not installed in this container).
    Deterministic fake: byte-value histogram moments."""
    if not payload:
        return [0.0, 0.0]
    total = sum(payload)
    return [total / len(payload) / 255.0, float(len(payload))]


def pil_available() -> bool:
    """Feature-detect a real image codec. The container this engine is
    developed in ships none; if PIL ever lands, extract_features can
    opt into it with decoder='pil'/'auto' without code changes."""
    try:
        import PIL.Image  # noqa: F401
    except Exception:
        return False
    return True


def _decode_pil(payload: bytes) -> list[float]:
    """Real codec kernel (used only when PIL is importable): decode to
    grayscale, same (mean-intensity, size) feature shape as the stub —
    mean over DECODED pixels instead of raw compressed bytes."""
    if not payload:
        return [0.0, 0.0]
    import io

    import numpy as np
    from PIL import Image

    img = Image.open(io.BytesIO(payload)).convert("L")
    a = np.asarray(img, dtype=np.float64)
    return [float(a.mean() / 255.0), float(a.size)]


def extract_features(
    media: DataFrame, batch_hint: int = 1024, decoder: str = "stub"
) -> DataFrame:
    """Arrow-batched feature extraction over the payload column.

    mapInPandas: each executor processes whole Arrow batches; the
    kernel is where a real decoder plugs in. ``decoder``: 'stub' (the
    deterministic byte-moment fake — the DEFAULT, because the oracle
    registry pins its exact values), 'pil' (real image decode; raises
    the declared codec-gap error when PIL is absent), or 'auto'
    (feature-detect on the driver: pil when importable, stub
    otherwise). Partitioning: inherits the upstream layout —
    repartition by size class upstream if payload sizes are skewed.
    """
    if decoder == "auto":
        decoder = "pil" if pil_available() else "stub"
    if decoder == "pil" and not pil_available():
        raise NotImplementedError(
            "decoder='pil' needs PIL, which this container does not "
            "ship — the declared compressed-codec gap; use 'stub'/'auto'"
        )
    if decoder not in ("pil", "stub"):
        raise ValueError(f"unknown decoder {decoder!r}")
    decode = _decode_pil if decoder == "pil" else _decode_stub

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(lambda p: decode(bytes(p) if p is not None else b""))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "feat_mean": feats.map(lambda v: v[0]),
                    "feat_dim": feats.map(lambda v: float(len(v))).astype("int64"),
                }
            )

    return media.mapInPandas(kernel, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_payload", BinaryType()),
        StructField("frame_bytes", LongType()),
    ]
)


def sample_frames(media: DataFrame, every_n_bytes: int = 256, max_frames: int = 8) -> DataFrame:
    """Frame sampling: one input row expands to N frame rows (the
    video→frames UDTF shape). The STUB 'codec' slices the payload into
    fixed windows — a real pipeline swaps in ffmpeg keyframe extraction;
    the Spark contract (mapInPandas 1→N expansion, schema, ordering
    column) is exactly what production needs.

    Scale: output multiplicity is bounded (max_frames) so task output
    stays proportional to input; downstream repartitions on media_id if
    frames feed a per-media aggregation."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "frame_idx": [], "frame_payload": [], "frame_bytes": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                for idx in range(min(max_frames, max(1, (len(raw) + every_n_bytes - 1) // every_n_bytes))):
                    frame = raw[idx * every_n_bytes : (idx + 1) * every_n_bytes]
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["frame_payload"].append(frame)
                    out["frame_bytes"].append(len(frame))
            yield pd.DataFrame(out)

    return media.mapInPandas(kernel, schema=FRAME_SCHEMA)


RAW_IMAGE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def synthesize_rgb_images(docs: DataFrame) -> DataFrame:
    """Raw-RGB fixture relation for the resize operator (the same
    injection discipline as synthesize_image_headers: the corpus has no
    images, so byte-predictable ones are synthesized in the query
    path). Dims derive from media_id (W = 8 + id % 9, H = 8 + id % 5);
    pixel (y, x, c) = (id + 7y + 13x + 31c) mod 256 — every byte of the
    payload is arithmetically predictable, so any downstream transform
    has a full value oracle. Payloads are built as a numpy broadcast in
    an Arrow-batched kernel (a ~576-byte variable pixel grid is past
    what SQL hex assembly can express readably)."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 8 + mid % 9, 8 + mid % 5
                yy, xx, cc = np.ogrid[0:h, 0:w, 0:3]
                arr = ((mid + 7 * yy + 13 * xx + 31 * cc) % 256).astype(np.uint8)
                rows.append((mid, w, h, arr.tobytes()))
            yield pd.DataFrame(rows, columns=["media_id", "width", "height", "payload"])

    return docs.selectExpr("doc_id AS media_id").mapInPandas(kernel, RAW_IMAGE_SCHEMA)


def resize_nearest(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """PIL-free image resize: nearest-neighbor over raw interleaved-RGB
    payloads, vectorized numpy inside an Arrow-batched mapInPandas —
    the codec-free half of the resize stage (decode of compressed
    formats still needs a codec lib; see extract_features' stub note).
    Source index mapping is the floor convention sy = y'·H div h',
    sx = x'·W div w' (top-left anchored, matching OpenCV's
    INTER_NEAREST grid rather than PIL's half-pixel-center one — pinned
    here because the value oracle reproduces it arithmetically).

    Scale: per-row work is O(out_w·out_h), no shuffle introduced; the
    operator inherits upstream partitioning, so a 100 TB image table
    resizes embarrassingly parallel."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, w, h, payload in zip(
                pdf["media_id"], pdf["width"], pdf["height"], pdf["payload"]
            ):
                w, h = int(w), int(h)
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                if arr.size != w * h * 3:
                    continue  # quarantine malformed payloads, like the sniffers
                arr = arr.reshape(h, w, 3)
                idx_y = (np.arange(out_h) * h) // out_h
                idx_x = (np.arange(out_w) * w) // out_w
                out = arr[idx_y][:, idx_x]
                rows.append((int(mid), out_w, out_h, out.tobytes()))
            yield pd.DataFrame(rows, columns=["media_id", "width", "height", "payload"])

    return media.mapInPandas(kernel, RAW_IMAGE_SCHEMA)


RESIZE_PROBE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("out_w", LongType()),
        StructField("out_h", LongType()),
        StructField("out_bytes", LongType()),
        StructField("p_tl", LongType()),
        StructField("p_mid", LongType()),
        StructField("p_br", LongType()),
        StructField("row1_sum", LongType()),
    ]
)


def probe_resized(media: DataFrame) -> DataFrame:
    """Value probes over ACTUAL resized bytes (corner/center pixels +
    the full channel sum of output row 1): with the synthesized pixel
    function and the pinned index mapping, each probe is predictable in
    closed form — the oracle recomputes them arithmetically, so the
    whole generate→resize→probe pipeline is value-checked end to end."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, w, h, payload in zip(
                pdf["media_id"], pdf["width"], pdf["height"], pdf["payload"]
            ):
                w, h = int(w), int(h)
                arr = np.frombuffer(bytes(payload), dtype=np.uint8).reshape(h, w, 3)
                rows.append(
                    (
                        int(mid), w, h, arr.size,
                        int(arr[0, 0, 0]),
                        int(arr[h // 2, w // 2, 1]),
                        int(arr[h - 1, w - 1, 2]),
                        int(arr[1, :, :].sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZE_PROBE_SCHEMA.fields])

    return media.mapInPandas(kernel, RESIZE_PROBE_SCHEMA)


def resize_probe_oracle(out_w: int, out_h: int) -> str:
    """DuckDB twin of synthesize_rgb_images → resize_nearest(out_w,
    out_h) → probe_resized: every probe from the pixel function and the
    floor index mapping, no image bytes involved."""
    px = "({mid} + 7 * (({y} * h) // {oh}) + 13 * (({x} * w) // {ow}) + 31 * {c}) % 256"

    def p(y: str, x: str, c: str) -> str:
        return px.format(mid="d.media_id", y=y, x=x, c=c, oh=out_h, ow=out_w)

    row1 = px.format(mid="d.media_id", y="1", x="t.x", c="u.c", oh=out_h, ow=out_w)
    return f"""
WITH d AS (
  SELECT doc_id AS media_id,
         8 + doc_id % 9 AS w, 8 + doc_id % 5 AS h
  FROM documents
),
rowsum AS (
  SELECT d.media_id, SUM({row1}) AS s
  FROM d
  CROSS JOIN (SELECT unnest(range({out_w})) AS x) t
  CROSS JOIN (SELECT unnest(range(3)) AS c) u
  GROUP BY d.media_id
)
SELECT d.media_id,
       CAST({out_w} AS BIGINT) AS out_w,
       CAST({out_h} AS BIGINT) AS out_h,
       CAST({out_w * out_h * 3} AS BIGINT) AS out_bytes,
       CAST({p("0", "0", "0")} AS BIGINT) AS p_tl,
       CAST({p(str(out_h // 2), str(out_w // 2), "1")} AS BIGINT) AS p_mid,
       CAST({p(str(out_h - 1), str(out_w - 1), "2")} AS BIGINT) AS p_br,
       CAST(r.s AS BIGINT) AS row1_sum
FROM d JOIN rowsum r ON d.media_id = r.media_id
"""


def media_stats_sql(view: str = "documents") -> tuple[str, str]:
    """Binary metadata stats, oracle-checkable: payload byte length per
    source (UTF-8 octet length — exact in both engines)."""
    from ..functions.portable import bi_sql

    template = """
SELECT source,
       COUNT(*) AS n_items,
       CAST(SUM({octets}) AS BIGINT) AS total_bytes,
       CAST(MAX({octets}) AS BIGINT) AS max_bytes
FROM {view}
GROUP BY source
"""
    return bi_sql(
        template,
        octets=("octet_length(encode(text, 'UTF-8'))", "octet_length(encode(text))"),
        view=view,
    )


CHUNK_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("chunk_idx", LongType()),
        StructField("chunk_len", LongType()),
        StructField("n_tokens", LongType()),
    ]
)


def chunk_payload(media_text: DataFrame, window: int = 512) -> DataFrame:
    """Fixed-window chunking of long payloads — the "split documents /
    audio into training windows" op. Arrow-batched ``mapInPandas``:
    each task chunks its partition's rows locally, output multiplicity
    is len/window per row, no shuffle introduced.

    Tokens are counted per RAW chunk independently (a token straddling
    a boundary counts in both sides' fragments) — the cheap, alignment-
    free convention; exact-boundary chunking would need the tokenizer
    in the loop. Because the fake payloads are ASCII text, the whole
    kernel is reproducible as pure SQL (substr + the portable token
    regex), giving this mapInPandas path a full value-level oracle —
    the UDF-equivalence check the codec stubs can't have."""
    from ..functions.portable import py_tokens

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "chunk_idx": [], "chunk_len": [], "n_tokens": []
            }
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                s = text or ""
                n_chunks = max(0, (len(s) + window - 1) // window)
                for idx in range(n_chunks):
                    chunk = s[idx * window : (idx + 1) * window]
                    out["media_id"].append(mid)
                    out["chunk_idx"].append(idx)
                    out["chunk_len"].append(len(chunk))
                    out["n_tokens"].append(len(py_tokens(chunk)))
            yield pd.DataFrame(out)

    return media_text.mapInPandas(kernel, schema=CHUNK_SCHEMA)


def chunk_oracle_sql(window: int = 512, view: str = "documents") -> str:
    """DuckDB twin of :func:`chunk_payload` (ASCII text ⇒ chars == bytes)."""
    sub = f"substr(text, i * {window} + 1, {window})"
    return f"""
WITH x AS (
  SELECT doc_id, text,
         unnest(range((LENGTH(text) + {window} - 1) // {window})) AS i
  FROM {view}
)
SELECT doc_id AS media_id,
       CAST(i AS BIGINT) AS chunk_idx,
       CAST(LENGTH({sub}) AS BIGINT) AS chunk_len,
       CAST(len(list_filter(regexp_split_to_array(lower({sub}), '[^a-z0-9]+'),
                            x -> x != '')) AS BIGINT) AS n_tokens
FROM x
"""


IMAGE_DIMS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("fmt", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
    ]
)


def synthesize_image_headers(docs: DataFrame) -> DataFrame:
    """Build a media relation whose payloads are REAL image file
    headers (byte-exact PNG signature+IHDR chunk, JPEG SOI/APP0/SOF0
    marker stream) with dimensions derived deterministically from
    doc_id — the same injection discipline as the PII scrub case: the
    synthetic corpus has no images, so the bytes are synthesized in
    the query path, and the parser under test must do real structural
    decoding (fixed-offset IHDR reads, variable-length JPEG marker
    skipping) to recover dimensions the oracle can predict
    arithmetically. Construction is pure Spark SQL binary assembly
    (hex/lpad/unhex/concat — JVM-side, no UDF)."""
    w = "16 + media_id % 240"
    h = "16 + media_id % 120"
    png = (
        "concat(unhex('89504E470D0A1A0A'), unhex('0000000D'), unhex('49484452'), "
        f"unhex(lpad(hex({w}), 8, '0')), unhex(lpad(hex({h}), 8, '0')), "
        "unhex('0806000000'), unhex('DEADBEEF'))"
    )
    jpeg = (
        "concat(unhex('FFD8'), unhex('FFE00010'), "
        "unhex('4A46494600010100000100010000'), unhex('FFC00011'), unhex('08'), "
        f"unhex(lpad(hex({h}), 4, '0')), unhex(lpad(hex({w}), 4, '0')), "
        "unhex('03011100021101031101'), unhex('FFD9'))"
    )
    return docs.selectExpr("doc_id AS media_id").selectExpr(
        "media_id",
        f"CASE WHEN media_id % 2 = 0 THEN {png} ELSE {jpeg} END AS payload",
    )


def _sniff_dims(payload: bytes) -> tuple[str, int, int] | None:
    """Header-only image dimension sniffing — real structural parsing,
    no codec: PNG reads width/height at the IHDR fixed offsets after
    validating signature and chunk type; JPEG walks the marker stream
    skipping variable-length segments by their own length fields until
    a SOF0-SOF3 frame header. The logic every lightweight sniffer
    (imagesize, Pillow's lazy open) implements."""
    if payload is None or len(payload) < 4:
        return None
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        if len(payload) >= 24 and payload[12:16] == b"IHDR":
            return (
                "png",
                int.from_bytes(payload[16:20], "big"),
                int.from_bytes(payload[20:24], "big"),
            )
        return None
    if payload[:2] == b"\xff\xd8":
        pos = 2
        while pos + 4 <= len(payload) and payload[pos] == 0xFF:
            marker = payload[pos + 1]
            if marker == 0xD9:
                break
            if 0xC0 <= marker <= 0xC3:
                if pos + 9 <= len(payload):
                    return (
                        "jpeg",
                        int.from_bytes(payload[pos + 7 : pos + 9], "big"),
                        int.from_bytes(payload[pos + 5 : pos + 7], "big"),
                    )
                return None
            seglen = int.from_bytes(payload[pos + 2 : pos + 4], "big")
            pos += 2 + seglen
        return None
    return None


def sniff_image_dims(media: DataFrame) -> DataFrame:
    """Arrow-batched dimension sniffing over the payload column
    (mapInPandas, same plumbing contract as extract_features): rows
    whose payload is not a recognizable image are dropped — the
    quarantine behavior a real ingest wants (count them upstream via
    media_binary_stats if needed)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                sniffed = _sniff_dims(bytes(payload) if payload is not None else None)
                if sniffed is not None:
                    rows.append((int(mid), sniffed[0], sniffed[1], sniffed[2]))
            yield pd.DataFrame(rows, columns=["media_id", "fmt", "width", "height"])

    return media.mapInPandas(kernel, IMAGE_DIMS_SCHEMA)


IMAGE_DIMS_ORACLE = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
       16 + doc_id % 240 AS width,
       16 + doc_id % 120 AS height
FROM documents
"""


AUDIO_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("channels", LongType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", LongType()),
    ]
)


def synthesize_wav_headers(docs: DataFrame) -> DataFrame:
    """Audio twin of synthesize_image_headers: byte-exact WAV RIFF
    headers (RIFF size, fmt chunk with PCM format/channels/sample
    rate/block align, data chunk size) assembled in Spark SQL with
    LITTLE-endian fields — hex/lpad/unhex gives big-endian, so byte
    order is reversed via concat of reversed byte pairs, which is
    itself part of what the parser must get right."""
    sr = "CASE WHEN media_id % 3 = 0 THEN 8000 WHEN media_id % 3 = 1 THEN 16000 ELSE 44100 END"
    ch = "1 + media_id % 2"
    ns = "1000 + media_id % 9000"

    def le32(expr: str) -> str:
        # little-endian 4-byte: build big-endian hex then swap bytes
        be = f"lpad(hex({expr}), 8, '0')"
        return (
            f"unhex(concat(substring({be}, 7, 2), substring({be}, 5, 2), "
            f"substring({be}, 3, 2), substring({be}, 1, 2)))"
        )

    def le16(expr: str) -> str:
        be = f"lpad(hex({expr}), 4, '0')"
        return f"unhex(concat(substring({be}, 3, 2), substring({be}, 1, 2)))"

    data_bytes = f"({ns}) * ({ch}) * 2"  # 16-bit PCM
    payload = (
        "concat("
        "unhex('52494646'), "  # 'RIFF'
        + le32(f"36 + {data_bytes}")
        + ", unhex('57415645'), "  # 'WAVE'
        "unhex('666D7420'), "  # 'fmt '
        + le32("16")
        + ", "
        + le16("1")  # PCM
        + ", "
        + le16(ch)
        + ", "
        + le32(sr)
        + ", "
        + le32(f"({sr}) * ({ch}) * 2")  # byte rate
        + ", "
        + le16(f"({ch}) * 2")  # block align
        + ", "
        + le16("16")  # bits per sample
        + ", unhex('64617461'), "  # 'data'
        + le32(data_bytes)
        + ")"
    )
    return docs.selectExpr("doc_id AS media_id").selectExpr(
        "media_id", f"{payload} AS payload"
    )


def _parse_wav_header(payload: bytes) -> tuple[int, int, int] | None:
    """RIFF/WAVE structural parse: validate magics, read the fmt
    chunk's channels/sample-rate (little-endian), then walk chunks to
    'data' and derive the sample count from its byte length and the
    block align — the header walk every audio loader performs before
    touching samples."""
    if payload is None or len(payload) < 44:
        return None
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos = 12
    channels = rate = block_align = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        clen = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        if cid == b"fmt ":
            channels = int.from_bytes(payload[pos + 10 : pos + 12], "little")
            rate = int.from_bytes(payload[pos + 12 : pos + 16], "little")
            block_align = int.from_bytes(payload[pos + 20 : pos + 22], "little")
        elif cid == b"data" and channels:
            # malformed-but-well-framed headers (block_align or rate 0)
            # are unparsable payloads, not task-killing ZeroDivisions
            if not block_align or not rate:
                return None
            return (rate, channels, clen // block_align)
        pos += 8 + clen
    return None


def sniff_audio_meta(media: DataFrame) -> DataFrame:
    """Arrow-batched WAV metadata extraction (mapInPandas); rows whose
    payload is not a parsable RIFF/WAVE stream are dropped."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                parsed = _parse_wav_header(
                    bytes(payload) if payload is not None else None
                )
                if parsed is not None:
                    rate, ch, ns = parsed
                    rows.append((int(mid), rate, ch, ns, ns * 1000 // rate))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "channels", "n_samples", "duration_ms"],
            )

    return media.mapInPandas(kernel, AUDIO_META_SCHEMA)


AUDIO_META_ORACLE = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 8000
            WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END AS sample_rate,
       1 + doc_id % 2 AS channels,
       1000 + doc_id % 9000 AS n_samples,
       (1000 + doc_id % 9000) * 1000
         // CASE WHEN doc_id % 3 = 0 THEN 8000
                 WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END AS duration_ms
FROM documents
"""


VIDEO_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("timescale", LongType()),
        StructField("duration_units", LongType()),
        StructField("duration_ms", LongType()),
    ]
)


def synthesize_mp4_headers(docs: DataFrame) -> DataFrame:
    """Video twin: byte-exact MP4 box structure (ftyp, then a moov
    container nesting an mvhd version-0 full box) with big-endian
    size/type framing — the ISO BMFF layout every player walks. The
    timescale and duration fields derive from media_id so the oracle
    predicts the parse arithmetically."""
    ts = "CASE WHEN media_id % 2 = 0 THEN 600 ELSE 1000 END"
    dur = "(media_id % 7200) * 100 + 600"

    def be32(expr: str) -> str:
        return f"unhex(lpad(hex({expr}), 8, '0'))"

    # ftyp: size 16 | 'ftyp' | 'isom' | minor 0
    ftyp = "concat(unhex('00000010'), unhex('66747970'), unhex('69736F6D'), unhex('00000000'))"
    # mvhd v0: size 108 | 'mvhd' | ver/flags 0 | ctime 0 | mtime 0
    #          | timescale | duration | rate 1.0 | vol 1.0 | 70 fixed bytes
    mvhd = (
        "concat(unhex('0000006C'), unhex('6D766864'), unhex('00000000'), "
        "unhex('00000000'), unhex('00000000'), "
        + be32(ts)
        + ", "
        + be32(dur)
        + ", unhex('00010000'), unhex('0100'), "
        + "unhex(repeat('00', 10)), "  # reserved
        + "unhex('000100000000000000000000000000000001000000000000"
        "000000000000000040000000'), "  # unity matrix (9 x 4 bytes)
        + "unhex(repeat('00', 24)), unhex('00000002'))"  # predefined + next track
    )
    # moov: size 8 + 108 = 116 | 'moov' | mvhd
    moov = f"concat(unhex('00000074'), unhex('6D6F6F76'), {mvhd})"
    return docs.selectExpr("doc_id AS media_id").selectExpr(
        "media_id", f"concat({ftyp}, {moov}) AS payload"
    )


def _parse_mp4_header(payload: bytes) -> tuple[int, int] | None:
    """ISO BMFF box walk: iterate top-level (size, type) boxes, descend
    into moov, find mvhd, read timescale/duration at the version-0
    offsets. Rejects streams without an ftyp leader or with malformed
    box sizes — the structural validation a real demuxer front-end
    does before trusting anything."""
    if payload is None or len(payload) < 16 or payload[4:8] != b"ftyp":
        return None

    def walk(buf: bytes, start: int, end: int):
        pos = start
        while pos + 8 <= end:
            size = int.from_bytes(buf[pos : pos + 4], "big")
            if size < 8 or pos + size > end:
                return None
            btype = buf[pos + 4 : pos + 8]
            if btype == b"moov":
                inner = walk(buf, pos + 8, pos + size)
                if inner is not None:
                    return inner
            elif btype == b"mvhd":
                if buf[pos + 8] != 0:  # only version 0 layout supported
                    return None
                ts = int.from_bytes(buf[pos + 20 : pos + 24], "big")
                dur = int.from_bytes(buf[pos + 24 : pos + 28], "big")
                return (ts, dur)
            pos += size
        return None

    return walk(payload, 0, len(payload))


def sniff_video_meta(media: DataFrame) -> DataFrame:
    """Arrow-batched MP4 metadata extraction (mapInPandas); rows whose
    payload fails the box walk are dropped."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                parsed = _parse_mp4_header(
                    bytes(payload) if payload is not None else None
                )
                if parsed is not None:
                    ts, dur = parsed
                    if ts:  # mvhd timescale 0 = malformed, drop
                        rows.append((int(mid), ts, dur, dur * 1000 // ts))
            yield pd.DataFrame(
                rows, columns=["media_id", "timescale", "duration_units", "duration_ms"]
            )

    return media.mapInPandas(kernel, VIDEO_META_SCHEMA)


VIDEO_META_ORACLE = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 600 ELSE 1000 END AS timescale,
       (doc_id % 7200) * 100 + 600 AS duration_units,
       ((doc_id % 7200) * 100 + 600) * 1000
         // CASE WHEN doc_id % 2 = 0 THEN 600 ELSE 1000 END AS duration_ms
FROM documents
"""


# ------------------------------------------------ windowed RMS loudness
WAV_RMS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("win", LongType()),
        StructField("n", LongType()),
        StructField("sum_sq", LongType()),
        StructField("rms", DoubleType()),
    ]
)

# closed-form PCM so the oracle can predict every sample: mono 16-bit,
# s_i = ((media_id*131 + i*7919) % 65521) - 32760  (int16-ranged)
_PCM_A, _PCM_B, _PCM_M, _PCM_OFF = 131, 7919, 65521, 32760
_RMS_WIN = 256  # samples per loudness window (full windows only)


def synthesize_wav_pcm(docs: DataFrame, modulus: int = 10) -> DataFrame:
    """REAL PCM payloads (header + samples), unlike the header-only
    synthesize_wav_headers: every 10th document becomes a mono 16-bit
    WAV whose samples follow the closed form above — so a decode
    kernel downstream is value-checked end to end (generate -> decode
    -> aggregate, the media_resize pattern). Arrow-batched generation;
    payload ~2 KB/doc."""
    import struct

    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                ns = 500 + mid % 500
                i = np.arange(ns, dtype=np.int64)
                s = ((mid * _PCM_A + i * _PCM_B) % _PCM_M - _PCM_OFF).astype("<i2")
                data = s.tobytes()
                hdr = (
                    b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                    + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
                    + b"data" + struct.pack("<I", len(data))
                )
                rows.append((mid, hdr + data))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return (
        docs.filter(F.col("doc_id") % modulus == 0)
        .select(F.col("doc_id").alias("media_id"))
        .mapInPandas(kernel, "media_id LONG, payload BINARY")
    )


def wav_rms_windows(media: DataFrame) -> DataFrame:
    """Windowed RMS loudness over DECODED PCM — the first pass an
    audio-curation pipeline runs (silence gating, loudness
    normalization prep, clipping detection all start from per-window
    RMS). Walks the RIFF chunks to the data payload, reinterprets it
    as little-endian int16 with numpy (one frombuffer per row — no
    per-sample Python), and aggregates FULL windows of 256 samples to
    (n, Σs², rms). Σs² is integer-exact (256·32768² « 2^63), so the
    oracle hash-matches; rms is the one IEEE-deterministic double.
    Unparsable payloads are dropped, like the other sniffers.

    Scale shape: map-side only — decode + window aggregation happen
    inside one Arrow batch pass; output is windows-sized (samples/256),
    never samples-sized. 100 TB of audio = an embarrassingly parallel
    scan whose output is ~0.4% of input rows."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(payload) if payload is not None else None
                meta = _parse_wav_header(buf)
                if meta is None:
                    continue
                # find the data chunk's byte offset (the header parse
                # validated structure; this walk locates the payload)
                pos, off, dlen = 12, None, 0
                while pos + 8 <= len(buf):
                    cid = buf[pos : pos + 4]
                    clen = int.from_bytes(buf[pos + 4 : pos + 8], "little")
                    if cid == b"data":
                        off, dlen = pos + 8, clen
                        break
                    pos += 8 + clen
                if off is None or off + dlen > len(buf):
                    continue
                s = np.frombuffer(buf, dtype="<i2", count=dlen // 2, offset=off)
                nwin = len(s) // _RMS_WIN
                if nwin == 0:
                    continue
                w = s[: nwin * _RMS_WIN].astype(np.int64).reshape(nwin, _RMS_WIN)
                ssq = (w * w).sum(axis=1)
                for k in range(nwin):
                    rows.append(
                        (
                            int(mid), k, _RMS_WIN, int(ssq[k]),
                            float(np.sqrt(ssq[k] / _RMS_WIN)),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "win", "n", "sum_sq", "rms"]
            )

    return media.mapInPandas(kernel, WAV_RMS_SCHEMA)


# DuckDB regenerates the closed-form samples directly (it never sees
# the bytes; the VALUE check is that Spark's generate->encode->decode
# round trip lands on the same numbers)
WAV_RMS_ORACLE = f"""
WITH m AS (
  SELECT doc_id AS media_id, 500 + doc_id % 500 AS ns
  FROM documents WHERE doc_id % 10 = 0
),
s AS (
  SELECT media_id, unnest(range(0, (ns // {_RMS_WIN}) * {_RMS_WIN})) AS i
  FROM m
),
v AS (
  SELECT media_id, i // {_RMS_WIN} AS win,
         (media_id * {_PCM_A} + i * {_PCM_B}) % {_PCM_M} - {_PCM_OFF} AS x
  FROM s
)
SELECT media_id, win, COUNT(*) AS n,
       CAST(SUM(x * x) AS BIGINT) AS sum_sq,
       sqrt(CAST(SUM(x * x) AS DOUBLE) / COUNT(*)) AS rms
FROM v GROUP BY media_id, win
"""
