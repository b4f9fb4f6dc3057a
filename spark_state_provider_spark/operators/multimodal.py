"""Multimodal (binary) column operators — LLM-pipeline plumbing.

Images / audio / video are opaque ``binary`` columns with typed metadata.
The Spark-side plumbing — schema, partition-parallel ``mapInPandas``, Arrow
batch shape, metadata extraction — is real and tested, and HEADER decode is
real too: PNG / GIF / JPEG / BMP dimensions and format are parsed from the
bytes with nothing but ``struct`` (no image library needed). Payloads that
are not a recognized image format fall back to a deterministic fake
(or raise under ``strict=True``) so the distributed plumbing stays fully
exercisable on arbitrary blobs; PIXEL-level work (resize, color transforms)
is the one remaining wiring point for PIL/ffmpeg, which this container
doesn't ship.

The q31/q31c demo payloads are the documents' UTF-8 bytes (a deterministic
stand-in blob per row — not valid images, so they exercise the fallback
path), which keeps those pipelines DuckDB-oracle-checkable; q31e builds
REAL image headers and checks the parser against arithmetic predictions.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_state_provider_spark.operators.registry import register
from spark_state_provider_spark.tables import load_table

DECODE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, checksum bigint, width int, height int, "
    "format string"
)


def parse_image_header(b: bytes) -> tuple[int, int, str] | None:
    """Parse (width, height, format) from real image container headers —
    pure stdlib, no image library.

    PNG: IHDR is always the first chunk, big-endian u32 dims at offset 16.
    GIF: logical screen descriptor, little-endian u16 dims at offset 6.
    JPEG: walk the segment chain to the first SOFn frame header (skipping
    non-frame markers incl. DHT/JPG/DAC), big-endian u16 height then width.
    BMP: BITMAPINFOHEADER little-endian i32 dims at offset 18 (height may
    be negative for top-down rows).
    Returns None if the payload is not a recognized container.
    """
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24 and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return w, h, "png"
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        w, h = struct.unpack("<HH", b[6:10])
        return w, h, "gif"
    if b[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                break
            marker = b[i + 1]
            if marker == 0xFF:  # fill bytes before a marker are legal
                i += 1
                continue
            if marker in (0x01,) or 0xD0 <= marker <= 0xD9:  # standalone
                i += 2
                continue
            if i + 4 > len(b):
                break
            seglen = struct.unpack(">H", b[i + 2 : i + 4])[0]
            is_sof = 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC)
            if is_sof and i + 9 <= len(b):
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return w, h, "jpeg"
            i += 2 + seglen
    if b[:2] == b"BM" and len(b) >= 26:
        w, h = struct.unpack("<ii", b[18:26])
        return w, abs(h), "bmp"
    return None


def decode_image_bytes(payload: bytes, strict: bool = False) -> dict:
    """Decode an image payload → (width, height, format).

    Recognized containers (PNG/GIF/JPEG/BMP) are decoded for REAL via
    ``parse_image_header``. Unrecognized payloads raise under
    ``strict=True``; otherwise a deterministic fake derived from the bytes
    stands in, keeping the distributed plumbing exercisable on arbitrary
    blobs.
    """
    n = len(payload)
    checksum = (payload[0] if n else 0) + (payload[-1] if n else 0) + n
    parsed = parse_image_header(payload)
    if parsed is not None:
        w, h, fmt = parsed
        return {
            "n_bytes": n,
            "checksum": checksum,
            "width": w,
            "height": h,
            "format": fmt,
        }
    if strict:
        raise ValueError(
            "unrecognized image container (not PNG/GIF/JPEG/BMP); "
            "pixel-level decoders (PIL/opencv) wire in here"
        )
    return {
        "n_bytes": n,
        "checksum": checksum,
        "width": n % 640 + 1,
        "height": (n * 7) % 480 + 1,
        "format": "fake/deterministic",
    }


def decode_metadata(binary_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Partition-parallel metadata extraction over a binary column.

    ``mapInPandas`` with Arrow batches: each python worker receives
    record batches of (id, payload), runs the decoder, emits typed metadata.
    No shuffle, no driver collect — linear at any scale.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [decode_image_bytes(p) for p in pdf["payload"]]
            out = pd.DataFrame(metas)
            out.insert(0, "doc_id", pdf[id_col].values)
            yield out[["doc_id", "n_bytes", "checksum", "width", "height", "format"]]

    return binary_df.mapInPandas(extract, schema=DECODE_SCHEMA)


@register(
    "q31_multimodal_meta",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               ascii(substr(text, 1, 1)) + ascii(substr(text, -1, 1))
                   + octet_length(encode(text)) AS checksum
        FROM documents
    )
    SELECT doc_id, n_bytes, checksum,
           CAST(n_bytes % 640 + 1 AS INTEGER) AS width,
           CAST((n_bytes * 7) % 480 + 1 AS INTEGER) AS height,
           'fake/deterministic' AS format
    FROM b
    """,
    families=("bench",),
)
def q31_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload → mapInPandas decode → typed metadata.

    The payload is the document's UTF-8 bytes; the python worker sees real
    ``bytes`` through Arrow and derives metadata from them. The oracle
    recomputes the same metadata arithmetically — so the whole binary
    round-trip (encode → Arrow batch → python → typed rows) is checked.
    (Texts here are ASCII, so first/last byte == ascii of first/last char.)
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return decode_metadata(d)


@register(
    "q31b_multimodal_partitioned",
    oracle="""
    SELECT source,
           count(*) AS n_assets,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           max(octet_length(encode(text))) AS max_bytes
    FROM documents
    GROUP BY source
    """,
    families=(),
)
def q31b_multimodal_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset-store layout stats: bytes per source partition — the query a
    100 TB media pipeline runs before choosing partition/bucket sizing."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.encode("text", "UTF-8").alias("payload")
    )
    return d.groupBy("source").agg(
        F.count("*").alias("n_assets"),
        F.sum(F.octet_length("payload")).alias("total_bytes"),
        F.max(F.octet_length("payload")).alias("max_bytes"),
    )


def decode_metadata_arrow(binary_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-native variant of ``decode_metadata``: ``mapInArrow`` hands the
    worker raw ``pyarrow.RecordBatch``es — no pandas materialization, so
    binary payloads are zero-copy until the decoder touches them. The API
    to prefer when the decode step streams large blobs (video/audio) and
    per-batch pandas conversion would double peak memory.
    """
    import pyarrow as pa

    arrow_schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("n_bytes", pa.int64()),
            ("checksum", pa.int64()),
            ("width", pa.int32()),
            ("height", pa.int32()),
            ("format", pa.string()),
        ]
    )

    def extract(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            ids = batch.column(batch.schema.get_field_index(id_col)).to_pylist()
            payloads = batch.column(
                batch.schema.get_field_index("payload")
            ).to_pylist()
            rows = [
                {"doc_id": i, **decode_image_bytes(p)}
                for i, p in zip(ids, payloads)
            ]
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return binary_df.mapInArrow(extract, schema=DECODE_SCHEMA)


@register(
    "q31c_multimodal_arrow",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               ascii(substr(text, 1, 1)) + ascii(substr(text, -1, 1))
                   + octet_length(encode(text)) AS checksum
        FROM documents
    )
    SELECT doc_id, n_bytes, checksum,
           CAST(n_bytes % 640 + 1 AS INTEGER) AS width,
           CAST((n_bytes * 7) % 480 + 1 AS INTEGER) AS height,
           'fake/deterministic' AS format
    FROM b
    """,
    families=(),
)
def q31c_multimodal_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same decode pipeline as q31 through the ``mapInArrow`` API (zero-copy
    Arrow batches, no pandas intermediary) — byte-identical output, checked
    by the same oracle."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return decode_metadata_arrow(d)


# ---------------------------------------------------------------------------
# q31e — REAL header decode: synthesize minimal valid PNG/GIF/JPEG
# containers with known dimensions, push them through the same
# mapInPandas decode path as q31, and check the parsed dimensions against
# the oracle's arithmetic prediction. Encoder (struct.pack) and parser
# (struct.unpack segment walk) are independent code paths, and the oracle
# never sees the bytes — it predicts what the parser MUST recover.
# ---------------------------------------------------------------------------


def make_png(w: int, h: int) -> bytes:
    """Minimal PNG: signature + IHDR chunk (CRC unchecked by the parser)."""
    ihdr = struct.pack(">II", w, h) + bytes([8, 2, 0, 0, 0])
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + ihdr
        + b"\x00\x00\x00\x00"
    )


def make_gif(w: int, h: int) -> bytes:
    """Minimal GIF89a logical screen descriptor + trailer."""
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00\x3b"


def make_jpeg(w: int, h: int) -> bytes:
    """Minimal JPEG: SOI, a COM segment (so the parser must WALK, not just
    look at a fixed offset), SOF0 with one component, EOI."""
    com = b"\xff\xfe" + struct.pack(">H", 7) + b"probe"
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([1, 0x11, 0x11, 0x00])
    )
    return b"\xff\xd8" + com + sof0 + b"\xff\xd9"


_IMG_MAKERS = (make_png, make_gif, make_jpeg)
_IMG_FORMATS = ("png", "gif", "jpeg")


@register(
    "q31e_image_header_decode",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 640 + 1 AS INTEGER) AS width,
           CAST(doc_id % 480 + 1 AS INTEGER) AS height,
           CASE CAST(doc_id % 3 AS INTEGER)
               WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg'
           END AS format
    FROM documents
    """,
    families=(),
)
def q31e_image_header_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image-header decode over binary payloads: each doc gets a
    synthesized PNG/GIF/JPEG container (dims derived from doc_id), and the
    stdlib parser must recover width/height/format from the BYTES — the
    oracle predicts the answer arithmetically without ever seeing them.

    Scale shape: two chained narrow Arrow maps (synthesize, decode), no
    shuffle; with real stored assets the synthesize stage disappears and
    the decode stage is unchanged."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            payloads = [
                _IMG_MAKERS[int(i) % 3](int(i) % 640 + 1, int(i) % 480 + 1)
                for i in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    blobs = d.mapInPandas(synth, schema="doc_id bigint, payload binary")
    return decode_metadata(blobs).select("doc_id", "width", "height", "format")


# ---------------------------------------------------------------------------
# q31f — audio metadata: REAL WAV (RIFF) header decode. Same shape as
# q31e: synthesize a valid container, parse it back with stdlib struct,
# oracle predicts the answer arithmetically.
# ---------------------------------------------------------------------------


def make_wav(sample_rate: int, n_channels: int, n_samples: int) -> bytes:
    """Minimal PCM16 WAV: RIFF header + fmt chunk + (zeroed) data chunk."""
    block_align = n_channels * 2
    data_len = n_samples * block_align
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, sample_rate * block_align,
        block_align, 16,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
    body += b"data" + struct.pack("<I", data_len) + b"\x00" * min(data_len, 8)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + body


def parse_wav_header(b: bytes) -> dict | None:
    """Parse (n_channels, sample_rate, bits, n_samples) from a RIFF/WAVE
    header by walking chunks — stdlib only. The data chunk may be
    truncated (header-only probe of a large object store blob); n_samples
    comes from the declared chunk length, not the bytes present."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i, fmt, data_len = 12, None, None
    while i + 8 <= len(b):
        cid, clen = b[i : i + 4], struct.unpack("<I", b[i + 4 : i + 8])[0]
        if cid == b"fmt " and i + 8 + 16 <= len(b):
            fmt = struct.unpack("<HHIIHH", b[i + 8 : i + 24])
        elif cid == b"data":
            data_len = clen
        i += 8 + clen + (clen & 1)
        if fmt is not None and data_len is not None:
            break
    if fmt is None or data_len is None:
        return None
    _, n_channels, sample_rate, _, block_align, bits = fmt
    return {
        "n_channels": n_channels,
        "sample_rate": sample_rate,
        "bits": bits,
        "n_samples": data_len // max(block_align, 1),
    }


@register(
    "q31f_audio_meta",
    oracle="""
    SELECT doc_id,
           CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                ELSE 44100 END AS INTEGER) AS sample_rate,
           CAST(doc_id % 2 + 1 AS INTEGER) AS n_channels,
           CAST(doc_id % 1000 + 1 AS BIGINT) AS n_samples,
           CAST(doc_id % 1000 + 1 AS DOUBLE)
               / CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                 ELSE 44100 END AS duration_secs
    FROM documents
    """,
    families=(),
)
def q31f_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio-container decode: synthesize WAV headers (rate/channels/
    length derived from doc_id), parse them back from the BYTES with the
    stdlib RIFF chunk walk, emit per-asset audio metadata incl. duration.
    The oracle predicts every field arithmetically without seeing a byte.

    Scale shape: narrow Arrow map, no shuffle; the header-only probe reads
    O(100) bytes per asset — the pattern for profiling a 100 TB audio lake
    without touching sample data."""
    rates = (8000, 16000, 44100)

    def synth_and_parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                i = int(i)
                wav = make_wav(rates[i % 3], i % 2 + 1, i % 1000 + 1)
                meta = parse_wav_header(wav)
                rows.append(
                    (
                        i,
                        meta["sample_rate"],
                        meta["n_channels"],
                        meta["n_samples"],
                        meta["n_samples"] / meta["sample_rate"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_channels", "n_samples",
                    "duration_secs",
                ],
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        synth_and_parse,
        schema=(
            "doc_id bigint, sample_rate int, n_channels int, "
            "n_samples bigint, duration_secs double"
        ),
    )


# ---------------------------------------------------------------------------
# q31d — frame sampling: the video-ish op. The payload is treated as a
# frame stream (fixed-size chunks); every STRIDE-th frame is sampled and
# per-frame metadata emitted — a ROW-EXPANDING mapInPandas (1 blob row →
# k frame rows), which is the plumbing shape a real video pipeline needs
# (ffmpeg keyframe sampling swaps in at the decode point).
# ---------------------------------------------------------------------------

FRAME_BYTES = 64
FRAME_STRIDE = 2

_FRAME_SCHEMA = (
    "doc_id bigint, frame_idx bigint, off bigint, fr_bytes bigint, "
    "fr_checksum bigint"
)


def sample_frames(binary_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Sample every {FRAME_STRIDE}-th fixed-size frame from each payload."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                n = len(payload)
                n_frames = (n + FRAME_BYTES - 1) // FRAME_BYTES
                for idx in range(0, n_frames, FRAME_STRIDE):
                    off = idx * FRAME_BYTES
                    chunk = payload[off : off + FRAME_BYTES]
                    rows.append(
                        (
                            doc_id,
                            idx,
                            off,
                            len(chunk),
                            chunk[0] + chunk[-1] + len(chunk),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "off", "fr_bytes", "fr_checksum"],
            )

    return binary_df.mapInPandas(extract, schema=_FRAME_SCHEMA)


@register(
    "q31d_frame_sample",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
    ),
    f AS (
        SELECT doc_id, text, n,
               unnest(generate_series(
                   0, CAST(floor((n - 1) / {FRAME_BYTES}) AS INTEGER),
                   {FRAME_STRIDE}
               )) AS frame_idx
        FROM b
    )
    SELECT doc_id,
           CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(frame_idx * {FRAME_BYTES} AS BIGINT) AS off,
           CAST(least({FRAME_BYTES}, n - frame_idx * {FRAME_BYTES}) AS BIGINT)
               AS fr_bytes,
           CAST(ascii(substr(text, frame_idx * {FRAME_BYTES} + 1, 1))
                + ascii(substr(text,
                        frame_idx * {FRAME_BYTES}
                        + least({FRAME_BYTES}, n - frame_idx * {FRAME_BYTES}), 1))
                + least({FRAME_BYTES}, n - frame_idx * {FRAME_BYTES}) AS BIGINT)
               AS fr_checksum
    FROM f
    """,
    families=(),
)
def q31d_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (every {FRAME_STRIDE}-th
    {FRAME_BYTES}-byte frame), emitting per-frame metadata.

    Scale shape: pure row-expanding narrow map over Arrow batches — no
    shuffle, no driver involvement; output row count is bounded by
    payload_bytes/{FRAME_BYTES}/{FRAME_STRIDE} per input row. The oracle
    recomputes every sampled frame's offset/length/checksum arithmetically
    (ASCII payloads ⇒ byte == ascii(char)), checking the full explode.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return sample_frames(d)


# ---------------------------------------------------------------------------
# q82 — binaryFile SOURCE: media ingestion as Spark actually does it on an
# object store. The previous q31* ops synthesize payloads in-flight; this
# one materializes REAL files on disk (PNG + WAV containers), reads them
# back through ``spark.read.format("binaryFile")`` — path / length /
# content, one partition task per file, header-only friendly — and runs
# the same stdlib decoders over the loaded bytes. The oracle's expected
# rows (name, size, md5, decoded metadata) are computed at registration
# time from the very same deterministic byte strings, so it never touches
# the filesystem and is order-independent of the Spark run.
# ---------------------------------------------------------------------------


def _binsrc_files() -> list[tuple[str, bytes]]:
    """Deterministic media fixture set: 12 PNGs + 8 WAVs."""
    files = []
    for i in range(12):
        files.append((f"img_{i:02d}.png", make_png(32 + 7 * i, 16 + 5 * i)))
    for i in range(8):
        files.append(
            (f"aud_{i:02d}.wav", make_wav(8000 + 250 * i, 1 + i % 2, 100 + 37 * i))
        )
    return files


def _binsrc_oracle() -> str:
    import hashlib

    rows = []
    for fname, b in _binsrc_files():
        md5 = hashlib.md5(b).hexdigest()
        if fname.endswith(".png"):
            w, h, fmt = parse_image_header(b)
            rows.append(
                f"('{fname}', {len(b)}, '{md5}', '{fmt}', {w}, {h}, "
                "NULL, NULL)"
            )
        else:
            m = parse_wav_header(b)
            rows.append(
                f"('{fname}', {len(b)}, '{md5}', 'wav', NULL, NULL, "
                f"{m['sample_rate']}, {m['n_samples']})"
            )
    values = ",\n           ".join(rows)
    return f"""
    SELECT file_name, CAST(n_bytes AS BIGINT) AS n_bytes, content_md5,
           fmt, CAST(width AS INTEGER) AS width,
           CAST(height AS INTEGER) AS height,
           CAST(sample_rate AS INTEGER) AS sample_rate,
           CAST(n_samples AS BIGINT) AS n_samples
    FROM (VALUES {values})
         AS t(file_name, n_bytes, content_md5, fmt, width, height,
              sample_rate, n_samples)
    """


_BINSRC_SCHEMA = (
    "file_name string, n_bytes bigint, content_md5 string, fmt string, "
    "width int, height int, sample_rate int, n_samples bigint"
)


@register("q82_binaryfile_source", oracle=_binsrc_oracle(), families=())
def q82_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a directory of media files through the ``binaryFile`` source
    and decode each container's header from the loaded bytes.

    Scale shape: binaryFile plans one task per file (no splitting — media
    containers aren't splittable anyway), so a 100 TB asset lake
    parallelizes across files; ``pathGlobFilter``/partitioned directories
    prune at planning time. md5 and length stay JVM-side; only the header
    walk crosses into an Arrow-batched Python map. The file-writing
    prologue is test scaffolding — idempotent, byte-deterministic — in
    production the objects already exist.
    """
    import os
    import tempfile

    from spark_state_provider_spark.scratch import scratch_base

    out = os.path.join(
        scratch_base(), f"ssps_binsrc_{os.getpid()}"
    )
    os.makedirs(out, exist_ok=True)
    for fname, b in _binsrc_files():
        path = os.path.join(out, fname)
        with open(path, "wb") as f:
            f.write(b)

    df = spark.read.format("binaryFile").load(out)
    base = df.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
        "content",
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, ws, hs, rates, samps = [], [], [], [], []
            for b in pdf["content"]:
                b = bytes(b)
                img = parse_image_header(b)
                if img is not None:
                    w, h, fmt = img
                    fmts.append(fmt); ws.append(w); hs.append(h)
                    rates.append(None); samps.append(None)
                    continue
                wav = parse_wav_header(b)
                if wav is not None:
                    fmts.append("wav"); ws.append(None); hs.append(None)
                    rates.append(wav["sample_rate"])
                    samps.append(wav["n_samples"])
                else:
                    fmts.append(None); ws.append(None); hs.append(None)
                    rates.append(None); samps.append(None)
            yield pd.DataFrame(
                {
                    "file_name": pdf["file_name"],
                    "n_bytes": pdf["n_bytes"],
                    "content_md5": pdf["content_md5"],
                    "fmt": fmts,
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "sample_rate": pd.array(rates, dtype="Int32"),
                    "n_samples": pd.array(samps, dtype="Int64"),
                }
            )

    return base.mapInPandas(decode, schema=_BINSRC_SCHEMA)


# ---------------------------------------------------------------------------
# q106 — cross-media similarity search over REAL extracted features: the
# media twin of q29. Each asset's feature vector is its 16-bin byte
# histogram (a real, deterministic content feature computed from the
# loaded bytes — no model server, no stub), extracted in the same
# Arrow-batched map that q82 uses for header decode; similarity is then
# exactly the q29 machinery (integer dots, IEEE cosine, per-query top-k
# window). 20 files make the all-pairs form the oracle-checkable bounded
# witness — at asset-lake scale the identical feature column feeds q29b's
# LSH bucketing instead (same plumbing, linear candidates). The oracle
# recomputes the whole pipeline in Python from the same deterministic
# bytes at registration time (the q82 pattern), so DuckDB just evaluates
# the literal expected rows.
# ---------------------------------------------------------------------------

_MEDIA_BINS = 16
_MEDIA_TOP_K = 3


def _byte_histogram(b: bytes) -> list[int]:
    h = [0] * _MEDIA_BINS
    for v in b:
        h[v >> 4] += 1
    return h


def _media_sim_oracle() -> str:
    import math

    feats = [
        (fname, _byte_histogram(b)) for fname, b in _binsrc_files()
    ]
    rows = []
    for fname, ha in feats:
        na = math.sqrt(float(sum(x * x for x in ha)))
        scored = []
        for other, hb in feats:
            if other == fname:
                continue
            nb = math.sqrt(float(sum(x * x for x in hb)))
            dot = float(sum(x * y for x, y in zip(ha, hb)))
            scored.append((dot / (na * nb), other))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rn, (sim, other) in enumerate(scored[:_MEDIA_TOP_K], start=1):
            # string → DOUBLE: a bare numeric literal parses as DECIMAL
            # first in DuckDB and the DECIMAL→DOUBLE conversion can land
            # one ulp away from the IEEE value Python/Spark computed
            rows.append(f"('{fname}', '{other}', '{sim!r}', {rn})")
    values = ",\n           ".join(rows)
    return f"""
    SELECT file_name, neighbor, CAST(sim AS DOUBLE) AS sim,
           CAST(rn AS BIGINT) AS rn
    FROM (VALUES {values}) AS t(file_name, neighbor, sim, rn)
    """


@register("q106_media_similarity", oracle=_media_sim_oracle(), families=("bench",))
def q106_media_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_MEDIA_TOP_K} nearest media assets per file by cosine over
    {_MEDIA_BINS}-bin byte histograms extracted from the real file bytes.

    Scale shape: feature extraction is one narrow Arrow map with one task
    per file (binaryFile semantics); the integer histograms are 128 bytes
    per asset — the thing you materialize as a column at ingest. The
    pairwise stage broadcasts the (tiny) feature set; at lake scale the
    same features feed the LSH/IVF index builders instead of the
    all-pairs witness.
    """
    import os
    import tempfile

    from pyspark.sql.window import Window

    from spark_state_provider_spark.functions.vector import idot

    from spark_state_provider_spark.scratch import scratch_base

    out = os.path.join(
        scratch_base(), f"ssps_mediasim_{os.getpid()}"
    )
    os.makedirs(out, exist_ok=True)
    for fname, b in _binsrc_files():
        path = os.path.join(out, fname)
        if not os.path.exists(path):
            with open(path, "wb") as f:
                f.write(b)

    df = spark.read.format("binaryFile").load(out)
    base = df.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        "content",
    )

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            hists = [
                np.bincount(
                    np.frombuffer(bytes(b), dtype=np.uint8) >> 4,
                    minlength=_MEDIA_BINS,
                ).astype("int64").tolist()
                for b in pdf["content"]
            ]
            yield pd.DataFrame(
                {"file_name": pdf["file_name"], "hist": hists}
            )

    feats = base.mapInPandas(
        featurize, schema=f"file_name string, hist array<long>"
    )
    a = feats.select(
        F.col("file_name").alias("file_name"), F.col("hist").alias("ha")
    )
    b = feats.select(
        F.col("file_name").alias("neighbor"), F.col("hist").alias("hb")
    )
    sims = (
        a.join(F.broadcast(b), F.col("file_name") != F.col("neighbor"))
        .select(
            "file_name",
            "neighbor",
            (
                idot(F.col("ha"), F.col("hb")).cast("double")
                / (
                    F.sqrt(idot(F.col("ha"), F.col("ha")).cast("double"))
                    * F.sqrt(idot(F.col("hb"), F.col("hb")).cast("double"))
                )
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("file_name").orderBy(
        F.col("sim").desc(), F.col("neighbor")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= _MEDIA_TOP_K)
    )


# ---------------------------------------------------------------------------
# q165 — perceptual average-hash (aHash) over REAL decoded BMP pixels:
# the image near-duplicate fingerprint, computed from the actual pixel
# buffer (not the header). Each doc gets a synthesized 8×8 24-bit BMP
# whose grayscale pattern is a closed-form function of doc_id mod P —
# planted duplicate classes — and the decoder must recover the pixels
# from the BYTES (file-header offset → bottom-up padded BGR rows) before
# hashing. The oracle recomputes every signature arithmetically from the
# generator formula and groups doc_ids the same way, so the whole
# decode→hash→cluster pipeline is value-checked.
#
# The aHash bit rule is the integer-exact form: bit_i = (64·v_i > Σv)
# (strictly-above-mean without ever forming the float mean). Signatures
# are split lo/hi 32-bit words like q150, whose Hamming machinery this
# feeds at scale (phash → bucket → popcount verify).
# ---------------------------------------------------------------------------

_PHASH_P = 50  # planted pattern classes


def _phash_pixel(x: int, y: int, k: int) -> int:
    # multiplicative pattern: all _PHASH_P classes map to DISTINCT aHash
    # signatures (verified), so clusters == planted classes exactly
    return ((x + 8 * y) * (k + 3) * 31 + k) % 256


def make_bmp_gray8(k: int) -> bytes:
    """8×8 24-bit BMP (BITMAPFILEHEADER + BITMAPINFOHEADER), bottom-up
    BGR rows, grayscale value ``_phash_pixel(x, y, k)``."""
    w = h = 8
    row = w * 3  # 24 bytes — already 4-byte aligned
    pixels = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up storage order
        for x in range(w):
            v = _phash_pixel(x, y, k)
            pixels += bytes((v, v, v))  # B, G, R
    offset = 14 + 40
    size = offset + len(pixels)
    file_hdr = b"BM" + struct.pack("<IHHI", size, 0, 0, offset)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return file_hdr + info_hdr + bytes(pixels)


def decode_bmp_gray_pixels(b: bytes) -> list[int] | None:
    """Extract the top-down row-major grayscale pixel list from a 24-bit
    uncompressed BMP — honest byte-level decode: pixel-array offset from
    the file header, dims from the info header, bottom-up padded rows."""
    if b[:2] != b"BM" or len(b) < 54:
        return None
    offset = struct.unpack("<I", b[10:14])[0]
    w, h = struct.unpack("<ii", b[18:26])
    bpp = struct.unpack("<H", b[28:30])[0]
    if bpp != 24 or w <= 0 or h == 0:
        return None
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    out: list[int] = []
    for y in range(h):
        src_y = y if top_down else h - 1 - y
        base = offset + src_y * stride
        row = b[base : base + w * 3]
        if len(row) < w * 3:
            return None
        out.extend(row[x * 3] for x in range(w))  # blue channel = gray
    return out


def _phash_oracle() -> str:
    return f"""
    WITH pat AS (
        SELECT kk.k, ii.i,
               (ii.i * (kk.k + 3) * 31 + kk.k) % 256 AS v
        FROM unnest(generate_series(0, {_PHASH_P - 1})) AS kk(k),
             unnest(generate_series(0, 63)) AS ii(i)
    ),
    tot AS (SELECT k, sum(v) AS s FROM pat GROUP BY k),
    sig AS (
        SELECT pat.k,
               CAST(sum(CASE WHEN i < 32 AND v * 64 > tot.s
                             THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
                    AS BIGINT) AS sig_lo,
               CAST(sum(CASE WHEN i >= 32 AND v * 64 > tot.s
                             THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END)
                    AS BIGINT) AS sig_hi
        FROM pat JOIN tot ON pat.k = tot.k GROUP BY pat.k
    ),
    docs AS (SELECT doc_id, doc_id % {_PHASH_P} AS k FROM documents)
    SELECT sig_lo, sig_hi,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc
    FROM docs JOIN sig ON docs.k = sig.k
    GROUP BY sig_lo, sig_hi
    """


@register("q165_image_phash", oracle=_phash_oracle(), families=("bench",))
def q165_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster images by perceptual average-hash computed from decoded
    BMP pixel buffers ({_PHASH_P} planted pattern classes).

    Three stages, first two narrow Arrow maps (synthesize → pixel decode
    + hash), then one small shuffle on the 64-bit signature to group
    duplicates. With real stored assets the synthesize stage disappears;
    the decode/hash stage streams pixel buffers batch-wise and emits 16
    bytes per image, so the shuffle input is ~10⁶× smaller than the
    pixel data — the shape that makes image dedup feasible at 100 TB.
    """

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": [make_bmp_gray8(int(i) % _PHASH_P) for i in ids],
                }
            )

    def hash_pixels(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lo_col, hi_col = [], []
            for b in pdf["payload"]:
                px = decode_bmp_gray_pixels(bytes(b))
                assert px is not None and len(px) == 64
                tot = sum(px)
                lo = hi = 0
                for i, v in enumerate(px):
                    if v * 64 > tot:
                        if i < 32:
                            lo |= 1 << i
                        else:
                            hi |= 1 << (i - 32)
                lo_col.append(lo)
                hi_col.append(hi)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sig_lo": pd.Series(lo_col, dtype="int64"),
                    "sig_hi": pd.Series(hi_col, dtype="int64"),
                }
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    blobs = d.mapInPandas(synth, schema="doc_id bigint, payload binary")
    sigs = blobs.mapInPandas(
        hash_pixels, schema="doc_id bigint, sig_lo bigint, sig_hi bigint"
    )
    return sigs.groupBy("sig_lo", "sig_hi").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc")
    )


# ---------------------------------------------------------------------------
# q202 — image RESIZE (box-filter downsample) over real decoded bytes:
# synthesize 16×16 BMPs, decode the pixel array byte-for-byte (same
# honest header/offset/bottom-up walk as q165), average-pool 4×4 blocks
# to a 4×4 thumbnail (integer mean — the exact arithmetic both engines
# share), and emit per-image thumbnail stats. This is the
# decode→transform→re-encode stage of a multimodal pipeline with the
# transform REAL; because the planted pixel pattern is a closed-form
# function, the DuckDB oracle recomputes the expected thumbnails from
# the formula and checks every image's pooled values.
# ---------------------------------------------------------------------------

_RESIZE_W = 16  # source side; thumbnails are (W/4)×(W/4)


def _resize_pixel(x: int, y: int, k: int) -> int:
    return ((x + _RESIZE_W * y) * (k + 3) * 31 + k) % 256


def make_bmp_gray16(k: int) -> bytes:
    """16×16 24-bit BMP, bottom-up BGR rows, value ``_resize_pixel``."""
    w = h = _RESIZE_W
    pixels = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up storage order
        for x in range(w):
            v = _resize_pixel(x, y, k)
            pixels += bytes((v, v, v))
    offset = 14 + 40
    size = offset + len(pixels)
    file_hdr = b"BM" + struct.pack("<IHHI", size, 0, 0, offset)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return file_hdr + info_hdr + bytes(pixels)


def _resize_oracle() -> str:
    return f"""
    WITH pat AS (
        SELECT kk.k, xx.x, yy.y,
               ((xx.x + {_RESIZE_W} * yy.y) * (kk.k + 3) * 31 + kk.k) % 256
                   AS v
        FROM unnest(generate_series(0, {_PHASH_P - 1})) AS kk(k),
             unnest(generate_series(0, {_RESIZE_W - 1})) AS xx(x),
             unnest(generate_series(0, {_RESIZE_W - 1})) AS yy(y)
    ),
    pooled AS (
        SELECT k, x // 4 AS px, y // 4 AS py,
               CAST(sum(v) // 16 AS BIGINT) AS pv
        FROM pat GROUP BY k, x // 4, y // 4
    ),
    per_k AS (
        SELECT k,
               CAST(sum(pv) AS BIGINT) AS thumb_sum,
               max(CASE WHEN px = 0 AND py = 0 THEN pv END) AS px00,
               max(CASE WHEN px = 3 AND py = 3 THEN pv END) AS px33
        FROM pooled GROUP BY k
    )
    SELECT d.doc_id, per_k.thumb_sum, per_k.px00, per_k.px33
    FROM documents d JOIN per_k ON d.doc_id % {_PHASH_P} = per_k.k
    """


@register("q202_image_resize", oracle=_resize_oracle(), families=("bench",))
def q202_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4×4 box-filter thumbnails from decoded 16×16 BMPs, per image.

    Scale shape: two narrow Arrow stages (synthesize → decode+pool) with
    zero shuffle — resize is embarrassingly parallel and the emitted
    thumbnail stats are bytes per image against KBs of pixels, the
    reduction that makes multimodal feature extraction feasible at
    100 TB. With real stored assets the synthesize stage disappears and
    the decode swaps for the image codec behind the same batch iterator.
    """

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": [
                        make_bmp_gray16(int(i) % _PHASH_P) for i in ids
                    ],
                }
            )

    def pool(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = _RESIZE_W
        for pdf in batches:
            sums, p00s, p33s = [], [], []
            for b in pdf["payload"]:
                px = decode_bmp_gray_pixels(bytes(b))
                assert px is not None and len(px) == w * w
                pooled = [
                    sum(
                        px[(4 * py + dy) * w + (4 * px_ + dx)]
                        for dy in range(4)
                        for dx in range(4)
                    )
                    // 16
                    for py in range(4)
                    for px_ in range(4)
                ]
                sums.append(sum(pooled))
                p00s.append(pooled[0])
                p33s.append(pooled[15])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "thumb_sum": pd.Series(sums, dtype="int64"),
                    "px00": pd.Series(p00s, dtype="int64"),
                    "px33": pd.Series(p33s, dtype="int64"),
                }
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    blobs = d.mapInPandas(synth, schema="doc_id bigint, payload binary")
    return blobs.mapInPandas(
        pool,
        schema="doc_id bigint, thumb_sum bigint, px00 bigint, px33 bigint",
    )
