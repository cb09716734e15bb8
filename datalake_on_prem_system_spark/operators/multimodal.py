"""Multimodal-column operators: opaque ``binary`` payloads + typed metadata.

Beyond-reference capability. The pattern for image/audio/video at 100 TB is:
one ``binary`` column holding the encoded media, one typed metadata struct
(format, width, height, …) maintained next to it, and all decode /
feature-extract work running as Arrow-batched ``mapInPandas`` — never
row-at-a-time Python.

The container has no codec LIBRARIES, so the formats decoded here are the
ones a few hundred lines of byte-level parsing cover honestly: real BMP
(``mm_image_decode``), real RIFF/WAVE PCM (``mm_wav_decode``), and a real
RIFF/AVI container of uncompressed DIB frames with idx1 random access
(``mm_video_decode``). Compressed codecs (JPEG/H.264/Opus) would swap one
leaf function for a library call — schema, struct column, Arrow batch
shape, and partitioning are format-agnostic and oracle-checked:
``documents.text`` (pure ASCII) is utf-8-encoded into the payload, so every
decoded reduction equals a codepoint-arithmetic reduction the DuckDB oracle
recomputes.

Scale notes: every operator is a narrow per-row map (no shuffle);
``mapInPandas`` moves data executor→Python worker via Arrow in columnar
batches, preserving partitioning. Payload bytes would dominate I/O at scale —
production layout stores payloads in their own parquet column chunk so
metadata-only queries never read them (column pruning does this for free).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import t, t_par

if TYPE_CHECKING:
    import pandas as pd

_FORMATS = ["png", "jpeg", "wav"]


def _manifest(docs: DataFrame) -> DataFrame:
    """Synthesize the multimodal manifest: binary payload + typed metadata.
    (In production this is the ingest output; here payloads are derived
    deterministically from the fixture text.)"""
    fmt = F.element_at(
        F.array(*[F.lit(f) for f in _FORMATS]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            fmt.alias("format"),
            (F.col("n_chars") % 640 + 16).cast("int").alias("width"),
            (F.col("n_chars") % 480 + 16).cast("int").alias("height"),
        ).alias("media"),
    )


def mm_manifest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregate over the manifest — must never deserialize
    payloads (column pruning drops the binary column from the scan)."""
    m = _manifest(t(spark, sf_dir, "documents"))
    return (
        m.select(
            F.col("media.format").alias("format"),
            F.col("media.width").alias("width"),
            F.col("media.height").alias("height"),
            F.octet_length("payload").alias("payload_len"),
        )
        .groupBy("format")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("payload_len").alias("total_bytes"),
            F.round(F.avg("width"), 4).alias("avg_width"),
            F.max("height").alias("max_height"),
        )
    )


def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    ``mapInPandas``: per-asset byte statistics (the deterministic stand-in
    for a codec decode + embedding). Oracle-checkable because payload bytes
    are the text's ASCII codepoints."""
    import pandas as pd  # noqa: F401 — required on executors

    m = _manifest(t_par(spark, sf_dir, "documents")).select("doc_id", "payload")

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            arrs = [np.frombuffer(b, dtype=np.uint8) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload_len": [len(a) for a in arrs],
                    "byte_sum": [int(a.sum()) for a in arrs],
                    # empty payload (empty document) must not crash the batch
                    "byte_max": [int(a.max()) if len(a) else 0 for a in arrs],
                }
            )

    return m.mapInPandas(
        extract, "doc_id bigint, payload_len int, byte_sum bigint, byte_max int"
    )


def mm_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan for 'video' assets: derive a deterministic frame
    count from metadata, emit every 24th frame index (keyframe cadence).
    The plan (explode of a sequence) is the real distributed shape; actual
    frame decode is ``decode_frame``/``mm_video_decode`` below — real
    idx1-indexed random access into an AVI container."""
    m = _manifest(t(spark, sf_dir, "documents"))
    vids = m.filter(F.col("media.format") == "wav").select(
        "doc_id", (F.col("media.width").cast("bigint") * 4).alias("n_frames")
    )
    return (
        vids.select(
            "doc_id",
            "n_frames",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(24))
            ).alias("frame_idx"),
        )
        .groupBy("doc_id", "n_frames")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.max("frame_idx").alias("last_frame"))
    )


def _riff_chunk(cid: bytes, body: bytes) -> bytes:
    import struct

    return (
        struct.pack("<4sI", cid, len(body))
        + body
        + (b"\x00" if len(body) % 2 else b"")
    )


def _encode_avi(
    width: int, height: int, fps: int, n_frames: int, text_bytes: bytes
) -> bytes:
    """Build a REAL AVI file — RIFF container with LIST hdrl (``avih``
    main header + LIST strl with ``strh``/``strf``), LIST movi of
    uncompressed bottom-up DIB frames (``00db``), and an ``idx1`` frame
    index (offset/size per frame, relative to the ``movi`` fourcc — the
    random-access path every AVI player uses). Frame *f*'s logical
    top-down pixel bytes cycle the document's ASCII bytes with PHASE f
    (byte j = text[(f + j) % len]), so every frame is distinct and the
    oracle can recompute any frame's pixel sum from codepoints alone."""
    import struct

    import numpy as np

    src = np.frombuffer(text_bytes if text_bytes else b"\x00", dtype=np.uint8)
    n = width * height * 3
    stride = (width * 3 + 3) // 4 * 4
    pad = b"\x00" * (stride - width * 3)
    frames = []
    for f in range(n_frames):
        flat = (
            src[(f + np.arange(n)) % len(src)]
            if text_bytes
            else np.zeros(n, dtype=np.uint8)
        )
        img = flat.reshape(height, width * 3)
        frames.append(
            b"".join(img[height - 1 - y].tobytes() + pad for y in range(height))
        )
    fsize = stride * height
    avih = _riff_chunk(
        b"avih",
        struct.pack(
            "<14I",
            1_000_000 // fps, fsize * fps, 0, 0x10, n_frames, 0, 1, fsize,
            width, height, 0, 0, 0, 0,
        ),
    )
    strh = _riff_chunk(
        b"strh",
        struct.pack(
            "<4s4sIHHIIIIIIiIhhhh",
            b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, n_frames, fsize, -1, 0,
            0, 0, width, height,
        ),
    )
    strf = _riff_chunk(
        b"strf",
        struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, 24, 0, fsize, 2835, 2835, 0, 0
        ),
    )
    strl = _riff_chunk(b"LIST", b"strl" + strh + strf)
    hdrl = _riff_chunk(b"LIST", b"hdrl" + avih + strl)
    movi_body = b"movi"
    idx_entries = []
    for px in frames:
        idx_entries.append((len(movi_body), len(px)))  # offset of chunk header
        movi_body += _riff_chunk(b"00db", px)
    movi = _riff_chunk(b"LIST", movi_body)
    idx1 = _riff_chunk(
        b"idx1",
        b"".join(
            struct.pack("<4sIII", b"00db", 0x10, off, sz)
            for off, sz in idx_entries
        ),
    )
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def _avi_header(payload: bytes) -> tuple[int, int, int, int]:
    """Parse the AVI main + stream headers by WALKING the RIFF lists (no
    fixed offsets — real muxers reorder/insert chunks). Returns
    (width, height, fps, n_frames)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError(f"not an AVI payload (signature {payload[:4]!r})")
    width = height = n_frames = None
    scale = rate = None

    def walk(lo: int, hi: int) -> None:
        nonlocal width, height, n_frames, scale, rate
        pos = lo
        while pos + 8 <= hi:
            cid, sz = struct.unpack_from("<4sI", payload, pos)
            if cid == b"LIST":
                walk(pos + 12, pos + 8 + sz)
            elif cid == b"avih":
                vals = struct.unpack_from("<14I", payload, pos + 8)
                n_frames, width, height = vals[4], vals[8], vals[9]
            elif cid == b"strh":
                fcc, _h, _fl, _pr, _la, _init, scale, rate = struct.unpack_from(
                    "<4s4sIHHIII", payload, pos + 8
                )
                if fcc != b"vids":
                    scale = rate = None  # not the video stream
            pos += 8 + sz + (sz % 2)

    walk(12, len(payload))
    if None in (width, height, n_frames, scale, rate):
        raise ValueError("AVI missing avih/strh headers")
    return width, height, rate // scale, n_frames


def decode_frame(payload: bytes, frame_idx: int) -> bytes:
    """REAL video-frame random access — no codec library: verify the
    RIFF/AVI signature, walk the top-level chunk list to locate the
    ``movi`` LIST and the ``idx1`` index, then jump straight to frame
    ``frame_idx``'s ``00db`` chunk via its index entry (offset relative
    to the ``movi`` fourcc) and return the raw bottom-up padded DIB pixel
    array. Raises IndexError past the last frame — the caller's sampling
    plan (``mm_frame_sample_plan``) must stay inside ``n_frames``.
    Compressed codecs (H.264 etc.) would replace the DIB slice with a
    library call; the container walk is the same."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError(f"not an AVI payload (signature {payload[:4]!r})")
    movi_pos = None
    index: list[tuple[int, int]] = []
    pos = 12
    while pos + 8 <= len(payload):
        cid, sz = struct.unpack_from("<4sI", payload, pos)
        if cid == b"LIST" and payload[pos + 8 : pos + 12] == b"movi":
            movi_pos = pos + 8  # position of the 'movi' fourcc
        elif cid == b"idx1":
            for off in range(pos + 8, pos + 8 + sz, 16):
                ckid, _flags, coff, csz = struct.unpack_from("<4sIII", payload, off)
                if ckid == b"00db":
                    index.append((coff, csz))
        pos += 8 + sz + (sz % 2)
    if movi_pos is None or not index:
        raise ValueError("AVI missing movi list or idx1 index")
    coff, csz = index[frame_idx]
    start = movi_pos + coff + 8  # skip the frame chunk's own 8-byte header
    return payload[start : start + csz]


def _dib_pixel_sum(frame: bytes, width: int, height: int) -> int:
    """Strip the DIB stride padding, un-flip the bottom-up rows, and sum
    the logical pixel bytes."""
    import numpy as np

    stride = (width * 3 + 3) // 4 * 4
    rows = np.frombuffer(frame, dtype=np.uint8, count=stride * height).reshape(
        height, stride
    )[:, : width * 3]
    return int(rows[::-1].astype(np.int64).sum())


def mm_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END video decode over binary payloads — the VIDEO sibling
    of ``mm_image_decode``/``mm_wav_decode``, retiring the last codec
    stub: an Arrow-batched kernel muxes each document into an actual AVI
    file (RIFF lists, real ``avih``/``strh``/``strf`` headers,
    uncompressed ``00db`` DIB frames, an ``idx1`` random-access index), a
    second Arrow kernel parses the headers back, samples every 3rd frame
    (``mm_frame_sample_plan``'s keyframe-cadence shape), random-accesses
    each sampled frame THROUGH the index (never a sequential scan of
    ``movi``), and emits one row per sampled frame with the decoded
    geometry and the frame's exact pixel-byte sum. Swapping the DIB slice
    for av/ffmpeg is a one-function change — container walk, schema,
    batching, and partitioning are codec-agnostic.

    Scale shape: two chained ``mapInPandas`` kernels fuse into one narrow
    per-row stage — no shuffle; payload bytes never leave the executor,
    and the per-frame fan-out is bounded by n_frames/3 ≤ 3 rows per asset.

    Oracle: geometry derives from ``n_chars``/``doc_id``; frame *f*'s
    pixels cycle the text's codepoints with phase f, so DuckDB recomputes
    every sampled frame's pixel sum from codepoint arithmetic alone — the
    compare fails if the decoder misreads a header, the idx1 offsets, the
    stride padding, or the row order."""
    import pandas as pd  # noqa: F401 — required on executors

    docs = t_par(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            payloads = [
                _encode_avi(
                    int(n) % 9 + 4,
                    int(n) % 5 + 4,
                    8 + int(d) % 3 * 4,
                    int(d) % 5 + 4,
                    t.encode("utf-8"),
                )
                for d, n, t in zip(pdf["doc_id"], pdf["n_chars"], pdf["text"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "frame_idx": [], "width": [], "height": [],
                "fps": [], "n_frames": [], "px_sum": [],
            }
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, fps, nf = _avi_header(payload)
                for f in range(0, nf, 3):
                    out["doc_id"].append(d)
                    out["frame_idx"].append(f)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["fps"].append(fps)
                    out["n_frames"].append(nf)
                    out["px_sum"].append(
                        _dib_pixel_sum(decode_frame(payload, f), w, h)
                    )
            yield pd.DataFrame(out)

    manifest = docs.mapInPandas(encode, "doc_id bigint, payload binary")
    return manifest.mapInPandas(
        decode,
        "doc_id bigint, frame_idx int, width int, height int, fps int, "
        "n_frames int, px_sum bigint",
    )


def _dib_flat(frame: bytes, width: int, height: int):
    """Strip the DIB stride padding and un-flip the bottom-up rows —
    the logical top-down pixel byte array."""
    import numpy as np

    stride = (width * 3 + 3) // 4 * 4
    rows = np.frombuffer(frame, dtype=np.uint8, count=stride * height).reshape(
        height, stride
    )[:, : width * 3]
    return rows[::-1].reshape(-1)


_SCENE_CUT_MAD = 33  # mean-abs-diff threshold (pixel-byte units)


def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the real AVI corpus — the shot-boundary
    pass a video curation pipeline runs before frame sampling (sample
    per SHOT, not per fixed cadence): decode every CONSECUTIVE frame
    pair through the idx1 index, compute the sum of absolute pixel-byte
    differences (SAD — the classic shot-boundary metric), and flag a cut
    where the mean absolute difference exceeds 33 (_SCENE_CUT_MAD)
    pixel-byte units. Each frame decodes ONCE per asset (the kernel
    diffs neighbours in sequence), so the cost is O(frames), not
    O(pairs·frame).

    Exactness: SAD is an exact integer; ``mad`` is its single double
    division by the pixel count; ``is_cut`` compares integers
    (sad > thresh·npix), so the boundary row is deterministic.

    Scale shape: one fused ``mapInPandas`` stage per row (mux → demux →
    SAD), no shuffle; per-asset fan-out bounded by n_frames ≤ 8.

    Oracle: frame *f* pixel *j* is codepoint[(f + j) % len], so DuckDB
    recomputes every boundary's SAD from codepoint arithmetic alone."""
    import pandas as pd  # noqa: F401 — required on executors

    docs = t_par(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "frame_a": [], "frame_b": [],
                "sad": [], "npix": [],
            }
            for d, n, txt in zip(pdf["doc_id"], pdf["n_chars"], pdf["text"]):
                payload = _encode_avi(
                    int(n) % 9 + 4,
                    int(n) % 5 + 4,
                    8 + int(d) % 3 * 4,
                    int(d) % 5 + 4,
                    txt.encode("utf-8"),
                )
                w, h, _fps, nf = _avi_header(payload)
                prev = _dib_flat(decode_frame(payload, 0), w, h)
                for f in range(1, nf):
                    cur = _dib_flat(decode_frame(payload, f), w, h)
                    sad = int(
                        np.abs(cur.astype(np.int64) - prev.astype(np.int64)).sum()
                    )
                    out["doc_id"].append(d)
                    out["frame_a"].append(f - 1)
                    out["frame_b"].append(f)
                    out["sad"].append(sad)
                    out["npix"].append(w * h * 3)
                    prev = cur
            yield pd.DataFrame(out)

    raw = docs.mapInPandas(
        kernel,
        "doc_id bigint, frame_a int, frame_b int, sad bigint, npix int",
    )
    # mad / is_cut as engine expressions: the SQL round convention (not
    # Python's banker's rounding) and an exact integer cut compare
    return raw.select(
        "doc_id",
        "frame_a",
        "frame_b",
        "sad",
        F.round(F.col("sad").cast("double") / F.col("npix").cast("double"), 6)
        .alias("mad"),
        (F.col("sad") > F.lit(_SCENE_CUT_MAD) * F.col("npix")).alias("is_cut"),
    )


def _encode_bmp(width: int, height: int, text_bytes: bytes) -> bytes:
    """Build a REAL 24-bpp uncompressed BMP file: 14-byte file header,
    40-byte BITMAPINFOHEADER, bottom-up pixel rows padded to 4-byte
    stride. Pixel bytes cycle the document's ASCII bytes in logical
    (top-down row-major, channel-minor) order — deterministic content the
    oracle reproduces from the text codepoints."""
    import struct

    import numpy as np

    arr = np.frombuffer(text_bytes, dtype=np.uint8)
    img = np.resize(arr, width * height * 3).reshape(height, width * 3)
    stride = (width * 3 + 3) // 4 * 4
    pad = b"\x00" * (stride - width * 3)
    # BMP stores rows bottom-up: file row 0 is the logical bottom row
    px = b"".join(img[height - 1 - y].tobytes() + pad for y in range(height))
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(px), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(px), 2835, 2835, 0, 0
    )
    return header + info + px


def _decode_bmp(payload: bytes) -> tuple[int, int, int, int, int, int]:
    """REAL byte-level BMP decode — no codec library: parse both headers
    (signature check, pixel-array offset, dimensions, bpp), slice the
    padded bottom-up pixel rows, and reduce the pixel array to per-channel
    sums. Returns (width, height, bpp, c0_sum, c1_sum, c2_sum)."""
    import struct

    import numpy as np

    sig, _fsize, _r1, _r2, off = struct.unpack_from("<2sIHHI", payload, 0)
    if sig != b"BM":
        raise ValueError(f"not a BMP payload (signature {sig!r})")
    _hsz, width, height, _planes, bpp, comp = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, compression={comp})")
    stride = (width * 3 + 3) // 4 * 4
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * height, offset=off
    ).reshape(height, stride)[:, : width * 3]
    flat = rows[::-1].reshape(-1)  # bottom-up file order → logical top-down
    return (
        width,
        height,
        bpp,
        int(flat[0::3].sum()),
        int(flat[1::3].sum()),
        int(flat[2::3].sum()),
    )


def mm_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END image decode over binary payloads — encode and decode are
    both REAL byte-format work, not a deterministic fake: an Arrow-batched
    kernel renders each document as an actual BMP file (real headers, real
    bottom-up padded pixel rows), a second Arrow kernel DECODES those bytes
    back (signature check, header parse, pixel-array slice) and emits the
    decoded geometry plus per-channel pixel sums. Swapping ``_decode_bmp``
    for PIL/libjpeg is a one-function change — schema, batching, and
    partitioning are format-agnostic.

    Scale shape: two chained ``mapInPandas`` kernels fuse into one narrow
    per-row stage — no shuffle, payload bytes never leave the executor.

    Oracle: dimensions derive from ``n_chars`` and pixel bytes cycle the
    ASCII text, so DuckDB recomputes the decoded fields from codepoint
    arithmetic alone — the compare fails if the decoder misreads any
    header field, the stride padding, or the row order."""
    import pandas as pd  # noqa: F401 — required on executors

    docs = t_par(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            payloads = [
                _encode_bmp(int(n) % 13 + 4, int(n) % 7 + 4, t.encode("utf-8"))
                for n, t in zip(pdf["n_chars"], pdf["text"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            decoded = [_decode_bmp(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "bpp": [d[2] for d in decoded],
                    "n_pixels": [d[0] * d[1] for d in decoded],
                    "c0_sum": [d[3] for d in decoded],
                    "c1_sum": [d[4] for d in decoded],
                    "c2_sum": [d[5] for d in decoded],
                }
            )

    manifest = docs.mapInPandas(encode, "doc_id bigint, payload binary")
    return manifest.mapInPandas(
        decode,
        "doc_id bigint, width int, height int, bpp int, n_pixels bigint, "
        "c0_sum bigint, c1_sum bigint, c2_sum bigint",
    )


def _encode_wav(sample_rate: int, n_samples: int, text_bytes: bytes) -> bytes:
    """Build a REAL RIFF/WAVE file: canonical header, ``fmt `` chunk
    (PCM, mono, 16-bit), and a ``data`` chunk of little-endian int16
    samples cycling the document's codepoints
    (``(byte % 256) * 256 - 32768``). Odd sample counts get a LIST
    filler chunk between fmt and data, so a decoder that assumes fixed
    offsets instead of walking the chunk list fails loudly."""
    import struct

    import numpy as np

    src = np.frombuffer(text_bytes if text_bytes else b"\x00", dtype=np.uint8)
    samples = (
        np.resize(src, n_samples).astype(np.int32) * 256 - 32768
    ).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    filler = (
        struct.pack("<4sI4s", b"LIST", 4, b"INFO") if n_samples % 2 else b""
    )
    body = b"WAVE" + fmt + filler + struct.pack("<4sI", b"data", len(data)) + data
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def _wav_pcm(payload: bytes):
    """REAL byte-level WAV demux — no codec library: verify the
    RIFF/WAVE signature, WALK the chunk list (fmt may not be adjacent
    to data — real encoders emit LIST/INFO chunks between them), parse
    the PCM format fields. Returns (sample_rate, int16 sample array)."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(f"not a WAV payload (signature {payload[:4]!r})")
    pos, rate, bits, channels, samples = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid, sz = struct.unpack_from("<4sI", payload, pos)
        pos += 8
        if cid == b"fmt ":
            fmt_code, channels, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", payload, pos
            )
            if fmt_code != 1:
                raise ValueError(f"unsupported WAV encoding (format {fmt_code})")
        elif cid == b"data":
            samples = np.frombuffer(payload, dtype="<i2", count=sz // 2, offset=pos)
        pos += sz + (sz % 2)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("WAV missing fmt or data chunk")
    if bits != 16 or channels != 1:
        raise ValueError(f"unsupported WAV layout (bits={bits}, ch={channels})")
    return rate, samples


def _decode_wav(payload: bytes) -> tuple[int, int, int, int, int]:
    """Decode + reduce: (sample_rate, n_samples, duration_us,
    sum_samples, peak_abs) — the ``_wav_pcm`` demux plus aggregates."""
    import numpy as np

    rate, samples = _wav_pcm(payload)
    s64 = samples.astype(np.int64)
    return (
        rate,
        len(samples),
        len(samples) * 1_000_000 // rate,
        int(s64.sum()),
        int(np.abs(s64).max()) if len(s64) else 0,
    )


def mm_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END audio decode over binary payloads — the WAV sibling of
    ``mm_image_decode``: an Arrow-batched kernel renders each document
    as an actual RIFF/WAVE file (real chunk structure, PCM int16 mono,
    a LIST filler chunk on odd lengths), a second Arrow kernel DECODES
    those bytes back by walking the chunk list, and emits the stream
    geometry (rate, sample count, integer-µs duration) plus exact
    sample-array reductions. Swapping ``_decode_wav`` for soundfile/
    libsndfile is a one-function change — schema, batching, and
    partitioning are codec-agnostic.

    Scale shape: two chained ``mapInPandas`` kernels fuse into one
    narrow per-row stage — no shuffle, payload bytes never leave the
    executor.

    Oracle: sample count and rate derive from ``n_chars``/``doc_id``,
    samples cycle the text's codepoints, so DuckDB recomputes every
    decoded field from codepoint arithmetic alone — the compare fails
    if the decoder misreads any chunk header, skips word-alignment
    padding, or mis-signs a sample."""
    import pandas as pd  # noqa: F401 — required on executors

    docs = t_par(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            payloads = [
                _encode_wav(
                    8000 + int(d) % 3 * 4000,
                    int(n) % 50 + 20,
                    t.encode("utf-8"),
                )
                for d, n, t in zip(pdf["doc_id"], pdf["n_chars"], pdf["text"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            decoded = [_decode_wav(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": [d[0] for d in decoded],
                    "n_samples": [d[1] for d in decoded],
                    "duration_us": [d[2] for d in decoded],
                    "sum_samples": [d[3] for d in decoded],
                    "peak_abs": [d[4] for d in decoded],
                }
            )

    manifest = docs.mapInPandas(encode, "doc_id bigint, payload binary")
    return manifest.mapInPandas(
        decode,
        "doc_id bigint, sample_rate int, n_samples bigint, duration_us bigint, "
        "sum_samples bigint, peak_abs int",
    )


_RESAMPLE_K = 3  # integer decimation factor (keep every k-th sample)


_VAD_WIN = 16  # samples per energy window
_VAD_MEAN_ABS = 10000  # activity threshold (int16 absolute units)


def mm_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based voice-activity segmentation over the real WAV corpus
    — the pass a speech pipeline runs after decode/resample to keep only
    voiced spans (decode → resample → VAD closes the audio lifecycle):
    the PCM stream splits into 16-sample windows (_VAD_WIN), a window is
    ACTIVE when its mean absolute amplitude exceeds 10000 (_VAD_MEAN_ABS,
    exact integer compare sum_abs·1 > thresh·n), and adjacent active
    windows merge into segments (a transition count over the per-doc
    window sequence).

    Exactness: per-window Σ|x| is an exact integer from the demuxed
    int16 samples; activity and the segment transitions are integer
    logic; the single double is the per-doc peak window mean (one
    division, rounded 6).

    Scale shape: the kernel emits ≤ ⌈70/16⌉ windows per asset from one
    fused mapInPandas stage; the segment count is a per-doc window
    function over that bounded sequence, then one per-doc rollup.

    Oracle: samples cycle the text's codepoints, so DuckDB rebuilds
    every window's Σ|x| from codepoint arithmetic."""
    import pandas as pd  # noqa: F401 — required on executors

    docs = t_par(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "win_idx": [], "n_in": [], "sum_abs": []}
            for d, n, txt in zip(pdf["doc_id"], pdf["n_chars"], pdf["text"]):
                payload = _encode_wav(
                    8000 + int(d) % 3 * 4000,
                    int(n) % 50 + 20,
                    txt.encode("utf-8"),
                )
                _rate, samples = _wav_pcm(payload)
                a = np.abs(samples.astype(np.int64))
                for w in range(0, (len(a) + _VAD_WIN - 1) // _VAD_WIN):
                    seg = a[w * _VAD_WIN : (w + 1) * _VAD_WIN]
                    out["doc_id"].append(d)
                    out["win_idx"].append(w)
                    out["n_in"].append(len(seg))
                    out["sum_abs"].append(int(seg.sum()))
            yield pd.DataFrame(out)

    wins = docs.mapInPandas(
        kernel, "doc_id bigint, win_idx int, n_in int, sum_abs bigint"
    ).withColumn(
        "active", F.col("sum_abs") > F.lit(_VAD_MEAN_ABS) * F.col("n_in")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("win_idx")
    seg_start = (
        F.col("active")
        & ~F.coalesce(F.lag("active").over(w), F.lit(False))
    ).cast("int")
    return (
        wins.withColumn("seg_start", seg_start)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_windows"),
            F.sum(F.col("active").cast("int")).cast("int").alias("n_active"),
            F.sum("seg_start").cast("int").alias("n_segments"),
            F.round(
                F.max(
                    F.col("sum_abs").cast("double")
                    / F.col("n_in").cast("double")
                ),
                6,
            ).alias("peak_window_mean"),
        )
    )


def mm_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio RESAMPLING over binary payloads — the transform stage a
    training-data pipeline runs after decode (every speech model wants one
    canonical sample rate): each document's real RIFF/WAVE payload is
    decoded by the same chunk-walking parser as ``mm_wav_decode``, then
    integer-DECIMATED (keep every 3rd sample, _RESAMPLE_K — the exact,
    filterless downsample; a production resampler adds an anti-alias FIR
    in front, same batch shape) and the output stream's geometry + exact
    sample reductions are emitted. rate_out = rate // k, duration is
    preserved up to quantization.

    Scale shape: one ``mapInPandas`` chain — encode, decode, decimate all
    fuse into a single narrow per-row stage; no shuffle, payloads never
    leave the executor.

    Oracle: the kept samples are positions 1, k+1, 2k+1, … of the
    codepoint-cycled int16 series, so DuckDB recomputes count, sum, and
    peak from codepoint arithmetic alone."""
    import pandas as pd  # noqa: F401 — required on executors

    docs = t_par(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "rate_in": [], "rate_out": [],
                "n_in": [], "n_out": [], "sum_out": [], "peak_out": [],
            }
            for d, n, txt in zip(pdf["doc_id"], pdf["n_chars"], pdf["text"]):
                payload = _encode_wav(
                    8000 + int(d) % 3 * 4000, int(n) % 50 + 20, txt.encode("utf-8")
                )
                rate, n_in, _dur, _s, _p = _decode_wav(payload)
                # re-walk to get the raw samples (decode returns reductions)
                import struct

                pos, samples = 12, None
                while pos + 8 <= len(payload):
                    cid, sz = struct.unpack_from("<4sI", payload, pos)
                    pos += 8
                    if cid == b"data":
                        samples = np.frombuffer(
                            payload, dtype="<i2", count=sz // 2, offset=pos
                        )
                    pos += sz + (sz % 2)
                kept = samples[::_RESAMPLE_K].astype(np.int64)
                out["doc_id"].append(d)
                out["rate_in"].append(rate)
                out["rate_out"].append(rate // _RESAMPLE_K)
                out["n_in"].append(n_in)
                out["n_out"].append(len(kept))
                out["sum_out"].append(int(kept.sum()))
                out["peak_out"].append(int(np.abs(kept).max()) if len(kept) else 0)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        kernel,
        "doc_id bigint, rate_in int, rate_out int, n_in bigint, n_out bigint, "
        "sum_out bigint, peak_out int",
    )


def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-signature BLOCKING over binary payloads — the
    candidate-generation stage of multimodal near-dup detection: an
    Arrow-batched kernel computes each asset's 16-bucket byte histogram
    (``byte >> 4``); bit i of the signature is set when the asset's
    bucket-i share exceeds the CORPUS-GLOBAL share (the train-then-apply
    rule real perceptual hashes use — pHash thresholds DCT coefficients
    on the median; thresholding on the population statistic is what makes
    homogeneous corpora separate at all). Assets block on equal
    signatures; clusters of ≥ 2 are the candidates the decode-based
    verifier (``decode_frame``) would confirm.

    Determinism: the global shares are exact integer sums, and each bit
    is an integer CROSS-MULTIPLICATION (count_i · total_len >
    global_count_i · len) — no double ratios anywhere. Scale shape: two
    narrow Arrow passes (histogram, then signature against 17 broadcast
    integers — a bounded anchor), one signature-keyed partial agg. Never
    all-pairs.

    Oracle-checkable because payload bytes are the text's codepoints:
    DuckDB rebuilds every histogram and the global shares from
    ``unicode(c)`` counts."""
    import pandas as pd  # noqa: F401 — required on executors

    from ._cache import derived

    m = _manifest(t_par(spark, sf_dir, "documents")).select("doc_id", "payload")

    def hist16(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            hs, ls = [], []
            for b in pdf["payload"]:
                a = np.frombuffer(b, dtype=np.uint8)
                hs.append(np.bincount(a >> 4, minlength=16).astype(np.int64))
                ls.append(len(a))
            H = (
                np.stack(hs)
                if hs
                else np.zeros((0, 16), dtype=np.int64)
            )
            out = {"doc_id": pdf["doc_id"], "plen": ls}
            for i in range(16):
                out[f"c{i}"] = H[:, i]
            yield pd.DataFrame(out)

    schema = "doc_id bigint, plen bigint, " + ", ".join(
        f"c{i} bigint" for i in range(16)
    )
    hists = derived(
        "mm_phash_hists", sf_dir, ("documents",), lambda: m.mapInPandas(hist16, schema)
    )
    g = hists.agg(
        F.sum("plen").alias("tl"),
        *[F.sum(f"c{i}").alias(f"g{i}") for i in range(16)],
    ).head()
    sig_expr = None
    for i in range(16):
        term = F.when(
            F.col(f"c{i}") * F.lit(int(g["tl"])) > F.lit(int(g[f"g{i}"])) * F.col("plen"),
            F.lit(1 << i),
        ).otherwise(F.lit(0))
        sig_expr = term if sig_expr is None else sig_expr + term
    sigs = hists.select("doc_id", sig_expr.cast("int").alias("signature"))
    return (
        sigs.groupBy("signature")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_assets") >= 2)
        .orderBy(F.desc("n_assets"), F.asc("signature"))
    )


def mm_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup over binary payloads — the first pass every
    multimodal pipeline runs (identical bytes re-crawled under different
    ids): hash each payload (md5 here; sha256 in production — same plan),
    group by digest, emit one row per duplicate GROUP with the canonical
    survivor (min doc_id) and the bytes reclaimable by dropping the copies.
    The fixture has no byte-identical assets, so duplicates are INJECTED
    deterministically (every doc re-points its payload at the doc at
    ``doc_id - doc_id % 3`` — groups of up to 3), identically in both
    engines — the cur_pii_scrub make-it-verifiable rule.

    Scale shape: digesting is a narrow per-row map over the payload bytes;
    the group-by shuffles only (digest, doc_id, payload_len) — never the
    payloads; the perceptual-hash near-dup sibling swaps the digest column
    for a pHash and adds banding (dd_simhash shows that pattern) behind
    the same seam as ``decode_frame``."""
    docs = t(spark, sf_dir, "documents")
    redirected = (
        docs.select(
            "doc_id", (F.col("doc_id") - F.col("doc_id") % 3).alias("src_id")
        )
        .join(
            docs.select(F.col("doc_id").alias("src_id"), "text"), "src_id"
        )
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    return (
        redirected.select(
            "doc_id",
            F.md5("payload").alias("content_hash"),
            F.octet_length("payload").alias("n_bytes"),
        )
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
            ((F.count(F.lit(1)) - 1) * F.max("n_bytes")).alias(
                "reclaimable_bytes"
            ),
        )
        .filter(F.col("n_copies") >= 2)
    )


_SHARD_TARGET_BYTES = 8 * 1024  # fixture-sized; production uses ~1 GB tars


def mm_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard planning: assign every payload to a size-bounded
    shard (streaming packer: an asset lands in shard
    floor(prev_cumulative_bytes / target), so shards fill to the target and
    overflow by at most one asset) per format, and emit the shard manifest
    (asset count, byte size, doc-id range) a tar-writer consumes.

    Scale shape: one per-format cumulative-sum window (integer bytes —
    exact in both engines) + a partial-aggregated rollup. At 100 TB the
    window partitions by (format, ingest-bucket) so no single format
    serializes — the same per-shard bound the downstream tar writer needs
    anyway. Payload bytes themselves are never moved: the plan runs on
    octet_length only (column pruning keeps the binary column out of the
    scan)."""
    from pyspark.sql import Window

    m = _manifest(t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("media.format").alias("format"),
        F.octet_length("payload").alias("sz"),
    )
    w = (
        Window.partitionBy("format")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = m.withColumn(
        "shard",
        F.floor(
            F.coalesce(F.sum("sz").over(w), F.lit(0)) / F.lit(_SHARD_TARGET_BYTES)
        ).cast("long"),
    )
    return planned.groupBy("format", "shard").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("sz").cast("long").alias("shard_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


QUERIES = {
    "mm_image_decode": mm_image_decode,
    "mm_shard_plan": mm_shard_plan,
    "mm_manifest_stats": mm_manifest_stats,
    "mm_content_dedup": mm_content_dedup,
    "mm_decode_features": mm_decode_features,
    "mm_frame_sample_plan": mm_frame_sample_plan,
    "mm_phash_neardup": mm_phash_neardup,
    "mm_wav_decode": mm_wav_decode,
    "mm_video_decode": mm_video_decode,
    "mm_scene_cuts": mm_scene_cuts,
    "mm_audio_vad": mm_audio_vad,
    "mm_audio_resample": mm_audio_resample,
}

ORACLE = {
    # decoded geometry from the n_chars dimension rule; per-channel sums by
    # cycling the codepoint list over the flat pixel index (j % 3 = channel,
    # byte j = cp[(j % L) + 1]) — exactly what the BMP round-trip must yield
    "mm_image_decode": """
        WITH src AS (
            SELECT doc_id,
                   CAST(n_chars % 13 + 4 AS INTEGER) AS width,
                   CAST(n_chars % 7 + 4 AS INTEGER) AS height,
                   [unicode(c) for c in string_split(text, '') if c <> ''] AS cp
            FROM documents
        )
        SELECT doc_id, width, height, CAST(24 AS INTEGER) AS bpp,
               CAST(width * height AS BIGINT) AS n_pixels,
               CAST(CASE WHEN len(cp) = 0 THEN 0 ELSE list_reduce(
                   list_prepend(0, [cp[((i - 1) % len(cp)) + 1]
                       for i in range(1, width * height * 3 + 1)
                       if (i - 1) % 3 = 0]),
                   (a, x) -> a + x) END AS BIGINT) AS c0_sum,
               CAST(CASE WHEN len(cp) = 0 THEN 0 ELSE list_reduce(
                   list_prepend(0, [cp[((i - 1) % len(cp)) + 1]
                       for i in range(1, width * height * 3 + 1)
                       if (i - 1) % 3 = 1]),
                   (a, x) -> a + x) END AS BIGINT) AS c1_sum,
               CAST(CASE WHEN len(cp) = 0 THEN 0 ELSE list_reduce(
                   list_prepend(0, [cp[((i - 1) % len(cp)) + 1]
                       for i in range(1, width * height * 3 + 1)
                       if (i - 1) % 3 = 2]),
                   (a, x) -> a + x) END AS BIGINT) AS c2_sum
        FROM src
    """,
    # decoded stream geometry from the n_chars/doc_id rules; sample values
    # cycle the codepoint list (sample_j = cp[(j-1) % L + 1] * 256 - 32768,
    # text is pure ASCII so byte == codepoint) — exactly what the RIFF
    # round-trip must yield; duration is the same integer division
    "mm_wav_decode": """
        WITH src AS (
            SELECT doc_id,
                   CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
                   CAST(n_chars % 50 + 20 AS BIGINT) AS ns,
                   [unicode(c) for c in string_split(text, '') if c <> ''] AS cp
            FROM documents
        ), s AS (
            SELECT doc_id, sample_rate, ns,
                   CASE WHEN len(cp) = 0
                        THEN [-32768 for j in range(1, CAST(ns AS INTEGER) + 1)]
                        ELSE [cp[((j - 1) % len(cp)) + 1] * 256 - 32768
                              for j in range(1, CAST(ns AS INTEGER) + 1)]
                   END AS samples
            FROM src
        )
        SELECT doc_id, sample_rate, ns AS n_samples,
               CAST(ns * 1000000 // sample_rate AS BIGINT) AS duration_us,
               CAST(list_reduce(list_prepend(0, samples), (a, x) -> a + x)
                    AS BIGINT) AS sum_samples,
               CAST(list_reduce(list_prepend(0, [abs(x) for x in samples]),
                    (a, x) -> greatest(a, x)) AS INTEGER) AS peak_abs
        FROM s
    """,
    # decimated stream: kept samples are the 1st, (k+1)th, (2k+1)th, … of
    # the codepoint-cycled int16 series — exactly what decode + [::k] yields
    "mm_audio_resample": f"""
        WITH src AS (
            SELECT doc_id,
                   CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS rate_in,
                   CAST(n_chars % 50 + 20 AS BIGINT) AS ns,
                   [unicode(c) for c in string_split(text, '') if c <> ''] AS cp
            FROM documents
        ), s AS (
            SELECT doc_id, rate_in, ns,
                   CASE WHEN len(cp) = 0
                        THEN [-32768 for j in range(1, CAST(ns AS INTEGER) + 1)
                              if (j - 1) % {_RESAMPLE_K} = 0]
                        ELSE [cp[((j - 1) % len(cp)) + 1] * 256 - 32768
                              for j in range(1, CAST(ns AS INTEGER) + 1)
                              if (j - 1) % {_RESAMPLE_K} = 0]
                   END AS kept
            FROM src
        )
        SELECT doc_id, rate_in,
               CAST(rate_in // {_RESAMPLE_K} AS INTEGER) AS rate_out,
               ns AS n_in,
               CAST(len(kept) AS BIGINT) AS n_out,
               CAST(list_reduce(list_prepend(0, kept), (a, x) -> a + x)
                    AS BIGINT) AS sum_out,
               CAST(list_reduce(list_prepend(0, [abs(x) for x in kept]),
                    (a, x) -> greatest(a, x)) AS INTEGER) AS peak_out
        FROM s
    """,
    # decoded geometry from the n_chars/doc_id rules; frame f's pixel
    # bytes cycle the codepoints with PHASE f (byte j = cp[(f + j) % L]),
    # sampled at the every-3rd-frame cadence — exactly what the AVI
    # round-trip (headers → idx1 random access → DIB strip) must yield
    "mm_audio_vad": """
        WITH src AS (
            SELECT doc_id, CAST(n_chars % 50 + 20 AS INTEGER) AS ns,
                   [unicode(c) for c in string_split(text, '') if c <> ''] AS cp
            FROM documents
        ), wins AS (
            SELECT doc_id, ns, cp, CAST(t.w AS INTEGER) AS win_idx,
                   least(ns, (CAST(t.w AS INTEGER) + 1) * 16)
                       - CAST(t.w AS INTEGER) * 16 AS n_in
            FROM src, unnest(range(0, (ns + 15) // 16)) AS t(w)
        ), ws AS (
            SELECT doc_id, win_idx, n_in,
                   CAST(CASE WHEN len(cp) = 0 THEN 32768 * n_in
                        ELSE list_reduce(list_prepend(0,
                             [abs(cp[(((win_idx * 16 + j) - 1) % len(cp)) + 1]
                                  * 256 - 32768)
                              for j in range(1, n_in + 1)]),
                             (a, x) -> a + x)
                   END AS BIGINT) AS sum_abs
            FROM wins
        ), act AS (
            SELECT doc_id, win_idx, n_in, sum_abs,
                   sum_abs > 10000 * n_in AS active
            FROM ws
        ), seg AS (
            SELECT doc_id, n_in, sum_abs, active,
                   CASE WHEN active AND NOT coalesce(lag(active) OVER
                        (PARTITION BY doc_id ORDER BY win_idx), false)
                        THEN 1 ELSE 0 END AS seg_start
            FROM act
        )
        SELECT doc_id, CAST(count(*) AS INTEGER) AS n_windows,
               CAST(sum(CASE WHEN active THEN 1 ELSE 0 END) AS INTEGER)
                   AS n_active,
               CAST(sum(seg_start) AS INTEGER) AS n_segments,
               round(max(CAST(sum_abs AS DOUBLE) / CAST(n_in AS DOUBLE)), 6)
                   AS peak_window_mean
        FROM seg GROUP BY doc_id
    """,
    "mm_scene_cuts": """
        WITH src AS (
            SELECT doc_id,
                   CAST(n_chars % 9 + 4 AS INTEGER) AS width,
                   CAST(n_chars % 5 + 4 AS INTEGER) AS height,
                   CAST(doc_id % 5 + 4 AS INTEGER) AS n_frames,
                   [unicode(c) for c in string_split(text, '') if c <> ''] AS cp
            FROM documents
        ), pairs AS (
            SELECT doc_id, CAST(f - 1 AS INTEGER) AS frame_a,
                   CAST(f AS INTEGER) AS frame_b,
                   width * height * 3 AS npix, cp
            FROM src, unnest(range(1, CAST(n_frames AS BIGINT))) AS t(f)
        ), sads AS (
            SELECT doc_id, frame_a, frame_b, npix,
                   CAST(CASE WHEN len(cp) = 0 THEN 0 ELSE list_reduce(
                       list_prepend(0,
                           [abs(cp[((frame_b + i - 1) % len(cp)) + 1]
                                - cp[((frame_a + i - 1) % len(cp)) + 1])
                            for i in range(1, npix + 1)]),
                       (a, x) -> a + x) END AS BIGINT) AS sad
            FROM pairs
        )
        SELECT doc_id, frame_a, frame_b, sad,
               round(CAST(sad AS DOUBLE) / CAST(npix AS DOUBLE), 6) AS mad,
               sad > 33 * npix AS is_cut
        FROM sads
    """,
    "mm_video_decode": """
        WITH src AS (
            SELECT doc_id,
                   CAST(n_chars % 9 + 4 AS INTEGER) AS width,
                   CAST(n_chars % 5 + 4 AS INTEGER) AS height,
                   CAST(8 + (doc_id % 3) * 4 AS INTEGER) AS fps,
                   CAST(doc_id % 5 + 4 AS INTEGER) AS n_frames,
                   [unicode(c) for c in string_split(text, '') if c <> ''] AS cp
            FROM documents
        )
        SELECT doc_id,
               CAST(f AS INTEGER) AS frame_idx,
               width, height, fps, n_frames,
               CAST(CASE WHEN len(cp) = 0 THEN 0 ELSE list_reduce(
                   list_prepend(0, [cp[((f + i - 1) % len(cp)) + 1]
                       for i in range(1, width * height * 3 + 1)]),
                   (a, x) -> a + x) END AS BIGINT) AS px_sum
        FROM src, unnest(range(0, CAST(n_frames AS BIGINT), 3)) AS t(f)
    """,
    "mm_shard_plan": f"""
        WITH m AS (
            SELECT doc_id,
                   ['png', 'jpeg', 'wav'][CAST(doc_id % 3 + 1 AS INT)] AS format,
                   octet_length(encode(text)) AS sz
            FROM documents
        ), planned AS (
            SELECT format, doc_id, sz,
                   CAST(floor(coalesce(sum(sz) OVER (PARTITION BY format
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) / {_SHARD_TARGET_BYTES}) AS BIGINT) AS shard
            FROM m
        )
        SELECT format, shard,
               CAST(count(*) AS BIGINT) AS n_assets,
               CAST(sum(sz) AS BIGINT) AS shard_bytes,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM planned GROUP BY format, shard
    """,
    "mm_content_dedup": """
        WITH redirected AS (
            SELECT d.doc_id, s.text
            FROM (SELECT doc_id, doc_id - doc_id % 3 AS src_id
                  FROM documents) d
            JOIN documents s ON s.doc_id = d.src_id
        )
        SELECT md5(text) AS content_hash,
               count(*) AS n_copies,
               min(doc_id) AS canonical_doc_id,
               (count(*) - 1) * max(octet_length(CAST(text AS BLOB)))
                   AS reclaimable_bytes
        FROM redirected
        GROUP BY 1
        HAVING count(*) >= 2
    """,
    "mm_manifest_stats": """
        WITH m AS (
            SELECT doc_id,
                   ['png', 'jpeg', 'wav'][CAST(doc_id % 3 AS INTEGER) + 1] AS format,
                   CAST(n_chars % 640 + 16 AS INTEGER) AS width,
                   CAST(n_chars % 480 + 16 AS INTEGER) AS height,
                   octet_length(encode(text)) AS payload_len
            FROM documents
        )
        SELECT format, count(*) AS n_assets,
               CAST(sum(payload_len) AS BIGINT) AS total_bytes,
               round(avg(width), 4) AS avg_width,
               max(height) AS max_height
        FROM m GROUP BY format
    """,
    "mm_decode_features": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INTEGER) AS payload_len,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(unicode(c) AS BIGINT) for c in string_split(text, '') if c <> '']),
                   (a, x) -> a + x) AS byte_sum,
               CAST(list_reduce(list_prepend(0,
                   [unicode(c) for c in string_split(text, '') if c <> '']),
                   (a, x) -> greatest(a, x)) AS INTEGER) AS byte_max
        FROM documents
    """,
    "mm_phash_neardup": f"""
        WITH cps AS (
            SELECT doc_id,
                   [unicode(c) for c in string_split(text, '') if c <> '']
                       AS cp
            FROM documents
        ), g AS (
            SELECT CAST(sum(len(cp)) AS BIGINT) AS tl,
                   {", ".join(
                       f"CAST(sum(len([x for x in cp if x // 16 = {i}])) "
                       f"AS BIGINT) AS c{i}"
                       for i in range(16)
                   )}
            FROM cps
        ), sigs AS (
            SELECT doc_id,
                   CAST({" + ".join(
                       f"CASE WHEN len([x for x in cp if x // 16 = {i}]) * g.tl"
                       f" > g.c{i} * len(cp) THEN {1 << i} ELSE 0 END"
                       for i in range(16)
                   )} AS INTEGER) AS signature
            FROM cps CROSS JOIN g
        )
        SELECT signature,
               CAST(count(*) AS BIGINT) AS n_assets,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM sigs GROUP BY signature
        HAVING count(*) >= 2
        ORDER BY n_assets DESC, signature ASC
    """,
    "mm_frame_sample_plan": """
        WITH vids AS (
            SELECT doc_id, CAST((n_chars % 640 + 16) * 4 AS BIGINT) AS n_frames
            FROM documents WHERE doc_id % 3 = 2
        )
        SELECT doc_id, n_frames,
               CAST(ceil(n_frames / 24.0) AS BIGINT) AS n_sampled,
               CAST((n_frames - 1) // 24 * 24 AS BIGINT) AS last_frame
        FROM vids
    """,
}
