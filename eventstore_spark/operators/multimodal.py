"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The engine treats media as ``binary`` payload columns with a typed metadata
struct, processed by Arrow-batched ``mapInPandas`` operators. The Spark-side
plumbing (schema, batch iteration, partition sizing, UDF signatures) is
real and tested; the actual codec work (image decode, frame extraction) requires native libraries not present in this container and is
stubbed behind ``DECODERS`` — swap in real implementations (PIL/ffmpeg)
without touching the plan shape.

Scale notes: media rows are large — ``repartition`` by size budget before
mapInPandas so an Arrow batch stays within executor memory;
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch rows.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("meta", T.StructType([
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("duration_ms", T.LongType(), True),
        ]), True),
    ]
)


def _fake_decode_image(content: bytes) -> dict:
    """Deterministic stand-in for an image decoder: derives pseudo
    dimensions + a content digest from the bytes. Replace with PIL."""
    if content is None:
        return {"width": None, "height": None, "digest": None}
    h = hashlib.sha256(content).digest()
    return {
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "digest": h.hex()[:16],
    }


def _pil_decode_image(content: bytes) -> dict:  # pragma: no cover
    """Real image decode via Pillow — swapped into DECODERS at import when
    the library is present (it is not in this container; the deterministic
    stand-in remains the no-dependency fallback)."""
    import io

    from PIL import Image

    if content is None:
        return {"width": None, "height": None, "digest": None}
    with Image.open(io.BytesIO(content)) as im:
        return {
            "width": int(im.width),
            "height": int(im.height),
            "digest": hashlib.sha256(content).hexdigest()[:16],
        }


def _soundfile_decode_audio(content: bytes) -> dict:  # pragma: no cover
    """Real audio probe via soundfile (libsndfile) — swapped in at import
    when available. Maps (frames, samplerate) onto the feature shape:
    width=channels, height=samplerate//100 (bounded int)."""
    import io

    import soundfile as sf

    if content is None:
        return {"width": None, "height": None, "digest": None}
    info = sf.info(io.BytesIO(content))
    return {
        "width": int(info.channels),
        "height": int(info.samplerate // 100),
        "digest": hashlib.sha256(content).hexdigest()[:16],
    }


def _stdlib_decode_audio(content: bytes) -> dict:
    """REAL WAV decode via the stdlib ``wave`` module (no third-party
    codec needed): channels and samplerate come from the actual RIFF
    header, mapped onto the feature shape exactly like the soundfile
    path (width=channels, height=samplerate//100). Non-WAV audio bytes
    fall back to the deterministic stand-in — same dispatch a mixed
    corpus needs anyway."""
    import io
    import wave as _wave

    if content is None:
        return {"width": None, "height": None, "digest": None}
    try:
        with _wave.open(io.BytesIO(content)) as w:
            return {
                "width": int(w.getnchannels()),
                "height": int(w.getframerate() // 100),
                "digest": hashlib.sha256(content).hexdigest()[:16],
            }
    except Exception:
        return _fake_decode_image(content)


_MAX_INFLATED_BYTES = 256 << 20  # decompression-bomb ceiling (round-8 review)


def _stdlib_decode_image(content: bytes) -> dict:
    """REAL PNG decode with stdlib only: dimensions from the IHDR chunk
    and the concatenated IDAT stream actually INFLATED (zlib, in
    bounded chunks with a hard output ceiling — a crafted 1000:1
    deflate bomb cannot OOM the executor). A structurally-valid PNG
    whose pixel stream is corrupt or oversized is REJECTED with null
    dimensions (digest kept, so it stays identifiable/quarantinable).
    Non-PNG image bytes fall back to the deterministic stand-in
    (Pillow, when installed, replaces this with an any-format
    decoder)."""
    import io
    import struct
    import zlib

    if content is None:
        return {"width": None, "height": None, "digest": None}
    if len(content) < 33 or content[:8] != b"\x89PNG\r\n\x1a\n":
        return _fake_decode_image(content)
    rejected = {"width": None, "height": None,
                "digest": hashlib.sha256(content).hexdigest()[:16]}
    try:
        buf = io.BytesIO(content[8:])
        width = height = None
        idat = bytearray()
        while True:
            head = buf.read(8)
            if len(head) < 8:
                break
            (length,), ctype = struct.unpack(">I", head[:4]), head[4:8]
            data = buf.read(length)
            buf.read(4)  # CRC
            if ctype == b"IHDR":
                width, height = struct.unpack(">II", data[:8])
            elif ctype == b"IDAT":
                idat.extend(data)
            elif ctype == b"IEND":
                break
        if width is None or not idat:
            return _fake_decode_image(content)
        # PNG spec bounds dimensions to 2^31-1; anything outside (or a
        # zero dimension) is hostile metadata, not a decodable image
        if not (0 < width < 1 << 31 and 0 < height < 1 << 31):
            return rejected
        # streaming inflate with a hard output cap — never materialize
        # an attacker-chosen number of bytes
        dec = zlib.decompressobj()
        total = 0
        src = bytes(idat)
        pos = 0
        while pos < len(src) and not dec.eof:
            chunk = dec.decompress(src[pos:pos + (1 << 20)], 1 << 20)
            pos += 1 << 20
            total += len(chunk)
            while dec.unconsumed_tail and not dec.eof:
                chunk = dec.decompress(dec.unconsumed_tail, 1 << 20)
                total += len(chunk)
                if total > _MAX_INFLATED_BYTES:
                    return rejected
            if total > _MAX_INFLATED_BYTES:
                return rejected
        dec.flush()
        if not dec.eof:
            # deflate stream never reached its final block — truncated
            # or corrupted pixel data (chunked decompressobj does not
            # raise for this the way whole-buffer decompress does)
            return rejected
        return {
            "width": int(width),
            "height": int(height),
            "digest": hashlib.sha256(content).hexdigest()[:16],
        }
    except Exception:
        # valid PNG container, corrupt pixel stream -> rejected
        return rejected


DECODERS = {
    "image": _stdlib_decode_image,
    "audio": _stdlib_decode_audio,
    "video": _fake_decode_image,
}

# import-probe the real codec seam: prefer genuine library decoders when
# the environment carries them; otherwise the stdlib decoders above give
# REAL WAV/PNG handling with deterministic stand-ins for other formats
# (executors must make the same choice as the driver — both probe at import,
# and a mixed cluster would be a deployment error, not a runtime branch).
try:  # pragma: no cover - container has no PIL
    import PIL  # noqa: F401

    DECODERS["image"] = _pil_decode_image
except ImportError:
    pass
try:  # pragma: no cover - container has no soundfile
    import soundfile  # noqa: F401

    DECODERS["audio"] = _soundfile_decode_audio
except ImportError:
    pass

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("digest", T.StringType()),
    ]
)


def extract_media_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow batches of binary)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                content = bytes(r.content) if r.content is not None else None
                d = DECODERS[r.kind](content)
                rows.append(
                    (r.media_id, r.kind, len(content) if content else 0,
                     d["width"], d["height"], d["digest"])
                )
            yield pd.DataFrame(rows, columns=[f.name for f in _FEATURES_SCHEMA.fields])

    # project to exactly the columns the function reads BEFORE the Python
    # boundary (r13-opt, guide §4): Spark cannot see inside mapInPandas,
    # so without the select every media column (metadata struct included)
    # would cross JVM→Arrow→Python per row
    return media.select("media_id", "kind", "content").mapInPandas(
        run, _FEATURES_SCHEMA)


def exact_media_dedup(media: DataFrame) -> DataFrame:
    """Exact binary dedup: sha2 over content, JVM-side (no decode)."""
    return (
        media.withColumn("content_hash", F.sha2(F.col("content"), 256))
        .groupBy("content_hash")
        .agg(
            F.min("media_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


# ---------------------------------------------------------------------------
# Frame sampling (video) — one-to-many plumbing
# ---------------------------------------------------------------------------

FRAME_INTERVAL_MS = 1000

_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("frame_digest", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def _fake_duration_ms(content: bytes) -> int:
    """Deterministic stand-in for container-header probing (ffprobe):
    1-5 seconds derived from the content digest."""
    h = hashlib.sha256(content).digest()
    return 1000 * (1 + h[2] % 5)


def _fake_extract_frame(content: bytes, idx: int) -> str:
    """Deterministic stand-in for an ffmpeg frame grab: a digest standing
    in for the frame's pixels. Replace with a real decoder."""
    return hashlib.sha256(content + b":" + str(idx).encode()).hexdigest()[:16]


def sample_frames(media: DataFrame,
                  interval_ms: int = FRAME_INTERVAL_MS) -> DataFrame:
    """Video frame sampling: one row PER FRAME at a fixed interval — the
    one-to-many mapInPandas shape (a 2-hour video explodes to ~7k rows
    inside the executor, never on the driver). Duration comes from the
    metadata struct when present, else from the (stubbed) header probe;
    frame extraction itself is the documented decoder stub."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.kind != "video" or r.content is None:
                    continue
                content = bytes(r.content)
                meta_dur = r.meta.get("duration_ms") if isinstance(r.meta, dict) else None
                duration = int(meta_dur) if meta_dur is not None else _fake_duration_ms(content)
                for idx in range(max(duration // interval_ms, 1)):
                    rows.append(
                        (r.media_id, idx, idx * interval_ms,
                         _fake_extract_frame(content, idx), duration)
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in _FRAMES_SCHEMA.fields])

    # non-video rows were shipped to Python only to be skipped there —
    # filter kind JVM-side and prune to the read columns before the
    # boundary (r13-opt, guide §4); the in-loop guard stays as defense
    return (
        media.where((F.col("kind") == "video") & F.col("content").isNotNull())
        .select("media_id", "kind", "content", "meta")
        .mapInPandas(run, _FRAMES_SCHEMA)
    )


_CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("chunk_idx", T.LongType()),
        T.StructField("start_ms", T.LongType()),
        T.StructField("end_ms", T.LongType()),
        T.StructField("chunk_digest", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def segment_audio(media: DataFrame, chunk_ms: int = 250) -> DataFrame:
    """Audio segmentation: fixed windows of ``chunk_ms`` over each audio
    track — the ASR/feature-extraction pre-step. Same one-to-many
    mapInPandas plumbing as ``sample_frames``; the last chunk is clipped
    to the track end. Waveform slicing is the documented decoder stub
    (the digest stands in for the chunk's samples)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.kind != "audio" or r.content is None:
                    continue
                content = bytes(r.content)
                meta_dur = r.meta.get("duration_ms") if isinstance(r.meta, dict) else None
                duration = int(meta_dur) if meta_dur is not None else _fake_duration_ms(content)
                n = max(-(-duration // chunk_ms), 1)
                for idx in range(n):
                    start = idx * chunk_ms
                    rows.append(
                        (r.media_id, idx, start, min(start + chunk_ms, duration),
                         _fake_extract_frame(content, idx), duration)
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in _CHUNKS_SCHEMA.fields])

    # same boundary discipline as sample_frames (r13-opt, guide §4)
    return (
        media.where((F.col("kind") == "audio") & F.col("content").isNotNull())
        .select("media_id", "kind", "content", "meta")
        .mapInPandas(run, _CHUNKS_SCHEMA)
    )


# JPEG SOFn marker codes that carry frame dimensions (ITU T.81 B.2.2):
# baseline/extended/progressive/lossless + their arithmetic-coded twins.
_JPEG_SOF = ["C0", "C1", "C2", "C3", "C5", "C6", "C7", "C9", "CA", "CB",
             "CD", "CE", "CF"]
# standalone markers with no length field (RSTn, SOI, TEM)
_JPEG_BARE = ["D0", "D1", "D2", "D3", "D4", "D5", "D6", "D7", "D8", "01"]

SNIFF_PREFIX_BYTES = 4096  # header walk budget per blob (see docstring)


def _sniff_jpeg_dims(hx):
    """Walk JPEG segments ([FF marker][len16 BE] chains) in a bounded
    JVM-side fold until a SOFn frame header yields (width, height).
    ``hx`` is the upper-hex of the blob prefix; offsets are 1-based bytes.
    Returns a struct<w,h> column (nulls when no SOF in the prefix)."""

    def at(off, nbytes):  # hex substring at byte offset `off` (Column)
        return F.substr(hx, (off - 1) * 2 + 1, F.lit(2 * nbytes))

    def be(off, nbytes):
        return F.conv(at(off, nbytes), 16, 10).cast("long")

    nil = F.lit(None).cast("long")

    def st(off, w, h):
        return F.struct(off.alias("off"), w.alias("w"), h.alias("h"))

    def step(acc, _):
        off = acc["off"]
        done = acc["w"].isNotNull() | (off < 0) | (off * 2 >= F.length(hx))
        mk, code = at(off, 1), at(off + 1, 1)
        # SOF payload: [len 2][precision 1][height 2][width 2] → height at
        # marker+5, width at marker+7
        advanced = (
            F.when(mk != "FF", st(F.lit(-1).cast("long"), nil, nil))
            .when(code == "FF", st(off + 1, nil, nil))  # fill byte
            .when(code.isin(_JPEG_SOF),
                  st(F.lit(-1).cast("long"), be(off + 7, 2), be(off + 5, 2)))
            .when(code.isin(_JPEG_BARE), st(off + 2, nil, nil))
            .when(code.isin(["D9", "DA"]),  # EOI / SOS: scan data follows
                  st(F.lit(-1).cast("long"), nil, nil))
            .otherwise(st(off + 2 + be(off + 2, 2), nil, nil))
        )
        return F.when(done, acc).otherwise(advanced)

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(32)),  # ≥ segments reachable in prefix
        st(F.lit(3).cast("long"), nil, nil),  # first marker after FFD8
        step,
        lambda acc: F.struct(acc["w"].alias("w"), acc["h"].alias("h")),
    )


def _sniff_mp4_duration_ms(hx):
    """ISO-BMFF walk: top-level boxes → ``moov`` → child boxes → ``mvhd``
    → duration_ms = duration * 1000 / timescale (version 0 and 1 layouts).
    Bounded folds over [size(BE32)][type(4CC)] chains; a moov that sits
    beyond the sniffed prefix (non-faststart files put it after mdat)
    yields null rather than a wrong answer."""

    def at(off, nbytes):
        return F.substr(hx, (off - 1) * 2 + 1, F.lit(2 * nbytes))

    def be(off, nbytes):
        return F.conv(at(off, nbytes), 16, 10).cast("long")

    nil = F.lit(None).cast("long")

    def walk(start, fourcc_hex, iters=8):
        """Fold over sibling boxes from byte offset ``start`` (Column);
        returns the matching box's offset or null. Bails on size<8
        (64-bit extended sizes / size-to-EOF) instead of guessing."""

        def st(off, hit):
            return F.struct(off.alias("off"), hit.alias("hit"))

        def step(acc, _):
            off = acc["off"]
            done = acc["hit"].isNotNull() | (off < 0) | (off * 2 >= F.length(hx))
            size = be(off, 4)
            found = at(off + 4, 4) == fourcc_hex
            advanced = (
                F.when(found, st(F.lit(-1).cast("long"), off))
                .when(size < 8, st(F.lit(-1).cast("long"), nil))
                .otherwise(st(off + size, nil))
            )
            return F.when(done, acc).otherwise(advanced)

        return F.aggregate(
            F.sequence(F.lit(1), F.lit(iters)), st(start, nil), step,
            lambda acc: acc["hit"],
        )

    moov = walk(F.lit(1).cast("long"), "6D6F6F76")          # 'moov'
    mvhd = walk(moov + 8, "6D766864")                        # 'mvhd'
    ver = be(mvhd + 8, 1)
    # mvhd v0: [ver/flags 4][ctime 4][mtime 4][timescale 4][duration 4]
    # mvhd v1: [ver/flags 4][ctime 8][mtime 8][timescale 4][duration 8]
    ts = F.when(ver == 1, be(mvhd + 28, 4)).otherwise(be(mvhd + 20, 4))
    dur_hex = F.when(ver == 1, at(mvhd + 32, 8)).otherwise(at(mvhd + 24, 4))
    unknown = dur_hex.isin(["FFFFFFFF", "FFFFFFFFFFFFFFFF"])  # spec sentinel
    dur = F.conv(dur_hex, 16, 10).cast("long")
    return F.when(
        moov.isNotNull() & mvhd.isNotNull() & (ts > 0) & ~unknown,
        F.floor(dur * 1000 / ts).cast("long"),
    ).otherwise(nil)


def _sniff_wav_fields(hx):
    """RIFF chunk walk ([4CC][size LE32][payload, even-padded] chains
    after 'WAVE'): locate 'fmt ' and 'data' wherever they sit (LIST/fact
    chunks may precede them) and return a struct<channels, sample_rate,
    duration_ms> with duration = data_size * 1000 / byte_rate."""

    def at(off, nbytes):
        return F.substr(hx, (off - 1) * 2 + 1, F.lit(2 * nbytes))

    def le(off, nbytes):  # little-endian uint at Column offset
        parts = [F.substr(hx, (off - 1 + i) * 2 + 1, F.lit(2))
                 for i in reversed(range(nbytes))]
        return F.conv(F.concat(*parts), 16, 10).cast("long")

    nil = F.lit(None).cast("long")

    def find_chunk(fourcc_hex):
        def st(off, hit):
            return F.struct(off.alias("off"), hit.alias("hit"))

        def step(acc, _):
            off = acc["off"]
            done = acc["hit"].isNotNull() | (off < 0) | (off * 2 >= F.length(hx))
            size = le(off + 4, 4)
            found = at(off, 4) == fourcc_hex
            advanced = (
                F.when(found, st(F.lit(-1).cast("long"), off))
                # even-padding: chunks start on even boundaries
                .otherwise(st(off + 8 + size + size % 2, nil))
            )
            return F.when(done, acc).otherwise(advanced)

        return F.aggregate(
            F.sequence(F.lit(1), F.lit(8)),
            st(F.lit(13).cast("long"), nil),  # first chunk after 'WAVE'
            step,
            lambda acc: acc["hit"],
        )

    fmt = find_chunk("666D7420")   # 'fmt '
    data = find_chunk("64617461")  # 'data'
    byte_rate = le(fmt + 16, 4)    # fmt payload +8
    data_size = le(data + 4, 4)
    return F.struct(
        F.when(fmt.isNotNull(), le(fmt + 10, 2)).otherwise(nil).alias("channels"),
        F.when(fmt.isNotNull(), le(fmt + 12, 4)).otherwise(nil).alias("sample_rate"),
        F.when(
            fmt.isNotNull() & data.isNotNull() & (byte_rate > 0),
            F.floor(data_size * 1000 / byte_rate).cast("long"),
        ).otherwise(nil).alias("duration_ms"),
    )


def sniff_media_headers(media: DataFrame, content_col: str = "content",
                        id_col: str = "media_id") -> DataFrame:
    """REAL (non-stubbed) container-format sniffing — no codecs needed:
    magic bytes and header fields parsed with JVM hex arithmetic. Covered:
    PNG (IHDR big-endian dims), GIF (little-endian dims), WAV (RIFF chunk
    walk: fmt channels + sample rate, data-size/byte-rate duration), JPEG
    (SOFn dims via a bounded segment walk) and MP4/ISO-BMFF (mvhd
    duration via a bounded box walk). Anything else surfaces as 'unknown'
    with null fields.

    Scale shape: a 32-byte prefix covers the fixed-offset formats; the
    JPEG/MP4 walks hex at most SNIFF_PREFIX_BYTES per blob and ONLY for
    rows whose magic matched (CASE WHEN branches evaluate lazily inside
    codegen), as bounded ``aggregate`` folds — still one codegen'd
    projection, no Python, no decode. A JPEG whose SOF lies past the
    prefix (oversized EXIF) or a non-faststart MP4 (moov after mdat)
    reports null fields rather than a wrong answer — raise
    SNIFF_PREFIX_BYTES for those corpora. Returns (media_id, format,
    width, height, channels, sample_rate, duration_ms)."""
    hx = F.upper(F.hex(F.expr(f"substring({content_col}, 1, 32)")))
    big = F.upper(F.hex(F.expr(
        f"substring({content_col}, 1, {SNIFF_PREFIX_BYTES})"
    )))

    def be(off: int, n: int):  # big-endian uint at 1-based byte offset
        return F.conv(F.substring(hx, 2 * (off - 1) + 1, 2 * n), 16, 10).cast("long")

    def le(off: int, n: int):  # little-endian uint
        parts = [F.substring(hx, 2 * (off - 1 + i) + 1, 2) for i in reversed(range(n))]
        return F.conv(F.concat(*parts), 16, 10).cast("long")

    is_png = F.substring(hx, 1, 16) == "89504E470D0A1A0A"
    is_gif = F.substring(hx, 1, 8) == "47494638"  # GIF87a / GIF89a
    is_wav = (F.substring(hx, 1, 8) == "52494646") & (
        F.substring(hx, 17, 8) == "57415645"
    )
    is_jpeg = F.substring(hx, 1, 6) == "FFD8FF"
    is_mp4 = F.substring(hx, 9, 8) == "66747970"  # 'ftyp' at byte 5
    null = F.lit(None).cast("long")
    jpeg = F.when(is_jpeg, _sniff_jpeg_dims(big))
    wav = F.when(is_wav, _sniff_wav_fields(big))
    return media.select(
        F.col(id_col).alias("media_id"),
        F.when(is_png, F.lit("png")).when(is_gif, F.lit("gif"))
        .when(is_wav, F.lit("wav")).when(is_jpeg, F.lit("jpeg"))
        .when(is_mp4, F.lit("mp4"))
        .otherwise(F.lit("unknown")).alias("format"),
        F.when(is_png, be(17, 4)).when(is_gif, le(7, 2))
        .when(is_jpeg, jpeg["w"]).otherwise(null).alias("width"),
        F.when(is_png, be(21, 4)).when(is_gif, le(9, 2))
        .when(is_jpeg, jpeg["h"]).otherwise(null).alias("height"),
        F.when(is_wav, wav["channels"]).otherwise(null).alias("channels"),
        F.when(is_wav, wav["sample_rate"]).otherwise(null).alias("sample_rate"),
        F.when(is_mp4, _sniff_mp4_duration_ms(big))
        .when(is_wav, wav["duration_ms"]).otherwise(null)
        .alias("duration_ms"),
    )
