"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata — exactly
how this engine treats ``html`` (the reference's analog: image files as
opaque inputs dispatched by extension/magic, one_key_process.py:664,
optimized_ocr_processor.py:91-115).

The Spark-side plumbing here is REAL and tested: schemas, Arrow batch shape,
partition-parallel ``mapInPandas``, magic-byte sniffing, byte accounting,
content hashing. Image DIMENSIONS are real too: ``parse_image_header``
reads PNG IHDR / JPEG SOF / GIF LSD headers in pure Python (no decode
library), so ``media_features``/``image_resize`` report header-true
width/height for actual image payloads on any box. Only PIXEL work —
resampling bytes, video frame extraction — remains a clearly marked STUB
(the sandbox has no PIL/ffmpeg): those paths fall back to a deterministic
fake (documented) so the pipeline shape is exercisable end-to-end.
Swapping in a real decoder changes ONE function.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_FEATURES_SCHEMA = (
    "id string, n_bytes long, kind string, sha256_prefix string, "
    "width int, height int, decoder string"
)

_MAGIC = (
    (b"\xff\xd8\xff", "jpeg"),
    (b"\x89PNG\r\n\x1a\n", "png"),
    (b"GIF8", "gif"),
    (b"RIFF", "riff"),        # wav/avi/webp container
    (b"%PDF", "pdf"),
    (b"\x1a\x45\xdf\xa3", "webm"),
    (b"ID3", "mp3"),
    (b"OggS", "ogg"),
)


def sniff_kind(data: bytes) -> str:
    for magic, kind in _MAGIC:
        if data[: len(magic)] == magic:
            return kind
    head = data[:256].lstrip()[:16].lower()
    if head.startswith((b"<!doctype", b"<html", b"<")):
        return "html"
    return "unknown"


def parse_image_header(data: bytes) -> tuple[int, int] | None:
    """Pure-Python image dimension extraction from container headers —
    no decode library needed, works on any box. Handles PNG (IHDR),
    JPEG (first SOF0/1/2/... frame header), and GIF (logical screen
    descriptor). Returns None when the payload is not a recognized
    image or the header is truncated/corrupt.

    This is the production metadata fast path regardless of decoder
    availability: at crawl scale you want width/height without
    decompressing pixels, exactly like parquet footer stats vs a full
    scan. Full pixel decode (resampling, frame extraction) still
    requires Pillow/ffmpeg and stays behind the disclosed stub."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        # 8-byte signature, 4-byte chunk length, b"IHDR", then w/h u32be
        if len(data) >= 24 and data[12:16] == b"IHDR":
            w = int.from_bytes(data[16:20], "big")
            h = int.from_bytes(data[20:24], "big")
            return (w, h) if w > 0 and h > 0 else None
        return None
    if data[:4] in (b"GIF8", b"GIF9") and len(data) >= 10:
        w = int.from_bytes(data[6:8], "little")
        h = int.from_bytes(data[8:10], "little")
        return (w, h) if w > 0 and h > 0 else None
    if data[:3] == b"\xff\xd8\xff":
        # walk marker segments to the first start-of-frame header
        i, n = 2, len(data)
        while i + 4 <= n:
            if data[i] != 0xFF:
                return None
            marker = data[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone marker, no length field
                continue
            seg_len = int.from_bytes(data[i + 2:i + 4], "big")
            if seg_len < 2:
                return None
            # SOF0-SOF15 minus DHT(C4)/JPG(C8)/DAC(CC): [prec, h u16, w u16]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 > n:
                    return None
                h = int.from_bytes(data[i + 5:i + 7], "big")
                w = int.from_bytes(data[i + 7:i + 9], "big")
                return (w, h) if w > 0 and h > 0 else None
            i += 2 + seg_len
        return None
    return None


# MPEG-1 Layer III bitrate table (kbps) indexed by the 4-bit bitrate field,
# and the 2-bit sample-rate table — public header layout (ISO/IEC 11172-3)
_MP3_BITRATES_KBPS = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                      160, 192, 224, 256, 320, 0)
_MP3_SAMPLE_RATES = (44100, 48000, 32000, 0)


def _ebml_vint(data: bytes, i: int, hi: int, strip_marker: bool):
    """EBML variable-length integer at ``i``: (value, next_i, n_bytes) or
    None on truncation/invalid. Element IDs keep their marker bits
    (matching the spec's ID constants); sizes strip them."""
    if i >= hi:
        return None
    b0 = data[i]
    if b0 == 0:
        return None
    length = 9 - b0.bit_length()
    if i + length > hi:
        return None
    val = (b0 & ((1 << (8 - length)) - 1)) if strip_marker else b0
    for j in range(1, length):
        val = (val << 8) | data[i + j]
    return val, i + length, length


def _ebml_children(data: bytes, lo: int, hi: int):
    """Yield (element_id, payload_lo, payload_hi) for the EBML elements in
    [lo, hi). All-ones sizes (unknown — streamed Segments use them) and
    truncated tails clamp to ``hi``; malformed headers end the walk."""
    i = lo
    while i < hi:
        rid = _ebml_vint(data, i, hi, strip_marker=False)
        if rid is None:
            return
        eid, i2, _ = rid
        rsz = _ebml_vint(data, i2, hi, strip_marker=True)
        if rsz is None:
            return
        size, i3, slen = rsz
        if size == (1 << (7 * slen)) - 1:  # unknown size -> to scope end
            size = hi - i3
        yield eid, i3, min(i3 + size, hi)
        i = i3 + size


def _parse_matroska(data: bytes) -> dict | None:
    """Matroska/WebM container duration from the EBML structures alone:
    EBML header DocType picks the kind, Segment>Info>Duration (float)
    scaled by TimestampScale (ns/tick, default 10^6) gives milliseconds.
    None when the captured bytes carry no Info/Duration (e.g. a live
    stream or a head-only fetch) — the caller's deterministic-stub
    fallback handles those."""
    import struct

    n = len(data)
    doctype = "matroska"
    timescale = 1_000_000
    duration = None
    for eid, lo, hi in _ebml_children(data, 0, n):
        if eid == 0x1A45DFA3:  # EBML header
            for cid, clo, chi in _ebml_children(data, lo, hi):
                if cid == 0x4282 and chi > clo:  # DocType
                    doctype = (
                        data[clo:chi].split(b"\x00")[0]
                        .decode("ascii", "replace")
                    )
        elif eid == 0x18538067:  # Segment
            for cid, clo, chi in _ebml_children(data, lo, hi):
                if cid == 0x1549A966:  # Info
                    for iid, ilo, ihi in _ebml_children(data, clo, chi):
                        if iid == 0x2AD7B1 and ihi > ilo:  # TimestampScale
                            timescale = (
                                int.from_bytes(data[ilo:ihi], "big")
                                or timescale
                            )
                        elif iid == 0x4489:  # Duration (float32/64, ticks)
                            raw = data[ilo:ihi]
                            if len(raw) == 4:
                                duration = struct.unpack(">f", raw)[0]
                            elif len(raw) == 8:
                                duration = struct.unpack(">d", raw)[0]
    if duration is None or duration < 0:
        return None
    return {
        "kind": "webm" if doctype == "webm" else "mkv",
        "duration_ms": int(duration * timescale / 1_000_000),
        "sample_rate": 0,
        "channels": 0,
    }


def parse_av_header(data: bytes) -> dict | None:
    """Pure-Python audio/video CONTAINER-header metadata — the A/V twin of
    ``parse_image_header``: duration / sample rate / channels read straight
    from the container structures (RIFF/WAVE fmt+data chunks, ISO-BMFF
    moov/mvhd, MPEG-1 Layer III frame header), no sample/pixel decode and
    no media library. At crawl scale this IS the production metadata path:
    you want "is this a 3-second jingle or a 4-hour stream" without
    decompressing a single sample, exactly like parquet footer stats vs a
    full scan. Returns ``{kind, duration_ms, sample_rate, channels}`` or
    None for unrecognized/truncated payloads (never throws).

    MP4 duration comes from the movie header (mvhd timescale+duration;
    sample_rate/channels are track-level and reported as 0 here). MP3
    duration is the standard CBR estimate payload_bytes*8/bitrate — exact
    for CBR files, the disclosed industry approximation for VBR without a
    Xing header. Matroska/WebM duration comes from the EBML
    Segment>Info>Duration scaled by TimestampScale (kind follows the EBML
    DocType: 'webm' vs 'mkv'); MPEG-TS duration is the PCR span across
    the available 188-byte packets at the 27 MHz program clock (0 when
    the captured slice carries no PCR — the container is still
    identified). All header-only, O(header bytes) / O(n/188)."""
    n = len(data)
    # --- RIFF/WAVE: walk word-aligned chunks for fmt + data ---------------
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        i = 12
        sample_rate = channels = byte_rate = 0
        data_size = None
        while i + 8 <= n:
            cid = data[i:i + 4]
            clen = int.from_bytes(data[i + 4:i + 8], "little")
            if cid == b"fmt " and i + 24 <= n:
                channels = int.from_bytes(data[i + 10:i + 12], "little")
                sample_rate = int.from_bytes(data[i + 12:i + 16], "little")
                byte_rate = int.from_bytes(data[i + 16:i + 20], "little")
            elif cid == b"data":
                data_size = clen
            i += 8 + clen + (clen & 1)
        if sample_rate > 0 and byte_rate > 0 and data_size is not None:
            return {"kind": "wav",
                    "duration_ms": data_size * 1000 // byte_rate,
                    "sample_rate": sample_rate, "channels": channels}
        return None
    # --- ISO-BMFF (mp4/mov/m4a): top-level boxes -> moov -> mvhd ----------
    if n >= 12 and data[4:8] == b"ftyp":

        def walk(lo: int, hi: int, depth: int) -> dict | None:
            i = lo
            while i + 8 <= hi:
                size = int.from_bytes(data[i:i + 4], "big")
                typ = data[i + 4:i + 8]
                hdr = 8
                if size == 1:  # 64-bit largesize
                    if i + 16 > hi:
                        return None
                    size = int.from_bytes(data[i + 8:i + 16], "big")
                    hdr = 16
                elif size == 0:  # box extends to end of enclosing scope
                    size = hi - i
                if size < hdr or i + size > hi:
                    return None
                if typ == b"moov" and depth == 0:
                    found = walk(i + hdr, i + size, 1)
                    if found is not None:
                        return found
                if typ == b"mvhd" and depth == 1:
                    p = i + hdr
                    if p >= hi:
                        return None
                    version = data[p]
                    if version == 1 and p + 32 <= hi:
                        ts = int.from_bytes(data[p + 20:p + 24], "big")
                        dur = int.from_bytes(data[p + 24:p + 32], "big")
                    elif version == 0 and p + 20 <= hi:
                        ts = int.from_bytes(data[p + 12:p + 16], "big")
                        dur = int.from_bytes(data[p + 16:p + 20], "big")
                    else:
                        return None
                    if ts <= 0:
                        return None
                    return {"kind": "mp4", "duration_ms": dur * 1000 // ts,
                            "sample_rate": 0, "channels": 0}
                i += size
            return None

        return walk(0, n, 0)
    # --- Matroska / WebM (EBML): Segment > Info > TimestampScale+Duration -
    if data[:4] == b"\x1a\x45\xdf\xa3":
        return _parse_matroska(data)
    # --- MPEG-TS: >=2 sync-aligned 188-byte packets, PCR span -> duration -
    if n >= 2 * 188 and data[0] == 0x47 and data[188] == 0x47:
        first = last = None
        for p in range(0, n - 187, 188):
            if data[p] != 0x47:
                break
            afc = (data[p + 3] >> 4) & 0x3
            if afc in (2, 3) and p + 12 <= n:
                aflen = data[p + 4]
                # adaptation field holds a PCR when its flag bit is set
                # and the field is long enough for the 6-byte value
                if aflen >= 7 and (data[p + 5] & 0x10):
                    pcr48 = int.from_bytes(data[p + 6:p + 12], "big")
                    pcr = (pcr48 >> 15) * 300 + (pcr48 & 0x1FF)
                    if first is None:
                        first = pcr
                    last = pcr
        dur = 0
        if first is not None and last is not None and last >= first:
            dur = (last - first) // 27_000  # 27 MHz -> ms
        return {"kind": "mpegts", "duration_ms": dur,
                "sample_rate": 0, "channels": 0}
    # --- MPEG-1 Layer III: optional ID3v2 tag, then the frame header -------
    off = 0
    if data[:3] == b"ID3" and n >= 10:
        off = 10 + (((data[6] & 0x7F) << 21) | ((data[7] & 0x7F) << 14)
                    | ((data[8] & 0x7F) << 7) | (data[9] & 0x7F))
    if off + 4 <= n and data[off] == 0xFF and (data[off + 1] & 0xFE) == 0xFA:
        # 0xFA/0xFB: MPEG-1 (11), Layer III (01), CRC bit either way
        bitrate = _MP3_BITRATES_KBPS[data[off + 2] >> 4]
        rate = _MP3_SAMPLE_RATES[(data[off + 2] >> 2) & 3]
        if bitrate == 0 or rate == 0:
            return None
        channels = 1 if (data[off + 3] >> 6) == 3 else 2
        return {"kind": "mp3",
                "duration_ms": (n - off) * 8 // bitrate,
                "sample_rate": rate, "channels": channels}
    return None


def _fake_av(digest: bytes) -> dict:
    """Deterministic fake A/V metadata for unparseable payloads — the same
    disclosed-stub contract as ``_fake_dimensions``: batch shape and typing
    never change when a real decoder is absent."""
    return {"kind": "unknown",
            "duration_ms": 1000 + (digest[6] | (digest[7] << 8)) % 600000,
            "sample_rate": 16000, "channels": 1}


AV_FEATURES_SCHEMA = (
    "id string, kind string, n_bytes long, duration_ms long, "
    "sample_rate int, channels int, decoder string"
)


def av_features(df: DataFrame) -> DataFrame:
    """Partition-parallel audio/video metadata over the ``payload`` binary
    column: the
    header-true fast path (``parse_av_header``) with the deterministic
    fake as fallback — same Arrow ``mapInPandas`` shape as
    ``media_features``, zero shuffle, streaming-safe."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("id", "kind", "n_bytes", "duration_ms",
                                   "sample_rate", "channels", "decoder")}
            for i, blob in enumerate(pdf["payload"].tolist()):
                b = blob if blob is not None else b""
                meta = parse_av_header(b)
                decoder = "header"
                if meta is None:
                    meta = _fake_av(hashlib.sha256(b).digest())
                    decoder = "stub"
                out["id"].append(pdf["url"].iat[i])
                out["kind"].append(meta["kind"])
                out["n_bytes"].append(len(b))
                out["duration_ms"].append(meta["duration_ms"])
                out["sample_rate"].append(meta["sample_rate"])
                out["channels"].append(meta["channels"])
                out["decoder"].append(decoder)
            yield pd.DataFrame(out)

    return df.select("url", "payload").mapInPandas(feats, schema=AV_FEATURES_SCHEMA)


def decode_image_tagged(data: bytes) -> tuple[int, int, str]:
    """Image dimensions + the path that produced them: ("pillow" — full
    decode when importable; "header" — the pure-Python container-header
    parse, real dimensions with no pixel decode). Raises
    NotImplementedError only for payloads that are not parseable images —
    callers fall back to the deterministic fake so batch shape/typing
    never changes."""
    try:
        import io

        from PIL import Image  # noqa: F401  (absent in this sandbox)

        w, h = Image.open(io.BytesIO(data)).size
        return w, h, "pillow"
    except ImportError:
        pass
    dims = parse_image_header(data)
    if dims is not None:
        return dims[0], dims[1], "header"
    raise NotImplementedError(
        "payload is not a parseable PNG/JPEG/GIF and no Pillow available — "
        "media_features falls back to the deterministic fake decoder"
    )


def _fake_dimensions(digest: bytes) -> tuple[int, int]:
    """Deterministic fake decoder: dimensions derived from the content hash.
    Keeps batch shape/typing identical to the real path."""
    w = 160 + (digest[0] | (digest[1] << 8)) % 3841
    h = 120 + (digest[2] | (digest[3] << 8)) % 2161
    return w, h


FRAME_SAMPLE_SCHEMA = (
    "id string, frame_idx int, ts_ms long, frame_sha string, decoder string"
)

RESIZE_MAX_SIDE = 512  # image_resize's bounding box side, in pixels
RESIZE_SCHEMA = (
    "id string, width int, height int, resized_w int, resized_h int, decoder string"
)


def resize_dims(w: int, h: int) -> tuple[int, int]:
    """Aspect-preserving fit into a ``RESIZE_MAX_SIDE`` square (pure
    arithmetic — shared by the real and stub decode paths; never
    upscales)."""
    max_side = RESIZE_MAX_SIDE
    if w <= 0 or h <= 0 or max(w, h) <= max_side:
        return w, h
    if w >= h:
        return max_side, max(1, (h * max_side) // w)
    return max(1, (w * max_side) // h), max_side


def image_resize(df: DataFrame) -> DataFrame:
    """Resize plumbing over the ``html`` binary payloads: decode (stubbed —
    no Pillow here) -> aspect-preserving target dims within
    ``RESIZE_MAX_SIDE``. The real path would
    re-encode bytes; the stub computes the exact output geometry from the
    fake decoder's deterministic dimensions, so schema/batching/arithmetic
    are all real and tested."""
    import hashlib

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("id", "width", "height", "resized_w", "resized_h", "decoder")}
            for i, blob in enumerate(pdf["html"].tolist()):
                b = blob if blob is not None else b""
                digest = hashlib.sha256(b).digest()
                try:
                    w, h, decoder = decode_image_tagged(b)
                except NotImplementedError:
                    w, h = _fake_dimensions(digest)
                    decoder = "stub"
                except Exception:
                    w, h, decoder = -1, -1, "error"
                rw, rh = resize_dims(w, h)
                out["id"].append(pdf["url"].iat[i])
                out["width"].append(w)
                out["height"].append(h)
                out["resized_w"].append(rw)
                out["resized_h"].append(rh)
                out["decoder"].append(decoder)
            yield pd.DataFrame(out)

    return df.select("url", "html").mapInPandas(resize, schema=RESIZE_SCHEMA)


FRAME_EVERY_MS = 1000  # frame_sample's sampling interval
MAX_FRAMES = 8  # frame_sample's frames per payload


def decode_frames(data: bytes):
    """Real decode path — requires an ffmpeg binding. STUB in this sandbox."""
    try:
        import av  # noqa: F401  (absent in this sandbox)
    except ImportError as e:
        raise NotImplementedError(
            "video decode requires PyAV/ffmpeg; sandbox has none — "
            "frame_sample falls back to the deterministic fake sampler"
        ) from e
    raise NotImplementedError("real decoder wiring goes here")


def _fake_frames(digest: bytes):
    """Deterministic fake sampler: pseudo-duration and per-frame hashes are
    pure functions of the content hash, so the 1:N output is replayable."""
    import hashlib

    duration_ms = 500 + (digest[4] | (digest[5] << 8)) * 4  # 0.5s .. ~263s
    n = min(MAX_FRAMES, max(1, duration_ms // FRAME_EVERY_MS))
    frames = []
    for i in range(n):
        fh = hashlib.sha256(digest + i.to_bytes(4, "big")).hexdigest()[:16]
        frames.append((i, i * FRAME_EVERY_MS, fh))
    return frames


def frame_sample(df: DataFrame) -> DataFrame:
    """1:N frame sampling over the ``html`` binary payloads — the
    multimodal analog of the reference's document -> segments relation
    (one tall image split into parts, split_image.py:192-194,302-307): one
    input row fans out to one row per sampled frame, all inside a
    partition-parallel ``mapInPandas`` (Arrow batches in, variable-length
    batches out; no explode shuffle).
    The frame DECODE is stubbed (no ffmpeg here); the Spark-side plumbing —
    1:N batch shape, schema, determinism — is real and tested."""
    import hashlib

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("id", "frame_idx", "ts_ms", "frame_sha", "decoder")}
            for i, blob in enumerate(pdf["html"].tolist()):
                b = blob if blob is not None else b""
                digest = hashlib.sha256(b).digest()
                try:
                    frames = decode_frames(b)
                    decoder = "pyav"
                except NotImplementedError:
                    frames = _fake_frames(digest)
                    decoder = "stub"
                rid = pdf["url"].iat[i]
                for idx, ts_ms, fh in frames:
                    out["id"].append(rid)
                    out["frame_idx"].append(idx)
                    out["ts_ms"].append(ts_ms)
                    out["frame_sha"].append(fh)
                    out["decoder"].append(decoder)
            yield pd.DataFrame(out)

    return df.select("url", "html").mapInPandas(sample, schema=FRAME_SAMPLE_SCHEMA)


def media_features(df: DataFrame) -> DataFrame:
    """Partition-parallel media metadata extraction over the ``html``
    binary column, keyed by ``url``."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["url"].tolist()
            blobs = pdf["html"].tolist()
            out = {k: [] for k in
                   ("id", "n_bytes", "kind", "sha256_prefix", "width", "height", "decoder")}
            for i, blob in enumerate(blobs):
                b = blob if blob is not None else b""
                digest = hashlib.sha256(b).digest()
                try:
                    w, h, decoder = decode_image_tagged(b)
                except NotImplementedError:
                    w, h = _fake_dimensions(digest)
                    decoder = "stub"
                except Exception:
                    w, h, decoder = -1, -1, "error"
                out["id"].append(ids[i])
                out["n_bytes"].append(len(b))
                out["kind"].append(sniff_kind(b))
                out["sha256_prefix"].append(digest[:8].hex())
                out["width"].append(w)
                out["height"].append(h)
                out["decoder"].append(decoder)
            yield pd.DataFrame(out)

    pruned = df.select("url", "html")
    return pruned.mapInPandas(feats, schema=MEDIA_FEATURES_SCHEMA)


def media_hash_gate(df: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Known-bad media filtering by exact content hash — the mandatory
    safety gate of every production crawl pipeline (industry hash lists
    of prohibited imagery; takedown/copyright lists): an ``html`` payload
    whose sha256 appears in the blocklist is flagged, everything else
    passes. The MECHANISM is the operator; real deployments broadcast
    the vendor-supplied digest table (never vendored here).

    Returns (url, sha256 hex, blocked) — one row per input row, never a
    silent drop (the downstream sink decides suppression, keeping the
    audit trail).

    Shape: pure JVM sha2 over the binary column (zero Python, zero
    shuffle on the corpus side — streaming-safe), blocklist joined by
    broadcast; at list sizes beyond broadcast, swap in the blocked-Bloom
    prefilter (operators/bloom.py) in front of the exact join. Exact
    DuckDB twin (``__spark_entry__`` ``media_hash_gate``)."""
    h = F.lower(F.sha2(F.col("html"), 256))
    hashed = df.select(F.col("url"), h.alias("sha256"))
    bl = (
        blocklist.select(F.lower(F.col("sha256")).alias("sha256"))
        .distinct()
        .withColumn("bad", F.lit(True))
    )
    return hashed.join(F.broadcast(bl), "sha256", "left").select(
        "url", "sha256", F.col("bad").isNotNull().alias("blocked")
    )
