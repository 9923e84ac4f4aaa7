"""Multimodal-column operators: opaque binary payloads + typed metadata.

North-star [EXT] surface: treat image/audio/video as ``binary``
columns with typed metadata, and run decode / feature-extract /
frame-sample as Arrow-batched Pandas UDFs over ``mapInPandas``.

The container has no media *libraries*, but BMP and RIFF (WAV/AVI)
headers are fully specified public formats, so the decode seam is
REAL pure-Python parsing: an Arrow-batched synthesis stage wraps each
payload in a genuine container (``encode_bmp`` / ``encode_wav`` /
``encode_avi``, with dims/rates drawn deterministically from the
source bytes via :func:`fake_meta` so the SQL oracles can predict
every value), and the metadata/frame/resize specs then run the actual
:func:`decode_image` / :func:`decode_audio` / :func:`decode_video`
header parsers on those bytes — magic sniffing, little-endian fields,
RIFF chunk walks. Compressed codecs (JPEG/MP3/H.264 via PIL /
soundfile / pyav) would plug into the same three functions. The
Spark-side plumbing is real throughout: binary column, explicit Arrow
schema, ``mapInPandas`` batch iteration, row-expanding frame sampler.

The asset relation derives from ``documents`` (payload = UTF-8 bytes
of ``text``; media_type = doc_id % 3) because the driver test data has
no binary table — the lineage keeps every value oracle-checkable.

Scale posture (100 TB): mapInPandas streams Arrow batches through the
Python worker with no shuffle and no driver collection; metadata
extraction is O(bytes) per partition. At real scale the payloads stay
in parquet binary columns (or object-store pointers) and only the
typed metadata flows onward — exactly the shape here.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.spec import QuerySpec
from ..session import memo
from ..sources import load_table

VIDEO_FPS = 24
FRAME_STRIDE = 24  # sample one frame per second


# ---------------------------------------------------------------------------
# real container codecs — pure-Python header encode/decode
#
# The environment has no media *libraries*, but BMP and RIFF (WAV/AVI)
# are fully specified public formats whose headers need only
# struct.pack — so the decode seam is REAL: the asset synthesizer
# writes genuine container headers and the decoders below parse them
# back (magic checks, little-endian fields, chunk walks). Compressed
# codecs (JPEG/MP3/H.264) would plug into the same three functions.
# ---------------------------------------------------------------------------

import struct


def encode_bmp(width: int, height: int, body: bytes) -> bytes:
    """A real BMP: BITMAPFILEHEADER + BITMAPINFOHEADER (54 bytes), 24bpp,
    followed by ``body`` as the pixel array. Metadata extraction only
    reads the headers, so a truncated pixel array is fine (the usual
    posture for header-only scans over damaged assets)."""
    row = (width * 3 + 3) & ~3  # 4-byte-aligned rows
    img_size = row * height
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + img_size, 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835,
        0, 0,
    )
    return header + body


def decode_image(payload: bytes) -> dict:
    """Parse a BMP header to (width, height, channels)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    _, width, height, _, bpp = struct.unpack_from("<IiiHH", payload, 14)
    return {
        "width": int(width),
        "height": abs(int(height)),  # negative height = top-down rows
        "channels": bpp // 8,
    }


def encode_wav(sample_rate: int, n_samples: int, body: bytes) -> bytes:
    """A real RIFF/WAVE header (44 bytes): PCM fmt chunk + data chunk
    declaring ``n_samples`` 16-bit mono samples, followed by ``body``
    (possibly truncated — header-only scans don't read the samples)."""
    data_size = n_samples * 2
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + data_size, b"WAVE")
        + struct.pack(
            "<4sIHHIIHH", b"fmt ", 16, 1, 1, sample_rate,
            sample_rate * 2, 2, 16,
        )
        + struct.pack("<4sI", b"data", data_size)
        + body
    )


def decode_audio(payload: bytes) -> dict:
    """Parse a RIFF/WAVE header to (channels, sample_rate, duration)."""
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, n_channels, sample_rate, bits, data_size = 12, 1, 0, 16, 0
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        if cid == b"fmt ":
            _, n_channels, sample_rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", payload, pos + 8
            )
        elif cid == b"data":
            data_size = size
            break  # data is last in our containers; size may exceed body
        pos += 8 + size + (size & 1)
    n_samples = data_size // (n_channels * (bits // 8))
    return {
        "channels": int(n_channels),
        "sample_rate": int(sample_rate),
        "n_samples": int(n_samples),
        "duration_s": n_samples / sample_rate if sample_rate else 0.0,
    }


def encode_avi(
    width: int, height: int, n_frames: int, fps: int, body: bytes
) -> bytes:
    """A real (minimal) RIFF/AVI: LIST hdrl with an avih main header and
    one LIST strl/strh video stream header carrying the exact
    dwScale/dwRate frame-rate rational."""
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"\x00\x00\x00\x00", 0, 0, 0, 0,
        1, fps,          # dwScale, dwRate: rate/scale = fps exactly
        0, n_frames, 0, 0xFFFFFFFF, 0, 0, 0, int(width), int(height),
    )
    strl = b"LIST" + struct.pack("<I", 4 + 8 + len(strh)) + b"strl" \
        + b"strh" + struct.pack("<I", len(strh)) + strh
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, 0, 0, 0, n_frames, 0, 1, 0,
        int(width), int(height), 0, 0, 0, 0,
    )
    hdrl = b"LIST" + struct.pack(
        "<I", 4 + 8 + len(avih) + len(strl)
    ) + b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih + strl
    movi = b"LIST" + struct.pack("<I", 4 + len(body)) + b"movi" + body
    riff_size = 4 + len(hdrl) + len(movi)
    return b"RIFF" + struct.pack("<I", riff_size) + b"AVI " + hdrl + movi


def decode_video(payload: bytes) -> dict:
    """Parse a RIFF/AVI header to (width, height, n_frames, duration).

    Walks LIST hdrl for the avih main header (frames, dims) and the
    strh stream header's dwScale/dwRate rational, so duration is exact
    n_frames * scale / rate — no float frame-interval round-off."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    n_frames = width = height = 0
    scale, rate = 1, VIDEO_FPS

    def walk(pos: int, end: int) -> None:
        nonlocal n_frames, width, height, scale, rate
        while pos + 8 <= end:
            cid, size = struct.unpack_from("<4sI", payload, pos)
            if cid == b"LIST":
                # Only recurse into header lists (hdrl/strl). The movi
                # list holds the raw frame body — arbitrary bytes that
                # could contain aligned 'avih'/'strh' patterns and
                # clobber the parsed header fields.
                ltype = payload[pos + 8:pos + 12]
                if ltype in (b"hdrl", b"strl"):
                    walk(pos + 12, min(end, pos + 8 + size))
            elif cid == b"avih":
                vals = struct.unpack_from("<IIIIIIIIII", payload, pos + 8)
                n_frames, width, height = vals[4], vals[8], vals[9]
            elif cid == b"strh" and payload[pos + 8:pos + 12] == b"vids":
                # dwScale/dwRate at strh offset 20 (after fccType,
                # fccHandler, dwFlags, wPriority, wLanguage,
                # dwInitialFrames)
                s, r = struct.unpack_from("<II", payload, pos + 8 + 20)
                if r:
                    scale, rate = s, r
            pos += 8 + size + (size & 1)

    walk(12, len(payload))
    return {
        "width": int(width),
        "height": int(height),
        "n_frames": int(n_frames),
        "duration_s": n_frames * scale / rate if rate else 0.0,
    }


def fake_meta(media_type: str, byte_len: int, first: int) -> dict:
    """Deterministic stand-in decoder: metadata from (length, byte 0).

    Mirrored exactly by the SQL oracle; replace with the decode_*
    stubs when codecs exist.
    """
    if media_type == "image":
        return {
            "width": 64 + (byte_len * 7 + first) % 577,
            "height": 64 + (byte_len * 31 + first) % 353,
            "channels": 3,
            "sample_rate": 0,
            "n_frames": 1,
            "duration_s": 0.0,
        }
    if media_type == "audio":
        sr = 8000 + ((byte_len + first) % 5) * 1000
        n_samples = byte_len * 160
        return {
            "width": 0,
            "height": 0,
            "channels": 1,
            "sample_rate": sr,
            "n_frames": 0,
            "duration_s": n_samples / sr,
        }
    n_frames = 1 + byte_len % 240
    return {
        "width": 320,
        "height": 240,
        "channels": 3,
        "sample_rate": 0,
        "n_frames": n_frames,
        "duration_s": n_frames / float(VIDEO_FPS),
    }


# ---------------------------------------------------------------------------
# asset relation (documents -> binary payloads)
# ---------------------------------------------------------------------------

def _assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL text = a missing/corrupt asset: excluded at ingest in both
    # dialects (there is nothing to containerize; a NULL payload would
    # crash the Arrow synthesis kernel). Zero-LENGTH payloads stay —
    # they exercise the 0-body container paths.
    docs = load_table(spark, sf_dir, "documents").filter(
        "text IS NOT NULL"
    )
    return docs.selectExpr(
        "doc_id AS asset_id",
        "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'"
        " ELSE 'video' END AS media_type",
        "CAST(text AS BINARY) AS payload",
    )


#: first PAYLOAD BYTE (not first code point: ord(substr(text,1,1)) is
#: the character's code point, which diverges from the kernel's b[0]
#: on any non-ASCII head — and DuckDB's ord('') is -1, not the
#: kernel's 0-for-empty). Hex round-trip reads the true first UTF-8
#: byte portably.
_SQL_FIRST_B = (
    "CASE WHEN octet_length(encode(text)) = 0 THEN 0"
    " ELSE (strpos('0123456789ABCDEF',"
    " substr(hex(encode(text)), 1, 1)) - 1) * 16"
    " + (strpos('0123456789ABCDEF',"
    " substr(hex(encode(text)), 2, 1)) - 1) END"
)

_SQL_ASSETS = f"""
assets AS (
  SELECT doc_id AS asset_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         octet_length(encode(text)) AS byte_len,
         {_SQL_FIRST_B} AS first_b
  FROM documents WHERE text IS NOT NULL)"""


def _assets_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assets wrapped in REAL container formats (BMP / WAV / AVI).

    An Arrow-batched synthesis stage writes a genuine header for each
    payload — dims/rates drawn deterministically from the source bytes
    via :func:`fake_meta`, so the DuckDB oracles can still predict
    every value — and the downstream specs then go through the actual
    decoders. ``src_len`` carries the media-body byte length (the
    oracles' ``byte_len``). No shuffle: synthesis and decode are
    map-only stages over the same partitioning.

    A lazily persisted :func:`session.memo` entry per (session,
    corpus): the encoded asset table IS the corpus for the multimodal
    specs (in production the payloads arrive already containerized;
    re-synthesizing per query would be re-ingesting).
    """

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, mt, payload in zip(
                pdf["asset_id"], pdf["media_type"], pdf["payload"]
            ):
                b = bytes(payload)
                meta = fake_meta(mt, len(b), b[0] if b else 0)
                if mt == "image":
                    enc = encode_bmp(meta["width"], meta["height"], b)
                elif mt == "audio":
                    enc = encode_wav(
                        meta["sample_rate"], len(b) * 160, b
                    )
                else:
                    enc = encode_avi(
                        meta["width"], meta["height"], meta["n_frames"],
                        VIDEO_FPS, b,
                    )
                rows.append(
                    {
                        "asset_id": aid,
                        "media_type": mt,
                        "src_len": len(b),
                        "payload": enc,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "media_type", "src_len", "payload"]
            )

    # The synthesis stage and every decode over the persisted relation
    # run one task per scan split. load_table reads a documents table
    # under STAGE_MIN_BYTES as its one raw file (one task: every
    # Python-boundary task pays a ~10-20 ms worker handshake, so
    # fanning a small corpus out costs more than it saves) and stages
    # a larger one into one part per core.
    return memo(
        spark,
        "assets",
        sf_dir,
        lambda: _assets(spark, sf_dir)
        .mapInPandas(
            synth,
            schema="asset_id bigint, media_type string, src_len bigint,"
            " payload binary",
        )
        .persist(),
    )


# ---------------------------------------------------------------------------
# ONE decode pass for the whole family (guide §4: cross the Python
# boundary once). multimodal_meta / frame_sample / resize_plan /
# byte_features each ran their own mapInPandas stage over the shared
# encoded corpus — four Python round-trips per bench pass whose decode
# compute is ~16 ms TOTAL while the per-stage worker handshake is
# ~180 ms (measured, OPTIMIZATION_r11 §4). The decoded relation below
# runs the REAL header parsers and the numpy byte histogram in a single
# stage and is a persisted ``session.memo`` entry like the
# shingle/quantized relations (clear_caches sweeps it; the bench cold
# pass pays the honest rebuild). All four specs are then pure-JVM
# projections/filters/explodes over it — the decode still gates every
# value, it just runs once per corpus instead of once per query.
# ---------------------------------------------------------------------------

_META_SCHEMA = (
    "asset_id bigint, media_type string, byte_len bigint, width bigint,"
    " height bigint, channels bigint, sample_rate bigint, n_frames bigint,"
    " duration_s double"
)

_DECODED_SCHEMA = _META_SCHEMA + ", " + ", ".join(
    f"f{j} double" for j in range(8)
)


def _assets_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata + byte-feature columns per asset, decoded ONCE.

    Dispatches on the payload's magic bytes (not the metadata column)
    and parses the actual BMP/WAV/AVI headers — the full encode→decode
    round-trip, so a header-math bug in either direction breaks the
    oracle match of every downstream spec. ``byte_len`` reports the
    media BODY length (the oracles' contract, carried as ``src_len``);
    the body itself is recovered from the container tail (every encoder
    appends it verbatim) and histogrammed with numpy for ``f0..f7``
    (NULL for empty bodies — byte_features excludes them). A lazily
    persisted :func:`session.memo` entry.
    """
    import numpy as np

    cols = [
        "asset_id", "media_type", "byte_len", "width", "height",
        "channels", "sample_rate", "n_frames", "duration_s",
    ] + [f"f{j}" for j in range(FEAT_DIM)]

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for aid, mt, src_len, payload in zip(
                pdf["asset_id"], pdf["media_type"], pdf["src_len"],
                pdf["payload"],
            ):
                b = bytes(payload)
                if b[:2] == b"BM":
                    d = decode_image(b)
                    meta = {
                        "width": d["width"], "height": d["height"],
                        "channels": d["channels"], "sample_rate": 0,
                        "n_frames": 1, "duration_s": 0.0,
                    }
                elif b[:4] == b"RIFF" and b[8:12] == b"WAVE":
                    d = decode_audio(b)
                    meta = {
                        "width": 0, "height": 0,
                        "channels": d["channels"],
                        "sample_rate": d["sample_rate"], "n_frames": 0,
                        "duration_s": d["duration_s"],
                    }
                else:
                    d = decode_video(b)
                    meta = {
                        "width": d["width"], "height": d["height"],
                        "channels": 3, "sample_rate": 0,
                        "n_frames": d["n_frames"],
                        "duration_s": d["duration_s"],
                    }
                n = int(src_len)
                feats: dict[str, float | None]
                if n:
                    body = np.frombuffer(b[len(b) - n:], dtype=np.uint8)
                    counts = np.bincount(
                        body % FEAT_DIM, minlength=FEAT_DIM
                    )
                    feats = {
                        f"f{j}": float(counts[j]) / float(n)
                        for j in range(FEAT_DIM)
                    }
                else:
                    feats = {f"f{j}": None for j in range(FEAT_DIM)}
                out.append(
                    {
                        "asset_id": aid,
                        "media_type": mt,
                        "byte_len": n,
                        **meta,
                        **feats,
                    }
                )
            yield pd.DataFrame(out, columns=cols)

    return memo(
        spark,
        "assets_decoded",
        sf_dir,
        lambda: _assets_encoded(spark, sf_dir)
        .mapInPandas(extract, schema=_DECODED_SCHEMA)
        .persist(),
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata per asset via REAL container decode (one shared
    decode stage — see :func:`_assets_decoded`)."""
    return _assets_decoded(spark, sf_dir).select(
        "asset_id", "media_type", "byte_len", "width", "height",
        "channels", "sample_rate", "n_frames", "duration_s",
    )


ORACLE_MULTIMODAL_META = f"""
WITH {_SQL_ASSETS}
SELECT asset_id, media_type, byte_len,
       CASE media_type WHEN 'image' THEN 64 + (byte_len * 7 + first_b) % 577
            WHEN 'audio' THEN 0 ELSE 320 END AS width,
       CASE media_type WHEN 'image' THEN 64 + (byte_len * 31 + first_b) % 353
            WHEN 'audio' THEN 0 ELSE 240 END AS height,
       CAST(CASE media_type WHEN 'audio' THEN 1 ELSE 3 END AS BIGINT)
         AS channels,
       CASE media_type WHEN 'audio'
            THEN 8000 + ((byte_len + first_b) % 5) * 1000
            ELSE 0 END AS sample_rate,
       CASE media_type WHEN 'image' THEN 1 WHEN 'audio' THEN 0
            ELSE 1 + byte_len % 240 END AS n_frames,
       CASE media_type
            WHEN 'image' THEN 0.0
            WHEN 'audio' THEN CAST(byte_len * 160 AS DOUBLE)
              / CAST(8000 + ((byte_len + first_b) % 5) * 1000 AS DOUBLE)
            ELSE CAST(1 + byte_len % 240 AS DOUBLE) / {float(VIDEO_FPS)}
       END AS duration_s
FROM assets
"""


# ---------------------------------------------------------------------------
# frame sampling (mapInPandas, row-expanding)
# ---------------------------------------------------------------------------

def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per sampled video frame (every FRAME_STRIDE-th frame).

    The row-expanding shape (decode -> N outputs per input), now as a
    JVM ``explode(sequence(...))`` over the shared decode stage's
    ``n_frames`` (:func:`_assets_decoded`) — the expansion itself needs
    no Python once the header is parsed. ``n_frames >= 1`` for every
    video container (``1 + byte_len % 240``), so the sequence is never
    empty and ``range(0, n_frames, stride)`` == ``sequence(0,
    n_frames - 1, stride)`` exactly.
    """
    return (
        _assets_decoded(spark, sf_dir)
        .filter("media_type = 'video'")
        .selectExpr(
            "asset_id",
            f"explode(sequence(CAST(0 AS BIGINT), n_frames - 1,"
            f" CAST({FRAME_STRIDE} AS BIGINT))) AS frame_idx",
        )
        .selectExpr(
            "asset_id",
            "frame_idx",
            f"CAST(frame_idx AS DOUBLE) / {float(VIDEO_FPS)}"
            " AS frame_offset_s",
        )
    )


ORACLE_FRAME_SAMPLE = f"""
WITH {_SQL_ASSETS},
vids AS (
  SELECT asset_id, 1 + byte_len % 240 AS n_frames
  FROM assets WHERE media_type = 'video')
SELECT asset_id, idx AS frame_idx,
       CAST(idx AS DOUBLE) / {float(VIDEO_FPS)} AS frame_offset_s
FROM vids, LATERAL (
  SELECT unnest(generate_series(0, n_frames - 1, {FRAME_STRIDE})) AS idx)
"""


# ---------------------------------------------------------------------------
# resize plan (fit-into-box math over decoded dims; the resample
# kernel itself is part of the stubbed codec seam)
# ---------------------------------------------------------------------------

RESIZE_BOX = 224  # fit into BOX x BOX preserving aspect ratio

def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image resize plan: fit into RESIZE_BOX², preserve aspect.

    The geometry every image pipeline computes before the resample
    kernel runs: scale = BOX/max(w,h) (never upscale), output dims =
    floor(dim*scale). Integer arithmetic only (scale as a rational
    BOX/longest, ``DIV`` == Python ``//`` for the positive dims here)
    so both engines agree exactly; dims come from the shared decode
    stage (:func:`_assets_decoded`), the pixel resample itself belongs
    to the stubbed codec seam (decode_image).
    """
    longest = "greatest(width, height)"
    return (
        _assets_decoded(spark, sf_dir)
        .filter("media_type = 'image'")
        .selectExpr(
            "asset_id",
            "width",
            "height",
            f"CASE WHEN {longest} <= {RESIZE_BOX} THEN width"
            f" ELSE width * {RESIZE_BOX} DIV {longest} END AS out_w",
            f"CASE WHEN {longest} <= {RESIZE_BOX} THEN height"
            f" ELSE height * {RESIZE_BOX} DIV {longest} END AS out_h",
            f"CASE WHEN {longest} <= {RESIZE_BOX} THEN {longest}"
            f" ELSE CAST({RESIZE_BOX} AS BIGINT) END AS scale_num",
        )
    )


ORACLE_RESIZE_PLAN = f"""
WITH {_SQL_ASSETS},
imgs AS (
  SELECT asset_id,
         64 + (byte_len * 7 + first_b) % 577 AS width,
         64 + (byte_len * 31 + first_b) % 353 AS height
  FROM assets WHERE media_type = 'image')
SELECT asset_id, width, height,
       CASE WHEN greatest(width, height) <= {RESIZE_BOX} THEN width
            ELSE width * {RESIZE_BOX} // greatest(width, height) END AS out_w,
       CASE WHEN greatest(width, height) <= {RESIZE_BOX} THEN height
            ELSE height * {RESIZE_BOX} // greatest(width, height) END AS out_h,
       CASE WHEN greatest(width, height) <= {RESIZE_BOX}
            THEN greatest(width, height) ELSE {RESIZE_BOX} END AS scale_num
FROM imgs
"""


# ---------------------------------------------------------------------------
# feature extraction (real numpy over Arrow batches: byte histogram)
# ---------------------------------------------------------------------------

FEAT_DIM = 8

# Flat scalar columns f0..f7 (not array<double>): the external correctness
# driver canonicalizes results by sorting/hashing pandas columns, which
# cannot hash ndarray cells — a top-level array column is unverifiable to
# it even when the values match (the one red row in CORRECTNESS_r02).
def multimodal_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-asset feature vector: normalized byte-residue histogram.

    The feature-extract seam done for real (not stubbed): numpy inside
    the shared decode stage (:func:`_assets_decoded`) — ``frombuffer %
    FEAT_DIM`` over the container-recovered body bytes, one bincount
    per payload, normalized to fractions, emitted as ``FEAT_DIM``
    scalar double columns ``f0..f7``. This is the batch shape a real
    embedding model would use (payload bytes in, fixed-dim float
    vector out); the oracle replays the histogram in SQL off the same
    bytes. Empty bodies carry NULL features and are excluded here
    (oracle's ``WHERE octet_length > 0``).
    """
    return (
        _assets_decoded(spark, sf_dir)
        .filter("byte_len > 0")
        .selectExpr(
            "asset_id",
            "byte_len AS n_bytes",
            *[f"f{j}" for j in range(FEAT_DIM)],
        )
    )


def _oracle_byte_features() -> str:
    """Replays the histogram over UTF-8 BYTES via a hex round-trip.

    The kernel histograms ``frombuffer(payload) % FEAT_DIM`` — raw
    bytes. A per-CHARACTER replay (``ord(c)`` over ``string_split``)
    only agrees on pure-ASCII text; any multi-byte code point (the
    adversarial corpus has NBSP and astral-plane docs) diverges in
    both the counts and the n_bytes denominator.
    """
    dims = ",\n       ".join(
        f"CAST(COUNT(CASE WHEN v % {FEAT_DIM} = {j} THEN 1 END) AS DOUBLE)"
        f" / CAST(n AS DOUBLE) AS f{j}"
        for j in range(FEAT_DIM)
    )
    # LINEAR form (wave 7): the old ``substr(h, 2*i-1, 1)`` per byte
    # position is an O(i) scan in DuckDB — quadratic overall (14 s at
    # a 100k-char doc, 226 s at 400k, weeks at the 10 MB token).
    # Split the hex string ONCE, unnest one row per nibble with its
    # subscript, and pair adjacent nibbles by (i+1)//2 in a hash
    # aggregate — every stage O(n).
    return f"""
WITH hx AS (
  SELECT doc_id, string_split(hex(encode(text)), '') AS hc,
         octet_length(encode(text)) AS n
  FROM documents
  WHERE text IS NOT NULL AND octet_length(encode(text)) > 0),
nib AS (
  SELECT doc_id, n, generate_subscripts(hc, 1) AS ci, unnest(hc) AS ch
  FROM hx),
b AS (
  SELECT doc_id, n,
         SUM(CASE WHEN ci % 2 = 1
                  THEN (strpos('0123456789ABCDEF', ch) - 1) * 16
                  ELSE strpos('0123456789ABCDEF', ch) - 1 END) AS v
  FROM nib GROUP BY doc_id, n, (ci + 1) // 2)
SELECT doc_id AS asset_id,
       CAST(n AS BIGINT) AS n_bytes,
       {dims}
FROM b
GROUP BY doc_id, n
"""


ORACLE_BYTE_FEATURES = _oracle_byte_features()


# ---------------------------------------------------------------------------
# perceptual-hash (dHash) near-duplicate assets
# ---------------------------------------------------------------------------

PHASH_BITS = 64
PHASH_CHUNKS = 16     # 4 bits each; hamming<=15 keeps >=1 chunk equal
PHASH_HAM_T = 15


def _phash_words(col: str, dialect: str) -> tuple[str, str]:
    """Two 32-bit dHash words from evenly-sampled payload positions.

    dHash proper compares adjacent pixels of a downscaled grayscale
    image; with codecs stubbed, the deterministic stand-in samples 65
    evenly-spaced payload byte positions and takes the 64 adjacent
    greater-than gradients — the identical pipeline shape (downsample
    → gradient bits → pack), swappable for real pixel rows at the
    decode seam. ascii()/ord() per sampled char is bit-identical in
    both engines (same contract as texthash.polyhash).
    """
    o = "ascii" if dialect == "spark" else "ord"
    # INTEGER division only: float `/` then CAST diverges between
    # engines (Spark truncates double->bigint, DuckDB ROUNDS)
    idiv = "DIV" if dialect == "spark" else "//"

    def pos(i: int) -> str:
        # 1-based substring position, scaled across the payload
        return f"(1 + (({i} * (length({col}) - 1)) {idiv} 64))"

    def bit(i: int) -> str:
        a = f"{o}(substring({col}, {pos(i)}, 1))"
        b = f"{o}(substring({col}, {pos(i + 1)}, 1))"
        return f"(CASE WHEN {a} > {b} THEN 1 ELSE 0 END)"

    w1 = " + ".join(f"(CAST({bit(i)} AS BIGINT) * {1 << i})" for i in range(32))
    w2 = " + ".join(
        f"(CAST({bit(i + 32)} AS BIGINT) * {1 << i})" for i in range(32)
    )
    return f"({w1})", f"({w2})"


def multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset pairs whose 64-bit perceptual hash differs by <= 15 bits.

    The image-dedup standard (pHash/dHash + hamming threshold) as a
    distributed plan: one projection computes each asset's hash words,
    a 16x4-bit chunk-equality self-join generates candidates
    (pigeonhole: hamming<=16 would need all 16 chunks to differ, so
    recall is EXACT for the <=15 threshold — same scheme as
    dedup_simhash), and bit_count(xor) verifies. No all-pairs
    comparison anywhere — but note that unlike dedup_simhash (t=4,
    where 5 wide bands are the pigeonhole minimum), t=15 makes 16
    4-bit bands the MINIMUM partition, so the candidate volume is
    inherently ~n^2/16 per band x 16 bands = n^2 once corpora
    outgrow the 16-value chunk space. Measured saturation: at the
    500k-asset sf10 the candidate stream is ~2.5e11 rows
    (>= 5.2e4 CPU-s one-shot; gradient-bit chunk values are also
    skewed, so a handful of (chunk, v) groups dominate the tail).
    At that scale you either tighten the threshold or switch to
    multi-index pHash (two 32-bit halves at threshold 7 each,
    candidates = union) so each band key is selective — the plan
    shape is unchanged.
    """
    chunks = _phash_chunk_frame(spark, sf_dir)
    return _phash_pairs(chunks, chunks)


def _phash_chunk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(asset_id, w1, w2, chunk, v): the banded hash-chunk relation —
    factored so verification harnesses can build one-side-restricted
    variants of the pair join from the identical expressions."""
    docs = load_table(spark, sf_dir, "documents").filter(
        "length(text) >= 2"
    )
    w1, w2 = _phash_words("text", "spark")
    hashed = docs.selectExpr(
        "doc_id AS asset_id", f"{w1} AS w1", f"{w2} AS w2"
    )
    return hashed.selectExpr(
        "asset_id",
        "w1",
        "w2",
        "explode(array("
        + ", ".join(
            f"struct(CAST({c} AS INT) AS chunk,"
            f" CAST((w{1 + c // 8} DIV {1 << (4 * (c % 8))}) % 16 AS INT)"
            " AS v)"
            for c in range(PHASH_CHUNKS)
        )
        + ")) AS ck",
    ).selectExpr("asset_id", "w1", "w2", "ck.chunk AS chunk", "ck.v AS v")


def _phash_pairs(
    a_chunks: DataFrame, b_chunks: DataFrame
) -> DataFrame:
    """Verified hamming<=T pairs between two chunk relations."""
    a = a_chunks.selectExpr(
        "asset_id AS asset_a", "w1 AS a1", "w2 AS a2", "chunk", "v"
    )
    b = b_chunks.selectExpr(
        "asset_id AS asset_b", "w1 AS b1", "w2 AS b2", "chunk", "v"
    )
    return (
        a.join(b, ["chunk", "v"])
        .filter(F.col("asset_a") < F.col("asset_b"))
        .selectExpr(
            "asset_a",
            "asset_b",
            "CAST(bit_count(a1 ^ b1) + bit_count(a2 ^ b2) AS INT)"
            " AS hamming",
        )
        .filter(F.col("hamming") <= PHASH_HAM_T)
        .distinct()
    )


def _oracle_phash() -> str:
    w1, w2 = _phash_words("text", "duck")
    chunk_rows = " UNION ALL ".join(
        f"SELECT asset_id, w1, w2, {c} AS chunk,"
        f" CAST((w{1 + c // 8} // {1 << (4 * (c % 8))}) % 16 AS INTEGER)"
        " AS v FROM hashed"
        for c in range(PHASH_CHUNKS)
    )
    return f"""
WITH hashed AS (
  SELECT doc_id AS asset_id, {w1} AS w1, {w2} AS w2
  FROM documents WHERE length(text) >= 2),
chunks AS ({chunk_rows})
SELECT DISTINCT a.asset_id AS asset_a, b.asset_id AS asset_b,
       CAST(bit_count(xor(a.w1, b.w1)) + bit_count(xor(a.w2, b.w2))
            AS INTEGER) AS hamming
FROM chunks a JOIN chunks b
  ON a.chunk = b.chunk AND a.v = b.v AND a.asset_id < b.asset_id
WHERE bit_count(xor(a.w1, b.w1)) + bit_count(xor(a.w2, b.w2))
      <= {PHASH_HAM_T}
"""


ORACLE_PHASH = _oracle_phash()


SPECS: dict[str, QuerySpec] = {
    s.name: s
    for s in (
        QuerySpec(
            "multimodal_resize_plan", multimodal_resize_plan,
            ORACLE_RESIZE_PLAN,
            "fit-into-box resize geometry per decoded image",
        ),
        QuerySpec(
            "multimodal_byte_features", multimodal_byte_features,
            ORACLE_BYTE_FEATURES,
            "numpy byte-histogram feature vectors over Arrow batches",
        ),
        QuerySpec("multimodal_meta", multimodal_meta, ORACLE_MULTIMODAL_META),
        QuerySpec(
            "multimodal_phash_near_dup", multimodal_phash_near_dup,
            ORACLE_PHASH,
            "dHash 64-bit perceptual near-dup, pigeonhole-exact hamming<=15",
        ),
        QuerySpec(
            "multimodal_frame_sample",
            multimodal_frame_sample,
            ORACLE_FRAME_SAMPLE,
        ),
    )
}
