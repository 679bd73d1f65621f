"""Multimodal column handling (SURVEY.md §2.4-J, `llm_multimodal`).

Convention: media travels as an opaque ``binary`` payload column plus
typed metadata (modality, mime) — the layout every large-scale training
pipeline converges on (media bytes stay columnar next to their
features; no filesystem side-channel).

The payloads are REAL media bytes in three pure-Python-decodable
container formats, and the decode kernel parses them for real — no
faked headers, no NotImplementedError:

  image  binary PPM (P6): "P6\\n{w} {h}\\n255\\n" + w*h*3 RGB bytes
  audio  WAV (RIFF/PCM16 mono): canonical 44-byte header + samples
  video  YUV4MPEG2 (Y4M): stream header + FRAME-delimited 4:2:0 frames

These are the actual on-disk formats (netpbm, RIFF WAVE, mjpegtools
y4m) — a PPM produced here opens in any image viewer. Heavyweight
codecs (JPEG/FLAC/H.264) would need external libraries; the container
has none, and the *Spark-side* contract — BinaryType columns, Arrow
batch transfer, mapInPandas fan-out, schema discipline — is identical
whichever kernel sits inside the batch loop. Each container has one
parser walk (_ppm_header, _riff_chunks, _y4m_frames) that every kernel
reading that format shares.

Kernels: every media kernel is a plain per-payload function
``(doc_id, modality, raw_bytes) -> rows`` plus a declared output
schema, run by the one Arrow adapter ``map_payloads`` (the pandas
batch loop, column assembly and the single mapInPandas call). Each
kernel declares the modality it reads once, with ``@_reads`` — None
for kernels that emit rows for every payload (decode, frame
sampling). The adapter drops other modalities' rows on arrival, and
callers pass ``kernel.modality`` to ``synthesize_media`` so only
those rows are built; no caller names a modality itself, so a
pre-filter can never drop rows its kernel would have emitted.

Scale notes: mapInPandas streams Arrow batches — one Python worker per
core per partition, no driver involvement, and payload bytes cross to
Python once. Real deployments additionally cap
``spark.sql.execution.arrow.maxRecordsPerBatch`` so a partition of
10 MB videos doesn't materialize as one giant Arrow batch. Synthesis
here is also a mapInPandas kernel (bytes are built row-local in the
executors); a production pipeline reads the payload column straight
off parquet instead.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_units", T.IntegerType()),  # pixels/samples/frames
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("mean_val", T.DoubleType()),
        T.StructField("payload_sha", T.StringType()),
    ]
)

WAV_RATE = 8000


def media_dims(doc_id: int) -> dict:
    """Deterministic per-doc media geometry (shared by generator, real
    decoder tests, and the frame-sample ground truth)."""
    modality = ("image", "audio", "video")[doc_id % 3]
    return {
        "modality": modality,
        # image
        "img_w": doc_id % 30 + 2,
        "img_h": doc_id % 20 + 2,
        # audio
        "n_samples": doc_id % 256 + 16,
        # video (4:2:0 needs even dims)
        "vid_w": 2 * (doc_id % 8 + 1),
        "vid_h": 2 * (doc_id % 6 + 1),
        "n_frames": doc_id % 24 + 2,
    }


def _gen_payload(doc_id: int, text: str) -> tuple[str, bytes]:
    """Build a REAL media file for one row, seeded by the text bytes."""
    d = media_dims(doc_id)
    seed = text.encode() or b"\x00"

    def fill(n: int) -> bytes:
        reps = n // len(seed) + 1
        return (seed * reps)[:n]

    if d["modality"] == "image":
        w, h = d["img_w"], d["img_h"]
        return "image", b"P6\n%d %d\n255\n" % (w, h) + fill(w * h * 3)
    if d["modality"] == "audio":
        n = d["n_samples"]
        pcm = fill(2 * n)
        hdr = (
            b"RIFF"
            + struct.pack("<I", 36 + len(pcm))
            + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16)
            + b"data"
            + struct.pack("<I", len(pcm))
        )
        return "audio", hdr + pcm
    w, h, nf = d["vid_w"], d["vid_h"], d["n_frames"]
    frame_len = w * h * 3 // 2  # YUV 4:2:0
    body = b"".join(b"FRAME\n" + fill(frame_len) for _ in range(nf))
    hdr = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420\n" % (w, h)
    return "video", hdr + body


_MODALITY_IDX = {"image": 0, "audio": 1, "video": 2}


def synthesize_media(
    docs: DataFrame, modality: str | None = None
) -> DataFrame:
    """Deterministic real-format media table from `documents`.

    ``modality`` pre-filters the doc side to one modality's rows;
    callers pass the consuming kernel's declaration
    (``kernel.modality``), never a literal. Modality is a pure function
    of doc_id (media_dims: doc_id % 3), so a modality-specific kernel
    — image hashing, audio fingerprinting, scene cuts — skips
    synthesizing the two thirds it would drop on arrival (video frames
    are the most expensive to build). Spark cannot push this filter
    below the opaque mapInPandas itself (guide §2.3/§4.1 —
    project/filter before the Python boundary), so the filter is
    applied to the INPUT relation; the synthesized rows for the kept
    modality are byte-identical to the unfiltered run's."""

    def gen(batches: Iterator["object"]) -> Iterator["object"]:
        import pandas as pd

        for pdf in batches:
            mods, payloads = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                m, p = _gen_payload(int(doc_id), str(text))
                mods.append(m)
                payloads.append(p)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "modality": mods, "payload": payloads}
            )

    src = docs.select("doc_id", "text")
    if modality is not None:
        from pyspark.sql import functions as F

        src = src.filter(
            F.pmod(F.col("doc_id"), F.lit(3)) == _MODALITY_IDX[modality]
        )
    return src.mapInPandas(gen, schema=MEDIA_SCHEMA)


def map_payloads(
    media: DataFrame,
    fn: Callable[[int, str, bytes], list[tuple]],
    schema: T.StructType,
    modality: str | None = None,
) -> DataFrame:
    """The one Arrow adapter every media kernel runs through.

    ``fn(doc_id, modality, raw_bytes)`` returns the output rows for one
    payload as tuples in ``schema`` field order (zero, one or many —
    the per-frame/per-window fan-out). Rows whose modality is not
    ``modality`` are dropped before ``fn`` sees them (None keeps every
    row). The adapter owns the pandas batch loop, column assembly and
    the mapInPandas call."""
    names = schema.fieldNames()

    def run(batches: Iterator["object"]) -> Iterator["object"]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, mod, payload in zip(
                pdf["doc_id"], pdf["modality"], pdf["payload"]
            ):
                if modality is None or mod == modality:
                    rows.extend(fn(doc_id, mod, bytes(payload)))
            yield pd.DataFrame(rows, columns=names)

    return media.mapInPandas(run, schema=schema)


def _reads(modality: str | None) -> Callable:
    """Declare the one modality a kernel reads as ``kernel.modality``:
    the kernel hands it to map_payloads, and callers hand it to
    synthesize_media."""

    def declare(kernel: Callable) -> Callable:
        kernel.modality = modality
        return kernel

    return declare


def _signed64(u: int) -> int:
    """Two's-complement form of an unsigned 64-bit hash (LongType
    columns carry it for JVM-side xor/bit_count)."""
    return u - (1 << 64) if u >= (1 << 63) else u


def _ppm_header(raw: bytes) -> tuple[int, int, int]:
    """P6 header walk (ASCII tokens, '#' comments, single whitespace
    after maxval) → (width, height, pixel-plane offset)."""
    if raw[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    tokens, pos = [], 2
    while len(tokens) < 3:
        while pos < len(raw) and raw[pos : pos + 1].isspace():
            pos += 1
        if raw[pos : pos + 1] == b"#":  # comment to end of line
            while raw[pos : pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(raw) and not raw[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(raw[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    return w, h, pos


def decode_ppm(raw: bytes) -> dict:
    """Parse a binary PPM (P6): netpbm header grammar + RGB plane."""
    w, h, pos = _ppm_header(raw)
    pixels = raw[pos : pos + w * h * 3]
    if len(pixels) != w * h * 3:
        raise ValueError("truncated pixel plane")
    return {
        "format": "ppm",
        "width": w,
        "height": h,
        "channels": 3,
        "n_units": w * h,
        "mean_val": sum(pixels) / len(pixels) if pixels else 0.0,
    }


def ppm_gray_grid(raw: bytes, gw: int, gh: int) -> list[list[int]]:
    """Grayscale gw×gh grid from a P6 PPM via nearest-neighbor
    sampling: grid cell (x, y) reads the source pixel at
    (x·w//gw, y·h//gh); gray = (r+g+b)//3 (integer — every step is
    exact, so the hashes are bit-reproducible anywhere)."""
    w, h, pos = _ppm_header(raw)
    grid = []
    for y in range(gh):
        sy = y * h // gh
        row = []
        for x in range(gw):
            sx = x * w // gw
            o = pos + (sy * w + sx) * 3
            row.append((raw[o] + raw[o + 1] + raw[o + 2]) // 3)
        grid.append(row)
    return grid


def ahash64(raw: bytes) -> int:
    """Average hash: 8×8 grayscale grid, bit i set iff cell i is
    STRICTLY above the integer mean of the 64 cells (row-major,
    MSB-first). Integer mean keeps the threshold exact."""
    g = ppm_gray_grid(raw, 8, 8)
    cells = [v for row in g for v in row]
    mean = sum(cells) // 64
    bits = 0
    for v in cells:
        bits = (bits << 1) | (1 if v > mean else 0)
    return bits


def dhash64(raw: bytes) -> int:
    """Difference hash: 9×8 grayscale grid, bit set iff the left cell
    is strictly brighter than its right neighbor (horizontal gradient
    signs — robust to global brightness shifts aHash is blind to)."""
    g = ppm_gray_grid(raw, 9, 8)
    bits = 0
    for y in range(8):
        for x in range(8):
            bits = (bits << 1) | (1 if g[y][x] > g[y][x + 1] else 0)
    return bits


def _riff_chunks(raw: bytes) -> dict[bytes, bytes]:
    """RIFF/WAVE chunk walk → {chunk id: body}; a repeated id keeps its
    last body."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, chunks = 12, {}
    while pos + 8 <= len(raw):
        size = struct.unpack("<I", raw[pos + 4 : pos + 8])[0]
        chunks[raw[pos : pos + 4]] = raw[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    return chunks


def _wav_pcm16(raw: bytes) -> tuple:
    """PCM16 sample tuple of a RIFF/WAVE file's data chunk."""
    data = _riff_chunks(raw).get(b"data")
    if data is None:
        raise ValueError("missing data chunk")
    n = len(data) // 2
    return struct.unpack("<%dh" % n, data[: 2 * n])


def decode_wav(raw: bytes) -> dict:
    """Parse RIFF/WAVE: walk chunks, read fmt (PCM only), mean |sample|
    over the data chunk."""
    chunks = _riff_chunks(raw)
    if b"fmt " not in chunks or b"data" not in chunks:
        raise ValueError("missing fmt/data chunk")
    data = chunks[b"data"]
    audio_fmt, n_ch, rate, _, _, bits = struct.unpack(
        "<HHIIHH", chunks[b"fmt "][:16]
    )
    if audio_fmt != 1 or bits != 16:
        raise ValueError("only PCM16 supported")
    n = len(data) // (2 * n_ch)
    samples = struct.unpack("<%dh" % (n * n_ch), data[: 2 * n * n_ch])
    return {
        "format": "wav",
        "width": rate,  # sample rate in the width slot (audio has no dims)
        "height": bits,
        "channels": n_ch,
        "n_units": n,
        "mean_val": sum(abs(s) for s in samples) / len(samples) if samples else 0.0,
    }


def _y4m_frames(raw: bytes) -> tuple[int, int, list[bytes]]:
    """YUV4MPEG2 walk: stream-header params, then each frame's 4:2:0
    bytes, located by exact frame size (offset math, not marker
    search) → (width, height, frames)."""
    nl = raw.index(b"\n")
    head = raw[:nl].split(b" ")
    if head[0] != b"YUV4MPEG2":
        raise ValueError("not a Y4M stream")
    params = {p[:1]: p[1:] for p in head[1:] if p}
    w, h = int(params[b"W"]), int(params[b"H"])
    if params.get(b"C", b"420").startswith(b"420") is False:
        raise ValueError("only 4:2:0 supported")
    frame_len = w * h * 3 // 2
    pos, frames = nl + 1, []
    while pos < len(raw):
        fnl = raw.index(b"\n", pos)  # FRAME + optional params
        if raw[pos : pos + 5] != b"FRAME":
            raise ValueError("bad frame marker")
        frames.append(raw[fnl + 1 : fnl + 1 + frame_len])
        pos = fnl + 1 + frame_len
    return w, h, frames


def decode_y4m(raw: bytes) -> dict:
    """Parse YUV4MPEG2: frame count and mean luma over every frame."""
    w, h, frames = _y4m_frames(raw)
    ysum, ycount = 0, 0
    for frame in frames:
        y = frame[: w * h]  # luma plane only for stats
        ysum += sum(y)
        ycount += len(y)
    return {
        "format": "y4m",
        "width": w,
        "height": h,
        "channels": 3,
        "n_units": len(frames),
        "mean_val": ysum / ycount if ycount else 0.0,
    }


def decode_payload(raw: bytes) -> dict:
    """Sniff the container magic and dispatch to the real parser."""
    if raw[:2] == b"P6":
        return decode_ppm(raw)
    if raw[:4] == b"RIFF":
        return decode_wav(raw)
    if raw[:9] == b"YUV4MPEG2":
        return decode_y4m(raw)
    raise ValueError("unknown media container")


@_reads(None)
def decode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched decode: binary payload → typed metadata + stats.

    The kernel is a real container parse (magic sniff → PPM/WAV/Y4M
    grammar) per payload; sha1 content-addresses the full file bytes.
    """

    def decode(doc_id, modality, raw):
        m = decode_payload(raw)
        return [(
            doc_id, modality, m["format"], m["width"], m["height"],
            m["channels"], m["n_units"], len(raw), float(m["mean_val"]),
            hashlib.sha1(raw).hexdigest(),
        )]

    return map_payloads(media, decode, DECODED_SCHEMA, decode_media.modality)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_sha", T.StringType()),
    ]
)


@_reads(None)
def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Real video frame sampling: walk the Y4M stream, emit one row per
    sampled frame with the sha1 of that frame's actual YUV bytes (the
    row-per-frame fan-out downstream batching consumes). Non-video
    payloads contribute their single 'frame' (the whole payload)."""

    def sample(doc_id, modality, raw):
        frames = _y4m_frames(raw)[2] if raw[:9] == b"YUV4MPEG2" else [raw]
        return [
            (doc_id, modality, idx, hashlib.sha1(frame).hexdigest())
            for idx, frame in enumerate(frames)
            if idx % every_n == 0
        ]

    return map_payloads(media, sample, FRAME_SCHEMA, frame_sample.modality)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("src_width", T.IntegerType()),
        T.StructField("src_height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("resized_sha", T.StringType()),
    ]
)


def resize_ppm(raw: bytes, factor: int) -> bytes:
    """REAL nearest-neighbor downscale of a P6 PPM: sample every
    `factor`-th pixel row/column and re-emit a well-formed smaller PPM
    (opens in any image viewer, like the originals)."""
    meta = decode_ppm(raw)
    w, h = meta["width"], meta["height"]
    header_end = len(raw) - w * h * 3
    pixels = raw[header_end:]
    nw, nh = max(1, w // factor), max(1, h // factor)
    rows = []
    for y in range(nh):
        sy = y * factor
        row = bytearray()
        for x in range(nw):
            sx = x * factor
            off = (sy * w + sx) * 3
            row += pixels[off : off + 3]
        rows.append(bytes(row))
    return b"P6\n%d %d\n255\n" % (nw, nh) + b"".join(rows)


@_reads("image")
def resize_images(media: DataFrame, factor: int = 2) -> DataFrame:
    """Arrow-batched image resize over the media table (image rows
    only): the downsample step of a vision-pretraining pipeline. The
    kernel re-encodes a real PPM, so downstream stages can re-decode
    the output payload with the same parser."""

    def resize(doc_id, modality, raw):
        src = decode_ppm(raw)
        small = resize_ppm(raw, factor)
        meta = decode_ppm(small)
        return [(
            doc_id, src["width"], src["height"], meta["width"],
            meta["height"], len(small), hashlib.sha1(small).hexdigest(),
        )]

    return map_payloads(media, resize, RESIZED_SCHEMA, resize_images.modality)


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("win_idx", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


def wav_windows(raw: bytes, win: int) -> list[dict]:
    """Per-window RMS energy + peak amplitude over a WAV's PCM16
    stream — the frame-level feature extraction in front of any audio
    model. Pure-integer moments; one sqrt per window."""
    import math

    samples = _wav_pcm16(raw)
    out = []
    for i in range(0, len(samples), win):
        chunk = samples[i : i + win]
        ss = sum(s * s for s in chunk)
        out.append(
            {
                "win_idx": i // win,
                "n_samples": len(chunk),
                "rms": math.sqrt(ss / len(chunk)),
                "peak": max(abs(s) for s in chunk),
            }
        )
    return out


@_reads("audio")
def audio_features(media: DataFrame, win: int = 64) -> DataFrame:
    """Arrow-batched audio feature extraction (audio rows only): one
    row per fixed-size sample window with RMS energy and peak — the
    row-per-frame fan-out shape shared with frame_sample."""

    def features(doc_id, modality, raw):
        return [
            (doc_id, w["win_idx"], w["n_samples"], w["rms"], w["peak"])
            for w in wav_windows(raw, win)
        ]

    return map_payloads(
        media, features, AUDIO_FEATURE_SCHEMA, audio_features.modality
    )


SCENE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("mad", T.DoubleType()),
        T.StructField("is_cut", T.IntegerType()),
    ]
)

SCENE_CUT_MAD = 48.0


def y4m_scene_diffs(raw: bytes) -> list[dict]:
    """Mean-absolute-difference between consecutive luma planes of a
    real Y4M stream — the shot-boundary signal of video preprocessing.
    One row per frame transition; a transition whose luma MAD exceeds
    SCENE_CUT_MAD is a cut candidate."""
    w, h, frames = _y4m_frames(raw)
    prev, out = None, []
    for idx, frame in enumerate(frames):
        luma = frame[: w * h]
        if prev is not None:
            mad = sum(abs(a - b) for a, b in zip(luma, prev)) / len(luma)
            out.append(
                {"frame_idx": idx, "mad": mad, "is_cut": int(mad > SCENE_CUT_MAD)}
            )
        prev = luma
    return out


@_reads("video")
def scene_cuts(media: DataFrame) -> DataFrame:
    """Arrow-batched scene-cut detection (video rows only): walks each
    Y4M stream once, emitting one row per frame transition."""

    def cuts(doc_id, modality, raw):
        return [
            (doc_id, d["frame_idx"], d["mad"], d["is_cut"])
            for d in y4m_scene_diffs(raw)
        ]

    return map_payloads(media, cuts, SCENE_SCHEMA, scene_cuts.modality)


IMAGE_HASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("ahash", T.LongType()),
        T.StructField("dhash", T.LongType()),
        T.StructField("ahash_hex", T.StringType()),
        T.StructField("dhash_hex", T.StringType()),
    ]
)


@_reads("image")
def image_hashes(media: DataFrame) -> DataFrame:
    """Arrow-batched perceptual hashing over the media table's image
    rows: aHash (8×8 mean threshold) + dHash (9×8 horizontal gradient)
    from the REAL P6 pixel plane — the content-defined image signature
    in front of any vision dedup (exact byte hashes miss re-encodes;
    these survive them). All-integer arithmetic, so the 64-bit values
    are bit-reproducible on any platform; the LongType columns carry
    the two's-complement form for JVM-side bit ops (xor/bit_count),
    the hex columns the unsigned spelling."""

    def hashes(doc_id, modality, raw):
        w, h, _ = _ppm_header(raw)
        a, d = ahash64(raw), dhash64(raw)
        return [(
            doc_id, w, h, _signed64(a), _signed64(d), f"{a:016x}", f"{d:016x}",
        )]

    return map_payloads(media, hashes, IMAGE_HASH_SCHEMA, image_hashes.modality)


# --- audio fingerprint (round 10: energy-envelope dHash) ---------------

AUDIO_FP_BANDS = 65  # 65 band energies -> 64 sign-of-delta bits


def audio_fp64(raw: bytes) -> int:
    """64-bit energy-envelope fingerprint of a WAV stream: split the
    PCM16 samples into AUDIO_FP_BANDS time bands (band i covers
    samples [i·n/B, (i+1)·n/B) — length-normalized, so the signature
    compares streams of different durations), take each band's energy
    (exact integer sum of squares), and emit the dHash of the
    envelope: bit i = 1 iff energy[i+1] > energy[i]. Sign-of-delta is
    the loudness CONTOUR — robust to uniform gain (scaling all
    samples preserves every comparison), which is exactly why
    industrial audio fingerprints (Haitsma–Kalker/Shazam family) hash
    energy differences rather than energies. All-integer, so the
    value is bit-reproducible on any platform."""
    samples = _wav_pcm16(raw)
    n = len(samples)
    b = AUDIO_FP_BANDS
    energies = []
    for i in range(b):
        lo, hi = i * n // b, (i + 1) * n // b
        energies.append(sum(s * s for s in samples[lo:hi]))
    fp = 0
    for i in range(b - 1):
        if energies[i + 1] > energies[i]:
            fp |= 1 << i
    return fp


AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("fp", T.LongType()),
        T.StructField("fp_hex", T.StringType()),
    ]
)


@_reads("audio")
def audio_fingerprints(media: DataFrame) -> DataFrame:
    """Arrow-batched audio fingerprinting over the media table's audio
    rows: one 64-bit energy-envelope dHash per stream (audio_fp64).
    LongType carries the two's-complement form for JVM bit ops
    (xor/bit_count), fp_hex the unsigned spelling."""

    def fingerprint(doc_id, modality, raw):
        u = audio_fp64(raw)
        return [(doc_id, len(_wav_pcm16(raw)), _signed64(u), f"{u:016x}")]

    return map_payloads(
        media, fingerprint, AUDIO_FP_SCHEMA, audio_fingerprints.modality
    )
