"""Multimodal column plumbing (SURVEY §2.11 / project brief).

Images/audio/video are opaque ``binary`` columns plus typed metadata
(a struct column), processed by Arrow kernels (``arrow_kernel``) —
the real Spark-side machinery (schemas, partitioning, batch iteration)
with the codec itself stubbed: the image/audio libraries are not in
this container, so ``decode_image`` raises ``NotImplementedError``
unless the deterministic fake codec is requested (tests use the fake).

At scale: binary payloads dominate row size → keep them in their own
table keyed by content hash, partition by size class so Arrow batches
stay bounded (``spark.sql.execution.arrow.maxRecordsPerBatch``), and
push metadata-only predicates BEFORE any decode stage.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fdf_spark.functions.kernels import _columns, arrow_kernel

#: schema of a multimodal asset table
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

#: the fixture asset rows of :func:`_synth_assets`
SYNTH_SCHEMA = "asset_id long, media_type string, payload binary"

#: output of :func:`extract_features` (an ``arrow_kernel`` DDL: bare
#: names are the input columns carried through)
FEATURE_SCHEMA = "asset_id, media_type, n_bytes long, header_u32 long, feat array<double>"


def _fake_decode(payload: bytes) -> list[float]:
    """Deterministic stand-in for a real codec: 8 'features' from the
    payload bytes (length + first/last words). Lets the full pipeline
    run and be asserted on without image/audio libs."""
    n = len(payload)
    head = struct.unpack("<I", payload[:4].ljust(4, b"\0"))[0] if n else 0
    tail = struct.unpack("<I", payload[-4:].rjust(4, b"\0"))[0] if n else 0
    return [float(n), float(head % 997), float(tail % 991), float(head ^ tail)] + [
        float(payload[i] if i < n else 0) for i in (0, 1, 2, 3)
    ]


def encode_bmp(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Pure-stdlib 24-bpp uncompressed BMP writer (solid color).

    Standard BITMAPFILEHEADER + BITMAPINFOHEADER layout: bottom-up rows,
    BGR byte order, rows padded to 4-byte boundaries. Used as the
    deterministic fixture generator for the REAL decode path — the
    decoder must recover width/height/color from these bytes alone.
    """
    r, g, b = rgb
    row = bytes((b, g, r)) * width
    pad = (-len(row)) % 4
    pixels = (row + b"\0" * pad) * height
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 14 + 40)
    return header + info + pixels


def decode_bmp(payload: bytes) -> list[float]:
    """Real 24-bpp BMP decode with stdlib ``struct`` only: parse both
    headers, walk the (padded, bottom-up) pixel rows, return
    [width, height, bpp, mean_r, mean_g, mean_b]. Raises on anything
    that is not an uncompressed 24-bpp BMP."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    hdr_size, width, height, _planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bpp BMP supported (bpp={bpp})")
    import numpy as np

    h = abs(height)
    stride = (width * 3 + 3) & ~3
    px = (
        np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_off)
        .reshape(h, stride)[:, : width * 3]
        .reshape(-1, 3)
        .astype(np.int64)
    )
    sb, sg, sr = px.sum(axis=0)  # BMP stores BGR
    n = width * h
    return [float(width), float(h), float(bpp), sr / n, sg / n, sb / n]


def encode_wav(sample_rate: int, samples: list[int]) -> bytes:
    """Pure-stdlib mono 16-bit PCM WAV writer (RIFF header + frames)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def decode_wav(payload: bytes) -> list[float]:
    """Real WAV decode via the stdlib ``wave`` module: parse the RIFF
    header and PCM frames, return [sample_rate, n_channels, n_frames,
    mean, peak_abs, mean_square] with exact integer accumulation."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        sr, nch, nf, sw = w.getframerate(), w.getnchannels(), w.getnframes(), w.getsampwidth()
        if sw != 2:
            raise ValueError(f"only 16-bit PCM supported (sampwidth={sw})")
        vals = struct.unpack(f"<{nf * nch}h", w.readframes(nf))
    n = max(len(vals), 1)
    return [
        float(sr),
        float(nch),
        float(nf),
        sum(vals) / n,
        float(max((abs(v) for v in vals), default=0)),
        sum(v * v for v in vals) / n,
    ]


#: decoders usable without any non-stdlib media library — all REAL
#: codecs (fdf_spark.llm.imagecodecs / audiocodecs / flac / mpegaudio):
#: PNG, baseline JPEG, GIF/LZW, IMA ADPCM, lossless FLAC, and MPEG-1
#: Audio Layer I (bitstream parse + requantized subband amplitudes;
#: PCM synthesis is the documented tabulated-window boundary — see
#: llm/mpegaudio.py). Only perceptual PCM/pixel reconstruction
#: (MP3 = Layer III, H.264) stays behind the 'stub' guard.
def _decode_png(payload: bytes) -> list[float]:
    from fdf_spark.llm.imagecodecs import decode_png

    return decode_png(payload)


def _decode_jpeg(payload: bytes) -> list[float]:
    from fdf_spark.llm.imagecodecs import decode_jpeg

    return decode_jpeg(payload)


def _decode_gif(payload: bytes) -> list[float]:
    from fdf_spark.llm.imagecodecs import decode_gif

    return decode_gif(payload)


def _decode_adpcm(payload: bytes) -> list[float]:
    from fdf_spark.llm.audiocodecs import decode_adpcm

    return decode_adpcm(payload)


def _decode_flac(payload: bytes) -> list[float]:
    from fdf_spark.llm.flac import decode_flac

    return decode_flac(payload)


def _decode_mpeg1(payload: bytes) -> list[float]:
    from fdf_spark.llm.mpegaudio import decode_mpeg

    return decode_mpeg(payload)


REAL_CODECS = {
    "bmp": decode_bmp,
    "wav": decode_wav,
    "png": _decode_png,
    "jpeg": _decode_jpeg,
    "gif": _decode_gif,
    "adpcm": _decode_adpcm,
    "flac": _decode_flac,
    "mpeg1": _decode_mpeg1,
}

#: the names :func:`sniff_format` classifies unconditionally (its
#: hardcoded magic-byte branches); :func:`unregister_codec` refuses
#: these — removing the decoder while the sniffer still routes to it
#: would turn every such asset into a misleading KeyError quarantine
#: row instead of an unknown-format row (ADVICE r8)
BUILTIN_CODECS = frozenset(REAL_CODECS)

#: magic-byte prefixes for REGISTERED external codecs (native-lib
#: mounts); consulted by :func:`sniff_format` when it builds its
#: column expression, so a registered format routes through the same
#: JVM sniff as the built-ins.
EXTRA_MAGIC: dict[str, bytes] = {}


def register_codec(name: str, decode, magic: bytes | None = None) -> None:
    """Mount an EXTERNAL decoder (e.g. an ffmpeg binding) into the
    engine's codec seam.

    ``decode(payload: bytes) -> sequence`` joins :data:`REAL_CODECS`
    under ``name`` and immediately routes through the SAME
    ``extract_features`` / ``decode_audit`` Arrow-kernel machinery as
    the built-in pure-python codecs — no engine code changes.  If
    ``magic`` is given, :func:`sniff_format` also learns to classify
    payloads with that prefix as ``name`` (still a pure JVM column
    expression — one more ``when`` branch).

    This is the documented MP3/H.264 boundary contract made
    mechanical: the perceptual codecs are not missing plumbing, they
    are missing a decoder, and this is where one mounts.  The decode
    callable must be serializable (cloudpickle) — the operators
    snapshot the registry BY VALUE at plan-build time so executors see
    the registration without re-importing a mutated module.
    tests/test_multimodal.py proves the contract with a fake native
    codec.
    """
    if not callable(decode):
        raise TypeError(f"decode for codec {name!r} must be callable")
    if name in ("stub", "fake", "unknown"):
        raise ValueError(f"codec name {name!r} is reserved")
    if name in BUILTIN_CODECS:
        # the mirror of unregister_codec's refusal: silently replacing
        # a built-in loses the original decoder with no way back (the
        # guard below blocks removal of built-in names) — external
        # mounts must take their own names
        raise ValueError(
            f"codec {name!r} is built-in; register external decoders under a new name"
        )
    if magic is not None:
        magic = bytes(magic)  # may raise (e.g. str) — BEFORE any mutation
        if not magic:
            raise ValueError("magic prefix must be non-empty when given")
    # validate EVERYTHING before mutating: a partial registration would
    # poison every later codec plan in the session (the snapshot ships
    # the whole dict to executors)
    REAL_CODECS[name] = decode
    if magic is not None:
        EXTRA_MAGIC[name] = magic


def unregister_codec(name: str) -> None:
    """Remove a registered EXTERNAL codec.

    Built-in names are refused (mirror of ``register_codec``'s
    reserved-name check): :func:`sniff_format`'s hardcoded branches
    would still classify those formats, so ``decode_audit`` would then
    quarantine e.g. every PNG with a KeyError — a misleading failure
    mode where the honest one is 'unknown format'."""
    if name in BUILTIN_CODECS:
        raise ValueError(
            f"codec {name!r} is built-in (sniff_format classifies it "
            "unconditionally); only externally registered codecs can be removed"
        )
    REAL_CODECS.pop(name, None)
    EXTRA_MAGIC.pop(name, None)


def extract_features(assets: DataFrame, codec: str = "stub") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Every name in :data:`REAL_CODECS` runs a REAL pure-python
    decoder — ``bmp``/``wav`` plus the compressed formats ``png``,
    ``jpeg``, ``gif`` (imagecodecs), ``adpcm``, ``flac``
    (audiocodecs/flac); ``codec='fake'`` runs the deterministic test
    fake; ``codec='stub'`` raises (the perceptual codecs MP3/H.264
    have no stdlib path).  Any other string raises ``ValueError`` —
    an unknown codec must never silently fall back to fake features.
    """
    if codec not in ("stub", "fake") and codec not in REAL_CODECS:
        raise ValueError(
            f"unknown codec {codec!r}; expected one of "
            f"{sorted(REAL_CODECS)} or 'fake'"
        )
    # snapshot BY VALUE: executors re-import this module pristine, so a
    # registered external codec only reaches them through the closure
    codecs = dict(REAL_CODECS)

    def run(batch):
        if codec == "stub":
            raise NotImplementedError(
                "PERCEPTUAL-codec PCM/pixel reconstruction (MP3/H.264) is a "
                "documented permanent boundary, not an environment accident: "
                "their synthesis filterbanks rest on large TABULATED spec "
                "data (e.g. the 512-tap window of ISO 11172-3 table 3-B.3) "
                "with no closed form and no conformance vectors available "
                "here to verify a hand-typed table against. The MPEG-1 "
                "Layer I bitstream itself IS decoded for real through "
                "requantized subband amplitudes (codec='mpeg1', "
                "llm/mpegaudio.py); full PCM/pixel output belongs to a "
                "native lib (ffmpeg) mounted inside this same Arrow kernel "
                f"seam. Use one of {sorted(REAL_CODECS)} or codec='fake'."
            )
        decode = codecs.get(codec, _fake_decode)
        payloads = batch["payload"].to_pylist()
        feats = [decode(p) for p in payloads]
        return {
            "n_bytes": [len(p) for p in payloads],
            "header_u32": [int(f[1]) for f in feats],
            "feat": feats,
        }

    # metadata-only pruning happens BEFORE this operator; here we only
    # carry the columns the codec needs (column pruning keeps payload
    # out of any upstream exchange)
    return arrow_kernel(assets.select("asset_id", "media_type", "payload"), run, FEATURE_SCHEMA)


def _synth_assets(docs: DataFrame, payload_of, schema: str = SYNTH_SCHEMA) -> DataFrame:
    """One fixture asset per doc: ``asset_id`` is the ``doc_id`` and
    ``payload_of(doc_id)`` gives the values of the other columns of
    ``schema`` — the one generator loop behind every ``synth_*``."""

    def gen(batch):
        return _columns([(d, *payload_of(d)) for d in batch["doc_id"].to_pylist()], schema)

    return arrow_kernel(docs.select("doc_id"), gen, schema)


def synth_media_assets(docs: DataFrame) -> DataFrame:
    """Deterministic real-format media fixtures from doc ids.

    Even ids become solid-color 24-bpp BMPs, odd ids become constant
    mono 16-bit PCM WAVs, every parameter a pure function of ``doc_id``
    — so a SQL oracle can recompute what the REAL decoders must
    recover from the bytes alone (the encode→decode roundtrip is the
    thing under test, with the oracle independent of both sides).
    """

    def payload_of(d):
        if d % 2 == 0:
            rgb = (d % 256, (3 * d) % 256, (7 * d) % 256)
            return "image", encode_bmp(2 + d % 7, 1 + d % 5, rgb)
        return "audio", encode_wav(8000 + 1000 * (d % 4), [d % 1001 - 500] * (40 + d % 25))

    return _synth_assets(docs, payload_of)


def synth_png_assets(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-PNG fixtures from doc ids.

    Every doc becomes an actual zlib-compressed PNG of a gradient
    image whose pixel law is pure arithmetic in ``doc_id``::

        width  = 2 + doc_id % 6      height = 1 + doc_id % 4
        pixel(x, y, c) = (doc_id + 11*x + 23*y + 41*c) % 256   (RGB)
        scanline filter = doc_id % 5   (all five filter types exercised)

    so a SQL oracle can recompute the decoded per-channel means without
    touching either the encoder or the decoder — the encode→inflate→
    unfilter→fold roundtrip is the thing under test.
    """
    from fdf_spark.llm.imagecodecs import encode_png

    def payload_of(d):
        yy, xx, cc = np.mgrid[0 : 1 + d % 4, 0 : 2 + d % 6, 0:3]
        img = ((d + 11 * xx + 23 * yy + 41 * cc) % 256).astype(np.uint8)
        return "image", encode_png(img, filter_type=d % 5)

    return _synth_assets(docs, payload_of)


def synth_jpeg_assets(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-JPEG fixtures from doc ids.

    Every doc becomes an actual baseline JPEG (huffman entropy layer,
    DCT, flat quant=16 tables shipped in DQT) of a SOLID color::

        (r, g, b) = (doc_id % 256, 3*doc_id % 256, 7*doc_id % 256)
        width = 8 + doc_id % 9   height = 8 + doc_id % 5
        4:2:0 subsampling for odd ids, 4:4:4 for even
        restart interval 2 for ids % 3 == 0

    A constant block has only a DC coefficient, so the decoded color
    follows a closed-form quantization law (per channel v:
    ``clamp(2 * round_half_away((v-128)/2) + 128)`` through the JFIF
    color transforms) that a SQL oracle replays double-for-double —
    independent of both the encoder and the decoder's huffman/IDCT
    machinery, which is precisely what it exercises.
    """
    from fdf_spark.llm.imagecodecs import encode_jpeg

    def payload_of(d):
        rgb = np.zeros((8 + d % 5, 8 + d % 9, 3), np.uint8)
        rgb[...] = (d % 256, (3 * d) % 256, (7 * d) % 256)
        jpeg = encode_jpeg(
            rgb, quant=16, subsample=(d % 2 == 1), restart_interval=2 if d % 3 == 0 else 0
        )
        return "image", jpeg

    return _synth_assets(docs, payload_of)


def synth_gif_assets(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-GIF fixtures from doc ids.

    Every doc becomes an actual LZW-compressed single-frame GIF87a
    over the fixed arithmetic palette (``palette[i] = (i, 3i%256,
    7i%256)``) with pixel-index law::

        width = 3 + doc_id % 8      height = 2 + doc_id % 6
        index(x, y) = (doc_id + 5*x + 9*y) % 256

    so a SQL oracle recomputes the decoded RGB means from pure
    arithmetic — the LZW compress→decompress→palette-map roundtrip is
    the thing under test.
    """
    from fdf_spark.llm.imagecodecs import encode_gif

    def payload_of(d):
        yy, xx = np.mgrid[0 : 2 + d % 6, 0 : 3 + d % 8]
        return "image", encode_gif(((d + 5 * xx + 9 * yy) % 256).astype(np.uint8))

    return _synth_assets(docs, payload_of)


def _synth_gif_video(docs: DataFrame, frame_index_law) -> DataFrame:
    """Shared animated-GIF fixture generator: dims/frame-count laws
    (w = 2+d%4, h = 1+d%3, n_frames = 2+d%5) with the per-frame
    palette-index array supplied by ``frame_index_law(d, xx, yy, f)``
    — the one thing the video fixture families differ in."""
    from fdf_spark.llm.imagecodecs import encode_gif_anim

    def payload_of(d):
        w, h, nf = 2 + d % 4, 1 + d % 3, 2 + d % 5
        yy, xx = np.mgrid[0:h, 0:w]
        gif = encode_gif_anim([frame_index_law(d, xx, yy, f) for f in range(nf)])
        return "video", gif, {"width": w, "height": h, "sample_rate": None, "n_frames": nf}

    return _synth_assets(docs, payload_of, f"{SYNTH_SCHEMA}, meta {META_TYPE}")


def synth_gif_anim_assets(docs: DataFrame) -> DataFrame:
    """Deterministic REAL animated-GIF (video-tier) fixtures.

    Every doc becomes an actual multi-frame GIF89a (per-frame Graphic
    Control Extension + LZW stream over the fixed arithmetic palette)
    with the frame-indexed pixel law::

        width = 2 + doc_id % 4   height = 1 + doc_id % 3
        n_frames = 2 + doc_id % 5
        index(x, y, f) = (doc_id + 5*x + 9*y + 17*f) % 256

    so a SQL oracle recomputes any frame's RGB means from arithmetic
    alone — the container walk + per-frame LZW roundtrip is the thing
    under test.  ``meta.n_frames`` is filled but the REAL sampler
    (:func:`frame_sample_features`) derives the frame count from the
    container, never from trusted metadata.
    """
    return _synth_gif_video(
        docs,
        lambda d, xx, yy, f: ((d + 5 * xx + 9 * yy + 17 * f) % 256).astype(np.uint8),
    )


FRAME_SCHEMA = (
    "asset_id, frame_idx int, n_frames int, width int, height int, "
    "mean_r double, mean_g double, mean_b double"
)


def frame_sample_features(assets: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL pruned video-frame sampling over animated GIFs: one output
    row per sampled frame with exact-integer channel means.

    Two-cost structure, which is the point at scale: the container
    walk (:func:`~fdf_spark.llm.imagecodecs.scan_gif_frames`) is a
    linear byte scan that hops LZW sub-blocks by their length prefix —
    paid once per asset — while the expensive LZW decode
    (:func:`~fdf_spark.llm.imagecodecs.decode_gif_frame_pixels`) is
    paid ONLY for frames 0, every_n, 2·every_n, …  Decode cost scales
    with frames SAMPLED, not frames present (a 1/every_n saving that
    tests pin by comparing against decoding everything).  The frame
    count comes from the container itself, never ``meta`` — corrupt or
    absent metadata cannot smuggle frames past the sampler.  Runs as
    an Arrow kernel: embarrassingly parallel per asset, zero shuffles
    (plan-pinned, q142).
    """
    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    from fdf_spark.llm.imagecodecs import decode_scanned_frame, scan_gif_frames

    def run(batch):
        rows, out = [], []
        for i, p in enumerate(batch["payload"].to_pylist()):
            w, h, mc, frames = scan_gif_frames(p)
            for f in range(0, len(frames), every_n):
                px = decode_scanned_frame(p, w, h, mc, frames[f]).astype(np.int64)
                rows.append(i)
                out.append((f, len(frames), w, h, *(px.sum(axis=(0, 1)) / (h * w))))
        return _columns(out, FRAME_SCHEMA), rows

    return arrow_kernel(
        assets.filter(F.col("media_type") == "video").select("asset_id", "payload"),
        run,
        FRAME_SCHEMA,
    )


def synth_gif_scene_assets(docs: DataFrame) -> DataFrame:
    """Animated-GIF fixtures with a planted SCENE CUT.

    Same container as :func:`synth_gif_anim_assets` but the pixel law
    carries slow per-frame drift plus one hard jump::

        n_frames = 2 + doc_id % 5      cut = 1 + doc_id % (n_frames-1)
        index(x, y, f) = (doc_id + 5*x + 9*y + 2*f
                          + 120*[f >= cut]) % 256

    so consecutive-frame deltas are small everywhere except across the
    cut — the ground truth a scene detector must recover, and pure
    arithmetic a SQL oracle replays exactly.
    """

    def law(d, xx, yy, f):
        cut = 1 + d % ((2 + d % 5) - 1)
        return ((d + 5 * xx + 9 * yy + 2 * f + (120 if f >= cut else 0)) % 256).astype(np.uint8)

    return _synth_gif_video(docs, law)


SCENE_SCHEMA = "asset_id, frame_idx int, n_frames int, delta double, is_cut boolean"


def scene_cuts(assets: DataFrame, threshold: float = 40.0) -> DataFrame:
    """Scene-change detection over the animated-GIF video tier: one
    row per consecutive frame pair with the mean absolute RGB delta
    and the thresholded cut verdict.

    Unlike sampling (:func:`frame_sample_features`), deltas need BOTH
    neighbours, so every frame is decoded — but sequentially, holding
    only the previous frame's pixels (peak memory = 2 frames per
    asset, any clip length), with the container scanned ONCE per asset
    (the per-frame entropy streams come from one
    :func:`~fdf_spark.llm.imagecodecs.scan_gif_frames` walk).  The
    delta is exact integer arithmetic over the palette-mapped pixels
    divided once (``Σ|Δ| / (w·h·3)``) — bit-stable in any engine, so
    q143's oracle replays detector output INCLUDING the verdicts.
    An Arrow kernel, zero shuffles, embarrassingly parallel per asset.
    """
    from fdf_spark.llm.imagecodecs import decode_scanned_frame, scan_gif_frames

    def run(batch):
        rows, out = [], []
        for i, p in enumerate(batch["payload"].to_pylist()):
            w, h, mc, streams = scan_gif_frames(p)
            prev = None
            for f, s in enumerate(streams):
                cur = decode_scanned_frame(p, w, h, mc, s).astype(np.int64)
                if prev is not None:
                    delta = int(np.abs(cur - prev).sum()) / (w * h * 3)
                    rows.append(i)
                    out.append((f, len(streams), delta, delta > threshold))
                prev = cur
        return _columns(out, SCENE_SCHEMA), rows

    return arrow_kernel(
        assets.filter(F.col("media_type") == "video").select("asset_id", "payload"),
        run,
        SCENE_SCHEMA,
    )


def sniff_format(payload: Column) -> Column:
    """Magic-byte format detection as a PURE JVM column expression —
    zero Python, whole-stage codegen, usable as a partition/routing
    key before any decode stage touches the bytes.  Recognizes the
    engine's real codec formats; anything else is ``'unknown'``.

    RIFF containers (PCM WAV and IMA ADPCM) both sniff as ``'wav'`` —
    the fourcc at offset 8 identifies the container, not the codec;
    :func:`decode_audit` resolves the codec from the ``fmt `` chunk's
    format tag.  MPEG-1 Layer I frames sniff on the 12-bit syncword +
    ID/layer bits (0xFFFF/0xFFFE leading pair — the engine's decoded
    profile; JPEG's 0xFFD8FF matches earlier and never collides).

    Formats mounted via :func:`register_codec` with a magic prefix get
    their own ``when`` branch (checked BEFORE the built-ins, so a
    native decoder can also override a built-in's routing) — the
    expression is built per call, so registration order is plan-build
    order and the sniff stays whole-stage-codegen JVM.
    """
    expr = None
    for name, magic in EXTRA_MAGIC.items():
        cond = F.substring(payload, 1, len(magic)) == F.lit(magic)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    head = (lambda c, v: F.when(c, v)) if expr is None else expr.when
    return (
        head(F.substring(payload, 1, 8) == F.lit(b"\x89PNG\r\n\x1a\n"), "png")
        .when(F.substring(payload, 1, 4) == F.lit(b"GIF8"), "gif")
        .when(F.substring(payload, 1, 3) == F.lit(b"\xff\xd8\xff"), "jpeg")
        .when(
            (F.substring(payload, 1, 4) == F.lit(b"RIFF"))
            & (F.substring(payload, 9, 4) == F.lit(b"WAVE")),
            "wav",
        )
        .when(F.substring(payload, 1, 4) == F.lit(b"fLaC"), "flac")
        .when(F.substring(payload, 1, 2) == F.lit(b"BM"), "bmp")
        .when(
            (F.substring(payload, 1, 2) == F.lit(b"\xff\xff"))
            | (F.substring(payload, 1, 2) == F.lit(b"\xff\xfe")),
            "mpeg1",
        )
        .otherwise("unknown")
    )


def _riff_format_tag(payload: bytes) -> int:
    """The wFormatTag of a RIFF/WAVE payload's ``fmt `` chunk (1 = PCM,
    0x11 = IMA ADPCM) — the field that names the CODEC inside the
    container the magic bytes identified."""
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        if cid == b"fmt ":
            if pos + 10 > len(payload):
                break
            return int.from_bytes(payload[pos + 8 : pos + 10], "little")
        pos += 8 + size + (size & 1)
    raise ValueError("RIFF/WAVE payload has no complete 'fmt ' chunk")


def synth_mixed_assets(docs: DataFrame) -> DataFrame:
    """Mixed-format corpus with PLANTED poison — the ingestion-audit
    fixture (q144).  Format rotates with ``doc_id % 5`` (png, gif,
    bmp, wav, flac — every payload a REAL encode); ``doc_id % 11 = 0``
    rows are deterministic magic-less garbage (``'unknown'``), and
    ``doc_id % 7 = 0`` rows are TRUNCATED to their first 12 bytes —
    magic intact (the sniffer still classifies them) but undecodable,
    exactly the corrupt-object shape a 100 TB crawl contains.
    """
    from fdf_spark.llm.flac import encode_flac
    from fdf_spark.llm.imagecodecs import encode_gif, encode_png

    def payload_of(d):
        if d % 11 == 0:
            return "mixed", bytes([0, 1, *((d * 31 + i) % 256 for i in range(22))])
        m = d % 5
        if m == 0:
            yy, xx, cc = np.mgrid[0 : 1 + d % 2, 0 : 2 + d % 3, 0:3]
            p = encode_png(((d + 11 * xx + 23 * yy + 41 * cc) % 256).astype(np.uint8))
        elif m == 1:
            yy, xx = np.mgrid[0 : 2 + d % 3, 0 : 3 + d % 4]
            p = encode_gif(((d + 5 * xx + 9 * yy) % 256).astype(np.uint8))
        elif m == 2:
            p = encode_bmp(2 + d % 4, 1 + d % 3, (d % 256, (3 * d) % 256, (7 * d) % 256))
        elif m == 3:
            p = encode_wav(8000 + 1000 * (d % 4), [d % 1001 - 500] * (10 + d % 5))
        else:
            p = encode_flac(8000, [((d + 7 * i) % 512) - 256 for i in range(16)], block_size=16)
        return "mixed", p[:12] if d % 7 == 0 else p

    return _synth_assets(docs, payload_of)


AUDIT_SCHEMA = "asset_id, fmt, ok boolean, err string"


def decode_audit(assets: DataFrame) -> DataFrame:
    """Poison-safe ingestion audit: sniff each payload's format
    JVM-side (:func:`sniff_format`), attempt the REAL decode for that
    format, and QUARANTINE failures as rows instead of exceptions —
    ``(asset_id, fmt, ok, err)`` where ``err`` is the exception class
    name (``'unknown_format'`` for unrecognized magic).

    This is the property that keeps a 100 TB mixed crawl ingestible:
    one corrupt object must cost one quarantine row, never a task
    retry storm or a dead job.  ``extract_features`` stays strict by
    design (a curated corpus WANTS loud failure); this op is the
    gate that curates.  Decode attempts run Arrow-batched and
    embarrassingly parallel; the sniff itself never leaves the JVM.
    """
    # snapshot BY VALUE (see extract_features): registered external
    # codecs reach executors through the closure, not the module
    codecs = dict(REAL_CODECS)

    def audit(fmt, p):
        """The quarantine verdict ``(ok, err)`` of one payload."""
        if fmt == "unknown":
            return False, "unknown_format"
        try:
            codec = fmt
            if fmt == "wav":
                # the sniff names the container; the fmt chunk's tag
                # names the codec (1 = PCM, 0x11 = IMA ADPCM)
                tag = _riff_format_tag(p)
                if tag == 0x11:
                    codec = "adpcm"
                elif tag != 1:
                    raise ValueError(f"unsupported WAVE format tag {tag:#x}")
            codecs[codec](p)
            return True, None
        except Exception as e:  # noqa: BLE001 — the quarantine boundary
            return False, type(e).__name__

    def run(batch):
        fmts, payloads = batch["fmt"].to_pylist(), batch["payload"].to_pylist()
        return _columns([audit(f, p) for f, p in zip(fmts, payloads)], AUDIT_SCHEMA)

    return arrow_kernel(
        assets.select("asset_id", sniff_format(F.col("payload")).alias("fmt"), "payload"),
        run,
        AUDIT_SCHEMA,
    )


def synth_wav_voice_assets(docs: DataFrame) -> DataFrame:
    """Mono PCM WAV fixtures with a PLANTED silence span (q145).

    Each doc is ``8 + doc_id % 5`` windows of 16 samples at a
    constant voiced amplitude ``100 + doc_id % 50``, except windows
    ``[2 + doc_id % 3, 2 + doc_id % 3 + 1 + doc_id % 2)`` which are
    all-zero — so the voiced/silent ground truth per window, and the
    merged segment boundaries, are pure ``doc_id`` arithmetic.
    """

    def payload_of(d):
        nw, amp = 8 + d % 5, 100 + d % 50
        s0 = 2 + d % 3
        s1 = s0 + 1 + d % 2
        samples = [0 if s0 <= (i // 16) < s1 else amp for i in range(nw * 16)]
        return "audio", encode_wav(8000, samples)

    return _synth_assets(docs, payload_of)


SEGMENT_SCHEMA = (
    "asset_id long, seg_idx int, win_start int, win_end int, n_windows int"
)


def voice_segments(
    assets: DataFrame, win: int = 16, threshold: float = 50.0
) -> DataFrame:
    """Activity (VAD-style) segmentation over mono PCM WAV: windows of
    ``win`` samples score mean-square energy, the thresholded verdicts
    merge into maximal voiced runs — ``(asset_id, seg_idx, win_start,
    win_end, n_windows)`` with ``seg_idx`` 1-based per asset.

    Two-stage shape, deliberately DIFFERENT from the zero-shuffle
    codec queries: stage 1 is Arrow-batched decode + per-window
    energy (map-side, the only stage that touches payload bytes —
    energy is an EXACT integer sum of squares with one division, no
    sqrt, so verdicts are bit-stable in any engine); stage 2 is
    DECLARATIVE gaps-and-islands (lag/cumsum window + groupBy) whose
    rows are |windows|, not |samples| — the corpus's only exchanges
    carry window verdicts, never audio bytes (plan-pinned, q145).
    Trailing partial windows are dropped (windows are the unit of
    segmentation).
    """
    import io
    import wave

    def run(batch):
        rows, widx, energy = [], [], []
        for i, payload in enumerate(batch["payload"].to_pylist()):
            with wave.open(io.BytesIO(payload), "rb") as w:
                if w.getsampwidth() != 2 or w.getnchannels() != 1:
                    raise ValueError("voice_segments expects mono 16-bit PCM")
                vals = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2").astype(np.int64)
            m = len(vals) // win
            chunks = vals[: m * win].reshape(m, win)
            rows.append(np.full(m, i))
            widx.append(np.arange(m, dtype=np.int32))
            energy.append((chunks * chunks).sum(axis=1) / win)
        cols = {"win_idx": np.concatenate(widx), "energy": np.concatenate(energy)}
        return cols, np.concatenate(rows)

    wins = arrow_kernel(
        assets.filter(F.col("media_type") == "audio").select("asset_id", "payload"),
        run,
        "asset_id, win_idx int, energy double",
    )
    from pyspark.sql import Window

    by_asset = Window.partitionBy("asset_id").orderBy("win_idx")
    flagged = wins.withColumn("voiced", F.col("energy") > F.lit(threshold))
    islands = flagged.withColumn(
        "new_run",
        (
            F.col("voiced")
            != F.coalesce(F.lag("voiced").over(by_asset), ~F.col("voiced"))
        ).cast("int"),
    ).withColumn("run_id", F.sum("new_run").over(by_asset))
    return (
        islands.filter(F.col("voiced"))
        .groupBy("asset_id", "run_id")
        .agg(
            F.min("win_idx").alias("win_start"),
            F.max("win_idx").alias("win_end"),
            F.count("*").cast("int").alias("n_windows"),
        )
        .withColumn(
            "seg_idx",
            F.row_number()
            .over(Window.partitionBy("asset_id").orderBy("win_start"))
            .cast("int"),
        )
        .select("asset_id", "seg_idx", "win_start", "win_end", "n_windows")
    )


def synth_png_dup_assets(docs: DataFrame) -> DataFrame:
    """PNG fixtures with PLANTED perceptual duplicates (q146): the
    pixel law depends on ``doc_id % 25`` only::

        width = 9   height = 7   (the dHash grid, no resize needed)
        pixel(x, y, c) = (7*(doc_id % 25) + 11*x + 23*y + 41*c) % 256

    so docs sharing a class are byte-identical images re-encoded
    independently — 25 duplicate classes of 8 members each at the
    200-doc fixture, all arithmetic a SQL oracle replays."""
    from fdf_spark.llm.imagecodecs import encode_png

    yy, xx, cc = np.mgrid[0:7, 0:9, 0:3]
    # only 25 distinct payloads exist and the encoder is deterministic —
    # memoize per class instead of re-deflating a byte-identical PNG per
    # doc (the cache fills on the executor)
    by_class: dict[int, bytes] = {}

    def payload_of(d):
        k = d % 25
        if k not in by_class:
            img = ((7 * k + 11 * xx + 23 * yy + 41 * cc) % 256).astype(np.uint8)
            by_class[k] = encode_png(img)
        return "image", by_class[k]

    return _synth_assets(docs, payload_of)


def synth_png_near_assets(
    docs: DataFrame, classes: int = 20, textured: bool = False
) -> DataFrame:
    """PNG fixtures with PLANTED near-duplicates (q147): each doc is
    its class image (``k = doc_id % classes``) with ONE perturbed
    grid cell::

        width = 9   height = 7
        pixel(x, y, c) = (13*k + 11*x + 23*y + 41*c
                          + 128*[x = doc_id % 9][y = (doc_id // 9) % 7]) % 256

    A single perturbed cell moves at most the two gradient bits that
    touch it, so same-class members sit within hamming distance 4 of
    each other — the planted geometry a hamming near-dup join must
    recover, all arithmetic a SQL oracle replays per doc.  Smooth
    gradients are dHash-degenerate by nature (few gradient
    transitions → tight hash clusters — true of real dHash on smooth
    images too), so the oracle fixture also exercises the
    cross-class-near-collision case honestly.  ``textured=True``
    swaps the base images for per-class seeded-random texture
    (distinct hashes across any number of classes — the realistic
    crawl shape for the stress tier; not SQL-replayable, which the
    stress tier doesn't need).  ``classes`` should scale with the
    corpus: the pair space is Σ|class|²."""
    from fdf_spark.llm.imagecodecs import encode_png

    yy, xx, cc = np.mgrid[0:7, 0:9, 0:3]
    textures: dict[int, np.ndarray] = {}  # per-class texture, filled on the executor

    def payload_of(d):
        k = d % classes
        if textured:
            if k not in textures:
                textures[k] = np.random.RandomState(k).randint(0, 256, (7, 9, 3)).astype(np.int64)
            base = textures[k]
        else:
            base = 13 * k + 11 * xx + 23 * yy + 41 * cc
        bump = 128 * ((xx == d % 9) & (yy == (d // 9) % 7))
        return "image", encode_png(((base + bump) % 256).astype(np.uint8))

    return _synth_assets(docs, payload_of)


def image_dhash(assets: DataFrame, width: int = 9, height: int = 7) -> DataFrame:
    """Perceptual image hash (dHash — the LAION-style near-dup image
    key): decode, resample to a ``width×height`` grid with the exact
    integer nearest-neighbour law, integer grayscale
    ``(299r + 587g + 114b) // 1000``, then one gradient bit per
    adjacent-pixel pair — ``bit(x,y) = [g(x+1,y) > g(x,y)]`` packed
    into a ``(width-1)·height``-bit BIGINT (the 9×7 default = 56 bits,
    safely inside int64).

    Every step is integer arithmetic, so the hash is a pure function
    of decoded pixels — bit-replayable by a SQL oracle AND stable
    across engines/partitionings, which is what makes it usable as an
    exact-dedup KEY downstream (`exact_dedup`-style groupBy on
    ``dhash``): re-encoded, metadata-stripped or losslessly-recoded
    copies collapse to one group.  An Arrow kernel, zero shuffles; the
    grouping a caller adds shuffles 8-byte hashes, never pixels.
    """
    if (width - 1) * height > 62:
        raise ValueError("dhash grid exceeds 62 bits — reduce width/height")
    from fdf_spark.llm.imagecodecs import decode_png_pixels

    weights = (1 << np.arange((width - 1) * height, dtype=np.int64)).reshape(
        height, width - 1
    )

    def dhash(payload):
        arr = decode_png_pixels(payload).astype(np.int64)
        sh, sw = arr.shape[:2]
        ys = (np.arange(height, dtype=np.int64) * sh) // height
        xs = (np.arange(width, dtype=np.int64) * sw) // width
        px = arr[ys][:, xs]
        if px.shape[2] < 3:
            # gray / gray+alpha: the luma IS the channel — and since
            # 299+587+114 = 1000, a gray-recoded RGB image lands on the
            # identical g, so both encodings collapse to one hash
            g = px[:, :, 0]
        else:
            g = (299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]) // 1000
        return int(((g[:, 1:] > g[:, :-1]).astype(np.int64) * weights).sum())

    return arrow_kernel(
        assets.filter(F.col("media_type") == "image").select("asset_id", "payload"),
        lambda batch: {"dhash": [dhash(p) for p in batch["payload"].to_pylist()]},
        "asset_id, dhash long",
    )


def synth_adpcm_assets(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-IMA-ADPCM fixtures from doc ids.

    Constant mono signals (amplitude ``doc_id % 1001 - 500``, the WAV
    fixture law) encoded with 9-samples-per-block blocks so every
    asset spans MULTIPLE ADPCM blocks.  A constant signal with initial
    step index 0 roundtrips bit-exactly (block headers carry the first
    sample verbatim; the quantizer never drifts at the table floor),
    so the q131 oracle recomputes mean/peak/mean-square from the
    amplitude law alone while the decoder genuinely parses the RIFF
    container and walks the 4-bit bitstream.
    """
    from fdf_spark.llm.audiocodecs import encode_adpcm_wav

    def payload_of(d):
        samples = [d % 1001 - 500] * (40 + d % 25)
        return "audio", encode_adpcm_wav(8000 + 1000 * (d % 4), samples, samples_per_block=9)

    return _synth_assets(docs, payload_of)


def synth_mpeg1_assets(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-MPEG-1-Layer-I fixtures from doc ids.

    One spec-valid single-channel frame per doc (fs 32 kHz, bitrate
    cycling 192/256/288/320 kbps), with every field a pure function of
    ``doc_id``::

        n_alloc   = 4 + d % 5            (allocated subbands 0..n-1)
        nb[sb]    = 2 + (d + sb) % 7     (sample bits, 2..8)
        sf_idx[sb]= 3 * ((d*7 + 13*sb) % 21)   (multiples of 3 → the
                     scalefactor 2·2^(−idx/3) is an EXACT dyadic)
        code[sb]  = (d*31 + 5*sb) % 2^nb (all 12 samples equal)

    so the q138 oracle recomputes header fields, allocation count and
    the requantized first/last-subband amplitudes from the closed-form
    dequantization law — while the decoder genuinely parses syncword,
    header tables, bit allocation, scalefactors and the interleaved
    sample groups from the bytes.
    """
    from fdf_spark.llm.mpegaudio import encode_mpeg1_layer1

    def payload_of(d):
        alloc, sfi = [0] * 32, [0] * 32
        codes = [[0] * 12 for _ in range(32)]
        for sb in range(4 + d % 5):  # n_alloc
            nb = 2 + (d + sb) % 7
            alloc[sb] = nb
            sfi[sb] = 3 * ((d * 7 + 13 * sb) % 21)
            codes[sb] = [(d * 31 + 5 * sb) % (1 << nb)] * 12
        bitrate = (192, 256, 288, 320)[d % 4]
        frame = encode_mpeg1_layer1(alloc, sfi, codes, sample_rate=32000, bitrate_kbps=bitrate)
        return "audio", frame

    return _synth_assets(docs, payload_of)


def synth_flac_assets(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-FLAC fixtures from doc ids.

    Sawtooth signals whose samples are pure arithmetic::

        n  = 300 + doc_id % 50      rate = 8000 + 1000 * (doc_id % 4)
        s_i = ((doc_id * 31 + 7 * i) % 2048) - 1024

    encoded at block size 128 so every asset spans MULTIPLE frames
    (fixed predictors + Rice residuals engage for real).  FLAC is
    lossless, so the q135 oracle recomputes mean/peak/energy of the
    DECODED stream exactly from the law — total coverage of the codec,
    not just a degenerate subset.
    """
    from fdf_spark.llm.flac import encode_flac

    def payload_of(d):
        sig = [((d * 31 + 7 * i) % 2048) - 1024 for i in range(300 + d % 50)]
        return "audio", encode_flac(8000 + 1000 * (d % 4), sig, block_size=128)

    return _synth_assets(docs, payload_of)


def frame_sample(assets: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling *plan*: explode frame indices 0..n_frames
    step ``every_n`` from metadata — no decode, no payload read (the
    metadata-only first pass of a sampling pipeline).  The REAL
    decode tier is :func:`frame_sample_features`, which trusts the
    container bytes rather than this metadata."""
    idx = F.sequence(F.lit(0), F.greatest(F.col("meta.n_frames") - 1, F.lit(0)), F.lit(every_n))
    return (
        assets.filter(F.col("media_type") == "video")
        .select("asset_id", F.explode(idx).alias("frame_idx"))
    )


META_TYPE = "struct<width:int, height:int, sample_rate:int, n_frames:int>"

#: output of :func:`resize_images` (asset id and media type carried)
RESIZE_SCHEMA = f"asset_id, media_type, payload binary, meta {META_TYPE}"


def resize_images(assets: DataFrame, width: int, height: int, codec: str = "stub") -> DataFrame:
    """Arrow-batched image resize: same asset schema out, payload
    re-encoded at (width, height) and metadata rewritten.

    ``codec='png'`` is the REAL path: the payload is decoded with the
    pure-python PNG codec (``llm/imagecodecs.py``), resampled with
    exact integer nearest-neighbour (``src = (dst_i * src_dim) //
    dst_dim`` — a closed-form law a SQL oracle replays, q141), and
    re-encoded as a real PNG; because PNG is lossless the output
    payload decodes to EXACTLY the resampled pixels, and metadata is
    rewritten from the decoded header rather than trusted input meta.
    ``codec='fake'`` deterministically re-synthesizes a payload of
    ``width*height`` bytes by tiling the source bytes — byte-for-byte
    reproducible, so tests assert the pipeline (schema, metadata
    rewrite, batch shapes) without decoding. ``codec='stub'`` raises:
    resize of PERCEPTUAL formats (JPEG re-encode chooses quant tables;
    lossy round-trips are codec-implementation-defined) belongs to a
    native lib mounted in this same seam. Non-image rows pass through
    untouched.
    """
    if codec not in ("stub", "fake", "png"):
        raise ValueError(f"unknown resize codec {codec!r}; expected 'png' or 'fake'")
    if "meta" not in assets.columns:
        assets = assets.withColumn(
            "meta",
            F.lit(None).cast(META_TYPE),
        )

    from fdf_spark.llm.imagecodecs import decode_png_pixels, encode_png

    def one(media_type, payload, meta):
        if media_type != "image":
            return payload, meta
        meta = dict(meta or {})
        if codec == "png":
            arr = decode_png_pixels(payload)
            sh, sw = arr.shape[:2]
            ys = (np.arange(height, dtype=np.int64) * sh) // height
            xs = (np.arange(width, dtype=np.int64) * sw) // width
            out = encode_png(arr[ys][:, xs], filter_type=0)
        else:
            src = payload or b"\0"
            n = width * height
            out = (src * (n // len(src) + 1))[:n]
        meta["width"], meta["height"] = width, height
        return out, meta

    def run(batch):
        if codec == "stub":
            raise NotImplementedError(
                "real resize is implemented for the lossless codec "
                "(codec='png'); lossy formats re-encode through "
                "implementation-defined quantizers and stay behind "
                "the native-lib seam. Use codec='png' or 'fake'."
            )
        cols = (batch[c].to_pylist() for c in ("media_type", "payload", "meta"))
        return _columns([one(*row) for row in zip(*cols)], RESIZE_SCHEMA)

    return arrow_kernel(
        assets.select("asset_id", "media_type", "payload", "meta"), run, RESIZE_SCHEMA
    )
