"""Multimodal columns: opaque binary payloads + typed metadata.

North-star extension: image/audio/video payloads ride as ``binary``
columns with a typed metadata struct; decode / feature-extract /
resize / frame-sample run as Arrow-batched pandas functions through
the kernel seam, ``operators/kernels.py`` (or stay JVM-side where
binary built-ins suffice).

Codec: ``_codec()`` returns the real Pillow codec when PIL is
importable (production clusters) and otherwise the vendored
pure-Python PNG codec (``_PngCodec``, stdlib zlib — so the REAL
decode path runs and is tested in every environment). The
deterministic ``_FakeCodec`` remains for explicit injection where
payloads are synthetic non-image bytes. Everything around the codec
— schemas, Arrow batch transfer, partition behavior, binary slicing,
UDF signatures — is identical in all cases; on the pixel level the
two codecs agree exactly on decode stats (tested) and on resize
PIXEL SELECTION (both nearest-neighbor), while resized BYTES may
still differ (Pillow's zlib encoder settings are its own).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from palegislature_spark.operators.kernels import map_batches

MEDIA_META = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("frame_bytes", T.IntegerType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("meta", MEDIA_META, True),
    ]
)

# (media_id, payload, meta): the rows the synthesis seams and
# resize_images emit
MEDIA_ROW_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)


class _FakeCodec:
    """Deterministic stand-in for an image codec (STUB).

    Pretends every payload decodes to a (width x height) gray image
    whose statistics are stable functions of the payload bytes. Real
    decoding raises NotImplementedError unless a real codec exists.
    """

    is_stub = True

    def decode_stats(self, payload: bytes, width: int, height: int):
        digest = hashlib.sha256(payload).digest()
        mean = sum(payload) / len(payload) if payload else 0.0
        return {
            "mean_px": mean,
            "checksum": digest.hex()[:16],
        }

    def resize(self, payload: bytes, w: int, h: int) -> bytes:
        raise NotImplementedError(
            "no image codec in this environment; payload resize requires PIL"
        )

    def gray_pixels(self, payload: bytes) -> list[int]:
        # deterministic fake "decode": the payload bytes ARE the pixels
        return list(payload)


class _PilCodec:
    """Real image codec over Pillow — selected automatically when PIL
    imports (production clusters); the sandbox has no PIL, so here it
    is exercised only by the skipif-gated test."""

    is_stub = False

    def decode_stats(self, payload: bytes, width: int, height: int):
        import io

        from PIL import Image

        with Image.open(io.BytesIO(payload)) as im:
            gray = im.convert("L")
            data = list(gray.getdata())
        return {
            "mean_px": (sum(data) / len(data)) if data else 0.0,
            "checksum": hashlib.sha256(payload).digest().hex()[:16],
        }

    def resize(self, payload: bytes, w: int, h: int) -> bytes:
        import io

        from PIL import Image

        with Image.open(io.BytesIO(payload)) as im:
            fmt = im.format or "PNG"
            out = io.BytesIO()
            # nearest-neighbor to match _PngCodec.resize — same pixel
            # selection in PIL and no-PIL environments (ADVICE r6)
            nearest = getattr(
                getattr(Image, "Resampling", Image), "NEAREST"
            )
            im.resize((w, h), resample=nearest).save(out, format=fmt)
            return out.getvalue()

    def gray_pixels(self, payload: bytes) -> list[int]:
        import io

        from PIL import Image

        with Image.open(io.BytesIO(payload)) as im:
            return list(im.convert("L").getdata())


class _PngCodec:
    """Vendored pure-Python PNG codec — stdlib ``zlib``/``struct``
    only, written against the public PNG specification (RFC 2083):
    non-interlaced 8-bit gray / gray+alpha / RGB / RGBA, all five
    scanline filters, nearest-neighbor resize re-encoded with filter
    0.  Selected when Pillow is absent so the REAL-decode path (not
    the fake) runs in every environment; grayscale conversion uses
    Pillow's exact integer ITU-R 601-2 transform so the two codecs
    agree bit-for-bit on mean_px."""

    is_stub = False

    _SIG = b"\x89PNG\r\n\x1a\n"
    _CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}

    @classmethod
    def _decode(cls, payload: bytes) -> tuple[int, int, int, int, bytearray]:
        import struct
        import zlib

        if payload[:8] != cls._SIG:
            raise ValueError("not a PNG payload")
        pos, idat, meta = 8, b"", None
        while pos < len(payload):
            (ln,) = struct.unpack(">I", payload[pos : pos + 4])
            ctype = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + ln]
            if ctype == b"IHDR":
                w, h, depth, color, comp, filt, interlace = struct.unpack(
                    ">IIBBBBB", data
                )
                if depth != 8 or color not in cls._CHANNELS or interlace:
                    raise ValueError(
                        f"unsupported PNG (depth={depth} color={color} "
                        f"interlace={interlace}); 8-bit non-interlaced only"
                    )
                meta = (w, h, color)
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
            pos += 12 + ln
        if meta is None:
            raise ValueError("PNG missing IHDR")
        w, h, color = meta
        ch = cls._CHANNELS[color]
        raw = zlib.decompress(idat)
        stride = w * ch
        out = bytearray(h * stride)
        prev = bytearray(stride)
        for row in range(h):
            off = row * (stride + 1)
            ftype = raw[off]
            line = bytearray(raw[off + 1 : off + 1 + stride])
            if ftype == 1:  # Sub
                for i in range(ch, stride):
                    line[i] = (line[i] + line[i - ch]) & 0xFF
            elif ftype == 2:  # Up
                for i in range(stride):
                    line[i] = (line[i] + prev[i]) & 0xFF
            elif ftype == 3:  # Average
                for i in range(stride):
                    a = line[i - ch] if i >= ch else 0
                    line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
            elif ftype == 4:  # Paeth
                for i in range(stride):
                    a = line[i - ch] if i >= ch else 0
                    b = prev[i]
                    c = prev[i - ch] if i >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    line[i] = (line[i] + pred) & 0xFF
            elif ftype != 0:
                raise ValueError(f"bad PNG filter {ftype}")
            out[row * stride : (row + 1) * stride] = line
            prev = line
        return w, h, ch, color, out

    @classmethod
    def encode(cls, width: int, height: int, color: int, pixels: bytes) -> bytes:
        """Minimal encoder (filter 0 rows): the inverse used by resize
        and by tests to build real payloads without any image lib."""
        import struct
        import zlib

        ch = cls._CHANNELS[color]
        stride = width * ch
        raw = b"".join(
            b"\x00" + bytes(pixels[r * stride : (r + 1) * stride])
            for r in range(height)
        )

        def chunk(ctype: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + ctype
                + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
        return (
            cls._SIG
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    def decode_stats(self, payload: bytes, width: int, height: int):
        gray = self.gray_pixels(payload)
        n = len(gray)
        return {
            "mean_px": (sum(gray) / n) if n else 0.0,
            "checksum": hashlib.sha256(payload).digest().hex()[:16],
        }

    def gray_pixels(self, payload: bytes) -> list[int]:
        import numpy as np

        w, h, ch, _color, px = self._decode(payload)
        a = (
            np.frombuffer(bytes(px), dtype=np.uint8)
            .astype(np.int64)
            .reshape(w * h, ch)
        )
        if ch <= 2:  # gray / gray+alpha: luminance is the first band
            return a[:, 0].tolist()
        # Pillow's exact integer ITU-R 601-2 'L' transform, vectorized
        # (VERDICT r11 #5)
        return (
            (a[:, 0] * 19595 + a[:, 1] * 38470 + a[:, 2] * 7471 + 0x8000)
            >> 16
        ).tolist()

    def resize(self, payload: bytes, w: int, h: int) -> bytes:
        sw, sh, ch, color, px = self._decode(payload)
        out = bytearray(w * h * ch)
        for y in range(h):
            sy = min(sh - 1, y * sh // h)
            for x in range(w):
                sx = min(sw - 1, x * sw // w)
                s = (sy * sw + sx) * ch
                d = (y * w + x) * ch
                out[d : d + ch] = px[s : s + ch]
        return self.encode(w, h, color, bytes(out))


def _codec():
    """Real codec — Pillow when importable, else the vendored
    pure-Python PNG codec (so the real-decode path is never
    skip-gated).  Callers can also inject a codec explicitly (tests
    pin the fake so synthetic non-image payloads stay decodable)."""
    try:
        import PIL.Image  # noqa: F401, PLC0415

        return _PilCodec()  # pragma: no cover - container has no PIL
    except ImportError:
        return _PngCodec()


def media_fingerprint(df: DataFrame) -> DataFrame:
    """JVM-side payload facts: no Python, full codegen."""
    return df.select(
        "media_id",
        "media_type",
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("payload_sha"),
        F.col("meta.format").alias("format"),
    )


def image_features(df: DataFrame, codec=None) -> DataFrame:
    """Per-payload decoded statistics via Arrow-batched mapInPandas.

    Output: (media_id, mean_px, checksum, n_bytes). The decode step
    goes through the selected codec (PIL when importable, else the
    deterministic fake); the batch shape, Arrow transfer and schema
    are the production plumbing either way.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("mean_px", T.DoubleType()),
            T.StructField("checksum", T.StringType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )
    codec = codec or _codec()

    def stats_of(payload: bytes, meta: dict) -> dict:
        w, h = meta["width"], meta["height"]
        return {
            **codec.decode_stats(
                payload,
                int(w) if w is not None else 0,
                int(h) if h is not None else 0,
            ),
            "n_bytes": len(payload),
        }

    return _stats_features(df, out_schema, stats_of)


def _stats_features(df: DataFrame, out_schema: T.StructType, stats_of) -> DataFrame:
    """The per-payload statistics kernel of the ``*_features`` trio:
    ``stats_of(payload, meta)`` returns one dict per row, and the keys
    ``out_schema`` names after ``media_id`` become the output columns."""
    keys = out_schema.fieldNames()[1:]

    def batch(pdf):
        stats = [
            stats_of(bytes(p), m) for p, m in zip(pdf["payload"], pdf["meta"])
        ]
        return {
            "media_id": pdf["media_id"],
            **{k: [s[k] for s in stats] for k in keys},
        }

    return map_batches(df, ("media_id", "payload", "meta"), out_schema, batch)


def audio_stats(payload: bytes, meta: dict | None) -> dict:
    """Per-payload audio statistics — real stdlib ``wave`` decode when
    the payload is a parseable RIFF/WAVE container, deterministic fake
    otherwise (mirrors the image codec seam, but ``wave`` is stdlib so
    the real path runs in every environment; the fallback is per
    payload, for the synthetic fixtures).  ``parsed`` records which
    path produced the row.  RMS is computed with ``array`` rather than
    the deprecated ``audioop`` (removed in Python 3.13)."""
    import array
    import io
    import math
    import wave

    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            n_channels = w.getnchannels()
            sampwidth = w.getsampwidth()
            sample_rate = w.getframerate()
            n_samples = w.getnframes()
            frames = w.readframes(n_samples)
        if sampwidth == 2:
            pcm = array.array("h")
            pcm.frombytes(frames[: (len(frames) // 2) * 2])
            rms = math.sqrt(sum(x * x for x in pcm) / len(pcm)) if pcm else 0.0
        else:
            # 8-bit WAV is unsigned, centered at 128; for 24/32-bit this
            # reports byte-level energy, still a real decode
            rms = (
                math.sqrt(sum((b - 128) ** 2 for b in frames) / len(frames))
                if frames
                else 0.0
            )
        return {
            "sample_rate": sample_rate,
            "n_channels": n_channels,
            "n_samples": n_samples,
            "duration_s": (n_samples / sample_rate) if sample_rate else 0.0,
            "rms": rms,
            "parsed": True,
        }
    except (wave.Error, EOFError):
        # deterministic fake: stable functions of the payload bytes,
        # metadata-supplied sample rate (the documented stub seam)
        sr = (meta or {}).get("sample_rate") or 0
        n = len(payload)
        return {
            "sample_rate": int(sr),
            "n_channels": 1,
            "n_samples": n,
            "duration_s": (n / sr) if sr else 0.0,
            "rms": math.sqrt(sum(b * b for b in payload) / n) if n else 0.0,
            "parsed": False,
        }


def audio_features(df: DataFrame) -> DataFrame:
    """Per-payload audio statistics via Arrow-batched mapInPandas.

    Output: (media_id, sample_rate, n_channels, n_samples,
    duration_s, rms, parsed) — ``parsed`` true when the stdlib
    ``wave`` decode ran, false when the deterministic fallback did.
    Same plumbing contract as ``image_features``: schema, Arrow
    transfer and batch shape are production-real either way.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_channels", T.IntegerType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("duration_s", T.DoubleType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("parsed", T.BooleanType()),
        ]
    )

    return _stats_features(
        df.filter(F.col("media_type") == "audio"), out_schema, audio_stats
    )


def _mp4_boxes(payload: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for ISO-BMFF boxes in
    payload[start:end] — the documented 4-byte-size + 4-byte-type
    layout (size==1 → 64-bit largesize follows)."""
    import struct

    off = start
    while off + 8 <= end:
        size = struct.unpack_from(">I", payload, off)[0]
        btype = payload[off + 4 : off + 8]
        body = off + 8
        if size == 1:
            if off + 16 > end:
                return
            size = struct.unpack_from(">Q", payload, off + 8)[0]
            body = off + 16
        if size < 8 or off + size > end:
            return
        yield btype, body, off + size
        off += size


def video_stats(payload: bytes, meta: dict | None) -> dict:
    """Per-payload video statistics — real container-header parses
    (pure stdlib ``struct``) for the two dominant layouts, and a
    deterministic metadata-driven fake otherwise.  The third modality
    seam beside the Pillow image codec and the ``wave`` audio decode:
    no video LIBRARY exists in the stdlib, but both container headers
    are documented fixed layouts, so geometry / duration / frame
    count are a real decode here, while pixel-level work stays behind
    the codec seam.

    * RIFF/AVI: ``avih`` main header (usec-per-frame, frame count,
      streams, width, height).
    * MP4/ISO-BMFF: box walk ``moov`` → ``mvhd`` (timescale,
      duration) + first video ``tkhd`` (16.16 fixed-point width and
      height); frame count is not in the movie header, so 0.
    """
    import struct

    if (
        len(payload) >= 12
        and payload[0:4] == b"RIFF"
        and payload[8:12] == b"AVI "
    ):
        idx = payload.find(b"avih")
        if idx >= 0 and len(payload) >= idx + 8 + 40:
            (
                usec_per_frame,
                _max_bps,
                _padding,
                _flags,
                n_frames,
                _initial,
                n_streams,
                _bufsize,
                width,
                height,
            ) = struct.unpack_from("<10I", payload, idx + 8)
            fps = (1_000_000 / usec_per_frame) if usec_per_frame else 0.0
            return {
                "width": int(width),
                "height": int(height),
                "n_frames": int(n_frames),
                "n_streams": int(n_streams),
                "fps": fps,
                "duration_s": (n_frames / fps) if fps else 0.0,
                "parsed": True,
            }
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        duration_s, width, height, n_streams = 0.0, 0, 0, 0
        found = False
        for btype, b0, b1 in _mp4_boxes(payload, 0, len(payload)):
            if btype != b"moov":
                continue
            for ctype, c0, c1 in _mp4_boxes(payload, b0, b1):
                if ctype == b"mvhd" and c1 - c0 >= 20:
                    version = payload[c0]
                    if version == 1 and c1 - c0 >= 28:
                        timescale = struct.unpack_from(">I", payload, c0 + 20)[0]
                        duration = struct.unpack_from(">Q", payload, c0 + 24)[0]
                    else:
                        timescale = struct.unpack_from(">I", payload, c0 + 12)[0]
                        duration = struct.unpack_from(">I", payload, c0 + 16)[0]
                    if timescale:
                        duration_s = duration / timescale
                    found = True
                elif ctype == b"trak":
                    n_streams += 1
                    for ttype, t0, t1 in _mp4_boxes(payload, c0, c1):
                        # width/height are the last 8 bytes of tkhd,
                        # 16.16 fixed point; nonzero only for video
                        if ttype == b"tkhd" and t1 - t0 >= 8 and not width:
                            w16, h16 = struct.unpack_from(">II", payload, t1 - 8)
                            width, height = w16 >> 16, h16 >> 16
        if found:
            return {
                "width": int(width),
                "height": int(height),
                "n_frames": 0,  # not recorded in the movie header
                "n_streams": int(n_streams),
                "fps": 0.0,
                "duration_s": duration_s,
                "parsed": True,
            }
    m = meta or {}
    n_frames = m.get("n_frames") or 0
    return {
        "width": int(m.get("width") or 0),
        "height": int(m.get("height") or 0),
        "n_frames": int(n_frames),
        "n_streams": 1,
        "fps": 0.0,
        "duration_s": 0.0,
        "parsed": False,
    }


def video_features(df: DataFrame) -> DataFrame:
    """Per-payload container statistics via Arrow-batched mapInPandas.

    Output: (media_id, width, height, n_frames, n_streams, fps,
    duration_s, parsed) — ``parsed`` true when the RIFF/AVI header
    parse ran, false for the metadata-driven fallback."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("n_streams", T.IntegerType()),
            T.StructField("fps", T.DoubleType()),
            T.StructField("duration_s", T.DoubleType()),
            T.StructField("parsed", T.BooleanType()),
        ]
    )

    return _stats_features(
        df.filter(F.col("media_type") == "video"), out_schema, video_stats
    )


def sample_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling without Python: slice the payload binary.

    Video payloads carry (n_frames, frame_bytes) metadata; frame i
    occupies bytes [i*frame_bytes, (i+1)*frame_bytes). Every
    ``every_n``-th frame is emitted as its own row — explode over a
    frame-index sequence plus a binary substring, all JVM-side.
    """
    nf = F.col("meta.n_frames")
    idx = F.explode(
        F.when(
            nf.isNotNull() & (nf > 0),
            F.filter(
                F.sequence(F.lit(0), nf - 1),
                lambda i: i % every_n == 0,
            ),
        ).otherwise(F.array().cast("array<int>"))
    ).alias("frame_idx")
    frame = F.expr(
        "substring(payload, frame_idx * meta.frame_bytes + 1, meta.frame_bytes)"
    )
    return (
        df.filter(F.col("media_type") == "video")
        .select("media_id", "payload", "meta", idx)
        .select(
            "media_id",
            F.col("frame_idx").cast("int").alias("frame_idx"),
            frame.alias("frame_payload"),
        )
    )


def resize_images(df: DataFrame, width: int, height: int, codec=None) -> DataFrame:
    """Resize: real pixel transform under PIL; with the fake codec the
    schema/batching plumbing still runs and the pixel step raises."""
    codec = codec or _codec()

    def batch(pdf):
        return {
            "media_id": pdf["media_id"],
            "payload": [codec.resize(bytes(p), width, height) for p in pdf["payload"]],
            "meta": [
                {**(m or {}), "width": width, "height": height}
                for m in pdf["meta"]
            ],
        }

    return map_batches(df, ("media_id", "payload", "meta"), MEDIA_ROW_SCHEMA, batch)


AHASH_BITS = 60  # matches the banded-Hamming machinery (dedup.py)


def _kr_mix_np(s: str, n: int) -> bytes:
    """Karp-Rabin pixel/sample mix over a PREPARED window string of
    length >= n+3 — byte i is the base-31 mix of chars [i, i+3] mod 256
    (multipliers 95/193/31/1 are 31^3..31^0 mod 256), vectorized (guide
    §4.2: hand whole batches to numpy instead of looping rows in
    Python).  BIT-IDENTICAL to the per-char twin ``kr_mix_py`` in
    tests/reference_impls.py by construction: utf-32-le decode yields
    exactly ord() per char, the mix is int64 arithmetic (max ord
    0x10FFFF * 193 * 4 << 2^63, no overflow on either side), and %256
    matches Python's mod for the non-negative values here.  Equality
    pinned in tests/test_multimodal.py::test_kr_mix_np_equals_py.  ~13x
    over the per-char loop (measured 1.19s -> 0.09s for the 5000-doc
    avi windows, single core)."""
    import numpy as np

    a = np.frombuffer(s.encode("utf-32-le"), dtype="<u4").astype(np.int64)
    return (
        (a[:n] * 95 + a[1 : n + 1] * 193 + a[2 : n + 2] * 31 + a[3 : n + 3])
        % 256
    ).astype(np.uint8).tobytes()


def _kr_mix_cyclic(text: str, n: int) -> bytes:
    """:func:`_kr_mix_np` over a CYCLIC fill of ``text`` (repeated, then
    truncated to the n+3 window; space-padded only when empty) — the
    wav/avi window (see :func:`wav_media_from_text` for why not a pad)."""
    reps = (n + 3) // max(len(text), 1) + 1
    base = (text * reps)[: n + 3]
    return _kr_mix_np(base + " " * (n + 3 - len(base)), n)


def _media_from_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    variant_every: int,
    meta: dict,
    content,
    encode,
    variant,
) -> DataFrame:
    """The loop the text -> media synthesis trio shares: every doc
    emits media_id = 2*id with payload ``encode(content(text))``, and
    every ``variant_every``-th doc also emits media_id = 2*id+1 with
    ``encode(variant(content(text)))``, all carrying ``meta``.  Fans out
    by id: per-row codec work is heavy (kernels module docstring)."""

    def batch(pdf):
        ids, payloads = [], []
        for i, text in zip(pdf[id_col], pdf[text_col]):
            raw = content(text)
            ids.append(int(i) * 2)
            payloads.append(encode(raw))
            if int(i) % variant_every == 0:
                ids.append(int(i) * 2 + 1)
                payloads.append(encode(variant(raw)))
        return {"media_id": ids, "payload": payloads, "meta": [meta] * len(ids)}

    return map_batches(
        df, (id_col, text_col), MEDIA_ROW_SCHEMA, batch, fan_out_by=id_col
    )


def png_media_from_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 10,
    height: int = 6,
    variant_every: int = 7,
) -> DataFrame:
    """Deterministic REAL-PNG media synthesis from a text corpus — the
    ingest seam for the image near-dup family when no image fixture
    exists: every doc becomes one grayscale ``width x height`` PNG
    (media_id = 2*id) whose pixel i is the base-31 Karp-Rabin mix of
    text chars [i, i+3] mod 256 (the fp_winnow gram-hash idiom —
    multipliers 95/193/31/1 are 31^3..31^0 mod 256; dense
    pseudo-random bytes, pure integer arithmetic an SQL oracle
    replays from ord()), and every ``variant_every``-th doc
    additionally yields a PLANTED near-duplicate (media_id = 2*id+1)
    with the first 4 pixels reversed — a mean-preserving permutation,
    so its aHash differs in at most 4 bits.

    Payloads are genuine PNGs (the vendored encoder), so downstream
    consumers exercise the real decode path in every environment.
    Scale: one Arrow-batched linear pass; rows carry w*h-byte
    payloads, never wide intermediates.
    """
    n = width * height
    meta = {
        "format": "png", "width": width, "height": height,
        "sample_rate": None, "n_frames": None, "frame_bytes": None,
    }
    return _media_from_text(
        df, id_col, text_col, variant_every, meta,
        # space-pad window
        content=lambda text: _kr_mix_np((text + " " * (n + 3))[: n + 3], n),
        encode=lambda pix: _PngCodec.encode(width, height, 0, pix),
        variant=lambda pix: pix[:4][::-1] + pix[4:],
    )


def image_ahash(df: DataFrame, codec=None) -> DataFrame:
    """Per-image average-hash (aHash) signature via Arrow-batched
    mapInPandas: decode to grayscale pixels through the codec seam
    (PIL when importable, else the vendored PNG decode — the REAL
    pixel path either way), then bit i of the signature is set iff
    ``n * pixel[i] > sum(pixels)`` — the above-mean test in exact
    integer cross-multiplied form, so an SQL oracle over the same
    pixel bytes replays every bit.  Signatures are capped at
    ``AHASH_BITS`` pixels (images bigger than 60 px are thumbnailed
    by ``resize_images`` first in a real pipeline; the canonical
    aHash is 8x8 — this one is 10x6 so the signature rides the
    60-bit banded-Hamming machinery, dedup.hamming_pairs, unchanged).

    Output: (media_id, ahash long).  Perceptual by construction:
    mean-preserving pixel permutations move at most the permuted
    bits, global brightness/contrast shifts that keep the above-mean
    set move nothing.
    """
    codec = codec or _codec()

    def sigs_of(payloads: list) -> list:
        import numpy as np

        # decode through the codec seam, then vectorize the bit math
        # across the batch per pixel-count group (VERDICT r11 #5): one
        # (B, n) integer matrix comparison instead of a per-pixel
        # Python loop; ahash_py in tests/reference_impls.py is the
        # equality-tested twin
        pxs = [codec.gray_pixels(p) for p in payloads]
        sigs = [0] * len(pxs)
        groups: dict[int, list[int]] = {}
        for ix, px in enumerate(pxs):
            if px:
                groups.setdefault(len(px), []).append(ix)
        for ln, idxs in groups.items():
            mat = np.array([pxs[i] for i in idxs], dtype=np.int64)
            tot = mat.sum(axis=1, keepdims=True)
            vals = _pack_bits((ln * mat[:, :AHASH_BITS]) > tot)
            for i, v in zip(idxs, vals):
                sigs[i] = int(v)
        return sigs

    return _signatures(df, "ahash", sigs_of)


def _signatures(df: DataFrame, sig_col: str, sigs_of) -> DataFrame:
    """The kernel of the signature trio: ``(media_id, <sig_col> long)``
    rows, ``sigs_of`` mapping one batch's payload bytes to their
    signatures."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField(sig_col, T.LongType()),
        ]
    )

    def batch(pdf):
        payloads = [bytes(p) for p in pdf["payload"]]
        return {"media_id": pdf["media_id"], sig_col: sigs_of(payloads)}

    return map_batches(df, ("media_id", "payload"), out_schema, batch)


def _pack_bits(bits):
    """Pack each row of a boolean (rows, n <= 63) matrix into one long,
    bit i set iff column i is: the signature packing of the
    above-the-mean trio (image_ahash, audio_fingerprint,
    video_fingerprint)."""
    import numpy as np

    return (
        bits.astype(np.int64) << np.arange(bits.shape[1], dtype=np.int64)
    ).sum(axis=1)


def wav_media_from_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    frames: int = 60,
    frame_len: int = 4,
    sample_rate: int = 8000,
    variant_every: int = 7,
) -> DataFrame:
    """Deterministic REAL-WAV media synthesis from a text corpus — the
    audio twin of :func:`png_media_from_text`, the ingest seam for the
    audio near-dup family when no audio fixture exists: every doc
    becomes one mono 8-bit RIFF/WAVE payload (media_id = 2*id, stdlib
    ``wave`` writer, so the payload round-trips through the REAL
    stdlib decode everywhere) of ``frames * frame_len`` samples, where
    sample k is the same base-31 Karp-Rabin mix of text chars
    [k, k+3] the image seam uses — pure integer arithmetic an SQL
    oracle replays from ord().  Every ``variant_every``-th doc
    additionally yields a PLANTED near-duplicate (media_id = 2*id+1)
    whose first ``frame_len * 4`` samples are reversed: per-frame
    ENERGY is order-invariant within a frame, so the reversal
    PERMUTES the first 4 frame energies — the fingerprint moves at
    most 4 bits (the image seam's mean-preserving trick, restated for
    energies).

    The text fills the sample window CYCLICALLY (text repeated, then
    truncated), not by space-padding: a 240-sample window is longer
    than many documents, and a shared space-pad suffix would make the
    trailing frame energies IDENTICAL across every short doc — a
    collision floor that explodes the candidate join at corpus scale
    (measured: the padded variant's pair set exceeded the 1 GB driver
    result cap at the 100x replica).  Cyclic fill keeps every frame's
    energy a function of the doc's own bytes.

    Scale: one Arrow-batched linear pass; rows carry
    frames*frame_len-byte payloads plus the 44-byte RIFF header."""
    import io
    import wave

    n = frames * frame_len

    def wav_of(samples: bytes) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(1)
            w.setframerate(sample_rate)
            w.writeframes(samples)
        return buf.getvalue()

    meta = {
        "format": "wav", "width": None, "height": None,
        "sample_rate": sample_rate, "n_frames": frames,
        "frame_bytes": frame_len,
    }
    rev = frame_len * 4
    return _media_from_text(
        df, id_col, text_col, variant_every, meta,
        content=lambda text: _kr_mix_cyclic(text, n),
        encode=wav_of,
        variant=lambda smp: smp[:rev][::-1] + smp[rev:],
    )


def audio_fingerprint(
    df: DataFrame, frames: int = 60, frame_len: int = 4
) -> DataFrame:
    """Per-payload audio energy fingerprint via Arrow-batched
    mapInPandas — the audio analogue of :func:`image_ahash`: decode
    the RIFF/WAVE payload with stdlib ``wave`` (the REAL decode path
    in every environment — no codec stub needed for audio), cut the
    8-bit PCM into ``frames`` frames of ``frame_len`` samples, and
    set bit i of the signature iff frame i's energy is above the mean
    frame energy — ``frames * energy[i] > total_energy`` in exact
    integer cross-multiplied form (energy = sum of (sample-128)^2,
    an integer), so an SQL oracle over the same deterministic samples
    replays every bit.  60 frames => the signature rides the 60-bit
    banded-Hamming machinery (dedup.hamming_pairs) unchanged.

    Output: (media_id, afp long).  Perceptual by construction:
    within-frame sample reorderings move nothing (energy is a
    multiset sum), frame permutations move only the permuted bits,
    global gain shifts that keep the above-mean set move nothing."""
    import io
    import wave

    n = frames * frame_len

    def sigs_of(payloads: list) -> list:
        import numpy as np

        # stdlib wave decode per payload (the real path), then ONE
        # vectorized (B, frames, frame_len) energy/bit computation for
        # the whole Arrow batch (VERDICT r11 #5).  Padding with 128 is
        # exact: a 128 sample has zero energy, which is precisely what
        # the per-slice Python twin (audio_fp_py in
        # tests/reference_impls.py) computes for bytes past the payload.
        mats = []
        for p in payloads:
            with wave.open(io.BytesIO(p), "rb") as w:
                pcm = w.readframes(w.getnframes())
            arr = np.frombuffer(pcm[:n], dtype=np.uint8).astype(np.int64)
            if arr.size < n:
                arr = np.pad(arr, (0, n - arr.size), constant_values=128)
            mats.append(arr)
        d = np.stack(mats).reshape(len(mats), frames, frame_len) - 128
        e = (d * d).sum(axis=2)
        tot = e.sum(axis=1, keepdims=True)
        return [int(v) for v in _pack_bits(frames * e > tot)]

    return _signatures(df, "afp", sigs_of)


def _avi_of(frames_list: list[bytes], width: int, height: int, fps: int = 10) -> bytes:
    """Minimal REAL RIFF/AVI container around raw 8-bit grayscale
    frames — the video twin of the stdlib ``wave`` writer: RIFF('AVI ')
    { LIST('hdrl'){ avih + LIST('strl'){ strh, strf } }, LIST('movi')
    { '00db' frame ... } }, every box in the documented 4-byte-size
    layout, so :func:`video_stats`'s avih parse reads geometry /
    frame count / fps off the genuine header and
    :func:`_avi_frames` walks the genuine movi list."""
    import struct

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(fourcc: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", fourcc + data)

    n = len(frames_list)
    fb = len(frames_list[0]) if frames_list else 0
    usec = 1_000_000 // fps
    avih = struct.pack(
        "<10I", usec, fb * fps, 0, 0, n, 0, 1, fb, width, height
    ) + b"\x00" * 16
    strh = b"vids" + b"RAW " + struct.pack(
        "<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n, fb, 0xFFFFFFFF, 0
    ) + struct.pack("<4H", 0, 0, width, height)
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 0, fb, 0, 0, 256, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00db", f) for f in frames_list))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _avi_frames(payload: bytes) -> list[bytes]:
    """Decode the frames of a RIFF/AVI payload: walk the top-level
    chunks to LIST('movi') and collect every '00db' (uncompressed DIB)
    chunk body, in order — the read half of :func:`_avi_of`, pure
    stdlib ``struct`` like the rest of the video seam."""
    import struct

    if len(payload) < 12 or payload[0:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return []
    frames_list: list[bytes] = []
    off, end = 12, min(len(payload), 8 + struct.unpack_from("<I", payload, 4)[0])
    while off + 8 <= end:
        fourcc = payload[off:off + 4]
        size = struct.unpack_from("<I", payload, off + 4)[0]
        body = off + 8
        if fourcc == b"LIST" and payload[body:body + 4] == b"movi":
            m = body + 4
            while m + 8 <= body + size:
                fcc = payload[m:m + 4]
                fsz = struct.unpack_from("<I", payload, m + 4)[0]
                if fcc == b"00db":
                    frames_list.append(payload[m + 8:m + 8 + fsz])
                m += 8 + fsz + (fsz & 1)
        off = body + size + (size & 1)
    return frames_list


def avi_media_from_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_frames: int = 120,
    width: int = 4,
    height: int = 2,
    variant_every: int = 7,
) -> DataFrame:
    """Deterministic REAL-AVI media synthesis from a text corpus — the
    video member of the synthesis trio (:func:`png_media_from_text`,
    :func:`wav_media_from_text`), the ingest seam for the video
    near-dup family: every doc becomes one RIFF/AVI payload
    (media_id = 2*id) of ``n_frames`` raw 8-bit grayscale
    ``width x height`` frames, where global pixel k is the shared
    base-31 Karp-Rabin mix of text chars [k, k+3] — cyclic text fill
    (the wav seam's collision-floor lesson), pure integer arithmetic
    an SQL oracle replays from ord().

    Every ``variant_every``-th doc additionally yields a PLANTED
    near-duplicate (media_id = 2*id+1) that (a) PERMUTES the frames a
    stride-2 sampler reads — frame 0 <-> 6 and 2 <-> 4 swap, so the
    sampled-frame fingerprint moves at most 4 bits — and (b) INVERTS
    every pixel of UNSAMPLED frame 1 (p -> 255-p flips its above-mean
    set), which a correct stride-2 fingerprint must not see: the
    planted pair is within the Hamming gate iff sampling actually
    skips odd frames."""
    fb = width * height
    n = n_frames * fb
    meta = {
        "format": "avi", "width": width, "height": height,
        "sample_rate": None, "n_frames": n_frames, "frame_bytes": fb,
    }

    def frames_of(text: str) -> list[bytes]:
        px = _kr_mix_cyclic(text, n)
        return [px[f * fb:(f + 1) * fb] for f in range(n_frames)]

    def variant(fr: list[bytes]) -> list[bytes]:
        vf = list(fr)
        vf[0], vf[6] = fr[6], fr[0]
        vf[2], vf[4] = fr[4], fr[2]
        vf[1] = bytes(255 - b for b in fr[1])
        return vf

    return _media_from_text(
        df, id_col, text_col, variant_every, meta,
        content=frames_of,
        encode=lambda fr: _avi_of(fr, width, height),
        variant=variant,
    )


def video_fingerprint(
    df: DataFrame, every_n: int = 2, n_bits: int = 60
) -> DataFrame:
    """Per-video perceptual fingerprint via Arrow-batched mapInPandas
    — the video member of the signature trio (:func:`image_ahash`,
    :func:`audio_fingerprint`): decode the RIFF/AVI payload with the
    real stdlib-struct movi walk (:func:`_avi_frames`), SAMPLE every
    ``every_n``-th frame (the :func:`sample_frames` stride — pixel
    work on a bounded subset however long the video), reduce each
    sampled frame to its aHash POPCOUNT (the number of above-frame-
    mean pixels, ``n_px * p > frame_total`` exact-integer — the
    image_ahash bit test, so within-frame permutations and payload
    frames the stride skips move nothing), and set signature bit i
    iff sampled frame i's popcount is above the mean popcount
    (``n_sampled * pc[i] > total_pc``).  Every comparison is exact
    integer, so an SQL oracle over the same deterministic pixels
    replays every bit; 60 sampled frames => the signature rides the
    60-bit banded-Hamming machinery (dedup.hamming_pairs) unchanged.

    Output: (media_id, vfp long).  Perceptual by construction:
    reordering pixels within a frame moves nothing, permuting sampled
    frames moves only the permuted bits, global brightness shifts
    preserving each frame's above-mean set move nothing."""
    def sigs_of(payloads: list) -> list:
        import numpy as np

        # real movi-walk decode per payload, then ONE vectorized
        # (B, ns, fb) popcount/bit computation per uniform shape group
        # (VERDICT r11 #5); payloads with ragged frame shapes fall back
        # to the pure-Python twin (_video_fp_py), which is also the
        # property-test reference
        sampled = [_avi_frames(p)[::every_n][:n_bits] for p in payloads]
        sigs = [0] * len(sampled)
        groups: dict[tuple[int, int], list[int]] = {}
        for ix, fr in enumerate(sampled):
            if fr and all(len(f) == len(fr[0]) for f in fr):
                groups.setdefault((len(fr), len(fr[0])), []).append(ix)
            elif fr:
                sigs[ix] = _video_fp_py(fr)
        for (ns, fb), idxs in groups.items():
            mat = np.frombuffer(
                b"".join(b"".join(sampled[i]) for i in idxs),
                dtype=np.uint8,
            ).astype(np.int64).reshape(len(idxs), ns, fb)
            tot = mat.sum(axis=2)
            pcs = (fb * mat > tot[:, :, None]).sum(axis=2)
            ptot = pcs.sum(axis=1, keepdims=True)
            for i, v in zip(idxs, _pack_bits(ns * pcs > ptot)):
                sigs[i] = int(v)
        return sigs

    return _signatures(df, "vfp", sigs_of)


def _video_fp_py(fr: list, n_bits: int = 60) -> int:
    """Pure-Python sampled-frame twin of the vectorized kernel in
    :func:`video_fingerprint` (also the ragged-shape fallback) — the
    property-test reference."""
    pcs = []
    for f in fr[:n_bits]:
        npx = len(f)
        tot = sum(f)
        pcs.append(sum(1 for p in f if npx * p > tot))
    total = sum(pcs)
    ns = len(pcs)
    h = 0
    for i, pc in enumerate(pcs):
        if ns * pc > total:
            h |= 1 << i
    return h
