"""Multimodal (image/audio/video) column operators (north-star C5).

Contract: media travels as an opaque ``binary`` payload column plus typed
metadata (media_type, width/height/duration, codec).  All per-item work
(header probe, decode, pixel/sample statistics) runs as Arrow-batched
Pandas iteration via ``mapInPandas`` — the ONLY sanctioned Python row path —
so each task processes whole record batches and the cluster scales the
decode horizontally.  Every decoder runs through one scaffold
(``_map_items``: a per-item function yields output tuples) and every
synthetic payload builder through one pandas UDF (``_with_payload``).

Codec boundary (retired over round 3): every declared media family now
DECODES FOR REAL in pure stdlib(+numpy for the IDCT) — `decode_png`
(zlib IDAT + all five row filters, x215), `decode_wav_samples`
(integer PCM and G.711 μ-law expansion, x216/x236), `decode_gif_frames`
(full LZW incl. KwKwK and the 4096 reset — the multi-frame/video
sampling shape, x232), `decode_jpeg_gray` (canonical Huffman, DPCM,
run-length AC, dequant, generic IDCT, x235).  Formats declared out of
scope (wild chroma JPEG, psychoacoustic audio, true video containers)
have no decoder.

Container METADATA needs no codec at all: `parse_media_header` reads
real PNG/JPEG/GIF dimensions and WAV format/duration straight from the
byte headers (pure Python struct reads), and `probe_media` runs it as the
standard mapInPandas shape.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

def _pickle_module_by_value() -> None:
    """Make this module's functions serialize BY VALUE into UDF closures.

    cloudpickle serializes module-level functions by reference (module path
    + name), which breaks on executors that don't have this package on
    their import path.  Registering the module switches to by-value for
    everything the UDF closures pull in.  Idempotent; called by every
    path that ships Python to executors (_map_items, _with_payload,
    probe_media).
    """
    try:
        from pyspark import cloudpickle
        import social_warner_spark.operators.multimodal as _self

        cloudpickle.register_pickle_by_value(_self)
    except Exception:
        pass  # older Spark: fall back to by-reference (works when the
        # package is installed on executors)


def _map_items(
    df: DataFrame,
    schema: str,
    per_item: Callable[[bytes], Iterable[tuple]],
    id_col: str,
) -> DataFrame:
    """The decoders' shared mapInPandas scaffold: ``per_item(payload)``
    yields one or more output tuples per item, each prefixed here with
    the item id to form a row of ``schema`` (whose first column is the
    id).  Per-item work, zero shuffle."""
    _pickle_module_by_value()
    names = [f.split()[0] for f in schema.split(", ")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (int(item_id), *cells)
                for item_id, payload in zip(pdf[id_col], pdf["payload"])
                for cells in per_item(payload)
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema=schema)


def _with_payload(
    df: DataFrame, build: Callable[..., bytes], *arg_cols: str
) -> DataFrame:
    """Attach a ``payload`` binary column, ``build(*ints)`` over the
    integer values of ``arg_cols`` per row, in an Arrow-batched pandas
    UDF (struct packing is Python work)."""
    _pickle_module_by_value()

    @F.pandas_udf("binary")
    def make_payload(*cols: pd.Series) -> pd.Series:
        return pd.Series([build(*map(int, vals)) for vals in zip(*cols)])

    return df.withColumn("payload", make_payload(*[F.col(c) for c in arg_cols]))


# --- header probing (real metadata, no codec libraries) ----------------------

PROBE_SCHEMA = (
    "item_id long, media_type string, n_bytes int, width int, height int, "
    "sample_rate int, n_channels int, bits_per_sample int, duration_ms long"
)


def parse_media_header(payload: bytes) -> dict:
    """Sniff + parse container metadata from raw bytes (pure Python).

    Formats: PNG (IHDR width/height), JPEG (SOF0/1/2 frame dims), GIF
    (logical screen), WAV (fmt chunk + data-size-derived duration), BMP
    (BITMAPINFOHEADER dims), FLAC (STREAMINFO rate/channels/bit-depth +
    total-samples-derived duration).
    Returns {"media_type": None} for unrecognized payloads — callers keep
    the opaque-binary contract instead of failing the batch.
    """
    out = {
        "media_type": None, "width": None, "height": None, "sample_rate": None,
        "n_channels": None, "bits_per_sample": None, "duration_ms": None,
    }
    try:
        if payload[:8] == b"\x89PNG\r\n\x1a\n" and payload[12:16] == b"IHDR":
            out["media_type"] = "image/png"
            out["width"] = int.from_bytes(payload[16:20], "big")
            out["height"] = int.from_bytes(payload[20:24], "big")
        elif payload[:3] == b"GIF" and payload[3:6] in (b"87a", b"89a"):
            out["media_type"] = "image/gif"
            out["width"] = int.from_bytes(payload[6:8], "little")
            out["height"] = int.from_bytes(payload[8:10], "little")
        elif payload[:2] == b"\xff\xd8":
            out["media_type"] = "image/jpeg"
            i = 2
            while i + 9 < len(payload):
                if payload[i] != 0xFF:
                    break
                # 0xFF fill bytes may pad between segments (ITU T.81 B.1.1.2)
                while i + 9 < len(payload) and payload[i + 1] == 0xFF:
                    i += 1
                marker = payload[i + 1]
                if marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2
                    out["height"] = int.from_bytes(payload[i + 5 : i + 7], "big")
                    out["width"] = int.from_bytes(payload[i + 7 : i + 9], "big")
                    break
                if marker == 0xD9:  # EOI — no frame header found
                    break
                if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
                    i += 2  # standalone marker (TEM/SOI/RSTn), no length field
                else:
                    i += 2 + int.from_bytes(payload[i + 2 : i + 4], "big")
        elif payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            out["media_type"] = "audio/wav"
            i, byte_rate, data_size = 12, None, None
            while i + 8 <= len(payload):
                chunk_id = payload[i : i + 4]
                chunk_size = int.from_bytes(payload[i + 4 : i + 8], "little")
                if chunk_id == b"fmt ":
                    body = payload[i + 8 : i + 8 + chunk_size]
                    out["n_channels"] = int.from_bytes(body[2:4], "little")
                    out["sample_rate"] = int.from_bytes(body[4:8], "little")
                    byte_rate = int.from_bytes(body[8:12], "little")
                    out["bits_per_sample"] = int.from_bytes(body[14:16], "little")
                elif chunk_id == b"data":
                    data_size = chunk_size
                i += 8 + chunk_size + (chunk_size % 2)  # chunks are word-aligned
            if byte_rate and data_size is not None:
                out["duration_ms"] = data_size * 1000 // byte_rate
        elif payload[:2] == b"BM" and len(payload) >= 26:
            # BITMAPINFOHEADER: signed little-endian dims at offsets 18/22
            out["media_type"] = "image/bmp"
            out["width"] = int.from_bytes(payload[18:22], "little", signed=True)
            # negative height = top-down row order; magnitude is the height
            out["height"] = abs(
                int.from_bytes(payload[22:26], "little", signed=True)
            )
        elif payload[:4] == b"fLaC" and len(payload) >= 42:
            # METADATA_BLOCK_STREAMINFO is mandatory-first: 4-byte header
            # then 34 bytes; rate(20b)/channels-1(3b)/bps-1(5b)/samples(36b)
            # packed big-endian starting at byte 18 of the block body
            out["media_type"] = "audio/flac"
            bits = int.from_bytes(payload[18:26], "big")
            out["sample_rate"] = bits >> 44
            out["n_channels"] = ((bits >> 41) & 0x7) + 1
            out["bits_per_sample"] = ((bits >> 36) & 0x1F) + 1
            total_samples = bits & ((1 << 36) - 1)
            if out["sample_rate"]:
                out["duration_ms"] = total_samples * 1000 // out["sample_rate"]
    except (IndexError, ValueError):
        out = {k: None for k in out}
    return out


def probe_media(df: DataFrame, id_col: str = "item_id") -> DataFrame:
    """Real header metadata per item, as a mapInPandas batch map.

    The standard mapInPandas shape — opaque binary in, typed
    metadata out, zero shuffle; only the first KBs of each payload are
    touched, so column-pruned scans that keep payloads out of other
    operators matter more than the parse itself.
    """

    _pickle_module_by_value()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [parse_media_header(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "item_id": pdf[id_col].astype("int64"),
                    "media_type": [p["media_type"] for p in parsed],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "width": pd.array([p["width"] for p in parsed], dtype="Int32"),
                    "height": pd.array([p["height"] for p in parsed], dtype="Int32"),
                    "sample_rate": pd.array(
                        [p["sample_rate"] for p in parsed], dtype="Int32"
                    ),
                    "n_channels": pd.array(
                        [p["n_channels"] for p in parsed], dtype="Int32"
                    ),
                    "bits_per_sample": pd.array(
                        [p["bits_per_sample"] for p in parsed], dtype="Int32"
                    ),
                    "duration_ms": pd.array(
                        [p["duration_ms"] for p in parsed], dtype="Int64"
                    ),
                }
            )

    return df.mapInPandas(run, schema=PROBE_SCHEMA)


def synth_media_payload(doc_id: int, n_chars: int) -> tuple[bytes, str]:
    """Deterministic REAL container bytes for tests/queries (no codec libs):
    odd ids → a PNG whose IHDR encodes formula-derived dimensions, even ids
    → a WAV whose fmt/data chunks encode formula-derived audio params.  The
    formulas are integer-only so a SQL oracle can state the expected
    metadata while Spark actually round-trips it through real bytes.
    """
    if doc_id % 2 == 1:
        width = 16 + doc_id % 32
        height = 9 + doc_id % 17
        ihdr_body = (
            width.to_bytes(4, "big") + height.to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 0])  # bit depth 8, truecolor
        )
        payload = (
            b"\x89PNG\r\n\x1a\n"
            + len(ihdr_body).to_bytes(4, "big") + b"IHDR" + ihdr_body
            + b"\x00\x00\x00\x00"  # CRC (not validated by the probe)
        )
        return payload, "image/png"
    sample_rate = 8000 * (1 + doc_id % 3)
    n_channels = 1 + (doc_id // 2) % 2
    bits = 16
    block_align = n_channels * bits // 8
    byte_rate = sample_rate * block_align
    n_samples = 100 + n_chars
    data_size = n_samples * block_align
    fmt_body = (
        (1).to_bytes(2, "little") + n_channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little") + byte_rate.to_bytes(4, "little")
        + block_align.to_bytes(2, "little") + bits.to_bytes(2, "little")
    )
    payload = (
        b"RIFF" + (36 + data_size).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + len(fmt_body).to_bytes(4, "little") + fmt_body
        # declared data size drives the duration math; the body is bounded
        # (header-only probes never read sample bytes)
        + b"data" + data_size.to_bytes(4, "little") + bytes(data_size % 4096)
    )
    return payload, "audio/wav"


# --- real pixel/sample codecs (pure stdlib: zlib + struct arithmetic) --------
#
# Round-3 upgrade of the codec boundary: PNG (8-bit gray/RGB/RGBA, all five
# row filters, zlib IDAT) and WAV (integer PCM 8/16/32-bit) now decode for
# real — no image/audio libraries, just the container specs.  GIF and
# baseline JPEG follow further down.

#: PNG color type → samples per pixel (spec §11.2.2; palette unsupported).
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9.4)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _decode_png_array(payload: bytes):
    """decode_png's engine: returns (width, height, channels, flat int64
    numpy array) so batch consumers (pixel stats, aHash) can reduce with
    exact vectorized integer sums instead of per-byte Python loops
    (guide-§4.2 shape: the Python boundary hands whole batches to native
    code).  Filter reversal is vectorized per ROW where the filter has
    no intra-row dependency (None, Up) or a cumulative-sum form (Sub:
    out[k] = Σ raw over the channel lane, mod 256 — exact in int64);
    Average/Paeth keep the per-byte loop, their floor-div/predictor
    recurrences are inherently sequential along the row.  All arithmetic
    is integer, so results are bit-identical to the scalar form (pinned
    by test_decode_png_full_roundtrip)."""
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    width = height = channels = None
    bit_depth = interlace = None
    idat = bytearray()
    i = 8
    while i + 8 <= len(payload):
        size = int.from_bytes(payload[i : i + 4], "big")
        ctype = payload[i + 4 : i + 8]
        body = payload[i + 8 : i + 8 + size]
        if ctype == b"IHDR":
            width = int.from_bytes(body[0:4], "big")
            height = int.from_bytes(body[4:8], "big")
            bit_depth, color_type = body[8], body[9]
            interlace = body[12]
            channels = _PNG_CHANNELS.get(color_type)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        i += 12 + size  # size + type + body + CRC
    if not width or channels is None or bit_depth != 8 or interlace != 0:
        raise ValueError("unsupported PNG variant (need 8-bit, no interlace)")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("IDAT length mismatch")
    mat = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    ftypes = mat[:, 0]
    rows = mat[:, 1:].astype(np.int64)
    out = np.empty((height, stride), dtype=np.int64)
    prior = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        ftype = int(ftypes[y])
        r = rows[y]
        if ftype == 0:
            o = r
        elif ftype == 1:  # Sub: per-channel-lane prefix sum mod 256
            o = r.reshape(width, channels).cumsum(axis=0).reshape(stride) & 0xFF
        elif ftype == 2:  # Up
            o = (r + prior) & 0xFF
        elif ftype == 3:  # Average (sequential: depends on decoded left)
            row = r.tolist()
            pl = prior.tolist()
            for k in range(stride):
                left = row[k - channels] if k >= channels else 0
                row[k] = (row[k] + (left + pl[k]) // 2) & 0xFF
            o = np.array(row, dtype=np.int64)
        elif ftype == 4:  # Paeth (sequential: depends on decoded left)
            row = r.tolist()
            pl = prior.tolist()
            for k in range(stride):
                left = row[k - channels] if k >= channels else 0
                ul = pl[k - channels] if k >= channels else 0
                row[k] = (row[k] + _paeth(left, pl[k], ul)) & 0xFF
            o = np.array(row, dtype=np.int64)
        else:
            raise ValueError(f"bad filter type {ftype}")
        out[y] = o
        prior = out[y]
    return width, height, channels, out.reshape(height * stride)


def decode_png(payload: bytes) -> tuple[int, int, int, list[int]]:
    """Decode a PNG to (width, height, channels, flat sample list).

    Pure stdlib(+numpy): walks the chunk stream, inflates the
    concatenated IDAT data with zlib, then reverses the per-row filter
    (types 0–4: None, Sub, Up, Average, Paeth) — see _decode_png_array
    for the vectorized reversal.  Supports bit depth 8, color types
    0/2/4/6 (gray, RGB, gray+alpha, RGBA), no interlace — the slice a
    training pipeline's synthetic/screenshot imagery lives in.  Raises
    ValueError on anything else rather than silently mis-decoding.
    """
    width, height, channels, arr = _decode_png_array(payload)
    return width, height, channels, arr.tolist()


def _decode_wav_array(payload: bytes):
    """decode_wav_samples' engine: (sample_rate, n_channels, int64 numpy
    array) so batch consumers reduce with exact vectorized integer sums.
    Sample extraction is one np.frombuffer view per clip (guide §4.2)
    instead of an int.from_bytes Python loop; μ-law expands through a
    precomputed 256-entry table of the identical _mulaw_expand values.
    Integer-exact, pinned by test_decode_wav_samples_roundtrip_and_gates.
    """
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    i, fmt_tag, n_channels, sample_rate, bits = 12, None, None, None, None
    data = None
    while i + 8 <= len(payload):
        chunk_id = payload[i : i + 4]
        size = int.from_bytes(payload[i + 4 : i + 8], "little")
        body = payload[i + 8 : i + 8 + size]
        if chunk_id == b"fmt ":
            fmt_tag = int.from_bytes(body[0:2], "little")
            n_channels = int.from_bytes(body[2:4], "little")
            sample_rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif chunk_id == b"data":
            data = body
        i += 8 + size + (size % 2)
    if fmt_tag == 7 and bits == 8 and n_channels and data is not None:
        # G.711 μ-law (companded 8-bit — a genuinely LOSSY audio format
        # with an exact integer expansion, ITU-T G.711 Table 2a/2b)
        samples = _mulaw_table()[np.frombuffer(data, dtype=np.uint8)]
        return sample_rate, n_channels, samples
    if fmt_tag != 1 or bits not in (8, 16, 32) or not n_channels or data is None:
        raise ValueError(
            "unsupported WAV variant (need integer PCM or 8-bit mu-law)"
        )
    step = bits // 8
    dtype = {8: np.uint8, 16: np.dtype("<i2"), 32: np.dtype("<i4")}[bits]
    usable = len(data) - len(data) % (step * n_channels)
    samples = np.frombuffer(data[:usable], dtype=dtype).astype(np.int64)
    return sample_rate, n_channels, samples


def _mulaw_table():
    """256-entry int64 lookup of _mulaw_expand (built once per process)."""
    global _MULAW_LUT
    if _MULAW_LUT is None:
        import numpy as np

        _MULAW_LUT = np.array([_mulaw_expand(c) for c in range(256)], dtype=np.int64)
    return _MULAW_LUT


_MULAW_LUT = None


def decode_wav_samples(payload: bytes) -> tuple[int, int, list[int]]:
    """Decode integer-PCM WAV to (sample_rate, n_channels, flat samples).

    Chunk walk + one numpy buffer view (see _decode_wav_array): PCM
    (format tag 1) at 8 (unsigned), 16 or 32 (signed little-endian)
    bits, interleaved channel order preserved.  Raises ValueError on
    compressed/float formats.
    """
    sample_rate, n_channels, samples = _decode_wav_array(payload)
    return sample_rate, n_channels, samples.tolist()


def _mulaw_expand(code: int) -> int:
    """ITU-T G.711 μ-law expansion: complemented code → segment/mantissa
    → linear PCM in [−32124, 32124].  Integer-exact (decode(0xFF) = 0,
    decode(0x00) = −32124 per the published tables), so a SQL oracle can
    restate it with arithmetic alone."""
    u = ~code & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    v = t - 0x84
    return -v if (u & 0x80) else v


def synth_mulaw_wav_content(doc_id: int, n_chars: int) -> bytes:
    """A REAL μ-law WAV (format tag 7, 8-bit codes): code byte
    k = (7·doc_id + 11·k) mod 256, mono, 8 kHz — the companded telephony
    format whose decode is the simplest legitimately-lossy audio
    codec."""
    import numpy as np

    n = 80 + n_chars % 128
    codes = ((7 * doc_id + 11 * np.arange(n)) % 256).astype(np.uint8).tobytes()
    fmt_body = (
        (7).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
    )
    return (
        b"RIFF" + (36 + len(codes)).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + len(fmt_body).to_bytes(4, "little") + fmt_body
        + b"data" + len(codes).to_bytes(4, "little") + codes
    )


def with_synth_mulaw_content(df: DataFrame) -> DataFrame:
    """Attach a fully-decodable μ-law WAV payload per row."""
    return _with_payload(df, synth_mulaw_wav_content, "doc_id", "n_chars")


def _gif_lzw_encode(indices: list[int], mcs: int) -> bytes:
    """Real GIF-flavor LZW compression (dictionary build, variable code
    width, LSB-first bit packing, 4096-entry reset) — the encoder half of
    the synthesized multi-frame GIFs."""
    clear = 1 << mcs
    eoi = clear + 1
    out = bytearray()
    cur = nbits = 0
    codesize = mcs + 1

    def emit(code: int) -> None:
        nonlocal cur, nbits
        cur |= code << nbits
        nbits += codesize
        while nbits >= 8:
            out.append(cur & 0xFF)
            cur >>= 8
            nbits -= 8

    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    w: tuple[int, ...] = ()
    for k in indices:
        wk = w + (k,)
        if wk in table:
            w = wk
            continue
        emit(table[w])
        table[wk] = next_code
        next_code += 1
        if next_code == 4096:
            emit(clear)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            codesize = mcs + 1
        elif next_code == (1 << codesize) and codesize < 12:
            codesize += 1
        w = (k,)
    if w:
        emit(table[w])
    emit(eoi)
    if nbits:
        out.append(cur & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, mcs: int) -> list[int]:
    """Real GIF LZW decompression: dictionary reconstruction including the
    KwKwK self-reference case.  The decoder's table lags the encoder's by
    exactly one entry, so the code-width bump fires at 2^w − 1 here (the
    classic desync bug if done at 2^w)."""
    clear = 1 << mcs
    eoi = clear + 1
    codesize = mcs + 1
    table: list[tuple[int, ...]] = [(i,) for i in range(clear)] + [(), ()]
    cur = nbits = 0
    out: list[int] = []
    w: tuple[int, ...] | None = None
    for byte in data:
        cur |= byte << nbits
        nbits += 8
        while nbits >= codesize:
            code = cur & ((1 << codesize) - 1)
            cur >>= codesize
            nbits -= codesize
            if code == clear:
                table = [(i,) for i in range(clear)] + [(), ()]
                codesize = mcs + 1
                w = None
                continue
            if code == eoi:
                return out
            if w is None:
                entry = table[code]
            else:
                if code < len(table):
                    entry = table[code]
                    table.append(w + (entry[0],))
                elif code == len(table):
                    # KwKwK: the code being defined by this very step —
                    # the ONLY legal not-yet-defined code (any larger
                    # code is a corrupt stream, not a KwKwK case)
                    entry = w + (w[0],)
                    table.append(entry)
                else:
                    raise ValueError(
                        f"corrupt LZW stream: code {code} beyond table "
                        f"size {len(table)}"
                    )
                if len(table) == (1 << codesize) - 1 and codesize < 12:
                    codesize += 1
            out.extend(entry)
            w = entry
    return out


def decode_gif_frames(
    payload: bytes,
) -> tuple[int, int, list[tuple[int, int, int]], list[list[int]]]:
    """Decode an (unanimated-extension-free or GCE-bearing) GIF to
    (width, height, global color table, per-frame index lists) with a
    REAL LZW decompressor — pure stdlib, no codec libs.

    Supports what the synthesizer and common non-interlaced GIFs emit:
    global color table, any number of image descriptors (frames),
    extension blocks skipped structurally.  Raises ValueError on
    interlaced or locally-tabled frames."""
    if payload[:3] != b"GIF" or payload[3:6] not in (b"87a", b"89a"):
        raise ValueError("not a GIF")
    width = int.from_bytes(payload[6:8], "little")
    height = int.from_bytes(payload[8:10], "little")
    flags = payload[10]
    i = 13
    colors: list[tuple[int, int, int]] = []
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        for c in range(n):
            colors.append(
                (payload[i + 3 * c], payload[i + 3 * c + 1], payload[i + 3 * c + 2])
            )
        i += 3 * n
    frames: list[list[int]] = []
    while i < len(payload):
        b = payload[i]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            i += 2
            while payload[i] != 0:
                i += 1 + payload[i]
            i += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        fw = int.from_bytes(payload[i + 5 : i + 7], "little")
        fh = int.from_bytes(payload[i + 7 : i + 9], "little")
        fflags = payload[i + 9]
        if fflags & 0xC0:
            raise ValueError("local color tables / interlace not supported")
        i += 10
        mcs = payload[i]
        i += 1
        data = bytearray()
        while payload[i] != 0:
            size = payload[i]
            data += payload[i + 1 : i + 1 + size]
            i += 1 + size
        i += 1
        indices = _gif_lzw_decode(bytes(data), mcs)
        if len(indices) != fw * fh:
            raise ValueError("LZW payload does not cover the frame")
        frames.append(indices)
    return width, height, colors, frames


def synth_gif_content(doc_id: int) -> bytes:
    """A REAL multi-frame GIF89a: 2 + id%3 frames of 8+id%9 × 6+id%7
    indexed pixels, index (x,y,f) = (11·id + 13·f + 31·y + 7·x) mod 256,
    global color table color(i) = (i, 3i mod 256, 7i mod 256), image data
    genuinely LZW-compressed.  The index/color formulas are what let a
    SQL oracle state expected per-frame statistics while Spark
    round-trips the actual compressed bytes."""
    width = 8 + doc_id % 9
    height = 6 + doc_id % 7
    n_frames = 2 + doc_id % 3
    out = bytearray(b"GIF89a")
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out += bytes([0xF7, 0, 0])  # GCT present, 256 entries
    for c in range(256):
        out += bytes([c, (3 * c) % 256, (7 * c) % 256])
    for f in range(n_frames):
        out += b"\x2c" + bytes(4)
        out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
        out += b"\x00\x08"  # no local table / no interlace; min code size 8
        lzw = _gif_lzw_encode(
            [
                (11 * doc_id + 13 * f + 31 * y + 7 * x) % 256
                for y in range(height)
                for x in range(width)
            ],
            8,
        )
        for j in range(0, len(lzw), 255):
            block = lzw[j : j + 255]
            out += bytes([len(block)]) + block
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


GIF_FRAME_SCHEMA = (
    "item_id long, frame_idx int, width int, height int, n_px long, "
    "idx_sum long, rgb_sum long"
)


def gif_frame_stats(df: DataFrame, id_col: str = "item_id") -> DataFrame:
    """Per-FRAME statistics via decode_gif_frames inside mapInPandas —
    the frame-sampling shape for video-like media: one input row fans
    out to one output row per decoded frame, all sums exact integers so
    the engine derives means cross-engine-exactly.

    100 TB: per-item decode, zero shuffle; frame fan-out is bounded by
    frames-per-item, and only integer cells leave Python."""

    def frame_stats(payload: bytes):
        w, h, colors, frames = decode_gif_frames(payload)
        for fi, frame in enumerate(frames):
            rgb_sum = sum(sum(colors[v]) for v in frame)
            yield fi, w, h, len(frame), sum(frame), rgb_sum

    return _map_items(df, GIF_FRAME_SCHEMA, frame_stats, id_col)


def with_synth_gif_content(df: DataFrame) -> DataFrame:
    """Attach a fully-decodable multi-frame GIF payload per row."""
    return _with_payload(df, synth_gif_content, "doc_id")


# --- baseline JPEG (grayscale): real entropy decode + IDCT ------------------

#: JPEG zig-zag coefficient order (ITU T.81 Figure A.6).
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: Canonical Huffman geometry for the synthesized JPEGs: 12 DC magnitude
#: categories at 4 bits; all 162 standard AC (run, size) symbols at
#: 8 bits (256 slots, all-ones code left unused so 1-padding cannot
#: alias a symbol).
_JPEG_DC_BITS = [0, 0, 0, 12] + [0] * 12
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_VALS = (
    [0x00, 0xF0]
    + [(run << 4) | size for run in range(16) for size in range(1, 11)]
)
_JPEG_AC_BITS = [0] * 16
_JPEG_AC_BITS[7] = len(_JPEG_AC_VALS)


def _jpeg_canonical_codes(bits: list[int], vals: list[int]) -> dict:
    """symbol -> (code, length) per the canonical DHT construction."""
    codes: dict[int, tuple[int, int]] = {}
    code = k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return codes


def _jpeg_decode_table(bits: list[int], vals: list[int]) -> dict:
    """(length, code) -> symbol for the generic Huffman reader."""
    table: dict[tuple[int, int], int] = {}
    code = k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _jpeg_cat_bits(v: int) -> tuple[int, int]:
    """Magnitude category + appended bits (T.81 F.1.2.1 / F.12)."""
    cat, a = 0, abs(v)
    while a:
        cat += 1
        a >>= 1
    return cat, v if v >= 0 else v + (1 << cat) - 1


class _JpegBitWriter:
    """MSB-first bit stream with 0xFF byte stuffing and 1-padding."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.cur = self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.cur = (self.cur << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.cur)
                if self.cur == 0xFF:
                    self.out.append(0x00)
                self.cur = self.n = 0

    def flush(self) -> bytes:
        while self.n:
            self.write(1, 1)
        return bytes(self.out)


class _JpegBitReader:
    """MSB-first reader that strips 0xFF00 stuffing."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = self.cur = self.n = 0

    def read_bit(self) -> int:
        if self.n == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.data[self.pos] != 0x00:
                    raise ValueError("marker inside entropy-coded data")
                self.pos += 1
            self.cur, self.n = b, 8
        self.n -= 1
        return (self.cur >> self.n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _jpeg_read_symbol(br: _JpegBitReader, table: dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.read_bit()
        if (ln, code) in table:
            return table[(ln, code)]
    raise ValueError("invalid Huffman code")


def _jpeg_extend(v: int, cat: int) -> int:
    """Sign-extend appended bits (T.81 F.12 EXTEND)."""
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _jpeg_idct_matrix():
    import numpy as np

    c = np.zeros((8, 8))
    for x in range(8):
        for u in range(8):
            cu = (1 / np.sqrt(2)) if u == 0 else 1.0
            c[x, u] = cu * np.cos((2 * x + 1) * u * np.pi / 16)
    return c


def _jpeg_encode_blocks(
    blocks: list[list[int]], width: int, height: int, quant: list[int]
) -> bytes:
    """Assemble a REAL baseline grayscale JPEG from per-block quantized
    coefficient lists (zig-zag order, 64 each): DQT + SOF0 + DHT + SOS +
    Huffman-coded scan (DPCM DC, run-length AC with ZRL/EOB)."""
    dc_codes = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _JpegBitWriter()
    prev = 0
    for coefs in blocks:
        diff = coefs[0] - prev
        prev = coefs[0]
        cat, bits = _jpeg_cat_bits(diff)
        code, ln = dc_codes[cat]
        bw.write(code, ln)
        if cat:
            bw.write(bits, cat)
        k = 1
        while k < 64:
            run = 0
            while k < 64 and coefs[k] == 0:
                run += 1
                k += 1
            if k == 64:
                code, ln = ac_codes[0x00]  # EOB
                bw.write(code, ln)
                break
            while run >= 16:
                code, ln = ac_codes[0xF0]  # ZRL
                bw.write(code, ln)
                run -= 16
            cat, bits = _jpeg_cat_bits(coefs[k])
            code, ln = ac_codes[(run << 4) | cat]
            bw.write(code, ln)
            bw.write(bits, cat)
            k += 1
        else:
            pass
    data = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    return (
        b"\xff\xd8"
        + seg(0xDB, bytes([0x00]) + bytes(quant))
        + seg(
            0xC0,
            bytes([8])
            + height.to_bytes(2, "big")
            + width.to_bytes(2, "big")
            + bytes([1, 1, 0x11, 0]),
        )
        + seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
        + seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + data
        + b"\xff\xd9"
    )


def synth_jpeg_content(doc_id: int) -> bytes:
    """A REAL baseline grayscale JPEG of 8·(2+id%3) × 8·(1+id%2) pixels
    whose blocks are DC-only with quant step 8: dequantized DC = 8·dcq,
    so the (exact, generic) IDCT yields the flat value dcq + 128 with NO
    float rounding ambiguity — dcq(bx,by) = ((id + 3·bx + 5·by) mod 32)
    − 16.  Real DPCM + Huffman entropy coding in between, so the decoder
    must get every layer right for the oracle-stated statistics to
    match."""
    width = 8 * (2 + doc_id % 3)
    height = 8 * (1 + doc_id % 2)
    blocks = []
    for by in range(height // 8):
        for bx in range(width // 8):
            dcq = ((doc_id + 3 * bx + 5 * by) % 32) - 16
            blocks.append([dcq] + [0] * 63)
    return _jpeg_encode_blocks(blocks, width, height, [8] * 64)


def decode_jpeg_gray(payload: bytes) -> tuple[int, int, list[int]]:
    """Decode a baseline sequential GRAYSCALE JPEG to (width, height,
    row-major pixels) — real entropy decode (canonical Huffman tables
    from DHT, DPCM DC, run-length AC incl. ZRL/EOB, 0xFF00 unstuffing)
    followed by dequantization and a genuine 2-D IDCT (numpy matrix
    form) with level shift and clamping.  Raises ValueError on
    progressive/chroma/16-bit-quant variants."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    i = 2
    quant: list[int] | None = None
    width = height = None
    huff: dict[int, dict] = {}
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError("bad segment marker")
        marker = payload[i + 1]
        if marker == 0xD9:
            break
        ln = int.from_bytes(payload[i + 2 : i + 4], "big")
        body = payload[i + 4 : i + 2 + ln]
        if marker == 0xDB:
            if body[0] & 0xF0:
                raise ValueError("16-bit quant tables not supported")
            quant = list(body[1:65])
        elif marker == 0xC0:
            if body[0] != 8 or body[5] != 1:
                raise ValueError("only 8-bit single-component baseline")
            height = int.from_bytes(body[1:3], "big")
            width = int.from_bytes(body[3:5], "big")
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xC4:
            j = 0
            while j < len(body):
                tc_th = body[j]
                bits = list(body[j + 1 : j + 17])
                nv = sum(bits)
                vals = list(body[j + 17 : j + 17 + nv])
                huff[tc_th] = _jpeg_decode_table(bits, vals)
                j += 17 + nv
        elif marker == 0xDA:
            if quant is None or width is None:
                raise ValueError("scan before tables/frame header")
            dc_id = body[2] >> 4
            ac_id = body[2] & 0x0F
            br = _JpegBitReader(payload[i + 2 + ln :])
            cmat = _jpeg_idct_matrix()
            nbx = (width + 7) // 8
            nby = (height + 7) // 8
            pixels = np.zeros((nby * 8, nbx * 8), dtype=np.int64)
            prev = 0
            for by in range(nby):
                for bx in range(nbx):
                    cat = _jpeg_read_symbol(br, huff[0x00 | dc_id])
                    prev += _jpeg_extend(br.read_bits(cat), cat) if cat else 0
                    coefs = np.zeros(64)
                    coefs[0] = prev * quant[0]
                    k = 1
                    while k < 64:
                        sym = _jpeg_read_symbol(br, huff[0x10 | ac_id])
                        if sym == 0x00:  # EOB
                            break
                        if sym == 0xF0:  # ZRL
                            k += 16
                            continue
                        k += sym >> 4
                        size = sym & 0x0F
                        zz = _JPEG_ZIGZAG[k]
                        # T.81 B.2.4.1: the DQT body is stored in zig-zag
                        # order, so the step for SCAN index k is quant[k]
                        # (natural-order indexing quant[zz] silently
                        # mis-dequantizes any non-uniform table).
                        coefs[zz] = _jpeg_extend(br.read_bits(size), size) * quant[k]
                        k += 1
                    grid = coefs.reshape(8, 8)  # [v, u] in natural order
                    # B[y, x] = Σ_v Σ_u C[y,v]·C[x,u]·F[v,u]
                    block = (cmat @ grid @ cmat.T) / 4.0
                    vals = np.clip(np.rint(block) + 128, 0, 255).astype(np.int64)
                    pixels[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = vals
            return width, height, [
                int(pixels[y, x]) for y in range(height) for x in range(width)
            ]
        i += 2 + ln
    raise ValueError("no scan found")


JPEG_STATS_SCHEMA = (
    "item_id long, width int, height int, n_px long, "
    "px_sum long, px_min int, px_max int"
)


def jpeg_pixel_stats(df: DataFrame, id_col: str = "item_id") -> DataFrame:
    """Grayscale pixel statistics per image via decode_jpeg_gray inside
    mapInPandas — same shape as png_pixel_stats: per-item decode, zero
    shuffle, exact integer cells out."""

    def pixel_stats(payload: bytes):
        w, h, px = decode_jpeg_gray(payload)
        yield w, h, len(px), sum(px), min(px), max(px)

    return _map_items(df, JPEG_STATS_SCHEMA, pixel_stats, id_col)


def with_synth_jpeg_content(df: DataFrame) -> DataFrame:
    """Attach a fully-decodable baseline grayscale JPEG payload per row."""
    return _with_payload(df, synth_jpeg_content, "doc_id")


def synth_png_content(doc_id: int) -> bytes:
    """A REAL, fully-decodable RGB PNG: dimensions from the x49 formulas,
    pixel (x,y,c) = (7·doc_id + 31·y + 13·x + 5·c) mod 256, row filter
    cycling y mod 5 so every filter type is exercised, real zlib IDAT and
    CRCs.  The integer pixel formula is what lets a SQL oracle state the
    expected pixel statistics while Spark round-trips actual bytes.
    """
    import zlib

    import numpy as np

    width = 16 + doc_id % 32
    height = 9 + doc_id % 17
    channels = 3
    stride = width * channels
    # Vectorized encoder (r10, guide §4.2): the pixel formula and every
    # filter PREDICTION depend only on ORIGINAL sample values (encode
    # side has no output recurrence, unlike decode), so all five
    # filtered variants compute as whole-image integer array ops and
    # each row picks its y%5 variant (decode_png reproduces the pixel
    # formula exactly: test_decode_png_full_roundtrip).
    yv = np.arange(height).reshape(-1, 1, 1)
    xv = np.arange(width).reshape(1, -1, 1)
    cv = np.arange(channels).reshape(1, 1, -1)
    rows = ((7 * doc_id + 31 * yv + 13 * xv + 5 * cv) % 256).reshape(height, stride)
    zc = np.zeros((height, channels), dtype=rows.dtype)
    prior = np.vstack([np.zeros((1, stride), dtype=rows.dtype), rows[:-1]])
    left = np.concatenate([zc, rows[:, :-channels]], axis=1)
    ul = np.concatenate([zc, prior[:, :-channels]], axis=1)
    pa = np.abs(prior - ul)  # |p - left|  with p = left + prior - ul
    pb = np.abs(left - ul)  # |p - prior|
    pc = np.abs(left + prior - 2 * ul)  # |p - ul|
    paeth = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, ul))
    variants = np.stack(
        [
            rows,  # 0 None
            (rows - left) & 0xFF,  # 1 Sub
            (rows - prior) & 0xFF,  # 2 Up
            (rows - (left + prior) // 2) & 0xFF,  # 3 Average
            (rows - paeth) & 0xFF,  # 4 Paeth
        ]
    )
    ftypes = np.arange(height) % 5
    filtered = variants[ftypes, np.arange(height)]
    stream = (
        np.concatenate([ftypes.reshape(-1, 1), filtered], axis=1)
        .astype(np.uint8)
        .tobytes()
    )
    ihdr_body = (
        width.to_bytes(4, "big") + height.to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])
    )
    idat_body = zlib.compress(bytes(stream), 6)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big") + ctype + body
            + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr_body)
        + chunk(b"IDAT", idat_body)
        + chunk(b"IEND", b"")
    )


def synth_wav_content(doc_id: int, n_chars: int) -> bytes:
    """A REAL integer-PCM WAV: audio params from the x49 formulas (but a
    bounded sample count), sample (k,c) = ((31·doc_id + 7·k + 3·c) mod
    2001) − 1000 as signed 16-bit little-endian interleaved frames."""
    sample_rate = 8000 * (1 + doc_id % 3)
    n_channels = 1 + (doc_id // 2) % 2
    bits = 16
    block_align = n_channels * bits // 8
    byte_rate = sample_rate * block_align
    n_samples = 100 + n_chars % 256
    import numpy as np

    kv = np.arange(n_samples).reshape(-1, 1)
    cv = np.arange(n_channels).reshape(1, -1)
    frames = (
        (((31 * doc_id + 7 * kv + 3 * cv) % 2001) - 1000)
        .astype("<i2")
        .tobytes()  # row-major = interleaved frames, little-endian signed
    )
    fmt_body = (
        (1).to_bytes(2, "little") + n_channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little") + byte_rate.to_bytes(4, "little")
        + block_align.to_bytes(2, "little") + bits.to_bytes(2, "little")
    )
    return (
        b"RIFF" + (36 + len(frames)).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + len(fmt_body).to_bytes(4, "little") + fmt_body
        + b"data" + len(frames).to_bytes(4, "little") + bytes(frames)
    )


PNG_STATS_SCHEMA = (
    "item_id long, width int, height int, n_values long, "
    "value_sum long, value_min int, value_max int"
)
WAV_STATS_SCHEMA = (
    "item_id long, sample_rate int, n_channels int, n_samples long, "
    "sample_sum long, sample_sq_sum long, sample_min int, sample_max int"
)


def png_pixel_stats(df: DataFrame, id_col: str = "item_id") -> DataFrame:
    """Real pixel statistics per image via decode_png inside mapInPandas.

    Sums stay integer (engine-exact); callers derive means/RMS with one
    division so cross-engine doubles agree.  Same 100 TB shape as
    probe_media: per-item work, zero shuffle, horizontal scale.
    """

    def pixel_stats(payload: bytes):
        # _decode_png_array: the reductions below run as exact int64
        # numpy ops over the whole image, not per-byte Python (r10,
        # guide §4.2)
        w, h, ch, arr = _decode_png_array(payload)
        yield w, h, int(arr.size), int(arr.sum()), int(arr.min()), int(arr.max())

    return _map_items(df, PNG_STATS_SCHEMA, pixel_stats, id_col)


def wav_sample_stats(df: DataFrame, id_col: str = "item_id") -> DataFrame:
    """Real PCM sample statistics per clip via decode_wav_samples."""

    def sample_stats(payload: bytes):
        # exact int64 numpy reductions over the whole clip (r10)
        rate, nch, samples = _decode_wav_array(payload)
        yield (
            rate,
            nch,
            int(samples.size) // nch,
            int(samples.sum()),
            int((samples * samples).sum()),
            int(samples.min()),
            int(samples.max()),
        )

    return _map_items(df, WAV_STATS_SCHEMA, sample_stats, id_col)


AHASH_SCHEMA = (
    "item_id long, width int, height int, n_pixels long, "
    "gray_sum long, phash long"
)
FRAME_RMS_SCHEMA = (
    "item_id long, frame_idx int, n_in_frame int, sq_sum long"
)

#: Sample-grid strides for the perceptual hash (co-prime to typical dims
#: so the 16 probe points spread over the image).
AHASH_BITS = 16
_AHASH_XSTRIDE, _AHASH_YSTRIDE = 7, 13


def png_ahash(df: DataFrame, id_col: str = "item_id") -> DataFrame:
    """Average-hash perceptual fingerprint per image, integer-exact.

    Decodes the real PNG, grays each probe point p_k = ((7k) mod w,
    (13k) mod h) as the channel SUM (no division), and sets bit k iff
    the probe's channel-sum × n_pixels exceeds the image's total sample
    sum — the aHash ">` mean brightness" test kept in integers so a SQL
    oracle states the identical bits.  Equal hashes bucket visually-
    similar images; the standard cheap pre-filter before pixel-level or
    embedding comparison in an image dedup pipeline.
    """

    def ahash(payload: bytes):
        # decode once to an int64 array; the 16 probe sums stay scalar
        # (bounded count), the image-total sum is one vectorized exact
        # reduction (r10)
        w, h, ch, arr = _decode_png_array(payload)
        total = int(arr.sum())
        n_px = w * h
        phash = 0
        for k in range(AHASH_BITS):
            x = (_AHASH_XSTRIDE * k) % w
            y = (_AHASH_YSTRIDE * k) % h
            base = (y * w + x) * ch
            psum = int(arr[base : base + ch].sum())
            # gray(p) > mean-gray  ⟺  psum·n_px > total (integers)
            if psum * n_px > total:
                phash |= 1 << k
        yield w, h, n_px, total, phash

    return _map_items(df, AHASH_SCHEMA, ahash, id_col)


def wav_frame_rms_cells(
    df: DataFrame,
    frame: int = 100,
    id_col: str = "item_id",
) -> DataFrame:
    """Row-expanding audio framing: one row per `frame`-sample window
    with EXACT integer (count, Σv²) cells — the engine derives RMS and
    segments (silence detection, loudness profiling) relationally.
    Frames are over the interleaved sample stream (channel-agnostic
    energy), matching the k//frame grouping a SQL oracle states.
    """

    def frame_cells(payload: bytes):
        import numpy as np

        _, _, samples = _decode_wav_array(payload)
        # per-frame exact int64 Σv² via one reduceat over the squared
        # stream (r10); frame boundaries every `frame` interleaved
        # samples, identical to the k//frame oracle
        sq = samples * samples
        starts = np.arange(0, samples.size, frame)
        sq_sums = np.add.reduceat(sq, starts) if samples.size else []
        for fi, f0 in enumerate(starts.tolist()):
            yield fi, int(min(frame, samples.size - f0)), int(sq_sums[fi])

    return _map_items(df, FRAME_RMS_SCHEMA, frame_cells, id_col)


def with_synth_media_content(df: DataFrame) -> DataFrame:
    """Attach FULLY-DECODABLE media per row: odd ids → synth_png_content,
    even ids → synth_wav_content (vs with_synth_media's header-only
    payloads, kept separate so x49's probe contract is unchanged)."""

    def build(i: int, n: int) -> bytes:
        return synth_png_content(i) if i % 2 == 1 else synth_wav_content(i, n)

    return _with_payload(df, build, "doc_id", "n_chars")


def with_synth_media(df: DataFrame) -> DataFrame:
    """Attach a real PNG/WAV container payload per row (synth_media_payload),
    built in an Arrow-batched pandas UDF (struct packing is Python work)."""

    def build(i: int, n: int) -> bytes:
        return synth_media_payload(i, n)[0]

    return _with_payload(df, build, "doc_id", "n_chars")
