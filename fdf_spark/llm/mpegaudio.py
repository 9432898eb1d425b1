"""MPEG-1 Audio Layer I — real bitstream codec (ISO/IEC 11172-3).

The r6 boundary said "perceptual codecs (MP3/H.264) remain stubbed".
This module retires HALF of the MPEG-audio gap for real: a Layer I
frame is parsed from raw bytes — 32-bit header (syncword, ID, layer,
bitrate index, sampling-frequency index, mode), per-subband bit
allocation, 6-bit scalefactors, and the 12×subband quantized sample
codes — and the samples are REQUANTIZED to scaled subband amplitudes
with the spec's exact dequantization law.  The matching encoder writes
spec-valid frames (any conformant MPEG audio decoder can read them),
which is what the q138 fixtures use.

What is decoded for real (everything bit-exact, oracle-replayable):

- header fields incl. the Layer I bitrate table (32..448 kbps) and
  sampling frequencies (44.1/48/32 kHz), strict on forbidden values;
- bit allocation: 4-bit code a per subband, a=0 → silent,
  a ∈ 1..14 → nb = a+1 sample bits, a=15 forbidden;
- scalefactors: 6-bit index, value 2·2^(−idx/3) (the closed FORM of
  ISO table 3-B.1 — no table needed), idx=63 forbidden;
- requantization: s = sf · (2^nb/(2^nb−1)) · (c/2^(nb−1) − 1 + 2^(1−nb))
  for the nb-bit unsigned code c (the spec's MSB-inversion fraction,
  written directly).

The REMAINING boundary — permanent by design, not an environment
accident: subband→PCM polyphase synthesis requires the 512-tap
analysis/synthesis window of ISO 11172-3 table 3-B.3, which is
TABULATED data with no closed form.  Hand-typing 512 coefficients
with no conformance vector to verify against in this sandbox would be
untestable numerology, so PCM synthesis (and with it Layer III/MP3's
additional hybrid filterbank + Huffman tables, and H.264) stays
behind the native-lib seam: at production you mount ffmpeg inside the
SAME ``arrow_kernel`` decode seam this module runs in.  Everything up
to the filterbank — container, entropy layout, dequantization — is
real here.

Scale shape: identical to the other five real codecs — decode runs
embarrassingly parallel per asset inside Arrow-batched
``arrow_kernel``, zero shuffles (plan-pinned by q138).

Reference parity: none (the reference has no codecs); part of the
N6 multimodal tier the build brief adds.
"""

from __future__ import annotations

from fdf_spark.llm.flac import _BitReader, _BitWriter

#: Layer I bitrate table, kbps, index 1..14 (0 = free format, 15 forbidden)
LAYER1_BITRATES = (
    None, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448,
)
#: sampling-frequency index → Hz (index 3 reserved)
SAMPLE_RATES = (44100, 48000, 32000, None)

_SYNC = 0xFFF
_LAYER1 = 0b11  # layer code for Layer I
_MODE_SINGLE = 0b11


def scalefactor(idx: int) -> float:
    """ISO table 3-B.1 in closed form: 2.0 · 2^(−idx/3), idx 0..62."""
    if not 0 <= idx <= 62:
        raise ValueError(f"scalefactor index {idx} out of range (63 forbidden)")
    return 2.0 * 2.0 ** (-(idx / 3.0))


def dequantize(code: int, nb: int, sf: float) -> float:
    """Layer I requantization (ISO 11172-3 §2.4.3.2), exact law:
    ``sf · (2^nb/(2^nb−1)) · (c/2^(nb−1) − 1 + 2^(1−nb))``.

    Association is fixed (left-to-right, the written order) so an SQL
    oracle evaluating the identical expression reproduces every bit.
    """
    fac = (1 << nb) / float((1 << nb) - 1)
    frac = code / float(1 << (nb - 1)) - 1.0 + 2.0 ** (1 - nb)
    return sf * fac * frac


def encode_mpeg1_layer1(
    alloc_bits: list[int],
    sf_indices: list[int],
    codes: list[list[int]],
    sample_rate: int = 32000,
    bitrate_kbps: int = 256,
) -> bytes:
    """Write one spec-valid single-channel MPEG-1 Layer I frame.

    ``alloc_bits[sb]`` is 0 (silent) or 2..15 sample bits for each of
    the 32 subbands; allocated subbands take ``sf_indices[sb]`` (0..62)
    and 12 unsigned codes ``codes[sb]`` of ``alloc_bits[sb]`` bits.
    Unused frame slots are zero-filled ancillary data, per spec.
    """
    if len(alloc_bits) != 32:
        raise ValueError("alloc_bits must cover all 32 subbands")
    fs_idx = SAMPLE_RATES.index(sample_rate)
    br_idx = LAYER1_BITRATES.index(bitrate_kbps)
    if (12 * bitrate_kbps * 1000) % sample_rate:
        raise ValueError("bitrate/sample_rate needing padding unsupported in writer")
    n_slots = 12 * bitrate_kbps * 1000 // sample_rate
    header = (
        (_SYNC << 20)
        | (1 << 19)          # ID: MPEG-1
        | (_LAYER1 << 17)    # Layer I
        | (1 << 16)          # protection_bit: no CRC
        | (br_idx << 12)
        | (fs_idx << 10)
        | (0 << 9)           # padding
        | (0 << 8)           # private
        | (_MODE_SINGLE << 6)
        | (0 << 4)           # mode_extension
        | (0 << 3)           # copyright
        | (1 << 2)           # original
        | 0                  # emphasis: none
    )
    bw = _BitWriter()
    for sb in range(32):
        nb = alloc_bits[sb]
        if nb == 0:
            bw.write(0, 4)
        elif 2 <= nb <= 15:
            bw.write(nb - 1, 4)
        else:
            raise ValueError(f"subband {sb}: {nb} sample bits (need 0 or 2..15)")
    for sb in range(32):
        if alloc_bits[sb]:
            idx = sf_indices[sb]
            if not 0 <= idx <= 62:
                raise ValueError(f"subband {sb}: scalefactor index {idx}")
            bw.write(idx, 6)
    for s in range(12):  # sample s of every allocated subband, in subband order
        for sb in range(32):
            nb = alloc_bits[sb]
            if nb:
                c = codes[sb][s]
                if not 0 <= c < (1 << nb):
                    raise ValueError(f"subband {sb} sample {s}: code {c} exceeds {nb} bits")
                bw.write(c, nb)
    bw.align()
    body = bytes(bw.out)
    frame_len = n_slots * 4
    if 4 + len(body) > frame_len:
        raise ValueError(
            f"frame data {4 + len(body)}B exceeds the {frame_len}B frame at "
            f"{bitrate_kbps} kbps / {sample_rate} Hz"
        )
    return header.to_bytes(4, "big") + body + b"\x00" * (frame_len - 4 - len(body))


def decode_mpeg1_layer1(payload: bytes) -> dict:
    """Parse + requantize one single-channel Layer I frame from bytes.

    Returns ``{sample_rate, bitrate_kbps, frame_bytes, alloc, sf_idx,
    codes, subband}`` where ``subband[sb]`` is the list of 12
    requantized amplitudes of each allocated subband.  Strict: bad
    syncword, wrong layer, forbidden bitrate/fs/allocation/scalefactor
    codes, non-single-channel mode (documented profile) and truncated
    frames all raise ``ValueError``.
    """
    if len(payload) < 4:
        raise ValueError("truncated MPEG frame (no header)")
    h = int.from_bytes(payload[:4], "big")
    if h >> 20 != _SYNC:
        raise ValueError(f"bad syncword 0x{h >> 20:03x}")
    if not (h >> 19) & 1:
        raise ValueError("not MPEG-1 (ID bit 0)")
    if (h >> 17) & 0b11 != _LAYER1:
        raise ValueError(f"not Layer I (layer code {(h >> 17) & 0b11:#04b})")
    protected = not ((h >> 16) & 1)
    br_idx = (h >> 12) & 0xF
    if br_idx in (0, 15):
        raise ValueError(f"bitrate index {br_idx} (free/forbidden) unsupported")
    fs_idx = (h >> 10) & 0b11
    if fs_idx == 3:
        raise ValueError("reserved sampling-frequency index 3")
    padding = (h >> 9) & 1
    mode = (h >> 6) & 0b11
    if mode != _MODE_SINGLE:
        raise ValueError(f"only single_channel supported (mode {mode:#04b})")
    bitrate = LAYER1_BITRATES[br_idx]
    fs = SAMPLE_RATES[fs_idx]
    frame_len = (12 * bitrate * 1000 // fs + padding) * 4
    if len(payload) < frame_len:
        raise ValueError(f"truncated frame: {len(payload)}B < {frame_len}B")
    br = _BitReader(payload, pos=4)
    if protected:
        br.read(16)  # CRC-16 over the side info; presence parsed, not checked
    alloc: list[int] = []
    for sb in range(32):
        a = br.read(4)
        if a == 15:
            raise ValueError(f"forbidden allocation code 15 in subband {sb}")
        alloc.append(0 if a == 0 else a + 1)
    sf_idx: dict[int, int] = {}
    for sb in range(32):
        if alloc[sb]:
            idx = br.read(6)
            if idx == 63:
                raise ValueError(f"forbidden scalefactor index 63 in subband {sb}")
            sf_idx[sb] = idx
    codes: dict[int, list[int]] = {sb: [] for sb in range(32) if alloc[sb]}
    for _s in range(12):
        for sb in range(32):
            if alloc[sb]:
                codes[sb].append(br.read(alloc[sb]))
    if br.byte + (1 if br.bit else 0) > frame_len:
        raise ValueError("frame data overruns the declared frame length")
    subband = {
        sb: [dequantize(c, alloc[sb], scalefactor(sf_idx[sb])) for c in codes[sb]]
        for sb in codes
    }
    return {
        "sample_rate": fs,
        "bitrate_kbps": bitrate,
        "frame_bytes": frame_len,
        "alloc": alloc,
        "sf_idx": sf_idx,
        "codes": codes,
        "subband": subband,
    }


def decode_mpeg(payload: bytes) -> list[float]:
    """Feature wrapper for the multimodal tier (REAL_CODECS entry):
    ``[sample_rate, bitrate_kbps, n_allocated_subbands,
    s(first subband sample 0), s(last subband sample 0),
    sum of all quantized codes]`` — the amplitudes are emitted as RAW
    doubles, no rounding: the oracle evaluates the literally identical
    IEEE expression (exact-dyadic scalefactor/fraction terms, one
    inexact factor, same association), so both engines produce the
    same bits; the code sum is exact integer arithmetic."""
    d = decode_mpeg1_layer1(payload)
    allocated = [sb for sb in range(32) if d["alloc"][sb]]
    if not allocated:
        return [float(d["sample_rate"]), float(d["bitrate_kbps"]), 0.0, 0.0, 0.0, 0.0]
    first, last = allocated[0], allocated[-1]
    return [
        float(d["sample_rate"]),
        float(d["bitrate_kbps"]),
        float(len(allocated)),
        d["subband"][first][0],
        d["subband"][last][0],
        float(sum(sum(cs) for cs in d["codes"].values())),
    ]
