"""Pure-python compressed AUDIO codec for the multimodal surface:
IMA ADPCM (DVI4, RIFF format tag 0x0011).

The r5/r6 codec gap said "MP3 needs torchaudio".  MP3 does — but
compressed audio as a class does not: IMA ADPCM is a real, widely
shipped compressed format (4:1 vs 16-bit PCM) whose codec is ~60 lines
of integer arithmetic: a 4-bit differential quantizer with an adaptive
step size walking the standard 89-entry table.  The stdlib ``wave``
module cannot read it (PCM only), so the RIFF container here is parsed
and written by hand: ``fmt `` with wFormatTag=0x11 + samples-per-block
extension, ``fact`` with the true sample count, block-aligned ``data``
where every block restarts the predictor from an EXACT int16 header
sample.

That exact block header gives the oracle a closed form: a CONSTANT
signal encoded with initial step index 0 roundtrips bit-exactly (the
header carries sample 0 verbatim; diff stays 0, the step stays at the
table floor where ``step >> 3 == 0``, so the predictor never drifts) —
q131 pins the full container+bitstream decode against pure arithmetic,
while the pytest tier measures real reconstruction error on non-
constant waveforms.

Reference parity: none (no media surface in fdf); SURVEY §2.11 N6.
Scale notes: decode runs per-asset inside Arrow-batched
``arrow_kernel`` (``multimodal.extract_features``), embarrassingly
parallel; payloads never enter a shuffle.
"""

from __future__ import annotations

import struct

#: standard IMA ADPCM step table (89 entries) and index-advance table
_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544,
    598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707,
    1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871,
    5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_INDEX_ADVANCE = [-1, -1, -1, -1, 2, 4, 6, 8]


def _clamp16(v: int) -> int:
    return max(-32768, min(32767, v))


def _encode_nibble(sample: int, predictor: int, index: int) -> tuple[int, int, int]:
    """Quantize one sample against the current (predictor, index) state;
    returns (nibble, new_predictor, new_index) with the predictor
    updated by the DECODER's reconstruction (spec requirement — both
    sides must track the same state)."""
    step = _STEPS[index]
    diff = sample - predictor
    nibble = 0
    if diff < 0:
        nibble = 8
        diff = -diff
    if diff >= step:
        nibble |= 4
        diff -= step
    if diff >= step >> 1:
        nibble |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        nibble |= 1
    predictor = _clamp16(predictor + _reconstruct_diff(nibble, step))
    index = max(0, min(88, index + _INDEX_ADVANCE[nibble & 7]))
    return nibble, predictor, index


def _reconstruct_diff(nibble: int, step: int) -> int:
    diffq = step >> 3
    if nibble & 4:
        diffq += step
    if nibble & 2:
        diffq += step >> 1
    if nibble & 1:
        diffq += step >> 2
    return -diffq if nibble & 8 else diffq


def encode_adpcm_wav(
    sample_rate: int, samples: list[int], samples_per_block: int = 505
) -> bytes:
    """Encode mono int16 samples as a REAL IMA-ADPCM WAV (tag 0x0011).

    ``samples_per_block`` must be odd (4-byte block header carries the
    first sample exactly; the remaining spb−1 samples pack two 4-bit
    nibbles per byte, low nibble first).  The final partial block is
    zero-padded; the ``fact`` chunk records the true sample count.
    """
    if samples_per_block % 2 == 0 or samples_per_block < 3:
        raise ValueError("samples_per_block must be odd and >= 3")
    block_align = 4 + (samples_per_block - 1) // 2
    n = len(samples)
    data = bytearray()
    i = 0
    index = 0  # carried ACROSS blocks (a per-block reset to 0 would
    # re-run the step-table attack transient every block; the header
    # records whatever the quantizer had adapted to)
    while i < n:
        block = samples[i : i + samples_per_block]
        predictor = _clamp16(int(block[0]))
        data += struct.pack("<hBB", predictor, index, 0)
        nibbles = []
        for s in block[1:]:
            nib, predictor, index = _encode_nibble(_clamp16(int(s)), predictor, index)
            nibbles.append(nib)
        nibbles += [0] * ((samples_per_block - 1) - len(nibbles))
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            data.append(lo | (hi << 4))
        i += samples_per_block
    avg_bps = sample_rate * block_align // samples_per_block
    fmt = struct.pack(
        "<HHIIHHHH", 0x0011, 1, sample_rate, avg_bps, block_align, 4, 2, samples_per_block
    )
    fact = struct.pack("<I", n)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(data)) + bytes(data)
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_adpcm_samples(payload: bytes) -> tuple[int, list[int]]:
    """Parse the RIFF container and decode the IMA-ADPCM bitstream.

    Returns (sample_rate, samples).  Rejects anything that is not a
    mono 4-bit tag-0x0011 stream with a ``fact`` chunk — loudly, not
    approximately.
    """
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    n_samples = None
    data = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", payload, pos + 4)
        chunk = payload[pos + 8 : pos + 8 + ln]
        if len(chunk) != ln:
            raise ValueError(f"truncated chunk {tag!r}")
        if tag == b"fmt ":
            fmt = chunk
        elif tag == b"fact":
            (n_samples,) = struct.unpack_from("<I", chunk, 0)
        elif tag == b"data":
            data = chunk
        pos += 8 + ln + (ln & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None or n_samples is None:
        raise ValueError("missing fmt/fact/data chunk")
    tag16, nch, sr, _avg, block_align, bits = struct.unpack_from("<HHIIHH", fmt, 0)
    if tag16 != 0x0011:
        raise ValueError(f"not IMA ADPCM (wFormatTag=0x{tag16:04X})")
    if nch != 1 or bits != 4:
        raise ValueError("only mono 4-bit IMA ADPCM supported")
    (cb,) = struct.unpack_from("<H", fmt, 16)
    if cb < 2:
        raise ValueError("missing samples-per-block extension")
    (spb,) = struct.unpack_from("<H", fmt, 18)
    out: list[int] = []
    for off in range(0, len(data), block_align):
        block = data[off : off + block_align]
        if len(block) < block_align:
            raise ValueError("truncated ADPCM block")
        predictor, index, _rsvd = struct.unpack_from("<hBB", block, 0)
        if index > 88:
            raise ValueError("step index out of range")
        out.append(predictor)
        for b in block[4:]:
            for nib in (b & 0xF, b >> 4):
                step = _STEPS[index]
                predictor = _clamp16(predictor + _reconstruct_diff(nib, step))
                index = max(0, min(88, index + _INDEX_ADVANCE[nib & 7]))
                out.append(predictor)
    if len(out) < n_samples:
        raise ValueError("decoded fewer samples than fact count")
    out = out[:n_samples]
    return sr, out


def audio_features(sr: int, n_channels: int, vals: list[int]) -> list[float]:
    """THE audio feature contract, shared by the WAV/ADPCM/FLAC
    adapters: [sample_rate, n_channels, n_frames, mean, peak_abs,
    mean_square] with exact integer accumulation (one definition so
    the three codecs can never silently diverge)."""
    n = max(len(vals), 1)
    return [
        float(sr),
        float(n_channels),
        float(len(vals)),
        sum(vals) / n,
        float(max((abs(v) for v in vals), default=0)),
        sum(v * v for v in vals) / n,
    ]


def decode_adpcm(payload: bytes) -> list[float]:
    """Feature-vector adapter (see :func:`audio_features`)."""
    sr, vals = decode_adpcm_samples(payload)
    return audio_features(sr, 1, vals)
