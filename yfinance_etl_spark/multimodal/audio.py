"""Audio columns — REAL RIFF/WAVE payloads, decoded distributed (r7).

Completes the multimodal trio (image: columns.py, video: frame_sample,
audio: here). Unlike the image path — where real decode needs an optional
lib for everything but PNG — audio needs nothing beyond the stdlib:
16-bit PCM WAV is a struct-packable container, so the engine both
SYNTHESIZES genuinely valid WAV bytes (validated against Python's stdlib
``wave`` reader in tests) and PARSES them back with a real RIFF chunk
walker. No fake format anywhere on this path.

Determinism contract (what lets DuckDB replay it without a WAV parser):
sample i of doc d is ``((d*31 + i*17) % 65536) - 32768`` and the sample
count is ``N_BASE + d % N_MOD`` — so every feature the parser extracts
from the real bytes (rate, count, duration, RMS, peak) is reproducible
by pure arithmetic over generate_series. The oracle recomputes the
features from the FORMULA while Spark recomputes them from the BYTES;
agreement proves the encode→decode loop is lossless.

Scale shape: synthesis and decode are both ``mapInPandas`` over Arrow
batches — map-only, no shuffle; a billion clips parse across executors
with per-row cost linear in clip length. RMS accumulates in int64
(max |s| < 2¹⁵ → Σs² < 2³¹·n, exact far beyond any real clip length), so
the float division/sqrt at the end is the only — and bit-stable — FP step.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from yfinance_etl_spark.operators.partitioning import spread

SAMPLE_RATE = 8000
N_BASE, N_MOD = 160, 320  # clip length: N_BASE + doc_id % N_MOD samples

AUDIO_ASSET_SCHEMA = (
    "doc_id bigint, content binary, "
    "meta struct<kind: string, sample_rate: int, mime: string>"
)

AUDIO_FEATURES_SCHEMA = (
    "doc_id bigint, sample_rate int, n_channels int, n_samples bigint, "
    "duration_ms bigint, rms double, peak int"
)


def _samples(doc_id: int) -> list[int]:
    n = N_BASE + doc_id % N_MOD
    return [((doc_id * 31 + i * 17) % 65536) - 32768 for i in range(n)]


def wav_bytes(samples: list[int], rate: int = SAMPLE_RATE, channels: int = 1) -> bytes:
    """Pack int16 samples (interleaved if multi-channel) into a canonical
    44-byte-header PCM WAV."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16,
        1,  # PCM
        channels,
        rate,
        rate * 2 * channels,  # byte rate (16-bit)
        2 * channels,  # block align
        16,  # bits per sample
        b"data", len(data),
    )
    return hdr + data


def parse_wav(b: bytes) -> tuple[int, int, list[int]]:
    """Real RIFF chunk walker → (sample_rate, n_channels, samples).

    Walks chunks rather than assuming the canonical 44-byte layout, so
    WAVs with extra chunks (LIST/INFO metadata etc.) parse too. 16-bit
    PCM only — the schema every ASR/TTS corpus normalizes to; anything
    else raises rather than guessing.
    """
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE payload")
    rate = channels = bits = None
    data = None
    pos = 12
    while pos + 8 <= len(b):
        tag, length = b[pos : pos + 4], struct.unpack("<I", b[pos + 4 : pos + 8])[0]
        body = b[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # chunks are word-aligned
        if tag == b"fmt ":
            if len(body) < 16:
                raise NotImplementedError(f"WAV fmt chunk truncated ({len(body)} bytes)")
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt != 1 or bits != 16:
                raise NotImplementedError(
                    f"only 16-bit PCM WAV is supported (fmt={fmt}, bits={bits})"
                )
            if channels < 1:
                raise NotImplementedError("WAV fmt declares zero channels")
        elif tag == b"data":
            data = body
    if rate is None or data is None:
        raise NotImplementedError("WAV missing fmt or data chunk")
    return rate, channels, list(struct.unpack(f"<{len(data) // 2}h", data))


def synthesize_audio_assets(docs: DataFrame) -> DataFrame:
    """One deterministic real-WAV clip per document row (map-only)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (
                    int(d),
                    wav_bytes(_samples(int(d))),
                    ("audio", SAMPLE_RATE, "audio/wav"),
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "content", "meta"])

    return spread(docs.select("doc_id"), python=True).mapInPandas(
        synth, AUDIO_ASSET_SCHEMA
    )


#: fingerprint geometry: 65 equal-ish time frames -> 64 adjacent energy
#: comparisons, packed as two 32-bit words (bit j: hi for j<32, else lo)
FP_FRAMES = 65

AUDIO_FP_SCHEMA = "doc_id bigint, dhash_hi bigint, dhash_lo bigint"


def _fp_samples(doc_id: int) -> list[int]:
    """Deterministic md5-noise samples for the fingerprint-dedup corpus:
    sample i of scene ``base`` is md5 hex chars [4*(i%8), 4*(i%8)+4) of
    '<base>:<i//8>' recentred to int16 — one digest covers EIGHT
    samples (batched-digest noise, the video-fixture discipline; 8×
    fewer md5 calls than the r15 per-sample form). Docs with
    doc_id % 9 == 5 REPLAY doc_id-1's scene with frame 0 DC-shifted
    (+8000 mod-wrapped) — the planted near-dup, at most ONE energy
    comparison away. md5 noise, not the sawtooth ``_samples`` formula:
    structured waveforms give every frame the same energy and collapse
    all fingerprints together (the image-dHash gradient lesson,
    multimodal/columns.py)."""
    import hashlib

    base = doc_id - 1 if doc_id % 9 == 5 else doc_id
    n = N_BASE + base % N_MOD
    out = []
    hx = ""
    for i in range(n):
        if i % 8 == 0:
            hx = hashlib.md5(f"{base}:{i // 8}".encode()).hexdigest()
        v = int(hx[4 * (i % 8) : 4 * (i % 8) + 4], 16) - 32768
        if doc_id % 9 == 5 and i * FP_FRAMES // n == 0:
            v = ((v + 8000 + 32768) % 65536) - 32768
        out.append(v)
    return out


def synthesize_audio_fp_assets(docs: DataFrame) -> DataFrame:
    """Real-WAV clips carrying the fingerprint-dedup corpus (same RIFF
    encoder as ``synthesize_audio_assets``; only the sample content
    differs — see ``_fp_samples``)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (
                    int(d),
                    wav_bytes(_fp_samples(int(d))),
                    ("audio", SAMPLE_RATE, "audio/wav"),
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "content", "meta"])

    return spread(docs.select("doc_id"), python=True).mapInPandas(
        synth, AUDIO_ASSET_SCHEMA
    )


def audio_fingerprint(assets: DataFrame) -> DataFrame:
    """Perceptual audio fingerprint — the signature stage of audio
    near-dup dedup, completing the modality symmetry the image dHash
    opened (r15): decode the REAL WAV bytes, bucket samples into
    ``FP_FRAMES`` floor-edge time frames, and emit one bit per adjacent
    frame-energy comparison (bit j = E(j+1) > E(j)) — the FFT-free core
    of the Haitsma-Kalker fingerprint family (energy-delta signs survive
    gain changes and re-encoding, which is the near-dup class an audio
    corpus needs collapsed; sub-band filtering would need an FFT the
    oracle could not replay). Energies are int64-exact sums of squares
    (|s| < 2^15, frames are short), so no float enters the signature.

    Output (doc_id, dhash_hi, dhash_lo) — deliberately the
    ``image_dhash`` contract, so ``dedup.dhash_neardup`` (8-band
    Hamming LSH + exact popcount verify, recall 1.0 at Hamming <= 7 by
    pigeonhole) composes UNCHANGED over audio signatures."""

    import numpy as np

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                _rate, _ch, samples = parse_wav(bytes(content))
                n = len(samples)
                if n < FP_FRAMES:
                    raise ValueError(
                        f"audio_fingerprint needs >= {FP_FRAMES} samples, "
                        f"doc {doc_id} has {n}"
                    )
                # vectorized frame energies, int64 exact (|s| < 2^15, so
                # s*s < 2^30 and frame sums stay far below 2^63)
                s = np.asarray(samples, dtype=np.int64)
                f = np.arange(n, dtype=np.int64) * FP_FRAMES // n
                energy = np.zeros(FP_FRAMES, dtype=np.int64)
                np.add.at(energy, f, s * s)
                bits = energy[1:] > energy[:-1]
                j = np.arange(FP_FRAMES - 1, dtype=np.int64)
                hi = int((bits[j < 32] * (1 << j[j < 32])).sum())
                lo = int((bits[j >= 32] * (1 << (j[j >= 32] - 32))).sum())
                rows.append((int(doc_id), hi, lo))
            yield pd.DataFrame(rows, columns=["doc_id", "dhash_hi", "dhash_lo"])

    return assets.select("doc_id", "content").mapInPandas(fp, AUDIO_FP_SCHEMA)


#: frame-sequence fingerprint geometry (r16 clipped-audio tier): a clip
#: is a sequence of fixed-length frames of ``SEQ_FRAME_SAMPLES`` samples;
#: within a frame, 65 floor-edge sub-blocks -> 64 adjacent energy
#: comparisons packed exactly like the whole-clip fingerprint — so each
#: FRAME carries a word in the image-dHash contract and the sequence
#: matches video's FRAME_DHASH_SCHEMA.
SEQ_SUBBLOCKS = FP_FRAMES  # 65 sub-blocks -> 64 bits, shared geometry
SEQ_FRAME_SAMPLES = 130  # 2 samples per sub-block
SEQ_N_BASE, SEQ_N_MOD = 4, 3  # frames per clip: SEQ_N_BASE + base % SEQ_N_MOD

AUDIO_SEQ_FP_SCHEMA = (
    "doc_id bigint, frame_idx int, dhash_hi bigint, dhash_lo bigint"
)


def _audio_seq_cls(doc_id: int) -> str:
    """Planted-duplicate class of a doc's clip in the frame-sequence
    corpus — the video fixture's class algebra (video.py::_video_cls)
    replayed over audio, because the dup taxonomy is the same:

    * ``rep``  (doc_id % 11 == 7): full aligned replica of doc_id-1 with
      frame 0's sub-block 0 DC-shifted — at most ONE energy comparison
      flips (offset-0 vote).
    * ``clip`` (doc_id % 13 == 9, % 11 ∉ {7, 9}): frames 1..n-1 of
      doc_id-2, bit-identical — the CLIPPED re-upload (intro trimmed)
      the whole-clip fingerprint is blind to; votes offset −1. The %11
      guard keeps the source clip class-free by modular arithmetic.
    * ``share`` (doc_id % 17 == 11, % 11 ∉ {7, 10}, % 13 ∉ {9, 12},
      ≥ 3): frame 0 only carries doc_id-3's frame-0 sample formula —
      the shared-jingle pair the fraction rule must REJECT.
    * ``plain`` otherwise.
    """
    if doc_id % 11 == 7:
        return "rep"
    if doc_id % 13 == 9 and doc_id % 11 not in (7, 9):
        return "clip"
    if (
        doc_id % 17 == 11
        and doc_id % 11 not in (7, 10)
        and doc_id % 13 not in (9, 12)
        and doc_id >= 3
    ):
        return "share"
    return "plain"


def _seq_subblock_samples(src: int, k: int, j: int) -> tuple[int, int]:
    """The two int16 samples of sub-block ``j`` of frame ``k`` of source
    scene ``src`` — one md5 digest covers BOTH (batched-digest noise,
    the video-fixture discipline): hex chars 1-4 and 5-8 of
    md5('<src>:<k>:<j>'), each recentred to int16."""
    import hashlib

    hx = hashlib.md5(f"{src}:{k}:{j}".encode()).hexdigest()
    return (
        int(hx[:4], 16) - 32768,
        int(hx[4:8], 16) - 32768,
    )


def synthesize_audio_seq_assets(docs: DataFrame) -> DataFrame:
    """Real-WAV clips for the CLIPPED-audio dedup corpus: each clip is
    ``SEQ_N_BASE + base % SEQ_N_MOD`` frames of ``SEQ_FRAME_SAMPLES``
    md5-noise samples (minus the dropped intro frame for ``clip`` docs),
    packed through the same RIFF encoder as every other audio fixture.
    Duplicate classes per :func:`_audio_seq_cls`; the DC shift on a
    ``rep``'s frame 0 wraps both samples of sub-block 0 by +8000
    (mod-int16), moving exactly one sub-block energy."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                doc_id = int(d)
                cls = _audio_seq_cls(doc_id)
                base = (
                    doc_id - 1 if cls == "rep"
                    else doc_id - 2 if cls == "clip"
                    else doc_id
                )
                n_frames = (SEQ_N_BASE + base % SEQ_N_MOD) - (
                    1 if cls == "clip" else 0
                )
                samples: list[int] = []
                for k in range(n_frames):
                    src = doc_id - 3 if cls == "share" and k == 0 else base
                    ks = 0 if cls == "share" and k == 0 else (
                        k + 1 if cls == "clip" else k
                    )
                    for j in range(SEQ_SUBBLOCKS):
                        v0, v1 = _seq_subblock_samples(src, ks, j)
                        if cls == "rep" and k == 0 and j == 0:
                            v0 = ((v0 + 8000 + 32768) % 65536) - 32768
                            v1 = ((v1 + 8000 + 32768) % 65536) - 32768
                        samples.append(v0)
                        samples.append(v1)
                rows.append(
                    (
                        doc_id,
                        wav_bytes(samples),
                        ("audio", SAMPLE_RATE, "audio/wav"),
                    )
                )
            yield pd.DataFrame(rows, columns=["doc_id", "content", "meta"])

    return spread(docs.select("doc_id")).mapInPandas(synth, AUDIO_ASSET_SCHEMA)


def audio_frame_fingerprint(
    assets: DataFrame, frame_samples: int = SEQ_FRAME_SAMPLES
) -> DataFrame:
    """Frame-SEQUENCE audio fingerprint (r16) — the clipped-audio analog
    of video's per-frame signature: decode the REAL WAV bytes, cut the
    sample stream into fixed-length frames of ``frame_samples``, and
    fingerprint EACH frame with the whole-clip geometry (65 floor-edge
    sub-blocks → 64 adjacent-energy bits → the image-dHash word pair).
    This is the Haitsma-Kalker sub-fingerprint stream proper: the
    whole-clip form (``audio_fingerprint``) re-anchors its frame grid at
    sample 0, so ANY leading trim scrambles every bit; a fixed frame
    length keeps post-trim frames bit-identical and turns clip detection
    into sequence alignment.

    Output matches ``video.FRAME_DHASH_SCHEMA`` (doc_id, frame_idx,
    dhash_hi, dhash_lo) — so ``video.video_neardup_offset`` (16-bit seed
    bands → offset vote → verify-at-offset → fraction rule), which is
    generic over ANY per-frame signature sequence, composes UNCHANGED
    over audio. A trailing partial frame is dropped (a real clip is not
    frame-aligned; sub-fingerprints need full frames — documented
    contract, the oracle replays it). Energies are int64-exact; no float
    enters the signature."""

    import numpy as np

    nsub = SEQ_SUBBLOCKS

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                _rate, _ch, samples = parse_wav(bytes(content))
                nf = len(samples) // frame_samples
                if nf == 0:
                    continue  # shorter than one frame: no sub-fingerprint
                s = np.asarray(
                    samples[: nf * frame_samples], dtype=np.int64
                ).reshape(nf, frame_samples)
                # floor-edge sub-block index within a frame (the shared
                # grid convention: i * nsub // frame_samples); scatter-add
                # sample squares into (frame, sub-block) energies in ONE
                # ufunc call (np.add.at indexes the leading axis, so work
                # transposed)
                sub = np.arange(frame_samples, dtype=np.int64) * nsub // frame_samples
                energy_t = np.zeros((nsub, nf), dtype=np.int64)
                np.add.at(energy_t, sub, (s * s).T)
                energy = energy_t.T
                bits = energy[:, 1:] > energy[:, :-1]
                j = np.arange(nsub - 1, dtype=np.int64)
                # np.where evaluates BOTH branches: clamp the shift so the
                # discarded branch never shifts past the int64 sign bit
                w_hi = np.where(j < 32, np.int64(1) << np.minimum(j, 31), np.int64(0))
                w_lo = np.where(j >= 32, np.int64(1) << np.maximum(j - 32, 0), np.int64(0))
                hi = (bits * w_hi).sum(axis=1)
                lo = (bits * w_lo).sum(axis=1)
                for k in range(nf):
                    rows.append((int(doc_id), k, int(hi[k]), int(lo[k])))
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "dhash_hi", "dhash_lo"]
            )

    return assets.select("doc_id", "content").mapInPandas(
        fp, AUDIO_SEQ_FP_SCHEMA
    )


def audio_features(assets: DataFrame) -> DataFrame:
    """Decode + feature-extract: rate, channel count, per-channel frame
    count, duration, RMS (int64-exact sum of squares, taken over ALL
    interleaved samples — the standard cross-channel energy mean), peak
    amplitude.

    r9 fix (ADVICE): ``n_samples`` and ``duration_ms`` are per-channel
    FRAMES (interleaved count / channels) — a stereo clip previously
    reported 2x its true duration because interleaved samples were
    counted as frames."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                rate, channels, samples = parse_wav(bytes(content))
                n = len(samples)
                frames = n // channels
                sq = sum(s * s for s in samples)  # exact in int64
                rows.append(
                    (
                        int(doc_id),
                        rate,
                        channels,
                        frames,
                        frames * 1000 // rate,
                        # math.sqrt, not **0.5: sqrt is IEEE correctly
                        # rounded, pow(x, 0.5) need not be — the oracle's
                        # SQRT must match bit-for-bit
                        math.sqrt(sq / n) if n else 0.0,
                        max((abs(s) for s in samples), default=0),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_channels", "n_samples",
                    "duration_ms", "rms", "peak",
                ],
            )

    return assets.select("doc_id", "content").mapInPandas(
        extract, AUDIO_FEATURES_SCHEMA
    )
