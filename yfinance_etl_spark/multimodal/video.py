"""Video columns — frame-sequence payloads with REAL per-frame pixel
decode, and the temporal near-dup tier that completes the modality trio
(image: columns.py dHash, audio: audio.py energy fingerprint, video:
here). No codec library ships in this container, so the container format
is a minimal length-prefixed concatenation of REAL PNG frames::

    b"VID1" + u32 n_frames + n_frames * (u32 byte_len + png_bytes)

— an honest custom container (a deployment swaps the walker for a
pyav/ffmpeg adapter; the Spark plumbing, per-frame decode, and the
signature/dedup machinery below are unchanged), while the per-frame
pixel work is the same stdlib zlib inflate + scanline unfilter the image
path exercises.

Dedup model: a video's signature is its SEQUENCE of per-frame dHashes,
and TWO tiers consume it. ``video_neardup`` (aligned): candidates from
a band join keyed on (frame_idx, band_id, band_val) — two videos
collide only when the SAME temporal position shares a band — then
aligned frames within Hamming ≤ t are counted against ``min_frac`` of
the shorter video. ``video_neardup_offset`` (r16): drops frame_idx
from the candidate key (wider 16-bit seed bands keep the volume
density-bound), votes an alignment offset per candidate pair (mode of
frame_idx_b − frame_idx_a), and re-verifies the SAME fraction rule at
the voted offset — catching the trimmed/offset re-upload the aligned
tier is blind to, while a pair sharing one still frame still fails the
fraction. Re-encoded or lightly-retouched copies match on almost every
frame; one shared still never clears either tier.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from yfinance_etl_spark.operators.partitioning import spread
from pyspark.sql import functions as F

from yfinance_etl_spark.multimodal.columns import (
    DHASH_COLS,
    DHASH_ROWS,
    _decode_payload,
    _dhash_words,
    encode_png_gray,
)

VID_MAGIC = b"VID1"

VIDEO_ASSET_SCHEMA = (
    "doc_id bigint, content binary, "
    "meta struct<kind: string, n_frames: int, mime: string>"
)

FRAME_DHASH_SCHEMA = (
    "doc_id bigint, frame_idx int, dhash_hi bigint, dhash_lo bigint"
)


def pack_video(frames: list[bytes]) -> bytes:
    out = [VID_MAGIC, struct.pack("<I", len(frames))]
    for f in frames:
        out.append(struct.pack("<I", len(f)))
        out.append(f)
    return b"".join(out)


def unpack_video(b: bytes) -> list[bytes]:
    """Walk the container back to its frame payloads; raises on any
    malformation (truncated length, trailing garbage) rather than
    guessing — the decode ops downstream want real frames or an error."""
    if b[:4] != VID_MAGIC:
        raise NotImplementedError("not a VID1 frame-sequence payload")
    (n,) = struct.unpack("<I", b[4:8])
    pos, frames = 8, []
    for _ in range(n):
        if pos + 4 > len(b):
            raise NotImplementedError("VID1 frame table truncated")
        (ln,) = struct.unpack("<I", b[pos : pos + 4])
        pos += 4
        if pos + ln > len(b):
            raise NotImplementedError("VID1 frame payload truncated")
        frames.append(b[pos : pos + ln])
        pos += ln
    if pos != len(b):
        raise NotImplementedError("VID1 trailing bytes after last frame")
    return frames


def _video_cls(doc_id: int) -> str:
    """Planted-duplicate class of a doc's video (first match wins):

    * ``rep``   (doc_id % 11 == 7): full aligned replica of doc_id-1
      with frame 0's corner block brightened — the aligned-tier plant.
    * ``trim``  (doc_id % 13 == 9, %11 ∉ {7, 9}): frames 1..n-1 of
      doc_id-2, bit-identical — the TRIMMED re-upload the offset tier
      exists for (never collides aligned; offset −1). The %11 guard
      keeps the source video class-free by modular arithmetic.
    * ``share`` (doc_id % 17 == 11, %11 ∉ {7, 10}, %13 ∉ {9, 12},
      ≥ 3): frame 0 only carries doc_id-3's frame-0 pixel formula —
      the shared-single-still pair BOTH tiers must reject. Guards keep
      doc_id-3 plain (its content == its formula) by arithmetic.
    * ``plain`` otherwise.
    """
    if doc_id % 11 == 7:
        return "rep"
    if doc_id % 13 == 9 and doc_id % 11 not in (7, 9):
        return "trim"
    if (
        doc_id % 17 == 11
        and doc_id % 11 not in (7, 10)
        and doc_id % 13 not in (9, 12)
        and doc_id >= 3
    ):
        return "share"
    return "plain"


def synthesize_video_assets(docs: DataFrame) -> DataFrame:
    """Deterministic real-frame videos from the documents table. Base
    geometry for a source id ``s``: n_frames = 3 + s % 3, block dims
    bw, bh = 1 + s % 3, 1 + s % 2 (frame dims 9*bw x 8*bh), and

        frame k pixel(x, y) = byte (x mod 16) of md5('<s>:<k>:<y>:<x//16>')

    (one digest covers 16 horizontal pixels — batched-digest noise, 13×
    fewer md5 calls than the r15 per-pixel form; still hash-noise, so
    dHashes stay well-spread). Planted duplicate classes per
    :func:`_video_cls`: ``rep`` replays doc_id-1's frames with frame 0's
    corner block brightened +100 mod 256 (dHash moves ≤ 1 bit); ``trim``
    carries doc_id-2's frames 1..n-1 bit-identically (one fewer frame,
    offset −1); ``share`` swaps ONLY frame 0 for doc_id-3's frame-0
    formula (own dims for the rest — frames may differ in size inside
    one container; dHash is dimension-independent)."""
    import hashlib

    def fbytes(s: int, k: int, bw: int, bh: int, bright: bool) -> bytes:
        w, h = DHASH_COLS * bw, DHASH_ROWS * bh
        raw = bytearray()
        for y in range(h):
            row = b"".join(
                hashlib.md5(f"{s}:{k}:{y}:{xb}".encode()).digest()
                for xb in range((w + 15) // 16)
            )
            raw.extend(row[:w])
        if bright:
            for y in range(bh):
                for x in range(bw):
                    raw[y * w + x] = (raw[y * w + x] + 100) % 256
        return encode_png_gray(bytes(raw), w, h)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                cls = _video_cls(doc_id)
                base = doc_id - 1 if cls == "rep" else doc_id - 2 if cls == "trim" else doc_id
                n_frames = (3 + base % 3) - (1 if cls == "trim" else 0)
                bw, bh = 1 + base % 3, 1 + base % 2
                frames = []
                for k in range(n_frames):
                    if cls == "share" and k == 0:
                        s3 = doc_id - 3
                        frames.append(
                            fbytes(s3, 0, 1 + s3 % 3, 1 + s3 % 2, False)
                        )
                        continue
                    ks = k + 1 if cls == "trim" else k
                    frames.append(
                        fbytes(base, ks, bw, bh, cls == "rep" and k == 0)
                    )
                rows.append(
                    (
                        doc_id,
                        pack_video(frames),
                        ("video", n_frames, "video/x-frames"),
                    )
                )
            yield pd.DataFrame(rows, columns=["doc_id", "content", "meta"])

    return spread(docs.select("doc_id"), python=True).mapInPandas(
        gen, VIDEO_ASSET_SCHEMA
    )


def video_frame_dhash(assets: DataFrame) -> DataFrame:
    """Per-frame dHash signatures: walk the container, decode every
    frame's REAL pixels, hash with the shared ``_dhash_words`` core.
    Output (doc_id, frame_idx, dhash_hi, dhash_lo) — one row per frame,
    the exploded temporal signature ``video_neardup`` consumes."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                for k, fb in enumerate(unpack_video(bytes(content))):
                    w, h, body = _decode_payload(fb)
                    rows.append((int(doc_id), k, *_dhash_words(body, w, h)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "dhash_hi", "dhash_lo"]
            )

    return assets.select("doc_id", "content").mapInPandas(
        extract, FRAME_DHASH_SCHEMA
    )


def video_neardup(
    fsig: DataFrame,
    hamming_max: int = 7,
    min_frac: float = 0.5,
    checkpointed: bool = False,
) -> DataFrame:
    """Temporal near-dup over per-frame dHash signatures: band-join
    candidates keyed on (frame_idx, band_id, band_val) — alignment IS
    the key, so candidate volume follows true near-dup density per
    temporal position, never the video-pair (or frame-pair) square —
    then exact per-frame popcount verify, and a pair survives when at
    least ``min_frac`` of the SHORTER video's frames are within
    ``hamming_max``. Per aligned frame the pigeonhole guarantee of the
    8-band split holds (Hamming ≤ 7 ⇒ one clean band), so a qualifying
    frame is never missed — recall of the frame stage is 1.0 by
    construction, and the fraction rule on top is exact arithmetic.

    ``checkpointed=True`` asserts the caller already checkpointed
    ``fsig`` (the multimodal recipe shares one frame across both video
    tiers) — re-checkpointing a checkpoint is a redundant full copy job
    (r16). Returns (doc_a, doc_b, n_close_frames, n_frames_min)."""
    if not checkpointed:
        fsig = fsig.localCheckpoint(eager=True)
    nframes = fsig.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    bands = fsig.select(
        "doc_id",
        "frame_idx",
        "dhash_hi",
        "dhash_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(
                            F.col("dhash_hi" if b < 4 else "dhash_lo"),
                            8 * (b % 4),
                        )
                        .bitwiseAND(F.lit(255))
                        .alias("band_val"),
                    )
                    for b in range(8)
                ]
            )
        ).alias("bd"),
    ).select(
        "doc_id", "frame_idx", "dhash_hi", "dhash_lo",
        "bd.band_id", "bd.band_val",
    )
    a, b = bands.alias("a"), bands.alias("b")
    close = (
        a.join(
            b,
            (F.col("a.frame_idx") == F.col("b.frame_idx"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.frame_idx").alias("frame_idx"),
            (
                F.bit_count(F.col("a.dhash_hi").bitwiseXOR(F.col("b.dhash_hi")))
                + F.bit_count(F.col("a.dhash_lo").bitwiseXOR(F.col("b.dhash_lo")))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
        # a frame pair collides in up to 8 bands; count it once
        .distinct()
    )
    pairs = close.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_close_frames")
    )
    na = nframes.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("nfa"))
    nb = nframes.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nfb"))
    # no broadcast hint on the frame-count side: it is CORPUS-sized; the
    # pair frame is the tiny side and AQE picks the build side per run
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("n_frames_min", F.least("nfa", "nfb"))
        .filter(
            F.col("n_close_frames")
            >= F.ceil(F.lit(min_frac) * F.col("n_frames_min"))
        )
        .select("doc_a", "doc_b", "n_close_frames", "n_frames_min")
    )


def video_neardup_offset(
    fsig: DataFrame,
    hamming_max: int = 7,
    min_frac: float = 0.5,
    diag: dict | None = None,
    checkpointed: bool = False,
) -> DataFrame:
    """OFFSET-TOLERANT temporal near-dup (r16, closes r15 missing #4):
    the aligned tier requires ``a.frame_idx == b.frame_idx``, so a
    trimmed or offset re-upload — the most common video-dup class in a
    web corpus — never collides there. This tier drops frame alignment
    from the CANDIDATE key and recovers it by VOTE:

    1. SEED: band-join per-frame signatures on (band_id, band_val)
       only, using 4 × 16-bit bands (not the aligned tier's 8 × 8-bit:
       with no temporal key, an 8-bit band value collides at 1/256 per
       frame pair — a constant-factor frame-pair square; 16-bit bands
       push random collisions to 1/65536 so seed volume follows true
       near-dup frame density). Pigeonhole recall contract: an aligned
       frame pair within Hamming ≤ 3 is GUARANTEED to seed (4 bands);
       pairs at 4..7 seed probabilistically per frame — a real replica
       has many aligned close frames, so the pair-level miss shrinks
       geometrically (the fixture's planted replicas are bit-identical
       or 1 bit off: always seeded).
    2. VOTE: per (doc_a, doc_b), the alignment offset is the mode of
       (frame_idx_b − frame_idx_a) over seed frame pairs within
       ``hamming_max`` (tie → smallest offset, deterministic).
    3. VERIFY at the voted offset only: equi-join the signature frames
       on (doc, frame_idx + offset), exact popcount, then the aligned
       tier's fraction rule — ≥ ``min_frac`` of the SHORTER video's
       frames close. A pair sharing one still frame votes an offset
       with a single close frame and fails the fraction.

    Every stage is an equi join keyed by (band) or (doc, frame) — no
    Cartesian anywhere; the verify join volume is |voted pairs| ×
    overlap frames, not a square. Returns (doc_a, doc_b, offset,
    n_close_frames, n_frames_min).

    ``diag`` (optional) receives the stage cardinalities the 100 TB
    claim rests on (``n_seed_pairs``: distinct band-colliding frame
    pairs, ``n_voted_pairs``: candidate pairs entering verify) for the
    scale sweep / production monitoring. Requesting it localCheckpoints
    the seed and vote frames — eager Spark jobs at construction time,
    the quota_sample/kmeans eager-contract precedent.
    ``checkpointed=True``: see :func:`video_neardup`."""
    if not checkpointed:
        fsig = fsig.localCheckpoint(eager=True)
    nframes = fsig.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    bands = _offset_bands(fsig)
    a, b = bands.alias("a"), bands.alias("b")
    seeds = _offset_seeds(a, b, F.col("a.doc_id") < F.col("b.doc_id"), hamming_max)
    return _offset_vote_verify(seeds, fsig, nframes, hamming_max, min_frac, diag)


def _offset_bands(fsig: DataFrame) -> DataFrame:
    """The 4 × 16-bit seed-band explode over a per-frame signature frame
    — shared by the self-join and delta offset tiers."""
    return fsig.select(
        "doc_id",
        "frame_idx",
        "dhash_hi",
        "dhash_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(
                            F.col("dhash_hi" if b < 2 else "dhash_lo"),
                            16 * (b % 2),
                        )
                        .bitwiseAND(F.lit(65535))
                        .alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bd"),
    ).select(
        "doc_id", "frame_idx", "dhash_hi", "dhash_lo",
        "bd.band_id", "bd.band_val",
    )


def _offset_seeds(a: DataFrame, b: DataFrame, side_pred, hamming_max: int) -> DataFrame:
    """Seed join over two aliased band frames: band equi-key plus
    ``side_pred`` (doc ordering for the self form; nothing extra for
    the delta form, whose sides are already disjoint), popcount filter,
    one distinct vote per frame pair."""
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & side_pred,
        )
        .filter(
            F.bit_count(F.col("a.dhash_hi").bitwiseXOR(F.col("b.dhash_hi")))
            + F.bit_count(F.col("a.dhash_lo").bitwiseXOR(F.col("b.dhash_lo")))
            <= hamming_max
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.frame_idx").alias("ka"),
            F.col("b.frame_idx").alias("kb"),
        )
        # a frame pair collides in up to 4 bands; one vote each
        .distinct()
    )


def _offset_vote_verify(
    seeds: DataFrame,
    fsig: DataFrame,
    nframes: DataFrame,
    hamming_max: int,
    min_frac: float,
    diag: dict | None,
) -> DataFrame:
    """Stages 2-3 of the offset tier (vote → verify-at-offset →
    fraction rule), shared by the self-join and delta forms — the seed
    frame is the only stage that differs between them."""
    if diag is not None:
        seeds = seeds.localCheckpoint(eager=True)
        diag["n_seed_pairs"] = seeds.count()
    from pyspark.sql import Window

    wv = Window.partitionBy("doc_a", "doc_b").orderBy(
        F.desc("n_seed"), F.asc("offset")
    )
    votes = (
        seeds.groupBy(
            "doc_a", "doc_b", (F.col("kb") - F.col("ka")).alias("offset")
        )
        .agg(F.count(F.lit(1)).alias("n_seed"))
        .withColumn("__rn", F.row_number().over(wv))
        .filter("__rn = 1")
        .select("doc_a", "doc_b", "offset")
    )
    if diag is not None:
        votes = votes.localCheckpoint(eager=True)
        diag["n_voted_pairs"] = votes.count()
    sa = fsig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("frame_idx").alias("ka"),
        F.col("dhash_hi").alias("ahi"),
        F.col("dhash_lo").alias("alo"),
    )
    sb = fsig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("frame_idx").alias("kb"),
        F.col("dhash_hi").alias("bhi"),
        F.col("dhash_lo").alias("blo"),
    )
    verified = (
        votes.join(sa, "doc_a")
        .withColumn("kb", F.col("ka") + F.col("offset"))
        .join(sb, ["doc_b", "kb"])
        .filter(
            F.bit_count(F.col("ahi").bitwiseXOR(F.col("bhi")))
            + F.bit_count(F.col("alo").bitwiseXOR(F.col("blo")))
            <= hamming_max
        )
        .groupBy("doc_a", "doc_b", "offset")
        .agg(F.count(F.lit(1)).alias("n_close_frames"))
    )
    na = nframes.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("nfa"))
    nb = nframes.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nfb"))
    return (
        verified.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("n_frames_min", F.least("nfa", "nfb"))
        .filter(
            F.col("n_close_frames")
            >= F.ceil(F.lit(min_frac) * F.col("n_frames_min"))
        )
        .select("doc_a", "doc_b", "offset", "n_close_frames", "n_frames_min")
    )


def video_delta_neardup_offset(
    fsig: DataFrame,
    new_pred,
    hamming_max: int = 7,
    min_frac: float = 0.5,
    diag: dict | None = None,
) -> DataFrame:
    """Cross-snapshot OFFSET-TOLERANT sequence near-dup (r16 late) —
    the delta member of the offset family, closing the square: every
    modality now has a self-join AND a delta tier, and the sequence
    modalities (video frames, audio clip frames) get offset voting in
    BOTH. New-snapshot sequences band-join the corpus's per-frame
    signatures asymmetrically (the corpus never re-pairs with itself —
    its internal offset structure was resolved in previous runs), then
    the SAME vote → verify-at-offset → fraction tail as the self form.

    One-table split form (the ``minhash_delta_neardup_split`` /
    ``dedup_image_delta`` shape): both snapshots live in ``fsig`` and
    ``new_pred`` (a Column predicate over doc_id) marks the NEW side —
    signatures are per-frame, so filter-after == filter-before and the
    one checkpointed full-table signature frame serves the seed sides,
    the verify, AND the frame counts. A row where ``new_pred``
    evaluates NULL lands on the CORPUS side (coalesced — a missing
    snapshot marker must never drop a doc from the pass). In
    production ``fsig`` is the persisted per-frame signature parquet;
    an incremental run unions the delta's freshly-decoded frames.

    Returns (new_doc_id, corpus_doc_id, offset, n_close_frames,
    n_frames_min)."""
    new_pred = F.coalesce(new_pred, F.lit(False))
    fsig = fsig.localCheckpoint(eager=True)
    nframes = fsig.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    bands = _offset_bands(fsig)
    a = bands.filter(new_pred).alias("a")
    b = bands.filter(~new_pred).alias("b")
    seeds = _offset_seeds(a, b, F.lit(True), hamming_max)
    return _offset_vote_verify(
        seeds, fsig, nframes, hamming_max, min_frac, diag
    ).select(
        F.col("doc_a").alias("new_doc_id"),
        F.col("doc_b").alias("corpus_doc_id"),
        "offset",
        "n_close_frames",
        "n_frames_min",
    )
