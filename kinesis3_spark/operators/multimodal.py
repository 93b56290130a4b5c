"""Multimodal column processing (SURVEY.md §2b ext): images / audio /
video as opaque `binary` payload columns with typed metadata, processed by
Arrow-batched `mapInPandas` operators.

Payloads use a deterministic RAW container format, so every stage
(feature extraction, frame sampling, hashing) runs on real numpy arrays and
is tested end-to-end. Real containers (JPEG/PNG/WAV/MP4) need codec
libraries this package does not depend on; `_decode_*` refuses them with a
ValueError naming the expected RAW magic (decode branches for optional
codec libraries are in git history). The Spark-side plumbing — schemas,
batch iteration, output shapes, partition sizing — is what a
codec-backed deployment would keep.

RAW container layouts (little-endian u32 header fields after a 4-byte magic):
  RAWI: magic 'RAWI' | width | height | channels | payload (w*h*c bytes)
  RAWA: magic 'RAWA' | sample_rate | n_samples | payload (int16 samples)
  RAWV: magic 'RAWV' | width | height | n_frames | payload (n*w*h bytes, gray)

Scale notes (100 TB of media):
  * Binary payloads dominate row size — keep
    `spark.sql.files.maxPartitionBytes` at its default 128 MB so a task
    holds only a few hundred images, and NEVER collect payload columns.
  * Each operator prunes to (id, payload) before the Python exchange, so
    Arrow transfers exactly the bytes the stage needs; metadata-only
    stages (n_bytes, checksum) stay JVM-side entirely.
  * Frame sampling EXPLODES row count; it repartitions afterward so
    downstream stages aren't skewed by per-video frame counts.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAGIC_I, _MAGIC_A, _MAGIC_V = b"RAWI", b"RAWA", b"RAWV"
AUDIO_WINDOWS = 65  # audio_fingerprint energy windows: 64 delta bits
AHASH_MAX_HAMMING = 3  # image near-dup radius: lossless under the 4-band split


# ----------------------------------------------------------------------
# Container encode/decode (RAW containers only)
# ----------------------------------------------------------------------

def encode_rawi(arr: np.ndarray) -> bytes:
    h, w, c = arr.shape
    return _MAGIC_I + struct.pack("<III", w, h, c) + arr.astype(np.uint8).tobytes()


def encode_rawa(samples: np.ndarray, sample_rate: int) -> bytes:
    return (
        _MAGIC_A
        + struct.pack("<II", sample_rate, len(samples))
        + samples.astype("<i2").tobytes()
    )


def encode_rawv(frames: np.ndarray) -> bytes:
    n, h, w = frames.shape
    return _MAGIC_V + struct.pack("<III", w, h, n) + frames.astype(np.uint8).tobytes()


def _not_raw(kind: str, magic: bytes, b: bytes) -> ValueError:
    return ValueError(
        f"{kind} payload is not a RAW container: expected magic {magic!r}, "
        f"got {bytes(b[:4])!r}"
    )


def _decode_image(b: bytes) -> np.ndarray:
    """RAWI payload → HxWxC uint8."""
    if b[:4] != _MAGIC_I:
        raise _not_raw("image", _MAGIC_I, b)
    w, h, c = struct.unpack("<III", b[4:16])
    return np.frombuffer(b, np.uint8, count=w * h * c, offset=16).reshape(h, w, c)


def _decode_audio(b: bytes) -> tuple[np.ndarray, int]:
    """RAWA payload → (int16 samples, sample rate)."""
    if b[:4] != _MAGIC_A:
        raise _not_raw("audio", _MAGIC_A, b)
    rate, n = struct.unpack("<II", b[4:12])
    return np.frombuffer(b, "<i2", count=n, offset=12), rate


def _decode_video(b: bytes) -> np.ndarray:
    """RAWV payload → NxHxW uint8 gray frames."""
    if b[:4] != _MAGIC_V:
        raise _not_raw("video", _MAGIC_V, b)
    w, h, n = struct.unpack("<III", b[4:16])
    return np.frombuffer(b, np.uint8, count=n * h * w, offset=16).reshape(n, h, w)


# ----------------------------------------------------------------------
# Operators
# ----------------------------------------------------------------------

def payload_stats(df: DataFrame) -> DataFrame:
    """Metadata-only integrity pass — stays entirely JVM-side (no decode,
    no Python): size + checksum per payload."""
    return df.select(
        F.col("media_id"),
        F.octet_length("data").cast("bigint").alias("n_bytes"),
        F.md5(F.col("data")).alias("payload_md5"),
    )


def image_features(df: DataFrame) -> DataFrame:
    """Decode + per-image features: dims, channel mean/std, brightness.
    `n_bytes` (raw payload size) rides along so a downstream integrity
    check can compare the container size against the decoded shape without
    re-reading the payload."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, b in zip(pdf["media_id"], pdf["data"]):
                b = bytes(b)
                a = _decode_image(b).astype(np.float64)
                out.append(
                    {
                        "media_id": mid,
                        "n_bytes": len(b),
                        "width": a.shape[1],
                        "height": a.shape[0],
                        "channels": a.shape[2],
                        "mean_px": round(float(a.mean()), 4),
                        "std_px": round(float(a.std()), 4),
                    }
                )
            yield pd.DataFrame(out)

    return df.select("media_id", "data").mapInPandas(
        run,
        schema="media_id long, n_bytes long, width int, height int, channels int, "
        "mean_px double, std_px double",
    )


def audio_features(df: DataFrame) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, b in zip(pdf["media_id"], pdf["data"]):
                samples, rate = _decode_audio(bytes(b))
                x = samples.astype(np.float64)
                out.append(
                    {
                        "media_id": mid,
                        "sample_rate": rate,
                        "duration_ms": int(len(x) * 1000 / rate),
                        "rms": round(float(np.sqrt(np.mean(x * x))), 4),
                    }
                )
            yield pd.DataFrame(out)

    return df.select("media_id", "data").mapInPandas(
        run, schema="media_id long, sample_rate int, duration_ms long, rms double"
    )


def sample_frames(df: DataFrame) -> DataFrame:
    """Video → one row per second frame (frame re-encoded as 1-channel
    RAWI). Repartitions the exploded output so per-video frame counts don't
    skew downstream stages."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, b in zip(pdf["media_id"], pdf["data"]):
                v = _decode_video(bytes(b))
                for i in range(0, v.shape[0], 2):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(encode_rawi(v[i][:, :, None]))
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "data": frames})

    out = df.select("media_id", "data").mapInPandas(
        run, schema="media_id long, frame_idx int, data binary"
    )
    return out.repartition("media_id", "frame_idx")


def image_ahash(df: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) per image, as 4 × 16-bit Hamming
    bands — the DCT-free tier of the pHash family every image pretraining
    corpus runs before (expensive) embedding dedup.

    Definition (integer-exact, so a SQL oracle can re-derive it): collapse
    channels by sum, partition the H×W plane into an 8×8 grid with floor
    boundaries (row group rg covers rows [floor(rg*H/8), floor((rg+1)*H/8)),
    same for columns), then
        bit[rg,cg] = 1  iff  cell_sum * (H*W) > total_sum * cell_npx
    — i.e. cell mean > global pixel mean, compared via cross-multiplied
    int64s so NO float division can diverge between engines (sums are
    ≤ 255·3·HW, far inside int64). Empty groups (H<8 or W<8) hash to 0.
    The 64 bits pack as bands[b] = Σ_cg bit[2b,cg]<<cg + bit[2b+1,cg]<<(cg+8)
    for b in 0..3 — 16-bit band values keep every downstream integer small
    (no signed-int64 bit-63 edge) and make banded candidate generation
    LOSSLESS for Hamming radius ≤ 3: two hashes ≤ 3 bits apart must agree
    on ≥ 1 of the 4 bands (pigeonhole), so an equi-join on (band, value)
    finds exactly the true near-dup set, not an approximation of it.

    One Arrow pass over (id, payload); the 8×8 cell loop is 64 bounded
    slices per image. At 100 TB the payload never leaves the executors —
    output is 1 row × ~40 bytes per image."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bands_out = [], []
            for mid, b in zip(pdf["media_id"], pdf["data"]):
                ids.append(mid)
                bands_out.append(_ahash_bands_of(bytes(b)))
            yield pd.DataFrame({"media_id": ids, "bands": bands_out})

    return df.select("media_id", "data").mapInPandas(
        run, schema="media_id long, bands array<int>"
    )


def _ahash_bands_of(payload: bytes) -> list[int]:
    """The aHash kernel of image_ahash as a pure function: RAWI/codec
    payload → 4 × 16-bit band values."""
    a = _decode_image(payload).astype(np.int64).sum(axis=2)
    h, w = a.shape
    rb = (np.arange(9) * h) // 8
    cb = (np.arange(9) * w) // 8
    ts, tp = int(a.sum()), h * w
    bands = [0, 0, 0, 0]
    for rg in range(8):
        r0, r1 = int(rb[rg]), int(rb[rg + 1])
        if r0 == r1:
            continue
        for cg in range(8):
            c0, c1 = int(cb[cg]), int(cb[cg + 1])
            if c0 == c1:
                continue
            cs = int(a[r0:r1, c0:c1].sum())
            if cs * tp > ts * (r1 - r0) * (c1 - c0):
                bands[rg // 2] += 1 << (cg + 8 * (rg % 2))
    return bands


def audio_fingerprint(df: DataFrame) -> DataFrame:
    """Chromaprint-style banded audio fingerprint per clip — the
    spectral-free integer tier (energy-delta sign bits): decode RAWA,
    partition the sample stream into AUDIO_WINDOWS (65) equal windows with
    floor boundaries (window k covers samples [floor(k*n/W),
    floor((k+1)*n/W)) — the image_ahash grid trick on the time axis),
    take per-window energy E[k] = Σ sample², and emit one bit per
    adjacent-window delta: bit[k] = 1 iff E[k+1] > E[k]. 65 windows →
    64 bits, packed as 8 bands × 8 bits (bands[b] = Σ_j bit[8b+j]<<j).

    Integer-exact end to end (energies are int64 sums of int16²; bits
    are pure comparisons), so a SQL oracle can re-derive it. 8 bands
    make banded candidate generation LOSSLESS for Hamming radius ≤ 7
    (pigeonhole) under banded_hamming_pairs. Real chromaprint replaces
    the energy windows with chroma-filtered spectral frames — that swap
    lives entirely inside this function; the banded-join consumer is
    unchanged. One Arrow pass; output is 1 row × ~70 bytes per clip.

    Overflow bound: per-window energy ≤ n_window_samples × 2³⁰ — safe
    to ~2³³ samples per window (≈ 10 days of 48 kHz audio per WINDOW)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bands_out = [], []
            for mid, b in zip(pdf["media_id"], pdf["data"]):
                samples, _rate = _decode_audio(bytes(b))
                n = len(samples)
                wb = (np.arange(AUDIO_WINDOWS + 1) * n) // AUDIO_WINDOWS
                cs = np.concatenate(
                    [[0], np.cumsum(samples.astype(np.int64) ** 2)]
                )
                e = cs[wb[1:]] - cs[wb[:-1]]
                bits = (e[1:] > e[:-1]).astype(np.int64)
                bands = [
                    int(sum(int(bits[8 * g + j]) << j for j in range(8)))
                    for g in range((AUDIO_WINDOWS - 1) // 8)
                ]
                ids.append(mid)
                bands_out.append(bands)
            yield pd.DataFrame({"media_id": ids, "bands": bands_out})

    return df.select("media_id", "data").mapInPandas(
        run, schema="media_id long, bands array<int>"
    )


def banded_hamming_pairs(
    hashes: DataFrame,
    max_hamming: int,
    n_bands: int,
    flip_superbands: int | None = None,
) -> DataFrame:
    """(media_id_a < media_id_b, hamming) for every pair within
    `max_hamming` bits under an `n_bands`-band Hamming-space encoding
    (`bands` array column) — the banded machinery of ahash_neardup_pairs
    generalized over band count (VERDICT r13 agenda #3): image aHash
    uses 4 × 16-bit bands (radius ≤ 3), the audio fingerprint 8 × 8-bit
    bands (radius ≤ 7).

    Plan shape (the MinHash-LSH discipline applied to Hamming space):
      1. IDENTICAL hashes pair by a plain equi-join on the band array —
         the overwhelmingly common exact-re-upload case never enters the
         banded join, so its cost is the true output size, not a blowup.
      2. DISTINCT hashes: explode n_bands (band, value) keys per hash →
         equi-join on (band, value) → distinct candidate hash pairs →
         exact Hamming via zip_with/bit_count (JVM built-ins) → join ids
         back. For max_hamming < n_bands this is EXACT (pigeonhole: two
         hashes ≤ max_hamming bits apart must agree on ≥ 1 band), so the
         brute-force all-pairs oracle and this banded plan provably
         agree.
    Never an all-pairs comparison; candidate volume per band bucket is
    |bucket|² over a 2^(64/n_bands) key space per band — at larger radii
    raise the band count, the same knob LSH tunes. The plan references
    `hashes` six times (two banded legs, two id joins, two identical-hash
    legs): pass a persisted/materialized relation or each reference
    re-derives the hashes from source (queries/multimodalq._phash_for
    does this).

    `flip_superbands=g` switches candidate generation to the two-level
    pigeonhole (OPTIMIZATION_r14: narrow band values bucket too
    coarsely — the 8-bit audio bands put 5k fingerprints into 256
    buckets per band, 1.2M candidate pairs at sf0.1): adjacent bands
    group into g superbands of 64/g bits; a pair within `max_hamming`
    bits has SOME superband within floor(max_hamming/g) ≤ 1 bit
    (pigeonhole), and a ≤1-bit superband match is caught by equi-joining
    one side's exact superband values against the other side's value
    XOR {0, each single bit} — still exact, still lossless, but keyed
    over the full 2^(64/g) superband space, so buckets shatter. Key
    rows per hash grow g·(64/g + 2)-fold; candidate volume drops by the
    bucket-shatter factor (measured 12.5x on the audio tier). Requires
    max_hamming < 2·g (the ≤1-bit guarantee) and g | n_bands."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"{n_bands}-band encoding is lossless only for Hamming radius "
            f"<= {n_bands - 1}; raise the band count for larger radii"
        )
    dist = hashes.select("bands").distinct()
    ham = F.aggregate(
        F.zip_with(
            F.col("ba"), F.col("bb"), lambda a, b: F.bit_count(a.bitwiseXOR(b))
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("int")
    if flip_superbands:
        g = flip_superbands
        if n_bands % g or max_hamming >= 2 * g:
            raise ValueError(
                "flip_superbands must divide n_bands and satisfy "
                "max_hamming < 2 * flip_superbands (the <=1-bit-per-"
                "superband pigeonhole)"
            )
        m = n_bands // g          # bands per superband
        w = 64 // n_bands         # bits per band
        # Band-width contract (ADVICE r14): packing assumes every band
        # value fits in w = 64/n_bands bits — a wider value would overlap
        # the adjacent band's lanes in the packed superband, and a 1-bit
        # band difference would no longer be a 1-bit flip of v (silently
        # dropped pairs). Current callers (8x8-bit audio, 4x16-bit image)
        # satisfy it by construction; this guard turns a future caller's
        # violation into a loud failure instead of missing duplicates.
        # Cost: w-bit range checks on the distinct-hash relation only.
        band_in_range = F.forall(
            "bands", lambda b: (b >= 0) & (b < F.lit(1 << w))
        )
        band_guard = F.assert_true(
            band_in_range,
            F.lit(
                f"flip_superbands={g} requires band values < 2^{w} "
                f"(= 64/n_bands bits); got a wider band — pack with more "
                f"bands or disable the flip path"
            ),
        )
        # assert_true yields NULL when the predicate holds, so this filter
        # keeps every valid row; `| lit(True)` would let BooleanSimplification
        # fold the assert away entirely.
        dist = dist.where(band_guard.isNull())
        sb_vals = F.array(
            *[
                sum(
                    (
                        F.element_at("bands", sb * m + j + 1).cast("long")
                        * F.lit(1 << (w * j))
                        for j in range(1, m)
                    ),
                    start=F.element_at("bands", sb * m + 1).cast("long"),
                )
                for sb in range(g)
            ]
        )
        plain = dist.select(
            "bands", F.posexplode(sb_vals).alias("sb", "v")
        )
        flips = F.array(F.lit(0), *[F.lit(1 << i) for i in range(w * m)])
        flipped = plain.select(
            "bands",
            "sb",
            F.explode(flips).alias("flip"),
            F.col("v"),
        ).select(
            "bands", "sb", F.col("v").bitwiseXOR(F.col("flip")).alias("v")
        )
        x, y = plain.alias("x"), flipped.alias("y")
        raw = x.join(
            y,
            (F.col("x.sb") == F.col("y.sb"))
            & (F.col("x.v") == F.col("y.v"))
            & (F.col("x.bands") < F.col("y.bands")),
        )
    else:
        keyed = dist.select(
            "bands", F.posexplode("bands").alias("band", "bv")
        )
        x, y = keyed.alias("x"), keyed.alias("y")
        raw = x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col("x.bands") < F.col("y.bands")),
        )
    cand = (
        raw.select(F.col("x.bands").alias("ba"), F.col("y.bands").alias("bb"))
        .distinct()
        .withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
    )
    ha = hashes.select(F.col("bands").alias("ba"), F.col("media_id").alias("ia"))
    hb = hashes.select(F.col("bands").alias("bb"), F.col("media_id").alias("ib"))
    cross = cand.join(ha, "ba").join(hb, "bb").select(
        F.least("ia", "ib").alias("media_id_a"),
        F.greatest("ia", "ib").alias("media_id_b"),
        "hamming",
    )
    same = (
        hashes.alias("p")
        .join(
            hashes.alias("q"),
            (F.col("p.bands") == F.col("q.bands"))
            & (F.col("p.media_id") < F.col("q.media_id")),
        )
        .select(
            F.col("p.media_id").alias("media_id_a"),
            F.col("q.media_id").alias("media_id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(same)


def ahash_neardup_pairs(hashes: DataFrame) -> DataFrame:
    """Image-aHash near-dup pairs within ``AHASH_MAX_HAMMING`` bits:
    banded_hamming_pairs under the 4 × 16-bit band encoding of
    image_ahash (lossless for radius ≤ 3)."""
    return banded_hamming_pairs(hashes, AHASH_MAX_HAMMING, n_bands=4)


def banded_hamming_matches(
    probe: DataFrame, history: DataFrame, max_hamming: int, n_bands: int
) -> DataFrame:
    """Distinct probe `media_id`s whose hash lies within `max_hamming`
    bits of AT LEAST ONE history hash — the cross-relation (probe vs
    static history) form of banded_hamming_pairs, the primitive behind
    ingest-time admission gates (round 14): admit a new item iff this
    returns no row for it.

    Same two-leg shape, same losslessness: identical hashes match by a
    plain left-semi equi-join on the band array (the dominant exact
    re-upload case never enters the banded join); distinct hashes meet
    only inside a (band, value) bucket, exact Hamming via
    zip_with/bit_count over DISTINCT (probe-hash, history-hash) pairs,
    matched hash values semi-joined back to probe ids. Pigeonhole makes
    the candidate generation exact for max_hamming < n_bands regardless
    of which relation each hash came from. History appears as values
    only — ids are never needed — so pass its distinct-hash projection
    once (persisted) and every micro-batch pays |batch| + |buckets hit|,
    never |batch| × |history|."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"{n_bands}-band encoding is lossless only for Hamming radius "
            f"<= {n_bands - 1}; raise the band count for larger radii"
        )
    hdist = history.select("bands").distinct()
    exact = probe.join(hdist, "bands", "left_semi").select("media_id")
    pk = (
        probe.select("bands").distinct()
        .select("bands", F.posexplode("bands").alias("band", "bv"))
    )
    hk = hdist.select(
        F.col("bands").alias("hbands"),
        F.posexplode("bands").alias("band", "bv"),
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("bands"), F.col("hbands"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("int")
    near_hashes = (
        pk.join(
            hk,
            (pk["band"] == hk["band"])
            & (pk["bv"] == hk["bv"])
            & (pk["bands"] != hk["hbands"]),
        )
        .select(pk["bands"], hk["hbands"])
        .distinct()
        .where(ham <= max_hamming)
        .select("bands")
        .distinct()
    )
    near = probe.join(near_hashes, "bands", "left_semi").select("media_id")
    return exact.unionByName(near).distinct()
