"""Multimodal operator tests: RAW container round-trips through the real
numpy stages (features, frame sampling, audio, perceptual hashes), and the
codec stub boundary raises cleanly for real container formats."""

from __future__ import annotations

import numpy as np
import pytest

from kinesis3_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    rng = np.random.RandomState(3)
    rows = []
    for i in range(4):
        img = rng.randint(0, 256, size=(12 + i, 10, 3), dtype=np.uint8)
        rows.append((i, bytearray(M.encode_rawi(img))))
    return spark.createDataFrame(rows, "media_id long, data binary")


def test_image_features(spark, media):
    out = {r.media_id: r for r in M.image_features(media).collect()}
    assert len(out) == 4
    assert out[0].width == 10 and out[0].height == 12 and out[0].channels == 3
    assert 0 <= out[0].mean_px <= 255


def test_frame_sampling(spark):
    frames = np.arange(5 * 6 * 4, dtype=np.uint8).reshape(5, 6, 4)
    df = spark.createDataFrame(
        [(1, bytearray(M.encode_rawv(frames)))], "media_id long, data binary"
    )
    out = M.sample_frames(df).collect()
    assert sorted(r.frame_idx for r in out) == [0, 2, 4]
    # sampled frames decode back to the original planes
    f0 = next(r for r in out if r.frame_idx == 2)
    assert M._decode_image(bytes(f0.data))[:, :, 0].tolist() == frames[2].tolist()


def test_audio_features(spark):
    rate = 8000
    t = np.arange(rate)  # 1 second
    samples = (1000 * np.sin(2 * np.pi * 440 * t / rate)).astype(np.int16)
    df = spark.createDataFrame(
        [(7, bytearray(M.encode_rawa(samples, rate)))], "media_id long, data binary"
    )
    r = M.audio_features(df).collect()[0]
    assert r.sample_rate == rate and r.duration_ms == 1000
    assert abs(r.rms - 1000 / np.sqrt(2)) < 5


def test_real_codec_gate_both_branches():
    """A RAW payload decodes; any other container is outside input and is
    refused with a ValueError that names the expected RAW magic, for all
    three decoders (image, audio, video)."""
    img = np.full((4, 6, 3), 77, np.uint8)
    assert (M._decode_image(M.encode_rawi(img)) == img).all()
    with pytest.raises(ValueError, match="RAWI"):
        M._decode_image(b"\xff\xd8\xff\xe0 jpeg bytes")
    samples, rate = M._decode_audio(M.encode_rawa(np.zeros(100, np.int16), 8000))
    assert rate == 8000 and len(samples) == 100
    with pytest.raises(ValueError, match="RAWA"):
        M._decode_audio(b"RIFF wav bytes")
    frames = np.zeros((2, 3, 5), np.uint8)
    assert M._decode_video(M.encode_rawv(frames)).shape == (2, 3, 5)
    with pytest.raises(ValueError, match="RAWV"):
        M._decode_video(b"\x00\x00\x00 ftypmp4 bytes")


# --------------------------------------------------------------------------
# Perceptual-hash dedup (round 13)
# --------------------------------------------------------------------------


def _img_df(spark, arrays):
    rows = [(i, bytearray(M.encode_rawi(a))) for i, a in enumerate(arrays)]
    return spark.createDataFrame(rows, "media_id long, data binary")


def test_ahash_planted_neardup_pair_found(spark):
    """Two near-identical images (a handful of perturbed pixels) must land
    within Hamming radius 3 and pair; an unrelated image must not."""
    rng = np.random.RandomState(7)
    base = rng.randint(0, 256, size=(32, 32, 1), dtype=np.uint8)
    near = base.copy()
    near[0, 0, 0] ^= 0x01  # tiny perturbation: block means barely move
    other = rng.randint(0, 256, size=(32, 32, 1), dtype=np.uint8)
    pairs = M.ahash_neardup_pairs(
        M.image_ahash(_img_df(spark, [base, near, other]))
    ).collect()
    got = {(r.media_id_a, r.media_id_b): r.hamming for r in pairs}
    assert (0, 1) in got and got[(0, 1)] <= 3
    assert all(2 not in k for k in got)


def test_ahash_identical_images_pair_at_zero_without_banded_join(spark):
    """Exact re-uploads pair via the identical-hash equi-join (hamming 0)."""
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(16, 16, 1), dtype=np.uint8)
    pairs = M.ahash_neardup_pairs(
        M.image_ahash(_img_df(spark, [img, img.copy(), img.copy()]))
    ).collect()
    got = {(r.media_id_a, r.media_id_b): r.hamming for r in pairs}
    assert got == {(0, 1): 0, (0, 2): 0, (1, 2): 0}


def test_ahash_banded_join_matches_bruteforce_at_radius3(spark):
    """Pigeonhole losslessness: over a corpus of random images plus planted
    perturbations, the banded plan emits exactly the pairs a brute-force
    Hamming scan over the hashes finds at radius <= 3."""
    rng = np.random.RandomState(23)
    arrays = [rng.randint(0, 256, size=(24, 24, 1), dtype=np.uint8) for _ in range(12)]
    for i in range(4):  # plant perturbed twins of the first four
        tw = arrays[i].copy()
        tw[i, i, 0] = (int(tw[i, i, 0]) + 3) % 256
        arrays.append(tw)
    hashes = M.image_ahash(_img_df(spark, arrays))
    rows = {r.media_id: r.bands for r in hashes.collect()}
    brute = set()
    for a in rows:
        for b in rows:
            if a < b:
                ham = sum(bin(x ^ y).count("1") for x, y in zip(rows[a], rows[b]))
                if ham <= 3:
                    brute.add((a, b, ham))
    got = {
        (r.media_id_a, r.media_id_b, r.hamming)
        for r in M.ahash_neardup_pairs(hashes).collect()
    }
    assert got == brute and len(brute) >= 4


def test_ahash_bits_integer_exact_contract(spark):
    """The hash must be reproducible from pure integer arithmetic on the
    pixel grid (the property the SQL oracle relies on): recompute one
    image's bands with an independent loop and compare."""
    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(13, 16, 1), dtype=np.uint8)
    [row] = M.image_ahash(_img_df(spark, [img])).collect()
    a = img.astype(np.int64).sum(axis=2)
    h, w = a.shape
    ts, tp = int(a.sum()), h * w
    want = [0, 0, 0, 0]
    for rg in range(8):
        r0, r1 = rg * h // 8, (rg + 1) * h // 8
        for cg in range(8):
            c0, c1 = cg * w // 8, (cg + 1) * w // 8
            if r1 > r0 and c1 > c0:
                cs = int(a[r0:r1, c0:c1].sum())
                if cs * tp > ts * (r1 - r0) * (c1 - c0):
                    want[rg // 2] += 1 << (cg + 8 * (rg % 2))
    assert list(row.bands) == want


def _aud_df(spark, sample_arrays, rate=8000):
    rows = [
        (i, bytearray(M.encode_rawa(np.asarray(a, np.int16), rate)))
        for i, a in enumerate(sample_arrays)
    ]
    return spark.createDataFrame(rows, "media_id long, data binary")


def test_audio_fingerprint_planted_perturbed_twin(spark):
    """A clip and a lightly perturbed twin (a few samples nudged — a
    couple of window energies change) must land within Hamming radius 7
    and pair; an unrelated clip must not."""
    rng = np.random.RandomState(11)
    base = rng.randint(-3000, 3000, size=650).astype(np.int16)
    twin = base.copy()
    twin[5:8] += 40        # perturb two-ish windows' energies
    twin[300:303] -= 40
    other = rng.randint(-3000, 3000, size=650).astype(np.int16)
    fps = M.audio_fingerprint(_aud_df(spark, [base, twin, other])).persist()
    pairs = {
        (r.media_id_a, r.media_id_b): r.hamming
        for r in M.banded_hamming_pairs(fps, max_hamming=7, n_bands=8).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] <= 7
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_audio_fingerprint_banded_join_matches_bruteforce(spark):
    """The 8-band candidate join is LOSSLESS at radius <= 7: compare
    against brute-force all-pairs Hamming on a batch of random clips."""
    rng = np.random.RandomState(13)
    clips = [
        rng.randint(-500, 500, size=rng.randint(64, 400)).astype(np.int16)
        for _ in range(24)
    ]
    # plant twins so the expected set is non-trivial
    clips.append(clips[0].copy())
    t = clips[3].copy(); t[10:12] += 25
    clips.append(t)
    fps = M.audio_fingerprint(_aud_df(spark, clips)).persist()
    rows = fps.collect()
    def ham(x, y):
        return sum(bin(a ^ b).count("1") for a, b in zip(x.bands, y.bands))
    brute = {
        (x.media_id, y.media_id): ham(x, y)
        for x in rows for y in rows
        if x.media_id < y.media_id and ham(x, y) <= 7
    }
    got = {
        (r.media_id_a, r.media_id_b): r.hamming
        for r in M.banded_hamming_pairs(fps, max_hamming=7, n_bands=8).collect()
    }
    assert got == brute and len(brute) >= 2


def test_audio_fingerprint_integer_exact_contract(spark):
    """The fingerprint must be reproducible from pure integer arithmetic
    over the sample windows (the property the SQL oracle relies on),
    including the empty-clip edge (all-zero bands)."""
    rng = np.random.RandomState(17)
    samples = rng.randint(-2000, 2000, size=337).astype(np.int16)
    [row, empty] = (
        M.audio_fingerprint(_aud_df(spark, [samples, np.zeros(0, np.int16)]))
        .orderBy("media_id")
        .collect()
    )
    n = len(samples)
    wb = [(k * n) // 65 for k in range(66)]
    e = [
        sum(int(v) ** 2 for v in samples[wb[k]:wb[k + 1]]) for k in range(65)
    ]
    bits = [1 if e[k + 1] > e[k] else 0 for k in range(64)]
    want = [
        sum(bits[8 * g + j] << j for j in range(8)) for g in range(8)
    ]
    assert list(row.bands) == want
    assert list(empty.bands) == [0] * 8


def test_banded_hamming_pairs_radius_guard():
    """Pigeonhole losslessness requires max_hamming < n_bands."""
    with pytest.raises(ValueError):
        M.banded_hamming_pairs(None, max_hamming=8, n_bands=8)


def _hash_df(spark, rows):
    # rows: (media_id, [b0, b1, b2, b3]) 16-bit band values
    return spark.createDataFrame(
        [(i, b) for i, b in rows], "media_id long, bands array<int>"
    )


def test_banded_hamming_matches_both_legs_and_admit(spark):
    """The admission primitive: identical hash matches via the exact
    equi-join leg, a radius-3 neighbor via the banded leg, an
    out-of-radius hash matches nothing (admitted)."""
    hist = _hash_df(spark, [(100, [7, 0, 0, 0]), (101, [0, 0, 255, 9])])
    probe = _hash_df(
        spark,
        [
            (1, [7, 0, 0, 0]),        # identical to 100 -> exact leg
            (2, [7, 1, 2, 0]),        # hamming 2 from 100 -> banded leg
            (3, [255, 255, 255, 255]),  # far from everything -> admitted
            (4, [0, 0, 255, 8]),      # hamming 1 from 101 -> banded leg
        ],
    )
    got = sorted(
        r["media_id"]
        for r in M.banded_hamming_matches(
            probe, hist, max_hamming=3, n_bands=4
        ).collect()
    )
    assert got == [1, 2, 4]


def test_banded_hamming_matches_radius_guard():
    with pytest.raises(ValueError):
        M.banded_hamming_matches(None, None, max_hamming=4, n_bands=4)
