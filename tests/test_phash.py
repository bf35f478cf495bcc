"""Perceptual-hash goldens + recall checks (round-7 verdict item 2c):
PIL-free — the PPM codec chain is vendored, so these run everywhere
(unlike test_multimodal_injection.py, which needs Pillow)."""

from __future__ import annotations

from pagerank_mapreduce_implementation_spark.operators import multimodal as mm
from pagerank_mapreduce_implementation_spark.util import release_result


def test_ppm_ahash_golden_gray_ramp():
    """Hand-computable golden for the average hash: an 8x8 gray ramp
    0..63 (r=g=b) has mean 31.5, so exactly bits 32..59 of the 60-bit
    hash are set — no resampling involved at grid size."""
    import numpy as np

    ramp = np.arange(64, dtype=np.uint8).reshape(8, 8)
    img = mm.ppm_encode(np.stack([ramp] * 3, axis=2))
    assert mm.ppm_ahash(img) == (1 << 60) - (1 << 32)


def test_ppm_ahash_matches_analytic_formula_through_resample():
    """The 16x16 test image is 2x2-constant cells, so the nearest-
    neighbor resample must read back exactly the 8x8 cell bytes: the
    hash equals the analytic mean-threshold over the md5 cell values —
    the same formula the driver oracle reconstructs in SQL."""
    import hashlib

    for doc_id in (0, 1, 5, 42):
        g, r = doc_id // 4, doc_id % 4
        v = []
        for j in range(64):
            byte = int(hashlib.md5(f"{g}:{j}".encode()).hexdigest()[:2], 16)
            v.append(255 - byte if 15 * r <= j < 15 * r + 4 else byte)
        mean = sum(v) / 64.0
        expected = sum(1 << j for j in range(60) if v[j] >= mean)
        assert mm.ppm_ahash(mm.phash_test_image(doc_id)) == expected


def test_phash_near_dups_finds_recompressed_copy(spark):
    """Behavioral recall check: a lightly-edited copy (one inverted
    cell) lands within a few Hamming bits of its original and is
    paired; an unrelated image is not."""
    import hashlib

    import numpy as np

    def img(seed, flip=None):
        cells = np.array(
            [
                int(hashlib.md5(f"{seed}:{j}".encode()).hexdigest()[:2], 16)
                for j in range(64)
            ],
            dtype=np.int64,
        )
        if flip is not None:
            cells[flip] = 255 - cells[flip]
        c8 = cells.reshape(8, 8).astype(np.uint8)
        px = np.repeat(np.repeat(c8, 2, axis=0), 2, axis=1)
        return mm.ppm_encode(np.stack([px] * 3, axis=2))

    blobs = spark.createDataFrame(
        [(1, img("x")), (2, img("x", flip=7)), (3, img("unrelated"))],
        "doc_id long, content binary",
    )
    out = mm.phash_near_dups(blobs, max_hamming=10)
    pairs = {(r.doc_a, r.doc_b) for r in out.collect()}
    release_result(out)
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def _cell_image(values, shift=0):
    """16x16 P6 from 64 cell bytes (2x2-constant cells), optionally
    brightness-shifted by a constant."""
    import numpy as np

    cells = (np.asarray(values, dtype=np.int64) + shift).clip(0, 255)
    c8 = cells.reshape(8, 8).astype(np.uint8)
    px = np.repeat(np.repeat(c8, 2, axis=0), 2, axis=1)
    return mm.ppm_encode(np.stack([px] * 3, axis=2))


def test_dcthash_invariant_under_brightness_shift():
    """The DCT hash's reason to exist: a uniform brightness shift lands
    entirely in the excluded DC coefficient, so the hash is IDENTICAL —
    while ahash's raw-gray thresholds are allowed to drift."""
    import hashlib

    vals = [
        int(hashlib.md5(f"dct:{j}".encode()).hexdigest()[:2], 16) % 180 + 20
        for j in range(64)
    ]  # grays in [20, 199]: a +40 shift never clips
    base, shifted = _cell_image(vals), _cell_image(vals, shift=40)
    assert mm.ppm_dcthash(base) == mm.ppm_dcthash(shifted)
    assert bin(mm.ppm_dcthash(base)).count("1") in range(20, 41)  # median-balanced


def test_dcthash_median_balance_and_discrimination():
    """~half the 60 bits set for any input (median threshold), and
    unrelated images land far apart in Hamming distance."""
    import hashlib

    def img(seed):
        return _cell_image(
            [
                int(hashlib.md5(f"{seed}:{j}".encode()).hexdigest()[:2], 16)
                for j in range(64)
            ]
        )

    h1, h2 = mm.ppm_dcthash(img("one")), mm.ppm_dcthash(img("two"))
    assert bin(h1 ^ h2).count("1") > 10
    for h in (h1, h2):
        assert 25 <= bin(h).count("1") <= 35


def test_dcthash_near_dup_recall_through_band_join(spark):
    """The injectable-hasher contract: phash_near_dups with the DCT
    hash finds a brightness-shifted copy at Hamming 0 (the exact case
    average-hash banding can lose) and keeps unrelated images apart."""
    import hashlib

    vals = [
        int(hashlib.md5(f"rec:{j}".encode()).hexdigest()[:2], 16) % 180 + 20
        for j in range(64)
    ]
    other = [
        int(hashlib.md5(f"zzz:{j}".encode()).hexdigest()[:2], 16)
        for j in range(64)
    ]
    blobs = spark.createDataFrame(
        [(1, _cell_image(vals)), (2, _cell_image(vals, shift=40)),
         (3, _cell_image(other))],
        "doc_id long, content binary",
    )
    out = mm.phash_near_dups(blobs, max_hamming=6, hasher=mm.ppm_dcthash)
    rows = {(r.doc_a, r.doc_b): r.hamming for r in out.collect()}
    release_result(out)
    assert rows.get((1, 2)) == 0
    assert (1, 3) not in rows and (2, 3) not in rows


def test_dcthash_parameter_validation():
    import pytest

    with pytest.raises(ValueError, match="AC coefficients"):
        mm.ppm_dcthash(mm.phash_test_image(0), keep=7)  # 48 < 60
    # round-8 advice: keep > grid passed the AC guard but silently
    # truncated the slice and IndexError'd inside the executor
    with pytest.raises(ValueError, match="exceeds grid"):
        mm.ppm_dcthash(mm.phash_test_image(0), grid=7, keep=8)


def test_dct_test_image_pair_invariance():
    """The image_dct_dups driver corpus: (2g, 2g+1) is base + uniform
    +40 shift, so the DCT hashes are identical while distinct groups
    land far apart — the property the registry oracle predicts."""
    for g in range(8):
        b, s = mm.dct_test_image(2 * g), mm.dct_test_image(2 * g + 1)
        assert mm.ppm_dcthash(b) == mm.ppm_dcthash(s)
    h0, h1 = (
        mm.ppm_dcthash(mm.dct_test_image(0)),
        mm.ppm_dcthash(mm.dct_test_image(2)),
    )
    assert bin(h0 ^ h1).count("1") > 10


def test_wav_test_clip_gain_group_invariance():
    """The audio_near_dups driver corpus: the 4 gain variants of one
    group fingerprint identically (energy deltas scale uniformly);
    distinct groups differ."""
    for g in range(4):
        fps = {
            mm.wav_fingerprint(mm.wav_encode(mm.wav_test_clip(4 * g + r)))
            for r in range(4)
        }
        assert len(fps) == 1
    a = mm.wav_fingerprint(mm.wav_encode(mm.wav_test_clip(0)))
    b = mm.wav_fingerprint(mm.wav_encode(mm.wav_test_clip(4)))
    assert a != b


def test_wav_fingerprint_gain_invariant():
    """The audio hash's reason to exist: amplitude scaling multiplies
    every frame energy by the same factor, so the delta signs — and
    the fingerprint — are identical at half gain."""
    import numpy as np

    sig = mm.wav_test_signal(7, base=256)
    half = (sig.astype(np.int64) // 2).astype("<i2")
    fp = mm.wav_fingerprint(mm.wav_encode(sig))
    assert fp == mm.wav_fingerprint(mm.wav_encode(half))
    assert 0 < bin(fp).count("1") < 60  # real deltas, not constant


def test_wav_fingerprint_discriminates_and_rejects_stubs():
    import numpy as np
    import pytest

    a = mm.wav_fingerprint(mm.wav_encode(mm.wav_test_signal(1, base=256)))
    b = mm.wav_fingerprint(mm.wav_encode(mm.wav_test_signal(900, base=256)))
    assert bin(a ^ b).count("1") > 8
    with pytest.raises(ValueError, match="fingerprint frames"):
        mm.wav_fingerprint(mm.wav_encode(np.zeros(10, dtype="<i2")))


def test_audio_near_dups_finds_regained_copy(spark):
    """End-to-end: a re-gained copy pairs at Hamming 0 through the
    shared band join; unrelated clips stay apart; the result is a
    releasable checkpoint, as in phash_near_dups."""
    import numpy as np

    sig = mm.wav_test_signal(7, base=256)
    half = (sig.astype(np.int64) // 2).astype("<i2")
    other = mm.wav_test_signal(901, base=256)
    blobs = spark.createDataFrame(
        [
            (1, mm.wav_encode(sig)),
            (2, mm.wav_encode(half)),
            (3, mm.wav_encode(other)),
        ],
        "doc_id long, content binary",
    )
    out = mm.audio_near_dups(blobs, max_hamming=6)
    rows = {(r.doc_a, r.doc_b): r.hamming for r in out.collect()}
    release_result(out)
    assert rows.get((1, 2)) == 0
    assert (1, 3) not in rows and (2, 3) not in rows


def _video(frame_ids, flip=None):
    """Packed container of test-image frames; optional per-frame cell
    inversion to make a 'different' frame."""
    frames = []
    for j, fid in enumerate(frame_ids):
        if flip is not None and j in flip:
            fid = fid + 1000  # a different deterministic frame
        frames.append(mm.phash_test_image(fid))
    return mm.frames_pack(frames)


def test_video_near_dups_shared_frames(spark):
    """Clips sharing frames pair with the exact shared-count; a trimmed
    re-container (subset of frames) still pairs; unrelated clips do
    not; min_shared gates weak overlaps."""
    v1 = _video([0, 4, 8, 12])
    v2 = _video([4, 8, 12, 16])       # shares 3 frames with v1
    v3 = _video([8, 100, 104, 108])   # shares 1 frame with v1/v2
    v4 = _video([200, 204, 208])      # unrelated
    blobs = spark.createDataFrame(
        [(1, v1), (2, v2), (3, v3), (4, v4)], "doc_id long, content binary"
    )
    pairs = {
        (r.doc_a, r.doc_b): r.shared_frames
        for r in mm.video_near_dups(blobs, min_shared=2).collect()
    }
    assert pairs == {(1, 2): 3}
    loose = {
        (r.doc_a, r.doc_b): r.shared_frames
        for r in mm.video_near_dups(blobs, min_shared=1).collect()
    }
    assert loose[(1, 2)] == 3 and loose[(1, 3)] == 1 and loose[(2, 3)] == 1
    assert not any(4 in p for p in loose)


def test_video_near_dups_stop_frame_cap(spark):
    """A ubiquitous frame (title card in every clip) pairs everything;
    the df cap drops it before pairing, keeping only genuine overlap."""
    title = 500
    blobs = spark.createDataFrame(
        [
            (1, _video([title, 0, 4])),
            (2, _video([title, 0, 8])),
            (3, _video([title, 100, 104])),
            (4, _video([title, 200, 204])),
        ],
        "doc_id long, content binary",
    )
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in mm.video_near_dups(blobs, min_shared=1).collect()
    }
    assert uncapped == {(a, b) for a in range(1, 5) for b in range(a + 1, 5)}
    capped = {
        (r.doc_a, r.doc_b): r.shared_frames
        for r in mm.video_near_dups(blobs, min_shared=1, max_frame_df=3).collect()
    }
    assert capped == {(1, 2): 1}  # only the real shared frame survives
    import pytest

    with pytest.raises(ValueError, match="min_shared"):
        mm.video_near_dups(blobs, min_shared=0)


def test_video_near_dups_materialize_contract(spark):
    """The result materializes (ONE demux+hash pass for both join sides
    — decode dominates for video) and releases."""
    def cached():
        return {
            int(i.id())
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    blobs = spark.createDataFrame(
        [(1, _video([0, 4, 8])), (2, _video([4, 8, 12])), (3, _video([100, 104, 108]))],
        "doc_id long, content binary",
    )
    before = cached()
    out = mm.video_near_dups(blobs, min_shared=1)
    assert (1, 2) in {(r.doc_a, r.doc_b) for r in out.collect()}
    assert cached() - before
    release_result(out)
    assert not cached() - before


def test_wav_fingerprint_matches_duckdb_oracle():
    """Cross-engine anchor (the audio_features oracle move): the
    fingerprint is pure integer arithmetic, so DuckDB can regenerate
    the deterministic test signals analytically and reproduce every
    bit — the oracle a future registry entry would use."""
    import duckdb

    bits, frames, base = 60, 61, 256
    sql = f"""
    WITH d AS (SELECT doc_id, {base} + doc_id % {base} AS n
               FROM range(0, 40) t(doc_id)),
    s AS (SELECT doc_id, n, list_transform(range(0, n),
               i -> (doc_id*31 + i*17) % 256 - 128) AS sm FROM d),
    e AS (SELECT doc_id, list_transform(range(0, {frames}),
               f -> list_sum(list_transform(
                   sm[(f*n)//{frames} + 1 : ((f+1)*n)//{frames}],
                   v -> v*v))) AS en FROM s)
    SELECT doc_id, list_sum(list_transform(range(0, {bits}),
        j -> CASE WHEN en[j+2] > en[j+1] THEN (1::BIGINT << j)
             ELSE 0 END))::BIGINT AS afp
    FROM e ORDER BY doc_id
    """
    oracle = dict(duckdb.connect().execute(sql).fetchall())
    for doc_id in range(40):
        got = mm.wav_fingerprint(
            mm.wav_encode(mm.wav_test_signal(doc_id, base=base))
        )
        assert got == oracle[doc_id], doc_id


def test_video_near_dups_matches_duckdb_oracle(spark):
    """Cross-engine anchor for the video op: clips built as 3 frames
    per doc with fid = doc_id + {0,1,2} (consecutive docs overlap in 2
    frames), the oracle regenerating every frame's average hash from
    the md5 cell formula (the image_phash_dups oracle's hash
    expression) and mirroring the distinct/self-join/pair-count."""
    import duckdb

    n_docs, fpd = 18, 3
    blobs = spark.createDataFrame(
        [
            (d, mm.frames_pack([mm.phash_test_image(d + k) for k in range(fpd)]))
            for d in range(n_docs)
        ],
        "doc_id long, content binary",
    )
    got = sorted(
        tuple(r)
        for r in mm.video_near_dups(blobs, min_shared=2).collect()
    )
    sql = f"""
    WITH docs AS (SELECT doc_id FROM range(0, {n_docs}) t(doc_id)),
    fr AS (SELECT doc_id, doc_id + k AS fid
           FROM docs, unnest(range(0, {fpd})) u(k)),
    cells AS (SELECT fid, j,
        CASE WHEN j >= 15*(fid % 4) AND j < 15*(fid % 4) + 4
        THEN 255 - (('0x' || substr(md5(CAST(fid // 4 AS VARCHAR)
             || ':' || CAST(j AS VARCHAR)), 1, 2))::INT)
        ELSE ('0x' || substr(md5(CAST(fid // 4 AS VARCHAR)
             || ':' || CAST(j AS VARCHAR)), 1, 2))::INT END AS v
        FROM (SELECT DISTINCT fid FROM fr), unnest(range(0, 64)) u(j)),
    m AS (SELECT fid, CAST(sum(v) AS DOUBLE)/64.0 AS mean
          FROM cells GROUP BY fid),
    fp AS (SELECT c.fid, sum(CASE WHEN c.j < 60 AND c.v >= m.mean
           THEN (1::BIGINT << CAST(c.j AS INT)) ELSE 0 END) AS fhash
           FROM cells c JOIN m ON c.fid = m.fid GROUP BY c.fid),
    fh AS (SELECT DISTINCT fr.doc_id, fp.fhash
           FROM fr JOIN fp ON fr.fid = fp.fid)
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           count(*) AS shared_frames
    FROM fh x JOIN fh y ON x.fhash = y.fhash AND x.doc_id < y.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2
    """
    oracle = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == oracle and got  # non-empty: consecutive docs overlap


def test_video_shared_runs_precision_over_shared_count(spark):
    """The run matcher's reason to exist (temporal substring_runs):
    doc 2 is doc 1 TRIMMED (drops the first frame — frames 11,12,13
    survive contiguously), doc 3 reuses the SAME THREE frames but
    scattered out of order. Shared-count sees both pairs identically
    (3 shared hashes); run matching keeps the trim (run 3) and rejects
    the scatter (max run 1)."""
    blobs = spark.createDataFrame(
        [
            (1, _video([10, 11, 12, 13])),
            (2, _video([11, 12, 13])),
            (3, _video([13, 11, 12])),
        ],
        "doc_id long, content binary",
    )
    counts = {
        (r.doc_a, r.doc_b): r.shared_frames
        for r in mm.video_near_dups(blobs, min_shared=3).collect()
    }
    assert counts.get((1, 2)) == 3 and counts.get((1, 3)) == 3  # blind
    runs = {
        (r.doc_a, r.doc_b): (r.a_start, r.b_start, r.run_len)
        for r in mm.video_shared_runs(blobs, min_run=3).collect()
    }
    assert runs == {(1, 2): (1, 0, 3)}  # trim kept, scatter rejected


def test_video_shared_runs_sampling_and_cap(spark):
    """every_n reindexes positions into sampled space (frames 0,2,4 ->
    pos 0,1,2 at every_n=2, so the shared tail is still a RUN), and
    max_frame_df drops a ubiquitous frame BEFORE pairing, splitting
    runs at its position — the documented stop-gram trade."""
    blobs = spark.createDataFrame(
        [
            (1, _video([20, 91, 21, 92, 22, 93])),
            (2, _video([20, 94, 21, 95, 22, 96])),
        ],
        "doc_id long, content binary",
    )
    runs = {
        (r.doc_a, r.doc_b): (r.a_start, r.b_start, r.run_len)
        for r in mm.video_shared_runs(blobs, min_run=3, every_n=2).collect()
    }
    assert runs == {(1, 2): (0, 0, 3)}  # kept frames 20,21,22 contiguous
    # a stop frame (here 21, shared by both docs + a third) capped at
    # df<=1 splits the run into sub-min_run flanks -> no pair survives
    blobs3 = spark.createDataFrame(
        [
            (1, _video([20, 21, 22])),
            (2, _video([20, 21, 22])),
            (3, _video([21, 50, 51])),
        ],
        "doc_id long, content binary",
    )
    capped = mm.video_shared_runs(blobs3, min_run=3, max_frame_df=2).collect()
    assert capped == []  # frame 21 in 3 docs > cap -> run split at pos 1
    uncapped = {
        (r.doc_a, r.doc_b): r.run_len
        for r in mm.video_shared_runs(blobs3, min_run=3).collect()
    }
    assert uncapped == {(1, 2): 3}


def test_video_shared_runs_empty_and_disjoint_inputs(spark):
    """Edge paths: no shared frames -> empty result; single doc ->
    empty; min_run=0 rejected at the call site."""
    import pytest

    lone = spark.createDataFrame(
        [(1, _video([70, 71, 72]))], "doc_id long, content binary"
    )
    assert mm.video_shared_runs(lone, min_run=2).count() == 0
    disjoint = spark.createDataFrame(
        [(1, _video([70, 71, 72])), (2, _video([80, 81, 82]))],
        "doc_id long, content binary",
    )
    assert mm.video_shared_runs(disjoint, min_run=1).count() == 0
    with pytest.raises(ValueError, match="min_run"):
        mm.video_shared_runs(lone, min_run=0)


def test_hamming_store_probe_empty_store_and_no_match(spark):
    """An empty store (first batch) and a disjoint store both yield
    zero matches — the probe must not error or fabricate rows."""
    from pagerank_mapreduce_implementation_spark.operators import dedup

    fp = spark.createDataFrame(
        [(1, 0b1111), (2, 0b1111 << 30)], "doc_id long, phash long"
    )
    empty = spark.createDataFrame([], "doc_id long, phash long")
    assert dedup.hamming_store_probe(fp, empty, 10).count() == 0
    far = spark.createDataFrame(
        [(9, (1 << 60) - 1 - 0b1111)], "doc_id long, phash long"
    )
    assert dedup.hamming_store_probe(fp, far, 2).count() == 0


def test_wav_spectral_fingerprint_invariances():
    """The spectral (Haitsma-Kalker) print's reason to exist beside the
    mono energy-delta print: gain invariance is shared, but a DC offset
    — which perturbs the mono print's total energies via cross terms —
    is EXCLUDED by construction (bands start at FFT bin 1)."""
    import numpy as np

    sig = mm.wav_test_signal(7, base=512)
    base = mm.wav_fingerprint  # mono
    spec = mm.wav_spectral_fingerprint

    half = (sig.astype(np.int64) // 2).astype("<i2")
    assert spec(mm.wav_encode(sig)) == spec(mm.wav_encode(half))  # gain

    offset = (sig.astype(np.int64) + 50).astype("<i2")
    assert spec(mm.wav_encode(sig)) == spec(mm.wav_encode(offset))  # DC
    # the mono print is NOT DC-invariant on this signal — the exact gap
    # the spectral variant closes (guards the motivation, not an axiom)
    assert base(mm.wav_encode(sig)) != base(mm.wav_encode(offset))

    fp = spec(mm.wav_encode(sig))
    assert 5 < bin(fp).count("1") < 55  # real variation, not constant


def test_wav_spectral_fingerprint_discriminates_and_bands(spark):
    """Unrelated signals land far apart; injected as hasher into
    audio_near_dups, a gain-scaled copy pairs at hamming 0 through the
    shared banding while the unrelated clip stays out."""
    import numpy as np

    rng_a = mm.wav_test_signal(3, base=512)
    rng_b = mm.wav_test_signal(101, base=512)
    ha = mm.wav_spectral_fingerprint(mm.wav_encode(rng_a))
    hb = mm.wav_spectral_fingerprint(mm.wav_encode(rng_b))
    assert bin(ha ^ hb).count("1") > 8

    double = (rng_a.astype(np.int64) * 2).astype("<i2")
    blobs = spark.createDataFrame(
        [
            (1, mm.wav_encode(rng_a)),
            (2, mm.wav_encode(double)),
            (3, mm.wav_encode(rng_b)),
        ],
        "doc_id long, content binary",
    )
    out = mm.audio_near_dups(
        blobs, max_hamming=4, hasher=mm.wav_spectral_fingerprint
    )
    rows = {(r.doc_a, r.doc_b): r.hamming for r in out.collect()}
    release_result(out)
    assert rows.get((1, 2)) == 0
    assert (1, 3) not in rows and (2, 3) not in rows


def test_wav_spectral_fingerprint_parameter_validation():
    import pytest

    wav = mm.wav_encode(mm.wav_test_signal(1, base=512))
    with pytest.raises(ValueError, match="bits"):
        mm.wav_spectral_fingerprint(wav, frames=5, bands=5)  # 16 < 60
    tiny = mm.wav_encode(mm.wav_test_signal(0, base=64)[:100])
    with pytest.raises(ValueError, match="samples"):
        mm.wav_spectral_fingerprint(tiny)


def test_wav_spectral_test_clip_class_audit():
    """The EXHAUSTIVE audit the audio_spectral_dups oracle rests on
    (the clip is a function of (doc_id//4) % 256 alone): all 256
    signal classes yield pairwise-DISTINCT spectral fingerprints with
    real margin, every class's four power-of-2 gain variants are
    bit-IDENTICAL (float64 FFT rounding commutes with 2^k scaling),
    and the class wraps exactly at g + 256."""
    import itertools

    cls_fp = {}
    for c in range(256):
        d = 4 * c  # gain-1 representative of class c
        fp = mm.wav_spectral_fingerprint(
            mm.wav_encode(mm.wav_spectral_test_clip(d), 8000)
        )
        # gain variants 2,4,8 of the SAME group: bit-identical
        for r in (1, 2, 3):
            assert fp == mm.wav_spectral_fingerprint(
                mm.wav_encode(mm.wav_spectral_test_clip(d + r), 8000)
            ), f"gain 2^{r} diverged for class {c}"
        cls_fp[c] = fp
    assert len(set(cls_fp.values())) == 256  # no cross-class collision
    min_h = min(
        bin(cls_fp[a] ^ cls_fp[b]).count("1")
        for a, b in itertools.combinations(range(256), 2)
    )
    assert min_h >= 8, f"cross-class margin collapsed to {min_h}"
    # wrap: group g and g + 256 are the same signal, hence hamming 0
    for c in (0, 17, 255):
        assert cls_fp[c] == mm.wav_spectral_fingerprint(
            mm.wav_encode(mm.wav_spectral_test_clip(4 * (c + 256)), 8000)
        )


def test_audio_spectral_dups_wrap_parity(spark):
    """The registered query's planted truth BEYOND the class wrap
    (sf0.01's 500 docs never wrap; sf0.1's do): on a 1100-doc corpus
    the hamming-0 banding returns exactly the same-class pair set —
    including cross-group pairs like (g, g+256) — mirroring the
    audio_spectral_dups oracle's (doc_id//4) % 256 join."""
    import pandas as pd

    n = 1100  # 275 groups -> classes 0..18 carry two groups each

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": pdf["doc_id"].map(
                        lambda d: mm.wav_encode(
                            mm.wav_spectral_test_clip(int(d)), 8000
                        )
                    ),
                }
            )

    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    blobs = docs.mapInPandas(synth, schema=mm.BLOB_SCHEMA)
    out = mm.audio_near_dups(
        blobs, max_hamming=0, hasher=mm.wav_spectral_fingerprint
    )
    got = {(r.doc_a, r.doc_b) for r in out.collect()}
    release_result(out)
    want = {
        (a, b)
        for a in range(n)
        for b in range(a + 1, n)
        if (a // 4) % 256 == (b // 4) % 256
    }
    assert got == want
    # non-vacuous on the wrap: at least one pair spans two GROUPS
    assert any(a // 4 != b // 4 for a, b in got)
