"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The engine treats image/audio/video as ``binary`` columns with a typed
metadata struct alongside (SURVEY.md §7 step 6). The Spark-side
plumbing — schemas, Arrow-batched ``mapInPandas`` transforms, batch
shapes, partition-preserving narrow execution — is real and tested.
The codec step is an INJECTION POINT (``decoder=``/``resizer=``/
``extractor=``): compressed formats (jpeg/png/mp4) raise
``NotImplementedError`` because no codec library ships in this
container, but the module carries a REAL pure-numpy Netpbm (P6 PPM)
codec — ``ppm_decoder``/``ppm_resizer``/``ppm_feature_extractor``/
``frames_demuxer`` — so the full decode -> resize -> featurize ->
frame-sample pipeline runs end-to-end for real, library-free.
``blob_metadata`` needs no Python at all — length + md5 are JVM
built-ins — so it is a plain narrow projection.

Design notes for 100 TB:
- payloads stay in executor memory as Arrow binary buffers end-to-end;
  nothing is collected or pickled row-at-a-time.
- ``mapInPandas`` preserves partitioning (no shuffle); batch size is
  governed by spark.sql.execution.arrow.maxRecordsPerBatch.
- metadata extraction early + payload column drop lets every
  downstream filter/join run on slim rows (column pruning does the
  rest once the table is parquet).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOB_SCHEMA = "doc_id bigint, content binary"
IMAGE_META_SCHEMA = (
    "doc_id bigint, width int, height int, format string, n_bytes bigint"
)


def text_as_blob(docs: DataFrame) -> DataFrame:
    """Deterministic binary payload column for testing the multimodal
    path against the existing corpus (utf-8 bytes of the text)."""
    return docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("content"))


def blob_metadata(blobs: DataFrame) -> DataFrame:
    """Metadata extraction over a binary column:
    ``(doc_id, n_bytes, content_md5)``.

    Pure JVM built-ins (``F.length``/``F.md5`` work on binary): a
    narrow, codegen'd, zero-Python projection — at 100 TB this runs at
    scan speed with no Arrow transfer at all. Python enters the
    multimodal path only where a real codec is genuinely needed
    (``decode_image``/``resize_image``/``sample_frames`` below keep the
    Arrow-batched ``mapInPandas`` plumbing for that).
    """
    return blobs.select(
        F.col("doc_id"),
        F.length("content").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


def decode_image(
    blobs: DataFrame,
    decoder: Callable[[bytes], tuple[int, int, str]] | None = None,
) -> DataFrame:
    """Decode image headers to ``(doc_id, width, height, format, n_bytes)``.

    STUB: no image codec ships in this container. Pass ``decoder``
    (bytes -> (width, height, format)) to run for real — e.g.
    ``lambda b: PIL.Image.open(io.BytesIO(b)).size + (img.format,)``.
    The Spark plumbing (Arrow batching, schema, partition-preserving
    execution) is exactly what a real decoder runs through.
    """
    if decoder is None:
        raise NotImplementedError(
            "image decoding is stubbed: no codec library in this environment; "
            "pass decoder=... (see multimodal.fake_image_decoder for tests)"
        )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf["content"].map(lambda b: decoder(bytes(b)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": meta.map(lambda m: m[0]).astype("int32"),
                    "height": meta.map(lambda m: m[1]).astype("int32"),
                    "format": meta.map(lambda m: m[2]),
                    "n_bytes": pdf["content"].map(len).astype("int64"),
                }
            )

    return blobs.mapInPandas(decode, schema=IMAGE_META_SCHEMA)


def fake_image_decoder(b: bytes) -> tuple[int, int, str]:
    """Deterministic stand-in codec for tests: derives a plausible
    (width, height, format) from the payload hash."""
    h = hashlib.md5(b).digest()
    return 16 + h[0] % 64, 16 + h[1] % 64, ["png", "jpeg", "webp"][h[2] % 3]


def resize_image(
    blobs: DataFrame,
    width: int,
    height: int,
    resizer: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Image resize stub: ``(doc_id, content)`` with the payload
    replaced by the resized rendition. Raises unless a real codec is
    supplied (none ships here); the Arrow-batched, partition-preserving
    plumbing is the deliverable — a real ``resizer`` is e.g.
    PIL open -> thumbnail((width, height)) -> save to bytes."""
    if resizer is None:
        raise NotImplementedError(
            "image resizing is stubbed: no codec library in this environment; "
            "pass resizer=... (bytes, w, h) -> bytes"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": pdf["content"].map(
                        lambda b: resizer(bytes(b), width, height)
                    ),
                }
            )

    return blobs.mapInPandas(run, schema=BLOB_SCHEMA)


def extract_features(
    blobs: DataFrame,
    dim: int = 16,
    extractor: Callable[[bytes], list[float]] | None = None,
) -> DataFrame:
    """Feature extraction over binary payloads:
    ``(vec_id, embedding: array<float>)`` — the bridge from multimodal
    blobs into the similarity/ANN operators (cosine_topk, ivf_topk,
    cosine_pairs_lsh take this output directly).

    A real ``extractor`` is a vision/audio model forward pass; the
    default is ``fake_feature_extractor`` (md5-derived, deterministic)
    so the full blob -> embedding -> ANN pipeline runs and is testable
    in this codec-free container.
    """
    fn = extractor or (lambda b: fake_feature_extractor(b, dim))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "vec_id": pdf["doc_id"],
                    "embedding": pdf["content"].map(lambda b: fn(bytes(b))),
                }
            )

    return blobs.mapInPandas(run, schema="vec_id bigint, embedding array<float>")


def fake_feature_extractor(b: bytes, dim: int = 16) -> list[float]:
    """Deterministic stand-in featurizer: dim floats in [-1, 1) derived
    from an md5 byte stream over the payload."""
    out: list[float] = []
    seed = b
    while len(out) < dim:
        seed = hashlib.md5(seed).digest()
        out.extend(x / 128.0 - 1.0 for x in seed)
    return out[:dim]


def sample_frames(
    blobs: DataFrame,
    every_n: int = 10,
    decoder: Callable[[bytes], list[bytes]] | None = None,
) -> DataFrame:
    """Video frame sampling stub: explode 1-in-N frames per payload to
    ``(doc_id, frame_idx, frame)``. Raises unless a real container
    demuxer is supplied (none ships here)."""
    if every_n < 1:
        # would divide-by-zero INSIDE the Arrow batch, failing the job
        # with an executor stack instead of at the call site
        raise ValueError(f"every_n ({every_n}) must be >= 1")
    if decoder is None:
        raise NotImplementedError(
            "video demuxing is stubbed: no container/codec library in this "
            "environment; pass decoder=... returning the raw frame list"
        )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame": []}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                for i, frame in enumerate(decoder(bytes(content))):
                    if i % every_n == 0:
                        out["doc_id"].append(doc_id)
                        out["frame_idx"].append(i)
                        out["frame"].append(frame)
            yield pd.DataFrame(out)

    return blobs.mapInPandas(
        sample, schema="doc_id bigint, frame_idx int, frame binary"
    )


# --- real pure-numpy PPM codec --------------------------------------------
#
# The stubs above exist because no image LIBRARY ships here — but the
# Netpbm P6 format needs none: a text header + raw RGB bytes. These
# functions make decode_image / resize_image / extract_features /
# sample_frames run FOR REAL on PPM payloads (and serve as the
# reference implementation of the decoder-injection contract).


def _ppm_parse(b: bytes) -> tuple[int, int, "object"]:
    """Parse a binary P6 PPM: returns (width, height, HxWx3 uint8
    array). Pure bytes + numpy — no codec library."""
    import numpy as np

    if not b.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header = magic, width, height, maxval as whitespace-separated
    # tokens ('#' comments allowed); pixel data starts after the single
    # whitespace byte following maxval
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3:
        while i < len(b) and b[i : i + 1].isspace():
            i += 1
        if b[i : i + 1] == b"#":
            while i < len(b) and b[i : i + 1] != b"\n":
                i += 1
            continue
        start = i
        while i < len(b) and not b[i : i + 1].isspace():
            i += 1
        tokens.append(b[start:i])
    i += 1  # the single whitespace after maxval
    w, h, maxval = int(tokens[0]), int(tokens[1]), int(tokens[2])
    if maxval != 255:
        raise ValueError(f"only maxval=255 supported, got {maxval}")
    px = np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=i)
    return w, h, px.reshape(h, w, 3)


def ppm_encode(pixels) -> bytes:
    """HxWx3 uint8 array -> binary P6 PPM bytes."""
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def ppm_decoder(b: bytes) -> tuple[int, int, str]:
    """Real ``decoder`` for decode_image: header-only parse."""
    w, h, _ = _ppm_parse(b)
    return w, h, "ppm"


def ppm_resizer(b: bytes, width: int, height: int) -> bytes:
    """Real ``resizer`` for resize_image: nearest-neighbor via numpy
    integer index grids (the deterministic, library-free resample)."""
    import numpy as np

    w, h, px = _ppm_parse(b)
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return ppm_encode(px[ys][:, xs])


def ppm_feature_extractor(b: bytes, grid: int = 2) -> list[float]:
    """Real ``extractor`` for extract_features: per-channel mean/std
    plus a grid x grid downsampled mean map — 3*2 + grid*grid*3 floats,
    scaled to [0, 1]. Deterministic, vectorized, codec-free."""
    import numpy as np

    _, _, px = _ppm_parse(b)
    f = px.astype(np.float64) / 255.0
    feats = [float(x) for x in f.mean(axis=(0, 1))] + [
        float(x) for x in f.std(axis=(0, 1))
    ]
    h, w, _ = f.shape

    def bounds(g: int, n: int) -> tuple[int, int]:
        # always a non-empty slice, even when grid > dimension (cells
        # then overlap on the last pixel) — an empty slice would mean()
        # to NaN and silently poison every downstream cosine/ANN
        # comparison
        start = min((g * n) // grid, n - 1)
        return start, max(((g + 1) * n) // grid, start + 1)

    for gy in range(grid):
        y0, y1 = bounds(gy, h)
        for gx in range(grid):
            x0, x1 = bounds(gx, w)
            feats.extend(float(x) for x in f[y0:y1, x0:x1].mean(axis=(0, 1)))
    return feats


# --- real pure-numpy WAV (RIFF PCM16 mono) codec ---------------------------
#
# Same philosophy as the PPM codec: no audio LIBRARY ships here, but
# canonical WAV is a fixed RIFF header + raw little-endian PCM — fully
# parseable with bytes + numpy. These make decode_audio /
# extract_features run FOR REAL on WAV payloads (and document the
# decoder-injection contract for compressed formats like mp3/flac,
# which DO need a codec and stay injection-only).

AUDIO_META_SCHEMA = (
    "doc_id bigint, sample_rate int, n_samples bigint, "
    "duration_ms double, n_bytes bigint"
)


def wav_encode(samples, sample_rate: int = 8000) -> bytes:
    """int16 sample array -> canonical 44-byte-header RIFF/WAVE PCM16
    mono bytes. Pure bytes + numpy."""
    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    n = len(pcm)

    def u32(x: int) -> bytes:
        return int(x).to_bytes(4, "little")

    def u16(x: int) -> bytes:
        return int(x).to_bytes(2, "little")

    return b"".join(
        [
            b"RIFF", u32(36 + n), b"WAVE",
            b"fmt ", u32(16), u16(1), u16(1), u32(sample_rate),
            u32(sample_rate * 2), u16(2), u16(16),
            b"data", u32(n), pcm,
        ]
    )


def _wav_parse(b: bytes):
    """Parse RIFF/WAVE PCM16 mono: returns (sample_rate, int16 numpy
    array). Walks the chunk list (not a fixed 44-byte assumption);
    raises on truncation, compression, or multi-channel payloads —
    silently mis-parsed audio would poison every downstream feature.
    """
    import numpy as np

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    sr = channels = bits = None
    data = None
    i = 12
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        ln = int.from_bytes(b[i + 4 : i + 8], "little")
        body = b[i + 8 : i + 8 + ln]
        if len(body) < ln:
            raise ValueError(f"WAV chunk {cid!r} truncated")
        if cid == b"fmt ":
            if ln < 16:
                raise ValueError("fmt chunk shorter than PCM layout")
            fmt = int.from_bytes(body[0:2], "little")
            channels = int.from_bytes(body[2:4], "little")
            sr = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if fmt != 1:
                raise ValueError(f"only PCM (fmt=1) supported, got {fmt}")
        elif cid == b"data":
            data = body
        i += 8 + ln + (ln & 1)  # RIFF chunks are word-aligned
    if sr is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    if channels != 1 or bits != 16:
        raise ValueError(
            f"only 16-bit mono supported, got {channels}ch/{bits}bit"
        )
    if sr <= 0:
        # a zero/negative rate would flow into duration_ms as inf/NaN
        # or a negative duration — poison, not a parse result
        raise ValueError(f"non-positive sample rate {sr}")
    return sr, np.frombuffer(data, dtype="<i2")


def wav_decoder(b: bytes) -> tuple[int, int]:
    """Real ``decoder`` for decode_audio: (sample_rate, n_samples)."""
    sr, samples = _wav_parse(b)
    return sr, len(samples)


def decode_audio(
    blobs: DataFrame,
    decoder: Callable[[bytes], tuple[int, int]] | None = None,
) -> DataFrame:
    """Audio metadata decode: ``(doc_id, sample_rate, n_samples,
    duration_ms, n_bytes)`` through the same Arrow mapInPandas plumbing
    as decode_image. Pass ``decoder`` (bytes -> (sample_rate,
    n_samples)); ``wav_decoder`` makes it real for WAV — compressed
    formats (mp3/flac/ogg) need a codec library and raise without one.
    """
    if decoder is None:
        raise NotImplementedError(
            "audio decoding is stubbed for compressed formats: pass "
            "decoder=... (multimodal.wav_decoder runs real RIFF PCM16)"
        )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf["content"].map(lambda b: decoder(bytes(b)))
            sr = meta.map(lambda m: m[0])
            n = meta.map(lambda m: m[1])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": sr.astype("int32"),
                    "n_samples": n.astype("int64"),
                    "duration_ms": n.astype("float64") * 1000.0 / sr.astype("float64"),
                    "n_bytes": pdf["content"].map(len).astype("int64"),
                }
            )

    return blobs.mapInPandas(decode, schema=AUDIO_META_SCHEMA)


def wav_feature_extractor(b: bytes, frames: int = 2) -> list[float]:
    """Real ``extractor`` for extract_features over WAV payloads:
    ``frames`` equal time slices, each contributing (RMS, zero-crossing
    rate) — the classic cheap audio fingerprint. Sums run as explicit
    SEQUENTIAL left folds (not numpy pairwise reductions) so the SQL
    oracle's list_sum reproduces the doubles bit-for-bit before the
    float32 schema cast. Degenerate-frame convention (signals shorter
    than ``frames`` samples): an empty frame scores rms=0.0, and a
    frame with fewer than 2 samples scores zcr=0.0 — a defined value,
    never a 0/0; an oracle must mirror the same guards."""
    import math

    if frames < 1:
        # frames=0 would silently return [] — an empty feature vector
        # masquerading as a successful extraction
        raise ValueError(f"frames ({frames}) must be >= 1")
    _, samples = _wav_parse(b)
    n = len(samples)
    feats: list[float] = []
    for f in range(frames):
        lo, hi = (f * n) // frames, ((f + 1) * n) // frames
        chunk = samples[lo:hi]
        acc = 0.0
        for v in chunk:
            x = float(v) / 32768.0
            acc += x * x
        # math.sqrt, not **0.5: C pow(x, 0.5) may differ from sqrt by
        # an ulp, and the oracle computes sqrt()
        rms = math.sqrt(acc / len(chunk)) if len(chunk) else 0.0
        crossings = 0
        for j in range(len(chunk) - 1):
            if int(chunk[j]) * int(chunk[j + 1]) < 0:
                crossings += 1
        zcr = crossings / (len(chunk) - 1) if len(chunk) > 1 else 0.0
        feats.extend([rms, zcr])
    return feats


def wav_test_signal(doc_id: int, base: int = 64):
    """Deterministic int16 test signal for the driver query and tests:
    ``n = base + doc_id % base`` samples, ``s_i = ((doc_id*31 + i*17) %
    256) - 128`` — every value reproducible with integer SQL."""
    import numpy as np

    n = base + int(doc_id) % base
    i = np.arange(n, dtype="int64")
    return ((int(doc_id) * 31 + i * 17) % 256 - 128).astype("<i2")


# concatenated-PPM "video": 4-byte big-endian frame count, then each
# frame as 4-byte length + P6 payload — a container format simple
# enough to demux with slicing, so sample_frames runs for real too
def frames_pack(frames: list[bytes]) -> bytes:
    out = [len(frames).to_bytes(4, "big")]
    for fr in frames:
        out.append(len(fr).to_bytes(4, "big"))
        out.append(fr)
    return b"".join(out)


def frames_demuxer(b: bytes) -> list[bytes]:
    """Real ``decoder`` for sample_frames over the packed format.
    Truncated or corrupt containers raise — silently yielding short
    frame bytes would feed garbage into feature extraction."""
    if len(b) < 4:
        raise ValueError("frame container shorter than its count header")
    n = int.from_bytes(b[:4], "big")
    frames, i = [], 4
    for k in range(n):
        if i + 4 > len(b):
            raise ValueError(f"frame container truncated at frame {k} header")
        ln = int.from_bytes(b[i : i + 4], "big")
        if i + 4 + ln > len(b):
            raise ValueError(f"frame container truncated inside frame {k}")
        frames.append(b[i + 4 : i + 4 + ln])
        i += 4 + ln
    return frames


# --- perceptual image hashing (average hash) --------------------------------
#
# The image-corpus curation twin of text SimHash: a 60-bit average
# hash over a grayscale thumbnail, deduped with the SAME Hamming
# band machinery (dedup.hamming_band_pairs). Runs FOR REAL over PPM
# payloads via the codec above; compressed formats go through the
# decoder-injection contract like everything else in this module.

PHASH_BITS = 60  # matches SIMHASH_BITS so the band machinery is shared
PHASH_GRID = 8  # 8x8 thumbnail; bits 0..59 come from cells 0..59


def ppm_ahash(b: bytes) -> int:
    """Average-hash over a P6 PPM payload: nearest-neighbor resample to
    ``PHASH_GRID``x``PHASH_GRID`` (the exact integer index grid of
    ``ppm_resizer``), per-pixel integer grayscale ``(r + g + b) // 3``,
    then bit ``j`` of the hash is set iff cell ``j``'s gray >= the mean
    gray over ALL 64 cells (row-major ``j = y*PHASH_GRID + x``, first
    ``PHASH_BITS`` cells only — 60 of 64 keeps the hash in a signed
    64-bit long, the
    SimHash convention). Every step is integer (one double mean), so a
    SQL oracle can reproduce the hash analytically for a deterministic
    pixel generator."""
    import numpy as np

    w, h, px = _ppm_parse(b)
    ys = (np.arange(PHASH_GRID) * h) // PHASH_GRID
    xs = (np.arange(PHASH_GRID) * w) // PHASH_GRID
    thumb = px[ys][:, xs].astype(np.int64)  # grid x grid x 3
    gray = (thumb[:, :, 0] + thumb[:, :, 1] + thumb[:, :, 2]) // 3
    flat = gray.reshape(-1)
    mean = float(flat.sum()) / float(flat.size)
    out = 0
    for j in range(PHASH_BITS):
        if float(flat[j]) >= mean:
            out |= 1 << j
    return out


def ppm_dcthash(b: bytes, grid: int = 16, keep: int = 8) -> int:
    """DCT-based perceptual hash over a P6 PPM payload — the classic
    "pHash" construction, sitting beside ``ppm_ahash`` as an injectable
    ``hasher`` for ``phash_images``/``phash_near_dups`` (same 60-bit
    output, so the shared ``hamming_band_pairs`` banding and verify
    work unchanged).

    Why it exists when ahash already does (round-7 verdict item 8):
    the average hash thresholds RAW grays against their mean, so a
    global brightness shift moves every gray AND the mean by the same
    amount only in exact integer arithmetic — a shift that clips or a
    nonuniform exposure change flips near-mean bits. The DCT hash
    thresholds AC frequency coefficients, and a uniform brightness
    shift lands ENTIRELY in the DC coefficient, which is excluded —
    ``tests/test_phash.py`` pins hash equality under a +40 gray shift
    where the average hash is allowed to drift.

    Construction (deterministic, numpy-double): nearest-neighbor
    resample to ``grid`` x ``grid`` integer grays (the ppm_ahash
    sampling), orthonormal 2-D DCT-II, row-major flatten of the
    low-frequency ``keep`` x ``keep`` corner minus the DC term, bit
    ``j`` set iff coefficient ``j`` > the median of the first ``PHASH_BITS``
    coefficients (median-balanced: ~half the bits set for ANY input,
    the standard pHash trick that maximizes Hamming discrimination).
    No SQL-oracle twin: cos() doubles are not portably reproducible
    across engines, so this variant ships with local goldens instead
    of a registry entry (the banding it feeds IS oracle-covered via
    ``image_phash_dups``).
    """
    import numpy as np

    if keep * keep - 1 < PHASH_BITS:
        raise ValueError(
            f"keep={keep} yields {keep * keep - 1} AC coefficients "
            f"< PHASH_BITS={PHASH_BITS}"
        )
    if keep > grid:
        # without this the [:keep, :keep] slice silently truncates to
        # grid x grid and the ac[j] indexing IndexErrors inside the
        # executor instead of at the call site
        raise ValueError(f"keep={keep} exceeds grid={grid}")
    w, h, px = _ppm_parse(b)
    ys = (np.arange(grid) * h) // grid
    xs = (np.arange(grid) * w) // grid
    thumb = px[ys][:, xs].astype(np.int64)
    gray = ((thumb[:, :, 0] + thumb[:, :, 1] + thumb[:, :, 2]) // 3).astype(
        np.float64
    )
    n = np.arange(grid, dtype=np.float64)
    k = n.reshape(-1, 1)
    # orthonormal DCT-II basis: D[k, n] = c_k * cos(pi*(2n+1)*k/(2N))
    D = np.cos(np.pi * (2.0 * n + 1.0) * k / (2.0 * grid))
    D[0, :] *= np.sqrt(1.0 / grid)
    D[1:, :] *= np.sqrt(2.0 / grid)
    coeffs = D @ gray @ D.T
    ac = coeffs[:keep, :keep].reshape(-1)[1:][:PHASH_BITS]
    med = float(np.median(ac))
    out = 0
    for j in range(PHASH_BITS):
        if float(ac[j]) > med:
            out |= 1 << j
    return out


def phash_images(
    blobs: DataFrame,
    hasher: Callable[[bytes], int] | None = None,
) -> DataFrame:
    """Perceptual hash per image blob: ``(doc_id, phash)`` through the
    Arrow ``mapInPandas`` plumbing (the decode_image shape). Default
    ``hasher`` is the real PPM average-hash; inject a DCT/pHash over a
    decoded array for compressed formats."""
    fn = hasher or ppm_ahash

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": pdf["content"].map(lambda b: fn(bytes(b))).astype("int64"),
                }
            )

    return blobs.mapInPandas(run, schema="doc_id bigint, phash bigint")


def phash_near_dups(
    blobs: DataFrame,
    max_hamming: int = 10,
    hasher: Callable[[bytes], int] | None = None,
) -> DataFrame:
    """Image near-dup pairs by perceptual hash:
    ``(doc_a, doc_b, hamming)`` — the standard image-corpus curation op
    (re-encoded/resized/lightly-edited copies land within a few bits).

    One Arrow hashing pass (narrow) -> the shared 15-bit-chunk Hamming
    band join (dedup.hamming_band_pairs): candidates only from equal
    chunks, verified with bit_count(xor) — never the all-pairs product.
    The hash is 60-bit so text SimHash and image pHash share one
    banding/verify implementation and one oracle shape. Returns an
    eager checkpoint; release it with ``util.release_result`` when done.
    """
    from pagerank_mapreduce_implementation_spark.operators.dedup import (
        hamming_band_pairs,
    )

    # persist -> eager checkpoint -> unpersist: the simhash_near_dups
    # cadence (the band self-join reads the hash table twice; without
    # the persist the Python hashing pass would run once per side).
    fp = phash_images(blobs, hasher).persist()
    try:
        out = hamming_band_pairs(fp, "phash", max_hamming, PHASH_BITS)
        return out.localCheckpoint(eager=True)
    finally:
        fp.unpersist()


def phash_test_image(doc_id: int) -> bytes:
    """Deterministic 16x16 P6 PPM test image for the driver query and
    tests: an 8x8 grid of 2x2 constant gray cells (so the real
    nearest-neighbor resample to 8x8 reads back exactly the cell
    values), cell ``j``'s gray byte from ``md5(f"{g}:{j}")`` where
    ``g = doc_id // 4`` — docs in one group share a base pattern —
    and the ``r = doc_id % 4`` variant INVERTS cells ``15r..15r+3``
    (4 cells inside hash chunk ``r``, so two variants of one group
    USUALLY still agree on enough band chunks to meet as candidates —
    not guaranteed: the inversion also shifts the global mean, which
    can flip near-mean bits in OTHER chunks; parity with the oracle is
    unaffected either way, since the oracle mirrors the bucketing).
    Every byte is reproducible with md5 + integer SQL."""
    import hashlib

    import numpy as np

    g, r = int(doc_id) // 4, int(doc_id) % 4
    v = np.empty(64, dtype=np.int64)
    for j in range(64):
        byte = int(hashlib.md5(f"{g}:{j}".encode()).hexdigest()[:2], 16)
        v[j] = 255 - byte if 15 * r <= j < 15 * r + 4 else byte
    cells = v.reshape(8, 8).astype(np.uint8)
    px16 = np.repeat(np.repeat(cells, 2, axis=0), 2, axis=1)
    return ppm_encode(np.stack([px16] * 3, axis=2))


def dct_test_image(doc_id: int) -> bytes:
    """Deterministic 16x16 P6 PPM for the DCT-hash driver query: doc
    pairs ``(2g, 2g+1)`` share one md5-derived 8x8 cell pattern (gray
    byte ``md5(f"{g}:{j}") % 200`` — headroom so a shift never clips)
    and the ODD member is the even member shifted +40 gray uniformly.
    A uniform shift lands entirely in the DCT's DC coefficient, which
    ``ppm_dcthash`` excludes, so the pair hashes IDENTICALLY (hamming
    0) while ``ppm_ahash`` near-mean bits may drift — the
    brightness-invariance claim at corpus shape. The oracle needs no
    cos() math: it predicts exactly the (2g, 2g+1, 0) pair set."""
    import hashlib

    import numpy as np

    g, shift = int(doc_id) // 2, 40 * (int(doc_id) % 2)
    v = np.empty(64, dtype=np.int64)
    for j in range(64):
        v[j] = int(hashlib.md5(f"{g}:{j}".encode()).hexdigest()[:2], 16) % 200 + shift
    cells = v.reshape(8, 8).astype(np.uint8)
    px16 = np.repeat(np.repeat(cells, 2, axis=0), 2, axis=1)
    return ppm_encode(np.stack([px16] * 3, axis=2))


def wav_test_clip(doc_id: int):
    """Deterministic int16 test clip for the audio near-dup driver
    query: docs in one GROUP ``g = doc_id // 4`` share the base signal
    ``s_i = ((g*31 + i*17) % 256) - 128`` over ``n = 256 + g % 256``
    samples, and variant ``r = doc_id % 4`` plays it at GAIN ``r + 1``
    (pure integer scaling, max |s| = 512, well inside int16). Frame
    energies scale by ``(r+1)^2`` uniformly, so every energy-delta
    SIGN — and the ``wav_fingerprint`` — is identical across a group's
    four gain variants: the gain-invariance claim at corpus shape,
    and every sample is reproducible with integer SQL."""
    import numpy as np

    g, r = int(doc_id) // 4, int(doc_id) % 4
    n = 256 + g % 256
    i = np.arange(n, dtype="int64")
    return (((g * 31 + i * 17) % 256 - 128) * (r + 1)).astype("<i2")


def wav_spectral_test_clip(doc_id: int):
    """Deterministic int16 clip for the SPECTRAL near-dup driver query
    (``audio_spectral_dups``) — ``wav_test_clip`` rebuilt around the
    two facts the FFT path adds:

    1. **Gains must be powers of two.** ``wav_spectral_fingerprint``
       runs float64 rffts, and rounding commutes with scaling only for
       exact power-of-2 factors (``fl(2^k x) = 2^k fl(x)``); integer
       gain 3 flips sign bits wherever a double-delta is within a few
       ulps of zero (measured: 75/250 groups diverge under gains 1..4).
       Variant ``r = doc_id % 4`` therefore plays at gain ``2^r``
       (max |s| = 128*8, inside int16), making a group's four
       fingerprints IDENTICAL — provably, not just probably.
    2. **Groups must not be time-shifts of each other.**
       ``wav_test_clip``'s linear pattern makes every group a phase
       shift of one waveform, so spectra collide across groups. The
       group-keyed QUADRATIC ``((g*31+7)(i+1)^2 + 17 i) mod 256`` keys
       the spectrum itself by the group.

    The whole signal is a function of ``g % 256`` alone (both the
    coefficient mod 256 and ``n = 256 + g % 256`` are), so the
    analytic truth for the hamming-0 pair query is exactly
    ``(a//4) % 256 == (b//4) % 256`` — and all 256 signal
    classes are pinned pairwise-distinct (min cross-class hamming 11)
    by tests/test_phash.py's exhaustive class audit."""
    import numpy as np

    g, r = int(doc_id) // 4, int(doc_id) % 4
    n = 256 + g % 256
    i = np.arange(n, dtype="int64")
    s = ((g * 31 + 7) * (i + 1) * (i + 1) + i * 17) % 256 - 128
    return (s * (1 << r)).astype("<i2")


def wav_fingerprint(b: bytes) -> int:
    """Energy-delta audio fingerprint over a WAV PCM16 payload — the
    audio member of the shared 60-bit near-dup family (text SimHash,
    image pHash): bit ``j`` is set iff frame ``j+1`` carries MORE
    energy than frame ``j``, over ``PHASH_BITS + 1`` equal time slices.
    The classic robust-audio-hash shape (cf. Haitsma & Kalker 2002's
    band-energy-delta fingerprint, mono-band variant): amplitude
    scaling multiplies every frame energy by the same factor, so the
    delta SIGNS — and the hash — are invariant to gain changes, the
    audio analog of the DCT hash's brightness invariance
    (``tests/test_phash.py`` pins a half-gain golden).

    Frame energy is the INTEGER sum of squared samples (int64-exact:
    max 32768^2 * samples-per-frame, far below 2^63 for any real
    clip), so the fingerprint is bit-reproducible everywhere.
    Clips shorter than ``PHASH_BITS + 1`` samples raise — a fingerprint of
    mostly-empty frames would collide everything short.
    """
    _, samples = _wav_parse(b)
    n = len(samples)
    frames = PHASH_BITS + 1
    if n < frames:
        raise ValueError(
            f"clip has {n} samples < {frames} fingerprint frames; "
            "pad or skip sub-second stubs instead of hashing them"
        )
    s = samples.astype("int64")
    energies = [
        int((s[(f * n) // frames : ((f + 1) * n) // frames] ** 2).sum())
        for f in range(frames)
    ]
    out = 0
    for j in range(PHASH_BITS):
        if energies[j + 1] > energies[j]:
            out |= 1 << j
    return out


def wav_spectral_fingerprint(b: bytes, frames: int = 11, bands: int = 7) -> int:
    """Spectral band-energy-delta audio fingerprint — the full
    Haitsma & Kalker (2002) construction, beside the mono-band
    ``wav_fingerprint`` as an injectable ``hasher`` for
    ``audio_near_dups`` (same 60-bit output, same banding):
    bit ``(n, m)`` is the sign of the TIME-delta of the
    FREQUENCY-delta of band energies,
    ``(E[n][m] - E[n][m+1]) - (E[n-1][m] - E[n-1][m+1]) > 0``,
    over ``frames`` time slices x ``bands`` spectral bands —
    ``(frames-1) * (bands-1)`` bits (defaults: 10 x 6 = 60).

    Why it exists when the energy-delta print already does: the mono
    fingerprint sums TOTAL frame energy, so any additive bias — a DC
    offset from a bad ADC, re-encoder dither — shifts every frame's
    energy NON-uniformly (cross terms with the signal) and flips
    bits. Here band 0 starts at FFT bin 1, so DC is excluded by
    construction, and the double-delta cancels any per-frame additive
    spectral tilt; gain invariance is inherited (energies scale
    uniformly, signs unchanged). Band edges are geometric over the
    bin range — the bark-band log spacing of the paper without
    assuming a sample rate.

    numpy rfft doubles are deterministic per platform but NOT
    portable across engines, so this variant ships with pytest
    goldens (like ``ppm_dcthash``) rather than an SQL oracle; the
    banding it feeds is oracle-covered via ``audio_near_dups``.
    """
    import numpy as np

    if (frames - 1) * (bands - 1) < PHASH_BITS:
        raise ValueError(
            f"frames={frames} x bands={bands} yields "
            f"{(frames - 1) * (bands - 1)} bits < PHASH_BITS={PHASH_BITS}"
        )
    _, samples = _wav_parse(b)
    n = len(samples)
    if n < frames * 2 * bands:
        raise ValueError(
            f"clip has {n} samples < {frames * 2 * bands} needed for "
            f"{frames} frames x {bands} bands; pad or skip stubs"
        )
    s = samples.astype(np.float64)
    # per-frame band energies: |rfft|^2 summed over geometric bin bands
    E = np.empty((frames, bands), dtype=np.float64)
    for f in range(frames):
        seg = s[(f * n) // frames : ((f + 1) * n) // frames]
        spec = np.abs(np.fft.rfft(seg)) ** 2
        nb = len(spec)
        # geometric edges over [1, nb): DC (bin 0) excluded
        edges = np.unique(
            np.round(
                np.geomspace(1, max(nb - 1, 2), bands + 1)
            ).astype(int)
        )
        while len(edges) < bands + 1:  # tiny frames: pad edge list
            edges = np.append(edges, edges[-1] + 1)
        for m in range(bands):
            lo, hi = edges[m], max(edges[m + 1], edges[m] + 1)
            E[f, m] = float(spec[lo:hi].sum())
    out = 0
    j = 0
    for f2 in range(1, frames):
        for m in range(bands - 1):
            if j >= PHASH_BITS:
                break
            d = (E[f2, m] - E[f2, m + 1]) - (E[f2 - 1, m] - E[f2 - 1, m + 1])
            if d > 0:
                out |= 1 << j
            j += 1
    return out


def audio_fingerprints(
    blobs: DataFrame,
    hasher: Callable[[bytes], int] | None = None,
) -> DataFrame:
    """Audio fingerprint per WAV blob: ``(doc_id, afp)`` through the
    same Arrow ``mapInPandas`` plumbing as ``phash_images``. Inject
    ``hasher`` for compressed formats (decode to PCM16 first)."""
    fn = hasher or wav_fingerprint

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "afp": pdf["content"].map(lambda b: fn(bytes(b))).astype("int64"),
                }
            )

    return blobs.mapInPandas(run, schema="doc_id bigint, afp bigint")


def audio_near_dups(
    blobs: DataFrame,
    max_hamming: int = 8,
    hasher: Callable[[bytes], int] | None = None,
) -> DataFrame:
    """Audio near-dup pairs by energy-delta fingerprint:
    ``(doc_a, doc_b, hamming)`` — re-encoded/re-gained copies of one
    recording land within a few bits (speech-corpus curation's audio
    dedup). Identical cadence and contract to ``phash_near_dups``:
    one Arrow hashing pass (persisted so the band self-join reads it
    twice without re-decoding) into the shared 15-bit-chunk Hamming
    band join, returned as a releasable eager checkpoint
    (``util.release_result``)."""
    from pagerank_mapreduce_implementation_spark.operators.dedup import (
        hamming_band_pairs,
    )

    fp = audio_fingerprints(blobs, hasher).persist()
    try:
        out = hamming_band_pairs(fp, "afp", max_hamming, PHASH_BITS)
        return out.localCheckpoint(eager=True)
    finally:
        fp.unpersist()


def video_frame_hashes(
    blobs: DataFrame,
    every_n: int = 1,
    demuxer: Callable[[bytes], list[bytes]] | None = None,
    hasher: Callable[[bytes], int] | None = None,
) -> DataFrame:
    """Per-sampled-frame perceptual hashes for video payloads:
    ``(doc_id, frame_idx, fhash)`` — demux (default: the real
    ``frames_demuxer`` over the packed container), sample 1-in-N, and
    hash (default ``ppm_ahash``) each kept frame in ONE fused Arrow
    ``mapInPandas`` pass. Fused deliberately: a demux stage that emits
    a ``frame binary`` column ships every frame's bytes back through
    Arrow to the JVM only for the next stage to ship them into Python
    again — at video scale the frames ARE the data, so the fused pass
    keeps them inside a single Python batch and only 16 bytes/frame
    (doc_id, frame_idx, fhash) ever cross back. Narrow; never
    shuffles. Semantics identical to ``sample_frames`` → hash (the
    composable path for callers who need the frames themselves)."""
    if every_n < 1:
        # would divide-by-zero INSIDE the Arrow batch, failing the job
        # with an executor stack instead of at the call site
        raise ValueError(f"every_n ({every_n}) must be >= 1")
    fn = hasher or ppm_ahash
    demux = demuxer or frames_demuxer

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_idx": [], "fhash": []}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                for i, frame in enumerate(demux(bytes(content))):
                    if i % every_n == 0:
                        out["doc_id"].append(doc_id)
                        out["frame_idx"].append(i)
                        out["fhash"].append(fn(bytes(frame)))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                    "fhash": pd.Series(out["fhash"], dtype="int64"),
                }
            )

    return blobs.mapInPandas(run, schema="doc_id bigint, frame_idx int, fhash bigint")


def _island_runs(
    hits: DataFrame, a_id: str, b_id: str, min_run: int
) -> DataFrame:
    """Gaps-and-islands merge of aligned position hits into maximal
    runs — the substring_runs step 3 shape, shared by the within-batch
    self-join and the batch-vs-store cross probe. ``hits`` carries
    ``(a_id, b_id, ia, ib)``; returns ``(a_id, b_id, a_start, b_start,
    run_len)`` for runs of >= ``min_run`` consecutive hits on one
    (pair, diagonal). The window is candidate-volume-sized, never
    corpus-sized."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(a_id, b_id, F.col("ia") - F.col("ib")).orderBy("ia")
    islands = hits.select(
        a_id,
        b_id,
        (F.col("ia") - F.col("ib")).alias("__diag"),
        "ia",
        (F.col("ia") - F.row_number().over(w)).alias("__grp"),
    )
    return (
        islands.groupBy(a_id, b_id, "__diag", "__grp")
        .agg(
            F.min("ia").alias("a_start"),
            F.count(F.lit(1)).alias("run_len"),
        )
        .filter(F.col("run_len") >= min_run)
        .select(
            a_id,
            b_id,
            "a_start",
            (F.col("a_start") - F.col("__diag")).alias("b_start"),
            "run_len",
        )
    )


def video_shared_runs(
    blobs: DataFrame | None,
    min_run: int = 2,
    every_n: int = 1,
    max_frame_df: int | None = None,
    demuxer: Callable[[bytes], list[bytes]] | None = None,
    hasher: Callable[[bytes], int] | None = None,
    frame_hashes: DataFrame | None = None,
) -> DataFrame:
    """Maximal CONTIGUOUS runs of identical perceptual frame hashes
    shared between clip pairs: ``(doc_a, doc_b, a_start, b_start,
    run_len)`` with ``doc_a < doc_b``, positions and lengths in
    SAMPLED-frame index space (``pos = frame_idx // every_n``) — the
    temporal analog of ``substring_runs`` (Lee et al.'s maximal-run
    scan with frames for tokens), and the precision upgrade over
    ``video_near_dups``: a trimmed or re-containered copy keeps a long
    run of visually-identical frames IN ORDER, while a slideshow that
    happens to reuse ``min_shared`` scattered stock frames does not —
    shared-count matching cannot tell those apart, run matching can.

    Plan shape is ``substring_runs``'s, proven at the text scale: one
    frame-hash-keyed self-join (the only corpus-sized shuffle, with
    the same ``max_frame_df`` stop-frame df cap applied BEFORE
    pairing — a capped hash splits runs at that frame, the documented
    stop-gram trade), then gaps-and-islands per (pair, diagonal) — a
    window over candidate volume, never corpus volume. One row per
    maximal run; a hash repeated WITHIN a clip (static scenes) yields
    one diagonal per alignment, exactly like repeated k-grams.

    The frame-hash table is persisted so decode+hash runs once for
    both join sides, and the (small) run set returns as a releasable
    eager checkpoint (``util.release_result``). ``frame_hashes``
    supplies a PRECOMPUTED ``video_frame_hashes``
    table (same ``every_n``!), skipping the decode pass entirely —
    lifecycle of that table (persist/release) then belongs to the
    caller, so the internal persist is skipped.
    """
    if min_run < 1:
        raise ValueError(f"min_run ({min_run}) must be >= 1")
    src = (
        frame_hashes
        if frame_hashes is not None
        else video_frame_hashes(blobs, every_n, demuxer, hasher)
    )
    fh = src.select(
        "doc_id",
        F.floor(F.col("frame_idx") / every_n).cast("int").alias("pos"),
        "fhash",
    )
    own = frame_hashes is None
    if own:
        fh = fh.persist()
    try:
        if max_frame_df is not None:
            if max_frame_df < 1:
                raise ValueError(f"max_frame_df ({max_frame_df}) must be >= 1")
            hot = (
                fh.select("doc_id", "fhash")
                .distinct()
                .groupBy("fhash")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") > max_frame_df)
                .select("fhash")
            )
            capped = fh.join(hot, "fhash", "left_anti")
        else:
            capped = fh
        hits = (
            capped.select(
                F.col("doc_id").alias("doc_a"), F.col("pos").alias("ia"), "fhash"
            )
            .join(
                capped.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("pos").alias("ib"),
                    "fhash",
                ),
                "fhash",
            )
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "ia", "ib")
        )
        runs = _island_runs(hits, "doc_a", "doc_b", min_run)
        return runs.localCheckpoint(eager=True)
    finally:
        if own:
            fh.unpersist()


def video_near_dups(
    blobs: DataFrame | None,
    min_shared: int = 2,
    max_frame_df: int | None = None,
    demuxer: Callable[[bytes], list[bytes]] | None = None,
    hasher: Callable[[bytes], int] | None = None,
    frame_hashes: DataFrame | None = None,
) -> DataFrame:
    """Video near-dup pairs by SHARED FRAME HASHES:
    ``(doc_a, doc_b, shared_frames)`` for pairs sharing at least
    ``min_shared`` distinct perceptual frame hashes — the standard
    clip-dedup shape (re-encodes, trims, and re-containered copies
    keep runs of visually-identical frames; whole-file hashing sees
    none of that). The video member of the near-dup family: where
    text pairs on shingles and images band on one hash, videos pair
    on their frame-hash SETS — physically the ``ngram_jaccard`` plan
    (distinct (doc, key) rows -> key-equi self-join -> pair count),
    so the scale properties are the proven ones: one frame-hash-keyed
    shuffle, candidates bounded per key.

    ``max_frame_df`` is the stop-frame cap (the ``max_shingle_df``
    rail): a ubiquitous frame — black frames, title cards — pairs its
    whole doc list quadratically; hashes appearing in more than
    ``max_frame_df`` videos are dropped before pairing, deterministic
    df-cap semantics as documented for shingles.

    AT SCALE, DON'T RUN THE DEFAULTS: ``blobs`` are hashed at every
    frame (decode is the dominant cost — a 30 fps corpus pays 30x what
    ``video_frame_hashes(every_n=30)`` does for nearly the same pair
    recall, since near-dup clips share long frame RUNS) and
    ``max_frame_df=None`` leaves the quadratic stop-frame key uncapped.
    The 100 TB configuration passes ``frame_hashes`` sampled with
    ``every_n`` in the tens plus a ``max_frame_df`` around the
    expected copy count (the shingle-cap sizing rule); the exact
    defaults here stay recall-maximal so small-corpus results are
    complete.

    The distinct frame-hash table is persisted for the join (video
    DECODE is the dominant cost, and the self-join reads the hash
    table twice, so lazily it would demux+hash every clip once PER
    SIDE) and the (small) pair set returns as a releasable eager
    checkpoint (``util.release_result``). ``frame_hashes`` supplies a
    precomputed ``video_frame_hashes`` table, skipping the decode
    pass; its lifecycle then belongs to the caller, so the internal
    persist is skipped.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared ({min_shared}) must be >= 1")
    src = (
        frame_hashes
        if frame_hashes is not None
        else video_frame_hashes(blobs, demuxer=demuxer, hasher=hasher)
    )
    fh = src.select("doc_id", "fhash").distinct()
    own = frame_hashes is None
    if own:
        fh = fh.persist()
    try:
        if max_frame_df is not None:
            if max_frame_df < 1:
                raise ValueError(f"max_frame_df ({max_frame_df}) must be >= 1")
            hot = (
                fh.groupBy("fhash")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") > max_frame_df)
                .select("fhash")
            )
            capped = fh.join(hot, "fhash", "left_anti")
        else:
            capped = fh
        other = capped.select(F.col("doc_id").alias("doc_b"), "fhash")
        out = (
            capped.select(F.col("doc_id").alias("doc_a"), "fhash")
            .join(other, "fhash")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared_frames"))
            .filter(F.col("shared_frames") >= min_shared)
        )
        return out.localCheckpoint(eager=True)
    finally:
        if own:
            fh.unpersist()
