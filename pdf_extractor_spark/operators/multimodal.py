"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata.

Reference lineage: the reference's visual arm rasterizes PDFs to images
(/root/reference/pdf_processor.py:334, 511) and runs per-image
preprocessing — grayscale, resize, normalize (pdf_processor.py:386-416) —
one file at a time through temp paths. This module is that capability
class re-expressed for a table of binary media: decode / feature-extract
/ resize / frame-sample as Arrow-batch operators with per-row error
containment (O23, pdf_processor.py:184-186), no temp files, no per-row
Python outside the UDF.

Data model (the `media` table):

    media_id  BIGINT, url STRING, kind STRING ('image'|'audio'|'video'),
    payload   BINARY,
    meta      STRUCT<declared_codec STRING>   -- as-crawled hint, untrusted

All heavy work happens inside Arrow-batch UDFs (mapInArrow), exactly like
the page-extraction stage: payload bytes never leave Arrow buffers except
into numpy, zero per-row Python outside the UDF, batches re-chunked by
cumulative payload bytes so giant media can't blow worker memory.

Decode support in this container (no PIL/cv2/librosa offline — verified):
- image: PPM P6 (binary RGB) — REAL from-scratch decoder (numpy).
- audio: WAV PCM — REAL decoder via stdlib `wave` + numpy.
- video: RAWV — a container this module defines (magic b'RAWV' + frame
  count + concatenated PPM frames); REAL frame demux.
- Anything else (JPEG/PNG/MP4/MP3…): the plumbing dispatches on magic
  bytes and records doc-level errors (O23 semantics,
  /root/reference/pdf_processor.py:184-186); when PIL/cv2 exist
  (import-gated below) they slot into `_EXTRA_IMAGE_DECODERS` without
  touching the Spark plan.

Feature extraction / resize / frame-sample are numpy-vectorized per
element; per-batch work is a tight C loop, the Spark side sees only
columnar Arrow.
"""

from __future__ import annotations

import io
import struct
import wave

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pdf_extractor_spark.operators.extract import byte_bounded_ranges

RAWV_MAGIC = b"RAWV"

# --- pure decoders (importable without Spark; unit-testable) ---------------


def decode_ppm(payload: bytes) -> np.ndarray:
    """PPM P6 → uint8 array (h, w, 3). Raises ValueError on malformed."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header: P6 <ws> width <ws> height <ws> maxval <single ws> raster
    parts = []
    i = 2
    while len(parts) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if i < len(payload) and payload[i : i + 1] == b"#":  # comment line
            i = payload.index(b"\n", i) + 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        parts.append(int(payload[i:j]))
        i = j
    i += 1  # the single whitespace after maxval
    w, h, maxval = parts
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    raster = payload[i : i + w * h * 3]
    if len(raster) != w * h * 3:
        raise ValueError("truncated raster")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


def encode_ppm(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def resize_nearest(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbour resample — pure numpy fancy indexing."""
    h, w, _ = img.shape
    rows = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    cols = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[rows[:, None], cols[None, :], :]


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV PCM → (float32 samples in [-1,1] shaped (n, channels), rate)."""
    with wave.open(io.BytesIO(payload), "rb") as wf:
        rate = wf.getframerate()
        n = wf.getnframes()
        ch = wf.getnchannels()
        width = wf.getsampwidth()
        raw = wf.readframes(n)
    if width == 2:
        arr = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 1:
        arr = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported sample width {width}")
    return arr.reshape(-1, ch), rate


def encode_rawv(frames: list[np.ndarray]) -> bytes:
    """RAWV container: magic + u32 frame count + per frame (u32 len + PPM)."""
    out = [RAWV_MAGIC, struct.pack("<I", len(frames))]
    for f in frames:
        ppm = encode_ppm(f)
        out.append(struct.pack("<I", len(ppm)))
        out.append(ppm)
    return b"".join(out)


def decode_rawv(payload: bytes) -> list[bytes]:
    """RAWV → list of PPM frame payloads (not decoded — demux only)."""
    if not payload.startswith(RAWV_MAGIC):
        raise ValueError("not a RAWV container")
    (n,) = struct.unpack_from("<I", payload, 4)
    frames = []
    off = 8
    for _ in range(n):
        (ln,) = struct.unpack_from("<I", payload, off)
        off += 4
        frames.append(payload[off : off + ln])
        off += ln
    return frames


# import-gated rich decoders: absent offline, slot in transparently
_EXTRA_IMAGE_DECODERS = []
try:  # pragma: no cover - not installed in this container
    from PIL import Image as _PILImage

    def _pil_decode(payload: bytes) -> np.ndarray:
        return np.asarray(_PILImage.open(io.BytesIO(payload)).convert("RGB"))

    _EXTRA_IMAGE_DECODERS.append(_pil_decode)
except ImportError:
    pass


def decode_image(payload: bytes) -> np.ndarray:
    if payload.startswith(b"P6"):
        return decode_ppm(payload)
    for dec in _EXTRA_IMAGE_DECODERS:
        try:
            return dec(payload)
        except Exception:
            continue
    raise ValueError("no decoder for image payload")


# --- Spark operators --------------------------------------------------------

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("error", T.StringType()),
    ]
)

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("error", T.StringType()),
    ]
)

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("thumb", T.BinaryType()),
        T.StructField("error", T.StringType()),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sampled", T.ArrayType(T.BinaryType())),
        T.StructField("error", T.StringType()),
    ]
)


def _media_map(per_row, out_schema_names, out_types):
    """Build a mapInArrow fn applying ``per_row(payload) -> tuple`` with
    per-row error containment (O23): a failing element yields nulls + the
    error string, never a failed task."""

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            payload = batch.column("payload")
            ids = batch.column("media_id")
            for lo, hi in byte_bounded_ranges(batch, "payload"):
                cols = [[] for _ in out_types]
                errs = []
                for i in range(lo, hi):
                    try:
                        vals = per_row(payload[i].as_py())
                        errs.append(None)
                    except Exception as e:  # noqa: BLE001 — per-row contain
                        vals = (None,) * len(out_types)
                        errs.append(f"{type(e).__name__}: {e}")
                    for c, v in zip(cols, vals):
                        c.append(v)
                yield pa.RecordBatch.from_arrays(
                    [ids.slice(lo, hi - lo)]
                    + [pa.array(c, t) for c, t in zip(cols, out_types)]
                    + [pa.array(errs, pa.string())],
                    names=["media_id"] + out_schema_names + ["error"],
                )

    return fn


def image_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract images: dimensions and mean luminance
    (Rec.601 luma over the full raster, numpy-vectorized)."""
    import pyarrow as pa

    def per_row(payload: bytes):
        img = decode_image(payload)
        h, w, c = img.shape
        f = img.astype(np.float64)
        luma = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
        return w, h, c, round(float(luma.mean()), 6)

    fn = _media_map(
        per_row,
        ["width", "height", "channels", "mean_luma"],
        [pa.int32(), pa.int32(), pa.int32(), pa.float64()],
    )
    return media.select("media_id", "payload").mapInArrow(
        fn, schema=IMAGE_FEATURES_SCHEMA
    )


def resize_images(media: DataFrame, out_w: int = 32, out_h: int = 32) -> DataFrame:
    """Thumbnail every image to (out_w, out_h), re-encoded as PPM."""
    import pyarrow as pa

    def per_row(payload: bytes):
        img = decode_image(payload)
        return (encode_ppm(resize_nearest(img, out_w, out_h)),)

    fn = _media_map(per_row, ["thumb"], [pa.binary()])
    return media.select("media_id", "payload").mapInArrow(
        fn, schema=RESIZED_SCHEMA
    )


def audio_features(media: DataFrame) -> DataFrame:
    """Decode WAV PCM: rate, sample/channel counts, duration, RMS level."""
    import pyarrow as pa

    def per_row(payload: bytes):
        samples, rate = decode_wav(payload)
        n, ch = samples.shape
        rms = float(np.sqrt(np.mean(np.square(samples)))) if n else 0.0
        return rate, n, ch, int(n * 1000 / rate), round(rms, 6)

    fn = _media_map(
        per_row,
        ["sample_rate", "n_samples", "channels", "duration_ms", "rms"],
        [pa.int32(), pa.int64(), pa.int32(), pa.int64(), pa.float64()],
    )
    return media.select("media_id", "payload").mapInArrow(
        fn, schema=AUDIO_FEATURES_SCHEMA
    )


def sample_frames(media: DataFrame, every_k: int = 4) -> DataFrame:
    """Demux RAWV video and keep every k-th frame (as PPM payloads)."""
    import pyarrow as pa

    def per_row(payload: bytes):
        frames = decode_rawv(payload)
        return len(frames), frames[::every_k]

    fn = _media_map(
        per_row, ["n_frames", "sampled"], [pa.int32(), pa.list_(pa.binary())]
    )
    return media.select("media_id", "payload").mapInArrow(
        fn, schema=FRAMES_SCHEMA
    )


# --- perceptual hash (dHash) + banded near-dup join -------------------------
#
# The LAION-style image near-dup pass: a 64-bit difference hash per
# image (gradient signs of the 9x8 nearest-neighbor thumbnail's Rec.601
# luma — brightness-shift invariant by construction), then an LSH band
# join over PHASH_BANDS byte-slices of the hash. Pigeonhole: two hashes
# within hamming distance PHASH_BANDS-1 share at least one identical
# band, so with HAM_MAX = PHASH_BANDS - 1 = 7 the banded candidate set
# contains EVERY true pair — recall 1.0, verified against a brute-force
# hamming oracle (the band join is the scale path: candidates are
# bucket-local, never all-pairs; the 64-bit hash is 8 bytes per image
# regardless of resolution).

PHASH_W, PHASH_H = 9, 8
PHASH_BANDS = 8
HAM_MAX = PHASH_BANDS - 1

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("phash", T.LongType()),
        T.StructField("error", T.StringType()),
    ]
)


def dhash64(img: np.ndarray) -> int:
    """Signed-int64 dHash: bit (8*y + x) set iff the 9x8 thumbnail's
    luma strictly decreases from column x to x+1 in row y."""
    small = resize_nearest(img, PHASH_W, PHASH_H).astype(np.float64)
    luma = (
        0.299 * small[:, :, 0]
        + 0.587 * small[:, :, 1]
        + 0.114 * small[:, :, 2]
    )
    v = 0
    for y in range(PHASH_H):
        for x in range(PHASH_W - 1):
            if luma[y, x] > luma[y, x + 1]:
                v |= 1 << (8 * y + x)
    return v - (1 << 64) if v >= 1 << 63 else v


def image_phash(media: DataFrame) -> DataFrame:
    """Decode + dHash every image (media_id, phash, error)."""
    import pyarrow as pa

    def per_row(payload: bytes):
        return (dhash64(decode_image(payload)),)

    fn = _media_map(per_row, ["phash"], [pa.int64()])
    return media.select("media_id", "payload").mapInArrow(
        fn, schema=PHASH_SCHEMA
    )


PHASH_BUCKET_CAP = 1024  # drop band buckets above this occupancy


def phash_pairs_of(ph: DataFrame, ham_max: int = HAM_MAX) -> DataFrame:
    """id_a, id_b, hamming — every image pair within ``ham_max`` bits,
    found via the band join (never all-pairs) and verified by exact
    bit_count on the candidate set. Requires ham_max < PHASH_BANDS for
    the pigeonhole recall guarantee.

    Scale honesty (multi-index hashing, Norouzi et al. 2012): the band
    key space is PHASH_BANDS x 2^(64/PHASH_BANDS) = 8 x 256 keys, so
    expected bucket occupancy grows as N/256 per band — hot buckets are
    STRUCTURAL for a 64-bit hash once N approaches ~10^5 x cap, not a
    data accident. PHASH_BUCKET_CAP bounds the join fan-out exactly
    like the text LSH_BUCKET_CAP (buckets above the cap are dropped,
    with the same documented recall trade; the fixture never reaches
    it, test-pinned). Past that corpus size the production knobs are a
    LONGER hash with wider bands (e.g. 256-bit pHash -> 8 x 32-bit
    bands, key space 2^32 per band) or a smaller radius — the cap makes
    the engine degrade loudly-boundedly instead of quadratically."""
    if ham_max >= PHASH_BANDS:
        raise ValueError(
            f"ham_max={ham_max} needs > {PHASH_BANDS} bands for recall"
        )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    good = ph.filter(F.col("error").isNull()).select("media_id", "phash")
    bands = good.select(
        "media_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.expr(
                            f"CAST(shiftrightunsigned(phash, {8 * b}) "
                            "& 255 AS INT)"
                        ).alias("v"),
                    )
                    for b in range(PHASH_BANDS)
                ]
            )
        ).alias("band"),
    )
    bw = Window.partitionBy("band")
    bands = (
        bands.withColumn("bucket_n", F.count("*").over(bw))
        .filter(F.col("bucket_n") <= PHASH_BUCKET_CAP)
        .drop("bucket_n")
    )
    left = bands.select(
        F.col("media_id").alias("id_a"),
        F.col("phash").alias("ph_a"),
        "band",
    )
    right = bands.select(
        F.col("media_id").alias("id_b"),
        F.col("phash").alias("ph_b"),
        "band",
    )
    return (
        left.join(right, on="band", how="inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ph_a", "ph_b")
        .distinct()
        .withColumn(
            "hamming",
            F.expr("CAST(bit_count(ph_a ^ ph_b) AS BIGINT)"),
        )
        .filter(F.col("hamming") <= ham_max)
        .select("id_a", "id_b", "hamming")
    )


# --- audio fingerprint (energy dHash) + the same banded near-dup join -------
#
# The audio analog of the image pass: a 64-bit fingerprint from the
# SIGNS of adjacent window-energy deltas over the mono mix (Haitsma &
# Kalker 2002's sub-fingerprint idea reduced to its sign-of-energy-
# delta core). Sign-of-delta makes it GAIN-invariant (scaling every
# sample by g scales every window energy by g^2, leaving all
# comparisons unchanged) and the mono mix makes it channel-layout-
# invariant — the two re-encode classes an exact md5 dedup misses.
# Pairing reuses phash_pairs_of verbatim: fingerprints are 8 bytes per
# clip regardless of duration, so the band join, the pigeonhole recall
# bound, and the bucket cap all carry over unchanged.

AUDIOFP_WINDOWS = 65

AUDIOFP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("afp", T.LongType()),
        T.StructField("error", T.StringType()),
    ]
)


def audiofp64(samples: np.ndarray) -> int:
    """Signed-int64 energy dHash: bit i set iff the mono mix's mean
    energy strictly decreases from window i to i+1, over 65 contiguous
    equal-count windows (integer boundaries i*n//65)."""
    mono = samples.astype(np.float64).mean(axis=1)
    n = mono.shape[0]
    if n < AUDIOFP_WINDOWS:
        raise ValueError(f"audio too short for fingerprint: {n} samples")
    sq = np.square(mono)
    bounds = [(i * n) // AUDIOFP_WINDOWS for i in range(AUDIOFP_WINDOWS + 1)]
    e = [float(np.mean(sq[bounds[i] : bounds[i + 1]])) for i in range(AUDIOFP_WINDOWS)]
    v = 0
    for i in range(AUDIOFP_WINDOWS - 1):
        if e[i] > e[i + 1]:
            v |= 1 << i
    return v - (1 << 64) if v >= 1 << 63 else v


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """Decode + fingerprint every audio clip (media_id, afp, error)."""
    import pyarrow as pa

    def per_row(payload: bytes):
        samples, _rate = decode_wav(payload)
        return (audiofp64(samples),)

    fn = _media_map(per_row, ["afp"], [pa.int64()])
    return media.select("media_id", "payload").mapInArrow(
        fn, schema=AUDIOFP_SCHEMA
    )


# --- video fingerprint (frame-sampled dHash) + aligned near-dup verify ------
#
# The frame-sampled video near-dup pass: dHash every k-th frame (at
# scale you never hash every frame of a 10^9-clip corpus — sampling is
# the volume knob, exactly like the text substring stride), then find
# clip pairs through the SAME 8-byte band machinery as images, keyed by
# (sample ordinal, band, value) so candidates stay frame-bucket-local.
# Verify is the strict aligned rule: a pair survives iff EVERY
# overlapping sampled frame is within HAM_MAX bits and the overlap has
# at least VHASH_MIN_OVERLAP frames. Pigeonhole recall 1.0 carries
# over: a true pair's every frame shares >= 1 band, so its clip pair is
# always a candidate. Truncated re-encodes (same video cut short) align
# on the sampled prefix; temporal-offset copies (leading frames cut)
# would need offset enumeration or shot-boundary anchors — out of scope
# here, documented limitation.

VHASH_EVERY_K = 2
VHASH_MIN_OVERLAP = 2

VHASH_CLIP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_sampled", T.IntegerType()),
        T.StructField("fhashes", T.ArrayType(T.LongType())),
        T.StructField("error", T.StringType()),
    ]
)


def video_frame_hashes(media: DataFrame, every_k: int = VHASH_EVERY_K) -> DataFrame:
    """Demux RAWV, dHash every k-th frame: (media_id, n_sampled,
    fhashes ARRAY<LONG>, error) — 8 bytes per sampled frame leave the
    Arrow stage, never the frames themselves."""
    import pyarrow as pa

    def per_row(payload: bytes):
        frames = decode_rawv(payload)[::every_k]
        hashes = [dhash64(decode_ppm(f)) for f in frames]
        return len(hashes), hashes

    fn = _media_map(
        per_row,
        ["n_sampled", "fhashes"],
        [pa.int32(), pa.list_(pa.int64())],
    )
    return media.select("media_id", "payload").mapInArrow(
        fn, schema=VHASH_CLIP_SCHEMA
    )


def vhash_pairs_of(
    vh: DataFrame,
    ham_max: int = HAM_MAX,
    min_overlap: int = VHASH_MIN_OVERLAP,
) -> DataFrame:
    """id_a, id_b, n_frames_cmp, max_hamming — every clip pair whose
    sampled frames ALL align within ``ham_max`` bits over an overlap of
    at least ``min_overlap`` frames. ``vh`` is the EXPLODED frame-hash
    table (media_id, frame_ord, fhash). Candidates come from the banded
    join keyed by (frame_ord, band, value) — bucket-local, never
    all-pairs — then ONE aligned equi-join re-reads the overlap to
    verify every frame (a frame past the radius may share no band, so
    the reject decision needs the full overlap, not just colliding
    frames). The per-key bucket cap bounds fan-out exactly like the
    image pass."""
    if ham_max >= PHASH_BANDS:
        raise ValueError(
            f"ham_max={ham_max} needs > {PHASH_BANDS} bands for recall"
        )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    bands = vh.select(
        "media_id",
        "frame_ord",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.expr(
                            f"CAST(shiftrightunsigned(fhash, {8 * b}) "
                            "& 255 AS INT)"
                        ).alias("v"),
                    )
                    for b in range(PHASH_BANDS)
                ]
            )
        ).alias("band"),
    )
    bw = Window.partitionBy("frame_ord", "band")
    bands = (
        bands.withColumn("bucket_n", F.count("*").over(bw))
        .filter(F.col("bucket_n") <= PHASH_BUCKET_CAP)
        .drop("bucket_n")
    )
    cand = (
        bands.select(F.col("media_id").alias("id_a"), "frame_ord", "band")
        .join(
            bands.select(
                F.col("media_id").alias("id_b"), "frame_ord", "band"
            ),
            on=["frame_ord", "band"],
            how="inner",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = vh.select(
        F.col("media_id").alias("id_a"),
        "frame_ord",
        F.col("fhash").alias("fh_a"),
    )
    b = vh.select(
        F.col("media_id").alias("id_b"),
        "frame_ord",
        F.col("fhash").alias("fh_b"),
    )
    return (
        cand.join(a, on="id_a", how="inner")
        .join(b, on=["id_b", "frame_ord"], how="inner")
        .withColumn(
            "hamming", F.expr("CAST(bit_count(fh_a ^ fh_b) AS BIGINT)")
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").cast("long").alias("n_frames_cmp"),
            F.max("hamming").alias("max_hamming"),
        )
        .filter(
            (F.col("max_hamming") <= ham_max)
            & (F.col("n_frames_cmp") >= min_overlap)
        )
    )


VHASH_MAX_OFFSET = 2


def vhash_pairs_offset_of(
    vh: DataFrame,
    ham_max: int = HAM_MAX,
    min_overlap: int = VHASH_MIN_OVERLAP,
    max_offset: int = VHASH_MAX_OFFSET,
) -> DataFrame:
    """id_a, id_b, offset, n_frames_cmp, max_hamming — the
    TEMPORAL-OFFSET upgrade of vhash_pairs_of: clips whose sampled
    frames align within ``ham_max`` bits at SOME shift d in
    [-max_offset, max_offset] (b.frame_ord = a.frame_ord + d), the
    re-encode class where leading frames were cut (intros, trims) that
    strict ord-equality misses. Per pair the BEST valid offset wins
    (largest overlap, then smallest |d|, then d — deterministic).

    Candidates: band join on (band, value) with the |ord_a - ord_b| <=
    max_offset window — recall 1.0 within the window by the same
    pigeonhole (every frame of a true pair shares >= 1 band with its
    shifted counterpart). The band key no longer carries frame_ord, so
    bucket occupancy grows by ~frames-per-clip vs the aligned pass —
    the cap bounds it identically; at production scale run the aligned
    pass first and this pass on its residue."""
    if ham_max >= PHASH_BANDS:
        raise ValueError(
            f"ham_max={ham_max} needs > {PHASH_BANDS} bands for recall"
        )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    bands = vh.select(
        "media_id",
        "frame_ord",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.expr(
                            f"CAST(shiftrightunsigned(fhash, {8 * b}) "
                            "& 255 AS INT)"
                        ).alias("v"),
                    )
                    for b in range(PHASH_BANDS)
                ]
            )
        ).alias("band"),
    )
    bw = Window.partitionBy("band")
    bands = (
        bands.withColumn("bucket_n", F.count("*").over(bw))
        .filter(F.col("bucket_n") <= PHASH_BUCKET_CAP)
        .drop("bucket_n")
    )
    cand = (
        bands.select(
            F.col("media_id").alias("id_a"),
            F.col("frame_ord").alias("ord_a"),
            "band",
        )
        .join(
            bands.select(
                F.col("media_id").alias("id_b"),
                F.col("frame_ord").alias("ord_b"),
                "band",
            ),
            on="band",
            how="inner",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.abs(F.col("ord_a") - F.col("ord_b"))
                <= F.lit(max_offset)
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    offs = cand.withColumn(
        "d", F.explode(F.sequence(F.lit(-max_offset), F.lit(max_offset)))
    )
    a = vh.select(
        F.col("media_id").alias("id_a"),
        F.col("frame_ord").alias("ord_a"),
        F.col("fhash").alias("fh_a"),
    )
    b = vh.select(
        F.col("media_id").alias("id_b"),
        F.col("frame_ord").alias("ord_b"),
        F.col("fhash").alias("fh_b"),
    )
    # string-key joins ONLY: cand shares lineage with vh (bands is a
    # projection of it), so DataFrame-attribute join conditions would
    # hit Spark's self-join ambiguous-resolution trap
    per_off = (
        offs.join(a, on="id_a", how="inner")
        .withColumn("ord_b", F.col("ord_a") + F.col("d"))
        .join(b, on=["id_b", "ord_b"], how="inner")
        .withColumn(
            "hamming", F.expr("CAST(bit_count(fh_a ^ fh_b) AS BIGINT)")
        )
        .groupBy("id_a", "id_b", "d")
        .agg(
            F.count("*").cast("long").alias("n_frames_cmp"),
            F.max("hamming").alias("max_hamming"),
        )
        .filter(
            (F.col("max_hamming") <= ham_max)
            & (F.col("n_frames_cmp") >= min_overlap)
        )
    )
    best = Window.partitionBy("id_a", "id_b").orderBy(
        F.desc("n_frames_cmp"), F.abs("d"), "d"
    )
    return (
        per_off.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .select(
            "id_a",
            "id_b",
            F.col("d").cast("long").alias("offset"),
            "n_frames_cmp",
            "max_hamming",
        )
    )
