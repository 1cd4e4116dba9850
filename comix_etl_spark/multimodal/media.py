"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata structs (SURVEY.md §7; generalizes the reference's cover-image
handling, cv_fetch_covers.py:116-126 / S9).

The Spark-side plumbing is real and tested — schema (schemas.MEDIA),
binaryFile ingest, metadata derivation in codegen, and Arrow-batched
``mapInPandas`` decode with a stable batch shape. Decode reality
varies by format: compressed-image pixel decode is STUBBED (this
container has no Pillow/ffmpeg; a clearly-marked deterministic fake
stands in, so swapping in a real decoder changes one function body
and nothing about the distributed plan), the RAW8 grayscale container
(``_decode_gray``) and PCM WAV audio (``decode_wav_pcm`` — full
RIFF chunk walk, 16-bit PCM, channel downmix) are parsed for REAL
with numpy only.

Scale notes: payloads never pass through Python except in the decode
stage (Arrow batches); metadata-only queries (size, hash, mime) stay
JVM-side so filtering 100 TB of media by metadata never deserializes a
payload. Decode stages should run after the strongest possible metadata
filter and with ``spark.sql.files.maxPartitionBytes`` sized so one task's
batch of payloads fits executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FEATURE_SCHEMA = "media_id long, n_bytes long, sha256 string, fake_width int, fake_height int, fake_mean_luma double"


def read_binary_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """S9 ingest — Spark's binaryFile source: (path, modificationTime,
    length, content) per file; pushdown prunes by path/length without
    reading payloads."""
    return spark.read.format("binaryFile").load(path_glob)


def attach_binary_metadata(df: DataFrame,
                           payload_col: str = "payload") -> DataFrame:
    """Derive the typed metadata struct JVM-side (no decode): byte size,
    content hash, and a mime guess from magic bytes. RIFF is a
    CONTAINER: bytes 9-12 disambiguate WAV audio from WebP images and
    AVI video — mapping every RIFF to audio/wav would route .webp
    covers into the audio pipeline."""
    payload = F.col(payload_col)
    magic = F.hex(F.substring(payload, 1, 4))
    riff_tag = F.hex(F.substring(payload, 9, 4))
    mime = (
        F.when(magic.startswith("89504E47"), F.lit("image/png"))
        .when(magic.startswith("FFD8"), F.lit("image/jpeg"))
        .when(magic.startswith("52494646"),
              F.when(riff_tag == "57415645", F.lit("audio/wav"))     # WAVE
              .when(riff_tag == "57454250", F.lit("image/webp"))     # WEBP
              .when(riff_tag == "41564920", F.lit("video/x-msvideo"))  # AVI
              .otherwise(F.lit("application/octet-stream")))
        .otherwise(F.lit("application/octet-stream"))
    )
    return df.withColumn(
        "meta",
        F.struct(
            mime.alias("mime"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.sha2(payload, 256).alias("sha256"),
        ),
    )


def decode_image_features(df: DataFrame, *, id_col: str = "media_id",
                          payload_col: str = "payload") -> DataFrame:
    """Arrow-batched decode → feature rows.

    The distributed shape is production-real: project only (id, payload),
    stream Arrow batches through ``mapInPandas``, emit a fixed feature
    schema. The decode body is a STUB (see module docstring).
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                # ---- STUB: real impl calls PIL.Image.open(BytesIO(data)) ----
                # Deterministic fake features derived from content bytes so
                # tests are stable and the plumbing is exercised end-to-end.
                digest = hashlib.sha256(data).hexdigest()
                rows.append({
                    "media_id": int(mid),
                    "n_bytes": len(data),
                    "sha256": digest,
                    "fake_width": 1 + int(digest[:4], 16) % 4096,
                    "fake_height": 1 + int(digest[4:8], 16) % 4096,
                    "fake_mean_luma": (int(digest[8:12], 16) % 10_000) / 10_000.0,
                })
            yield pd.DataFrame(rows, columns=[
                "media_id", "n_bytes", "sha256", "fake_width", "fake_height", "fake_mean_luma"])

    return df.select(id_col, payload_col).mapInPandas(decode, schema=FEATURE_SCHEMA)


DHASH_W, DHASH_H = 9, 8  # 8 rows x 8 column-comparisons = 64 bits; bit 63 skipped


def _decode_gray(data: bytes):
    """Decode a payload to a 2-D float64 grayscale matrix, or None when
    undecodable. The RAW8 container (b'RW8' + width byte + height byte
    + row-major uint8 pixels) is parsed for REAL — header validation,
    length check, reshape — so the fingerprint path below is exercised
    end-to-end on actual bytes.
    ---- STUB boundary: real impl adds, before the RAW8 branch,
    `PIL.Image.open(BytesIO(data)).convert("L")` for PNG/JPEG/WebP
    payloads (this container has no image libs; see module docstring).
    Swapping in Pillow changes THIS function only — the distributed
    plan, batch shape and fingerprint contract are unchanged. ----"""
    import numpy as np

    if len(data) < 5 or data[:3] != b"RW8":
        return None
    w, h = data[3], data[4]
    px = np.frombuffer(data, dtype=np.uint8, offset=5)
    if w == 0 or h == 0 or px.size != w * h:
        return None
    return px.reshape(h, w).astype(np.float64)


def _area_resize(img, out_h: int, out_w: int):
    """INTER_AREA-style downscale: mean over the source block each
    target cell covers (edges at floor(i*src/out) — exact block means
    when src is an integer multiple of out). Pure numpy reduceat, no
    image libs."""
    import numpy as np

    h, w = img.shape
    re = (np.arange(out_h) * h) // out_h
    ce = (np.arange(out_w) * w) // out_w
    s = np.add.reduceat(np.add.reduceat(img, re, axis=0), ce, axis=1)
    rc = np.diff(np.append(re, h)).astype(np.float64)
    cc = np.diff(np.append(ce, w)).astype(np.float64)
    return s / rc[:, None] / cc[None, :]


def image_dhash(df: DataFrame, *, n_limbs: int = 1,
                id_col: str = "media_id",
                payload_col: str = "payload") -> DataFrame:
    """Difference-hash (dHash) perceptual fingerprint per image, as
    ``n_limbs`` 63-bit BIGINT limbs — the fingerprint behind LAION-style
    image dedup (recrawled / re-encoded / brightness-shifted copies of
    a picture hash close in Hamming distance while distinct pictures
    land far apart).

    Output: ``(media_id, dhash)`` for ``n_limbs=1``; for 2–4 the prefix
    of ``(dhash_h, dhash_v, dhash_d, dhash_a)`` — 126, 189 or 252 bits.
    Any other ``n_limbs`` raises ``ValueError``.

    Per payload: decode to grayscale (``_decode_gray``), area-mean
    resize to the 9×8 grid ``g``, then pack each limb's 63 gradient
    signs (bit i = 1 iff the i-th comparison holds). Every limb is a
    strict comparison of two cells, so all are invariant under any
    monotone global brightness/contrast shift. Bit 63 is never used
    (int64 sign bit — the convention of this repo's ``simhash``), so
    every limb is a non-negative BIGINT that any engine can band, xor
    and popcount. The limbs, all over the same grid:
      h: bit r*8+c = g(r, c+1) > g(r, c) (8 rows × 8 comparisons, bit
         63 skipped) — the standard dHash, and the one-limb ``dhash``;
      v: bit r*9+c = g(r+1, c) > g(r, c), r∈0..6 (7 × 9 = 63 bits);
      d: bit r*8+c = g(r+1, c+1) > g(r, c), r∈0..6, c∈0..7, plus
         bit 56+c = g(1, c) > g(0, c+1), c∈0..6;
      a: bit r*8+c = g(r+1, c) > g(r, c+1), r∈0..6, c∈0..7, plus
         bit 56+c = g(0, c+2) > g(0, c), c∈0..6.

    WHY MORE LIMBS (measured r9/r10, PLANS.md "image_dedup at 10×" and
    "r10 scale-evidence run"): banded LSH over one 63-bit limb caps out
    near ~10M items — at minimal banding (3 × 21-bit bands) the
    accidental-candidate term grows as ~n²/2²¹ and the band value space
    can't be widened without voiding the pigeonhole guarantee. Each
    limb adds 63 bits to the concatenated space that
    ``operators.dedup.hamming_band_pairs`` bands (Hamming distance is
    the SUM of per-limb xor popcounts), so at an equal-rate threshold
    the bands widen: 63 bits at Hamming ≤ 2 → 3 × 21-bit bands
    (accidental candidates cross true pairs near ~3M items); 126 at
    ≤ 4 → 5 × 25-bit (~30M); 189 at ≤ 6 → 7 × 27-bit (~120M); 252 at
    ≤ 6 → 7 × 36-bit, which by the crossover rule
    (2^band_bits ≫ corpus/n_bands) reaches the 10⁹ LAION regime. The
    decode and resize — the real work — are shared by every limb;
    each extra limb costs one gradient pass over the 9×8 grid.

    Quarantine: undecodable payloads yield NULL limbs (callers drop or
    quarantine them; silently hashing garbage would cluster all broken
    files together). Images SMALLER than the 9×8 grid are quarantined
    to NULL too: ``_area_resize`` would assign some target cells
    zero-width source blocks (repeated reduceat edges), whose 0/0 means
    are inf/nan — distinct tiny images would collapse onto similar
    nan-driven bit patterns and get deleted as "near-dups". NULL ids
    are dropped before the decode stage (an id-less payload can't
    participate in keeper election anyway, and ``int(mid)`` on a NULL
    would fail the whole Arrow batch).

    Plan shape: one projected (id, payload) scan through an
    Arrow-batched ``mapInPandas`` — the decode stage pattern of
    ``decode_image_features``. No shuffle; pair finding happens
    downstream on the 8-byte limbs ONLY, so at 100 TB the image bytes
    are read exactly once and never leave their scan tasks. The decode
    body is a deliberate per-item numpy loop: at thumbnail sizes
    (~300 B payloads) it measures ~23 µs/image, and a
    same-shape-stacking vectorized variant was built and measured
    SLOWER (3.8 s vs 2.3 s per 100k — the gather/scatter around the
    batch outweighs the trivial per-image numpy win), so the simple
    form is the fast form here. The stage is embarrassingly parallel;
    throughput scales with cores. Generalizes the reference's
    cover-image handling (cv_fetch_covers.py:116-126, S9) from
    store-and-serve to dedup-grade fingerprints.
    """
    import numpy as np

    if n_limbs not in (1, 2, 3, 4):
        raise ValueError(f"n_limbs={n_limbs!r}: must be 1, 2, 3 or 4")
    names = (["dhash"] if n_limbs == 1
             else [f"dhash_{k}" for k in "hvda"[:n_limbs]])
    limbs = (
        lambda g: (g[:, 1:] > g[:, :-1]).ravel()[:63],
        lambda g: (g[1:, :] > g[:-1, :]).ravel(),
        lambda g: np.concatenate(((g[1:, 1:] > g[:-1, :-1]).ravel(),
                                  g[1, :7] > g[0, 1:8])),
        lambda g: np.concatenate(((g[1:, :-1] > g[:-1, 1:]).ravel(),
                                  g[0, 2:9] > g[0, 0:7])),
    )[:n_limbs]

    def dh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(63, dtype=np.uint64)
        for pdf in batches:
            ids, cols = [], [[] for _ in limbs]
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                img = _decode_gray(bytes(payload)) if payload is not None else None
                ids.append(int(mid))
                if img is None or img.shape[0] < DHASH_H or img.shape[1] < DHASH_W:
                    for col in cols:
                        col.append(None)
                    continue
                g = _area_resize(img, DHASH_H, DHASH_W)
                for col, limb in zip(cols, limbs):
                    col.append(int((limb(g).astype(np.uint64) << shifts).sum()))
            yield pd.DataFrame({"media_id": ids, **{
                n: pd.array(col, dtype="Int64") for n, col in zip(names, cols)}})

    return (df.filter(F.col(id_col).isNotNull())
            .select(F.col(id_col).alias(id_col),
                    F.col(payload_col).alias(payload_col))
            .mapInPandas(dh, schema=", ".join(
                ["media_id long"] + [f"{n} long" for n in names])))


def frame_sample_plan(df: DataFrame, *, every_ms: int = 1000,
                      duration_col: str = "meta.duration_ms",
                      id_col: str = "media_id") -> DataFrame:
    """Video frame-sampling plan: one output row per (media, frame_ts).

    Generates the sample grid JVM-side with ``sequence``/``explode`` —
    the expensive part (decoding frames at those timestamps) would be a
    ``mapInPandas`` stage exactly like ``decode_image_features``.

    Fencepost: media spanning [0, duration) has no frame AT duration —
    a 3000 ms clip sampled every 1000 ms yields 0/1000/2000, not a
    seek-out-of-range 3000. NULL/zero durations still emit frame 0
    (the poster-frame convention for stills/unknown media).
    """
    dur = F.coalesce(F.col(duration_col), F.lit(0))
    n = (F.greatest(dur - 1, F.lit(0)) / every_ms).cast("long")
    grid = F.sequence(F.lit(0).cast("long"), n)
    return (
        df.select(F.col(id_col), F.explode(grid).alias("frame_idx"))
        .withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)
    )


AUDIO_FRAMES = 64  # energy-contour frames per clip -> 63 delta bits


def decode_wav_pcm(data: bytes):
    """REAL (not stubbed) PCM WAV decoder — RIFF/WAVE container walk
    with no external libs: validates the RIFF/WAVE magic, walks chunks
    ('fmt ' then 'data', tolerating extra chunks like LIST/fact),
    accepts uncompressed PCM (format code 1) at 16-bit depth, and
    returns (sample_rate, mono float64 samples) with multi-channel
    audio downmixed by mean. Returns None for anything else
    (compressed codecs like MP3/AAC would go through a real decoder
    lib here — that escalation mirrors `_decode_gray`'s stub boundary,
    but plain PCM WAV needs none). Truncated/malformed chunks → None,
    never garbage samples."""
    import numpy as np

    if len(data) < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos, fmt, raw = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        size = int.from_bytes(data[pos + 4:pos + 8], "little")
        body = data[pos + 8:pos + 8 + size]
        if len(body) < size:
            return None
        if cid == b"fmt " and size >= 16:
            fmt = (int.from_bytes(body[0:2], "little"),    # format code
                   int.from_bytes(body[2:4], "little"),    # channels
                   int.from_bytes(body[4:8], "little"),    # sample rate
                   int.from_bytes(body[14:16], "little"))  # bits/sample
        elif cid == b"data":
            raw = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or raw is None:
        return None
    code, channels, rate, bits = fmt
    if code != 1 or bits != 16 or channels < 1 or rate <= 0:
        return None
    n = len(raw) // (2 * channels)
    if n == 0:
        return None
    samples = (np.frombuffer(raw, dtype="<i2", count=n * channels)
               .reshape(n, channels).astype(np.float64).mean(axis=1))
    return rate, samples


def audio_energy_fingerprint(df: DataFrame, *, id_col: str = "media_id",
                             payload_col: str = "payload") -> DataFrame:
    """63-bit energy-contour fingerprint per audio clip — the
    volume-invariant dedup sketch for audio corpora (re-encoded /
    re-normalized copies of a recording keep their LOUDNESS SHAPE even
    when absolute levels shift; distinct recordings don't).

    Per payload: decode PCM WAV (``decode_wav_pcm`` — a real parser),
    cut the mono signal into ``AUDIO_FRAMES`` equal frames (remainder
    truncated; clips shorter than AUDIO_FRAMES samples → NULL), per
    frame sum |amplitude|, then bit f = energy(f+1) > energy(f) for
    f in 0..62 — invariant under any positive gain, the same
    sign-of-delta construction as ``image_dhash`` so the SAME banded
    Hamming machinery downstream (``operators.dedup.hamming_fp_dedup``
    / ``hamming_band_pairs`` / ``hamming_band_probe``) pairs audio.

    Output: (media_id, afp, sample_rate, n_samples) — afp NULL for
    undecodable payloads. NULL ids are dropped before the decode stage
    (same contract as ``image_dhash``: an id-less clip can't be elected
    or deleted, and ``int(mid)`` on NULL would fail the Arrow batch).
    Plan shape: one projected scan through Arrow ``mapInPandas``;
    audio bytes never leave their scan tasks.
    """
    import numpy as np

    def af(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(63, dtype=np.uint64)
        for pdf in batches:
            ids, fps, rates, ns = [], [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                dec = decode_wav_pcm(bytes(payload)) if payload is not None else None
                ids.append(int(mid))
                if dec is None or dec[1].size < AUDIO_FRAMES:
                    fps.append(None); rates.append(None); ns.append(None)
                    continue
                rate, s = dec
                flen = s.size // AUDIO_FRAMES
                e = np.abs(s[:flen * AUDIO_FRAMES]).reshape(
                    AUDIO_FRAMES, flen).sum(axis=1)
                bits = (e[1:] > e[:-1])[:63]
                fps.append(int((bits.astype(np.uint64) << shifts).sum()))
                rates.append(int(rate)); ns.append(int(s.size))
            yield pd.DataFrame({
                "media_id": ids,
                "afp": pd.array(fps, dtype="Int64"),
                "sample_rate": pd.array(rates, dtype="Int64"),
                "n_samples": pd.array(ns, dtype="Int64")})

    return (df.filter(F.col(id_col).isNotNull())
            .select(F.col(id_col).alias(id_col),
                    F.col(payload_col).alias(payload_col))
            .mapInPandas(af, schema="media_id long, afp long, "
                                    "sample_rate long, n_samples long"))
