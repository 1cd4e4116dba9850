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


def image_dhash(df: DataFrame, *, id_col: str = "media_id",
                payload_col: str = "payload") -> DataFrame:
    """63-bit difference hash (dHash) per image — the perceptual
    fingerprint behind LAION-style image dedup (recrawled /
    re-encoded / brightness-shifted copies of a picture hash close in
    Hamming distance while distinct pictures land far apart).

    Per payload: decode to grayscale (``_decode_gray``), area-mean
    resize to 9×8, then bit b = r*8+c is 1 iff cell (r, c+1) > (r, c) —
    the standard dHash gradient sign, invariant under any monotone
    global brightness/contrast shift. Bit 63 is skipped (int64 sign
    bit — the same convention as this repo's ``simhash``), so the
    fingerprint is a non-negative BIGINT that any engine can band,
    xor and popcount. Undecodable payloads yield NULL (callers drop or
    quarantine them; silently hashing garbage would cluster all broken
    files together). Images SMALLER than the 9×8 dHash grid are
    quarantined to NULL too: ``_area_resize`` would assign some target
    cells zero-width source blocks (repeated reduceat edges), whose
    0/0 means are inf/nan — distinct tiny images would collapse onto
    similar nan-driven bit patterns and get deleted as "near-dups".
    NULL ids are dropped before the decode stage (an id-less payload
    can't participate in keeper election anyway, and ``int(mid)``
    on a NULL would fail the whole Arrow batch).

    Plan shape: one projected (id, payload) scan through an
    Arrow-batched ``mapInPandas`` — the decode stage pattern of
    ``decode_image_features``. No shuffle; pair finding happens
    downstream on the 8-byte fingerprints ONLY, so at 100 TB the image
    bytes are read exactly once and never leave their scan tasks.
    The decode body is a deliberate per-item numpy loop: at thumbnail
    sizes (~300 B payloads) it measures ~23 µs/image, and a
    same-shape-stacking vectorized variant was built and measured
    SLOWER (3.8 s vs 2.3 s per 100k — the gather/scatter around the
    batch outweighs the trivial per-image numpy win), so the simple
    form is the fast form here. The stage is embarrassingly parallel;
    throughput scales with cores. Generalizes the reference's
    cover-image handling (cv_fetch_covers.py:116-126, S9) from
    store-and-serve to dedup-grade fingerprints.
    """
    import numpy as np

    def dh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(63, dtype=np.uint64)
        for pdf in batches:
            ids, fps = [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                img = _decode_gray(bytes(payload)) if payload is not None else None
                if img is None or img.shape[0] < DHASH_H or img.shape[1] < DHASH_W:
                    ids.append(int(mid)); fps.append(None)
                    continue
                g = _area_resize(img, DHASH_H, DHASH_W)
                bits = (g[:, 1:] > g[:, :-1]).flatten()[:63]
                fp = int((bits.astype(np.uint64) << shifts).sum())
                ids.append(int(mid)); fps.append(fp)
            yield pd.DataFrame({"media_id": ids,
                                "dhash": pd.array(fps, dtype="Int64")})

    return (df.filter(F.col(id_col).isNotNull())
            .select(F.col(id_col).alias(id_col),
                    F.col(payload_col).alias(payload_col))
            .mapInPandas(dh, schema="media_id long, dhash long"))


def image_dhash_wide(df: DataFrame, *, id_col: str = "media_id",
                     payload_col: str = "payload") -> DataFrame:
    """126-bit wide perceptual fingerprint — two 63-bit limbs
    ``(dhash_h, dhash_v)``: the horizontal dHash of ``image_dhash``
    plus its vertical sibling over the SAME 9×8 area-mean grid
    (bit r*9+c of the v-limb is 1 iff cell (r+1, c) > (r, c) —
    7 comparison rows × 9 columns = exactly 63 bits, no skip needed).

    WHY WIDE (measured r9, PLANS.md "image_dedup at 10×"): banded LSH
    over a 63-bit fingerprint caps out near ~10M items — at minimal
    banding (3 × 21-bit bands) the accidental-candidate term grows as
    ~n²/2²¹ and the band value space can't be widened without voiding
    the pigeonhole guarantee. Doubling the bit space squares the
    per-band value space at equal band COUNT (126/5 ⇒ 25-bit bands =
    33M values vs 21-bit = 2M), pushing the same machinery to ~10⁹
    items (LAION scale). Downstream banding treats the two limbs as
    one concatenated 126-bit space (``operators.dedup.
    hamming_band_pairs``); Hamming distance is the SUM of per-limb
    xor popcounts — still pure JVM codegen on two BIGINT columns.

    Cost: one extra gradient pass over the already-computed 9×8 grid —
    the decode and resize (the real work) are shared with the 63-bit
    path. Same quarantine contract as ``image_dhash``: undecodable or
    sub-9×8 payloads → NULL limbs; NULL ids dropped.
    """
    import numpy as np

    def dh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(63, dtype=np.uint64)
        for pdf in batches:
            ids, hs, vs = [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                img = _decode_gray(bytes(payload)) if payload is not None else None
                if img is None or img.shape[0] < DHASH_H or img.shape[1] < DHASH_W:
                    ids.append(int(mid)); hs.append(None); vs.append(None)
                    continue
                g = _area_resize(img, DHASH_H, DHASH_W)
                hbits = (g[:, 1:] > g[:, :-1]).flatten()[:63]
                vbits = (g[1:, :] > g[:-1, :]).flatten()[:63]
                hs.append(int((hbits.astype(np.uint64) << shifts).sum()))
                vs.append(int((vbits.astype(np.uint64) << shifts).sum()))
                ids.append(int(mid))
            yield pd.DataFrame({"media_id": ids,
                                "dhash_h": pd.array(hs, dtype="Int64"),
                                "dhash_v": pd.array(vs, dtype="Int64")})

    return (df.filter(F.col(id_col).isNotNull())
            .select(F.col(id_col).alias(id_col),
                    F.col(payload_col).alias(payload_col))
            .mapInPandas(dh, schema="media_id long, dhash_h long, dhash_v long"))


def image_dhash_xwide(df: DataFrame, *, id_col: str = "media_id",
                      payload_col: str = "payload") -> DataFrame:
    """189-bit THREE-limb perceptual fingerprint ``(dhash_h, dhash_v,
    dhash_d)`` — the next rung of the width ladder measured in the r10
    crossover sweep (PLANS.md: narrow63 accidental candidates cross
    true pairs near ~3M items, wide126 near ~30M; three limbs at
    max_hamming=6 give 7 × 27-bit bands ⇒ crossover ~120M). The
    pairing/probe/election machinery is the SAME N-limb code
    (``hamming_band_pairs`` / ``hamming_band_probe`` /
    ``hamming_fp_dedup``) — this function is the ONLY new code a rung
    costs, exactly as the ladder note claims.

    Limbs over the shared 9×8 area-mean grid: h and v exactly as
    ``image_dhash_wide``; the d-limb packs 56 main-diagonal gradient
    signs (bit r*8+c = cell (r+1, c+1) > cell (r, c), r∈0..6, c∈0..7)
    plus 7 anti-diagonal signs from the top rows (bit 56+c =
    cell (1, c) > cell (0, c+1), c∈0..6) — 63 used bits, no sign bit,
    all invariant under monotone brightness shifts like the other
    limbs. Same quarantine contract: undecodable / sub-9×8 payloads →
    all limbs NULL; NULL ids dropped.
    """
    import numpy as np

    def dh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(63, dtype=np.uint64)
        d_shifts = np.arange(56, dtype=np.uint64)
        a_shifts = np.arange(56, 63, dtype=np.uint64)
        for pdf in batches:
            ids, hs, vs, ds = [], [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                img = _decode_gray(bytes(payload)) if payload is not None else None
                if img is None or img.shape[0] < DHASH_H or img.shape[1] < DHASH_W:
                    ids.append(int(mid))
                    hs.append(None); vs.append(None); ds.append(None)
                    continue
                g = _area_resize(img, DHASH_H, DHASH_W)
                hbits = (g[:, 1:] > g[:, :-1]).flatten()[:63]
                vbits = (g[1:, :] > g[:-1, :]).flatten()[:63]
                dbits = (g[1:, 1:] > g[:-1, :-1]).flatten()[:56]
                abits = (g[1, :7] > g[0, 1:8])
                hs.append(int((hbits.astype(np.uint64) << shifts).sum()))
                vs.append(int((vbits.astype(np.uint64) << shifts).sum()))
                ds.append(int((dbits.astype(np.uint64) << d_shifts).sum()
                              + (abits.astype(np.uint64) << a_shifts).sum()))
                ids.append(int(mid))
            yield pd.DataFrame({"media_id": ids,
                                "dhash_h": pd.array(hs, dtype="Int64"),
                                "dhash_v": pd.array(vs, dtype="Int64"),
                                "dhash_d": pd.array(ds, dtype="Int64")})

    return (df.filter(F.col(id_col).isNotNull())
            .select(F.col(id_col).alias(id_col),
                    F.col(payload_col).alias(payload_col))
            .mapInPandas(dh, schema="media_id long, dhash_h long, "
                                    "dhash_v long, dhash_d long"))


def image_dhash_qwide(df: DataFrame, *, id_col: str = "media_id",
                      payload_col: str = "payload") -> DataFrame:
    """252-bit FOUR-limb perceptual fingerprint ``(dhash_h, dhash_v,
    dhash_d, dhash_a)`` — the final rung of the width ladder: four
    63-bit limbs at max_hamming=6 give 7 × 36-bit bands, which by the
    crossover rule (2^band_bits ≫ corpus/n_bands) carries banded
    dedup into the 10⁹ LAION regime the PLANS.md ladder note names.
    As with every rung, the pairing/probe/election machinery is the
    SAME N-limb code (``hamming_band_pairs`` / ``hamming_band_probe``
    / ``hamming_fp_dedup``) — this function is the only new code.

    Limbs over the shared 9×8 area-mean grid: h, v, d exactly as
    ``image_dhash_xwide``; the a-limb packs 56 ANTI-diagonal gradient
    signs (bit r*8+c = cell (r+1, c) > cell (r, c+1), r∈0..6, c∈0..7)
    plus 7 skip-one horizontal signs from the top row (bit 56+c =
    cell (0, c+2) > cell (0, c), c∈0..6) — 63 used bits, no sign bit,
    all invariant under monotone brightness shifts. Same quarantine
    contract: undecodable / sub-9×8 payloads → all limbs NULL; NULL
    ids dropped."""
    import numpy as np

    def dh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(63, dtype=np.uint64)
        d_shifts = np.arange(56, dtype=np.uint64)
        x_shifts = np.arange(56, 63, dtype=np.uint64)
        for pdf in batches:
            ids, hs, vs, ds, qs = [], [], [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                img = _decode_gray(bytes(payload)) if payload is not None else None
                if img is None or img.shape[0] < DHASH_H or img.shape[1] < DHASH_W:
                    ids.append(int(mid))
                    hs.append(None); vs.append(None)
                    ds.append(None); qs.append(None)
                    continue
                g = _area_resize(img, DHASH_H, DHASH_W)
                hbits = (g[:, 1:] > g[:, :-1]).flatten()[:63]
                vbits = (g[1:, :] > g[:-1, :]).flatten()[:63]
                dbits = (g[1:, 1:] > g[:-1, :-1]).flatten()[:56]
                abits = (g[1, :7] > g[0, 1:8])
                qmain = (g[1:, :-1] > g[:-1, 1:]).flatten()[:56]
                qextra = (g[0, 2:9] > g[0, 0:7])
                hs.append(int((hbits.astype(np.uint64) << shifts).sum()))
                vs.append(int((vbits.astype(np.uint64) << shifts).sum()))
                ds.append(int((dbits.astype(np.uint64) << d_shifts).sum()
                              + (abits.astype(np.uint64) << x_shifts).sum()))
                qs.append(int((qmain.astype(np.uint64) << d_shifts).sum()
                              + (qextra.astype(np.uint64) << x_shifts).sum()))
                ids.append(int(mid))
            yield pd.DataFrame({"media_id": ids,
                                "dhash_h": pd.array(hs, dtype="Int64"),
                                "dhash_v": pd.array(vs, dtype="Int64"),
                                "dhash_d": pd.array(ds, dtype="Int64"),
                                "dhash_a": pd.array(qs, dtype="Int64")})

    return (df.filter(F.col(id_col).isNotNull())
            .select(F.col(id_col).alias(id_col),
                    F.col(payload_col).alias(payload_col))
            .mapInPandas(dh, schema="media_id long, dhash_h long, "
                                    "dhash_v long, dhash_d long, "
                                    "dhash_a long"))


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
