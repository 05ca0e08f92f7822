"""Image payload kernels (BASELINE.json input_hint; SURVEY.md S11/S12, §2.10).

The engine's image+caption table carries opaque ``bytes:binary`` plus typed
metadata ``(w:int32, h:int32, fmt:string, phash:int64)``. Decode / verify /
phash run as **vectorized pandas UDFs** over Arrow batches — never per-row
Python at the Spark level (the per-element loops below are inside one Arrow
batch, exactly like PIL would be).

Codecs
------
* ``png``  — a real, spec-conformant subset of PNG (8-bit RGB, filter 0,
  zlib), written with stdlib ``zlib`` + ``struct`` because no image library
  ships in this container. Lossless: decode(encode(x)) == x exactly.
* ``fjpg`` — a deterministic **stand-in for JPEG** (marked ``fmt='jpeg'``):
  uniform quantization (step=8/channel) + zlib. It is lossy with bounded
  error, so the reference invariant "decoded-pixel PSNR ≥ 40 dB for lossy"
  (input_hint) is a real check: step-8 quantization gives RMSE ≈ 2.3 →
  PSNR ≈ 40.9 dB. Swap ``encode_jpeg/decode_jpeg`` for PIL/turbojpeg in a
  real deployment; every Spark-side signature stays identical.

The perceptual hash is an 8×8 average-hash over the grayscale image —
standard public aHash construction.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"
FJPG_MAGIC = b"FJPG"
JPEG_QUANT_STEP = 8  # → PSNR ≈ 40.9 dB, above the ≥40 dB invariant


# ----------------------------------------------------------------------- PNG
def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → PNG bytes (color type 2, bit depth 8, filter 0)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes (as produced by :func:`encode_png`) → (h, w, 3) uint8."""
    assert data[:8] == PNG_SIG, "not a PNG"
    pos, w = 8, 0
    h = 0
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            assert depth == 8 and ctype == 2, "only 8-bit RGB supported"
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(idat), np.uint8).reshape(h, 1 + w * 3)
    assert (raw[:, 0] == 0).all(), "only filter 0 supported"
    return raw[:, 1:].reshape(h, w, 3).copy()


# ---------------------------------------------------------------- fake JPEG
def encode_jpeg(pixels: np.ndarray) -> bytes:
    """Deterministic lossy stand-in codec (see module docstring)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    q = (pixels.astype(np.int32) // JPEG_QUANT_STEP).astype(np.uint8)
    return FJPG_MAGIC + struct.pack(">IIB", w, h, JPEG_QUANT_STEP) + zlib.compress(q.tobytes(), 6)


def decode_jpeg(data: bytes) -> np.ndarray:
    assert data[:4] == FJPG_MAGIC, "not an FJPG payload"
    w, h, step = struct.unpack(">IIB", data[4:13])
    q = np.frombuffer(zlib.decompress(data[13:]), np.uint8).reshape(h, w, 3)
    # dequantize to bin centers, clipped to byte range
    return np.clip(q.astype(np.int32) * step + step // 2, 0, 255).astype(np.uint8)


def decode_image(data: bytes) -> np.ndarray:
    """Dispatch on magic bytes → (h, w, 3) uint8 pixel array."""
    if data[:8] == PNG_SIG:
        return decode_png(data)
    if data[:4] == FJPG_MAGIC:
        return decode_jpeg(data)
    raise NotImplementedError(
        "unknown image container — in a real deployment this dispatches to "
        "PIL/libjpeg; only png/fjpg are available in this sandbox"
    )


# ------------------------------------------------------------------ resize
def resize_pixels(px: np.ndarray, w: int, h: int) -> np.ndarray:
    """Nearest-neighbour resize (h_out, w_out) — real, pure numpy."""
    ys = (np.arange(h) * px.shape[0]) // h
    xs = (np.arange(w) * px.shape[1]) // w
    return px[np.ix_(ys, xs)]


def resize_images_kernel(target_w: int, target_h: int, out_fmt: str = "png"):
    """mapInPandas kernel factory: (image_id, bytes) → resized (image_id,
    bytes, w, h). Decode → resize → re-encode inside the Arrow batch."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            rows = []
            for image_id, data in zip(pdf["image_id"], pdf["bytes"]):
                px = resize_pixels(decode_image(bytes(data)), target_w, target_h)
                out = encode_png(px) if out_fmt == "png" else encode_jpeg(px)
                rows.append({"image_id": image_id, "bytes": out, "w": target_w, "h": target_h})
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h"])

    return kernel


RESIZED_SCHEMA = "image_id string, bytes binary, w int, h int"


# ----------------------------------------------------------------- metrics
def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(20.0 * np.log10(255.0) - 10.0 * np.log10(mse))


def phash64(pixels: np.ndarray) -> int:
    """8×8 average-hash of the grayscale image → signed int64.

    Box-downsample to 8×8 (images here are multiples of 8; general case uses
    nearest-neighbour index sampling), threshold at the mean, pack 64 bits
    row-major (MSB first).
    """
    gray = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(8) * w) // 8
    small = gray[np.ix_(ys, xs)]
    bits = (small > small.mean()).astype(np.uint64).ravel()
    val = np.uint64(0)
    for b in bits:
        val = (val << np.uint64(1)) | b
    return int(val.astype(np.int64))  # two's-complement into Spark LongType


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def quadrant_phashes(pixels: np.ndarray) -> list[int]:
    """pHash of each 2×2 quadrant (TL, TR, BL, BR by integer halves) —
    the crop/watermark-robust fingerprint: a corner logo, timestamp
    overlay or letterbox bar perturbs ONE quadrant's hash while the other
    three stay near-identical, so quadrant-vote dedup catches variants the
    whole-image pHash misses (the global mean threshold shifts and bits
    flip everywhere). Order is row-major; images smaller than 2×2 raise
    inside phash64's downsample (the decode kernel quarantines them)."""
    h, w, _ = pixels.shape
    hh, hw = h // 2, w // 2
    return [
        phash64(pixels[:hh, :hw]),
        phash64(pixels[:hh, hw:]),
        phash64(pixels[hh:, :hw]),
        phash64(pixels[hh:, hw:]),
    ]


def orientation_phashes(pixels: np.ndarray) -> list[int]:
    """pHash of the four axis-aligned orientations — identity, horizontal
    mirror, vertical mirror, 180° rotation (the flip subgroup of the
    dihedral group that preserves aspect ratio). Each is the EXACT hash of
    the transformed pixels, not a bit-permutation approximation."""
    return [
        phash64(pixels),
        phash64(pixels[:, ::-1]),
        phash64(pixels[::-1]),
        phash64(pixels[::-1, ::-1]),
    ]


def flip_canonical_phash(pixels: np.ndarray) -> int:
    """Orientation-canonical perceptual hash: the minimum of the four
    :func:`orientation_phashes` under UNSIGNED 64-bit comparison (a
    deterministic total order; signed min would split the space at the
    sign bit). Mirrored re-uploads — one of the classic duplicate classes
    in scraped image corpora — hash ~32 hamming bits away from their
    master on the plain pHash (the 8×8 grid mirrors, half the off-axis
    bit pairs flip) but land on the SAME canonical hash, so downstream
    hamming dedup catches them with no extra blocking cost. Near-dup
    noise caveat: an almost-symmetric image whose identity and mirror
    hashes are within the noise radius of each other may canonicalize
    inconsistently across its variants — the documented miss class."""
    u = [h & 0xFFFFFFFFFFFFFFFF for h in orientation_phashes(pixels)]
    m = min(u)
    return m - 0x10000000000000000 if m >= 0x8000000000000000 else m


def embed_image(pixels: np.ndarray, grid: int = 4) -> list[float]:
    """Deterministic visual embedding: ``grid×grid`` per-channel box means,
    centered and L2-normalized → ``3·grid²`` floats (rounded to 6 dp so the
    vector is bit-stable across numpy versions).

    A stand-in for a real visual encoder — no torch/PIL ships in this
    container — chosen so near-identical pixels (a PNG master and its lossy
    re-encode) land at cosine ≈ 1 while unrelated images scatter, which is
    exactly the geometry the ANN family needs. The Spark-side plumbing
    (opaque bytes → decode → fixed-dim ``array<float>`` column → every
    operator in ``operators/similarity.py``) is the real, tested part: swap
    this kernel for a model call and nothing else changes.
    """
    h, w, _ = pixels.shape
    # images narrower/shorter than the grid would leave cells empty (0/0 →
    # an all-NaN vector that Spark would sort ABOVE every real cosine);
    # repeat pixels up to grid size first — box means of the repeated image
    # are well-defined and identical to nearest-neighbor weighting, and
    # images already ≥ grid are untouched
    if h < grid:
        pixels = np.repeat(pixels, -(-grid // h), axis=0)
        h = pixels.shape[0]
    if w < grid:
        pixels = np.repeat(pixels, -(-grid // w), axis=1)
        w = pixels.shape[1]
    yb = (np.arange(h) * grid) // h
    xb = (np.arange(w) * grid) // w
    cell = (yb[:, None] * grid + xb[None, :]).ravel()
    flat = pixels.reshape(-1, 3).astype(np.float64)
    sums = np.zeros((grid * grid, 3))
    np.add.at(sums, cell, flat)
    counts = np.bincount(cell, minlength=grid * grid).astype(np.float64)
    v = (sums / counts[:, None]).ravel()
    v = v - v.mean()
    n = float(np.sqrt((v * v).sum()))
    if n > 0:
        v = v / n
    return [float(x) for x in np.round(v, 6)]


# ------------------------------------------------------- quality filtering
#: Spark schema of quality_stats_kernel's output. Every stat is a
#: micro-unit BIGINT, not a DOUBLE: r4's driver gate hash-flipped on a
#: last-ulp rounded double (the float luma matmul was BLAS-order
#: dependent), so the contract is now exact integer arithmetic end to end.
QUALITY_SCHEMA = (
    "image_id string, w int, h int, brightness_micro long, contrast_micro long, "
    "luma_entropy_micro long, aspect_micro long, is_low_quality boolean"
)

#: Gopher-style reject thresholds, the image twin of functions/text.py's
#: quality_filter: near-black / near-white frames, flat (contrast-free)
#: placeholder tiles, and sub-thumbnail sizes are training-data poison.
#: Thresholds compare in micro space so the keep/drop decision is a pure
#: integer predicate (0.05 → 50_000 etc.).
QUALITY_MIN_BRIGHTNESS_MICRO = 50_000
QUALITY_MAX_BRIGHTNESS_MICRO = 980_000
QUALITY_MIN_CONTRAST_MICRO = 20_000
QUALITY_MIN_SIDE = 8


def quality_stats(pixels: np.ndarray) -> dict:
    """Per-image quality signals from the luma plane (BT.601 weights, the
    same ones phash64/embed_image use), all emitted as exact micro-unit
    BIGINTs so the committed golden is bit-stable across numpy/BLAS/libm
    builds:

    - ``brightness_micro``: mean luma / 255 in [0, 1_000_000] — pure
      integer arithmetic (milli-luma ``299R+587G+114B`` summed in int64,
      then one integer floor-division). No float is ever constructed.
    - ``contrast_micro``: RMS contrast / 255. The variance numerator
      ``n·Σy² − (Σy)²`` is an exact Python int; the only float ops are one
      ``math.sqrt`` (IEEE correctly-rounded, bit-identical everywhere) and
      a division/multiply chain of correctly-rounded IEEE ops.
    - ``luma_entropy_micro``: Shannon entropy (micro-nats) of the 16-bin
      milli-luma histogram, via ``H = ln n − (Σ cᵢ ln cᵢ)/n`` over EXACT
      integer bin counts — ``math.log`` drift is ≤1 ulp per term, ~1e-15
      absolute over ≤16 terms, i.e. ~1e-9 odds of straddling a micro
      rounding boundary (vs the old float-histogram path whose inputs
      already differed across BLAS builds). A flat placeholder tile has
      entropy 0; a detailed photo approaches ln 16 ≈ 2_772_589.
    - ``aspect_micro``: ``w·1_000_000 // h`` — exact floor division.

    Int64 bounds: milli-luma ≤ 255_000 per pixel, so Σy² fits int64 up to
    ~140 MP per image; the variance numerator is computed in unbounded
    Python ints regardless."""
    import math

    h, w, _ = pixels.shape
    px = pixels.astype(np.int64)
    luma_milli = 299 * px[..., 0] + 587 * px[..., 1] + 114 * px[..., 2]
    n = int(luma_milli.size)
    s1 = int(luma_milli.sum())
    s2 = int((luma_milli * luma_milli).sum())
    brightness_micro = (s1 * 1_000_000) // (n * 255_000)
    var_num = n * s2 - s1 * s1  # n² · variance, exact
    contrast_micro = int(round(math.sqrt(float(var_num)) / (n * 255_000) * 1_000_000))
    counts = np.bincount((luma_milli // 16_000).ravel(), minlength=16)
    entropy = math.log(n) - sum(int(c) * math.log(int(c)) for c in counts if c > 0) / n
    low = (
        brightness_micro < QUALITY_MIN_BRIGHTNESS_MICRO
        or brightness_micro > QUALITY_MAX_BRIGHTNESS_MICRO
        or contrast_micro < QUALITY_MIN_CONTRAST_MICRO
        or min(w, h) < QUALITY_MIN_SIDE
    )
    return {
        "w": int(w),
        "h": int(h),
        "brightness_micro": brightness_micro,
        "contrast_micro": contrast_micro,
        "luma_entropy_micro": int(round(entropy * 1_000_000)),
        "aspect_micro": (w * 1_000_000) // h,
        "is_low_quality": bool(low),
    }


def quality_stats_kernel():
    """mapInPandas kernel ``(image_id, bytes) → QUALITY_SCHEMA`` — the same
    Arrow-batch shape as images_io.validate_images. Undecodable bytes yield
    a row with null stats and ``is_low_quality=True`` (quarantine, don't
    crash the wave — same policy as validate_images' decode_ok=False)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    stats = quality_stats(decode_image(bytes(data)))
                except Exception:
                    stats = {
                        "w": None, "h": None, "brightness_micro": None,
                        "contrast_micro": None, "luma_entropy_micro": None,
                        "aspect_micro": None, "is_low_quality": True,
                    }
                rows.append({"image_id": iid, **stats})
            out = pd.DataFrame(rows)
            # None in an int64 column coerces it to float64 at DataFrame
            # construction — harmless for these small magnitudes but the
            # nullable-integer rebuild keeps the Arrow schema honest
            for c in ("brightness_micro", "contrast_micro", "luma_entropy_micro", "aspect_micro"):
                out[c] = pd.array([r[c] for r in rows], dtype="Int64")
            yield out

    return gen


#: Spark schema of curate_stats_kernel's output — quality_stats plus the
#: perceptual hash and byte size, so the whole image-curation cascade
#: (validate → quality gate → near-dup → bucket) needs ONE decode pass
CURATE_SCHEMA = QUALITY_SCHEMA + ", phash long, n_bytes int"


def curate_stats_kernel():
    """mapInPandas kernel ``(image_id, bytes) → CURATE_SCHEMA`` — the fused
    single-decode form of :func:`quality_stats_kernel`: every signal the
    curation pipeline consumes (quality stats, pHash for near-dup pairing,
    byte size for canonical election) from one decode per image, so the
    composed ``operators/images_io.image_pipeline`` crosses into Python
    exactly once. Undecodable bytes quarantine the same way (null stats,
    null phash, ``is_low_quality=True``); ``n_bytes`` is always real."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                raw = bytes(data)
                try:
                    px = decode_image(raw)
                    stats = quality_stats(px)
                    stats["phash"] = phash64(px)  # already signed int64
                except Exception:
                    stats = {
                        "w": None, "h": None, "brightness_micro": None,
                        "contrast_micro": None, "luma_entropy_micro": None,
                        "aspect_micro": None, "is_low_quality": True, "phash": None,
                    }
                rows.append({"image_id": iid, **stats, "n_bytes": len(raw)})
            out = pd.DataFrame(rows)
            # a quarantine row's None phash coerces the column to float64
            # at DataFrame construction, silently corrupting int64 hash
            # bits for every other row in the batch (cuckoo learned this
            # the hard way) — rebuild nullable-integer columns from the
            # UNCOERCED python values
            for c in ("phash", "brightness_micro", "contrast_micro",
                      "luma_entropy_micro", "aspect_micro"):
                out[c] = pd.array([r[c] for r in rows], dtype="Int64")
            yield out

    return gen


# ------------------------------------------------------- patch extraction
#: Spark schema of patch_stats_kernel's output — one row per ViT-style
#: patch. Stats are exact integer milli/micro units (same contract as
#: QUALITY_SCHEMA: no DOUBLE ever reaches a value-hashed column).
PATCH_SCHEMA = (
    "image_id string, patch_row int, patch_col int, px_w int, px_h int, "
    "mean_r_milli long, mean_g_milli long, mean_b_milli long, "
    "luma_micro long, contrast_micro long, is_flat boolean"
)


def border_box(
    pixels: np.ndarray, tol: int = 2, max_frac: float = 0.375
) -> tuple[int, int, int, int]:
    """Uniform-border (letterbox / pillarbox / solid frame) depths per side,
    in pixels: ``(top, bottom, left, right)``.

    A side's depth counts consecutive outermost lines whose every pixel is
    within ``tol`` (per channel, exact uint8 integer compare — no float
    ever) of that side's reference color = the corner pixel of its
    outermost line. Each side references independently, so a black
    letterbox bar above a white footer bar both crop. The scan is capped
    at ``floor(dim·max_frac)`` lines per side, so a near-solid image can
    never crop itself away (the crop always keeps ≥ 25% of each dimension
    at the 0.375 default).

    This is the normalization pass that runs BEFORE perceptual hashing in
    an image dedup pipeline: letterbox bars shift the global luma mean, so
    the SAME picture with and without bars lands many hamming bits apart
    on the whole-image pHash — cropping first makes them bit-identical
    (the border_crop golden pins exactly this)."""
    h, w, _ = pixels.shape
    px = pixels.astype(np.int16)

    def depth(lines: np.ndarray, cap: int) -> int:
        # lines: (n_lines, line_len, 3), outermost first
        ref = lines[0, 0]
        d = 0
        for i in range(cap):
            if np.abs(lines[i] - ref).max() <= tol:
                d += 1
            else:
                break
        return d

    cap_h, cap_w = int(h * max_frac), int(w * max_frac)
    top = depth(px, cap_h)
    bottom = depth(px[::-1], cap_h)
    left = depth(px.transpose(1, 0, 2), cap_w)
    right = depth(px.transpose(1, 0, 2)[::-1], cap_w)
    return top, bottom, left, right


#: Spark schema of border_crop_kernel's output
BORDER_SCHEMA = (
    "image_id string, w int, h int, b_top int, b_bottom int, b_left int, "
    "b_right int, crop_w int, crop_h int, phash_cropped long, "
    "changed boolean, decode_ok boolean"
)


def border_crop_kernel(tol: int = 2, max_frac: float = 0.375):
    """mapInPandas kernel ``(image_id, bytes) → BORDER_SCHEMA`` — decode
    once, detect uniform borders (:func:`border_box`), and emit the crop
    box plus the pHash of the CROPPED region, so downstream hamming dedup
    keys on letterbox-invariant fingerprints without a second decode pass.
    Undecodable bytes quarantine with null stats and ``decode_ok=False``
    (the quality_stats_kernel policy — never crash the wave)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px = decode_image(bytes(data))
                    h, w, _ = px.shape
                    t, b, le, r = border_box(px, tol=tol, max_frac=max_frac)
                    crop = px[t : h - b, le : w - r]
                    rows.append({
                        "image_id": iid, "w": w, "h": h,
                        "b_top": t, "b_bottom": b, "b_left": le, "b_right": r,
                        "crop_w": w - le - r, "crop_h": h - t - b,
                        "phash_cropped": phash64(crop),
                        "changed": bool(t or b or le or r),
                        "decode_ok": True,
                    })
                except Exception:
                    rows.append({
                        "image_id": iid, "w": None, "h": None,
                        "b_top": None, "b_bottom": None, "b_left": None, "b_right": None,
                        "crop_w": None, "crop_h": None, "phash_cropped": None,
                        "changed": None, "decode_ok": False,
                    })
            out = pd.DataFrame(rows)
            for c in ("w", "h", "b_top", "b_bottom", "b_left", "b_right", "crop_w", "crop_h", "phash_cropped"):
                out[c] = pd.array([r[c] for r in rows], dtype="Int64")
            yield out

    return gen


def patch_grid_stats(pixels: np.ndarray, grid: int = 4) -> list[dict]:
    """ViT-style patchification: split the image into a ``grid×grid`` cell
    grid (integer boundaries ``r·h//grid``, so uneven dimensions distribute
    remainder pixels deterministically) and emit per-patch statistics —
    the patch-token primitive for masked-autoencoder-style curation
    (patch-level masking, flat-patch filtering, patch dedup).

    Per patch: exact integer channel means (milli units, floor division of
    int64 sums), patch luma brightness (micro, same BT.601 integer
    arithmetic as :func:`quality_stats`), RMS contrast (micro; the variance
    numerator ``n·Σy²−(Σy)²`` is an exact int, one IEEE sqrt), and an
    ``is_flat`` flag (zero variance — the placeholder/padding signal).

    Images smaller than the grid are pixel-repeated up to grid size first
    (same policy as :func:`embed_image` — cells stay non-empty)."""
    import math

    h, w, _ = pixels.shape
    if h < grid:
        pixels = np.repeat(pixels, -(-grid // h), axis=0)
        h = pixels.shape[0]
    if w < grid:
        pixels = np.repeat(pixels, -(-grid // w), axis=1)
        w = pixels.shape[1]
    px = pixels.astype(np.int64)
    out = []
    for r in range(grid):
        y0, y1 = (r * h) // grid, ((r + 1) * h) // grid
        for c in range(grid):
            x0, x1 = (c * w) // grid, ((c + 1) * w) // grid
            cell = px[y0:y1, x0:x1]
            n = int(cell.shape[0] * cell.shape[1])
            sr = int(cell[..., 0].sum())
            sg = int(cell[..., 1].sum())
            sb = int(cell[..., 2].sum())
            luma = 299 * cell[..., 0] + 587 * cell[..., 1] + 114 * cell[..., 2]
            s1 = int(luma.sum())
            s2 = int((luma * luma).sum())
            var_num = n * s2 - s1 * s1
            out.append(
                {
                    "patch_row": r,
                    "patch_col": c,
                    "px_w": int(x1 - x0),
                    "px_h": int(y1 - y0),
                    "mean_r_milli": (sr * 1_000) // n,
                    "mean_g_milli": (sg * 1_000) // n,
                    "mean_b_milli": (sb * 1_000) // n,
                    "luma_micro": (s1 * 1_000_000) // (n * 255_000),
                    "contrast_micro": int(
                        round(math.sqrt(float(var_num)) / (n * 255_000) * 1_000_000)
                    ),
                    "is_flat": var_num == 0,
                }
            )
    return out


def patch_stats_kernel(grid: int = 4):
    """mapInPandas kernel ``(image_id, bytes) → PATCH_SCHEMA`` (fan-out
    ``grid²`` rows per image). Undecodable bytes yield ZERO rows — patch
    consumers never see quarantine placeholders (the validate/quality
    stages own that signal)."""
    import pandas as pd

    cols = [
        "patch_row", "patch_col", "px_w", "px_h", "mean_r_milli", "mean_g_milli",
        "mean_b_milli", "luma_micro", "contrast_micro", "is_flat",
    ]

    def gen(batches):
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px = decode_image(bytes(data))
                except Exception:
                    continue
                for p in patch_grid_stats(px, grid):
                    rows.append({"image_id": iid, **p})
            yield pd.DataFrame(rows, columns=["image_id", *cols])

    return gen


# ------------------------------------------------------- blur / focus measure
#: Spark schema of blur_stats_kernel's output. ``lap_var`` is the Laplacian
#: variance in milli-luma² units — exact integer (same no-DOUBLE contract as
#: QUALITY_SCHEMA).
BLUR_SCHEMA = "image_id string, w int, h int, lap_var long, is_blurry boolean"

#: Laplacian-variance floor below which an image is flagged blurry (defocused
#: / heavily smoothed / flat placeholder). Calibrated on the synthetic-world
#: product shots: sharp originals measure ≳10^9 milli-luma², one 3×3 box-blur
#: pass drops them by ~10-30×, flat tiles measure 0.
BLUR_VAR_MIN = 50_000_000


def blur_stats(pixels: np.ndarray) -> dict:
    """Variance-of-Laplacian focus measure (Pech-Pacheco et al., ICPR 2000
    — the standard OpenCV ``cv2.Laplacian(...).var()`` blur detector),
    computed in EXACT integer arithmetic on the milli-luma plane so the
    committed golden is bit-stable across numpy/BLAS builds:

    - 4-neighbour Laplacian ``4c − up − down − left − right`` over the
      interior (valid region (h−2)×(w−2)); each response fits int64
      (|v| ≤ 1.02e6 in milli-luma).
    - variance numerator ``n·Σv² − (Σv)²`` in unbounded Python ints; the
      int64 hazard is Σv² (~1e12 per pixel), so squares are summed per
      ROW in int64 (safe to w ≈ 8.8e6 columns) then totalled in Python.
    - ``lap_var = var_num // n²`` — exact floor division, milli-luma².

    Images smaller than 3×3 have no interior: null variance, flagged
    blurry (quarantine semantics, like undecodable bytes)."""
    h, w, _ = pixels.shape
    if h < 3 or w < 3:
        return {"w": int(w), "h": int(h), "lap_var": None, "is_blurry": True}
    px = pixels.astype(np.int64)
    y = 299 * px[..., 0] + 587 * px[..., 1] + 114 * px[..., 2]
    lap = (
        4 * y[1:-1, 1:-1]
        - y[:-2, 1:-1]
        - y[2:, 1:-1]
        - y[1:-1, :-2]
        - y[1:-1, 2:]
    )
    n = int(lap.size)
    s1 = int(lap.sum())
    s2 = sum(int(r) for r in (lap * lap).sum(axis=1))
    var_num = n * s2 - s1 * s1
    lap_var = var_num // (n * n)
    return {
        "w": int(w),
        "h": int(h),
        "lap_var": lap_var,
        "is_blurry": bool(lap_var < BLUR_VAR_MIN),
    }


def blur_stats_kernel():
    """mapInPandas kernel ``(image_id, bytes) → BLUR_SCHEMA`` — same Arrow
    batch shape and quarantine policy as quality_stats_kernel (undecodable
    bytes → null stats, ``is_blurry=True``)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    stats = blur_stats(decode_image(bytes(data)))
                except Exception:
                    stats = {"w": None, "h": None, "lap_var": None, "is_blurry": True}
                rows.append({"image_id": iid, **stats})
            out = pd.DataFrame(rows)
            for c in ("w", "h", "lap_var"):
                out[c] = pd.array([r[c] for r in rows], dtype="Int64")
            yield out

    return gen


# ------------------------------------------------------- content-aware crop
#: Spark schema of smart_crop_kernel's output — the square training crop
#: window plus the content centroid that chose it (milli-pixel BIGINTs).
SMART_CROP_SCHEMA = (
    "image_id string, w int, h int, crop_x int, crop_y int, crop_side int, "
    "cx_milli long, cy_milli long"
)


def smart_crop_stats(pixels: np.ndarray, grid: int = 8) -> dict:
    """Content-aware square crop: a ``grid×grid`` cell sweep weights each
    cell by its EXACT luma-variance numerator (``n·Σy²−(Σy)²`` — the same
    integer patch statistic :func:`patch_grid_stats` emits) and crops the
    ``min(w,h)`` square centred on the weighted centroid, clamped to the
    image — the aspect-ratio normalization pass of an image-training
    pipeline that keeps the product instead of the white background
    (naive centre-crop loses off-centre subjects; detector-based saliency
    needs a model — local variance is the classic model-free proxy).

    Everything is exact integer arithmetic: cell centres in milli-pixels
    (``(x0+x1)·1000 // 2``), centroid = ``Σ(weight·centre) // Σweight``
    (image centre when the image is perfectly flat), crop corner =
    ``clamp(cx − side/2)``. Weights scale with cell-size² × variance;
    grid boundaries keep cells near-equal so the bias is deterministic
    and negligible — and bit-identical on every build."""
    h, w, _ = pixels.shape
    px = pixels.astype(np.int64)
    sw = swx = swy = 0
    for r in range(grid):
        y0, y1 = (r * h) // grid, ((r + 1) * h) // grid
        for c in range(grid):
            x0, x1 = (c * w) // grid, ((c + 1) * w) // grid
            if y1 <= y0 or x1 <= x0:
                continue
            cell = px[y0:y1, x0:x1]
            n = int(cell.shape[0] * cell.shape[1])
            luma = 299 * cell[..., 0] + 587 * cell[..., 1] + 114 * cell[..., 2]
            s1 = int(luma.sum())
            s2 = int((luma * luma).sum())
            wt = n * s2 - s1 * s1  # exact n²·variance
            cx = ((x0 + x1) * 1000) // 2
            cy = ((y0 + y1) * 1000) // 2
            sw += wt
            swx += wt * cx
            swy += wt * cy
    if sw > 0:
        cx_milli, cy_milli = swx // sw, swy // sw
    else:  # perfectly flat: centre crop
        cx_milli, cy_milli = (w * 1000) // 2, (h * 1000) // 2
    side = min(w, h)
    crop_x = min(max(cx_milli // 1000 - side // 2, 0), w - side)
    crop_y = min(max(cy_milli // 1000 - side // 2, 0), h - side)
    return {
        "w": int(w),
        "h": int(h),
        "crop_x": int(crop_x),
        "crop_y": int(crop_y),
        "crop_side": int(side),
        "cx_milli": int(cx_milli),
        "cy_milli": int(cy_milli),
    }


def smart_crop_kernel(grid: int = 8):
    """mapInPandas kernel ``(image_id, bytes) → SMART_CROP_SCHEMA`` — same
    Arrow batch shape as the other single-decode image kernels.
    Undecodable bytes yield NO row (there is nothing to crop; quarantine
    reporting is validate_images' job)."""
    import pandas as pd

    cols = ["image_id", "w", "h", "crop_x", "crop_y", "crop_side", "cx_milli", "cy_milli"]

    def gen(batches):
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    stats = smart_crop_stats(decode_image(bytes(data)))
                except Exception:
                    continue
                rows.append({"image_id": iid, **stats})
            yield pd.DataFrame(rows, columns=cols)

    return gen


# --------------------------------------------------- channel normalization
#: Spark schema of channel_sums_kernel's output: one row per (image,
#: channel) with exact integer pixel sums — the map side of the classic
#: "compute per-channel mean/std over the training corpus" pass.
CHANNEL_SUMS_SCHEMA = (
    "image_id string, channel string, n_px long, sum_c long, sumsq_c long"
)


def channel_sums_kernel():
    """mapInPandas kernel ``(image_id, bytes) → CHANNEL_SUMS_SCHEMA``:
    per-image exact per-channel pixel sums (Σc, Σc²) in raw 0-255 units.
    The corpus-level mean/variance reduce is pure Spark aggregation over
    these rows (see operators/images_io.channel_norm_stats) — the kernel
    only ever sees one image, so one decode pass feeds a corpus-wide
    normalization constant with a 3-row result. Σc² ≤ 65025·n fits int64
    to ~1.4e14 pixels per IMAGE (no image is that large); corpus totals
    aggregate in DECIMAL(38,0) on the Spark side. Undecodable bytes yield
    no rows (the normalization constant must never see garbage pixels —
    quarantine is quality_stats_kernel's job)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px = decode_image(bytes(data)).astype(np.int64)
                except Exception:
                    continue
                n = int(px.shape[0] * px.shape[1])
                for ci, ch in enumerate(("r", "g", "b")):
                    c = px[..., ci]
                    rows.append(
                        {
                            "image_id": iid,
                            "channel": ch,
                            "n_px": n,
                            "sum_c": int(c.sum()),
                            "sumsq_c": sum(int(r) for r in (c * c).sum(axis=1)),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["image_id", "channel", "n_px", "sum_c", "sumsq_c"]
            )

    return gen


# ------------------------------------------------------- color statistics
#: Spark schema of color_stats_kernel's output — coarse-palette and
#: monochrome statistics in exact integers (milli-unit BIGINTs).
COLOR_SCHEMA = (
    "image_id string, w int, h int, dom_bin int, dom_milli long, "
    "n_bins_used int, gray_milli long"
)


def color_stats(pixels: np.ndarray) -> dict:
    """Coarse-palette statistics for image curation — the 'is this a real
    photo or a placeholder/solid/monochrome tile' gate a LAION-style
    pipeline runs beside blur and quality: pixels quantize to a 4×4×4 RGB
    cube (64 bins, ``bin = (r>>6)·16 + (g>>6)·4 + (b>>6)``), and the
    kernel reports the dominant bin (argmax count, ties → SMALLEST bin —
    numpy argmax's first-hit rule, deterministic), its exact milli
    fraction (``count·1000 // n_px``), the number of occupied bins, and
    the monochrome fraction (pixels whose channel spread ``max−min ≤ 16``
    — near-gray). A near-solid placeholder shows ``dom_milli ≥ 900``
    with ``n_bins_used`` ≈ 1; a grayscale scan shows ``gray_milli`` ≈
    1000. Everything is integer arithmetic — no float ever exists, so
    the golden is bit-stable on any numpy/libm."""
    h, w, _ = pixels.shape
    q = (pixels >> 6).astype(np.int64)
    bins = q[:, :, 0] * 16 + q[:, :, 1] * 4 + q[:, :, 2]
    counts = np.bincount(bins.ravel(), minlength=64)
    n_px = h * w
    dom_bin = int(counts.argmax())
    mx = pixels.max(axis=2).astype(np.int64)
    mn = pixels.min(axis=2).astype(np.int64)
    return {
        "w": w,
        "h": h,
        "dom_bin": dom_bin,
        "dom_milli": int(counts[dom_bin]) * 1000 // n_px,
        "n_bins_used": int((counts > 0).sum()),
        "gray_milli": int(((mx - mn) <= 16).sum()) * 1000 // n_px,
    }


def color_stats_kernel():
    """mapInPandas kernel ``(image_id, bytes) → COLOR_SCHEMA`` — same Arrow
    batch shape and quarantine policy as blur_stats_kernel (undecodable
    bytes → null stats)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    stats = color_stats(decode_image(bytes(data)))
                except Exception:
                    stats = {
                        "w": None, "h": None, "dom_bin": None,
                        "dom_milli": None, "n_bins_used": None, "gray_milli": None,
                    }
                rows.append({"image_id": iid, **stats})
            out = pd.DataFrame(rows)
            for c in ("w", "h", "dom_bin", "dom_milli", "n_bins_used", "gray_milli"):
                out[c] = pd.array([r[c] for r in rows], dtype="Int64")
            yield out

    return gen


# ------------------------------------------------------- upscale detection
#: Spark schema of upscale_stats_kernel's output. const{k}_milli is the
#: fraction (‰, exact floor DIV) of the image's k×k blocks whose pixels are
#: all identical; NULL when the image is narrower/shorter than k.
UPSCALE_SCHEMA = (
    "image_id string, w int, h int, is_flat boolean, "
    "const2_milli long, const3_milli long, const4_milli long"
)

UPSCALE_FACTORS = (2, 3, 4)


def upscale_stats(pixels: np.ndarray) -> dict:
    """Nearest-neighbour-upscale evidence, in EXACT integer arithmetic: a
    k× NN-upsampled image is a grid of k×k constant blocks BY
    CONSTRUCTION, while an organic photograph's sensor noise makes even
    one fully-constant 2×2 block rare — so the constant-block fraction at
    k ∈ {2,3,4} separates re-inflated thumbnails (a classic scraped-image
    pollution class: they carry no detail beyond their source resolution
    and skew every sharpness/frequency statistic downstream) from true
    hi-res captures. AmazonWebCrawler saves whatever bytes the site
    serves (reference: crawler/crawler.py:64-76 saveHTML/screenshot — no
    resolution audit); a 100 TB curation pass needs the audit.

    Per factor k: crop to (h−h%k, w−w%k), one reshape to
    (bh, k, bw, k, 3), block max == block min in all channels → constant;
    ``const{k}_milli = 1000·n_const // n_blocks``. Images smaller than k
    in either dim report NULL for that factor (no blocks to judge).
    ``is_flat`` (every pixel equal) is reported so the verdict can
    exclude solid placeholders, which are trivially block-constant at
    every k."""
    h, w, _ = pixels.shape
    out = {
        "w": int(w),
        "h": int(h),
        "is_flat": bool((pixels == pixels[0, 0]).all()),
    }
    for k in UPSCALE_FACTORS:
        bh, bw = h // k, w // k
        if bh == 0 or bw == 0:
            out[f"const{k}_milli"] = None
            continue
        crop = pixels[: bh * k, : bw * k].reshape(bh, k, bw, k, 3)
        const = (crop.max(axis=(1, 3)) == crop.min(axis=(1, 3))).all(axis=-1)
        out[f"const{k}_milli"] = 1000 * int(const.sum()) // (bh * bw)
    return out


def upscale_stats_kernel():
    """mapInPandas kernel ``(image_id, bytes) → UPSCALE_SCHEMA``.
    Undecodable bytes yield ZERO rows (the patch-kernel quarantine
    policy — images_validate owns the corrupt-bytes signal)."""
    import pandas as pd

    cols = ["w", "h", "is_flat", "const2_milli", "const3_milli", "const4_milli"]

    def gen(batches):
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px = decode_image(bytes(data))
                except Exception:
                    continue
                rows.append({"image_id": iid, **upscale_stats(px)})
            out = pd.DataFrame(rows, columns=["image_id", *cols])
            for c in ("const2_milli", "const3_milli", "const4_milli"):
                out[c] = pd.array([r[c] for r in rows], dtype="Int64")
            yield out

    return gen


# ------------------------------------------------------ linear probe gate
PROBE_SCHEMA = "image_id string, logit_micro long"


def probe_weights(dim: int = 48, seed: int = 424242) -> list:
    """Deterministic stand-in probe weights (seeded, 6dp-rounded — the
    same bit-stability discipline as similarity._hyperplanes): in
    deployment these are a trained aesthetic/NSFW/quality head's
    weights; here they pin the plumbing end to end."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [round(float(x), 6) for x in rng.standard_normal(dim) * 0.8]


def probe_score_kernel(weights: list, bias_micro: int):
    """ONE Arrow pass ``(image_id, bytes) → (image_id, logit_micro)`` —
    the image-side model-scored gate: decode once, grid-mean embed
    (:func:`embed_image` — swap for a real encoder and nothing else
    changes), then a SEQUENTIAL float dot (fixed order, IEEE deterministic —
    never BLAS) against the broadcast probe weights; emitted as one
    micro-rounded BIGINT logit. The keep verdict compares the logit against
    ZERO JVM-side — sign(logit) ≡ sigmoid ≥ 0.5 with no exp to drift.
    Undecodable bytes yield zero rows (validate owns the corrupt signal)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px = decode_image(bytes(data))
                except Exception:
                    continue
                emb = embed_image(px, grid=4)
                s = 0.0
                for a, b in zip(weights, emb):
                    s += a * b
                rows.append({"image_id": iid, "logit_micro": round(s * 1e6) + bias_micro})
            yield pd.DataFrame(rows, columns=["image_id", "logit_micro"])

    return gen
