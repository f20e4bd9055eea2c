"""Seeded input generator for the benchmark workloads.

Writes parquet tables with pyarrow (no Spark, no repo fixture cache),
following the distribution of FIXTURES.md: footprint centres spread
low-discrepancy over lng [-180, 180) x lat [-60, 60), 5% of images
clamped into one hot 1x1-degree cell, bbox half-sizes 0.01..0.5 deg;
zones are convex ellipse polygons (8-32 vertices, radii 0.3..3 deg),
zone 0 covers the hot cell and two zones straddle the antimeridian.
Payload pixels are a gradient plus noise, encoded and hashed here (not
with the engine's encoder or hash) so the decode checks do not trust the
code under test.

The same (seed, sizes) always gives byte-identical tables.  Every table
is split into ``n_files`` files so every task slot scans.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PHI = 137.50776405003785
PHI2 = 73.17234262469423
HOT_LNG, HOT_LAT = 10.0, 45.0
SIZES = (16, 32, 64)
FMTS = ("raw", "rle", "q6")


def _write(table: pa.Table, path: str, n_files: int) -> int:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // n_files)
    files = 0
    for i, start in enumerate(range(0, n, step)):
        pq.write_table(table.slice(start, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))
        files += 1
    return files


def footprints(rng: np.random.Generator, n: int) -> dict:
    """Image ids, centres and bboxes (FIXTURES.md section 1 geometry)."""
    i = np.arange(n, dtype=np.float64)
    off_x, off_y = rng.uniform(0.0, 360.0), rng.uniform(0.0, 120.0)
    lng = -180.0 + (i * PHI + off_x) % 360.0
    lat = -60.0 + (i * PHI2 + off_y) % 120.0
    hot = np.arange(n) % 20 == 0
    lng[hot] = HOT_LNG + (i[hot] * PHI) % 1.0
    lat[hot] = HOT_LAT + (i[hot] * PHI2) % 1.0
    hw = rng.uniform(0.01, 0.5, n)
    hh = rng.uniform(0.01, 0.5, n)
    return {"image_id": np.char.add("img", np.char.zfill(
                np.arange(n).astype(str), 10)),
            "lng": lng, "lat": lat,
            "xmin": lng - hw, "ymin": lat - hh,
            "xmax": lng + hw, "ymax": lat + hh}


def zones(rng: np.random.Generator, n: int) -> pa.Table:
    """Convex zones: sorted ellipse angles give convex CCW rings."""
    j = np.arange(n, dtype=np.float64)
    off_x, off_y = rng.uniform(0.0, 360.0), rng.uniform(0.0, 110.0)
    clng = -180.0 + (j * 222.49223594996215 + off_x) % 360.0
    clat = -55.0 + (j * 51.7423103442069 + off_y) % 110.0
    r1 = rng.uniform(0.3, 3.0, n)
    r2 = rng.uniform(0.3, 3.0, n)
    clng[0], clat[0], r1[0], r2[0] = HOT_LNG + 0.5, HOT_LAT + 0.5, 2.0, 2.0
    for k, z in enumerate((13, 27)):
        if z < n:
            clng[z] = 179.9 if k == 0 else -179.9
    nv = rng.integers(8, 33, n)
    ang = rng.uniform(0.0, 2.0 * np.pi, (n, 32))
    ang[np.arange(32)[None, :] >= nv[:, None]] = np.inf
    ang.sort(axis=1)
    keep = np.isfinite(ang)
    a = ang[keep]
    row = np.repeat(np.arange(n), nv)
    xs = clng[row] + r1[row] * np.cos(a)
    ys = np.clip(clat[row] + r2[row] * np.sin(a), -89.9, 89.9)
    offs = np.concatenate(([0], np.cumsum(nv))).astype(np.int32)
    seg = offs[:-1]
    return pa.table({
        "zone_id": np.char.add("z", np.char.zfill(np.arange(n).astype(str), 6)),
        "xs": pa.ListArray.from_arrays(pa.array(offs), pa.array(xs)),
        "ys": pa.ListArray.from_arrays(pa.array(offs), pa.array(ys)),
        "xmin": np.minimum.reduceat(xs, seg), "ymin": np.minimum.reduceat(ys, seg),
        "xmax": np.maximum.reduceat(xs, seg), "ymax": np.maximum.reduceat(ys, seg),
        "clng": clng, "clat": clat,
    })


def rle_encode(flat: np.ndarray) -> bytes:
    """(count, value) byte pairs, runs capped at 255 (codec ``rle``)."""
    change = np.flatnonzero(flat[1:] != flat[:-1]) + 1
    starts = np.concatenate(([0], change))
    lens = np.diff(np.concatenate((starts, [flat.size])))
    vals = flat[starts]
    reps = (lens + 254) // 255
    out_vals = np.repeat(vals, reps)
    out_lens = np.full(out_vals.size, 255, dtype=np.int64)
    out_lens[np.cumsum(reps) - 1] = lens - 255 * (reps - 1)
    pairs = np.empty(out_vals.size * 2, np.uint8)
    pairs[0::2] = out_lens
    pairs[1::2] = out_vals
    return pairs.tobytes()


def q6_encode(flat: np.ndarray) -> bytes:
    """6-bit samples packed into a little-endian bit stream (codec ``q6``)."""
    bits = np.unpackbits((flat >> 2)[:, None], axis=1, bitorder="little")[:, :6]
    return np.packbits(bits.ravel(), bitorder="little").tobytes()


def q6_pixels(img: np.ndarray) -> np.ndarray:
    """The pixels a correct q6 decoder returns for ``img``."""
    return ((img >> 2).astype(np.uint16) * 255 // 63).astype(np.uint8)


def pixels(rng: np.random.Generator, m: int, w: int, h: int) -> np.ndarray:
    """(m, h, w, 3) uint8 gradient-plus-noise images."""
    cx = rng.uniform(0.2, 1.0, (m, 1, 1, 3))
    noise = rng.integers(0, 25, (m, h, w, 3))
    rx = np.linspace(0.0, 230.0, w)[None, None, :, None]
    ry = np.linspace(0.0, 230.0, h)[None, :, None, None]
    return np.clip(rx * cx + ry * (1.0 - cx) + noise, 0, 255).astype(np.uint8)


def phash_reference(imgs: np.ndarray) -> np.ndarray:
    """64-bit perceptual hashes of (m, h, w, 3) uint8 images, h and w
    multiples of 8: fixed-point gray (77R + 150G + 29B) >> 8, exact 8x8
    block sums, bit i set where block i is above the image's median
    block, packed into int64 (two's complement)."""
    g = imgs.astype(np.uint32)
    gray = (77 * g[..., 0] + 150 * g[..., 1] + 29 * g[..., 2]) >> 8
    m, h, w = gray.shape
    blocks = gray.reshape(m, 8, h // 8, 8, w // 8).sum(axis=(2, 4), dtype=np.int64)
    blocks = blocks.reshape(m, 64)
    bits = blocks > np.median(blocks, axis=1)[:, None]
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    return (bits * weights).sum(axis=1, dtype=np.uint64).view(np.int64)


def payloads(rng: np.random.Generator, n: int) -> tuple[dict, dict]:
    """Encoded payload columns plus the decoded-pixel truth of a sample.

    The stored phash is ``phash_reference`` of the pixels a correct
    decoder returns.  Returns (columns, truth) where truth maps image
    index -> expected pixels for a seeded sample of lossless images.
    """
    w = np.asarray(SIZES)[rng.integers(0, 3, n)]
    h = np.asarray(SIZES)[rng.integers(0, 3, n)]
    fmt = np.asarray(FMTS)[np.arange(n) % 3]
    data = [b""] * n
    ph = np.zeros(n, np.int64)
    lossless = np.flatnonzero(fmt != "q6")
    sample = set(rng.choice(lossless, min(64, len(lossless)), replace=False).tolist())
    truth = {}
    for wi in SIZES:
        for hi in SIZES:
            idx = np.flatnonzero((w == wi) & (h == hi))
            imgs = pixels(rng, len(idx), wi, hi)
            decoded = imgs.copy()
            for j, i in enumerate(idx.tolist()):
                flat = imgs[j].reshape(-1)
                if fmt[i] == "raw":
                    data[i] = flat.tobytes()
                elif fmt[i] == "rle":
                    data[i] = rle_encode(flat)
                else:
                    data[i] = q6_encode(flat)
                    decoded[j] = q6_pixels(imgs[j])
                if i in sample:
                    truth[i] = decoded[j]
            if len(idx):
                ph[idx] = phash_reference(decoded)
    return {"bytes": data, "w": w.astype(np.int32), "h": h.astype(np.int32),
            "fmt": fmt, "phash": ph}, truth


# workload -> (n_images, n_zones, payload)
SIZES_BY_WORKLOAD = {
    "spatial_join": (300_000, 6_700, False),
    "payload_decode": (12_000, 0, True),
}


def generate(workload: str, seed: int, out_dir: str,
             n_files: int) -> tuple[dict, dict, pa.Table | None, dict]:
    """Write the workload's tables under ``out_dir``.

    Returns (manifest, image columns, zone table, pixel truth): the
    manifest holds paths and row, zone and file counts; the columns and
    zone table are what was written, kept for the reference checks.
    """
    n_img, n_zone, payload = SIZES_BY_WORKLOAD[workload]
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    cols = footprints(rng, n_img)
    truth = {}
    if payload:
        extra, truth = payloads(rng, n_img)
        cols.update(extra)
    path = os.path.join(out_dir, "images")
    man = {"images": path, "n_images": n_img,
           "image_files": _write(pa.table(cols), path, n_files),
           "n_zones": n_zone, "zone_files": 0, "zones": None}
    if payload:
        man["payload_mb"] = sum(map(len, cols["bytes"])) / 1e6
    ztbl = None
    if n_zone:
        ztbl = zones(rng, n_zone)
        man["zones"] = os.path.join(out_dir, "zones")
        man["zone_files"] = _write(ztbl, man["zones"], n_files)
    return man, cols, ztbl, truth
