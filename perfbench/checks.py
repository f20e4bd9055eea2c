"""Reference answers that do not use the code under test.

Brute-force numpy over a seeded sample for the PIP and kNN joins, the
closed-form tile and covering counts, and decoded-pixel statistics from
the generator's own pixels.  ``expected`` builds them once per run;
``mismatches`` lists how one pass's output differs from them.
"""

from __future__ import annotations

import numpy as np


def sample_ids(rng: np.random.Generator, n: int, k: int = 200) -> np.ndarray:
    """k image indices, a quarter of them from the hot cell (i % 20 == 0)."""
    hot = rng.choice(np.arange(0, n, 20), min(k // 4, (n + 19) // 20), replace=False)
    rest = rng.choice(n, k - len(hot), replace=False)
    return np.unique(np.concatenate((hot, rest)))


def _inside(px: float, py: float, xs: np.ndarray, ys: np.ndarray) -> bool:
    """Even-odd ray cast of one point against one closed ring."""
    x1, y1 = np.roll(xs, -1), np.roll(ys, -1)
    span = (ys > py) != (y1 > py)
    xint = xs[span] + (py - ys[span]) / (y1[span] - ys[span]) * (x1[span] - xs[span])
    return bool(np.count_nonzero(px < xint) % 2)


def pip_reference(px, py, zones) -> list[set]:
    """Matched zone ids of each point; antimeridian zones are retried
    with the point shifted by +-360 degrees."""
    xs, ys = zones["xs"].combine_chunks(), zones["ys"].combine_chunks()
    xs_off, fx, fy = xs.offsets.to_numpy(), xs.values.to_numpy(), ys.values.to_numpy()
    zmin_x, zmax_x = zones["xmin"].to_numpy(), zones["xmax"].to_numpy()
    zmin_y, zmax_y = zones["ymin"].to_numpy(), zones["ymax"].to_numpy()
    ids = zones["zone_id"].to_numpy(zero_copy_only=False)
    out = []
    for x, y in zip(px, py):
        hits = set()
        for shift in (0.0, 360.0, -360.0):
            xx = x + shift
            cand = np.flatnonzero((zmin_x <= xx) & (xx <= zmax_x)
                                  & (zmin_y <= y) & (y <= zmax_y))
            for z in cand:
                s, e = xs_off[z], xs_off[z + 1]
                if _inside(xx, y, fx[s:e], fy[s:e]):
                    hits.add(ids[z])
        out.append(hits)
    return out


def knn_reference(px, py, zones, k: int) -> list[list]:
    """k nearest zone ids by centroid distance, ties by zone id."""
    zx, zy = zones["clng"].to_numpy(), zones["clat"].to_numpy()
    ids = zones["zone_id"].to_numpy(zero_copy_only=False)
    id_rank = np.argsort(np.argsort(ids, kind="stable"))
    out = []
    for x, y in zip(px, py):
        dx, dy = x - zx, y - zy
        d = np.sqrt(dx * dx + dy * dy)
        order = np.lexsort((id_rank, d))[:k]
        out.append(list(ids[order]))
    return out


def _cols_rows(xmin, ymin, xmax, ymax, res: int):
    """First/last grid column (past +-180 unclamped, at most n wide) and
    first/last row of each box: the covering of an equirectangular
    grid with longitude wrap."""
    n = 1 << res
    xmin, xmax = np.asarray(xmin), np.asarray(xmax)

    def col(x, past):
        c = np.floor((x + 180.0) / 360.0 * n).astype(np.int64)
        return np.where(past, c, np.clip(c, 0, n - 1))

    def row(y):
        return np.clip(np.floor((np.asarray(y) + 90.0) / 180.0 * n).astype(np.int64),
                       0, n - 1)

    c0 = col(xmin, xmin < -180.0)
    c1 = np.minimum(col(xmax, xmax > 180.0), c0 + n - 1)
    return c0, c1, row(ymin), row(ymax)


def covering_count(xmin, ymin, xmax, ymax, res: int) -> int:
    """Number of (box, cell) pairs covering the boxes."""
    c0, c1, r0, r1 = _cols_rows(xmin, ymin, xmax, ymax, res)
    return int(((c1 - c0 + 1) * (r1 - r0 + 1)).sum())


def covering_cells(box, res: int) -> list[int]:
    """Cell ids (res * 2**58 + row * 2**res + col) covering one box."""
    n = 1 << res
    c0, c1, r0, r1 = (int(v[0]) for v in _cols_rows(*([b] for b in box), res))
    return [res * 2**58 + r * n + c % n
            for r in range(r0, r1 + 1) for c in range(c0, c1 + 1)]


def pixel_stats(img: np.ndarray) -> tuple:
    """(n_px, mean_r, mean_g, mean_b, lum_p50) as decode_stats defines them."""
    f = img.astype(np.float64)
    return (img.shape[0] * img.shape[1], f[:, :, 0].mean(), f[:, :, 1].mean(),
            f[:, :, 2].mean(), float(np.median(f.mean(axis=2))))


def block_means(img: np.ndarray, block: int = 8) -> list[tuple]:
    """(bx, by, mean luminance) of each whole block; luminance = RGB mean."""
    h, w = img.shape[0] // block, img.shape[1] // block
    lum = img[: h * block, : w * block].astype(np.float64).mean(axis=2)
    means = lum.reshape(h, block, w, block).mean(axis=(1, 3))
    return sorted((bx, by, float(means[by, bx])) for by in range(h) for bx in range(w))


# columns of each operator's output gathered for the sampled images
SAMPLE_COLS = {
    "pip_join": ("image_id", "zone_id"),
    "knn_join": ("image_id", "knn_rank", "zone_id"),
    "tile_assign": ("image_id", "cell"),
    "block_tiles": ("image_id", "bx", "by", "mean_lum"),
    "decode_stats": ("image_id", "n_px", "mean_r", "mean_g", "mean_b", "lum_p50"),
    "verify_roundtrip": None,
}


def expected(workload: str, cols: dict, zones, truth: dict, rng) -> tuple[list, dict]:
    """Sampled image indices and, per operator, the expected output:
    ``rows`` and ``ok`` counts (None when not known in closed form) and
    ``sample``, image index -> sorted tuples of the SAMPLE_COLS after
    image_id."""
    n = len(cols["image_id"])
    if workload == "payload_decode":
        ids = sorted(truth)
        tiles = int(((cols["w"] // 8).astype(np.int64) * (cols["h"] // 8)).sum())
        return ids, {
            "block_tiles": {"rows": tiles, "sample": {
                i: block_means(truth[i]) for i in ids}},
            "decode_stats": {"rows": n, "sample": {
                i: [pixel_stats(truth[i])] for i in ids}},
            "verify_roundtrip": {"rows": n, "ok": n},
        }
    ids = sample_ids(rng, n).tolist()
    lng, lat = cols["lng"][ids], cols["lat"][ids]
    out = {
        "pip_join": {"sample": {i: sorted((z,) for z in hits) for i, hits in
                                zip(ids, pip_reference(lng, lat, zones))}},
        "knn_join": {"rows": 3 * n, "sample": {
            i: list(enumerate(near, 1)) for i, near in
            zip(ids, knn_reference(lng, lat, zones, 3))}},
    }
    box = [cols[c] for c in ("xmin", "ymin", "xmax", "ymax")]
    out["tile_assign"] = {"rows": covering_count(*box, 9), "sample": {
        i: sorted((c,) for c in covering_cells([b[i] for b in box], 9))
        for i in ids}}
    return ids, out


def same(a, b) -> bool:
    """Equal row lists; floats within 1e-9."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(y, float):
                if not np.isclose(x, y, rtol=1e-9, atol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def mismatches(name: str, got, want: dict, sampled: bool) -> list[str]:
    """Differences between one pass's output summary ``got`` (rows, ok,
    sample) and the expectation of ``expected``; the sampled rows only
    when the pass gathered them."""
    bad = [f"{name} {k}: {getattr(got, k)} != {want[k]}"
           for k in ("rows", "ok") if want.get(k) is not None
           and getattr(got, k) != want[k]]
    for i, rows in want.get("sample", {}).items() if sampled else ():
        have = got.sample.get(i, [])
        if not same(have, rows):
            bad.append(f"{name} image {i}: {have} != {rows}")
    return bad
