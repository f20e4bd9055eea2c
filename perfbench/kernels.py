"""Driver-side probes of the numpy kernels (``cells``, ``geom``,
``codec``) on the workload's own generated inputs, for the traced run.

Each probe times the kernel's public function inside a span and reports
work per second (or time per item).  A kernel the workload does not use
reports 0.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

REPS = 5


def _timed(tracer, name: str, fn) -> float:
    """Median wall time of REPS calls, each in its own span."""
    times = []
    for rep in range(REPS):
        with tracer.span(name, rep=rep):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _zone_edges(zones):
    from fiona_spark import geom
    xs, ys = zones["xs"].combine_chunks(), zones["ys"].combine_chunks()
    lens = np.diff(xs.offsets.to_numpy()).astype(np.int64)
    return geom.pack_feature_edges_flat(xs.values.to_numpy(), ys.values.to_numpy(),
                                        lens, np.ones(len(lens), np.int64))


def spatial_probes(tracer, cols: dict, zones, res: int) -> dict:
    """cells.cell_id over every footprint centre; cells_covering_flat over
    the zone boxes at the PIP resolution; the packed-edge PIP over the
    cell candidates of up to 20k centres."""
    from fiona_spark import cells, geom

    lng, lat = cols["lng"], cols["lat"]
    out = {"cells.cell_id_ns": _timed(
        tracer, "cells.cell_id", lambda: cells.cell_id(lng, lat, 9)) / len(lng) * 1e9}
    if zones is None:
        return {**out, "cells.covering_rows_per_s": 0.0,
                "geom.pip_edge_tests_per_s": 0.0}
    box = [zones[c].to_numpy() for c in ("xmin", "ymin", "xmax", "ymax")]
    inside = (box[0] >= -180.0) & (box[2] <= 180.0)
    box = [b[inside] for b in box]
    ridx, cov = cells.cells_covering_flat(*box, res)
    t = _timed(tracer, "cells.cells_covering_flat",
               lambda: cells.cells_covering_flat(*box, res))
    out["cells.covering_rows_per_s"] = len(cov) / t

    zidx = np.flatnonzero(inside)[ridx]
    order = np.argsort(cov, kind="stable")
    cov, zidx = cov[order], zidx[order]
    m = min(len(lng), 20_000)
    pc = cells.cell_id(lng[:m], lat[:m], res)
    lo = np.searchsorted(cov, pc, "left")
    cnt = np.searchsorted(cov, pc, "right") - lo
    row = np.repeat(np.arange(m), cnt)
    zi = zidx[np.repeat(lo - (np.cumsum(cnt) - cnt), cnt) + np.arange(len(row))]
    edge_offs, ex0, ey0, ex1, ey1 = _zone_edges(zones)
    px, py = lng[:m][row], lat[:m][row]
    t = _timed(tracer, "geom.points_in_edges_packed",
               lambda: geom.points_in_edges_packed(px, py, zi, edge_offs,
                                                   ex0, ey0, ex1, ey1))
    tests = int((edge_offs[zi + 1] - edge_offs[zi]).sum())
    out["geom.pip_edge_tests_per_s"] = tests / t
    return out


def codec_probes(tracer, cols: dict | None) -> dict:
    """Scalar decode / encode / phash per image over a 300-image sample,
    and grouped ``decode_batch`` throughput (decoded MB/s) over 3000."""
    keys = ("codec.decode_us", "codec.encode_us", "codec.phash_us",
            "codec.batch_decode_mb_per_s")
    if cols is None:
        return dict.fromkeys(keys, 0.0)
    from fiona_spark import codec

    data, fmt, w, h = cols["bytes"], cols["fmt"], cols["w"], cols["h"]
    few = range(min(300, len(data)))
    imgs = [codec.decode(data[i], fmt[i], int(w[i]), int(h[i])) for i in few]
    per = 1e6 / len(imgs)
    out = {
        "codec.decode_us": per * _timed(tracer, "codec.decode", lambda: [
            codec.decode(data[i], fmt[i], int(w[i]), int(h[i])) for i in few]),
        "codec.encode_us": per * _timed(tracer, "codec.encode", lambda: [
            codec.encode(img, fmt[i]) for i, img in zip(few, imgs)]),
        "codec.phash_us": per * _timed(tracer, "codec.phash64", lambda: [
            codec.phash64(img) for img in imgs]),
    }
    many = np.arange(min(3000, len(data)))
    key = np.stack([np.unique(fmt[many], return_inverse=True)[1], w[many], h[many]])
    groups = [many[np.all(key.T == k, axis=1)] for k in np.unique(key.T, axis=0)]
    batches = [([data[i] for i in g], fmt[g[0]], int(w[g[0]]), int(h[g[0]]))
               for g in groups]
    mb = sum(len(g) * int(w[g[0]]) * int(h[g[0]]) * 3 for g in groups) / 1e6
    t = _timed(tracer, "codec.decode_batch",
               lambda: [codec.decode_batch(*b) for b in batches])
    out["codec.batch_decode_mb_per_s"] = mb / t
    return out
