"""Seeded input generators for the benchmark.

Every generator takes the workload seed and returns the same points for
the same seed, and ``write_points`` writes the same bytes for them:
numpy's PCG64 stream is stable across platforms and the parquet files are
written with fixed writer options.

* ``blobs`` — Gaussian blobs plus uniform noise: balanced spatial
  partitions, almost every blob point is core.
* ``skew`` — one hotspot of side ε holding a fixed share of the points,
  the rest uniform: the hotspot cannot be split by the partitioner, so
  one oversized partition is the straggler (MR-DBSCAN's skewed case).

The layout of each set is fixed: the blob centres (drawn once from
``LAYOUT_SEED``), the points per blob and the hotspot's grid cell are the
same for every seed, and the seed draws the points themselves. So the
partition plan, and with it the cost of a fit, does not change from seed
to seed, while no two seeds give the same points.

The ``queries`` workload reads no generated tables: it runs on the
project's seed-42 testdata tables (sf0.01, and sf0.001 for the
self-test), copied under ``perfbench/testdata``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Generator parameters per point set. ``n`` is the number of points
#: before the held-out slice is taken; the fit sees 90%, predict 10%.
POINTS = {
    "blobs": {
        "n": 20_000,
        "blobs": 50,
        # σ scales with sqrt(n) so the density matches 50 blobs of
        # σ = 0.08 over 200,000 points
        "sigma_at_200k": 0.08,
        "noise_share": 0.10,
        "extent": 10.0,
    },
    "skew": {
        "n": 20_000,
        # 3,500 points (3,150 after the held-out slice) in one ε-wide
        # square: above max_points_per_partition (2,000), so the hot box is
        # overfull and cannot be split. Kernel time and memory grow with
        # the square of this count while Spark's per-job cost stays fixed;
        # at 3,150 the hot partition's kernel is about half a fit.
        "hot_share": 0.175,
        "extent": 10.0,
    },
}

#: DBSCAN parameters shared by both point sets.
DBSCAN_PARAMS = {"eps": 0.02, "min_points": 5, "max_points_per_partition": 2000}

#: every point whose id is a multiple of this is held out for predict()
HOLDOUT_EVERY = 10

#: seed of the fixed blob centres, independent of the workload seed
LAYOUT_SEED = 0


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input, so resizing one input leaves the
    others' bytes unchanged."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def blobs(seed: int, n: int | None = None) -> np.ndarray:
    """(n, 2) float64 points: ``blobs`` Gaussian clusters of equal size
    around fixed centres, plus uniform noise on [0, extent]²."""
    p = POINTS["blobs"]
    n = p["n"] if n is None else n
    rng = _rng(seed, "blobs")
    n_noise = int(n * p["noise_share"])
    n_blob = n - n_noise
    sigma = p["sigma_at_200k"] * np.sqrt(n / 200_000)
    ext = p["extent"]
    centers = _rng(LAYOUT_SEED, "centers").uniform(0.05 * ext, 0.95 * ext, (p["blobs"], 2))
    members = np.arange(n_blob) % p["blobs"]
    pts = centers[members] + rng.normal(0.0, sigma, (n_blob, 2))
    noise = rng.uniform(0.0, ext, (n_noise, 2))
    return np.vstack([pts, noise])


def skew(seed: int, n: int | None = None) -> np.ndarray:
    """(n, 2) float64 points: ``hot_share`` of them uniform in one square
    of side ε, the rest uniform on [0, extent]². The square sits inside
    the cell of the partitioner's 2ε grid whose lower corner is the centre
    of the extent, so no split line crosses it."""
    p = POINTS["skew"]
    n = p["n"] if n is None else n
    rng = _rng(seed, "skew")
    eps = DBSCAN_PARAMS["eps"]
    ext = p["extent"]
    n_hot = int(n * p["hot_share"])
    cell = 2 * eps
    k = int(0.5 * ext / cell)
    corner = (k + 0.25) * cell
    hot = corner + rng.uniform(0.0, eps, (n_hot, 2))
    rest = rng.uniform(0.0, ext, (n - n_hot, 2))
    return np.vstack([hot, rest])


def write_points(path: str, xy: np.ndarray) -> None:
    """Write ``id, x, y`` parquet; ids are row numbers. Exact duplicate
    coordinates would collapse in the margin merge (value identity), so
    they are rejected here rather than silently changing the output."""
    if len(np.unique(xy, axis=0)) != len(xy):
        raise ValueError("generated point set holds duplicate coordinates")
    table = pa.table(
        {
            "id": pa.array(np.arange(len(xy), dtype=np.int64)),
            "x": pa.array(xy[:, 0]),
            "y": pa.array(xy[:, 1]),
        }
    )
    _write(table, path)


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy", store_schema=False)
    os.replace(tmp, path)
