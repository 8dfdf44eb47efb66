"""Output checks. They run outside the timed interval.

* ``dbscan()``: per-point flags and the canonical core components (every
  core point labelled with the smallest id among the cores of its
  cluster) must equal the single-process kernel
  ``dbscan_spark.kernel.local_dbscan``. Both are traversal-invariant, so
  the comparison is exact (the method of ``tools/verify_dbscan_scale.py``).
* ``predict()``: every probe must get the cluster of its nearest core
  point within ε (ties to the smaller canonical label), else noise,
  computed by brute force over the ground-truth cores.
* queries: the Spark output must hash-match the query's ``oracle_sql()``
  DuckDB twin under ``tools/driver_sim.py::_canon``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd


@dataclass
class Truth:
    """Ground truth for one fit: flags by id, canonical core labels by id,
    and the cores' coordinates and labels for the predict check."""

    flags: dict[int, str]
    core_label: dict[int, int]
    core_xy: np.ndarray
    core_lbl: np.ndarray


def dbscan_truth(ids: np.ndarray, xy: np.ndarray, eps: float, min_points: int) -> Truth:
    from dbscan_spark.kernel import local_dbscan

    cluster, flag = local_dbscan(xy[:, 0], xy[:, 1], eps, min_points)
    is_core = flag == "core"
    core_ids = ids[is_core]
    core_cluster = cluster[is_core]
    canon = pd.Series(core_ids).groupby(core_cluster).min()
    core_lbl = canon.loc[core_cluster].to_numpy(dtype=np.int64)
    return Truth(
        flags=dict(zip(ids.tolist(), flag.tolist())),
        core_label=dict(zip(core_ids.tolist(), core_lbl.tolist())),
        core_xy=xy[is_core],
        core_lbl=core_lbl,
    )


def fit_and_predict_truth(
    xy: np.ndarray, holdout_every: int, eps: float, min_points: int
) -> tuple[Truth, dict]:
    """Ground truth for fitting the points whose id (row number) is not a
    multiple of ``holdout_every`` and predicting the others."""
    ids = np.arange(len(xy))
    train = ids % holdout_every != 0
    truth = dbscan_truth(ids[train], xy[train], eps, min_points)
    return truth, predict_truth(ids[~train], xy[~train], truth, eps)


def canonical_cores(model: pd.DataFrame) -> dict[int, int]:
    """id -> smallest core id of its cluster, over the fit's core points."""
    cores = model[model["flag"] == "core"]
    rep = cores.groupby("cluster")["id"].transform("min")
    return dict(zip(cores["id"].tolist(), rep.tolist()))


def check_fit(model: pd.DataFrame, truth: Truth) -> list[str]:
    problems = []
    if len(model) != len(truth.flags) or model["id"].nunique() != len(model):
        problems.append(
            f"fit returned {len(model)} rows for {len(truth.flags)} points"
        )
    flags = dict(zip(model["id"].tolist(), model["flag"].tolist()))
    bad = sum(1 for k, v in truth.flags.items() if flags.get(k) != v)
    if bad:
        problems.append(f"fit: {bad} points with a wrong flag")
    got = canonical_cores(model)
    if got != truth.core_label:
        diff = set(got.items()) ^ set(truth.core_label.items())
        problems.append(f"fit: core components differ on {len(diff)} entries")
    return problems


def predict_truth(ids: np.ndarray, xy: np.ndarray, truth: Truth, eps: float) -> dict:
    """id -> (canonical cluster or 0, flag) by brute force."""
    want = {}
    for i, (px, py) in zip(ids.tolist(), xy):
        d2 = (truth.core_xy[:, 0] - px) ** 2 + (truth.core_xy[:, 1] - py) ** 2
        hit = d2 <= eps * eps
        if hit.any():
            order = np.lexsort((truth.core_lbl[hit], d2[hit]))
            want[i] = (int(truth.core_lbl[hit][order[0]]), "border")
        else:
            want[i] = (0, "noise")
    return want


def check_predict(pred: pd.DataFrame, model: pd.DataFrame, want: dict) -> list[str]:
    """``pred`` carries the fit's global cluster ids; map them to canonical
    labels through the fit's own core points before comparing."""
    cores = model[model["flag"] == "core"]
    canon = cores.groupby("cluster")["id"].min().to_dict()
    got = {
        int(i): ((int(canon.get(c, -1)) if c else 0), f)
        for i, c, f in zip(pred["id"], pred["cluster"], pred["flag"])
    }
    if got == want:
        return []
    bad = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
    return [f"predict: {bad} of {len(want)} probes labelled wrongly"]


def oracle_hashes(sf_dir: str, names: list[str]) -> dict[str, str]:
    """Canonical hash of each query's DuckDB oracle over ``sf_dir``."""
    import duckdb

    import __spark_entry__ as entry
    from dbscan_spark.io import TABLES
    from tools.driver_sim import _canon

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return {n: _canon(con.sql(oracles[n]).df()) for n in names}
    finally:
        con.close()


def check_query(name: str, got: pd.DataFrame, want_hash: str) -> list[str]:
    from tools.driver_sim import _canon

    if _canon(got) != want_hash:
        return [f"{name}: output does not match its oracle ({len(got)} rows)"]
    return []
