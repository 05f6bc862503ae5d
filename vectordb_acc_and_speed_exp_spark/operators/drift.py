"""Quantizer drift tracking (EP13): WHEN is the offline retrain due?

Frozen coarse/fine quantizers serve upserts assigned against
training-time centroids — the correct FAISS-add() operational model
(ann.py:295-298), but recall erodes as upserted data drifts from the
training distribution, and until this module nothing MEASURED that
(VERDICT r07 #3). This is the same maintenance-economics discipline
EP11 applied to cluster fold-vs-rebuild, pointed at the quantizers.

Statistic: mean coarse quantization error — the L2 distance of a
vector to its assigned (nearest) centroid. At build time the training
corpus's mean error is persisted beside the artifact (``_drift.json``);
every ``ivf_index_upsert`` whose artifact carries a baseline records
its batch's mean error, computed from the assignment join the upsert
already performs (one batch-sized aggregate, no corpus scan). The
serving trigger is the ratio of the upserted rows' running mean error
to the frozen training mean::

    ratio = upsert_mean_qerr / train_mean_qerr
    retrain_recommended  ⇔  ratio > trigger  AND  enough upserted rows

Why this statistic:

- **Free at upsert time** — the assign join computes every distance
  anyway; recording the mean adds one aggregate over the micro-batch.
- **Monotone in what actually erodes recall** — a drifted vector is far
  from every centroid, so cell membership stops reflecting locality and
  probing the n_probe nearest cells misses true neighbours. The SAME
  coarse quantizer feeds IVF, IVF-PQ and IVF-BQ, so one statistic
  covers the whole composed family (EP13 measures all three).
- **Comparable across batches** — normalized by the frozen training
  error, so "1.4x the training error" means the same thing at any
  corpus size.

Trigger value: EP13 (EP13_DRIFT.md; study script in commit 2e36c6c) measures
recall vs ratio on progressively shifted batches at serving budgets
(sf0.01, n_probe=4 of ~77 cells): drifted-query recall holds through
ratio 1.21 (0.70-0.72), is already below the reference floor at 1.49
(0.60-0.62), and collapses at 2.06 (0.32-0.42); the offline rebuild
restores it (0.58-0.68 — the undrifted serving level) and resets the
ratio. The default trigger 1.35 sits between the last-healthy and
first-degraded measurements — fire the rebuild while recall is
degrading, before it has collapsed. Pinned in tests/test_drift.py.

The marker is maintained through io/commitproto.publish_marker
(atomic publish; single-writer per artifact, same as every other
sidecar)."""

from __future__ import annotations

import json
import os

# Pinned by EP13's measured recall-vs-ratio curve (see module docstring
# and EP13_DRIFT.md); overridable per artifact via the baseline file.
DRIFT_TRIGGER_RATIO = 1.35
# Below this many upserted rows the ratio is noise, not drift.
MIN_UPSERT_ROWS = 50


def drift_path(index_root: str) -> str:
    return os.path.join(index_root, "_drift.json")


def write_drift_baseline(
    index_root: str,
    train_mean_qerr: float,
    n_train: int,
    trigger_ratio: float = DRIFT_TRIGGER_RATIO,
) -> None:
    """Persist the training distribution's mean coarse quantization error
    beside the artifact — called at build/rebuild time, which also resets
    the upsert accumulator (a rebuild retrains on the current corpus, so
    prior drift is absorbed)."""
    from ..io.commitproto import publish_marker

    publish_marker(
        drift_path(index_root),
        {
            "train_mean_qerr": float(train_mean_qerr),
            "n_train": int(n_train),
            "upsert_sum_qerr": 0.0,
            "upsert_n": 0,
            "trigger_ratio": float(trigger_ratio),
        },
    )


def record_batch_qerr(
    index_root: str, batch_mean_qerr: float, n_rows: int
) -> dict:
    """Fold one upsert batch's mean quantization error into the running
    accumulator and return the updated :func:`drift_status`. No-op
    (returns an empty status) when no baseline exists — artifacts built
    before this module keep their exact previous behavior."""
    from ..io.commitproto import publish_marker

    p = drift_path(index_root)
    if not os.path.exists(p) or n_rows <= 0:
        return {}
    with open(p) as fh:
        d = json.load(fh)
    d["upsert_sum_qerr"] = float(d["upsert_sum_qerr"]) + float(
        batch_mean_qerr
    ) * int(n_rows)
    d["upsert_n"] = int(d["upsert_n"]) + int(n_rows)
    publish_marker(p, d)
    return _status_of(d)


def drift_status(index_root: str) -> dict:
    """{"train_mean_qerr", "upsert_mean_qerr", "ratio",
    "retrain_recommended", "n_train", "upsert_n"} — empty dict when the
    artifact carries no baseline."""
    p = drift_path(index_root)
    if not os.path.exists(p):
        return {}
    with open(p) as fh:
        d = json.load(fh)
    return _status_of(d)


def _status_of(d: dict) -> dict:
    up_n = int(d["upsert_n"])
    train = float(d["train_mean_qerr"])
    up_mean = (float(d["upsert_sum_qerr"]) / up_n) if up_n else None
    ratio = (up_mean / train) if (up_mean is not None and train > 0) else None
    return {
        "train_mean_qerr": train,
        "n_train": int(d["n_train"]),
        "upsert_mean_qerr": up_mean,
        "upsert_n": up_n,
        "ratio": ratio,
        "trigger_ratio": float(d["trigger_ratio"]),
        "retrain_recommended": bool(
            ratio is not None
            and up_n >= MIN_UPSERT_ROWS
            and ratio > float(d["trigger_ratio"])
        ),
    }


def mean_coarse_qerr(assigned_with_dist, dist_col: str = "_qerr"):
    """(mean_qerr, n_rows) from an assignment frame that kept its
    centroid distance (ivf_assign(..., keep_dist=...)). One aggregate
    job over the frame — batch-sized at upsert, corpus-sized only at
    build time."""
    from pyspark.sql import functions as F

    row = assigned_with_dist.agg(
        F.avg(dist_col).alias("m"), F.count(F.lit(1)).alias("n")
    ).first()
    return (float(row.m) if row.m is not None else 0.0), int(row.n)
