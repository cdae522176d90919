"""Dataset utilities for training-data pipelines: deterministic splits
and samples.

A training corpus needs train/val/test assignment and subsampling that is
(a) reproducible run-to-run and cluster-size-independent, (b) a pure
function of a stable key — never `rand()`, whose per-task seeding changes
with partitioning, and never a sort-based split, which is a global
shuffle. Assignment here is one md5 per row on (seed ':' key), using the
first 8 hex chars compared as FIXED-WIDTH LOWERCASE HEX against
precomputed threshold strings — lexicographic order equals numeric order,
so both Spark and the DuckDB oracle evaluate the identical comparison
with no integer conversion. No shuffle, no UDF; a filter/projection that
rides whatever partitioning the caller already has (100 TB posture:
embarrassingly parallel, pushdown-friendly).

The reference engine has no equivalent (single-node search engine); this
is part of the training-data-pipeline surface mandated by the task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hash8(seed: int):
    """First 8 hex chars of md5(seed ':' doc_id) — a uniform 32-bit value
    in fixed-width lowercase hex, safe to compare as a string."""
    return F.substring(F.md5(F.concat(F.lit(f"{seed}:"),
                                      F.col("doc_id").cast("string"))), 1, 8)


def _thresholds(weights: dict[str, float]) -> list[tuple[str, str]]:
    """(split_name, inclusive-upper hex threshold) in declaration order;
    the last split absorbs rounding remainder."""
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    out, cum = [], 0.0
    for name, w in weights.items():
        if w < 0:
            raise ValueError(f"negative weight for split {name!r}")
        cum += w / total
        out.append((name, f"{min(int(cum * 2**32), 2**32 - 1):08x}"))
    return out


def split_dataset(df: DataFrame, weights: dict[str, float] | None = None,
                  seed: int = 0) -> DataFrame:
    """df(doc_id, ...) → the same plus ``split`` ∈ weights.keys(),
    assigned by hashed doc_id — every row lands in exactly one split,
    stable across runs, partitionings and cluster sizes. Default 80/10/10
    train/val/test."""
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    ths = _thresholds(weights)
    # bind the hash as a projected column so the md5 evaluates once per
    # row, not once per when-branch (SCALE.md §3 expression pitfalls)
    h = F.col("__h8")
    expr = F.lit(ths[-1][0])
    for name, th in reversed(ths[:-1]):
        expr = F.when(h < F.lit(th), F.lit(name)).otherwise(expr)
    return (df.withColumn("__h8", _hash8(seed))
            .withColumn("split", expr)
            .drop("__h8"))


def deterministic_sample(df: DataFrame, fraction: float,
                         seed: int = 0) -> DataFrame:
    """df(doc_id, ...) → a stable ``fraction`` of its rows by hashed
    doc_id. Unlike ``DataFrame.sample`` this is reproducible independent
    of partitioning and retriggers, and two samples at fractions f1 < f2
    are NESTED (the f1 sample is a subset of the f2 sample) — the
    property needed for scaling-law data ladders.

    Quantization: the threshold is ``fraction`` rounded down to a multiple
    of 2**-32, capped one code below 1.0 — so any fraction < 1.0 excludes
    at least the keys hashing exactly to ``ffffffff`` (a deliberate strict
    subset; ``fraction >= 1.0`` is the identity)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    if fraction >= 1.0:
        return df
    th = f"{min(int(fraction * 2**32), 2**32 - 1):08x}"
    return df.where(_hash8(seed) < F.lit(th))
