"""Size guard for driver-side layer collects.

Several operators deliberately collect a SMALL geometry layer (polygon
vertices, covering cells, road segments) into a UDF closure so the big
point/document side never shuffles — the right 100-TB plan while the
layer fits comfortably in driver + executor memory.  The hazard is the
silent failure mode at 100× layer growth: an unguarded ``collect()`` of
a 10 M-vertex layer OOMs the driver with no actionable message.

``check_layer_size`` runs ONE cheap Spark-side aggregate over the layer
(count + summed element sizes) BEFORE any collect, so oversized layers
are rejected while they are still distributed.  Callers either raise
(operators with no alternative plan) or fall back to a shuffle-based
equi-join plan (``pip_join``).

Caps default to ~1 M layer rows / 1 GiB of closure payload — far above
any real polygon/road layer a broadcast plan should carry, far below
where a driver heap dies.  Both are overridable per call for tuned
deployments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_LAYER_ROWS = 1_000_000
MAX_LAYER_BYTES = 1 << 30  # 1 GiB of closure payload


class LayerTooLargeError(ValueError):
    """The layer exceeds the driver-collect envelope — use the operator's
    distributed fallback (or raise the caps explicitly if the driver is
    provisioned for it)."""


def check_layer_size(
    layer: DataFrame,
    *,
    what: str,
    item_bytes: dict[str, int] | None = None,
    bytes_per_row: int = 64,
    max_rows: int | None = None,
    max_bytes: int | None = None,
    fallback_hint: str = "",
) -> tuple[int, int]:
    """Aggregate (rows, payload bytes) of ``layer`` Spark-side and raise
    ``LayerTooLargeError`` if either cap is exceeded.

    ``item_bytes``: {array column: bytes per element} for the columns
    whose element counts dominate the payload (e.g. polygon ``xs``),
    summed in the same aggregate, plus ``bytes_per_row`` fixed per row.
    Returns (n_rows, est_bytes) so callers can log them.

    Caps default to the module-level ``MAX_LAYER_ROWS`` / ``MAX_LAYER_BYTES``
    read at CALL time, so a provisioned deployment (or a test) can retune
    them globally without threading arguments through every operator.
    """
    if max_rows is None:
        max_rows = MAX_LAYER_ROWS
    if max_bytes is None:
        max_bytes = MAX_LAYER_BYTES
    item_bytes = item_bytes or {}
    row = layer.agg(F.count(F.lit(1)), *[
        F.coalesce(F.sum(F.size(c)), F.lit(0)) for c in item_bytes]).collect()[0]
    n = int(row[0])
    est = n * bytes_per_row + sum(
        int(items) * b for items, b in zip(row[1:], item_bytes.values()))
    if n > max_rows or est > max_bytes:
        raise LayerTooLargeError(
            f"{what}: layer has {n:,} rows / ~{est / 2**20:,.0f} MiB payload, "
            f"over the driver-collect envelope ({max_rows:,} rows / "
            f"{max_bytes / 2**20:,.0f} MiB). "
            + (fallback_hint or "Raise max_rows/max_bytes only if the "
                                "driver is provisioned for it."))
    return n, est
