"""Driver-or-distributed routing for the hybrid closure operators.

Every hybrid operator (transitive closure, keyed transitive closure,
union elimination, property closure, the warm property closure of
delta entailment, connected components) runs a driver-side algorithm
on dictionary-scale inputs and a distributed semi-naive loop
otherwise. ``route`` is the one place that choice is made:

- ONE aggregate job computes the exact row count and the payload bytes
  (``sum(octet_length)`` over the columns); no row reaches the driver
  until both the row bound and the byte bound hold — a row bound alone
  could admit multi-GB string payloads on a small-driver cluster;
- when both hold, the rows come back once, as Arrow batches
  (``toPandas``), never as per-row pickled ``Row`` objects;
- the distributed side receives the exact row count (it sizes the
  loops' shuffles, see plans/loop_tuning.py).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the byte bound of every routed site's driver fetch
DRIVER_MAX_BYTES = 256 << 20


def route(
    df: DataFrame,
    max_rows: int,
    *,
    on_decided: Callable[[], None] | None = None,
):
    """-> (n_rows, pandas.DataFrame | None).

    The rows of ``df`` as a pandas frame when ``df`` has at most
    ``max_rows`` rows AND at most ``DRIVER_MAX_BYTES`` payload bytes
    (read at call time); otherwise None, with the exact row count of
    ``df`` for the distributed side. ``max_rows == 0`` forces
    the distributed side without running any job: (None, None).

    ``on_decided`` runs after the decision and before the fetch when
    the driver side is chosen (phase timing)."""
    if not max_rows:
        return None, None
    payload = sum(
        F.coalesce(F.octet_length(F.col(c).cast("string")), F.lit(0))
        for c in df.columns
    )
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(payload).alias("b")
    ).collect()[0]
    n_rows = int(row["n"])
    if n_rows > max_rows or (row["b"] or 0) > DRIVER_MAX_BYTES:
        return n_rows, None
    if on_decided is not None:
        on_decided()
    return n_rows, df.toPandas()
