"""Bounded local solve: the one rule for when an iterative operator
(connected_components, label_propagation, flow_accumulation,
pack_sequences) runs its exact numpy kernel on the driver instead of its
distributed loop.  The kernel runs only when every solve column has an
integral Spark type (read from the schema, before any job), the row count
is at most ``MAX_LOCAL_ROWS`` and no solve column holds a null (an int64
array has none); otherwise the caller's distributed path, which accepts
any input, runs.  Data crosses the Arrow boundary both ways without
writing session conf: ``toArrow()`` in, ``createDataFrame(pa.Table,
schema)`` out.  Each decision is logged once on this module's logger, the
record carrying a ``local_solve`` dict {op, path, count, cap}."""

from __future__ import annotations

import logging

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StructType

# the bounded-collect budget (4M rows of two int64 columns is ~64 MB of
# Arrow), also the size under which per-node frames get broadcast hints
MAX_LOCAL_ROWS = 4_000_000

log = logging.getLogger(__name__)


def log_decision(op: str, local: bool, count, cap: int, reason: str = "") -> None:
    """Record one size-adaptive decision and the count that made it
    (``None`` when the schema made it)."""
    path = "local" if local else "distributed"
    log.info(
        "%s: %s (count=%s, cap=%d) %s", op, path, count, cap, reason,
        extra={"local_solve": {"op": op, "path": path, "count": count, "cap": cap}},
    )


def integral(df: DataFrame, cols) -> bool:
    """True when every column in ``cols`` has an integral Spark type."""
    return all(isinstance(df.schema[c].dataType, IntegralType) for c in cols)


def collect_local(op: str, df: DataFrame, cols, n_rows: int | None = None):
    """``cols`` of ``df`` as int64 numpy arrays when the local solve applies,
    else ``None``.  The row count and per-column non-null counts come from
    ONE aggregate (the operator's sizing job); a caller that already knows
    its row bound passes ``n_rows`` and nulls are read off the Arrow data."""
    cap = MAX_LOCAL_ROWS
    if not integral(df, cols):
        log_decision(op, False, None, cap, "non-integral solve column")
        return None
    nulls = False
    if n_rows is None:
        n_rows, *non_null = df.agg(F.count(F.lit(1)), *map(F.count, cols)).first()
        nulls = any(k < n_rows for k in non_null)
    if n_rows > cap:
        log_decision(op, False, n_rows, cap)
        return None
    if not nulls:
        tbl = df.select(*cols).toArrow()
        nulls = any(tbl.column(c).null_count for c in cols)
    if nulls:
        log_decision(op, False, n_rows, cap, "null in a solve column")
        return None
    log_decision(op, True, n_rows, cap)
    return [tbl.column(c).to_numpy(zero_copy_only=False).astype(np.int64) for c in cols]


def local_frame(spark, ddl: str, *arrays) -> DataFrame:
    """The kernel's output arrays as a local relation with schema ``ddl``
    (each array is cast to its column's type)."""
    schema = StructType.fromDDL(ddl)
    tbl = pa.Table.from_arrays([pa.array(a) for a in arrays], names=schema.names)
    return spark.createDataFrame(tbl, schema)
