"""Per-file statistics from Parquet footers.

The reference computes numRecords/minValues/maxValues/nullCount in a single
pass while columnarizing rows (/root/reference/src/delta/table.ts:1062-1147,
FileStats src/delta/types.ts:346-351). Spark already wrote row-group stats
into the Parquet footer, so we aggregate them driver-side with pyarrow —
no second data pass.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import json
import math
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq


def _json_safe(v: Any) -> Any:
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    if isinstance(v, float) and (v != v):  # NaN
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _bound(v: Any, toward: float) -> Any:
    """JSON-safe min (``toward=-inf``) or max (``+inf``) bound. A
    Decimal no double holds exactly is widened one ulp outward, so the
    bound still contains every value and pruning stays conservative."""
    out = _json_safe(v)
    if isinstance(v, decimal.Decimal):
        exact = decimal.Decimal(out)
        if (exact > v) if toward < 0 else (exact < v):
            out = math.nextafter(out, toward)
    return out


def collect_file_stats(file_path: str) -> dict[str, Any]:
    """Aggregate footer row-group stats → Delta-style stats dict.

    A column whose min/max some row group cannot give (pyarrow cannot
    decode Spark's int-backed DECIMAL statistics, or the writer left
    them out) gets no bounds at all, only its null count: pruning reads
    a missing bound as "cannot skip"."""
    meta = pq.ParquetFile(file_path).metadata
    num_records = meta.num_rows
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    unbounded: set[str] = set()

    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            # only top-level leaves; nested paths carry dots
            name = col.path_in_schema
            if "." in name:
                continue
            st = col.statistics
            if st is None:
                unbounded.add(name)
                continue
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if not st.has_min_max:
                if st.null_count != group.num_rows:  # not an all-null group
                    unbounded.add(name)
                continue
            try:
                mn = _bound(st.min, -math.inf)
                mx = _bound(st.max, math.inf)
            except pa.ArrowNotImplementedError:
                unbounded.add(name)
                continue
            if name not in mins or (mn is not None and mn < mins[name]):
                mins[name] = mn
            if name not in maxs or (mx is not None and mx > maxs[name]):
                maxs[name] = mx

    for name in unbounded:
        mins.pop(name, None)
        maxs.pop(name, None)
    return {
        "numRecords": num_records,
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": nulls,
    }


def stats_json(file_path: str) -> str:
    return json.dumps(collect_file_stats(file_path), separators=(",", ":"))
