"""Data skipping shared by both table formats: what a file's stats can prove.

``sources/tables.py`` (one zonemap per data dir, kept in the manifest) and
``sources/delta_lite.py`` (one ``add.stats`` per file, kept in the Delta log)
make the same three decisions, and both make them here:

  - footer stats: per-column min, max and null count of freshly
    written parquet files, folded from their footers (metadata-scale, no
    Spark job);
  - zonemap test: can a unit whose columns lie in ``[min, max]`` hold a row
    matching an AND of ``(col, op, value)`` conditions?
  - key-overlap pruning for keyed MERGE: which units may hold a key of the
    merge source?

A zonemap is ``{col: [min, max]}``. ``[None, None]`` marks a column whose
values are all NULL (no comparison matches it); a column without usable
stats is simply absent and never prunes. Each format keeps its own rule for
unusable columns and its own storage of the result.
"""

from __future__ import annotations

import bisect
import datetime
import decimal
import os
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Distinct merge-source keys collected driver-side for the exact bisect
#: test; past this many the per-column min/max envelope decides.
KEY_PRUNE_CAP = 100_000

_STATS_TYPES = ("int", "bigint", "smallint", "tinyint", "float", "double",
                "string", "date")  # + timestamp*, decimal* by prefix


def stats_cols(schema: StructType) -> list[str]:
    """Columns eligible for zonemap stats (orderable scalars)."""
    return [
        f.name
        for f in schema.fields
        if f.dataType.simpleString() in _STATS_TYPES
        or f.dataType.simpleString().startswith(("timestamp", "decimal"))
    ]


def minmax_aggs(cols: list[str]) -> list[Column]:
    """min/max aggregates over ``cols``; ``zonemap_of`` reads a result row."""
    return [F.min(c).alias(f"__lo_{i}") for i, c in enumerate(cols)] + [
        F.max(c).alias(f"__hi_{i}") for i, c in enumerate(cols)
    ]


def zonemap_of(row, cols: list[str]) -> dict:
    return {c: [row[f"__lo_{i}"], row[f"__hi_{i}"]] for i, c in enumerate(cols)}


# ------------------------------------------------------------ footer stats
def is_committed_output(rel_dir: str, fname: str) -> bool:
    """Should this walked file be read as committed output? ``rel_dir`` is
    its directory relative to the walk root, so only components below the
    root are tested (a table may live under any directory).

    Two committed attempts of one task carry IDENTICAL file names, so the
    final rename leaves at most one. What committer v2 can leave behind is
    an uncommitted zombie: a speculative or failed attempt's files under a
    ``_temporary/.../attempt_*/`` subtree, which would double the task's
    rows. So the guard is a PATH test, never an mtime or part-number
    heuristic: keying on the part number would drop legitimate multi-file
    task outputs (``-c000``/``-c001`` from spark.sql.files.maxRecordsPerFile).
    It is the hidden-path rule of Spark's own file listing: a component
    starting with ``.``, or with ``_`` and holding no ``=``, hides its
    subtree. That skips ``_temporary`` and ``_SUCCESS`` but keeps partition
    dirs such as ``attempt_no=3`` or ``_flag=1``, so the walk counts
    exactly the rows a read of the dir returns."""
    parts = rel_dir.replace(os.sep, "/").split("/") + [fname]
    return not any(
        (p.startswith(".") and p != ".") or (p.startswith("_") and "=" not in p)
        for p in parts
    )


def committed_footers(root: str):
    """``(dir, file name, footer)`` of each committed parquet file under
    ``root``, in walk order."""
    import pyarrow.parquet as pq

    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            rel_dir = os.path.relpath(dirpath, root)
            if fname.endswith(".parquet") and is_committed_output(rel_dir, fname):
                path = os.path.join(dirpath, fname)
                yield dirpath, fname, pq.ParquetFile(path).metadata


@dataclass
class ColumnStats:
    """One column's footer stats folded over a file set."""

    lo: Any = None  # min over non-null values; None while every value is NULL
    hi: Any = None
    nulls: int | None = 0  # None when some chunk does not record it
    bounded: bool = True  # False when some chunk's range cannot be read


def _naive_utc(v):
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def _chunk_bounds(st, col) -> tuple:
    """A column chunk's (min, max), or (None, None) when undecodable."""
    import pyarrow as pa

    try:
        return _naive_utc(st.min), _naive_utc(st.max)
    except (pa.ArrowException, ValueError):
        # pyarrow cannot decode the logical min/max of INT32/INT64-backed
        # decimals (Spark's layout for precision <= 18); the raw stat is
        # the unscaled integer, so rescale it exactly
        if col.converted_type == "DECIMAL" and isinstance(st.min_raw, int):
            return (
                decimal.Decimal(st.min_raw).scaleb(-col.scale),
                decimal.Decimal(st.max_raw).scaleb(-col.scale),
            )
        return None, None


def fold_footers(footers) -> dict[str, ColumnStats]:
    """Per-column stats of the top-level columns, folded over parquet
    footers (nested leaves are skipped: they prune nothing). Values match
    what a Spark min/max aggregate collects: tz-aware timestamps become
    naive UTC, narrow decimals are rescaled from their raw integers. A
    truncated binary bound stays a valid cover (parquet-mr rounds a
    truncated max up), which is all skipping needs."""
    out: dict[str, ColumnStats] = {}
    for md in footers:
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                chunk = g.column(ci)
                name = chunk.path_in_schema
                if "." in name:
                    continue
                s = out.setdefault(name, ColumnStats())
                st = chunk.statistics
                nc = st.null_count if st is not None else None
                s.nulls = None if nc is None or s.nulls is None else s.nulls + nc
                if st is not None and st.has_min_max:
                    lo, hi = _chunk_bounds(st, md.schema.column(ci))
                    if lo is None or hi is None or lo != lo or hi != hi:
                        s.bounded = False  # undecodable, or NaN (poisons min/max)
                    elif s.lo is None:
                        s.lo, s.hi = lo, hi
                    else:
                        s.lo, s.hi = min(s.lo, lo), max(s.hi, hi)
                elif nc != g.num_rows:
                    s.bounded = False  # no stats on a chunk holding values
    return out


# -------------------------------------------------- comparator and filter
def coerce(stored, like):
    """Parse a JSON-round-tripped stat value back into ``like``'s type
    family so comparisons are meaningful (None for bools: the min/max of a
    flag prunes nothing)."""
    if stored is None or isinstance(like, bool):
        return None
    if isinstance(like, (int, float, decimal.Decimal)):
        return float(stored)
    if isinstance(like, datetime.datetime):
        return datetime.datetime.fromisoformat(str(stored))
    if isinstance(like, datetime.date):
        parsed = datetime.datetime.fromisoformat(str(stored))
        return parsed.date() if isinstance(parsed, datetime.datetime) else parsed
    return str(stored)


def _is_nan(v) -> bool:
    """A NaN bound proves nothing: Spark orders NaN above every number and
    ``max`` returns it, while every comparison with it is False."""
    return v != v


_MAY_HOLD = {
    "=": lambda lo, hi, v: lo <= v <= hi,
    "<": lambda lo, hi, v: lo < v,
    "<=": lambda lo, hi, v: lo <= v,
    ">": lambda lo, hi, v: hi > v,
    ">=": lambda lo, hi, v: hi >= v,
    "between": lambda lo, hi, v: not (hi < v[0] or lo > v[1]),
}


def may_match(zonemap: dict, conds) -> bool:
    """Conservative zonemap test for the AND of ``(col, op, value)``
    conditions, op in ``= < <= > >= between`` (between takes ``(lo, hi)``):
    False only when some column's ``[min, max]`` PROVES no row satisfies its
    condition. Columns without stats, NaN bounds and bool values never
    prune."""
    for col, op, value in conds:
        like = value[0] if op == "between" else value
        if col not in zonemap or isinstance(like, bool):
            continue
        lo, hi = (coerce(b, like) for b in zonemap[col])
        if lo is None and hi is None:
            return False  # all-NULL unit: no comparison ever matches
        if lo is None or hi is None or _is_nan(lo) or _is_nan(hi):
            continue
        if op not in _MAY_HOLD:
            raise ValueError(f"unsupported op {op!r}")
        if isinstance(like, (int, float, decimal.Decimal)):
            # both sides as floats: rounding is monotone, so a bound that
            # holds exactly still holds (a float bound vs an exact Decimal
            # would wrongly prune Decimal("0.1") against a 0.1 stat)
            value = tuple(map(float, value)) if op == "between" else float(value)
        if not _MAY_HOLD[op](lo, hi, value):
            return False
    return True


def conds_filter(conds) -> Column:
    """AND of ``(col, op, value)`` conditions as a real Column filter."""
    out = F.lit(True)
    for col, op, value in conds:
        c = F.col(col)
        out = out & (
            c.between(*value)
            if op == "between"
            else {"=": c == value, "<": c < value, "<=": c <= value,
                  ">": c > value, ">=": c >= value}[op]
        )
    return out


# ------------------------------------------------- keyed MERGE pruning
def overlapping_units(units, keys: list[str], source: DataFrame) -> list:
    """Ids of the ``(unit_id, zonemap)`` units that may hold a key of
    ``source``: the files or dirs a keyed MERGE must read and rewrite.

    A single-key merge collects the distinct source keys (capped at
    ``KEY_PRUNE_CAP``; merge sources are the small side) and bisects each
    unit's ``[min, max]`` against the actual key set, so an upsert of
    {day-1 keys, one far-away fresh key} does not smear into an envelope
    covering the whole table. Multi-key, bool-keyed or over-cap sources
    fall back to the per-column min/max envelope (conservative, still
    exact). NULL keys never equi-join, so all-NULL units and NULL source
    keys are ignored, and a key column with no non-null source value means
    a pure insert. Units without stats, or with a NaN bound, must be
    assumed to overlap."""
    units = list(units)
    if len(keys) == 1:
        k = keys[0]
        rows = (
            source.select(k)
            .where(F.col(k).isNotNull())
            .distinct()
            .limit(KEY_PRUNE_CAP + 1)
            .collect()
        )
        if not rows:
            return []
        like = rows[0][0]
        if len(rows) <= KEY_PRUNE_CAP and not isinstance(like, bool):
            # a NaN key can only match a unit whose bound is NaN, and
            # those are always kept; it would break the sort order
            vals = sorted(v for v in (coerce(r[0], like) for r in rows)
                          if not _is_nan(v))
            out = []
            for uid, zm in units:
                if k not in zm:
                    out.append(uid)  # no stats: must assume overlap
                    continue
                lo, hi = (coerce(b, like) for b in zm[k])
                if lo is None and hi is None:
                    continue  # all-NULL unit: equi-join can't match
                if lo is None or hi is None or _is_nan(lo) or _is_nan(hi):
                    out.append(uid)
                    continue
                i = bisect.bisect_left(vals, lo)
                if i < len(vals) and vals[i] <= hi:
                    out.append(uid)
            return out
    env = zonemap_of(source.agg(*minmax_aggs(keys)).collect()[0], keys)
    if any(b == [None, None] for b in env.values()):
        return []
    conds = [(k, "between", tuple(b)) for k, b in env.items()]
    return [uid for uid, zm in units if may_match(zm, conds)]
