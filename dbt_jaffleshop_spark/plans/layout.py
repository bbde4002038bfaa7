"""Z-order data layout + per-file min/max stats + scan-time file skipping.

The 100 TB feature this implements is Delta Lake's ``OPTIMIZE ... ZORDER
BY`` + data-skipping pair (public Delta protocol: per-file column stats
in the transaction log, consulted before listing files into a scan) and
Iceberg's equivalent metrics-based scan planning. The reference runs on
warehouses (Databricks/Snowflake — README.md:43) where this layout
machinery is native; engine-side it composes three parts:

* **Z-value clustering** (`optimize_zorder`): every row's clustering
  columns are min-max normalized to ``bits``-wide unsigned ints and their
  bits interleaved into ONE ``bigint`` Morton code — a JVM-side
  shiftleft/OR expression, no UDF. ``repartitionByRange`` on the z-value
  then gives each output file a contiguous z-range, which localizes ALL
  clustering columns at once (the property a plain sort has for only its
  leading column).
* **Per-file stats** (`file_column_stats`): after staging, the parquet
  footers' row-group min/max statistics are folded into one
  ``{file: {col: [min, max]}}`` map recorded in the commit's manifest
  meta — the driver-side analogue of Delta's per-AddFile ``stats`` JSON.
  Cost is O(new files) footer reads at commit time, never a data scan.
* **File skipping** (`read_skipping` / `prune_files`): a reader resolves
  the manifest once, drops every file whose recorded [min, max] cannot
  intersect the predicate range, and scans only the survivors — the
  filter itself is still applied, so pruning can only ever remove
  provably-dead IO, never change results. Files without stats (written
  by a non-layout commit) are conservatively kept.

At 1000 executors the win is the same as Delta's: a selective predicate
over a z-ordered table turns a full-table listing into a handful of
files BEFORE any task is scheduled, and the parquet row-group stats
inside the surviving files prune further for free.

Driver-verified via the ``acid_digest`` member ``layout_zorder_scan``
(queries/op_digests.py): the z-ordered, pruned scan's content must equal
DuckDB's plain filtered scan of the same raw table — pruning loses no
rows — while the pytest additionally pins that files really are skipped
and that the Morton interleave matches a Python-reference bit-weave.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import tempfile
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .acid import AcidTable, ConcurrentWriteError

# ------------------------------------------------------------- z-values


def _to_long(col: Column, dtype: str) -> Column:
    """Clustering columns must reach the interleave as longs. Dates and
    timestamps map to epoch days/seconds (order-preserving); integral
    types cast directly. Doubles would need an order-preserving bit trick
    (flip sign bit); the engine's clustering keys are ids/dates/cents so
    integral-only keeps the code honest about what is tested."""
    if dtype == "date":
        return F.datediff(col, F.lit("1970-01-01").cast("date")).cast("long")
    if dtype == "timestamp":
        return F.unix_timestamp(col).cast("long")
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        return col.cast("long")
    raise ValueError(f"zorder column type {dtype!r} is not integral/date")


def zorder_value(
    normalized: list[Column],
    bits: int,
) -> Column:
    """Interleave ``bits`` low bits of each (already 0..2^bits-1
    normalized) long column into one Morton code: output bit
    ``i*n + j`` is input ``j``'s bit ``i``. Pure shiftleft/AND/OR
    expression — stays inside whole-stage codegen."""
    n = len(normalized)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed long")
    terms = [
        F.shiftleft(F.shiftright(v, i).bitwiseAND(F.lit(1)), i * n + j)
        for i in range(bits)
        for j, v in enumerate(normalized)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), terms).cast("long")


def _normalize(col: Column, lo: int, hi: int, bits: int) -> Column:
    """Min-max scale a long column onto [0, 2^bits - 1]. Integer
    arithmetic throughout; a wide span (epoch micros) is pre-shifted so
    the scale multiply stays under 2^62 (ANSI mode makes a silent
    overflow a hard error instead — this keeps it impossible); nulls
    sort first (0)."""
    if bits > 31:
        raise ValueError(f"bits={bits} > 31 would overflow the scale multiply")
    span = max(hi - lo, 1)
    shift = max(0, span.bit_length() - 31)
    base = (col - F.lit(lo)).cast("long")
    if shift:
        base = F.shiftright(base, shift)
    span_s = max(span >> shift, 1)
    scaled = F.floor((base * F.lit((1 << bits) - 1)) / F.lit(span_s))
    return F.coalesce(scaled.cast("long"), F.lit(0).cast("long"))


# ---------------------------------------------------------- file stats


def _json_safe(v):
    """Parquet footer min/max -> JSON-safe manifest value. Dates and
    timestamps serialize as ISO strings (lexicographic order == value
    order, so pruning comparisons stay correct); bytes decode if text."""
    if isinstance(v, _dt.datetime):
        # naive-UTC "YYYY-MM-DD HH:MM:SS[.ffffff]" — an offset suffix
        # ("+00:00") would break lexicographic-equals-chronological at
        # equal prefixes; this form keeps it exact (a ".ffffff" tail only
        # ever appends to an equal-and-earlier prefix)
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return v


def file_column_stats(
    data_dir: str, rel_files: list[str], cols: set[str]
) -> dict[str, dict[str, list]]:
    """Fold each staged parquet file's row-group statistics into one
    [min, max] per requested column. Driver-side footer reads only —
    O(files), no data scan (the same cost Delta pays to build AddFile
    stats). A column whose stats are absent in ANY row group is omitted
    for that file (readers then keep the file conservatively)."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for rel in rel_files:
        md = pq.ParquetFile(os.path.join(data_dir, rel)).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        stats: dict[str, list] = {}
        for ci, name in enumerate(names):
            if name not in cols:
                continue
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    lo = None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                stats[name] = [_json_safe(lo), _json_safe(hi)]
        out[rel] = stats
    return out


# ------------------------------------------------------------ optimize


def optimize_zorder(
    table: AcidTable,
    spark: SparkSession,
    zorder_by: list[str],
    target_files: int = 16,
    bits: int | None = None,
) -> int:
    """Rewrite the table's files clustered by the Morton code of
    ``zorder_by`` and commit the new layout + per-file stats as one new
    snapshot (Delta ``OPTIMIZE ZORDER BY``). O(table) by design — a
    maintenance job, not a query-path cost — and snapshot-isolated: the
    rewrite commits against exactly the version it read, so a concurrent
    append aborts it with :class:`ConcurrentWriteError` instead of being
    silently dropped (Delta raises ConcurrentAppend the same way).

    Unpartitioned tables only: a Hive-partitioned table z-orders WITHIN
    each partition via ``overwrite_partitions`` of per-partition rewrites
    (partition pruning already handles the partition column itself)."""
    v0 = table.current_version()
    m0 = table.manifest(v0)
    if m0["partition_by"]:
        raise ValueError(
            f"{table.path}: z-order the partitions individually via "
            "overwrite_partitions — the partition column already prunes"
        )
    df = table.read(spark, v0)
    dtypes = dict(df.dtypes)
    longs = [_to_long(F.col(c), dtypes[c]) for c in zorder_by]

    # ONE driver-collected row of global per-column min/max feeds the
    # normalization as literals — the only non-file-local input.
    bounds = df.agg(
        *[f(c).alias(f"{n}_{i}") for i, c in enumerate(longs) for n, f in
          (("lo", F.min), ("hi", F.max))]
    ).first()
    # a column's min is None iff the table is empty OR that column is
    # all-NULL — either way it contributes no clustering signal and
    # _normalize would crash on (hi - lo). Skip such columns; with NONE
    # left (empty table, or every requested column all-NULL) the rewrite
    # is a maintenance no-op and the current version stands (r7 advisor
    # fix: the old guard only checked lo_0, so an all-NULL SECOND column
    # crashed a real table and an all-NULL FIRST column no-op'ed one).
    present = [i for i in range(len(longs)) if bounds[f"lo_{i}"] is not None]
    if not present:
        return v0
    effective = [zorder_by[i] for i in present]
    bits = bits or min(31, 63 // len(present))
    norm = [
        _normalize(longs[i], bounds[f"lo_{i}"], bounds[f"hi_{i}"], bits)
        for i in present
    ]
    clustered = (
        df.withColumn("__zv", zorder_value(norm, bits))
        .repartitionByRange(target_files, "__zv")
        .sortWithinPartitions("__zv")
        .drop("__zv")
    )

    stage, files = table._stage(clustered, [])
    stats = file_column_stats(table.data_dir, files, set(zorder_by))
    # carry the prior manifest's meta forward (as compact() does): a
    # layout rewrite must not drop unrelated commit metadata — the
    # streaming sinks' stream_batch_id replay guard in particular, or a
    # checkpoint restart after this maintenance op would re-append
    # already-committed micro-batches
    meta = {
        **m0.get("meta", {}),
        # layout-only commit: the changes() CDC feed skips it
        "data_change": False,
        "schema": table._schema_map(df),
        # record the EFFECTIVE clustering (all-NULL columns contributed
        # nothing and were skipped), plus the requested list when they
        # differ, so readers of the manifest see the true layout
        "layout": (
            {"zorder": effective, "bits": bits}
            if effective == zorder_by
            else {"zorder": effective, "bits": bits, "requested": zorder_by}
        ),
        "stats": stats,
    }

    def recompute() -> tuple[list[str], int, dict]:
        cur = table.manifest()
        if cur["version"] != v0:
            raise ConcurrentWriteError(
                f"{table.path}: v{cur['version']} committed since this "
                f"rewrite read v{v0} — rerun optimize_zorder on the new "
                "snapshot (retry-merging would drop the racer's rows)"
            )
        return files, v0, meta

    return table._commit_with_retry(stage, files, [], recompute)


# ------------------------------------------------------------- skipping


def prune_files(manifest: dict, col: str, lo, hi) -> list[str]:
    """Manifest-level data skipping: keep only files whose recorded
    [min, max] for ``col`` can intersect [lo, hi]. ``lo``/``hi`` must be
    given in the stats' JSON representation (ints for integral columns,
    ISO strings for date/timestamp — see :func:`_json_safe`). Stats-less
    files are kept: skipping is an optimization, never a filter."""
    stats = manifest.get("meta", {}).get("stats", {})
    kept = []
    for f in manifest["files"]:
        s = stats.get(f, {}).get(col)
        if s is not None and (s[1] < lo or s[0] > hi):
            continue
        kept.append(f)
    return kept


def read_skipping(
    table: AcidTable, spark: SparkSession, col: str, lo, hi
) -> DataFrame:
    """Snapshot read with manifest-stats file skipping for a range
    predicate on ``col``. The predicate is STILL applied to the surviving
    files — pruning only removes IO that the stats prove dead, so the
    result is always identical to ``table.read(...).where(...)``."""
    m = table.manifest()
    kept = prune_files(m, col, lo, hi)
    pred = F.col(col).between(F.lit(lo), F.lit(hi))
    if not kept:
        return table.read(spark).where(pred).limit(0)
    paths = [os.path.join(table.data_dir, f) for f in kept]
    # basePath keeps Hive-partition columns in the schema when the kept
    # files live under partition dirs (stats-less files are always kept,
    # so a partitioned table IS reachable here), matching AcidTable.read
    return (
        spark.read.option("basePath", table.data_dir).parquet(*paths).where(pred)
    )


# ------------------------------------- driver-verified registered query

# custkey window that is non-empty at every test sf (150 customers at
# sf0.001) yet narrow enough that the z-ordered layout proves skipping
# (4/8 files pruned at sf0.001; the slice only narrows as sf grows, so
# skipping strengthens with scale — the shape the feature exists for)
SCAN_LO = 0
SCAN_HI = 40
N_FILES = 8

_last_dir: list[str] = []


def layout_zorder_scan(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Build an unpartitioned AcidTable from raw orders, OPTIMIZE it
    z-ordered by (o_custkey, o_orderdate), then answer a custkey-range
    scan through the file-skipping read path. Content must equal the
    plain filtered scan (the DuckDB oracle) no matter how many files the
    stats pruned — the invariant that makes skipping safe to ship."""
    while _last_dir:
        shutil.rmtree(_last_dir.pop(), ignore_errors=True)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    root = tempfile.mkdtemp(prefix="zorder_scan_")
    _last_dir.append(root)
    t = AcidTable(os.path.join(root, "orders_z"))
    # initial commit deliberately row-scattered across N_FILES so the
    # rewrite (not the source layout) is what earns the skipping
    t.overwrite(orders.repartition(N_FILES))
    optimize_zorder(t, spark, ["o_custkey", "o_orderdate"], target_files=N_FILES)
    return read_skipping(t, spark, "o_custkey", SCAN_LO, SCAN_HI).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )


ORACLES = {
    "layout_zorder_scan": f"""
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        FROM orders
        WHERE o_custkey BETWEEN {SCAN_LO} AND {SCAN_HI}
    """,
}
