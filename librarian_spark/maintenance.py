"""Table maintenance: small-file compaction for parquet directories.

The reference writes one file per ``batch_size_num_records`` rows
(`/root/reference/internal/parquet/preserver.go:79-83`) and the incremental
snapshot/materialize paths append per run — over time any long-lived dataset
accretes small files, and at 100 TB the "small files problem" is the top
operational cost of a parquet lake: every query pays per-file open/footer
overhead, and the driver pays per-file listing/planning memory.

``compact`` rewrites a directory into ~``target_file_mb`` files:

1. size the target file count from the directory's actual bytes (not row
   counts — compression ratio varies per dataset),
2. one distributed read → ``repartition(n)`` → write to a hidden staging dir
   inside the leaf (repartition, not coalesce: coalesce collapses upstream
   parallelism and can OOM single tasks; the extra shuffle is the price of
   even files),
3. verify row-count parity, then swap file-by-file under a fsync'd commit
   marker — interrupted swaps are rolled forward (marker present) or rolled
   back (marker absent) on the next entry, and the dataset directory itself
   is never renamed or absent.

On object stores swap step 3 for a transactional table format (Delta/Iceberg
``OPTIMIZE``/rewrite) — steps 1–2 and the parity check are identical.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import SparkSession

from librarian_spark.snapshot import delta_prefix, load_watermark

__all__ = ["compact", "dir_stats"]


def dir_stats(path: str) -> tuple[int, int]:
    """(n_parquet_files, total_bytes) under ``path`` (recursive)."""
    n, size = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _partition_subdirs(path: str) -> list[str]:
    """Immediate ``key=value`` partition directories under ``path``.

    Dot/underscore-prefixed names are excluded — they are hidden from Spark's
    file listing too, which is what makes them safe as staging dirs."""
    return sorted(
        d
        for d in os.listdir(path)
        if "=" in d
        and not d.startswith((".", "_"))
        and os.path.isdir(os.path.join(path, d))
    )


def compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    min_files: int = 2,
) -> dict:
    """Rewrite ``path`` into ~``target_file_mb``-sized parquet files.

    Layout-preserving and state-aware:

    - **Hive-partitioned datasets** (``key=value`` subdirs) are compacted
      per leaf partition — the directory layout, partition pruning, and the
      exact partition-value strings survive (a whole-tree rewrite would
      flatten the layout and round-trip values through partition-type
      inference).
    - **Incremental-snapshot dirs**: delta files tagged with the current
      watermark (a possibly-uncommitted append) are left byte-identical so
      a crash retry still overwrites its own names idempotently.
    - Sidecars (``_catalog.json``, ``_watermark.json``) never move — the
      swap only touches the data files being replaced.

    Crash safety (the swap is file moves, not a directory rename): new files
    are staged in a dot-prefixed dir INSIDE the leaf (invisible to Spark's
    listing and to partition discovery), a fsync'd ``_COMMIT_READY`` marker
    makes the swap decision durable, and every entry first rolls forward or
    rolls back any interrupted prior attempt (``_recover_leaf``):

    - crash before the marker → staging is deleted, original untouched;
    - crash after the marker → the recorded swap is completed from the
      staging manifest (displace remaining old files, move new files in).

    The dataset directory itself is never renamed, so there is no window
    where ``path`` does not exist.

    Requires a QUIESCENT table: a concurrent writer's append between read
    and swap would be lost. A best-effort listing re-check narrows that
    window to milliseconds and aborts (original untouched) when it trips;
    for truly concurrent writers use a transactional table format's rewrite.
    Returns a report dict; no-op when fewer than ``min_files`` files.
    """
    # delta files of the CURRENT watermark may be an uncommitted append (the
    # crash window between append and watermark-save) that a retry
    # overwrites by name: they stay byte-identical. The watermark sidecar
    # sits at the dataset root and covers the deltas of every leaf.
    wm = load_watermark(path)
    protect = delta_prefix(wm) if wm else None
    return _compact_tree(spark, path, protect, target_file_mb, min_files)


def _compact_tree(
    spark: SparkSession,
    path: str,
    protect: str | None,
    target_file_mb: int,
    min_files: int,
) -> dict:
    parts = _partition_subdirs(path)
    if parts:
        reports = [
            _compact_tree(
                spark, os.path.join(path, p), protect, target_file_mb, min_files
            )
            for p in parts
        ]
        n_after, bytes_total = dir_stats(path)
        return {
            "path": path,
            "partitions": len(parts),
            "files_after": n_after,
            "bytes": bytes_total,
            "compacted": any(r["compacted"] for r in reports),
        }

    _recover_leaf(path)

    def _data_files() -> set[str]:
        return {
            f
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        }

    all_files = _data_files()
    protected = {f for f in all_files if protect and f.startswith(protect)}
    candidates = sorted(all_files - protected)
    n_before, bytes_before = dir_stats(path)
    report = {
        "path": path,
        "files_before": n_before,
        "bytes": bytes_before,
        "compacted": False,
    }
    if len(candidates) < min_files:
        return report

    df = spark.read.parquet(*[os.path.join(path, f) for f in candidates])
    rows_before = df.count()
    cand_bytes = sum(os.path.getsize(os.path.join(path, f)) for f in candidates)
    n_target = max(1, -(-cand_bytes // (target_file_mb * 1024 * 1024)))

    # dot-prefixed staging INSIDE the leaf: hidden from Spark's listing, from
    # partition discovery on the parent (a sibling dir named
    # 'lang=en.compact_<ts>' would itself look like a partition), and from
    # _partition_subdirs — a crash can never leave a half-visible dataset
    staging = os.path.join(path, f".compact_{int(time.time())}")
    df.repartition(n_target).write.mode("overwrite").parquet(staging)

    rows_after = spark.read.parquet(staging).count()
    if rows_after != rows_before:
        shutil.rmtree(staging, ignore_errors=True)
        raise RuntimeError(
            f"compaction row-count mismatch ({rows_before} -> {rows_after}); "
            f"original left untouched at {path}"
        )

    # quiescence guard: abort if the data-file set changed while we rewrote
    if _data_files() != all_files:
        shutil.rmtree(staging, ignore_errors=True)
        raise RuntimeError(
            f"directory {path!r} changed during compaction (concurrent "
            "writer?); original left untouched — quiesce writers and retry"
        )

    # durable swap decision: manifest (which old files this run replaces)
    # then a fsync'd commit marker. After the marker exists, the swap WILL
    # complete — either below or by _recover_leaf on the next entry.
    with open(os.path.join(staging, _MANIFEST), "w", encoding="utf-8") as fh:
        json.dump({"replaces": candidates}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    marker = os.path.join(staging, _COMMIT_MARKER)
    with open(marker, "w", encoding="utf-8") as fh:
        fh.flush()
        os.fsync(fh.fileno())

    _complete_swap(path, staging)

    n_after, _ = dir_stats(path)
    report.update(
        {"compacted": True, "files_after": n_after, "rows": rows_before}
    )
    return report


_MANIFEST = "_compact_manifest.json"
_COMMIT_MARKER = "_COMMIT_READY"


def _complete_swap(path: str, staging: str) -> None:
    """Roll the committed swap forward: displace the manifest's old files,
    move the staged files in, clean up. Every step is an idempotent rename —
    safe to re-run from any crash point."""
    with open(os.path.join(staging, _MANIFEST), encoding="utf-8") as fh:
        replaces = json.load(fh)["replaces"]
    trash = staging + ".old"
    os.makedirs(trash, exist_ok=True)
    for f in replaces:
        src = os.path.join(path, f)
        if os.path.exists(src):
            os.replace(src, os.path.join(trash, f))
    for f in sorted(os.listdir(staging)):
        if f.endswith(".parquet"):
            os.replace(os.path.join(staging, f), os.path.join(path, f))
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(trash, ignore_errors=True)


def _recover_leaf(path: str) -> None:
    """Finish or discard interrupted compactions in ``path``.

    ``.compact_*`` staging dirs WITH the commit marker are rolled forward
    (the swap was decided — completing it is the only consistent outcome);
    without the marker they are rolled back by deletion (the original data
    files are all still in place). Orphaned ``.old`` trash dirs from a
    completed swap are removed."""
    for d in sorted(os.listdir(path)):
        full = os.path.join(path, d)
        if not (d.startswith(".compact_") and os.path.isdir(full)):
            continue
        if d.endswith(".old"):
            # trash of a swap whose staging dir is already gone → garbage
            if not os.path.isdir(full[: -len(".old")]):
                shutil.rmtree(full, ignore_errors=True)
            continue
        if os.path.exists(os.path.join(full, _COMMIT_MARKER)):
            _complete_swap(path, full)
        else:
            shutil.rmtree(full, ignore_errors=True)


def cluster_write(
    df, path: str, cluster_cols: list[str], n_files: int | None = None
) -> None:
    """Write ``df`` range-clustered on ``cluster_cols``: rows are range-
    partitioned then sorted within each file, so every parquet file covers a
    narrow, non-overlapping slice of the cluster key.

    This is what makes min/max row-group skipping WORK: on a randomly-ordered
    100 TB table every file's [min, max] spans the whole key domain and a
    selective range filter still opens every file; after clustering, the same
    filter prunes to the handful of files whose stats overlap (verified
    against parquet footer stats in tests). The poor man's Z-order — for one
    clustering dimension it is exactly optimal; for multi-dimension tradeoffs
    interleave the key bits before calling this.
    """
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in cluster_cols]
    out = df.repartitionByRange(*( [n_files] if n_files else [] ), *cols)
    out.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)


def _parquet_paths(path: str) -> list[str]:
    """Data files under ``path`` (a file or a directory), sorted for
    deterministic iteration — shared by both footer-stats readers."""
    return (
        sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        if os.path.isdir(path)
        else [path]
    )


def footer_minmax(path: str, columns: list[str]) -> dict[str, tuple]:
    """Column (min, max) across ALL parquet footers under ``path`` (a file or
    a directory) — metadata-only, a few KB of reads however large the data.

    One shared implementation for every footer-stats consumer (the z-order
    pruning assertion, q60's round-bound probe); the independent hand-rolled
    copy in tests stays independent on purpose — it verifies this one.
    Columns with no statistics anywhere are absent from the result.
    GLOBAL aggregation semantics: row groups with stats contribute even when
    sibling row groups lack them — per-FILE conservative semantics (a file
    with ANY stats gap is unknown, as pruning requires) live in
    ``footer_file_stats``.
    """
    import pyarrow.parquet as pq

    paths = _parquet_paths(path)
    out: dict[str, tuple] = {}
    for p in paths:
        md = pq.ParquetFile(p).metadata
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                nm = col.path_in_schema
                st = col.statistics
                if (
                    nm in columns
                    and st is not None
                    and st.has_min_max
                    and st.min is not None
                    and st.max is not None
                ):
                    lo, hi = st.min, st.max
                    if nm in out:
                        plo, phi = out[nm]
                        out[nm] = (min(plo, lo), max(phi, hi))
                    else:
                        out[nm] = (lo, hi)
    return out


def zorder_key(cols, mins, maxs, bits: int = 10):
    """Z-order (Morton) key: each column is min/max-scaled to ``bits`` bits and
    the bits are interleaved, so sorting by the single key keeps rows that are
    close in EVERY dimension close in the file order.

    1-D range clustering (``cluster_write``) makes min/max skipping optimal for
    one column and useless for the others; the Z-curve trades a little pruning
    power on the first column for pruning on ALL of them — the standard
    multi-dimensional layout (Delta/Iceberg OPTIMIZE ZORDER) for 100 TB fact
    tables queried on several independent keys. ``mins``/``maxs`` are inlined
    literals (one tiny pre-aggregate, bm25 pattern) so the key is a pure
    map-only codegen expression — no shuffle, no UDF.

    The expression builds the interleave as a sum of shifted bit tests —
    O(bits × ncols) integer ops per row, all whole-stage-codegen'd.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    scaled = []
    for c, lo, hi in zip(cols, mins, maxs):
        c = F.col(c) if isinstance(c, str) else c
        span = max(1, int(hi) - int(lo))
        # scale to [0, 2^bits): exact integer arithmetic throughout — `/`
        # would round-trip through doubles, which misplaces cells once
        # (value-min)*(2^bits-1) exceeds 2^53 (e.g. epoch-micros domains)
        scaled.append(
            F.least(
                F.lit((1 << bits) - 1).cast("long"),
                F.call_function(
                    "div",
                    (c.cast("long") - F.lit(int(lo)))
                    * F.lit((1 << bits) - 1),
                    F.lit(span),
                ),
            ).cast("long")
        )
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(scaled):
            key = key + (
                F.shiftright(s, b).bitwiseAND(F.lit(1))
                * F.lit(1 << (b * n + i))
            )
    return key


def zorder_write(df, path: str, cluster_cols: list[str], n_files: int = 16,
                 bits: int = 10) -> None:
    """Rewrite ``df`` Z-order-clustered on ``cluster_cols`` (see zorder_key):
    one tiny min/max pre-aggregate, then a single range-partition + sort by
    the Morton key. Layout-only — row values are untouched.

    The range shuffle keys on the discrete Morton CELL (zkey quantized into
    n_files fixed-width ranges), not the raw zkey: a RangePartitioner never
    splits equal keys, so every file holds whole cells and the per-file
    min/max boxes align with the Morton grid DETERMINISTICALLY — raw-zkey
    range sampling (default 100 rows/partition) wobbles the boundaries and
    smears cells across files, which at small data can double the predicate
    overlap set (observed: 9/16 files vs the grid-ideal 4/16). Under key-
    space skew the equal-frequency ranges merge light cells instead of
    producing empty files; the within-file zkey sort is kept so row groups
    inside a file stay clustered too."""
    from pyspark.sql import functions as F

    aggs = []
    for c in cluster_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    r = df.agg(*aggs).collect()[0]
    mins = [r[f"min_{c}"] for c in cluster_cols]
    maxs = [r[f"max_{c}"] for c in cluster_cols]
    key = zorder_key(cluster_cols, mins, maxs, bits=bits)
    cell_width = max(1, (1 << (bits * len(cluster_cols))) // n_files)
    (
        df.withColumn("__zkey", key)
        # exact integer division: __zkey spans 2^(bits*len(cluster_cols)),
        # so float division misassigns boundary cells past 53 bits
        .withColumn(
            "__zcell", F.call_function("div", F.col("__zkey"), F.lit(cell_width))
        )
        .repartitionByRange(n_files, F.col("__zcell"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey", "__zcell")
        .write.mode("overwrite")
        .parquet(path)
    )


def footer_file_stats(path: str, column: str) -> list[tuple[str, object, object]]:
    """Per-FILE (path, min, max) for one column from parquet footers — the
    zone-map manifest an Iceberg/Delta table keeps per data file, derived
    here directly from footer statistics (a few KB of metadata reads per
    file, no data IO). Files lacking stats for the column are returned with
    (None, None) so callers must keep them (pruning is only sound when the
    range is known). Per-FILE conservative semantics: ANY row group missing
    stats for the column makes the whole file unknown — contrast
    ``footer_minmax``'s global best-effort aggregation."""
    import pyarrow.parquet as pq

    out: list[tuple[str, object, object]] = []
    for p in _parquet_paths(path):
        md = pq.ParquetFile(p).metadata
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema != column:
                    continue
                st = col.statistics
                if (
                    st is None
                    or not st.has_min_max
                    or st.min is None
                    or st.max is None
                ):
                    ok = False
                    continue
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        out.append((p, lo if ok else None, hi if ok else None))
    return out
