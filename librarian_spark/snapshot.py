"""Batch snapshot pipeline ("archiver snapshot").

Reference lifecycle (`/root/reference/internal/archiver/archiver.go:57-130`):
catalog init → COUNT pre-scan → run user query → pull rows one at a time →
buffer → flush a ``<uuid>.parquet`` every ``batch_size_num_records`` rows →
final flush → write ``catalog.json``.

Spark-first re-expression: the entire single-threaded pull loop becomes ONE
distributed job — ``source DataFrame → spark.sql(query) → df.write.parquet`` with
``maxRecordsPerFile`` standing in for the reference's row-batched file splitting
(`internal/parquet/preserver.go:79-83`). The count pre-scan and processed-count
parity check are preserved because they're the catalog contract, but the processed
count is an ``Observation`` on the written frame — counted by the write itself,
not by reading the output back.

Scale notes:
- The query runs through Catalyst: projection pruning + predicate pushdown reach
  the parquet/JDBC scan, unlike the reference where optimization only happens if
  the *source database* does it.
- ``repartition(n)`` before write controls output file count/parallelism at
  cluster scale; ``partition_by`` adds hive-style partitioning the reference lacks.
- For JDBC sources, partitioned reads (`sources/batch.py`) replace the reference's
  single cursor.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid as _uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from librarian_spark.catalog import CatalogRecord, write_catalog
from librarian_spark.config import ArchiverConfig, LibrarianConfig
from librarian_spark.schema import fields_to_struct_type
from librarian_spark.sources.batch import read_jdbc_query

__all__ = [
    "Snapshotter",
    "snapshot",
    "run_snapshot_config",
    "load_watermark",
    "delta_prefix",
]

_WATERMARK_FILE = "_watermark.json"


def load_watermark(out_path: str) -> dict | None:
    """The incremental snapshot's saved high watermark, None before run 1."""
    p = os.path.join(out_path, _WATERMARK_FILE)
    if not os.path.exists(p):
        return None
    with open(p, encoding="utf-8") as fh:
        return json.load(fh)


def delta_prefix(wm: dict) -> str:
    """Name prefix of the delta files appended PAST watermark ``wm``:
    ``delta-<md5(value)[:12]>``. Until the next watermark is saved, files
    under the current watermark's prefix may be an uncommitted append that
    a retry overwrites by name, so compaction leaves them alone."""
    return "delta-" + hashlib.md5(str(wm["value"]).encode()).hexdigest()[:12]


class Snapshotter:
    """Orchestrates one snapshot: source → query → parquet + catalog."""

    def __init__(self, spark: SparkSession, cfg: ArchiverConfig):
        self.spark = spark
        self.cfg = cfg

    # -- source -----------------------------------------------------------
    def read_source(self) -> DataFrame:
        src = self.cfg.source
        if src.format == "jdbc":
            return read_jdbc_query(
                self.spark,
                src.connection_string,
                src.effective_query(),
                properties=src.properties,
            )
        if src.format in ("parquet", "csv", "json", "orc"):
            if not src.path:
                raise ValueError(f"{src.format} source requires a path")
            reader = self.spark.read
            if src.format == "csv":
                df = reader.option("header", "true").csv(src.path)
            elif src.format == "json":
                df = reader.json(src.path)
            elif src.format == "orc":
                df = reader.orc(src.path)
            else:
                df = reader.parquet(src.path)
            # file sources register the table then run the configured query
            # natively (the capability the reference outsources to Postgres).
            view = src.table or "source"
            df.createOrReplaceTempView(view)
            if src.query.strip():
                return self.spark.sql(src.query)
            return df
        raise ValueError(f"unknown source format: {src.format!r}")

    # -- sink -------------------------------------------------------------
    def _writer(self, df: DataFrame, mode: str):
        """The declared write settings, shared by the full and the
        incremental path: repository hadoop conf, the preserver's schema
        cast, per-file row cap, codec and hive partitioning.

        ``maxRecordsPerFile`` ≡ reference ``batch_size_num_records``
        (`internal/parquet/preserver.go:79-83`); 0 means "no per-file cap"
        (`internal/config/config.go:60-62`).
        """
        pres = self.cfg.preserver
        repo = self.cfg.repository
        for k, v in repo.hadoop_conf().items():
            self.spark.conf.set(k, v)
        if pres.fields:
            # schema enforcement ≡ RecordToParquetRow arity/type check
            # (`internal/parquet/schema.go:52-73`) — cast to the declared types.
            declared = fields_to_struct_type(pres.fields)
            cols = [df[f.name].cast(f.dataType).alias(f.name) for f in declared.fields]
            df = df.select(cols)
        writer = df.write.mode(mode)
        if pres.batch_size_num_records > 0:
            writer = writer.option("maxRecordsPerFile", pres.batch_size_num_records)
        if pres.compression:
            writer = writer.option("compression", pres.compression)
        if repo.partition_by:
            writer = writer.partitionBy(*repo.partition_by)
        return writer

    def write(self, df: DataFrame, out_path: str) -> int:
        """Distributed parquet overwrite of ``out_path``; returns the number
        of rows committed."""
        # processed count from an Observation on the written frame, standing
        # in for the reference's per-row counter: the write itself counts, no
        # re-read of the output. The observe sits above any ORDER BY sort,
        # whose range-bounds sampler re-runs the sort's child.
        obs = Observation("snapshot_write")
        observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
        self._writer(observed, "overwrite").parquet(out_path)
        return obs.get["n"]

    # -- incremental high-watermark state ---------------------------------
    def _save_watermark(self, out_path: str, column: str, value, dtype: str) -> None:
        # atomic temp+rename, same contract as the reference's checkpoint
        # writer (`pkg/replicator/checkpoint.go:103-117`)
        p = os.path.join(out_path, _WATERMARK_FILE)
        tmp = p + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump({"column": column, "value": str(value), "type": dtype}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, p)

    # -- orchestration ----------------------------------------------------
    def run(self, snapshot_id: str | None = None) -> CatalogRecord:
        src = self.cfg.source
        record = CatalogRecord(
            id=snapshot_id or str(_uuid.uuid4()),
            source={
                "schema": src.schema,
                "table": src.table,
                "query": src.effective_query() if (src.query or src.table) else "",
            },
        )
        df = self.read_source()
        repo_cfg = self.cfg.repository
        sdk_repo = None
        if repo_cfg.type == "s3" and repo_cfg.upload == "sdk":
            # reference-parity S3 path (`internal/s3/repository.go:60-115`):
            # Spark commits to LOCAL staging, the repository uploads the
            # committed objects through the AWS SDK — no hadoop-aws needed
            import tempfile

            from librarian_spark.s3_repo import S3SdkRepository

            if src.incremental_column:
                raise ValueError(
                    "incremental snapshots need repository.upload: hadoop "
                    "(s3a) — the SDK path re-stages locally per run and "
                    "would lose append state"
                )
            out_path = tempfile.mkdtemp(prefix="librarian_s3stage_")
            sdk_repo = S3SdkRepository(
                bucket=repo_cfg.bucket,
                prefix=repo_cfg.prefix,
                region=repo_cfg.region,
                endpoint=repo_cfg.endpoint,
                force_path_style=repo_cfg.force_path_style,
            )
        else:
            out_path = repo_cfg.spark_path()

        wm = None
        if src.incremental_column:
            # delta pull: only rows past the persisted high watermark. The
            # filter is a plain comparison on the monotone column, so it
            # pushes down to the parquet/JDBC scan — the source never
            # re-reads history (the point of incremental snapshots at scale).
            col = src.incremental_column
            dtype = dict(df.dtypes).get(col)
            if dtype is None:
                raise ValueError(f"incremental column {col!r} not in source output")
            wm = load_watermark(out_path)
            if wm is not None:
                df = df.filter(F.col(col) > F.lit(wm["value"]).cast(dtype))

        if src.incremental_column:
            # one aggregate covers both the catalog count pre-scan
            # (`internal/sql/source.go:43-49`) AND the new high watermark —
            # a separate count + max would scan the (live) source twice and
            # could disagree with what gets written
            col = src.incremental_column
            agg = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.max(col).alias("m"),
            ).collect()[0]
            record.num_source_records, new_max = agg.n, agg.m
            if new_max is None:
                # empty delta: nothing to write, watermark unchanged
                record.finish(0)
            else:
                # Bound the write to the SAME interval the aggregate (and
                # therefore the saved watermark) observed: on a live source
                # (JDBC), rows committed between the aggregate action and the
                # write action would otherwise be written yet exceed the saved
                # watermark — the next run would re-pull and re-append them
                # under a different delta tag, defeating the idempotent
                # overwrite. With the upper bound, (watermark_old, new_max]
                # is exactly what both actions cover; late arrivals belong to
                # the next run. The bound is a plain comparison on the
                # monotone column, so it pushes down alongside the lower one.
                dtype = dict(df.dtypes).get(col, "string")
                bounded = df.filter(F.col(col) <= F.lit(new_max).cast(dtype))
                processed = self._write_delta_idempotent(bounded, out_path, wm)
                record.finish(processed)
                self._save_watermark(out_path, col, new_max, dtype)
        else:
            # count pre-scan (`internal/sql/source.go:43-49`)
            record.num_source_records = df.count()
            processed = self.write(df, out_path)
            record.finish(processed)
        if sdk_repo is not None:
            import shutil

            try:
                # catalog rides next to the data objects, like the local layout
                write_catalog(record, out_path)
                # UPLOAD-THEN-DELETE, never delete-then-upload: the new
                # run's uuid-named part files cannot collide with the old
                # run's, so the fresh snapshot lands completely (catalog
                # last) BEFORE the stale objects go — a crash or S3 error
                # mid-upload leaves the previous snapshot fully intact
                # instead of an empty prefix. The final delete gives the
                # same overwrite semantics as the local/hadoop paths'
                # mode("overwrite"): exactly one snapshot under the prefix.
                old_keys = set(sdk_repo.list_keys())
                uploaded = sdk_repo.upload_snapshot_dir(out_path)
                if not uploaded:
                    raise RuntimeError(
                        f"s3 sdk upload moved 0 objects from {out_path} to "
                        f"s3://{repo_cfg.bucket}/{repo_cfg.prefix}"
                    )
                sdk_repo.delete_keys(sorted(old_keys - set(uploaded)))
            finally:
                # never leak a snapshot-sized staging copy on a failed upload
                shutil.rmtree(out_path, ignore_errors=True)
        elif self.cfg.repository.type == "local":
            write_catalog(record, out_path)
        return record

    def _write_delta_idempotent(
        self, df: DataFrame, out_path: str, wm: dict | None
    ) -> int:
        """Append the delta with file names DERIVED FROM THE WATERMARK so a
        crash between append and watermark-save cannot duplicate data: the
        retry recomputes the identical delta and its files REPLACE the
        partial ones instead of adding to them (idempotence instead of an
        unattainable multi-file atomic commit — the same trick foreachBatch
        sinks use with the batch id). First run (no watermark) is a plain
        overwrite, already atomic per Spark's commit protocol."""
        import shutil

        if wm is None:
            return self.write(df, out_path)
        prefix = delta_prefix(wm)
        staging = os.path.join(out_path, f".{prefix}_staging")
        self._writer(df, "overwrite").parquet(staging)
        # each staged file moves to the same relative dir (hive partitions)
        # under out_path, renamed after the watermark
        moved = 0
        for root, _dirs, files in sorted(os.walk(staging)):
            dest = os.path.join(out_path, os.path.relpath(root, staging))
            for f in sorted(files):
                if f.endswith(".parquet"):
                    os.makedirs(dest, exist_ok=True)
                    os.replace(
                        os.path.join(root, f),
                        os.path.join(dest, f"{prefix}-{moved:05d}.parquet"),
                    )
                    moved += 1
        # drop any leftover higher-numbered files from a previous, larger
        # partial attempt at this same watermark
        delta_files = []
        for root, _dirs, files in os.walk(out_path):
            for f in files:
                if f.startswith(f"{prefix}-"):
                    if int(f.split("-")[2].split(".")[0]) >= moved:
                        os.remove(os.path.join(root, f))
                    else:
                        delta_files.append(os.path.join(root, f))
        shutil.rmtree(staging, ignore_errors=True)
        # per-run delta count = rows in this watermark's files
        if delta_files:
            return self.spark.read.parquet(*delta_files).count()
        return 0


def snapshot(spark: SparkSession, cfg: ArchiverConfig, snapshot_id: str | None = None) -> CatalogRecord:
    return Snapshotter(spark, cfg).run(snapshot_id)


def run_snapshot_config(spark: SparkSession, cfg: LibrarianConfig) -> CatalogRecord:
    return snapshot(spark, cfg.archiver)
