"""Stage runner: checkpointed stages with per-partition lineage + resume.

North-rule requirement: "per-partition lineage + metrics written
alongside checkpoints so any stage can resume mid-corpus". The
reference's analogue is its crash-recovery scheduler (SQLite process
registry + FileLock, /root/reference/src/sync/sync_functions.py:22-45);
here the same durability comes from idempotent, atomic parquet stage
materialization:

  workdir/<stage>/            parquet output (+ Spark's _SUCCESS marker)
  workdir/_lineage/<stage>.json   {run_id, stage, wall_ms, rows_out,
                                   per-file row counts, input_fingerprint}

``partitions`` (one ``{file, rows}`` entry per non-empty part file) and
``rows_out`` (their sum) are read from the parquet footers of the files
the stage wrote, so counting a stage costs no Spark job and no pass
over its rows. A resumed stage counts its files on disk the same way
(never copying the manifest), so its event's ``rows_out`` reflects the
data it actually reloads.

Resume: a stage whose _SUCCESS exists and whose recorded
input_fingerprint matches is loaded, not recomputed. Fingerprints are
content-derived (caller-supplied, e.g. corpus size + seed), never
wall-clock — reruns of the same input are byte-stable.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F


def file_row_counts(out: str) -> list[dict]:
    """``[{file, rows}]`` for every non-empty parquet part file under
    ``out``, from the footers alone; ``file`` is the path relative to
    ``out``. Walks subdirectories (``partition_by`` writes
    ``<col>=<value>/`` dirs, which repeat part-file names) and skips
    ``_``/``.`` entries, which Spark's readers skip too (``_SUCCESS``,
    ``.crc`` checksums, ``_temporary``)."""
    import pyarrow.parquet as pq

    parts = []
    for root, dirs, files in os.walk(out):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            path = os.path.join(root, f)
            rows = pq.read_metadata(path).num_rows
            if rows:
                parts.append({"file": os.path.relpath(path, out), "rows": rows})
    return parts


class StageRunner:
    def __init__(self, spark: SparkSession, workdir: str | None, run_id: str = "run0",
                 input_fingerprint: str = ""):
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id
        self.fingerprint = input_fingerprint
        self.events: list[dict] = []  # in-memory log, inspected by tests
        self._persisted: list[DataFrame] = []  # cache handles for unpersist()

    def unpersist(self) -> None:
        """Release every cache this runner created (workdir=None mode
        persists MEMORY_AND_DISK and would otherwise accumulate blocks
        across repeated pipeline runs in one session — bench legs,
        notebooks). Call when the pipeline result has been consumed."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # ------------------------------------------------------------------
    def _paths(self, stage: str) -> tuple[str, str]:
        assert self.workdir is not None
        return (
            os.path.join(self.workdir, stage),
            os.path.join(self.workdir, "_lineage", f"{stage}.json"),
        )

    def _table_name(self, stage: str) -> str:
        """Catalog name for a bucketed stage table: stable across
        sessions for one workdir (resume re-registers it), distinct
        across workdirs sharing a warehouse."""
        import hashlib

        suffix = hashlib.md5(self.workdir.encode()).hexdigest()[:8]
        return f"kg_{stage}_{suffix}"

    def _register_bucketed(self, stage: str, out: str, bucket_by: str,
                           n_buckets: int) -> DataFrame:
        """(Re-)register the already-materialized bucketed stage files as
        an external catalog table, so a resumed session's scans still
        report the bucket HashPartitioning (plain read.parquet would
        lose it and downstream joins would shuffle again)."""
        name = self._table_name(stage)
        if not self.spark.catalog.tableExists(name):
            schema = self.spark.read.parquet(out).schema
            cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema)
            self.spark.sql(
                f"CREATE TABLE {name} ({cols}) USING parquet "
                f"CLUSTERED BY (`{bucket_by}`) SORTED BY (`{bucket_by}`) "
                f"INTO {n_buckets} BUCKETS LOCATION '{out}'"
            )
        return self.spark.table(name)

    def _completed(self, stage: str, bucket_by: str | None = None,
                   n_buckets: int | None = None) -> bool:
        out, manifest = self._paths(stage)
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            return False
        if not os.path.exists(manifest):
            return False
        with open(manifest) as f:
            meta = json.load(f)
        if meta.get("input_fingerprint") != self.fingerprint:
            return False
        # bucketing-layout mismatch (older non-bucketed run, different
        # bucket count) => NOT resumable: re-registering such files as a
        # CLUSTERED BY table would claim a hash layout the rows don't
        # have, silently corrupting co-located joins. Recompute instead.
        want = {"bucket_by": bucket_by, "n_buckets": n_buckets} if bucket_by else {}
        have = ({"bucket_by": meta.get("bucket_by"), "n_buckets": meta.get("n_buckets")}
                if meta.get("bucket_by") else {})
        return want == have

    # ------------------------------------------------------------------
    def stage(self, name: str, build, partition_by: str | None = None,
              persist: bool = True, bucket_by: str | None = None,
              n_buckets: int = 64) -> DataFrame:
        """Run (or resume) one stage.

        ``build`` is a thunk returning the stage DataFrame. With no
        workdir the stage runs unmaterialized (pure lazy pipeline);
        ``persist`` marks stages with MULTIPLE downstream consumers
        (extraction feeds mentions+predicates, linked feeds the one
        canonicalization collect and edges) — single-consumer stages
        skip the cache write entirely.

        ``bucket_by`` materializes the stage as a BUCKETED external
        catalog table at the same workdir path: ``bucketBy(n, key)``
        hash-partitions rows into a fixed number of files at write time
        and the scan reports that HashPartitioning, so downstream
        re-joins of two stages bucketed on the same key with the same
        count need zero Exchange — the 100 TB write-side shape for
        tables that are re-joined constantly (tests/test_bucketing.py
        pins the plans).
        """
        if self.workdir is None:
            self.events.append({"stage": name, "action": "inline"})
            if not persist:
                return build()
            from pyspark import StorageLevel

            df = build().persist(StorageLevel.MEMORY_AND_DISK)
            self._persisted.append(df)
            return df

        out, manifest = self._paths(name)
        if self._completed(name, bucket_by, n_buckets):
            rows_out = sum(p["rows"] for p in file_row_counts(out))
            self.events.append({"stage": name, "action": "resumed",
                                "rows_out": rows_out})
            if bucket_by:
                return self._register_bucketed(name, out, bucket_by, n_buckets)
            return self.spark.read.parquet(out)

        t0 = time.monotonic()
        df = build()
        if bucket_by:
            # one task per bucket (shuffle on the bucket hash), else each
            # input partition writes a file into EVERY bucket — n_part *
            # n_buckets small files at scale
            self.spark.sql(f"DROP TABLE IF EXISTS {self._table_name(name)}")
            (
                df.repartition(n_buckets, F.col(bucket_by))
                .write.mode("overwrite")
                .option("path", out)
                .bucketBy(n_buckets, bucket_by)
                .sortBy(bucket_by)
                .saveAsTable(self._table_name(name))
            )
        else:
            # drop any stale catalog entry from a previous bucketed run
            # of this stage — it would otherwise keep advertising a hash
            # layout the rewritten plain files no longer have
            self.spark.sql(f"DROP TABLE IF EXISTS {self._table_name(name)}")
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(partition_by)
            writer.parquet(out)
        wall_ms = int((time.monotonic() - t0) * 1000)

        # per-partition (= per output file) lineage metrics
        partitions = file_row_counts(out)
        rows_out = sum(p["rows"] for p in partitions)
        os.makedirs(os.path.dirname(manifest), exist_ok=True)
        meta = {
            "run_id": self.run_id,
            "stage": name,
            "input_fingerprint": self.fingerprint,
            "bucket_by": bucket_by,
            "n_buckets": n_buckets if bucket_by else None,
            "wall_ms": wall_ms,
            "rows_out": rows_out,
            "partitions": partitions,
        }
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        os.replace(tmp, manifest)  # atomic: manifest present => stage complete
        self.events.append({"stage": name, "action": "computed", "rows_out": rows_out,
                            "wall_ms": wall_ms})
        if bucket_by:
            return self.spark.table(self._table_name(name))
        return self.spark.read.parquet(out)
