"""Embedding-job control tables — the Spark analog of the reference's
`embedding_generation_jobs` + `embedding_usage_info` tables and their SQL
management functions (SURVEY.md §2.7 X11–X14).

Reference semantics preserved:
- job row shape: daemon/embedding_jobs.rs:28-47 / FIXTURES.md §3.
- status derivation CASE over lifecycle timestamps — failed → canceled →
  enabled → in_progress → queued (lantern_extras/src/daemon.rs:212-224).
- cancel/resume = set/clear canceled_at (daemon.rs:256-282).
- usage ledger append (daemon/embedding_jobs.rs:49-58).

Storage is a parquet directory per store (control data is tiny — correctness
comes from atomic directory replace on rewrite; on a lakehouse deployment these
become Delta tables with real ACID semantics, noted per method).
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import tempfile
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lantern_extras_spark.session import local_frame

JOB_SCHEMA = (
    "id long, table_name string, pk string, label string, runtime string, "
    "runtime_params string, src_column string, dst_column string, embedding_model string, "
    "created_at timestamp, updated_at timestamp, canceled_at timestamp, "
    "init_started_at timestamp, init_finished_at timestamp, init_failed_at timestamp, "
    "init_failure_reason string, init_progress int"
)

USAGE_SCHEMA = "id long, job_id long, rows int, tokens int, failed boolean, created_at timestamp"


def _now() -> _dt.datetime:
    return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)


def job_status_col() -> F.Column:
    """The exact status CASE of the reference (daemon.rs:212-224)."""
    return (
        F.when(F.col("init_failed_at").isNotNull(), F.lit("failed"))
        .when(F.col("canceled_at").isNotNull(), F.lit("canceled"))
        .when(F.col("init_finished_at").isNotNull(), F.lit("enabled"))
        .when(F.col("init_started_at").isNotNull(), F.lit("in_progress"))
        .otherwise(F.lit("queued"))
    )


class JobStore:
    """Parquet-backed job-spec + usage store.

    At production scale these two tables are lakehouse (Delta/Iceberg) tables and
    every mutation below is a MERGE/append commit; the interface is identical.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.jobs_path = os.path.join(path, "embedding_generation_jobs")
        self.usage_path = os.path.join(path, "embedding_usage_info")
        os.makedirs(path, exist_ok=True)

    # -- internal ---------------------------------------------------------

    def _read(self, p: str, schema: str) -> DataFrame:
        if not os.path.exists(os.path.join(p, "_SUCCESS")):
            return local_frame(self.spark, [], schema)
        return self.spark.read.schema(schema).parquet(p)

    def _overwrite(self, df: DataFrame, p: str) -> None:
        tmp = tempfile.mkdtemp(dir=self.path, prefix="_stage_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        old = p + "_old"
        if os.path.exists(p):
            os.rename(p, old)
        os.rename(tmp, p)
        if os.path.exists(old):
            shutil.rmtree(old)

    # -- job API (X11-X14) ------------------------------------------------

    def jobs(self) -> DataFrame:
        return self._read(self.jobs_path, JOB_SCHEMA)

    def usage(self) -> DataFrame:
        return self._read(self.usage_path, USAGE_SCHEMA)

    def add_embedding_job(
        self,
        table_name: str,
        src_column: str,
        dst_column: str,
        embedding_model: str = "hash/test-model",
        runtime: str = "hash",
        runtime_params: str = "{}",
        pk: str = "id",
        label: str | None = None,
    ) -> int:
        """Reference X11 `add_embedding_job` (lantern_extras/src/daemon.rs:109-195).
        The reference also ALTERs the dst REAL[] column onto the table; in Spark
        the column materializes on first write-back."""
        cur = self.jobs()
        next_id = (cur.agg(F.max("id")).first()[0] or 0) + 1
        row = [(
            next_id, table_name, pk, label, runtime, runtime_params, src_column,
            dst_column, embedding_model, _now(), _now(), None, None, None, None, None, 0,
        )]
        self._overwrite(cur.unionByName(local_frame(self.spark, row, JOB_SCHEMA)), self.jobs_path)
        return next_id

    def get_embedding_job_status(self, job_id: int) -> dict[str, Any] | None:
        """Reference X12 (daemon.rs:197-234): (status, progress, error)."""
        r = (
            self.jobs()
            .where(F.col("id") == job_id)
            .select(
                job_status_col().alias("status"),
                F.col("init_progress").alias("progress"),
                F.col("init_failure_reason").alias("error"),
            )
            .first()
        )
        return r.asDict() if r else None

    def get_embedding_jobs(self) -> DataFrame:
        """Reference X13 (daemon.rs:236-254)."""
        return self.jobs().select("id", job_status_col().alias("status"),
                                  F.col("init_progress").alias("progress"),
                                  F.col("init_failure_reason").alias("error"))

    def cancel_embedding_job(self, job_id: int) -> None:
        """Reference X14 — set canceled_at (daemon.rs:256-269)."""
        self._update(job_id, canceled_at=_now())

    def resume_embedding_job(self, job_id: int) -> None:
        """Reference X14 — clear canceled_at (daemon.rs:271-282)."""
        self._update(job_id, canceled_at=None)

    def _update(self, job_id: int, **fields: Any) -> None:
        cur = self.jobs()
        upd = cur
        for k, v in fields.items():
            upd = upd.withColumn(
                k,
                F.when(F.col("id") == job_id, F.lit(v).cast(dict(
                    (f.split(" ")[0], f.split(" ")[1]) for f in JOB_SCHEMA.split(", ")
                )[k])).otherwise(F.col(k)),
            )
        upd = upd.withColumn(
            "updated_at", F.when(F.col("id") == job_id, F.lit(_now())).otherwise(F.col("updated_at"))
        )
        self._overwrite(upd, self.jobs_path)

    def set_progress(self, job_id: int, progress: int) -> None:
        self._update(job_id, init_progress=progress)

    def mark_started(self, job_id: int) -> None:
        """(Re)start clears any prior failure so retried jobs report a clean
        status lifecycle (daemon retry semantics, D6)."""
        self._update(job_id, init_started_at=_now(), init_failed_at=None, init_failure_reason=None)

    def mark_finished(self, job_id: int) -> None:
        self._update(job_id, init_finished_at=_now(), init_progress=100)

    def mark_failed(self, job_id: int, reason: str) -> None:
        self._update(job_id, init_failed_at=_now(), init_failure_reason=reason)

    def record_usage(self, job_id: int, rows: int, tokens: int, failed: bool = False) -> None:
        """Usage ledger append (A5; daemon/embedding_jobs.rs:477-491)."""
        cur = self.usage()
        next_id = (cur.agg(F.max("id")).first()[0] or 0) + 1
        row = [(next_id, job_id, rows, tokens, failed, _now())]
        self._overwrite(cur.unionByName(local_frame(self.spark, row, USAGE_SCHEMA)), self.usage_path)
