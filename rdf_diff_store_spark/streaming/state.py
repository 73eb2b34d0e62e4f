"""The shared append-only distinct-state discipline behind the
mark-free streaming maintainers (`StreamingFactSupport`,
`StreamingEntailment`, `StreamingLinkGraph`): an append-only parquet
directory holding a DISTINCT row set, grown by anti-join append.

Idempotent-set semantics make replays self-healing with NO high-water
mark: a replayed batch — whether the crash hit before or after the
append — derives against whatever state survived and appends only
what is still missing. The two invariants every consumer needs, in
one place so they cannot drift (an earlier copy of `read()` in
entail_stream.py swallowed ALL read exceptions, so a transient
parquet fault would silently zero the closure and make the next
replay append duplicates — exactly the fault mode this class's
missing-directory-only check exists to prevent):

* `read()` treats only a MISSING directory as "empty state"; any
  other failure (corrupt file, permissions, transient IO) propagates.
* every append is `localCheckpoint()`-materialized BEFORE the write
  touches the directory the deriving anti-join reads from.

Production buckets the directory by a consumer-chosen hash key
(sources/bucketed_store.py) so per-batch anti-joins and read-side
aggregations co-locate; the flat parquet directory is the test shape.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession


def is_path_not_found(e: AnalysisException) -> bool:
    """The one read failure that means "nothing written yet"."""
    return e.getCondition() == "PATH_NOT_FOUND"


class AppendOnlyState:
    def __init__(
        self, spark: SparkSession, work_dir: str, name: str, schema: str
    ) -> None:
        self.spark = spark
        self.schema = schema
        self.path = os.path.join(work_dir, name)

    def _exists(self) -> bool:
        """Existence via the Hadoop FileSystem API, not os.path: for a
        non-local work_dir (hdfs://, s3a://) a driver-local isdir is
        ALWAYS False, which would silently report empty state — the
        exact silently-zeroed-state fault this class exists to
        prevent (r04 ADVICE #2). Errors from the FileSystem propagate.

        Under Spark Connect the private `_jvm`/`_jsc` handles are
        unavailable (r05 ADVICE #3): fall back to a driver-local check
        for local paths, else to a cheap schema probe in which only
        PATH_NOT_FOUND means absent."""
        try:
            jvm, jsc = self.spark._jvm, self.spark._jsc
        except AttributeError:  # Spark Connect's PySparkAttributeError too
            return self._exists_without_jvm()
        hpath = jvm.org.apache.hadoop.fs.Path(self.path)
        return bool(hpath.getFileSystem(jsc.hadoopConfiguration()).exists(hpath))

    def _exists_without_jvm(self) -> bool:
        if "://" not in self.path or self.path.startswith("file:"):
            local = self.path
            if local.startswith("file:"):
                local = local[len("file:"):]
            return os.path.exists(local)
        try:
            self.spark.read.parquet(self.path).schema
            return True
        except AnalysisException as e:
            if is_path_not_found(e):
                return False
            raise

    def read(self) -> DataFrame:
        """Current state; ONLY a missing directory means empty."""
        if not self._exists():
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.parquet(self.path)

    def overwrite(self, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self.path)

    def append(self, new: DataFrame) -> None:
        """Append pre-derived novel rows (caller owns the anti-join —
        e.g. a semi-naive delta derivation). Checkpoints first: the
        rows must materialize before the write touches the directory
        their derivation read from."""
        new = new.localCheckpoint()
        if not new.isEmpty():
            new.write.mode("append").parquet(self.path)

    def append_if_new(self, batch: DataFrame, cols: list[str]) -> None:
        """The standard step: distinct batch rows minus current state,
        appended. Replaying any batch is a no-op by construction."""
        self.append(
            batch.select(*cols).distinct().join(self.read(), cols, "left_anti")
        )
