"""Filesystem plumbing shared by the micro-batch sinks and the stage
recorder, on the Hadoop FileSystem of each path's scheme:

* `read_or_empty` — a parquet read in which ONLY a missing path means
  "nothing written yet" (the update-stream applier's history); any
  other failure (corrupt file, permissions, an unknown scheme,
  transient IO) propagates.
* `upto_glob` — one Hadoop glob matching versions 0..V, so a committed
  prefix is read in one listing.
* `HadoopFS` — exists, list, glob, rename and delete through the JVM's
  FileSystem, never a driver-local `os.path` call (the stage recorder's
  resume checks).
* `CommitLog` — the one atomic record per micro-batch version that the
  changelog writer and the near-dup filter commit through.
"""

from __future__ import annotations

import json

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_or_empty(
    spark: SparkSession, path: str, schema: str | StructType
) -> DataFrame:
    """`path` read as parquet with `schema`; ONLY a missing path reads
    as an empty `schema` frame — a corrupt file, a permission error or
    a transient IO fault propagates."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], schema)


def upto_glob(v: int) -> str:
    """A Hadoop glob alternation matching the decimal numerals 0..v (no
    leading zeros), e.g. 230 → ``{[0-9],[1-9][0-9],[1-1][0-9][0-9],2[0-2][0-9],230}``:
    one pattern of O(digits) terms for a committed prefix of versions,
    which `HadoopFS.glob` resolves in one listing, however many
    versions there are."""
    s = str(v)
    alts = ["[0-9]"] if len(s) > 1 else []
    alts += ["[1-9]" + "[0-9]" * (k - 1) for k in range(2, len(s))]
    for i, c in enumerate(s):
        lo = 1 if i == 0 and len(s) > 1 else 0
        if int(c) > lo:
            alts.append(f"{s[:i]}[{lo}-{int(c) - 1}]" + "[0-9]" * (len(s) - i - 1))
    alts.append(s)
    return "{" + ",".join(alts) + "}"


class HadoopFS:
    """The FileSystem operations the sinks and the stage recorder need,
    on the Hadoop FileSystem of each path's scheme: a driver-local
    `os.path` call answers "absent" for any `file:`, `hdfs://` or
    `s3a://` path. Errors propagate. Needs the classic session's JVM."""

    def __init__(self, spark: SparkSession) -> None:
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._Path = self._jvm.org.apache.hadoop.fs.Path  # resolved once

    def _resolve(self, path: str):
        hpath = self._Path(path)
        return hpath, hpath.getFileSystem(self._conf)

    def exists(self, path: str) -> bool:
        hpath, fs = self._resolve(path)
        return bool(fs.exists(hpath))

    def list(self, path: str, prefix: str) -> list[str]:
        """Child names with `prefix`; py4j round trips per child."""
        hpath, fs = self._resolve(path)
        names = (st.getPath().getName() for st in fs.listStatus(hpath))
        return [n for n in names if n.startswith(prefix)]

    def glob(self, pattern: str) -> list[str]:
        """The paths a Hadoop glob matches: one listing, and one py4j
        round trip for all of them. A reader handed these paths, not
        the pattern, keeps Spark from warning, with a stack trace, that
        a glob "does not exist" as a metadata directory."""
        hpath, fs = self._resolve(pattern)
        found = self._jvm.org.apache.spark.deploy.SparkHadoopUtil.get().globPath(fs, hpath)
        return found.mkString("\n").splitlines()

    def rename(self, src: str, dst: str) -> None:
        hsrc, fs = self._resolve(src)
        if not fs.rename(hsrc, self._Path(dst)):
            raise OSError(f"rename {src} -> {dst} failed")

    def delete(self, path: str) -> None:
        """Recursive; a missing path is a no-op."""
        hpath, fs = self._resolve(path)
        fs.delete(hpath, True)


class CommitLog(HadoopFS):
    """The single commit point of a micro-batch sink: one atomic JSON
    record per committed version N at ``{log_dir}/N`` (Structured
    Streaming's ``commits/`` log; the reference makes each change one
    git commit, src/git.rs:192-222). Whatever else a crash leaves on
    disk, a version without a record is uncommitted; a record is never
    overwritten, so a second committer of the same N fails loudly.
    Versions are committed in order and never removed: they form a
    contiguous prefix 0..V."""

    def __init__(self, spark: SparkSession, log_dir: str) -> None:
        super().__init__(spark)
        self.dir = log_dir
        self._known = -1  # a committed version (or -1) to probe from
        self._last: tuple[int, dict] | None = None  # records never change

    def _path(self, n: int) -> str:
        return f"{self.dir}/{n}"

    def latest(self) -> int | None:
        """The newest committed version, or None. Gallops forward from
        the last version this handle saw, then bisects: one `exists`
        per batch on a warm handle, O(log V) on a fresh one — never a
        listing, whose py4j cost is one round trip per version."""
        lo, step = self._known, 1
        while self.exists(self._path(lo + step)):
            lo, step = lo + step, step * 2
        hi = lo + step
        while hi - lo > 1:
            mid = (lo + hi) // 2
            if self.exists(self._path(mid)):
                lo = mid
            else:
                hi = mid
        self._known = lo
        return lo if lo >= 0 else None

    def read(self, n: int) -> dict:
        if self._last is None or self._last[0] != n:
            hpath, fs = self._resolve(self._path(n))
            stream = fs.open(hpath)
            try:
                self._last = (n, json.loads(stream.readAllBytes()))
            finally:
                stream.close()
        return self._last[1]

    def commit(self, n: int, record: dict) -> None:
        """Create record N all-or-nothing (temp file + rename: Structured
        Streaming's commit-log writer); raises if N already exists,
        after deleting the hidden temp file (`.N.<uuid>.tmp`, and its
        `.crc` with it) that the refused rename leaves behind."""
        text = json.dumps(record)
        hpath, fs = self._resolve(self._path(n))
        fs.mkdirs(hpath.getParent())  # createAtomic needs the parent
        checkpointing = self._jvm.org.apache.spark.sql.execution.streaming.checkpointing
        out = checkpointing.CheckpointFileManager.create(
            hpath.getParent(), self._conf
        ).createAtomic(hpath, False)
        out.write(bytearray(text.encode("utf-8")))
        try:
            out.close()
        except Exception:
            for st in fs.globStatus(self._Path(f"{self.dir}/.{n}.*.tmp")) or []:
                fs.delete(st.getPath(), False)
            raise
        self._known, self._last = n, (n, json.loads(text))

