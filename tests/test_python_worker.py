"""The executor Python worker entry (`pyspark_graft_worker`): sessions
from `get_spark` run it, archive directories are re-read only when the
archive changed, and zips shipped after workers started still import."""

from __future__ import annotations

import os
import uuid
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


def test_udf_worker_uses_stat_checked_invalidate_caches(spark):
    @pandas_udf(StringType())
    def invalidate_caches_source(s: pd.Series) -> pd.Series:
        import zipimport as zi

        return s.map(lambda _: zi.zipimporter.invalidate_caches.__code__.co_filename)

    df = spark.range(0, 64, numPartitions=4).select(
        invalidate_caches_source(F.col("id").cast("string")).alias("src")
    )
    sources = {r.src for r in df.distinct().collect()}
    assert len(sources) == 1
    assert os.path.basename(sources.pop()) == "pyspark_graft_worker.py"


def _write_zip(path: str, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


def test_importer_rereads_only_a_changed_archive(tmp_path):
    import pyspark_graft_worker

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"first_mod.py": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    pyspark_graft_worker.invalidate_caches(imp)  # records the archive's stat
    files = imp._files
    for _ in range(3):
        pyspark_graft_worker.invalidate_caches(imp)
        assert imp._files is files  # unchanged archive: no re-read
    assert imp.find_spec("second_mod") is None

    _write_zip(archive, {"first_mod.py": "X = 1\n", "second_mod.py": "Y = 2\n"})
    pyspark_graft_worker.invalidate_caches(imp)
    assert imp._files is not files
    assert imp.find_spec("second_mod") is not None


def test_zip_added_after_workers_ran_is_importable(spark, tmp_path):
    mod = f"late_mod_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{mod}.zip")
    _write_zip(archive, {f"{mod}.py": "VALUE = 'shipped late'\n"})

    def imported_values() -> set[str]:
        # a fresh UDF each time: a UDF ships the session's py-files
        # list as of its first use
        @pandas_udf(StringType())
        def import_late(s: pd.Series) -> pd.Series:
            import importlib

            try:
                value = importlib.import_module(mod).VALUE
            except ImportError:
                value = "missing"
            return s.map(lambda _: value)

        df = spark.range(0, 16, numPartitions=4).select(
            import_late(F.col("id").cast("string")).alias("v")
        )
        return {r.v for r in df.distinct().collect()}

    assert imported_values() == {"missing"}  # workers now run
    spark.sparkContext.addPyFile(archive)
    assert imported_values() == {"shipped late"}
