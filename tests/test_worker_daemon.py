"""The Python worker daemon of spark_session: its workers import pyspark
from the installed package and hold no archive importer, and its archive
rule drops only what the installed packages serve."""

from __future__ import annotations

import importlib.metadata
import os
import sys
import zipfile

from ocrd_anybaseocr_spark import worker_daemon


def test_workers_hold_no_archive_importer(spark):
    def view(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pylist([{"zips": "|".join(zips), "pyspark": pyspark.__file__}])

    rows = spark.range(8).repartition(4).mapInArrow(view, "zips string, pyspark string").collect()
    assert len(rows) == 4
    for r in rows:
        assert r.zips == "", r.zips
        assert os.path.isfile(r.pyspark), r.pyspark


def _archive(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def test_archive_rule(tmp_path):
    installed = importlib.metadata.version("pyspark")
    same = _archive(tmp_path / "pyspark.zip", {
        "pyspark/__init__.py": "",
        "pyspark/version.py": f"__version__: str = '{installed}'\n",
    })
    os.mkdir(tmp_path / "other")
    other = _archive(tmp_path / "other" / "pyspark.zip", {
        "pyspark/__init__.py": "",
        "pyspark/version.py": "__version__: str = '0.0.1'\n",
    })
    jar = _archive(tmp_path / "spark-core.jar", {
        "META-INF/MANIFEST.MF": "Manifest-Version: 1.0\n",
        "org/apache/spark/SparkContext.class": "\xca\xfe",
    })
    engine = _archive(tmp_path / "engine.zip", {
        "ocrd_anybaseocr_spark/__init__.py": "",
        "ocrd_anybaseocr_spark/png.py": "",
    })
    dirs = [p for p in sys.path if os.path.isdir(p)]
    path = [same, other, jar, engine, str(tmp_path), *dirs]
    cache = {same: None, same + os.sep + "pyspark": None, jar: None,
             other: None, other + os.sep + "pyspark": None, engine: None}

    assert worker_daemon.drop_served_archives(path, cache) == [same, jar]
    assert path == [other, engine, str(tmp_path), *dirs]
    assert set(cache) == {other, other + os.sep + "pyspark", engine}
