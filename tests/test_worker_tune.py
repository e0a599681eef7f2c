"""operators/util.worker_runtime_tune: the zipimporter guard skips the
central-directory re-read only for the archives Spark puts on a
worker's path (pyspark.zip, py4j-*.zip, the spark-core jar), and only
while their (mtime, size) is unchanged; every other archive keeps stock
invalidation."""

import os
import zipfile
import zipimport

from racket_linkeddata_spark.operators.util import worker_runtime_tune


def _write_zip(path: str, member: str) -> None:
    info = zipfile.ZipInfo(member, date_time=(2020, 1, 1, 0, 0, 0))
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(info, "x = 1\n")


def test_zip_guard_covers_only_spark_archives(tmp_path, monkeypatch):
    zi = zipimport.zipimporter
    # install the guard fresh; monkeypatch restores the stock class
    monkeypatch.setattr(zi, "invalidate_caches", zi.invalidate_caches)
    monkeypatch.setattr(zi, "_zip_mtime_guard", False, raising=False)
    worker_runtime_tune()

    for name, guarded in (("pyspark.zip", True),
                          ("py4j-0.10.9.9-src.zip", True),
                          ("spark-core_2.13-4.1.2.jar", True),
                          ("deps.zip", False),
                          ("pyspark.zip.bak.zip", False),
                          ("spark-sql_2.13-4.1.2.jar", False)):
        path = str(tmp_path / name)
        _write_zip(path, "aaa.py")
        imp = zipimport.zipimporter(path)
        imp.invalidate_caches()  # the first call always reads

        # rewritten in place to the same size, mtime restored
        st = os.stat(path)
        _write_zip(path, "bbb.py")
        assert os.stat(path).st_size == st.st_size
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
        imp.invalidate_caches()
        assert (imp.find_spec("bbb") is None) == guarded, name

        # a rewrite that changes the size is re-read either way
        _write_zip(path, "cccc.py")
        imp.invalidate_caches()
        assert imp.find_spec("cccc") is not None, name
