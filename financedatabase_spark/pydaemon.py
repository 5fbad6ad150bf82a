"""Python-worker daemon of the engine session: `pyspark.daemon` with the
zip-archive directory re-read made conditional.

Every Python task a worker runs starts in
`pyspark.worker_util.setup_spark_files`, which ends with
`importlib.invalidate_caches()`. On CPython 3.11 that makes every cached
`zipimport.zipimporter` re-read its archive's whole central directory
(3.13 made the re-read lazy). A Spark worker holds about sixteen of them:
one per imported sub-package of `pyspark.zip`, two for the py4j zip and
two for the spark-core jar Spark puts on the worker path. On a 4-vCPU
x86 VM one re-read pass over them takes ~0.16 CPU-s, and a worker spent
0.23-0.27 CPU-s per task of an identity `mapInPandas` at 4, 16 and 64
partitions of 125 000 rows; with the guard, 0.035-0.046 CPU-s.

`invalidate_if_changed` re-reads an archive only when its
(mtime_ns, size, inode) differs from the stat taken before the
importer's last read, which keeps the contract `invalidate_caches` exists
for: a rewritten archive changes its stat and is re-read, and an archive
shipped with `addPyFile` lands on a new path, so it gets a new importer.
`get_spark` points `spark.python.daemon.module` here. Importing this
module changes nothing; only running it as the daemon installs the guard
before `pyspark.daemon.manager()` forks the workers, which inherit it.
"""

from __future__ import annotations

import os
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self) -> None:
    """`zipimporter.invalidate_caches` that skips the directory re-read
    while the archive's stat is the one taken before the last read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _original_invalidate(self)
        return
    key = (st.st_mtime_ns, st.st_size, st.st_ino)
    if getattr(self, "_fdspark_stat", None) == key:
        return
    _original_invalidate(self)
    self._fdspark_stat = key


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark import daemon

    daemon.manager()
