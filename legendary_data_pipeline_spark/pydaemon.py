"""pyspark's Python worker daemon, with zip caches re-read only on change.

Before every task a pyspark worker calls ``importlib.invalidate_caches()``
so that files added with ``addPyFile`` become importable. On CPython 3.11
that makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read
its archive's central directory, and a worker holds one such importer
per package it imported from ``pyspark.zip`` (about fifteen importers,
1.3k entries each). On a 4-vCPU host that is ~0.25 s of every Python
task, against ~0.06 s for the rest of a small task: a
``createDataFrame`` of a few rows evaluated over eight partitions spent
two seconds of CPU re-reading the same unchanged zip.

Here an importer re-reads its archive only when the archive's stat
stamp (mtime, size, inode) differs from the one it last read, so a zip
that is rewritten or re-shipped is still picked up.

The daemon also imports numpy, pandas, pyarrow and pyspark's worker
before it forks any worker, and freezes them out of the cyclic
collector (``gc.freeze``), so the workers share those pages instead of
each importing a private copy: on a 4-vCPU host four Arrow-kernel
workers held ~76 MB each, ~48 MB with the shared imports. Everything
else is ``pyspark.daemon`` unchanged.

Spark starts it as ``python -m legendary_data_pipeline_spark.pydaemon
<worker module>`` when ``spark.python.daemon.module`` names it
(``session.get_spark`` does so for local masters).
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_if_changed(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is not None and getattr(self, "_ldp_stamp", None) == stamp:
        return
    _reread(self)
    self._ldp_stamp = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    import gc

    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark import worker  # noqa: F401
    from pyspark.sql.pandas import serializers  # noqa: F401

    gc.freeze()
    # pyspark.daemon picks the worker module from sys.argv[1] on import.
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
