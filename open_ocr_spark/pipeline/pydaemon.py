"""Spark's Python daemon, started from the installed, byte-compiled pyspark.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` first on its Python
workers' path. The zip holds sources only and zipimport caches no
bytecode, so every cold daemon compiles pyspark again, and every worker
compiles ``pyspark.sql`` again when it unpickles a kernel. On a 4-vCPU
host ``import pyspark.daemon`` took 1.27–1.30 s from the zip and
0.21–0.27 s from the installed package, and the bench's daemon peaked at
61 MB against 50 MB.

When the zip's ``pyspark/version.py`` is the installed package's, the
zip leaves ``sys.path``; otherwise the path stays as Spark set it. Then
the stock daemon runs. ``session.get_spark`` names this module as
``spark.python.daemon.module`` for local masters only. Its imports stay
few: the daemon's memory is inherited by every worker it forks.
"""

import os
import sys
import zipimport


def drop_source_zip(path: list[str]) -> None:
    """Remove Spark's ``pyspark.zip`` from ``path`` when another entry
    holds a pyspark whose ``version.py`` is the zip's, byte for byte."""
    source = next(
        (p for p in path if os.path.basename(p) == "pyspark.zip"), None)
    if source is None:
        return
    try:
        zipped = zipimport.zipimporter(source).get_data("pyspark/version.py")
    except (ImportError, OSError):  # no readable zip: nothing to compare
        return
    for entry in path:
        version = os.path.join(entry, "pyspark", "version.py")
        if entry != source and os.path.isfile(version):
            with open(version, "rb") as f:
                if f.read() == zipped:
                    path.remove(source)
            return


if __name__ == "__main__":
    drop_source_zip(sys.path)
    from pyspark.daemon import manager

    manager()
