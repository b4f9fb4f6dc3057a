"""Python-worker daemon that imports the installed pyspark, not Spark's zips.

Spark starts each Python daemon with ``pyspark.zip``, the py4j zip and the
spark-core jar first on ``PYTHONPATH``. Every task then calls
``importlib.invalidate_caches()``, which on Python 3.11 makes each
zipimporter re-read its archive's directory (gh-103200): 0.1-0.25 s of CPU
per task. ``session.get_spark`` starts workers through this module only when
the installed pyspark is the zip's twin, so the cut changes where pyspark
is read from, not what runs. Run as ``python -m`` by Spark
(``spark.python.daemon.module``).
"""

import os
import sys


def _spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    if name.endswith(".jar") or name == "pyspark.zip":
        return True
    return name.startswith("py4j-") and name.endswith(".zip")


def main() -> None:
    # The package's __init__ imports nothing, so no pyspark module has been
    # loaded from the zip yet; pyspark.daemon now comes from site-packages.
    sys.path[:] = [p for p in sys.path if not _spark_archive(p)]
    sys.path_importer_cache.clear()
    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
