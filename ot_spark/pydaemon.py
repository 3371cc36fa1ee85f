"""The Python worker daemon of a local-master session: ``pyspark.daemon``
with ``zipimporter.invalidate_caches`` made a no-op, which every worker it
forks inherits.

Each Python UDF task runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython 3.11 that makes
every ``zipimporter`` re-read its zip's directory: one importer per imported
package dir of ``pyspark.zip`` (1,328 entries), 100-190 ms a task on 4
cores.  CPython 3.12 makes the re-read lazy (gh-103200).  Spark's zips do
not change while a session runs, and a zip added later (``addPyFile``) is a
new path, so it gets a new importer.  Importing this module patches nothing.
"""

import zipimport


def _keep_directory(self) -> None:
    """``zipimporter.invalidate_caches`` in the daemon: the zip is unchanged."""


def main() -> None:
    zipimport.zipimporter.invalidate_caches = _keep_directory
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
