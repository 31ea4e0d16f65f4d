"""Python worker daemon for the test session (``spark.python.daemon.module``).

Spark starts its Python workers with the spark-core jar on ``PYTHONPATH``,
ahead of site-packages. Any import that reaches that entry caches a
``zipimporter`` for it. Before each task the worker calls
``importlib.invalidate_caches()``, and on Python 3.11 a cached
``zipimporter`` then re-reads its whole archive directory: 5,359 entries
for the spark-core jar, which holds no Python code. On a 4-vCPU host, 100
one-row Python tasks in a row on ``local[1]`` took about 235 ms each with
that re-read and about 65 ms without it, and the worker's CPU per task
fell from about 400 ms to under 110 ms. The suite runs many such tasks:
every action on a frame built by ``createDataFrame`` from a list runs one
per partition.

This module installs a path hook that answers for jars, and for package
directories inside them, with a finder that finds nothing, so no
``zipimporter`` is made for them. It then runs the stock ``pyspark.daemon``
with its arguments unchanged.
"""

import os
import runpy
import sys


class _JarFinder:
    """Path-entry finder for a jar: it finds no module."""

    def __init__(self, path):
        # the jar itself, or a package directory inside it
        while not path.endswith(".jar"):
            if os.path.dirname(path) == path:
                raise ImportError(path)
            path = os.path.dirname(path)

    def find_spec(self, fullname, target=None):
        return None

    def invalidate_caches(self):
        pass


sys.path_hooks.insert(0, _JarFinder)
sys.path_importer_cache.clear()

runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
