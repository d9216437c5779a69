"""Checkout isolation: every ``geoharvest_spark`` module the benchmark runs
must be loaded from the checkout under test, in the Spark driver and in the
Python workers. A module imported from anywhere else (another checkout on
``sys.path``, an installed copy) would measure the wrong code.
"""

from __future__ import annotations

import os
import sys

PACKAGE = "geoharvest_spark"


def _origins() -> list[str]:
    return sorted({
        os.path.realpath(m.__file__)
        for name, m in list(sys.modules.items())
        if (name == PACKAGE or name.startswith(PACKAGE + "."))
        and getattr(m, "__file__", None)
    })


def _worker_probe(batches):
    import importlib

    import pandas as pd

    for _ in batches:
        pass
    importlib.import_module(PACKAGE)
    yield pd.DataFrame({"origin": _origins()})


def leaks(root: str, spark=None) -> list[str]:
    """Module files outside ``root``, from the driver and (given a session)
    from one Python worker. Empty means the checkout is isolated."""
    root = os.path.realpath(root) + os.sep
    found = [("driver", o) for o in _origins()]
    if not found:
        return [f"driver: {PACKAGE} is not imported"]
    if spark is not None:
        rows = spark.range(1).mapInPandas(_worker_probe, "origin string").collect()
        found += [("worker", r["origin"]) for r in rows]
    return [f"{where}: {o}" for where, o in found if not o.startswith(root)]
