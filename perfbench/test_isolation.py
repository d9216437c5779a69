"""Checkout isolation of the benchmark.

    python3 -m pytest perfbench/test_isolation.py -q

Copies the engine and the benchmark to a temporary path and checks, from
there, that the Spark driver and a Python worker load ``geoharvest_spark`` from
the copy; that a run whose engine module comes from elsewhere exits
non-zero without a result line; and that a tree without the engine does
the same.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _copy(dst: str, with_engine: bool = True) -> str:
    ignore = shutil.ignore_patterns("__pycache__", ".perfbench_work")
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(dst, "perfbench"), ignore=ignore)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dst)
    if with_engine:
        shutil.copytree(os.path.join(ROOT, "geoharvest_spark"),
                        os.path.join(dst, "geoharvest_spark"), ignore=ignore)
    return dst


def _run(cwd: str, code: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run([sys.executable, "-c", code], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=300)


def _result_lines(stdout: str) -> list[str]:
    out = []
    for line in stdout.splitlines():
        try:
            if "metrics" in json.loads(line):
                out.append(line)
        except (ValueError, TypeError):
            continue
    return out


def test_copy_resolves_inside_itself(tmp_path):
    copy = _copy(str(tmp_path / "tree"))
    proc = _run(copy, (
        "import os, sys; sys.path.insert(0, os.getcwd())\n"
        "import geoharvest_spark\n"
        "from perfbench import isolation\n"
        "from geoharvest_spark.session import get_spark\n"
        "spark = get_spark('isolation-test', cores=1, extra_conf={"
        "'spark.local.dir': os.path.join(os.getcwd(), 'local'),"
        "'spark.ui.showConsoleProgress': 'false'})\n"
        "try:\n"
        "    print('LEAKS', isolation.leaks(os.getcwd(), spark))\n"
        "finally:\n"
        "    spark.stop()\n"
    ))
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "LEAKS []" in proc.stdout


def test_leaked_origin_fails_without_metrics(tmp_path):
    copy = _copy(str(tmp_path / "tree"))
    # the engine is imported from the original tree before the benchmark
    # starts, as a stray sys.path entry would do
    proc = _run(copy, (
        f"import runpy, sys; sys.path.insert(0, {ROOT!r})\n"
        "import geoharvest_spark\n"
        "sys.argv = ['perfbench/run.py', '--workload', 'spatial_join', '--seconds', '1']\n"
        "runpy.run_path('perfbench/run.py', run_name='__main__')\n"
    ))
    assert proc.returncode != 0
    assert "outside the checkout" in proc.stderr
    assert not _result_lines(proc.stdout)


def test_tree_without_engine_fails_without_metrics(tmp_path):
    bare = _copy(str(tmp_path / "bare"), with_engine=False)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "harvest_tiles",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, env=env, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert not _result_lines(proc.stdout)
