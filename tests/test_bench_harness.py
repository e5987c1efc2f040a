"""``bench.py`` is a front-end over ``perfbench``: the headline query list
and the scaled operator plans are defined once, in ``perfbench``, so a
plan change moves both harnesses; and bench.py's ten modes share one
helper per job.  Source checks only, no Spark session."""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
SRC = (ROOT / "bench.py").read_text()
TREE = ast.parse(SRC)


def test_bench_defines_no_headline_list_or_scaled_plan():
    assigned = {
        t.id
        for node in ast.walk(TREE)
        if isinstance(node, ast.Assign)
        for t in node.targets
        if isinstance(t, ast.Name)
    }
    assert not assigned & {"HEADLINE", "SCALED"}, assigned
    # a scaled plan of its own would name its result key
    names = [
        n.value
        for n in ast.walk(TREE)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and re.fullmatch(r"scaled_\w+", n.value)
    ]
    assert not names, names


def test_bench_imports_the_list_and_the_plans_from_perfbench():
    imported = {
        (node.module, a.name)
        for node in ast.walk(TREE)
        if isinstance(node, ast.ImportFrom)
        for a in node.names
    }
    assert {
        ("perfbench.metrics", "HEADLINE"),
        ("perfbench.metrics", "SCALED"),
        ("perfbench.batch_headline", "scaled_plans"),
    } <= imported


def test_one_helper_per_job():
    defs = [n.name for n in ast.walk(TREE) if isinstance(n, ast.FunctionDef)]
    assert defs.count("replicate") == 1
    assert SRC.count("def replicate") == 1
    # one noop timer, one JSON emitter, one streaming runner
    assert SRC.count('format("noop").save()') == 1
    assert SRC.count("json.dumps(") == 1
    assert SRC.count("processAllAvailable()") == 1


def test_readme_running_flags_are_the_modes():
    import bench

    readme = (ROOT / "README.md").read_text()
    block = readme.split("## Running", 1)[1].split("```")[1]
    flags = set(re.findall(r"python bench\.py (--[\w-]+)", block))
    assert flags == set(bench.MODES), flags ^ set(bench.MODES)
