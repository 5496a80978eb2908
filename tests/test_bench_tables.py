"""bench.py's section tables, checked without a Spark session.

No committed bench row may silently drop out of a table, every
registry row a table names must exist, and the headline set must
match the one ``perfbench/run.py`` fixes for the benchmark.
"""

from __future__ import annotations

import ast
import json
import os

import bench
from farmrpg_etl_spark.queries import QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_committed_rows_are_still_table_rows():
    with open(os.path.join(REPO, "BENCH_LOCAL.json")) as f:
        committed = json.load(f)
    rows = {
        "extended_queries": set(bench.EXTENDED),
        "sf1_stretch": {n for n, _ in bench.STRETCH["sf1_stretch"]} | set(bench.SKEW),
        "sf10_stretch": {n for n, _ in bench.STRETCH["sf10_stretch"]},
    }
    for section, names in rows.items():
        assert set(committed[section]) <= names, (section, set(committed[section]) - names)


def test_table_registry_names_exist():
    referenced = {bench.WARM, *bench.HEADLINE, *bench.EXTENDED, *bench.KEEP}
    for rows in bench.STRETCH.values():
        referenced |= {src for _, src in rows if isinstance(src, str)}
    assert referenced - set(QUERIES) == set()


def test_headline_matches_perfbench():
    with open(os.path.join(REPO, "perfbench", "run.py")) as f:
        tree = ast.parse(f.read())
    (node,) = [
        n for n in tree.body
        if isinstance(n, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "HEADLINE" for t in n.targets)
    ]
    assert bench.HEADLINE == ast.literal_eval(node.value)
