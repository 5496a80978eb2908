"""``python scripts/<name>.py`` puts ``scripts/`` first on ``sys.path``,
so a script named like a standard-library module shadows it for every
sibling script: a ``scripts/profile.py`` breaks ``import pyspark``
(pyspark imports cProfile, which imports ``profile``)."""

from __future__ import annotations

import os
import sys

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


def test_no_script_shadows_a_stdlib_module():
    names = {f[:-3] for f in os.listdir(SCRIPTS) if f.endswith(".py")}
    assert not names & sys.stdlib_module_names
