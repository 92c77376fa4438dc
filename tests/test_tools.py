"""The scripts under tools/ that the docs and bench.py name exist, and
every script there still compiles."""

import os
import py_compile
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")

# `tools/x.py` in prose, os.path.join(..., "tools", "x.py") in code; a
# `<rev>:tools/x.py` reference names a script of an older revision
_NAMED = re.compile(r'(?<![\w:/])tools/(\w+\.py)|"tools",\s*"(\w+\.py)"')


def _named_scripts():
    names = set()
    for rel in ("README.md", "bench.py", ".claude/skills/verify/SKILL.md"):
        with open(os.path.join(REPO, rel), encoding="utf-8") as f:
            for m in _NAMED.finditer(f.read()):
                names.add((rel, m.group(1) or m.group(2)))
    return sorted(names)


def test_named_scripts_exist():
    named = _named_scripts()
    # README and SKILL.md name check_oracles.py, bench.py scaling_probe.py
    assert {n for _, n in named} >= {"check_oracles.py", "scaling_probe.py"}
    missing = [(rel, n) for rel, n in named
               if not os.path.isfile(os.path.join(TOOLS, n))]
    assert not missing, missing


@pytest.mark.parametrize("name", sorted(
    n for n in os.listdir(TOOLS) if n.endswith(".py")))
def test_script_compiles(name, tmp_path):
    py_compile.compile(os.path.join(TOOLS, name),
                       cfile=str(tmp_path / (name + "c")), doraise=True)
