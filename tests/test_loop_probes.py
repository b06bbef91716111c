"""Engine-wide lint: no operator loop probes its own convergence.

A loop that runs until nothing changes uses ``plans.lineage.fixpoint``,
which reads one changed flag off each round's checkpoint.  A hand-rolled
per-round probe costs an extra job per round (``isEmpty``), or keeps a
metrics node alive in every round's plan (``Observation``: the per-round
variant in ``sssp_int`` lifted the JVM's peak RSS on the graph-pipeline
test from 5.9 to 10.9 GB and was killed for memory).  This test fails if
a ``for``/``while`` body in ``operators/`` constructs an ``Observation``
or calls ``.isEmpty()``."""

import ast
from pathlib import Path

OPS = (Path(__file__).resolve().parent.parent
       / "urbanistic_polygons_spark" / "operators")

# loops that step through a given sequence instead of running to a
# no-change fixpoint
EXEMPT = {
    # halo rings 1..max_ring: the probe asks whether any anchor still
    # needs a bigger halo, and the last ring reports what it drops
    ("graph_build.py", "build_faces"),
    # ascending thresholds with a faces-per-region target: the probe
    # skips the components call on a level with no newly passable edge
    ("merge.py", "merge_to_size"),
}


def _probes(loop):
    for node in ast.walk(loop):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
        if name in ("Observation", "isEmpty"):
            yield node.lineno, name


def test_no_per_round_probe_in_operator_loops():
    offenders = []
    for py in sorted(OPS.glob("*.py")):
        tree = ast.parse(py.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if (py.name, fn.name) in EXEMPT:
                continue
            for loop in ast.walk(fn):
                if isinstance(loop, (ast.For, ast.While)):
                    offenders += [f"{py.name}:{line} {fn.name}: {name}"
                                  for line, name in _probes(loop)]
    assert not offenders, (
        "per-round probes in operator loops (use plans.lineage.fixpoint):\n"
        + "\n".join(sorted(set(offenders))))


def test_exemptions_still_exist():
    """An exemption whose function is gone or no longer loops is stale."""
    for file, name in EXEMPT:
        tree = ast.parse((OPS / file).read_text())
        fns = [f for f in ast.walk(tree)
               if isinstance(f, ast.FunctionDef) and f.name == name]
        assert fns, f"{file}:{name} is gone"
        assert any(isinstance(n, (ast.For, ast.While))
                   for n in ast.walk(fns[0])), f"{file}:{name} has no loop"
