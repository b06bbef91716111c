"""The ring/shape text codec and its engine-wide lint.

Face rings, landuse rings, the polygon index and edge ``shape_pts`` travel
between stages as ``'lon lat;...'`` text with 9 decimals, and
``functions/rings.py`` is the one module that parses or writes it.  The
lint fails if any other file under ``urbanistic_polygons_spark/`` or
``scripts/`` splits or joins on ``';'``, splits on ``' '``, or formats
``'%.9f %.9f'`` / ``f'{x:.9f} {y:.9f}'``: a second copy of the format is
where the closing-point and null/empty rules drift apart.  The codec
tests pin that the Python and JVM helpers read and write the same text,
and where the two formatters disagree."""

import ast
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from urbanistic_polygons_spark import datagen
from urbanistic_polygons_spark.functions import rings

ROOT = Path(__file__).resolve().parent.parent
CODEC = "urbanistic_polygons_spark/functions/rings.py"

# (file, function) pairs whose separators are not geometry text
EXEMPT = {
    # md5 over sorted 'k=v' tag entries joined by ';': the signatures
    # are committed in the graph tables
    ("urbanistic_polygons_spark/operators/graph_build.py", "tag_signature"),
    # word tokenizers of document text
    ("urbanistic_polygons_spark/functions/text.py", "tokens"),
    ("scripts/scale_stress.py", "perturb_text"),
}


def _name(call: ast.Call) -> str:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")


def _is(node, value) -> bool:
    return isinstance(node, ast.Constant) and node.value == value


class _Lint(ast.NodeVisitor):
    def __init__(self, rel: str):
        self.rel, self.fn, self.hits = rel, "<module>", []

    def _hit(self, node, what):
        self.hits.append(f"{self.rel}:{node.lineno} {self.fn}: {what}")

    def visit_FunctionDef(self, node):
        if (self.rel, node.name) in EXEMPT:
            return
        outer, self.fn = self.fn, node.name
        self.generic_visit(node)
        self.fn = outer

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Assign(self, node):
        # the DuckDB oracle SQL strings format their own vertex text
        if all(isinstance(t, ast.Name) and t.id.endswith("_SQL")
               for t in node.targets):
            return
        self.generic_visit(node)

    def visit_Call(self, node):
        name = _name(node)
        args = [*node.args, *(k.value for k in node.keywords)]
        if name == "join" and _is(getattr(node.func, "value", None), ";"):
            self._hit(node, "joins on ';'")
        if any(_is(a, ";") for a in args):
            self._hit(node, f"{name}(..., ';')")
        if name == "split" and any(_is(a, " ") for a in args):
            self._hit(node, "split(..., ' ')")
        self.generic_visit(node)

    def visit_Constant(self, node):
        if isinstance(node.value, str) and "%.9f %.9f" in node.value:
            self._hit(node, "formats '%.9f %.9f'")

    def visit_JoinedStr(self, node):
        if ":.9f} {" in ast.unparse(node):
            self._hit(node, "formats '{:.9f} {:.9f}'")
        self.generic_visit(node)


def _offenders(root: Path = ROOT) -> list[str]:
    hits = []
    for top in ("urbanistic_polygons_spark", "scripts"):
        for py in sorted((root / top).rglob("*.py")):
            rel = py.relative_to(root).as_posix()
            if rel == CODEC:
                continue
            lint = _Lint(rel)
            lint.visit(ast.parse(py.read_text()))
            hits += lint.hits
    return hits


def test_ring_text_only_in_codec():
    offenders = _offenders()
    assert not offenders, (
        "ring/shape text handled outside functions/rings.py:\n"
        + "\n".join(offenders))


def test_lint_catches_an_inlined_parse(tmp_path):
    """The lint sees the parse every kernel used to carry."""
    pkg = tmp_path / "urbanistic_polygons_spark"
    pkg.mkdir()
    (tmp_path / "scripts").mkdir()
    (pkg / "k.py").write_text(
        "def kernel(rs):\n"
        "    return [p.split() for p in rs.split(';')]\n"
        "def writer(ring):\n"
        "    return ';'.join(f'{x:.9f} {y:.9f}' for x, y in ring)\n")
    assert len(_offenders(tmp_path)) == 3


def test_exemptions_still_exist():
    """An exemption whose function is gone is stale."""
    for file, name in EXEMPT:
        tree = ast.parse((ROOT / file).read_text())
        assert any(isinstance(f, ast.FunctionDef) and f.name == name
                   for f in ast.walk(tree)), f"{file}:{name} is gone"


def _jvm_points(spark, seqs):
    """JVM ``points(text(...))`` of each (lons, lats) sequence, and the
    text it went through."""
    df = spark.createDataFrame(
        [(i, [(float(x), float(y)) for x, y in zip(lo, la)])
         for i, (lo, la) in enumerate(seqs)],
        "i int, p array<struct<lon double, lat double>>")
    out = (df.select("i", rings.text("p").alias("t"))
           .select("i", "t", rings.points("t").alias("q"))
           .orderBy("i").collect())
    return ([np.array([(q.lon, q.lat) for q in r.q]) for r in out],
            [r.t for r in out])


@pytest.mark.parametrize("k,jitter", [(4, 0.0), (6, 1.0)])
def test_round_trip_lattice(spark, k, jitter):
    nodes, ways = datagen.gen_ways_grid(k=k, seed=44, jitter=jitter)
    xy = nodes.set_index("node_id")
    seqs = [(xy.lon[list(n)].to_numpy(), xy.lat[list(n)].to_numpy())
            for n in ways.nodes]
    jvm, texts = _jvm_points(spark, seqs)
    for (lo, la), q, t in zip(seqs, jvm, texts):
        assert rings.fmt(lo, la) == t
        assert np.array_equal(rings.parse(rings.fmt(lo, la)), q)


def test_round_trip_polygons(spark):
    polys = datagen.gen_polygons(50, 1)
    seqs = [tuple(rings.parse(r).T) for r in polys.ring]
    jvm, texts = _jvm_points(spark, seqs)
    assert texts == list(polys.ring)
    for (lo, la), q in zip(seqs, jvm):
        assert np.array_equal(rings.parse(rings.fmt(lo, la)), q)


def test_empty_and_null_text(spark):
    assert rings.parse(None).shape == (0, 2)
    assert rings.parse("").shape == (0, 2)
    row = spark.createDataFrame(
        [(None,), ("",), ("1.5 2.5",)], "s string").select(
        F.size(rings.tokens("s")).alias("n"),
        F.size(rings.points("s")).alias("m")).collect()
    assert [(r.n, r.m) for r in row] == [(0, 0), (0, 0), (1, 1)]


@pytest.mark.parametrize("lon,py_tok,jvm_tok", [
    # shortest decimal ends in 5 at the tenth place: Python rounds the
    # binary value (just below ...45), Java the decimal HALF_UP
    (4.7000000045, "4.700000004", "4.700000005"),
    (4.7000000044, "4.700000004", "4.700000004"),
])
def test_formatters_diverge_beyond_binary_ties(spark, lon, py_tok, jvm_tok):
    """The premise of merge's fail-safe segment join: the two formatters
    of the codec disagree on non-dyadic values too."""
    assert rings.fmt([lon], [51.2]) == f"{py_tok} 51.200000000"
    got = spark.range(1).select(
        rings.token(F.lit(lon), F.lit(51.2)).alias("t")).first().t
    assert got == f"{jvm_tok} 51.200000000"


def test_box_and_geojson(spark):
    r = spark.range(1).select(
        rings.box(F.lit(1.0), F.lit(2.0), F.lit(3.0), F.lit(4.0)).alias("b")
    ).select("b", rings.geojson(F.col("b")).alias("g")).first()
    assert r.b == ("1.000000000 4.000000000;3.000000000 4.000000000;"
                   "3.000000000 2.000000000;1.000000000 2.000000000;"
                   "1.000000000 4.000000000")
    assert r.g == ("[[1.000000000,4.000000000],[3.000000000,4.000000000],"
                   "[3.000000000,2.000000000],[1.000000000,2.000000000],"
                   "[1.000000000,4.000000000]]")
