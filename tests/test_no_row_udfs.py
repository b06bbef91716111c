"""Engine-wide lint: the no-per-row-Python rule (BASELINE.json input_hint)
is enforced structurally — no row-at-a-time `pyspark.sql.functions.udf`
anywhere in the package.  Arrow-batched Python is the only sanctioned
path: pandas_udf / applyInPandas / mapInPandas, and the pandas-free
applyInArrow / mapInArrow (BASELINE allows pandas and Arrow UDFs)."""

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "urbanistic_polygons_spark"

BANNED = [
    re.compile(r"\bF\.udf\s*\("),
    re.compile(r"^\s*@udf\b"),
    re.compile(r"\bfunctions\.udf\s*\("),
    re.compile(r"\bspark\.udf\.register\s*\("),
    # driver-side row loops over collected results
    re.compile(r"for\s+\w+\s+in\s+\w+\.collect\(\)"),
]


def test_no_row_at_a_time_udfs():
    offenders = []
    for py in PKG.rglob("*.py"):
        text = py.read_text()
        for pat in BANNED:
            for m in pat.finditer(text):
                line = text[:m.start()].count("\n") + 1
                offenders.append(f"{py.relative_to(PKG.parent)}:{line} {m.group(0)!r}")
    assert not offenders, "row-at-a-time Python found:\n" + "\n".join(offenders)


def test_pandas_udfs_are_batched():
    """Batched callsites exist (sanity that the sanctioned pandas/Arrow
    path is what's used)."""
    uses = 0
    for py in PKG.rglob("*.py"):
        uses += len(re.findall(r"mapInPandas|applyInPandas|pandas_udf"
                               r"|mapInArrow|applyInArrow",
                               py.read_text()))
    assert uses >= 5
