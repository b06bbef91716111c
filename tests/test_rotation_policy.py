"""Enforce the driver-report-cap rotation policy in code (r4 verdict
item 6; docs/COVERAGE.md "Driver report cap").

The driver correctness harness reports at most REPORT_CAP = 50 catalog
queries, in registration order.  The standing policy: every catalog
entry must either (a) be registered inside the first 50 — so the NEXT
driver run records it — or (b) already hold at least one driver-green
round in the committed ledger ``driver_greens.json`` (the union of
rows+schema+hash-true rows across every CORRECTNESS_r*.json artifact,
regenerated each round).

This converts the prose policy into a gate: a future rotation that
pushes a never-reported entry past the cap fails here instead of being
discovered in the next verdict.
"""

import hashlib
import json
from pathlib import Path

from urbanistic_polygons_spark.catalog import build_catalog

REPORT_CAP = 50
_LEDGER = Path(__file__).resolve().parent.parent / "driver_greens.json"


def test_every_entry_reported_or_in_window():
    names = list(build_catalog())
    ledger = json.loads(_LEDGER.read_text())["greens"]
    in_window = set(names[:REPORT_CAP])
    violations = [
        n for n in names
        if n not in in_window and not ledger.get(n)
    ]
    assert not violations, (
        "catalog entries past the report cap with no driver-green round "
        f"on record: {violations} — rotate them into the first "
        f"{REPORT_CAP} registrations or fix their oracle"
    )


def test_ledger_names_exist_in_catalog():
    """The ledger may only shrink via deliberate renames — every ledger
    key should still be a registered catalog entry (catches silent
    renames that would strand green evidence)."""
    names = set(build_catalog())
    ledger = json.loads(_LEDGER.read_text())["greens"]
    stranded = sorted(k for k in ledger if k not in names)
    assert not stranded, f"ledger entries no longer in catalog: {stranded}"


# sha256 over the "name|module:qualname|sha256(oracle)" lines of
# build_catalog(), in registration order: moves when an entry is added,
# dropped, reordered, re-pointed at another builder or given other
# oracle SQL.  Update it only together with such a change.
REGISTRATION_FINGERPRINT = (
    "15d939af1b7cddd9792c955dbd10219332e729d0a5799ccfea8101c15888a900")


def registration_fingerprint(catalog: dict) -> str:
    lines = []
    for name, spec in catalog.items():
        fn, oracle = spec["spark"], spec["oracle"] or ""
        lines.append(f"{name}|{fn.__module__}:{fn.__qualname__}|"
                     f"{hashlib.sha256(oracle.encode()).hexdigest()}")
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def test_registration_fingerprint():
    assert (registration_fingerprint(build_catalog())
            == REGISTRATION_FINGERPRINT)
