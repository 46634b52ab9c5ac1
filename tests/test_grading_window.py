"""Guard: every registered query and family is graded by the oracle sweep.

``tests/test_oracle_contract.py`` runs one compare per name in
``registry.QUERIES``. These checks pin the metadata that sweep relies
on: every oracle belongs to a registered query, and every SURVEY §2
family has entries with an oracle, so no family goes ungraded.

No SparkSession needed: these are pure registry/metadata checks.
"""

from __future__ import annotations

import re

import pytest

from reddit_data_engineering_project_spark import registry

registry.load_all_operators()

# SURVEY §2 family = the name prefix before the first underscore
# (q01..q21, s01..s06 collapse to the S-family rows, x01..x05,
# pipeline_* is the R-layer).
_FAMILY_RE = re.compile(r"^(q\d+|s\d+|x\d+|pipeline)")


def family_of(name: str) -> str:
    m = _FAMILY_RE.match(name)
    assert m, f"query name {name!r} does not map to a SURVEY §2 family"
    return m.group(1)


def test_every_family_has_driver_evidence():
    all_fams = {family_of(n) for n in registry.QUERIES}
    graded = {family_of(n) for n in registry.ORACLES}
    uncovered = sorted(all_fams - graded)
    assert not uncovered, (
        f"families with no oracle-graded entry in the sweep: {uncovered}"
    )


@pytest.mark.parametrize("name", sorted(registry.ORACLES))
def test_oracle_entries_have_query(name):
    assert name in registry.QUERIES
