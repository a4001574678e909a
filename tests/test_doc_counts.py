"""The registry counts quoted in README.md and SURVEY.md match the code."""

import os
import re

from iceberg_geospatial_api_server_spark.entry_queries import ORACLES, QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _text(name):
    with open(os.path.join(REPO, name), encoding="utf-8") as f:
        return " ".join(f.read().split())


def test_readme_contracts_counts():
    text = _text("README.md")
    contracts = text[text.index("## Contracts") :]
    m = re.search(
        r"`queries\(\)` \((\d+) operators\), "
        r"`oracle_sql\(\)` \((\d+) DuckDB oracles\)",
        contracts,
    )
    assert m, "README Contracts line no longer quotes the registry counts"
    assert (int(m[1]), int(m[2])) == (len(QUERIES), len(ORACLES))


def test_survey_inventory_counts():
    text = _text("SURVEY.md")
    section = text[text.index("## §2") : text.index("### A.")]
    m = re.search(
        r"All (\d+) `queries\(\)` entries \((\d+) with DuckDB "
        r"value-hash oracles\)",
        section,
    )
    assert m, "SURVEY §2 no longer quotes the registry counts"
    assert (int(m[1]), int(m[2])) == (len(QUERIES), len(ORACLES))
    alls = [int(n) for n in re.findall(r"on all (\d+) entries", section)]
    assert alls and set(alls) == {len(QUERIES)}
