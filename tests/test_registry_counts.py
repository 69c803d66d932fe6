"""Pin the registry counts quoted in README so docs can't drift from code.

When a query is added/upgraded, update BOTH the constants here and the
README sentence that quotes them.
"""

import re
from pathlib import Path

from big_data_analytics_project_spark.registry import load_all

TOTAL = 317
ORACLE = 306


def test_counts_match_registry():
    reg = load_all()
    assert len(reg) == TOTAL
    assert sum(1 for s in reg.values() if s.sql is not None) == ORACLE


def test_readme_quotes_current_counts():
    readme = Path(__file__).resolve().parent.parent / "README.md"
    text = readme.read_text()
    m = re.search(r"(\d+) registered queries, (\d+) oracle-checked", text)
    assert m, "README no longer states the registry counts"
    assert (int(m.group(1)), int(m.group(2))) == (TOTAL, ORACLE)


def test_rows_only_queries_all_have_finality_verdicts():
    """Exact-key correspondence between the sql=None queries and
    registry.ROWS_ONLY_FINAL (VERDICT r8 item 5): a new rows-only query
    must document why no oracle can exist; a lifted query must drop its
    stale justification."""
    from big_data_analytics_project_spark.registry import ROWS_ONLY_FINAL

    reg = load_all()
    rows_only = {n for n, s in reg.items() if s.sql is None}
    assert rows_only == set(ROWS_ONLY_FINAL), (
        f"missing verdicts: {sorted(rows_only - set(ROWS_ONLY_FINAL))}; "
        f"stale verdicts: {sorted(set(ROWS_ONLY_FINAL) - rows_only)}"
    )
    assert all(ROWS_ONLY_FINAL.values()), "empty justification"


def test_every_query_has_fn_and_consistent_spec():
    reg = load_all()
    for name, spec in reg.items():
        assert spec.name == name
        assert callable(spec.fn)
