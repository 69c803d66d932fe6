"""Pin the bench HEADLINE coverage policy (see the bench.py header).

Policy: every operator family — a query's FIRST registry tag — must have
at least one oracle-checked representative in HEADLINE, so no family is
missing from the per-query record.  Families may share one delegate; every
HEADLINE name must be registered, once; the README quotes the headline
count and is pinned here like the registry counts are in
test_registry_counts.py.
"""

import re
import sys
from pathlib import Path

from big_data_analytics_project_spark.registry import load_all

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from bench import HEADLINE  # noqa: E402


def test_headline_names_registered_and_unique():
    reg = load_all()
    assert len(HEADLINE) == len(set(HEADLINE))
    missing = [n for n in HEADLINE if n not in reg]
    assert not missing, f"HEADLINE names not in registry: {missing}"


def test_every_family_represented():
    reg = load_all()
    head_tags = {reg[n].tags[0] for n in HEADLINE if reg[n].tags}
    uncovered = sorted(
        {
            spec.tags[0]
            for name, spec in reg.items()
            if spec.sql is not None and spec.tags and spec.tags[0] not in head_tags
        }
    )
    assert not uncovered, (
        f"operator families with no HEADLINE representative: {uncovered} — "
        "add a delegate to bench.py HEADLINE (see its coverage policy)"
    )


def test_readme_quotes_headline_count():
    readme = Path(__file__).resolve().parent.parent / "README.md"
    m = re.search(r"headline sums (\d+) queries", readme.read_text())
    assert m, "README no longer states the bench headline count"
    assert int(m.group(1)) == len(HEADLINE), (
        f"README says {m.group(1)} headline queries; bench.py has "
        f"{len(HEADLINE)} — update the README sentence"
    )

