"""Generate docs/query_catalog.md: one line per registered query (name,
oracle/rows-only, tags, first docstring sentence).  Run after adding
queries; the doc header records the counts the registry test pins."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", ".  "):
        if stop in text:
            return text[: text.index(stop) + 1]
    return text[:160]


def main() -> None:
    from big_data_analytics_project_spark.registry import load_all

    reg = load_all()
    total = len(reg)
    oracle = sum(1 for s in reg.values() if s.sql is not None)
    lines = [
        "# Query catalog (generated by scripts/gen_catalog.py)",
        "",
        f"{total} registered queries; {oracle} oracle-checked against DuckDB,",
        f"{total - oracle} rows-only (seeded/approximate/stateful; pytest-pinned).",
        "Rows are in registration order (see registry.load_all).",
        "",
        "| # | query | check | tags | what |",
        "|---|---|---|---|---|",
    ]
    for i, (name, spec) in enumerate(reg.items(), 1):
        kind = "oracle" if spec.sql is not None else "rows-only"
        tags = ",".join(spec.tags or ())
        desc = first_sentence(spec.fn.__doc__).replace("|", "\\|")
        lines.append(f"| {i} | `{name}` | {kind} | {tags} | {desc} |")
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "query_catalog.md",
    )
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {total} queries")


if __name__ == "__main__":
    main()
