"""Generate the README query-catalog map from the live registry.

Usage:
  python tools/gen_opmap.py            # print the markdown section
  python tools/gen_opmap.py --write    # splice it into README.md

The table is derived from the registry itself — each @register'ed
query's tags, defining ``path::function_name``, and oracle kind — so
any reader can navigate the catalog with one search. Rows are anchored
on the function's name, not its line number, so an edit above a query
leaves the map fresh. A staleness test (tests/test_docs.py)
regenerates this section and diffs it against the committed README:
adding, deleting or renaming a query, moving it to another file, or
changing its tags, family or oracle kind fails that test until the
section is regenerated.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BEGIN = "<!-- OPMAP:BEGIN (generated by tools/gen_opmap.py --write; do not edit by hand) -->"
END = "<!-- OPMAP:END -->"

# display order + headline for each tag family; a query appears under
# its FIRST matching family (tags are ordered most-specific-first at
# the @register site)
FAMILIES = [
    ("mapreduce", "Reference MapReduce surface (wc / ii / shuffle parity)"),
    ("text-analysis", "Text analysis"),
    ("dedup", "Deduplication"),
    ("similarity", "Similarity / ANN"),
    ("quality", "Corpus hygiene / quality"),
    ("pipeline", "Training-data assembly"),
    ("features", "Feature engineering"),
    ("multimodal", "Multimodal binary columns"),
    ("streaming", "Structured Streaming"),
    ("iterative", "Iterative graph"),
    ("sketch", "Sketches / approximation"),
    ("tpch", "TPC-H classics"),
    ("join", "Joins"),
    ("aggregation", "Aggregations"),
    ("window", "Window functions"),
    ("source", "Sources / sinks / formats"),
    ("sink", "Sources / sinks / formats"),
    ("modern", "Spark 4 surfaces (UDTF / VARIANT / Arrow / DataSource)"),
    ("udf", "UDF / UDAF / UDTF"),
    ("scalar", "Scalar functions"),
    ("relational", "Core relational"),
]


def generate() -> str:
    from mapreduce_mit_spark import registry

    registry.load_all_plans()
    rows_by_family: dict[str, list[str]] = {}
    for name, q in sorted(registry.REGISTRY.items()):
        rel = os.path.relpath(q.fn.__code__.co_filename, REPO)
        loc = f"{rel}::{q.fn.__qualname__}"
        # whole-tag (or '-'-segment) matching: "join" matches the tags
        # "join" and "skew-join" but can never match an unrelated tag
        # that merely CONTAINS it as a substring — family routing is a
        # property of the tag vocabulary, not of FAMILIES ordering
        # relative to accidental substrings (ADVICE r5). Ordering still
        # decides priority among legitimate multi-family tag sets.
        fam = next(
            (
                title
                for key, title in FAMILIES
                if any(key == t or key in t.split("-") for t in (q.tags or ()))
            ),
            "Core relational",
        )
        oracle = "SQL oracle" if q.oracle is not None else "rows-only"
        tag_str = " ".join(q.tags or ())
        rows_by_family.setdefault(fam, []).append(
            f"| `{name}` | `{loc}` | {oracle} | {tag_str} |"
        )

    out = [BEGIN, "", "### Query catalog (generated)", ""]
    total = sum(len(v) for v in rows_by_family.values())
    n_oracle = sum(
        1 for _, q in _items() if q.oracle is not None
    )
    rows_only = total - n_oracle
    tail = (
        "every one with a DuckDB SQL oracle"
        if rows_only == 0
        else f"{n_oracle} with a DuckDB SQL oracle, {rows_only} rows-only by design"
    )
    out.append(
        f"{total} registered queries, {tail}. Regenerate with "
        "`python tools/gen_opmap.py --write`; `tests/test_docs.py` "
        "fails if this section drifts from the code."
    )
    out.append("")
    seen_titles = []
    for _, title in FAMILIES:
        if title in seen_titles or title not in rows_by_family:
            continue
        seen_titles.append(title)
        out += [f"#### {title}", "", "| query | defined at | check | tags |",
                "|---|---|---|---|"]
        out += rows_by_family[title]
        out.append("")
    out.append(END)
    return "\n".join(out)


def _items():
    from mapreduce_mit_spark import registry

    return sorted(registry.REGISTRY.items())


def main() -> int:
    section = generate()
    if "--write" not in sys.argv:
        print(section)
        return 0
    path = os.path.join(REPO, "README.md")
    with open(path) as f:
        text = f.read()
    pattern = re.escape(BEGIN) + r".*?" + re.escape(END)
    if re.search(pattern, text, flags=re.S):
        text = re.sub(pattern, lambda _: section, text, flags=re.S)
    else:
        text = text.rstrip() + "\n\n" + section + "\n"
    with open(path, "w") as f:
        f.write(text)
    print(f"README.md updated ({len(section.splitlines())} lines)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
