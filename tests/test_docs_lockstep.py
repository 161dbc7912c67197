"""Doc/catalog lockstep: the query counts quoted in the COVERAGE.md
and README.md headers must match the live catalog (VERDICT r6 #7 —
the "87 queries" stale-header recurred as a risk every round the
catalog grew; this pins it).

No Spark session needed: importing the catalog registers the specs.
"""

import re
from pathlib import Path

from featurestore_spark.queries import QUERIES

REPO = Path(__file__).resolve().parent.parent


def test_coverage_header_counts_match_catalog():
    text = (REPO / "COVERAGE.md").read_text()
    # "**{N}\nqueries, {M} with full value-hash oracles**" (the bold
    # span may wrap — match across whitespace).
    m = re.search(r"\*\*(\d+)\s+queries,\s+(\d+)\s+with full value-hash", text)
    assert m, "COVERAGE.md header no longer quotes the query counts"
    total, with_oracle = int(m.group(1)), int(m.group(2))
    assert total == len(QUERIES), (
        f"COVERAGE.md says {total} queries; catalog has {len(QUERIES)}"
    )
    n_oracle = sum(1 for s in QUERIES.values() if s.oracle is not None)
    assert with_oracle == n_oracle, (
        f"COVERAGE.md says {with_oracle} oracle-paired; catalog has {n_oracle}"
    )


def test_readme_count_line_matches_catalog():
    text = (REPO / "README.md").read_text()
    m = re.search(r"catalog\.py\s+(\d+) queries, (\d+) paired", text)
    assert m, "README.md tree no longer quotes the query counts"
    total, with_oracle = int(m.group(1)), int(m.group(2))
    assert total == len(QUERIES)
    assert with_oracle == sum(1 for s in QUERIES.values() if s.oracle is not None)


def test_driver_window_is_computed_from_correctness_artifacts(tmp_path):
    import inspect
    import json

    import __spark_entry__ as entrymod
    from featurestore_spark.queries import catalog

    # The catalog dict silently overwrites a re-registered name, so
    # count the @_register sites in the source against the live dict:
    # a duplicate or dropped registration fails here.
    src = inspect.getsource(catalog)
    assert src.count("@_register(") == len(QUERIES)

    names = list(QUERIES)
    assert entrymod._driver_order(str(tmp_path)) == names

    def artifact(round_no, verified):
        path = tmp_path / f"CORRECTNESS_r{round_no}.json"
        path.write_text(json.dumps({n: {"status": "ok"} for n in verified}))

    # r9 lists its names against registration order; r10 re-verifies
    # names[2:4]. A numeric round sort puts r9's remainder before r10.
    artifact(9, reversed(names[0:4]))
    artifact(10, names[2:6])
    order = entrymod._driver_order(str(tmp_path))
    assert sorted(order) == sorted(names) and len(set(order)) == len(names)
    assert order == names[6:] + names[0:2] + names[2:6]

    assert list(entrymod.queries()) == entrymod._driver_order(entrymod.REPO)
