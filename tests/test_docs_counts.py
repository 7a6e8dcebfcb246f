"""Docs-drift guard: the query/oracle counts README.md advertises must
match the live inventory, and the driver-gate head must be exactly 50
oracled, registered queries. Rounds 5 and 6 both shipped count drift
(README said 230 while queries() held 232); this pins it mechanically."""

import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _inventory():
    from torcdb_spark.queries import oracle_sql, queries, staleness_head

    return queries(), oracle_sql(), staleness_head(50)


def test_readme_counts_match_inventory():
    qs, oracles, _ = _inventory()
    readme = (REPO / "README.md").read_text()
    m = re.search(r"\((\d+) declared queries", readme)
    assert m, "README must state the declared-query count"
    assert int(m.group(1)) == len(qs), (
        f"README says {m.group(1)} declared queries, inventory has "
        f"{len(qs)} — sync README.md"
    )
    m = re.search(r"oracles for all but (\d+)", readme)
    assert m, "README must state the rows-only count"
    assert int(m.group(1)) == len(qs) - len(oracles), (
        f"README says {m.group(1)} rows-only, inventory has "
        f"{len(qs) - len(oracles)} — sync README.md"
    )


def test_driver_gate_head_is_50_registered_oracled():
    qs, oracles, head = _inventory()
    assert len(head) == 50, "driver gate head must pin exactly 50 slots"
    assert len(set(head)) == 50, "duplicate names in the gate head"
    missing = [n for n in head if n not in qs]
    assert not missing, f"head names not registered: {missing}"
    unoracled = [n for n in head if n not in oracles]
    assert not unoracled, f"head entries without an exact oracle: {unoracled}"
    # queries()/oracle_sql() iteration order must actually lead with the head
    assert list(qs)[:50] == head
    assert list(oracles)[:50] == head


def test_every_query_name_unique_and_callable():
    qs, oracles, _ = _inventory()
    assert set(oracles) <= set(qs), "oracle without a registered query"
    for name, fn in qs.items():
        assert callable(fn), name
