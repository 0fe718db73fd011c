"""README census honesty: the advertised registry counts must equal the
registry itself (regen with `python tools/census.py` after adding queries).
The counts drifted twice in past rounds; this makes drift a test failure."""

from __future__ import annotations

import json
import re
from pathlib import Path

from flink_1_12_0_src_spark.queries import load_all

ROOT = Path(__file__).resolve().parents[1]


def test_readme_census_matches_registry():
    reg = load_all()
    readme = (ROOT / "README.md").read_text()
    goldens = len(json.loads((ROOT / "tests" / "plan_goldens.json").read_text()))

    m = re.search(r"(\d+) registered queries", readme)
    assert m and int(m.group(1)) == len(reg), (
        f"README says {m and m.group(1)} registered queries, registry has "
        f"{len(reg)} — run `python tools/census.py`"
    )
    m = re.search(r"(\d+)/(\d+) oracled", readme)
    oracled = sum(1 for q in reg.values() if q.oracle is not None)
    assert m and (int(m.group(1)), int(m.group(2))) == (oracled, len(reg)), (
        f"README says {m and m.group(0)} oracled, registry has "
        f"{oracled}/{len(reg)} — run `python tools/census.py`"
    )
    m = re.search(r"(\d+) golden plan fingerprints", readme)
    assert m and int(m.group(1)) == goldens, (
        f"README says {m and m.group(1)} goldens, file has {goldens} — run "
        f"`python tools/census.py`"
    )


def test_readme_census_covers_bench_and_gate_counts():
    reg = load_all()
    readme = (ROOT / "README.md").read_text()
    bench = sum(1 for q in reg.values() if "bench" in q.tags)
    oracled = sum(1 for q in reg.values() if q.oracle is not None)
    m = re.search(r"(\d+)-query headline set", readme)
    assert m and int(m.group(1)) == bench, (
        f"README says {m and m.group(0)}, registry has {bench} bench-tagged — "
        f"run `python tools/census.py`"
    )
    m = re.search(r"(\d+)-query oracle gate", readme)
    assert m and int(m.group(1)) == oracled, (
        f"README says {m and m.group(0)}, registry has {oracled} oracled — "
        f"run `python tools/census.py`"
    )


def test_driver_contract_mirrors_registry():
    """`__spark_entry__.queries()`/`oracle_sql()` are a thin adapter over the
    registry: the same names, the same callables, the same oracle text."""
    import __spark_entry__

    reg = load_all()
    assert __spark_entry__.queries() == {n: q.spark for n, q in reg.items()}
    assert __spark_entry__.oracle_sql() == {
        n: q.oracle for n, q in reg.items() if q.oracle is not None
    }
