"""COVERAGE.md header count must match the live registry.

The round-4 verdict caught the header saying 239 while the registry
held 269 — this pins the documented count to `len(_all_queries())`
and `len(oracle_sql())` so it cannot silently drift again; and
COVERAGE_DRIVER.md must be what tools/driver_green.py generates.
"""

import importlib.util
import json
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_cov", ROOT / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_coverage_header_matches_registry():
    mod = _entry_module()
    n_queries = len(mod._all_queries())
    n_oracle = len(mod.oracle_sql())
    assert n_queries == n_oracle, (
        f"registry/oracle gap: {n_queries} queries vs {n_oracle} oracles"
    )
    text = (ROOT / "COVERAGE.md").read_text()
    m = re.search(r"Queries:\s*(\d+)", text)
    assert m, "COVERAGE.md lost its 'Queries: N' header line"
    assert int(m.group(1)) == n_queries, (
        f"COVERAGE.md says {m.group(1)} queries but registry has "
        f"{n_queries} — update the header"
    )


def test_every_query_has_oracle():
    mod = _entry_module()
    qs = set(mod._all_queries())
    os_ = set(mod.oracle_sql())
    assert qs == os_, (
        f"only-in-queries={sorted(qs - os_)} only-in-oracle={sorted(os_ - qs)}"
    )


ORACLE_SQL_MAX_BYTES = 64 * 1024


def test_oracle_sql_stays_small():
    """Every oracle is staged SQL, not one textually re-expanded
    expression: a forward inlined into every use grew the UTM oracles
    to ~481 KB and ~2 s of DuckDB parsing each. Stage repeated
    subterms through named columns or MATERIALIZED CTEs instead."""
    mod = _entry_module()
    big = {
        name: len(sql.encode())
        for name, sql in mod.oracle_sql().items()
        if len(sql.encode()) >= ORACLE_SQL_MAX_BYTES
    }
    assert not big, f"oracle SQL over {ORACLE_SQL_MAX_BYTES} bytes: {big}"


def _driver_green():
    spec = importlib.util.spec_from_file_location(
        "driver_green", ROOT / "tools" / "driver_green.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_coverage_driver_is_generated():
    """COVERAGE_DRIVER.md is exactly what tools/driver_green.py
    renders from the registry and the CORRECTNESS_r*.json records."""
    mod = _driver_green()
    assert (ROOT / "COVERAGE_DRIVER.md").read_text() == mod.render(), (
        "COVERAGE_DRIVER.md is stale: run python tools/driver_green.py"
    )


def test_driver_green_needs_hash_match(tmp_path):
    """A driver record without ``hash_match`` counts as attempted, not
    as driver-green."""
    path = tmp_path / "CORRECTNESS_r9.json"
    path.write_text(json.dumps({
        "no_hash": {"rows_match": True, "schema_match": True},
        "full": {"rows_match": True, "schema_match": True, "hash_match": True},
    }))
    green, attempted = _driver_green().tally([str(path)])
    assert green == {"full": 9}
    assert attempted == {"no_hash": 9, "full": 9}
