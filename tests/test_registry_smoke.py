"""Sub-second registry smoke gate (VERDICT r9 item 6).

Round 9 was lost to a half-landed refactor whose only symptom was an
import-time NameError inside an oracle f-string: `import
__spark_entry__` raised, so the driver recorded 0/192 correctness rows
and the bench produced no timings. This gate is the cheapest possible
tripwire: it needs no SparkSession and no data, so it runs (and fails)
in well under a second, and `pytest tests/test_registry_smoke.py` is
the post-edit habit that makes that class of loss impossible to commit.
"""

import re


def test_registry_imports_and_is_complete():
    import __spark_entry__ as e

    queries = e.queries()
    oracles = e.oracle_sql()
    assert len(queries) >= 200, f"registry shrank: {len(queries)} queries"
    assert set(oracles) <= set(queries), "oracle for unknown query"
    missing = set(queries) - set(oracles)
    assert not missing, f"queries without oracles: {sorted(missing)}"
    for name, fn in queries.items():
        assert callable(fn), f"{name} is not callable"


def test_oracles_are_resolved_sql():
    """Every oracle is a non-empty SQL string with no leftover Python
    interpolation artifacts (a deleted constant inside an f-string
    raises at import, but a plain-string `{VAR}` survives silently —
    catch that too)."""
    import __spark_entry__ as e

    for name, sql in e.oracle_sql().items():
        assert isinstance(sql, str) and sql.strip(), f"{name}: empty oracle"
        assert re.search(r"\bSELECT\b", sql, re.I), f"{name}: not SQL"
        leftover = re.findall(r"\{[A-Za-z_][A-Za-z_0-9]*\}", sql)
        assert not leftover, f"{name}: uninterpolated placeholders {leftover}"


def test_heavy_tier_names_exist():
    """Every conftest HEAVY_FILES/HEAVY_TESTS entry names a test that
    exists. A renamed heavy test otherwise drops silently into the
    default tier, and its old entry stays behind doing nothing."""
    import ast
    import os

    from mysqldatasynctool_spark.operators import collect_registry
    from tests.conftest import HEAVY_FILES, HEAVY_TESTS

    here = os.path.dirname(os.path.abspath(__file__))
    queries, _ = collect_registry()
    defs: dict = {}

    def functions(fname):
        if fname not in defs:
            path = os.path.join(here, fname)
            if not os.path.isfile(path):
                defs[fname] = None
            else:
                with open(path) as f:
                    tree = ast.parse(f.read(), fname)
                defs[fname] = {
                    n.name for n in tree.body if isinstance(n, ast.FunctionDef)
                }
        return defs[fname]

    stale = [f for f in HEAVY_FILES if functions(f) is None]
    for entry in HEAVY_TESTS:
        fname, test = entry.split("::")
        func, _, param = test.partition("[")
        if func not in (functions(fname) or ()):
            stale.append(entry)
        elif func == "test_matches_oracle" and param[:-1] not in queries:
            stale.append(entry)
    assert not stale, f"stale heavy-tier entries: {sorted(stale)}"


def test_every_oracle_binds_in_duckdb(duck):
    """Every oracle parses, binds and plans in DuckDB over the sf0.001
    fixture views (``EXPLAIN``, no Spark, no execution). The oracles
    of the heavy-tier entries are otherwise only run in the heavy
    tier, so a broken splice of a shared SQL piece into one of them
    would pass the default tier."""
    import duckdb

    import __spark_entry__ as e

    duck.execute("SET schema 'sf0_001'")
    failed = {}
    for name, sql in sorted(e.oracle_sql().items()):
        try:
            duck.execute(f"EXPLAIN {sql}").fetchall()
        except duckdb.Error as exc:
            failed[name] = str(exc).splitlines()[0]
    assert not failed, failed
