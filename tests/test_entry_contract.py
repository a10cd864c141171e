"""Driver-contract invariants on __spark_entry__ that do not need a
SparkSession: dict shape, oracle coverage, and the registry's size (the
correctness gate hash-checks the first 50 queries() entries each round,
so every entry is checked every round only while there are at most 50)."""

import __spark_entry__ as entry_mod


def test_every_query_has_an_oracle():
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    missing = [name for name in qs if name not in osql]
    assert not missing, f"queries without oracle_sql: {missing}"
    stray = [name for name in osql if name not in qs]
    assert not stray, f"oracle_sql without queries: {stray}"


def test_registry_fits_the_gate_window():
    n = len(entry_mod.queries())
    assert n <= 50, (
        f"queries() has {n} entries, but the correctness gate checks only "
        f"the first 50 each round — fold same-capability entries into one "
        f"_slot as path branches, or retire an entry"
    )


def test_registry_keys_unique_in_source():
    # A duplicate key literal silently keeps only its LAST value, so an
    # entry would vanish from the registry while the source still
    # appears to list it (r5 advice: the stray second "media_image_png"
    # literal).  The built dict hides duplicates, so parse the queries()
    # source literal itself.
    import ast
    import inspect

    src = inspect.getsource(entry_mod.queries)
    tree = ast.parse(src.lstrip())
    dicts = [n for n in ast.walk(tree) if isinstance(n, ast.Dict)]
    assert dicts, "queries() no longer returns a dict literal"
    keys = [
        k.value
        for d in dicts
        for k in d.keys
        if isinstance(k, ast.Constant) and isinstance(k.value, str)
    ]
    dupes = sorted({k for k in keys if keys.count(k) > 1})
    assert not dupes, f"duplicate string keys in queries() literal: {dupes}"
    assert len(keys) == len(entry_mod.queries()), (
        "key-literal count != built dict size — a duplicate or computed "
        "key slipped into queries()"
    )
