"""Driver-contract invariants on __spark_entry__ that do not need a
SparkSession: dict shape, oracle coverage, and the 50-slot window (the
correctness gate hash-checks only the FIRST 50 queries() entries, and
queries() orders itself oldest-green-first from the recorded verdicts,
so these tests pin that every entry keeps fresh evidence)."""

import __spark_entry__ as entry_mod


def test_every_query_has_an_oracle():
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    missing = [name for name in qs if name not in osql]
    assert not missing, f"queries without oracle_sql: {missing}"
    stray = [name for name in osql if name not in qs]
    assert not stray, f"oracle_sql without queries: {stray}"


# Retired in round 9 (r8 verdict #2): the exact_sums audit twins are now
# IN the window earning their first driver hash rows under their own
# names.  Kept as an (empty) escape hatch so a future documented
# exception has a single place to live.
BELOW_CAP_AUDIT_TWINS: set[str] = set()


def test_rotation_window_covers_every_unchecked_query():
    # Any query that has NEVER passed the driver gate must sit inside
    # the first-50 window, or it can never earn a driver hash row.
    names = list(entry_mod.queries().keys())
    if len(names) <= 50:
        return
    checked = set(entry_mod.green_rounds()[0]) | BELOW_CAP_AUDIT_TWINS
    outside = [q for q in names[50:] if q not in checked]
    assert not outside, (
        f"never-driver-checked queries OUTSIDE the 50-slot window: "
        f"{outside} — queries() orders itself from the verdict files, so "
        f"fold or retire entries until it has at most 100, or land another "
        f"verdict round"
    )


def test_registry_keys_unique_in_source():
    # The driver-gate contract hangs on dict order, and a duplicate key
    # literal silently keeps only the FIRST position — a future duplicate
    # of a below-cap query would evict a checked slot while the source
    # still appears to list it (r5 advice: the stray second
    # "media_image_png" literal).  The built dict hides duplicates, so
    # parse the queries() source literal itself.
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


def test_max_staleness_of_below_cap_queries():
    # Max-staleness contract (r7 verdict #1: 45 queries silently aged to
    # three-rounds-stale because the window never rotated).  Every query
    # OUTSIDE the 50-slot window must have a hash-green driver row within
    # the last 2 recorded rounds — it will be at most 3 rounds old when
    # the upcoming round's file lands — so each round's ordering is FORCED
    # to rotate the oldest evidence back into the window.  Queries with no
    # green row at all are tier-0 material and must be in-window (covered
    # by test_rotation_window_covers_every_unchecked_query; the exact_sums
    # audit twins are the one documented exception).
    names = list(entry_mod.queries().keys())
    if len(names) <= 50:
        return
    last, newest = entry_mod.green_rounds()
    stale = [
        f"{q} (last green r{last[q]})"
        for q in names[50:]
        if q in last and last[q] < newest - 2
    ]
    assert not stale, (
        f"below-cap queries more than 2 recorded rounds stale vs r{newest}: "
        f"{stale} — queries() orders itself from the verdict files, so fold "
        f"or retire entries until it has at most 100, or land another "
        f"verdict round"
    )


def test_next_landing_leaves_no_below_cap_query_stale():
    # The registry must stay checkable whole every other round, not just
    # today: simulate the next verdict file greening the first 50 entries
    # at newest + 1, then hold every entry outside the window to the
    # 2-round staleness bound against that new newest round.  With more
    # than 100 entries, or entries whose evidence ages together, some
    # fall out of the bound whatever the order.
    names = list(entry_mod.queries().keys())
    last, newest = entry_mod.green_rounds()
    landed = newest + 1
    last.update({q: landed for q in names[:50]})
    stale = [
        f"{q} (last green r{last.get(q, 0)})"
        for q in names[50:]
        if last.get(q, 0) < landed - 2
    ]
    assert not stale, (
        f"below-cap queries more than 2 rounds stale once r{landed} lands: "
        f"{stale}"
    )
