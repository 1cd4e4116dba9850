"""Property tests for the merge/load layer (SURVEY.md §5): idempotence
(merge(merge(T,B),B) == merge(T,B)), anti-join disjointness, and
selective-update semantics."""

from __future__ import annotations

from comix_etl_spark.operators import merge as M


def _counts(df):
    return sorted(tuple(r) for r in df.collect())


def test_insert_if_absent_idempotent(spark):
    existing = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    batch = spark.createDataFrame([(2, "B"), (3, "c"), (3, "c2")], "k int, v string")
    once = M.insert_if_absent(existing, batch, ["k"])
    twice = M.insert_if_absent(once, batch, ["k"])
    assert _counts(once) == _counts(twice)
    rows = dict((r.k, r.v) for r in once.collect())
    assert rows[2] == "b"  # existing wins — skip-if-present semantics
    assert set(rows) == {1, 2, 3}


def test_upsert_selective_updates_only_listed_columns(spark):
    existing = spark.createDataFrame(
        [(1, "t1", 100, "keep"), (2, "t2", 200, "keep")],
        "k int, title string, price int, note string",
    )
    batch = spark.createDataFrame(
        [(2, "t2-new", 999, "clobber"), (3, "t3", 300, "new")],
        "k int, title string, price int, note string",
    )
    merged = M.upsert_selective(existing, batch, ["k"], update_cols=["price"])
    rows = {r.k: r for r in merged.collect()}
    assert rows[2].price == 999          # updated (listed)
    assert rows[2].title == "t2"         # preserved (not listed)
    assert rows[2].note == "keep"
    assert rows[3].title == "t3"         # inserted rows take batch values
    assert rows[1].price == 100


def test_upsert_selective_idempotent(spark):
    existing = spark.createDataFrame([(1, "a", 1)], "k int, v string, p int")
    batch = spark.createDataFrame([(1, "a2", 2), (2, "b", 3)], "k int, v string, p int")
    once = M.upsert_selective(existing, batch, ["k"], update_cols=["p"])
    twice = M.upsert_selective(once, batch, ["k"], update_cols=["p"])
    assert _counts(once) == _counts(twice)


def test_upsert_selective_null_batch_value_keeps_existing(spark):
    existing = spark.createDataFrame([(1, 5)], "k int, p int")
    batch = spark.createDataFrame([(1, None)], "k int, p int")
    merged = M.upsert_selective(existing, batch, ["k"], update_cols=["p"])
    assert merged.collect()[0].p == 5  # coalesce(new, old): null doesn't clobber


def test_backfill_if_null(spark):
    existing = spark.createDataFrame([(1, None), (2, 20)], "k int, fk int")
    patch = spark.createDataFrame([(1, 10), (2, 99)], "k int, fk int")
    out = {r.k: r.fk for r in M.backfill_if_null(existing, patch, ["k"], "fk").collect()}
    assert out == {1: 10, 2: 20}  # only the NULL was filled


def test_dedup_batch_last_writer_wins(spark):
    batch = spark.createDataFrame(
        [(1, "old", 1), (1, "new", 2)], "k int, v string, version int")
    out = M.dedup_batch(batch, ["k"], order_by=["version"]).collect()
    assert len(out) == 1 and out[0].v == "new"


def test_snapshot_diff_identity_is_empty(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, None, 30)],
        "k long, s string, v int")
    assert M.snapshot_diff(df, df, ["k"], ["s", "v"]).count() == 0


def test_snapshot_diff_classifies_and_reconstructs(spark):
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        "k long, s string, v int")
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (3, "c", 33), (5, "e", 50)],
        "k long, s string, v int")
    diff = {r.k: r for r in M.snapshot_diff(old, new, ["k"], ["s", "v"]).collect()}
    assert diff[2].op == "U" and diff[2].new_s == "B"
    assert diff[3].op == "U" and diff[3].old_v is None and diff[3].new_v == 33
    assert diff[4].op == "D"
    assert diff[5].op == "I" and diff[5].old_s is None
    assert 1 not in diff  # unchanged rows dropped
    # applying the change set to old reconstructs new exactly
    applied = {}
    for r in old.collect():
        applied[r.k] = (r.s, r.v)
    for k, r in diff.items():
        if r.op == "D":
            applied.pop(k)
        else:
            applied[k] = (r.new_s, r.new_v)
    expect = {r.k: (r.s, r.v) for r in new.collect()}
    assert applied == expect


def _scd2_fixture(spark):
    cur = spark.createDataFrame(
        [(1, "a", None, None, True), (2, "b", None, None, True)],
        "k long, v string, valid_from date, valid_to date, is_current boolean")
    import datetime as dt

    batch = spark.createDataFrame(
        [(1, "a2", dt.date(2024, 1, 1)),   # changed -> version
         (2, "b", dt.date(2024, 1, 1)),    # unchanged -> no-op
         (3, "c", dt.date(2024, 1, 1))],   # new key -> insert
        "k long, v string, eff_date date")
    return cur, batch


def test_scd2_versions_close_and_open(spark):
    import datetime as dt

    cur, batch = _scd2_fixture(spark)
    out = M.scd2_apply(cur, batch, ["k"], ["v"]).collect()
    rows = {(r.k, r.v): r for r in out}
    assert len(out) == 4
    closed = rows[(1, "a")]
    assert not closed.is_current and closed.valid_to == dt.date(2024, 1, 1)
    opened = rows[(1, "a2")]
    assert opened.is_current and opened.valid_from == dt.date(2024, 1, 1) and opened.valid_to is None
    assert rows[(2, "b")].is_current          # unchanged row untouched
    assert rows[(3, "c")].is_current          # first version for new key
    # exactly one current row per key, never overlapping validity
    per_key = {}
    for r in out:
        per_key.setdefault(r.k, []).append(r)
    for k, versions in per_key.items():
        assert sum(1 for r in versions if r.is_current) == 1


def test_scd2_reapply_is_idempotent(spark):
    cur, batch = _scd2_fixture(spark)
    once = M.scd2_apply(cur, batch, ["k"], ["v"])
    twice = M.scd2_apply(once, batch, ["k"], ["v"])
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b  # same batch again adds no versions


def test_dedup_batch_tiebreak_distinguishes_null_empty_and_separator(spark):
    """ADVICE r7: the tie-break hash must not collide NULL with '' or
    'a\\x1fb' with ('a','b') — in a tie on order_by, those collisions
    made the winner partition-order-dependent again. With length-prefix
    tagging the winner is pinned regardless of input order."""
    rows_fwd = [(1, 1, None, "x"), (1, 1, "", "x")]
    winners = set()
    for rows in (rows_fwd, rows_fwd[::-1]):
        batch = spark.createDataFrame(
            rows, "k int, version int, a string, b string").repartition(4)
        out = M.dedup_batch(batch, ["k"], order_by=["version"]).collect()
        assert len(out) == 1
        winners.add(out[0].a)
    assert len(winners) == 1  # same winner both input orders

    # separator-collision pair: ('a\x1fb', '') vs ('a', 'b') must also
    # resolve identically under either input order
    sep_rows = [(1, 1, "a\x1fb", ""), (1, 1, "a", "b")]
    winners = set()
    for rows in (sep_rows, sep_rows[::-1]):
        batch = spark.createDataFrame(
            rows, "k int, version int, a string, b string").repartition(4)
        out = M.dedup_batch(batch, ["k"], order_by=["version"]).collect()
        winners.add((out[0].a, out[0].b))
    assert len(winners) == 1, winners
