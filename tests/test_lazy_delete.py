"""Lazy predicate tombstones (`delete_where(lazy=True)`): deletion at
metadata cost — the commit records the predicate plus the stats-pruned
dirs it applies to, reads filter those dirs, and `fold_masks` (or any
rewrite that retires the dirs) materializes later. The predicate-
tombstone analog of Delta's deletion vectors for the non-keyed case
(the reference leans on Delta DELETE semantics;
reference:odbc2deltalake/reader/spark_reader.py:329-350 owns the
writer-side mutations). This suite pins observational equivalence with
the eager rewrite path: same rows, same CDF, same lifecycle under
fold / DML / merge / append / restore / checkpoint / time travel."""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
import pytest

from odbc2deltalake_spark.tablestore import VersionedParquetTable


def _table(spark, tmp_path, n=300):
    """Three id-range append commits with id/grp stats."""
    t = VersionedParquetTable(tmp_path / f"t{uuid.uuid4().hex[:8]}")
    df = spark.createDataFrame(
        [(i, f"v{i}", i % 4) for i in range(n)], "id int, val string, grp int"
    )
    third = n // 3
    for lo, hi in ((0, third), (third, 2 * third), (2 * third, n)):
        t.write(
            df.filter((F.col("id") >= lo) & (F.col("id") < hi)),
            mode="append",
            stats_cols=["id", "grp"],
        )
    return t


def _ids(spark, t, version=None):
    return sorted(
        r["id"] for r in t.read(spark, version=version).collect()
    )


def test_lazy_delete_masks_rows_and_prunes_dirs(spark, tmp_path):
    t = _table(spark, tmp_path)
    s = t.delete_where(spark, ("id", "<", 50), lazy=True)
    # stats pruning: only the first range commit can match
    assert s["dirs_masked"] == 1 and s["dirs_kept"] == 2
    assert s["rows_deleted"] is None  # unknown by design (no scan ran)
    assert _ids(spark, t) == list(range(50, 300))
    # conjunction + a second mask over all dirs
    t.delete_where(spark, ("grp", "=", 2), lazy=True)
    assert _ids(spark, t) == [i for i in range(50, 300) if i % 4 != 2]
    assert len(t._state_at()["masks"]) == 2


def test_lazy_delete_null_predicate_keeps_rows(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "nulls")
    t.write(
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 30)], "id int, x int"
        ),
        mode="append",
    )
    t.delete_where(spark, ("x", ">", 5), lazy=True)
    # SQL DELETE: NULL predicate -> row kept
    assert _ids(spark, t) == [2]


def test_lazy_matches_eager_rows_and_cdf(spark, tmp_path):
    tl, te = _table(spark, tmp_path), _table(spark, tmp_path)
    v0 = tl.version()
    for pred in (("id", "<", 50), ("grp", "=", 2)):
        tl.delete_where(spark, pred, lazy=True)
        te.delete_where(spark, pred)

    def rows(t):
        return sorted(map(tuple, t.read(spark).collect()))

    assert rows(tl) == rows(te)

    def cdf(t):
        return sorted(
            (r["_change_type"], r["id"], r["val"], r["grp"])
            for r in t.read_changes_cdf(spark, from_version=v0).collect()
        )

    # the second mask must NOT re-emit rows the first already killed
    assert cdf(tl) == cdf(te)


def test_fold_masks_materializes_and_feed_skips(spark, tmp_path):
    t = _table(spark, tmp_path)
    v0 = t.version()
    t.delete_where(spark, ("id", "<", 50), lazy=True)
    before = _ids(spark, t)
    cdf_before = t.read_changes_cdf(spark, from_version=v0).count()
    v = t.fold_masks(spark)
    st = t._state_at()
    assert st["version"] == v and not st["masks"]
    assert _ids(spark, t) == before
    # rows-preserving: the fold contributes zero change rows
    assert (
        t.read_changes_cdf(spark, from_version=v0).count() == cdf_before
    )
    # and the adds-only feed skips it too (after re-baselining past the
    # mask commit itself)
    assert t.read_changes(spark, from_version=v).count() == 0
    assert t.fold_masks(spark) == v  # no-op on an empty chain


def test_append_after_mask_is_not_masked(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.delete_where(spark, ("grp", "=", 2), lazy=True)
    t.write(
        spark.createDataFrame([(2, "back", 2)], "id int, val string, grp int"),
        mode="append",
    )
    # the masked dir lost its grp=2 rows; the NEW row survives (masks
    # are per dir: only rows present at mask time are dead)
    got = t.read(spark).filter("grp = 2").collect()
    assert [(r["id"], r["val"]) for r in got] == [(2, "back")]


def test_time_travel_restore_checkpoint_carry_masks(spark, tmp_path):
    t = _table(spark, tmp_path)
    v0 = t.version()
    v1 = t.delete_where(spark, ("id", "<", 50), lazy=True)["version"]
    masked = _ids(spark, t)
    assert len(_ids(spark, t, version=v0)) == 300
    assert _ids(spark, t, version=v1) == masked
    t.write(
        spark.createDataFrame([(999, "x", 0)], "id int, val string, grp int"),
        mode="append",
    )
    t.restore(v1)
    assert _ids(spark, t) == masked
    assert len(t._state_at()["masks"]) == 1
    t.checkpoint()
    st = t._state_at(use_checkpoint=True)
    assert len(st["masks"]) == 1 and _ids(spark, t) == masked


def test_eager_dml_and_partial_compact_fold_first(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.delete_where(spark, ("id", "<", 50), lazy=True)
    out = t.update_where(spark, {"val": "'X'"}, ("id", ">=", 290))
    st = t._state_at()
    assert not st["masks"]  # DML materialized the chain first
    assert out["rows_updated"] == 10
    got = _ids(spark, t)
    assert got == list(range(50, 300))
    t2 = _table(spark, tmp_path)
    t2.delete_where(spark, ("id", "<", 50), lazy=True)
    t2.compact(spark, where=("id", "<", 150))
    assert not t2._state_at()["masks"]
    assert _ids(spark, t2) == list(range(50, 300))


def test_full_compact_clears_masks(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.delete_where(spark, ("grp", "=", 1), lazy=True)
    before = _ids(spark, t)
    t.compact(spark)
    st = t._state_at()
    assert not st["masks"] and _ids(spark, t) == before


def test_mask_chain_cap_folds(spark, tmp_path):
    t = _table(spark, tmp_path)
    cap = VersionedParquetTable.MASK_MAX_CHAIN
    for i in range(cap + 1):
        t.delete_where(spark, ("id", "=", i), lazy=True)
    st = t._state_at()
    # the (cap+1)-th lazy delete folded the chain first, then masked
    assert len(st["masks"]) == 1
    assert _ids(spark, t) == list(range(cap + 1, 300))


def test_lazy_delete_no_commit_when_provably_unmatched(spark, tmp_path):
    t = _table(spark, tmp_path)
    v0 = t.version()
    s = t.delete_where(spark, ("id", ">", 10_000), lazy=True)
    assert s["version"] == v0 and s["dirs_masked"] == 0
    assert not t._state_at()["masks"]


def test_count_rows_exact_on_masked_table(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.delete_where(spark, ("grp", "=", 0), lazy=True)
    exp = sum(1 for i in range(300) if i % 4 != 0)
    assert t.count_rows(spark) == exp
    t.fold_masks(spark)
    assert t.count_rows(spark) == exp


def test_mask_on_bucketized_table_with_merge_after(spark, tmp_path):
    # masks compose with the merge engine: a rewrite merge retires the
    # masked rows in the buckets it touches, the mask keeps filtering
    # the untouched ones, and the merge CDF must not re-emit rows the
    # mask already deleted
    t = VersionedParquetTable(tmp_path / "bkt")
    df = spark.createDataFrame(
        [(i, i % 5) for i in range(200)], "id int, grp int"
    )
    t.merge_upsert(spark, df, ["id"])
    v0 = t.version()
    t.delete_where(spark, ("grp", "=", 3), lazy=True)
    up = spark.createDataFrame([(7, 99), (1000, 99)], "id int, grp int")
    t.merge_upsert(spark, up, ["id"])
    got = {r["id"]: r["grp"] for r in t.read(spark).collect()}
    assert 3 not in {g for g in got.values() if g != 99}
    assert got[7] == 99 and got[1000] == 99
    assert len(got) == 200 - 40 + 1  # 40 grp=3 rows dead, one insert
    ch = t.read_changes_cdf(spark, from_version=v0)
    kinds = sorted(
        (r["_change_type"], r["id"]) for r in ch.collect()
        if r["_change_type"] != "delete"
    )
    assert kinds == [
        ("insert", 1000),
        ("update_postimage", 7),
        ("update_preimage", 7),
    ]
    # deletes: exactly the 40 masked rows, each emitted ONCE (by the
    # mask commit; the merge that folded some of their dirs emits none)
    dels = [r["id"] for r in ch.collect() if r["_change_type"] == "delete"]
    assert sorted(dels) == [i for i in range(200) if i % 5 == 3]


def test_lazy_delete_folds_patches_first(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "pm")
    df = spark.createDataFrame(
        [(i, i % 5) for i in range(100)], "id int, grp int"
    )
    t.merge_upsert(spark, df, ["id"])
    up = spark.createDataFrame([(3, 77)], "id int, grp int")
    t.merge_upsert(spark, up, ["id"], strategy="patch")
    t.delete_where(spark, ("grp", "=", 77), lazy=True)
    st = t._state_at()
    assert not st["patches"]  # folded before masking
    got = {r["id"] for r in t.read(spark).collect()}
    assert 3 not in got and len(got) == 99


def test_read_changes_fold_over_mask_commits(spark, tmp_path):
    t = _table(spark, tmp_path)
    v0 = t.version()
    t.delete_where(spark, ("grp", "=", 1), lazy=True)
    t.delete_where(spark, ("id", "<", 20), lazy=True)
    adds, subs, cost = t.read_changes_fold(spark, from_version=v0)

    def agg(df, sign):
        return df.groupBy("grp").agg(
            (F.count(F.lit(1)) * sign).alias("n"),
            (F.coalesce(F.sum("id"), F.lit(0)) * sign).alias("s"),
        )

    base = agg(t.read(spark, version=v0), 1)
    folded = (
        base.unionByName(agg(adds, 1))
        .unionByName(agg(subs, -1))
        .groupBy("grp")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        .filter(F.col("n") > 0)
    )
    want = {
        r["grp"]: (r["n"], r["s"])
        for r in agg(t.read(spark), 1).collect()
    }
    got = {r["grp"]: (r["n"], r["s"]) for r in folded.collect()}
    assert got == want


def test_vacuum_lifecycle_with_masks(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.delete_where(spark, ("id", "<", 50), lazy=True)
    before = _ids(spark, t)
    # masked dirs are still live: any-retention vacuum keeps them
    t.vacuum(retain_versions=1, orphan_min_age_seconds=0.0)
    assert _ids(spark, t) == before
    t.fold_masks(spark)
    removed = t.vacuum(retain_versions=1, orphan_min_age_seconds=0.0)
    assert removed and _ids(spark, t) == before


def test_lazy_requires_predicate(spark, tmp_path):
    t = _table(spark, tmp_path)
    with pytest.raises(ValueError, match="predicate"):
        t.delete_where(spark, [], lazy=True)

def test_materialized_aggregate_folds_lazy_deletes(spark, tmp_path):
    # a lazy delete on the landing table must flow into an incremental
    # view as exact retractions (read_changes_fold mask support) — the
    # view never recomputes from a table-sized scan just because a
    # metadata-only erasure landed
    from odbc2deltalake_spark.streaming import MaterializedAggregate

    t = _table(spark, tmp_path)
    mv = MaterializedAggregate(
        t,
        tmp_path / "view",
        group_cols=["grp"],
        aggs={"n": ("count", None), "s": ("sum", "id")},
    )
    mv.refresh(spark)
    t.delete_where(spark, ("grp", "=", 1), lazy=True)
    t.delete_where(spark, ("id", "<", 20), lazy=True)
    mv.refresh(spark)
    got = {r["grp"]: (r["n"], r["s"]) for r in mv.read(spark).collect()}
    want = {
        r["grp"]: (r["n"], r["s"])
        for r in t.read(spark)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
        .collect()
    }
    assert got == want and 1 not in got
    # and the view keeps folding appends afterwards
    t.write(
        spark.createDataFrame([(1000, "z", 2)], "id int, val string, grp int"),
        mode="append",
    )
    mv.refresh(spark)
    got2 = {r["grp"]: (r["n"], r["s"]) for r in mv.read(spark).collect()}
    assert got2[2] == (want[2][0] + 1, want[2][1] + 1000)

def test_materialized_join_retraction_folds_lazy_delete(spark, tmp_path):
    # a lazy delete on the FACT side of a keyed join view folds through
    # the CDF retraction path — no view overwrite, no fact snapshot read
    from odbc2deltalake_spark.streaming import MaterializedJoin

    a = VersionedParquetTable(tmp_path / "fact")
    b = VersionedParquetTable(tmp_path / "dim")
    mv = MaterializedJoin(
        a, b, tmp_path / "jview", on=["ck"],
        left_cols=["ok", "price"], right_cols=["seg"],
        left_key=["ok"],
    )
    a.write(
        spark.createDataFrame(
            [(o, o % 4, float(o)) for o in range(20)],
            "ok long, ck long, price double",
        ),
        mode="append",
        stats_cols=["ok"],
    )
    b.write(
        spark.createDataFrame(
            [(c, f"s{c}") for c in range(4)], "ck long, seg string"
        ),
        mode="append",
    )
    mv.refresh(spark)
    base_view_v = mv.view.version()
    a.delete_where(spark, ("ok", "<", 5), lazy=True)
    orig = a.read
    a.read = lambda *x, **k: (_ for _ in ()).throw(
        AssertionError("fact snapshot read — retraction fold expected")
    )
    try:
        assert mv.refresh(spark) is not None
    finally:
        a.read = orig
    got = sorted(
        (r["ok"], r["ck"], r["price"], r["seg"])
        for r in mv.read(spark).collect()
    )
    want = sorted(
        (r["ok"], r["ck"], r["price"], r["seg"])
        for r in a.read(spark)
        .join(b.read(spark), on="ck")
        .select("ok", "ck", "price", "seg")
        .collect()
    )
    assert got == want and all(ok >= 5 for ok, *_ in got)
    import json as _json

    modes = [
        _json.loads(
            mv.view.backend.read_text(
                mv.view.backend.join(mv.view._commits_dir, name)
            )
        )["mode"]
        for name in mv.view._commit_names()
        if int(name.split(".")[0]) > base_view_v
    ]
    assert "overwrite" not in modes  # folded, never re-baselined

# ---------------------- lazy UPDATE masks (update_where(lazy=True)) -------

def test_lazy_update_transforms_and_matches_eager(spark, tmp_path):
    tl, te = _table(spark, tmp_path), _table(spark, tmp_path)
    v0 = tl.version()
    s = tl.update_where(
        spark, {"val": "concat(val, '!')", "grp": "grp + 10"},
        ("id", "<", 50), lazy=True,
    )
    assert s["dirs_masked"] == 1 and s["rows_updated"] is None
    te.update_where(
        spark, {"val": "concat(val, '!')", "grp": "grp + 10"},
        ("id", "<", 50),
    )

    def rows(t):
        return sorted(map(tuple, t.read(spark).collect()))

    assert rows(tl) == rows(te)

    def cdf(t):
        return sorted(
            (r["_change_type"], r["id"], r["val"], r["grp"])
            for r in t.read_changes_cdf(spark, from_version=v0).collect()
        )

    assert cdf(tl) == cdf(te)
    # non-matching rows untouched, matching transformed
    got = {r["id"]: (r["val"], r["grp"]) for r in tl.read(spark).collect()}
    assert got[0] == ("v0!", 10) and got[100] == ("v100", 0)


def test_lazy_update_stats_invalidation_read_path(spark, tmp_path):
    # the update mask pushes grp beyond its recorded [0,3] interval; a
    # skip_where read on grp must STILL return the transformed rows
    # (pruning ignores stats on SET columns for masked dirs)
    t = _table(spark, tmp_path)
    t.update_where(spark, {"grp": "99"}, ("id", "<", 10), lazy=True)
    hits = t.read(spark, skip_where=("grp", ">=", 99)).collect()
    assert sorted(r["id"] for r in hits) == list(range(10))


def test_lazy_delete_sees_through_prior_lazy_update(spark, tmp_path):
    # dir A's stats say grp<=3; an update mask sets grp=9 there; a later
    # lazy DELETE on grp=9 must re-classify dir A as a candidate (the
    # rescue path) and actually kill the transformed rows
    t = _table(spark, tmp_path)
    t.update_where(spark, {"grp": "9"}, ("id", "<", 10), lazy=True)
    s = t.delete_where(spark, ("grp", "=", 9), lazy=True)
    assert s["dirs_masked"] >= 1
    assert _ids(spark, t) == list(range(10, 300))


def test_lazy_masks_compose_sequentially(spark, tmp_path):
    # update -> delete -> update, all lazy: version order is the
    # semantics (the second update must not resurrect deleted rows and
    # must see the first update's values)
    t = _table(spark, tmp_path)
    t.update_where(spark, {"grp": "grp + 100"}, ("id", "<", 20), lazy=True)
    t.delete_where(spark, ("id", "<", 10), lazy=True)
    t.update_where(spark, {"grp": "grp * 2"}, ("grp", ">=", 100), lazy=True)
    got = {r["id"]: r["grp"] for r in t.read(spark).collect()}
    assert min(got) == 10
    assert got[15] == (15 % 4 + 100) * 2 and got[25] == 25 % 4
    # fold materializes the same values
    before = sorted(got.items())
    t.fold_masks(spark)
    after = sorted(
        (r["id"], r["grp"]) for r in t.read(spark).collect()
    )
    assert after == before and not t._state_at()["masks"]


def test_count_rows_metadata_fast_with_update_only_masks(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "cnt")
    df = spark.createDataFrame(
        [(i, i % 5) for i in range(100)], "id int, grp int"
    )
    t.merge_upsert(spark, df, ["id"])
    t.update_where(spark, {"grp": "grp + 1"}, ("id", "<", 10), lazy=True)
    # update-only chain: counts still answer from commit metadata
    assert t.count_rows(spark) == 100
    t.delete_where(spark, ("id", "=", 0), lazy=True)
    assert t.count_rows(spark) == 99  # tombstone forces the scan


def test_lazy_update_validations(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "val")
    df = spark.createDataFrame(
        [(i, i % 5) for i in range(50)], "id int, grp int"
    )
    t.merge_upsert(spark, df, ["id"])
    with pytest.raises(ValueError, match="bucket key"):
        t.update_where(spark, {"id": "id + 1"}, ("grp", "=", 0), lazy=True)
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where(spark, {"nope": "1"}, ("grp", "=", 0), lazy=True)
    with pytest.raises(ValueError, match="SQL-text"):
        t.update_where(
            spark, {"grp": F.col("grp") + 1}, ("grp", "=", 0), lazy=True
        )
    t.set_check_constraint(spark, "g", ("grp", ">=", 0))
    with pytest.raises(ValueError, match="CHECK constraints"):
        t.update_where(spark, {"grp": "grp + 1"}, ("id", "<", 5), lazy=True)


def test_mv_folds_lazy_update(spark, tmp_path):
    from odbc2deltalake_spark.streaming import MaterializedAggregate

    t = _table(spark, tmp_path)
    mv = MaterializedAggregate(
        t, tmp_path / "uview", group_cols=["grp"],
        aggs={"n": ("count", None), "s": ("sum", "id")},
    )
    mv.refresh(spark)
    t.update_where(spark, {"grp": "grp + 50"}, ("id", "<", 30), lazy=True)
    mv.refresh(spark)
    want = {
        r["grp"]: (r["n"], r["s"])
        for r in t.read(spark)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
        .collect()
    }
    got = {r["grp"]: (r["n"], r["s"]) for r in mv.read(spark).collect()}
    assert got == want and 50 in got

def test_schema_widening_after_masks(spark, tmp_path):
    # an appended commit with a NEW column lands after two masks: old
    # dirs still filter/transform through the masks (their predicate
    # columns exist), the new column reads NULL for them, and the new
    # dir is untouched by the masks
    t = _table(spark, tmp_path)
    t.delete_where(spark, ("id", "<", 50), lazy=True)
    t.update_where(spark, {"grp": "grp + 100"}, ("id", ">=", 290), lazy=True)
    t.write(
        spark.createDataFrame(
            [(1000, "wide", 0, "extra")],
            "id int, val string, grp int, note string",
        ),
        mode="append",
        merge_schema=True,
    )
    got = {r["id"]: (r["grp"], r["note"]) for r in t.read(spark).collect()}
    assert min(got) == 50  # tombstone mask still applies to old dirs
    assert got[295] == (295 % 4 + 100, None)  # update mask + NULL widening
    assert got[1000] == (0, "extra")
    t.fold_masks(spark)
    got2 = {r["id"]: (r["grp"], r["note"]) for r in t.read(spark).collect()}
    assert got2 == got


def test_retention_lifecycle_with_deferred_mutations(spark, tmp_path):
    # the full maintenance composition over patches AND masks: checkpoint
    # at a deferred-mutation version, truncate the log below it, vacuum,
    # time travel inside the retention window, and an aggregate view
    # tailing through the whole thing without recomputing wrongly
    from odbc2deltalake_spark.streaming import MaterializedAggregate
    from odbc2deltalake_spark.tablestore import ChangeFeedTruncatedError
    import pytest as _pytest

    t = VersionedParquetTable(tmp_path / "life")
    df = spark.createDataFrame(
        [(i, i % 5) for i in range(200)], "id int, grp int"
    )
    t.merge_upsert(spark, df, ["id"])
    mv = MaterializedAggregate(
        t, tmp_path / "lview", group_cols=["grp"],
        aggs={"n": ("count", None), "s": ("sum", "id")},
    )
    mv.refresh(spark)
    # deferred mutations: a lazy delete FIRST (a lazy op folds any
    # outstanding patch chain by design), then patch upsert + delete, so
    # BOTH chains are outstanding at the checkpoint version
    t.delete_where(spark, ("grp", "=", 3), lazy=True)
    t.merge_upsert(
        spark,
        spark.createDataFrame([(0, 77), (500, 77)], "id int, grp int"),
        ["id"], strategy="patch",
    )
    t.merge_delete_keys(
        spark, spark.createDataFrame([(1,)], "id int"), ["id"],
        strategy="patch",
    )
    mv.refresh(spark)  # folds through mask retractions + patch CDF

    def check_view():
        want = {
            r["grp"]: (r["n"], r["s"])
            for r in t.read(spark)
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
            .collect()
        }
        got = {r["grp"]: (r["n"], r["s"]) for r in mv.read(spark).collect()}
        assert got == want

    check_view()
    v_mid = t.version()
    # checkpoint the deferred state, then more history, then truncate
    t.checkpoint(v_mid)
    t.fold_patches(spark)
    t.fold_masks(spark)
    t.checkpoint()
    mv.refresh(spark)  # folds (rows-preserving commits skip)
    check_view()
    t.truncate_log(v_mid)
    # state at v_mid replays from its checkpoint, chains intact
    stm = t._state_at(v_mid)
    assert stm["patches"] and stm["masks"]
    n_mid = t.read(spark, version=v_mid).count()
    assert n_mid == t.read(spark).count()  # folds were rows-preserving
    # a cursor below the truncation point re-baselines loudly
    with _pytest.raises(ChangeFeedTruncatedError):
        t.read_changes_cdf(spark, from_version=0)
    # vacuum with retention covering v_mid keeps every needed dir
    t.vacuum(
        retain_versions=t.version() - v_mid + 1,
        orphan_min_age_seconds=0.0,
    )
    assert t.read(spark, version=v_mid).count() == n_mid
    # tight retention reclaims the superseded patch/mask dirs; head reads
    # and the view keep working
    t.vacuum(retain_versions=1, orphan_min_age_seconds=0.0)
    check_view()
    t.write(
        spark.createDataFrame([(600, 1)], "id int, grp int"),
        mode="append",
    )
    mv.refresh(spark)
    check_view()


def test_fold_masks_preserves_prior_stats_cols(spark, tmp_path):
    # ADVICE r8 (low): fold_masks recomputed footer stats only for the
    # mask-predicate columns, discarding each dir's write-time stats —
    # skip_where pruning on those columns degraded after every fold.
    # The rewritten entries must carry stats for the UNION of the mask
    # columns and the replaced dir's previously recorded stats columns.
    t = _table(spark, tmp_path)  # dirs have id+grp stats
    t.delete_where(spark, ("val", "=", "v1"), lazy=True)  # mask col: val
    t.fold_masks(spark)
    st = t._state_at()
    assert not st["masks"]
    rewritten = [d for d in st["dirs"] if d["dir"].startswith(f"d{st['version']:010d}")]
    assert rewritten, "fold should have rewritten the masked dirs"
    for d in rewritten:
        cols = {c for s in (d.get("stats") or {}).values() for c in s}
        assert {"id", "grp"} <= cols, f"lost write-time stats: {cols}"
    # and pruning still works: an id range fully outside one rewritten
    # dir's interval must exclude it from the scan set
    got = sorted(
        r["id"]
        for r in t.read(spark, skip_where=("id", "<", 100)).collect()
    )
    assert got == [i for i in range(100) if i != 1]


def test_lazy_mask_on_patched_table_folds_first_and_is_exact(spark, tmp_path):
    """VERDICT r8 #4 — the patch x mask seam. A mask is per-DIR over the
    reconciled state, and a per-dir 'fence by patch version' is UNSOUND:
    base k val=5 (mask predicate does not match), patch upserts k val=10
    (matches), mask deletes val=10 — fencing would filter the patch row,
    drop k from the patch key set, and RESURFACE the base val=5 row.
    The pinned semantics: a lazy mutation on a patched table force-folds
    the chain first (cost measured in SCALE.md), then masks the folded
    dirs; correctness is identical to eager DML."""
    import uuid as _uuid

    t = VersionedParquetTable(tmp_path / f"t{_uuid.uuid4().hex[:8]}")
    df = spark.createDataFrame(
        [(i, 5, f"v{i}") for i in range(200)], "id int, val int, s string"
    )
    t.merge_upsert(spark, df, ["id"])
    # patch flips id 0's val INTO the future mask's predicate and id 1's
    # OUT of it (id 1 starts at 5 too, goes to 99)
    up = spark.createDataFrame(
        [(0, 10, "p0"), (1, 99, "p1")], "id int, val int, s string"
    )
    t.merge_upsert(spark, up, ["id"], strategy="patch")
    assert t._state_at()["patches"]
    out = t.delete_where(spark, ("val", "=", 10), lazy=True)
    st = t._state_at()
    assert not st["patches"], "lazy mask must fold the chain first"
    got = {r["id"]: (r["val"], r["s"]) for r in t.read(spark).collect()}
    # id 0: patch value matched the delete -> the KEY is gone entirely
    # (no resurfacing of the base val=5 row)
    assert 0 not in got
    # id 1: patch moved it out of the predicate -> patched value survives
    assert got[1] == (99, "p1")
    assert len(got) == 199
    # and the change feed across patch -> fold -> mask emits each change
    # exactly once: id0 5->10 (patch), id1 5->99 (patch), id0 delete(10)
    rows = t.read_changes_cdf(spark, from_version=0).collect()
    ev = sorted((r["_change_type"], r["id"], r["val"]) for r in rows)
    assert ev == [
        ("delete", 0, 10),
        ("update_postimage", 0, 10),
        ("update_postimage", 1, 99),
        ("update_preimage", 0, 5),
        ("update_preimage", 1, 5),
    ]
    assert out["dirs_masked"] >= 1


def test_patch_after_mask_upsert_beats_older_tombstone(spark, tmp_path):
    """The reverse order needs NO fold: a patch landing on a masked
    table overlays the mask (patch dirs are not named by older masks),
    so a re-upsert of a lazily-deleted key resurrects it — SQL MERGE
    semantics, same as the rewrite path."""
    import uuid as _uuid

    t = VersionedParquetTable(tmp_path / f"t{_uuid.uuid4().hex[:8]}")
    df = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(90)], "id int, grp int, s string"
    )
    t.merge_upsert(spark, df, ["id"])
    t.delete_where(spark, ("grp", "=", 1), lazy=True)
    assert t.read(spark).count() == 60
    back = spark.createDataFrame([(1, 1, "back")], "id int, grp int, s string")
    t.merge_upsert(spark, back, ["id"], strategy="patch")
    st = t._state_at()
    assert st["patches"] and st["masks"], "no fold needed in this order"
    got = {r["id"]: r["s"] for r in t.read(spark).collect()}
    assert got[1] == "back" and len(got) == 61
