"""CDC patch operators: compact delta classification (I/U/D, NULL-safe,
churn-proportional output) and the apply-delta roundtrip identity."""

from __future__ import annotations

import pyspark.sql.functions as F

from checkatron_spark.operators.patch import apply_delta, compact_delta

KEYS = ["k"]
VALS = ["status", "bal"]


def _before(spark):
    rows = [
        (1, "ACTIVE", 100.0),   # unchanged
        (2, "ACTIVE", 200.0),   # value change
        (3, "CLOSED", 300.0),   # deleted
        (4, None, 400.0),       # NULL -> value (change)
        (5, "ACTIVE", None),    # NULL unchanged (no-op)
    ]
    return spark.createDataFrame(rows, "k int, status string, bal double")


def _after(spark):
    rows = [
        (1, "ACTIVE", 100.0),
        (2, "ACTIVE", 250.0),
        (4, "FROZEN", 400.0),
        (5, "ACTIVE", None),
        (6, "ACTIVE", 600.0),   # insert
    ]
    return spark.createDataFrame(rows, "k int, status string, bal double")


def test_compact_delta_classifies_ops(spark):
    delta = compact_delta(_before(spark), _after(spark), KEYS, VALS)
    got = {r["k"]: (r["_op"], r["status"], r["bal"]) for r in delta.collect()}
    # unchanged keys (1, 5) emit nothing: output is proportional to churn
    assert got == {
        2: ("U", "ACTIVE", 250.0),
        3: ("D", "CLOSED", 300.0),   # delete carries the before-image
        4: ("U", "FROZEN", 400.0),
        6: ("I", "ACTIVE", 600.0),
    }


def test_apply_delta_roundtrip_identity(spark):
    b, a = _before(spark), _after(spark)
    delta = compact_delta(b, a, KEYS, VALS)
    rebuilt = apply_delta(b, delta, KEYS, VALS)
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, a.collect())
    )


def test_empty_delta_is_identity(spark):
    b = _before(spark)
    delta = compact_delta(b, b, KEYS, VALS)
    assert delta.count() == 0
    rebuilt = apply_delta(b, delta, KEYS, VALS)
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, b.collect())
    )


def test_null_key_rows_pair_null_safely(spark):
    b = spark.createDataFrame(
        [(None, "X", 1.0), (1, "Y", 2.0)], "k int, status string, bal double"
    )
    a = spark.createDataFrame(
        [(None, "X2", 1.0), (1, "Y", 2.0)], "k int, status string, bal double"
    )
    delta = compact_delta(b, a, KEYS, VALS)
    rows = delta.collect()
    # the NULL key matches itself (eqNullSafe): one UPDATE, not a D+I pair
    assert [(r["_op"], r["k"], r["status"]) for r in rows] == [("U", None, "X2")]
    rebuilt = apply_delta(b, delta, KEYS, VALS)
    assert sorted(
        map(tuple, rebuilt.collect()), key=str
    ) == sorted(map(tuple, a.collect()), key=str)


def test_flagship_roundtrip_matches_after(spark):
    """sf0.001 end-to-end: rebuild the after snapshot from before + delta."""
    import os

    if not os.path.isdir("/root/testdata/sf0.001"):
        import pytest

        pytest.skip("driver parquet fixtures not available")
    from checkatron_spark import workloads as W

    sf = "/root/testdata/sf0.001"
    rebuilt = W.apply_delta_roundtrip(spark, sf)
    after = W.orders_after(spark, sf).select(
        "o_orderkey", *W.DELTA_VALUE_COLS
    )
    assert rebuilt.exceptAll(after).count() == 0
    assert after.exceptAll(rebuilt).count() == 0
    # churn-proportional: flips hit ~1/11 + ~1/13 of keys, drops ~1/19 +
    # ~1/23 — the delta must stay well under half the snapshot
    delta_n = W.delta_compact_orders(spark, sf).count()
    assert 0 < delta_n < after.count() * 0.5


def test_streaming_patch_apply_matches_batch(spark):
    """apply_delta_stream over a multi-batch feed converges to the same
    snapshot as the batch apply_delta."""
    import os
    import shutil
    import tempfile

    import pytest

    if not os.path.isdir("/root/testdata/sf0.001"):
        pytest.skip("driver parquet fixtures not available")
    from checkatron_spark import workloads as W
    from checkatron_spark.streaming import apply_delta_stream

    sf = "/root/testdata/sf0.001"
    cols = ["o_orderkey"] + W.DELTA_VALUE_COLS
    base = W.orders_before(spark, sf).select(*cols)
    delta = W.delta_compact_orders(spark, sf)
    work = tempfile.mkdtemp(prefix="test_stream_patch_")
    try:
        delta.repartition(3).write.mode("overwrite").parquet(f"{work}/feed")
        sdf = (
            spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{work}/feed")
        )
        out = apply_delta_stream(
            sdf, base, ["o_orderkey"], W.DELTA_VALUE_COLS,
            state_dir=f"{work}/state",
        )
        expected = W.orders_after(spark, sf).select(*cols)
        assert out.exceptAll(expected).count() == 0
        assert expected.exceptAll(out).count() == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_compose_deltas_op_algebra(spark):
    """All pairwise op compositions, including cancellation and revival."""
    from checkatron_spark.operators.patch import compose_deltas

    d1 = spark.createDataFrame(
        [
            ("I", 1, "a"),   # I then U -> I
            ("I", 2, "b"),   # I then D -> cancelled
            ("U", 3, "c"),   # U then U -> U
            ("U", 4, "d"),   # U then D -> D
            ("D", 5, "e"),   # D then I -> U (revival)
            ("U", 6, "f"),   # only in d1 -> passes through
        ],
        "_op string, k int, v string",
    )
    d2 = spark.createDataFrame(
        [
            ("U", 1, "a2"),
            ("D", 2, "b2"),
            ("U", 3, "c2"),
            ("D", 4, "d2"),
            ("I", 5, "e2"),
            ("I", 7, "g"),   # only in d2 -> passes through
        ],
        "_op string, k int, v string",
    )
    got = {
        r["k"]: (r["_op"], r["v"])
        for r in compose_deltas(d1, d2, ["k"], ["v"]).collect()
    }
    assert got == {
        1: ("I", "a2"),
        3: ("U", "c2"),
        4: ("D", "d2"),
        5: ("U", "e2"),
        6: ("U", "f"),
        7: ("I", "g"),
    }


def test_compose_deltas_apply_equivalence(spark):
    """apply(s, compose(d1,d2)) == apply(apply(s,d1), d2) on the flagship
    3-state chain before -> orders -> after (sf0.001)."""
    import os

    import pytest

    if not os.path.isdir("/root/testdata/sf0.001"):
        pytest.skip("driver parquet fixtures not available")
    from checkatron_spark import workloads as W
    from checkatron_spark.operators.patch import (
        apply_delta,
        compact_delta,
        compose_deltas,
    )
    from checkatron_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    cols = ["o_orderkey"] + W.DELTA_VALUE_COLS
    before = W.orders_before(spark, sf).select(*cols)
    mid = load_table(spark, "orders", sf).select(*cols)
    after = W.orders_after(spark, sf).select(*cols)
    d1 = compact_delta(before, mid, ["o_orderkey"], W.DELTA_VALUE_COLS)
    d2 = compact_delta(mid, after, ["o_orderkey"], W.DELTA_VALUE_COLS)
    composed = compose_deltas(d1, d2, ["o_orderkey"], W.DELTA_VALUE_COLS)
    one_shot = apply_delta(before, composed, ["o_orderkey"], W.DELTA_VALUE_COLS)
    assert one_shot.exceptAll(after).count() == 0
    assert after.exceptAll(one_shot).count() == 0


def test_compact_log_keeps_latest_with_tombstones(spark):
    from checkatron_spark.operators.patch import compact_log

    log = spark.createDataFrame(
        [
            ("I", 1, "a", 1),
            ("U", 1, "a2", 2),
            ("U", 1, "a3", 3),   # latest for key 1
            ("I", 2, "b", 1),
            ("D", 2, None, 2),   # tombstone survives compaction
            ("I", 3, "c", 5),
        ],
        "_op string, k int, v string, _seq int",
    )
    got = {
        r["k"]: (r["_op"], r["v"])
        for r in compact_log(log, ["k"], ["_seq"]).collect()
    }
    assert got == {1: ("U", "a3"), 2: ("D", None), 3: ("I", "c")}


def test_compact_log_apply_equals_sequential_replay(spark):
    from checkatron_spark.operators.patch import apply_delta, compact_log

    base = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    log = spark.createDataFrame(
        [
            ("U", 1, "x2", 1),
            ("D", 2, "y", 1),
            ("I", 3, "z", 1),
            ("U", 1, "x3", 2),
            ("I", 2, "y2", 2),   # revival after delete
            ("D", 3, None, 2),   # insert then delete -> gone
        ],
        "_op string, k int, v string, _seq int",
    )
    d1 = log.filter("_seq = 1")
    d2 = log.filter("_seq = 2")
    sequential = apply_delta(
        apply_delta(base, d1, ["k"], ["v"]), d2, ["k"], ["v"]
    )
    one_shot = apply_delta(
        base, compact_log(log, ["k"], ["_seq"]), ["k"], ["v"]
    )
    assert sorted(map(tuple, one_shot.collect())) == sorted(
        map(tuple, sequential.collect())
    ) == [(1, "x3"), (2, "y2")]


def test_streaming_patch_io_proportional_to_churn(spark, tmp_path):
    """VERDICT r5 item 1 pin: the HOT path must append the batch's churn
    and read NOTHING; the compaction fold must read only the buckets the
    accumulated net delta hashes into — never the full snapshot. With a
    500-key base over 16 buckets and 3 single-key batches, the final
    compaction touches at most 3 buckets while ~16 stay live."""
    from checkatron_spark.streaming import apply_delta_stream

    base = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # 3 single-key deltas -> 3 micro-batches (maxFilesPerTrigger=1)
    delta = spark.createDataFrame(
        [("U", 7, 777), ("I", 1007, 42), ("D", 13, None)],
        "_op string, k bigint, v bigint",
    )
    feed = str(tmp_path / "feed")
    delta.repartition(3).write.parquet(feed)
    sdf = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    io_log: list = []
    out = apply_delta_stream(
        sdf, base, ["k"], ["v"],
        state_dir=str(tmp_path / "state"), n_buckets=16, io_log=io_log,
    )
    got = {r.k: r.v for r in out.collect()}
    want = {i: i * 2 for i in range(500) if i != 13}
    want[7], want[1007] = 777, 42
    assert got == want

    appends = [r for r in io_log if r["mode"] == "append"]
    compacts = [r for r in io_log if r["mode"] == "compact"]
    assert len(appends) == 3 and len(compacts) == 1
    for rec in appends:
        # the hot path is append-only: NOTHING of the snapshot is read
        assert rec["files_read"] == []
    c = compacts[0]
    # 3 keys -> at most 3 touched buckets out of ~16 live
    assert 1 <= len(c["touched"]) <= 3
    assert c["files_read"], "the fold reads its touched buckets"
    for f in c["files_read"]:
        assert any(f"_bucket={b}" in f for b in c["touched"]), f
    # the pruning is real: far more bucket files stay live than read
    assert len(c["files_read"]) < c["live_files"] / 4


def test_streaming_patch_delete_can_empty_bucket_and_snapshot(spark, tmp_path):
    """Edge: a delete that empties its bucket must drop the bucket from the
    manifest (no dangling path), down to an empty final snapshot."""
    from checkatron_spark.streaming import apply_delta_stream

    base = spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint")
    delta = spark.createDataFrame(
        [("D", 1, None), ("D", 2, None)], "_op string, k bigint, v bigint"
    )
    feed = str(tmp_path / "feed")
    delta.repartition(2).write.parquet(feed)
    sdf = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    out = apply_delta_stream(
        sdf, base, ["k"], ["v"],
        state_dir=str(tmp_path / "state"), n_buckets=4,
    )
    assert out.count() == 0 and out.columns == ["k", "v"]


def test_streaming_patch_midstream_compaction(spark, tmp_path):
    """compact_every below the batch count forces a MID-STREAM fold: the
    log must drain into the bucketed base during the run (not just at the
    final read), later appends must land on the compacted manifest, and
    the final snapshot must equal sequential application."""
    from checkatron_spark.streaming import apply_delta_stream

    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    delta = spark.createDataFrame(
        [("U", 1, 11), ("U", 2, 22), ("D", 3, None), ("I", 200, 42)],
        "_op string, k bigint, v bigint",
    )
    feed = str(tmp_path / "feed")
    delta.repartition(4).write.parquet(feed)
    sdf = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    io_log: list = []
    out = apply_delta_stream(
        sdf, base, ["k"], ["v"],
        state_dir=str(tmp_path / "state"), n_buckets=8,
        compact_every=2, io_log=io_log,
    )
    got = {r.k: r.v for r in out.collect()}
    want = {i: i * 3 for i in range(100) if i != 3}
    want[1], want[2], want[200] = 11, 22, 42
    assert got == want
    modes = [r["mode"] for r in io_log]
    # compact_every=2 forces a fold after every 2nd non-empty batch (the
    # 4-way repartition may hash two rows together, so 3 or 4 appends);
    # at least one fold must be MID-stream, i.e. before the last append,
    # and the pending log never exceeds compact_every
    assert modes.count("compact") >= 2
    assert "compact" in modes[: len(modes) - 1 - modes[::-1].index("append")]
    pending = 0
    for rec in io_log:
        if rec["mode"] == "append":
            assert rec["files_read"] == []
            pending += 1
            assert pending <= 2
        else:
            assert 1 <= len(rec["epochs"]) <= 2 and pending in (1, 2)
            pending = 0


def _delta_df(spark, rows):
    return spark.createDataFrame(rows, "_op string, k bigint, v bigint")


def test_lsm_store_kill_and_resume_matches_single_run(spark, tmp_path):
    """VERDICT r6 item 3: stop the CDC stream mid-feed, restart a NEW
    apply_delta_stream call from the same checkpoint + on-disk
    manifest/delta-log, drain the remaining feed — the final store must be
    bit-identical to applying the whole feed in one run. This is the
    weekly-restart path every production stream exercises."""
    from checkatron_spark.operators.patch import apply_delta
    from checkatron_spark.streaming import apply_delta_stream

    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # distinct keys across batches -> result independent of file order
    phase1 = [("U", 7, 777), ("I", 1007, 42), ("D", 13, None)]
    phase2 = [("U", 20, 2020), ("I", 1013, 99), ("D", 21, None)]
    feed = str(tmp_path / "feed")
    for row in phase1:
        _delta_df(spark, [row]).coalesce(1).write.mode("append").parquet(feed)
    schema = _delta_df(spark, phase1).schema
    state = str(tmp_path / "state")

    def _sdf():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )

    # run 1: drains ONLY phase1 (the feed has 3 files), then "dies"
    snap1 = apply_delta_stream(
        _sdf(), base, ["k"], ["v"], state_dir=state, n_buckets=8,
        compact_every=2,
    )
    got1 = {r.k: r.v for r in snap1.collect()}
    assert got1[7] == 777 and 1007 in got1 and 13 not in got1

    # more churn lands while the stream is down
    for row in phase2:
        _delta_df(spark, [row]).coalesce(1).write.mode("append").parquet(feed)

    # run 2: same state_dir -> recovers manifest from disk, checkpoint
    # skips the already-committed phase1 files, folds only phase2
    io_log: list = []
    snap2 = apply_delta_stream(
        _sdf(), base, ["k"], ["v"], state_dir=state, n_buckets=8,
        compact_every=2, io_log=io_log,
    )
    # resume proof: run 2 appended exactly the 3 phase2 batches
    assert len([r for r in io_log if r["mode"] == "append"]) == 3

    want = apply_delta(
        base, _delta_df(spark, phase1 + phase2), ["k"], ["v"]
    )
    assert sorted(map(tuple, snap2.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_lsm_store_recovers_unconsumed_log(spark, tmp_path):
    """Crash window: a batch's log partition was appended but the process
    died before any compaction consumed it (the manifest still predates
    it). On restart the orphan log must be discovered from disk and folded
    in — compaction deletes logs only AFTER the manifest commit, so a
    surviving log partition is by definition unapplied-or-idempotent."""
    from checkatron_spark.streaming import apply_delta_stream

    base = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    feed = str(tmp_path / "feed")
    _delta_df(spark, [("U", 3, 333)]).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    schema = _delta_df(spark, [("U", 3, 333)]).schema
    state = str(tmp_path / "state")

    def _sdf():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )

    apply_delta_stream(_sdf(), base, ["k"], ["v"], state_dir=state,
                       n_buckets=8)
    # fabricate the crash artifact: an appended-but-never-compacted log
    # partition exactly as _upsert would have written it
    _delta_df(spark, [("I", 9001, 1), ("D", 5, None)]).withColumn(
        "_epoch", F.lit(50)
    ).write.mode("overwrite").parquet(f"{state}/log/e50")

    snap = apply_delta_stream(_sdf(), base, ["k"], ["v"], state_dir=state,
                              n_buckets=8)
    got = {r.k: r.v for r in snap.collect()}
    assert got[3] == 333          # run-1 churn survived the restart
    assert got[9001] == 1         # orphan-log insert folded in
    assert 5 not in got           # orphan-log delete folded in
    assert len(got) == 50         # 50 - deleted(5) + inserted(9001)


def test_lsm_store_refold_of_applied_log_is_noop(spark, tmp_path):
    """Crash window: the manifest committed but the process died before
    the consumed logs were reaped. On restart those logs re-fold against
    the already-updated store — apply_delta re-upserts the same images,
    so the store must come out unchanged (idempotence pin)."""
    from checkatron_spark.streaming import apply_delta_stream

    base = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    feed = str(tmp_path / "feed")
    _delta_df(spark, [("U", 3, 333), ("D", 7, None)]).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    schema = _delta_df(spark, [("U", 3, 333)]).schema
    state = str(tmp_path / "state")

    def _sdf():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )

    snap1 = apply_delta_stream(_sdf(), base, ["k"], ["v"], state_dir=state,
                               n_buckets=8)
    before = sorted(map(tuple, snap1.collect()))
    # resurrect the CONSUMED log as if the reap never happened
    _delta_df(spark, [("U", 3, 333), ("D", 7, None)]).withColumn(
        "_epoch", F.lit(1)
    ).write.mode("overwrite").parquet(f"{state}/log/e1")

    snap2 = apply_delta_stream(_sdf(), base, ["k"], ["v"], state_dir=state,
                               n_buckets=8)
    assert sorted(map(tuple, snap2.collect())) == before


def test_lsm_store_ignores_torn_manifest_tmp(spark, tmp_path):
    """Crash window (round 9, VERDICT r8 #4): the process died INSIDE
    _save_manifest — manifest.json.tmp sits half-written on disk while
    manifest.json still holds the last committed pointer (os.replace is
    atomic, so the pointer itself is never torn). Recovery must read the
    committed manifest, ignore + remove the torn tmp, and the resumed
    store must equal sequential application of the whole feed."""
    import os

    from checkatron_spark.operators.patch import apply_delta
    from checkatron_spark.streaming import apply_delta_stream

    base = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    phase1 = [("U", 4, 44), ("D", 9, None)]
    phase2 = [("I", 901, 5), ("U", 10, 1010)]
    feed = str(tmp_path / "feed")
    for row in phase1:
        _delta_df(spark, [row]).coalesce(1).write.mode("append").parquet(feed)
    schema = _delta_df(spark, phase1).schema
    state = str(tmp_path / "state")

    def _sdf():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )

    apply_delta_stream(_sdf(), base, ["k"], ["v"], state_dir=state,
                       n_buckets=8, compact_every=2)
    # fabricate the torn write: garbage bytes under the tmp name
    tmp = os.path.join(state, "manifest.json.tmp")
    with open(tmp, "w") as fh:
        fh.write('{"0": "/nowhere/epo')  # truncated mid-JSON
    for row in phase2:
        _delta_df(spark, [row]).coalesce(1).write.mode("append").parquet(feed)

    snap = apply_delta_stream(_sdf(), base, ["k"], ["v"], state_dir=state,
                              n_buckets=8, compact_every=2)
    want = apply_delta(base, _delta_df(spark, phase1 + phase2), ["k"], ["v"])
    assert sorted(map(tuple, snap.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert not os.path.exists(tmp)  # the torn artifact was cleaned, not read


def test_lsm_store_checkpoint_loss_full_replay_is_idempotent(spark, tmp_path):
    """Crash window (round 9, VERDICT r8 #4): the streaming CHECKPOINT is
    lost (wiped ops-side) while the store's manifest/epoch dirs survive —
    on restart foreachBatch redelivers EVERY feed batch, under fresh epoch
    ids, against the already-updated store. Upserts re-apply the same
    images and deletes hit already-absent keys, so the store must come out
    bit-identical to the single-run result — the at-least-once delivery
    contract every production foreachBatch sink must absorb."""
    import shutil

    from checkatron_spark.streaming import apply_delta_stream

    base = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    rows = [("U", 4, 44), ("D", 9, None), ("I", 901, 5)]
    feed = str(tmp_path / "feed")
    for row in rows:
        _delta_df(spark, [row]).coalesce(1).write.mode("append").parquet(feed)
    schema = _delta_df(spark, rows).schema
    state = str(tmp_path / "state")

    def _sdf():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )

    snap1 = apply_delta_stream(_sdf(), base, ["k"], ["v"], state_dir=state,
                               n_buckets=8, compact_every=2)
    before = sorted(map(tuple, snap1.collect()))
    # ops wipes the checkpoint; the store state survives
    shutil.rmtree(f"{state}/_checkpoint")
    snap2 = apply_delta_stream(_sdf(), base, ["k"], ["v"], state_dir=state,
                               n_buckets=8, compact_every=2)
    assert sorted(map(tuple, snap2.collect())) == before


def _feed_stream(spark, tmp_path, batches):
    """One parquet file per batch, written in order, replayed one file per
    micro-batch (the file source delivers files oldest first)."""
    feed = str(tmp_path / "feed")
    for rows in batches:
        _delta_df(spark, rows).coalesce(1).write.mode("append").parquet(feed)
    return (
        spark.readStream.schema(_delta_df(spark, batches[0]).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )


def _rows(df):
    from collections import Counter

    return Counter(map(tuple, df.collect()))


def _assert_folds_inside_touched(io_log):
    compacts = [r for r in io_log if r["mode"] == "compact"]
    assert compacts
    for rec in compacts:
        for f in rec["files_read"]:
            assert any(f"_bucket={b}/" in f for b in rec["touched"]), f


def test_lsm_store_fold_equals_sequential_apply_delta(spark, tmp_path):
    """The store's one-pass fold must equal replaying the batches one by
    one through apply_delta: duplicate base keys survive untouched or
    collapse to the one upserted image, NULL keys match null-safely, and
    keys re-touched across epochs end at their newest image (U then D,
    D then I), both inside one compaction and across compactions."""
    from checkatron_spark.streaming import apply_delta_stream

    base = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30), (4, 40),
         (None, 5), (None, 6)]
        + [(i, i * 10) for i in range(5, 40)],
        "k bigint, v bigint",
    )
    batches = [
        [("U", 3, 33), ("D", 4, None), ("U", None, 7)],
        [("D", 3, None), ("I", 4, 44), ("I", 500, 5)],
        [("U", 2, 22), ("U", 500, 50), ("D", None, None)],
        [("I", 3, 333), ("U", 7, 77)],
    ]
    io_log: list = []
    snap = apply_delta_stream(
        _feed_stream(spark, tmp_path, batches), base, ["k"], ["v"],
        state_dir=str(tmp_path / "state"), n_buckets=4, compact_every=2,
        io_log=io_log,
    )
    want = base
    for rows in batches:
        want = apply_delta(want, _delta_df(spark, rows), ["k"], ["v"])
    assert _rows(snap) == _rows(want)
    assert sum(r["mode"] == "compact" for r in io_log) == 2
    _assert_folds_inside_touched(io_log)


def test_lsm_store_orphan_insert_into_bucket_missing_from_manifest(
    spark, tmp_path
):
    """An orphan log found at restart has no observed bucket set; its
    buckets are recovered from the log itself, including one that holds
    no snapshot rows yet, so an insert there must still land."""
    import json

    from checkatron_spark.streaming import apply_delta_stream

    base = spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint")
    batch = [("U", 1, 11)]
    sdf = _feed_stream(spark, tmp_path, [batch])
    state = str(tmp_path / "state")
    apply_delta_stream(sdf, base, ["k"], ["v"], state_dir=state, n_buckets=8)
    with open(f"{state}/manifest.json") as fh:
        live = {int(b) for b in json.load(fh)}
    bucket = {
        r.k: r.b
        for r in spark.range(100, 200)
        .selectExpr("id AS k", "pmod(xxhash64(id), 8) AS b")
        .collect()
    }
    k_new = next(k for k, b in bucket.items() if b not in live)
    orphan = [("I", k_new, 5), ("U", 2, 22)]
    _delta_df(spark, orphan).withColumn("_epoch", F.lit(50)).write.parquet(
        f"{state}/log/e50"
    )
    io_log: list = []
    snap = apply_delta_stream(sdf, base, ["k"], ["v"], state_dir=state,
                              n_buckets=8, io_log=io_log)
    want = base
    for rows in (batch, orphan):
        want = apply_delta(want, _delta_df(spark, rows), ["k"], ["v"])
    assert _rows(snap) == _rows(want)
    (fold,) = [r for r in io_log if r["mode"] == "compact"]
    assert fold["epochs"] == [50] and bucket[k_new] in fold["touched"]
    _assert_folds_inside_touched(io_log)


def test_apply_delta_stream_job_count(spark, tmp_path):
    """Work pin: one call over a 2-file feed runs the seed write, one log
    write per batch (which also observes the batch's buckets), one fold
    write and nothing else of note — no persist, no touched-bucket
    collect, no schema-inference job on the store's own files."""
    from checkatron_spark.session import release_scratch
    from checkatron_spark.streaming import apply_delta_stream

    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    sdf = _feed_stream(spark, tmp_path, [[("U", 4, 44), ("D", 9, None)],
                                         [("I", 901, 5), ("U", 100, 7)]])
    release_scratch()  # frames other tests left cached
    spark.catalog.clearCache()
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    job0 = sched.nextJobId()
    apply_delta_stream(sdf, base, ["k"], ["v"], state_dir=str(tmp_path / "s"),
                       n_buckets=8, compact_every=2)
    jobs = sched.nextJobId() - job0
    assert jobs <= 7, f"{jobs} Spark jobs per call"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_apply_delta_stream_leaves_only_py4j_threads(spark, tmp_path):
    """Each call's foreachBatch query leaves one idle py4j connection
    thread behind (see apply_delta_stream's docstring). Anything else that
    survives a call — a pool, a timer — belongs to the store and fails
    this test."""
    import os
    import sys
    import threading

    from checkatron_spark.streaming import apply_delta_stream

    base = spark.range(50).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    before = set(threading.enumerate())
    for run in ("a", "b"):
        sdf = _feed_stream(spark, tmp_path / run, [[("U", 4, 44)]])
        apply_delta_stream(sdf, base, ["k"], ["v"], n_buckets=4,
                           state_dir=str(tmp_path / run / "state"))
    new = [t for t in threading.enumerate() if t not in before]
    frames = sys._current_frames()  # a thread gone by now did not survive

    def _runs_py4j(f):
        while f is not None:
            if f"{os.sep}py4j{os.sep}" in f.f_code.co_filename:
                return True
            f = f.f_back
        return False

    alive = [t for t in new if t.ident in frames]
    assert [t.name for t in alive if not _runs_py4j(frames[t.ident])] == []
