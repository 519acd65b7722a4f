"""Streaming semantics tests (SURVEY.md §5.2 item 3):

(a) streaming dedup final snapshot == batch dedup answer;
(b) the retract changelog replays to the same snapshot;
(c) rows later than the watermark are dropped from windowed counts;
(d) the multi-stream snapshot-join pipeline equals the batch join.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from fink_joiner_spark.catalog import table
from fink_joiner_spark.operators import dedup
from fink_joiner_spark.sources.streaming import file_drip_feed
from fink_joiner_spark.streaming.dedup_stream import SnapshotStore, run_dedup_stream
from fink_joiner_spark.streaming.pipeline import StreamDef, run_snapshot_join_pipeline
from fink_joiner_spark.streaming.windows import windowed_count


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_dedup_snapshot_equals_batch(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events")
    stream = file_drip_feed(spark, ev, str(tmp_path / "stage"), "ts", n_files=5)
    store = SnapshotStore(str(tmp_path / "snap"), ["user_id"], "ts", ["event_id"])
    q = run_dedup_stream(stream, store, changelog_dir=str(tmp_path / "log"))
    q.awaitTermination()

    got = store.read(spark)
    want = dedup.latest_per_key(ev, ["user_id"], "ts", ["event_id"])
    cols = ev.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_retract_changelog_replays_to_snapshot(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events")
    stream = file_drip_feed(spark, ev, str(tmp_path / "stage"), "ts", n_files=4)
    store = SnapshotStore(str(tmp_path / "snap"), ["user_id"], "ts", ["event_id"])
    q = run_dedup_stream(stream, store, changelog_dir=str(tmp_path / "log"))
    q.awaitTermination()

    log = spark.read.parquet(str(tmp_path / "log"))
    # multiset replay: snapshot == all inserts minus all retracts
    adds = log.filter(~F.col("is_retract")).drop("is_retract", "batch")
    dels = log.filter(F.col("is_retract")).drop("is_retract", "batch")
    replayed = adds.exceptAll(dels)
    snap = store.read(spark)
    cols = [c for c in snap.columns]
    assert _sorted_rows(replayed, cols) == _sorted_rows(snap, cols)
    # at least one retraction must have occurred (users re-version)
    assert dels.count() > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving 10 min behind the watermark must not appear in
    append-mode window output (T2 contract, 100 s bound)."""
    rows = (
        [(i, i, 1_000_000 + i * 30_000) for i in range(20)]  # advancing: 1000s..1570s
        + [(20, 99, 100_000)]  # very late row: 100s, watermark far past
        + [(21, 100, 2_000_000)]  # push watermark further
    )
    # drip in ARRIVAL order (seq), not event-time order — lateness only
    # exists when arrival and event time disagree
    df = spark.createDataFrame(rows, "seq long, id long, ts_ms long")
    stream = file_drip_feed(spark, df, str(tmp_path / "stage"), "seq", n_files=6)
    stream = stream.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    out = windowed_count(stream, "ts", "1 minute", lateness="100 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = {
        r["window_start"].timestamp(): r["cnt"]
        for r in spark.sql("SELECT * FROM wm_test").collect()
    }
    # the late row's window (t=60s..120s) must be absent or not count it
    assert emitted.get(60.0) is None
    # early windows from the advancing sequence were finalized and emitted
    assert emitted.get(1020.0, 0) >= 1


def test_snapshot_join_pipeline_matches_batch(spark, sf_dir, tmp_path):
    """TestJoiner 3-way shape: two drip-fed versioned streams, snapshot
    join == batch dedup+join."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user_id"),
        F.col("ts").alias("e_ts"),
        F.col("event_id").alias("e_event_id"),
    )
    streams = [
        StreamDef(
            "clicks",
            file_drip_feed(spark, clicks, str(tmp_path / "s1"), "ts", 3),
            ["user_id"], "ts", ["event_id"],
        ),
        StreamDef(
            "errors",
            file_drip_feed(spark, errors, str(tmp_path / "s2"), "e_ts", 3),
            ["e_user_id"], "e_ts", ["e_event_id"],
        ),
    ]

    def join_fn(snaps):
        c, e = snaps["clicks"], snaps["errors"]
        return c.join(e, c.user_id == e.e_user_id, "left").select(
            "event_id", "user_id", "e_event_id"
        )

    stores = run_snapshot_join_pipeline(
        spark, streams, join_fn, str(tmp_path / "work")
    )
    got = stores["result"].read(spark)

    bc = dedup.latest_per_key(clicks, ["user_id"], "ts", ["event_id"])
    be = dedup.latest_per_key(errors, ["e_user_id"], "e_ts", ["e_event_id"])
    want = bc.join(be, bc.user_id == be.e_user_id, "left").select(
        "event_id", "user_id", "e_event_id"
    )
    cols = ["event_id", "user_id", "e_event_id"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_checkpoint_resume_processes_only_new_files(spark, sf_dir, tmp_path):
    """S9/T6: stop after a partial run, add data, restart with the SAME
    checkpoint — the query resumes from recorded offsets and the final
    snapshot equals the batch answer over all data."""
    import os

    ev = table(spark, sf_dir, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)

    stage = str(tmp_path / "stage")
    os.makedirs(stage, exist_ok=True)
    first.coalesce(1).write.mode("overwrite").parquet(f"{stage}/f0000")

    store = SnapshotStore(str(tmp_path / "snap"), ["user_id"], "ts", ["event_id"])

    def run_once():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stage}/f*")
        )
        q = run_dedup_stream(stream, store)
        q.awaitTermination()

    run_once()
    v1 = store.current_version()
    # add the second half and restart from the same checkpoint
    second.coalesce(1).write.mode("overwrite").parquet(f"{stage}/f0001")
    run_once()
    assert store.current_version() > v1

    got = store.read(spark)
    want = dedup.latest_per_key(ev, ["user_id"], "ts", ["event_id"])
    cols = ev.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)

    # restart once more with NO new data: checkpoint replays nothing,
    # snapshot unchanged (idempotent recovery)
    v2 = store.current_version()
    run_once()
    got2 = store.read(spark)
    assert _sorted_rows(got2, cols) == _sorted_rows(want, cols)


def test_proctime_window_alignment_and_totals(spark, sf_dir, tmp_path):
    """T4 — processing-time tumbling windows over a drip-fed stream:
    every emitted window is epoch-aligned to the 10 s duration, its
    bounds bracket the run's wall-clock span, and the window counts sum
    to exactly the input row count (no row lost or double-counted by
    the wall-clock slicing)."""
    import time

    from fink_joiner_spark.streaming.windows import proctime_windowed_count

    ev = table(spark, sf_dir, "events")
    t0 = time.time()
    stream = file_drip_feed(spark, ev, str(tmp_path / "stage"), "ts", n_files=3)
    out = proctime_windowed_count(stream, "10 seconds", keys=["event_type"])
    q = (
        out.writeStream.format("memory").queryName("t4_proc")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    t1 = time.time()

    rows = spark.sql("SELECT * FROM t4_proc").collect()
    assert rows, "no proctime windows emitted"
    assert sum(r.cnt for r in rows) == ev.count()
    for r in rows:
        ws, we = r.window_start.timestamp(), r.window_end.timestamp()
        assert we - ws == 10.0, (r.window_start, r.window_end)
        assert ws % 10 == 0, f"window not epoch-aligned: {r.window_start}"
        assert t0 - 10 <= ws <= t1, (t0, ws, t1)


def test_kill_midrun_restart_equals_uninterrupted(spark, sf_dir, tmp_path):
    """S9/T6 exactly-once under a real mid-run kill: stop the query
    after ≥1 committed batch but before the drip-feed drains, restart
    from the same checkpoint, and require the final snapshot AND the
    per-batch changelog to equal an uninterrupted run byte-for-row."""
    import time

    ev = table(spark, sf_dir, "events")

    # uninterrupted reference run
    ref_stream = file_drip_feed(spark, ev, str(tmp_path / "stage_ref"), "ts", 10)
    ref_store = SnapshotStore(str(tmp_path / "snap_ref"), ["user_id"], "ts", ["event_id"])
    run_dedup_stream(ref_stream, ref_store, str(tmp_path / "log_ref")).awaitTermination()

    # interrupted run over identically staged files
    stream = file_drip_feed(spark, ev, str(tmp_path / "stage"), "ts", 10)
    store = SnapshotStore(str(tmp_path / "snap"), ["user_id"], "ts", ["event_id"])
    q = run_dedup_stream(
        stream, store, str(tmp_path / "log"), trigger={"processingTime": "0 seconds"}
    )
    deadline = time.time() + 120
    while store.current_version() is None and time.time() < deadline:
        time.sleep(0.02)
    q.stop()  # kill with ≥1 batch committed and (virtually always) more pending
    q.awaitTermination()
    v_at_kill = store.current_version()
    assert v_at_kill is not None and v_at_kill >= 1
    assert v_at_kill < 10, "kill happened after the stream drained; not a mid-run test"

    # restart from the same checkpoint over the SAME staged files (no
    # re-staging: that would write new part-file names the source would
    # treat as fresh input); drain the rest
    stream2 = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "stage" / "f*"))
    )
    run_dedup_stream(stream2, store, str(tmp_path / "log")).awaitTermination()

    cols = ev.columns
    assert _sorted_rows(store.read(spark), cols) == _sorted_rows(
        ref_store.read(spark), cols
    )
    log = spark.read.parquet(str(tmp_path / "log"))
    ref_log = spark.read.parquet(str(tmp_path / "log_ref"))
    log_cols = [*cols, "is_retract", "batch"]
    assert _sorted_rows(log, log_cols) == _sorted_rows(ref_log, log_cols)


def test_bucketed_upsert_leaves_untouched_buckets_alone(spark, tmp_path):
    """The poor-man's-MERGE contract: an upsert or replace touching one
    key-hash bucket must rewrite ONLY that bucket — every other bucket's
    current data directory stays the same path with byte-identical
    files, and per-batch I/O is O(touched buckets), not O(snapshot).
    Every written bucket directory holds exactly one parquet file."""
    import hashlib

    def bucket_files(store):
        out = {}
        for b, v in store._state()["buckets"].items():
            d = store._bucket_dir(int(v), b)
            out[b] = {
                f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
                for f in sorted(os.listdir(d))
                if f.endswith(".parquet")
            }, d
        return out

    def only_changed_rewritten(before, after):
        changed = [b for b in after if after[b] != before[b]]
        assert len(changed) == 1  # exactly the bucket the changed key hashes into
        for b in after:
            if b not in changed:
                assert after[b] == before[b]  # same dir, byte-identical files
        assert len(after[changed[0]][0]) == 1  # one file per written bucket

    # coalescing off: a bucket must land in one task whatever the
    # partition count, not only when AQE packs a tiny input into one
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    was = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        schema = "k long, ts long, v string"
        store = SnapshotStore(str(tmp_path / "snap"), ["k"], "ts", n_buckets=8)
        store.upsert(spark.createDataFrame([(k, 10, f"v{k}") for k in range(64)], schema))
        before = bucket_files(store)
        assert len(before) == 8  # 64 keys cover all 8 buckets
        assert all(len(files) == 1 for files, _ in before.values())

        i2, r2 = store.upsert(spark.createDataFrame([(5, 20, "v5b")], schema))
        assert i2.count() == 1 and r2.count() == 1
        after = bucket_files(store)
        only_changed_rewritten(before, after)

        # snapshot content is still the correct latest-per-key answer
        got = sorted(tuple(r) for r in store.read(spark).collect())
        want = sorted([(k, 10, f"v{k}") for k in range(64) if k != 5] + [(5, 20, "v5b")])
        assert got == want

        # a full replace differing in one row rewrites only that row's bucket
        want = [r for r in want if r[0] != 9] + [(9, 30, "v9c")]
        delta = store.replace(spark.createDataFrame(want, schema))
        assert sorted(tuple(r) for r in delta.collect()) == [
            (9, 10, "v9", True), (9, 30, "v9c", False)
        ]
        only_changed_rewritten(after, bucket_files(store))
        assert sorted(tuple(r) for r in store.read(spark).collect()) == sorted(want)
    finally:
        spark.conf.set(coalesce, was)


def _jobs_launched(spark, fn):
    """(fn(), ids of the Spark jobs fn launched on this thread)."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _drop_annotation(spark, store, name):
    """Rewrite ``store``'s current manifest without its ``name``
    annotation row: the manifest an earlier layout committed."""
    import json

    from fink_joiner_spark import versioned

    vs = store._store(spark)
    cur = vs.current()
    path = f"{vs.vdir(cur)}/_state.json"
    rows = json.loads(vs.fs.read_utf8(path))
    assert [r[0] for r in rows].count(name) == 1
    vs.fs.delete(path, recursive=False)
    assert vs.fs.create_exclusive(path, json.dumps([r for r in rows if r[0] != name]))
    versioned._MANIFEST_CACHE.pop((vs.root, cur), None)


def test_snapshot_read_launches_no_spark_job(spark, tmp_path):
    """A commit records the written schema as a ``_schema`` manifest
    annotation, so resolving a read runs no Spark job: no parquet
    footer-inference job. A store committed without the annotation
    (the earlier layout) falls back to inference, reads back the same
    rows and columns, and regains the annotation on its next upsert."""
    schema = "k long, ts long, v string, x double"
    store = SnapshotStore(str(tmp_path / "snap"), ["k"], "ts", n_buckets=8)
    store.upsert(spark.createDataFrame(
        [(k, 10, f"v{k}", k / 2) for k in range(40)] + [(None, 1, None, None)], schema
    ))
    df, jobs = _jobs_launched(spark, lambda: store.read(spark))
    assert jobs == []
    want_cols, want_rows = df.columns, sorted(map(tuple, df.collect()), key=repr)
    assert want_cols == ["k", "ts", "v", "x"] and len(want_rows) == 41

    _drop_annotation(spark, store, "_schema")
    legacy, jobs = _jobs_launched(spark, lambda: store.read(spark))
    assert jobs, "the job probe must see the inference job of a legacy read"
    assert legacy.schema == df.schema
    assert sorted(map(tuple, legacy.collect()), key=repr) == want_rows

    store.upsert(spark.createDataFrame([(3, 20, "v3b", 9.5)], schema))
    assert store._store(spark).annotation("_schema") is not None
    got = sorted(map(tuple, store.read(spark).collect()), key=repr)
    assert got == sorted(
        [r for r in want_rows if r[0] != 3] + [(3, 20, "v3b", 9.5)], key=repr
    )


def _bag(rows):
    """Multiset of rows compared by repr (NaN == NaN, -0.0 == 0.0)."""
    from collections import Counter

    return Counter(
        tuple(repr(v + 0.0 if isinstance(v, float) else v) for v in r) for r in rows
    )


def _except_all_delta(new, old):
    """The changelog exceptAll defines: new-only rows as inserts,
    old-only rows as retracts, duplicates counted."""
    return _bag(
        [(*r, False) for r in new.exceptAll(old).collect()]
        + [(*r, True) for r in old.exceptAll(new).collect()]
    )


def test_multiset_diff_equals_except_all(spark, tmp_path):
    """The one-aggregate diff behind upsert, replace and diff() is
    exceptAll in both directions: duplicate rows, NULL keys, NULL
    non-key columns and NaN doubles included."""
    from fink_joiner_spark.streaming.dedup_stream import multiset_diff

    nan = float("nan")
    schema = "k long, ts long, v string, x double"
    old = spark.createDataFrame([
        (1, 1, "a", 1.0), (1, 1, "a", 1.0), (None, 1, "n", nan),
        (2, 1, None, 2.0), (3, 1, "c", nan), (5, 1, "z", 0.0), (6, 1, "q", 6.0),
    ], schema)
    new = spark.createDataFrame([
        (1, 1, "a", 1.0), (None, 1, "n", nan), (None, 1, "n", nan),
        (2, 1, None, 2.0), (3, 2, "c", nan), (5, 1, "z", -0.0),
        (7, 1, None, None), (7, 1, None, None),
    ], schema)
    want = _except_all_delta(new, old)
    assert sum(want.values()) == 7  # 4 inserts, 3 retracts
    assert _bag(multiset_diff(new, old).collect()) == want

    # through replace, and through diff() over the versions it committed
    store = SnapshotStore(str(tmp_path / "r"), ["k"], "ts", n_buckets=4)
    assert _bag(store.replace(old).collect()) == _bag((*r, False) for r in old.collect())
    v1 = store.current_version()
    assert _bag(store.replace(new).collect()) == want
    v2 = store.current_version()
    assert _bag(store.read(spark).collect()) == _bag(new.collect())
    assert _bag(store.diff(spark, from_version=v1, to_version=v2).collect()) == want

    # through upsert's on_delta: latest-per-key snapshots before/after
    store = SnapshotStore(str(tmp_path / "u"), ["k"], "ts", n_buckets=4)
    store.upsert(spark.createDataFrame([
        (1, 1, "a", 1.0), (None, 1, "n", nan), (2, 1, None, 2.0),
        (3, 1, "c", nan), (6, 1, "q", 6.0),
    ], schema))
    before = spark.createDataFrame(store.read(spark).collect(), schema)
    seen = {}

    def capture(ins, rets):
        seen["delta"] = _bag(
            [(*r, False) for r in ins.collect()] + [(*r, True) for r in rets.collect()]
        )

    store.upsert(spark.createDataFrame([
        (None, 2, "n2", nan), (2, 1, None, 2.0), (3, 2, "c", nan),
        (7, 1, None, None), (6, 0, "stale", 0.0),
    ], schema), on_delta=capture)
    after = spark.createDataFrame(store.read(spark).collect(), schema)
    want = _except_all_delta(after, before)
    assert sum(want.values()) == 5  # 3 inserts, 2 retracts
    assert seen["delta"] == want


def _parquet_files(d):
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def test_small_store_commits_one_bucket(spark, tmp_path):
    """The bucket count follows the store's size: a small store commits
    one bucket, one parquet file per version, and records the count in
    its manifest. An explicit n_buckets is a floor, rounded up to a
    power of two."""
    schema = "k long, ts long, v string"
    rows = [(k, 10, f"v{k}") for k in range(64)]
    store = SnapshotStore(str(tmp_path / "one"), ["k"], "ts")
    store.upsert(spark.createDataFrame(rows, schema))
    store.upsert(spark.createDataFrame([(5, 20, "v5b")], schema))
    assert store.n_buckets == 1
    assert store._store(spark).annotation("_n_buckets") == "1"
    (d,) = store.bucket_dirs()
    assert len(_parquet_files(d)) == 1
    want = sorted([r for r in rows if r[0] != 5] + [(5, 20, "v5b")])
    assert sorted(tuple(r) for r in store.read(spark).collect()) == want

    floor = SnapshotStore(str(tmp_path / "eight"), ["k"], "ts", n_buckets=8)
    floor.upsert(spark.createDataFrame(rows, schema))
    assert floor.n_buckets == 8 and len(floor.bucket_dirs()) == 8
    assert SnapshotStore(str(tmp_path / "five"), ["k"], "ts", n_buckets=5).n_buckets == 8


def test_store_grows_by_one_full_rewrite(spark, tmp_path, caplog):
    """A target below the store's file bytes makes the next upsert
    re-bucket: one full rewrite into the power-of-two count that puts
    at most half the target in each bucket, logged once at INFO. The
    snapshot stays latest-per-key, the manifest records the count, and
    diff() across the re-bucketing commit equals multiset_diff of the
    two reads. At the same target the next upsert keeps the count and
    rewrites only its bucket."""
    import hashlib
    import logging

    from fink_joiner_spark.streaming.dedup_stream import multiset_diff

    schema = "k long, ts long, v string"
    rows = [(k, 10, hashlib.md5(str(k).encode()).hexdigest()) for k in range(2000)]
    store = SnapshotStore(str(tmp_path / "snap"), ["k"], "ts", keep_commits=5)
    store.upsert(spark.createDataFrame(rows, schema))
    assert store.n_buckets == 1
    (d,) = store.bucket_dirs()
    size = sum(os.path.getsize(os.path.join(d, f)) for f in _parquet_files(d))
    before = spark.createDataFrame(store.read(spark).collect(), schema)

    target = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    was = spark.conf.get(target)
    spark.conf.set(target, f"{size // 6}b")  # 2 * size / target = 12 -> 16
    try:
        batch = [(k, 20, f"w{k}") for k in range(0, 2000, 97)]
        with caplog.at_level(logging.DEBUG, logger="fink_joiner_spark.streaming.dedup_stream"):
            store.upsert(spark.createDataFrame(batch, schema))
        infos = [r.getMessage() for r in caplog.records if r.levelno == logging.INFO]
        assert len(infos) == 1 and "1 -> 16 buckets" in infos[0], infos
        debug = [r.getMessage() for r in caplog.records if r.levelno == logging.DEBUG]
        assert any("n_buckets=16" in m and "est_bytes=" in m for m in debug), debug
        assert store.n_buckets == 16
        assert store._store(spark).annotation("_n_buckets") == "16"
        dirs = store.bucket_dirs()
        assert len(dirs) == 16 and all(len(_parquet_files(x)) == 1 for x in dirs)

        new_keys = {k for k, _, _ in batch}
        want = sorted([r for r in rows if r[0] not in new_keys] + batch)
        assert sorted(tuple(r) for r in store.read(spark).collect()) == want
        v1, v2 = store._store(spark).committed_versions()[-2:]
        after = spark.createDataFrame(store.read(spark).collect(), schema)
        assert _bag(store.diff(spark, from_version=v1, to_version=v2).collect()) == _bag(
            multiset_diff(after, before).collect()
        )

        store.upsert(spark.createDataFrame([(3, 30, "z")], schema))
        assert store.n_buckets == 16
        v3 = store.current_version()
        assert len([x for x in store.bucket_dirs() if f"v{v3:06d}" in x]) == 1
    finally:
        spark.conf.set(target, was)


def test_unrecorded_store_reads_upserts_and_records_count(spark, tmp_path):
    """A store committed before bucket counts were recorded (32
    buckets, no ``_n_buckets`` annotation) reads back as is; its next
    upsert re-buckets it whole into the fitted count, every key once,
    and records that count."""
    schema = "k long, ts long, v string"
    rows = [(k, 10, f"v{k}") for k in range(64)]
    path = str(tmp_path / "snap")
    SnapshotStore(path, ["k"], "ts", n_buckets=32).upsert(spark.createDataFrame(rows, schema))
    store = SnapshotStore(path, ["k"], "ts")
    _drop_annotation(spark, store, "_n_buckets")
    assert len(store.bucket_dirs()) > 16
    assert sorted(tuple(r) for r in store.read(spark).collect()) == rows

    store.upsert(spark.createDataFrame([(5, 20, "v5b"), (100, 1, "new")], schema))
    want = sorted([r for r in rows if r[0] != 5] + [(5, 20, "v5b"), (100, 1, "new")])
    assert sorted(tuple(r) for r in store.read(spark).collect()) == want
    assert store._store(spark).annotation("_n_buckets") == "1"
    assert store.n_buckets == 1 and len(store.bucket_dirs()) == 1


def test_reopened_with_other_bucket_count_keeps_each_key_once(spark, tmp_path):
    """Reopening a store with a different n_buckets must not strand a
    key's old row in a bucket the new count no longer maps the key to,
    whether the new count is higher or lower."""
    schema = "k long, ts long, v string"
    rows = [(k, 10, f"v{k}") for k in range(64)]
    for first, second in ((4, 8), (8, 2)):
        path = str(tmp_path / f"snap_{first}_{second}")
        SnapshotStore(path, ["k"], "ts", n_buckets=first).upsert(
            spark.createDataFrame(rows, schema)
        )
        store = SnapshotStore(path, ["k"], "ts", n_buckets=second)
        batch = [(k, 20, f"w{k}") for k in range(10)]
        store.upsert(spark.createDataFrame(batch, schema))
        got = sorted(tuple(r) for r in store.read(spark).collect())
        assert got == sorted(batch + rows[10:]), (first, second)


def test_retract_fidelity_single_reversion(spark, tmp_path):
    """SURVEY §7.3 #3 — exact toRetractStream fidelity: when one key is
    re-versioned in a later batch, that batch's changelog contains
    exactly one retract (the superseded row) and one insert (the new
    row), and nothing else."""
    schema = "k long, ts long, v string"
    b1 = spark.createDataFrame([(1, 10, "v1"), (2, 10, "w1")], schema)
    b2 = spark.createDataFrame([(1, 20, "v2")], schema)

    store = SnapshotStore(str(tmp_path / "snap"), ["k"], "ts")
    i1, r1 = store.upsert(b1)
    assert sorted(tuple(r) for r in i1.collect()) == [(1, 10, "v1"), (2, 10, "w1")]
    assert r1.count() == 0

    i2, r2 = store.upsert(b2)
    assert [tuple(r) for r in i2.collect()] == [(1, 20, "v2")]
    assert [tuple(r) for r in r2.collect()] == [(1, 10, "v1")]

    # out-of-date version arriving later: no-op delta (idempotent)
    i3, r3 = store.upsert(spark.createDataFrame([(1, 15, "stale")], schema))
    assert i3.count() == 0 and r3.count() == 0


def test_observe_metrics_surface_per_batch(spark, tmp_path):
    """with_ingest_metrics: every micro-batch's progress must report
    the observed row count + event-time frontier; totals across batches
    equal the input row count."""
    from fink_joiner_spark.catalog import table
    from fink_joiner_spark.sources.streaming import file_drip_feed
    from fink_joiner_spark.streaming.windows import with_ingest_metrics

    ev = table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id"
    )
    n_input = ev.count()
    stream = file_drip_feed(spark, ev, str(tmp_path / "stage"), "ts", n_files=3)
    observed = with_ingest_metrics(stream, "ts")
    q = (
        observed.writeStream.format("noop")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    rows = 0
    frontiers = []
    for p in q.recentProgress:
        m = p["observedMetrics"].get("ingest") if p["observedMetrics"] else None
        if m and m["rows"] is not None:
            rows += m["rows"]
            if m["max_event_ts"] is not None:
                frontiers.append(m["max_event_ts"])
    assert rows == n_input
    # drip feed stages files in ts order: frontiers must be increasing
    assert frontiers == sorted(frontiers) and len(frontiers) >= 2


def test_snapshot_store_diff_reconstructs_last_delta(spark, tmp_path):
    """CDF on the versioned store: diff(previous, current) re-derived
    from storage must equal the delta the upsert emitted."""
    from fink_joiner_spark.streaming.dedup_stream import SnapshotStore

    store = SnapshotStore(str(tmp_path / "s"), ["k"], "ts", ["pid"])
    store.upsert(spark.createDataFrame([(1, 10, 100), (2, 10, 200)], "k long, ts long, pid long"))
    emitted = {}

    def capture(ins, rets):
        emitted["ins"] = {tuple(r) for r in ins.collect()}
        emitted["ret"] = {tuple(r) for r in rets.collect()}

    # batch 2: newer version for k=1, brand-new k=3
    store.upsert(
        spark.createDataFrame([(1, 20, 101), (3, 10, 300)], "k long, ts long, pid long"),
        on_delta=capture,
    )
    d = store.diff(spark)
    got_ins = {tuple(r)[:-1] for r in d.where("NOT is_retract").collect()}
    got_ret = {tuple(r)[:-1] for r in d.where("is_retract").collect()}
    assert got_ins == emitted["ins"]
    assert got_ret == emitted["ret"]


def test_rate_source_smoke(spark, tmp_path):
    """Built-in rate source (load-generator): bounded drain via
    availableNow, rows carry (timestamp, value) — the zero-dependency
    way to soak-test any streaming operator in this engine."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .option("numPartitions", "2")
        .load()
        .withColumn("bucket", F.col("value") % 10)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_smoke")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT bucket) AS b FROM rate_smoke").first()
    assert rows["b"] <= 10


def test_side_output_sink_splits_good_and_dlq(spark, tmp_path):
    """Dead-letter pattern: valid rows land in the good path, invalid
    rows land in the DLQ with batch id + rejection timestamp; totals
    conserve the input."""
    from fink_joiner_spark.sources.sinks import side_output_sink
    from fink_joiner_spark.sources.streaming import file_drip_feed

    # every third row invalid; rows 28/29 have NULL payload — the
    # predicate evaluates NULL there, and three-valued logic must not
    # drop them from both outputs
    rows = [(i, ("ok" if i % 3 else "")) for i in range(28)] + [
        (28, None),
        (29, None),
    ]
    df = spark.createDataFrame(rows, "seq long, payload string")
    stream = file_drip_feed(spark, df, str(tmp_path / "stage"), "seq", n_files=3)
    good = str(tmp_path / "good")
    dlq = str(tmp_path / "dlq")
    q = side_output_sink(
        stream,
        F.col("payload") != "",
        good,
        dlq,
        str(tmp_path / "ckpt"),
    ).start()
    q.awaitTermination(120)

    g = spark.read.parquet(good)
    b = spark.read.parquet(dlq)
    assert g.count() + b.count() == 30  # conservation incl. NULL rows
    assert g.count() == 18 and b.count() == 12
    assert g.where(F.col("payload") == "").count() == 0
    assert b.where(F.col("seq") >= 28).count() == 2  # NULLs in DLQ
    assert set(b.columns) >= {"seq", "payload", "_batch_id", "_rejected_at"}
    # BOTH splits carry the replay-dedupe key
    assert "_batch_id" in g.columns
    assert g.where(F.col("_batch_id").isNull()).count() == 0
    assert b.where(F.col("_batch_id").isNull()).count() == 0


def test_cdf_between_arbitrary_retained_versions(spark, tmp_path):
    """Time-travel CDF on the unified store: with keep_commits sized
    up, diff(from, to) reconstructs the delta across MULTIPLE flips —
    the catch-up path for a consumer that missed several upserts —
    and composes: diff(v1, v3) == diff(v1, v2) + diff(v2, v3) applied
    as a multiset."""
    schema = "k long, ts long, v string"
    store = SnapshotStore(str(tmp_path / "snap"), ["k"], "ts", keep_commits=5)

    store.upsert(spark.createDataFrame([(1, 10, "a1"), (2, 10, "b1")], schema))
    store.upsert(spark.createDataFrame([(1, 20, "a2")], schema))
    store.upsert(spark.createDataFrame([(3, 30, "c1"), (2, 25, "b2")], schema))
    vs = store._store(spark).committed_versions()
    assert len(vs) == 3
    v1, v2, v3 = vs

    d13 = store.diff(spark, from_version=v1, to_version=v3)
    got = sorted(tuple(r) for r in d13.collect())
    want = sorted([
        (1, 20, "a2", False), (3, 30, "c1", False), (2, 25, "b2", False),
        (1, 10, "a1", True), (2, 10, "b1", True),
    ])
    assert got == want

    # defaults still mean previous -> current (the last flip only)
    dlast = sorted(tuple(r) for r in store.diff(spark).collect())
    assert dlast == sorted([
        (3, 30, "c1", False), (2, 25, "b2", False), (2, 10, "b1", True),
    ])


def test_cdf_diff_guards_single_version_and_unknown_versions(spark, tmp_path):
    """ADVICE r10 #2: diff(to_version=X) with from_version defaulted on
    a one-version store must mirror the no-args path (None, "no
    previous to diff against"), not IndexError on vs[-2]; an EXPLICIT
    version that was never committed (or was GC'd) raises the store's
    clear retention error instead of reading a missing directory."""
    import pytest

    schema = "k long, ts long, v string"
    store = SnapshotStore(str(tmp_path / "snap"), ["k"], "ts", keep_commits=5)
    store.upsert(spark.createDataFrame([(1, 10, "a1")], schema))
    vs = store._store(spark).committed_versions()
    assert len(vs) == 1
    (v1,) = vs

    # defaulted from_version, single committed version: no delta yet
    assert store.diff(spark, to_version=v1) is None
    assert store.diff(spark, from_version=v1) is None
    assert store.diff(spark) is None

    store.upsert(spark.createDataFrame([(2, 20, "b1")], schema))
    with pytest.raises(ValueError, match="not a committed retained"):
        store.diff(spark, from_version=v1, to_version=v1 + 99)
    with pytest.raises(ValueError, match="not a committed retained"):
        store.diff(spark, from_version=v1 - 1, to_version=v1)
    # and the valid explicit pair still works
    d = store.diff(spark, from_version=v1, to_version=v1 + 1)
    assert sorted(tuple(r) for r in d.collect()) == [(2, 20, "b1", False)]
