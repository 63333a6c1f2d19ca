"""TableIO snapshot seam + Structured Streaming sketch aggregation."""

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from hyperloglog_spark import approx_distinct
from hyperloglog_spark.data import transcripts as gen
from hyperloglog_spark.engine import io as tio
from hyperloglog_spark.streaming import (
    streaming_approx_distinct,
    streaming_windowed_distinct,
)

# ------------------------------------------------------------------ TableIO


def test_snapshot_append_and_time_travel(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    os.makedirs(loc)
    df1 = spark.range(0, 100).withColumnRenamed("id", "x")
    s1 = tio.append(df1, loc)
    df2 = spark.range(100, 150).withColumnRenamed("id", "x")
    s2 = tio.append(df2, loc)

    assert tio.read_table(spark, loc).count() == 150           # latest
    assert tio.read_table(spark, loc, s1).count() == 100       # time travel
    assert tio.read_table(spark, loc, s2).count() == 150
    snaps = tio.list_snapshots(loc)
    assert [s["seq"] for s in snaps] == [0, 1]
    assert snaps[-1]["rows"] == 150
    with pytest.raises(ValueError):
        tio.read_table(spark, loc, "nope")


def test_snapshot_isolation_from_late_files(spark, tmp_path):
    """A file dropped into the directory WITHOUT a commit is invisible to
    snapshot readers (manifest pins the file list)."""
    loc = str(tmp_path / "tbl2")
    os.makedirs(loc)
    tio.append(spark.range(10).withColumnRenamed("id", "x"), loc)
    stray = spark.range(1000, 1010).withColumnRenamed("id", "x")
    stray.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stray"))
    for f in os.listdir(str(tmp_path / "stray")):
        if f.endswith(".parquet"):
            shutil.copy(str(tmp_path / "stray" / f),
                        os.path.join(loc, "stray.parquet"))
    assert tio.read_table(spark, loc).count() == 10


# ---------------------------------------------------------------- streaming


@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "stream-in"
    d.mkdir()
    return str(d)


def _run_available_now(out_df, ckpt, sink_name):
    q = (
        out_df.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_streaming_matches_batch(spark, stream_dir, tmp_path):
    gen.write(stream_dir, n_turns=20_000, n_convs=1_500, seed=11, n_files=4)
    batch = spark.read.parquet(stream_dir)
    want = {
        r["role"]: r["n"] for r in approx_distinct(
            batch, "conv_id", group_by="role", alias="n"
        ).collect()
    }
    stream = (
        spark.readStream.schema(batch.schema).parquet(stream_dir)
    )
    out = streaming_approx_distinct(stream, "conv_id", "role", alias="n")
    _run_available_now(out, str(tmp_path / "ck"), "sink1")
    got_rows = spark.sql(
        "SELECT role, n FROM sink1"
    ).collect()
    # update mode can emit a row per trigger; keep the last per group
    got = {}
    for r in got_rows:
        got[r["role"]] = r["n"]
    assert got == want


def test_streaming_state_survives_restart(spark, tmp_path):
    """availableNow run over file1, stop, add file2, restart with the same
    checkpoint: final estimate equals the batch estimate over both files
    (sketch state persisted and merged exactly)."""
    d = tmp_path / "grow-in"
    d.mkdir()
    src = str(d)
    gen.write(str(tmp_path / "a"), n_turns=8_000, n_convs=700, seed=3,
              n_files=1)
    gen.write(str(tmp_path / "b"), n_turns=8_000, n_convs=700, seed=4,
              n_files=1)
    shutil.copy(str(tmp_path / "a" / "part-0000.parquet"),
                os.path.join(src, "f1.parquet"))

    batch_schema = spark.read.parquet(src).schema
    ckpt = str(tmp_path / "ck2")
    outdir = str(tmp_path / "out")

    def run():
        stream = spark.readStream.schema(batch_schema).parquet(src)
        out = streaming_approx_distinct(
            stream, "text", "role", alias="n_texts"
        )

        def sink(bdf, bid):   # memory sink can't recover; foreachBatch can
            bdf.withColumn("batch_id", F.lit(bid)).write.mode(
                "append").parquet(outdir)

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    run()
    shutil.copy(str(tmp_path / "b" / "part-0000.parquet"),
                os.path.join(src, "f2.parquet"))
    run()

    batch = spark.read.parquet(src)
    want = {
        r["role"]: r["n_texts"] for r in approx_distinct(
            batch, "text", group_by="role", alias="n_texts"
        ).collect()
    }
    from pyspark.sql import Window

    emitted = spark.read.parquet(outdir)
    last = (
        emitted.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("role").orderBy(F.desc("batch_id"))
            ),
        ).filter(F.col("rn") == 1)
    )
    got = {r["role"]: r["n_texts"] for r in last.collect()}
    assert got == want


def test_streaming_windowed_distinct(spark, tmp_path):
    d = tmp_path / "win-in"
    d.mkdir()
    src = str(d)
    gen.write(src, n_turns=10_000, n_convs=800, seed=9, n_files=2)
    batch = spark.read.parquet(src)
    secs = 6 * 3600
    want = {
        r["w"]: r["n"] for r in approx_distinct(
            batch.withColumn(
                "w",
                F.timestamp_seconds(
                    (F.unix_timestamp("ts") / secs).cast("long") * secs
                ),
            ),
            "conv_id", group_by="w", alias="n",
        ).collect()
    }
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = streaming_windowed_distinct(
        stream, "conv_id", "ts", window="6 hours",
        watermark="1 hour", alias="n",
    ).withColumnRenamed("window_start", "w")
    _run_available_now(out, str(tmp_path / "ck3"), "sink_w")
    got = {r["w"]: r["n"]
           for r in spark.sql("SELECT w, n FROM sink_w").collect()}
    assert got == want


def test_sketch_shard_sink_rollup_and_replay_idempotence(spark, tmp_path):
    from hyperloglog_spark import hll_rollup
    from hyperloglog_spark.streaming import sketch_shard_sink

    src = str(tmp_path / "in")
    gen.write(src, n_turns=20_000, n_convs=1_500, seed=13, n_files=4)
    batch = spark.read.parquet(src)
    shards_path = str(tmp_path / "shards")

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        sketch_shard_sink(
            stream, "conv_id", shards_path, str(tmp_path / "ck"),
            group_by="role",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive

    stored = spark.read.parquet(shards_path)
    got = {
        r["role"]: r["n"]
        for r in hll_rollup(stored, group_by="role", alias="n").collect()
    }
    want = {
        r["role"]: r["n"]
        for r in approx_distinct(
            batch, "conv_id", group_by="role", alias="n"
        ).collect()
    }
    assert got == want

    # at-least-once replay: duplicate EVERY shard row; estimates must not
    # move (register-max merge is idempotent)
    stored.write.mode("append").parquet(shards_path)
    doubled = spark.read.parquet(shards_path)
    assert doubled.count() == 2 * stored.count()
    got2 = {
        r["role"]: r["n"]
        for r in hll_rollup(doubled, group_by="role", alias="n").collect()
    }
    assert got2 == want


def test_streaming_quantiles_exact_regime_matches_batch(spark, tmp_path):
    """KLL streamed over micro-batches == batch build, value-for-value, in
    the exact regime (k >= stream size: merges concatenate, never compact)."""
    import numpy as np

    from hyperloglog_spark import approx_quantiles
    from hyperloglog_spark.streaming import streaming_approx_quantiles

    rng = np.random.default_rng(31)
    rows = [("g" + str(i % 3), float(x))
            for i, x in enumerate(rng.normal(100, 15, size=3000))]
    batch = spark.createDataFrame(rows, ["g", "x"])
    src = str(tmp_path / "src")
    # two files -> two micro-batches-worth of input
    batch.repartition(2).write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = streaming_approx_quantiles(stream, "x", "g", [0.5, 0.9], k=4096)
    (out.writeStream.format("memory").queryName("q_kll")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start().awaitTermination())
    got = {
        r["g"]: (r["q5"], r["q9"])
        for r in spark.sql(
            "SELECT * FROM q_kll").orderBy("g").collect()
    }
    want = {
        r["g"]: (r["q5"], r["q9"])
        for r in approx_quantiles(batch, "x", [0.5, 0.9], group_by="g",
                                  k=4096).collect()
    }
    assert got == want


def test_streaming_cms_sketch_rows_point_query(spark, tmp_path):
    """Streamed CMS bytes == batch CMS bytes (counter addition is exact);
    point queries over the emitted sketch match true counts."""
    import numpy as np

    from hyperloglog_spark.frequency import cms_agg
    from hyperloglog_spark.sketch import cms
    from hyperloglog_spark.streaming import streaming_cms_sketches

    rows = [("shard", f"tool-{i % 7}") for i in range(2100)]
    batch = spark.createDataFrame(rows, ["g", "tool"])
    src = str(tmp_path / "src-cms")
    batch.repartition(3).write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = streaming_cms_sketches(stream, "tool", "g")
    (out.writeStream.format("memory").queryName("q_cms")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck-cms"))
        .trigger(availableNow=True).start().awaitTermination())
    emitted = spark.sql("SELECT * FROM q_cms").collect()
    assert emitted, "no streaming emission"
    sk = bytes(emitted[-1]["sketch"])          # last (most complete) state

    want = bytes(cms_agg(batch, "tool").first()["sketch"])
    assert sk == want                          # byte-identical to batch

    import pyspark.sql.functions as F
    h = np.array([r[0] for r in batch.select(
        F.xxhash64("tool")).distinct().collect()], dtype=np.int64)
    est = cms.point_query(sk, h.view(np.uint64))
    assert sorted(est.tolist()) == [300] * 7   # exact counts per tool


def test_session_window_batch_parity_with_sessionize(spark):
    """Away from exact-boundary gaps, native session_window sessions must
    equal the batch window-function sessionize: same session count per key
    and same (n_events, duration_ms) multiset."""
    import datetime as dt

    from hyperloglog_spark.streaming import session_window_stats
    from hyperloglog_spark.transcripts import session_stats

    base = dt.datetime(2024, 1, 1)
    rows = []
    offs = {
        1: [0, 30, 70, 500, 520, 1500],     # gaps 30,40,430,20,980
        2: [0],
        3: [0, 99, 301, 950],               # gaps 99,202,649
    }
    for uid, ts_list in offs.items():
        for i, off in enumerate(ts_list):
            rows.append((uid, i, base + dt.timedelta(seconds=off)))
    df = spark.createDataFrame(rows, ["uid", "eid", "ts"])

    got = sorted(
        (r["uid"], r["n_events"], r["duration_ms"])
        for r in session_window_stats(
            df, "uid", "ts", gap_s=100, watermark_delay=None
        ).collect()
    )
    want = sorted(
        (r["uid"], r["n_events"], r["duration_ms"])
        for r in session_stats(
            df, "uid", "ts", gap_s=100, order_by="eid"
        ).collect()
    )
    assert got == want and len(got) == 7   # multiset compare: uid3 has two
    #                                        identical 1-event sessions


def test_session_window_boundary_matches_sessionize(spark):
    """A gap of exactly gap_s continues the session under BOTH operators
    (session_window merges touching [t, t+gap) windows; sessionize uses a
    strictly-greater test) — and gap_s + 1 splits under both."""
    import datetime as dt

    from hyperloglog_spark.streaming import session_window_stats
    from hyperloglog_spark.transcripts import sessionize

    base = dt.datetime(2024, 1, 1)
    for off_s, n_sessions in ((100, 1), (101, 2)):
        df = spark.createDataFrame(
            [(1, 0, base), (1, 1, base + dt.timedelta(seconds=off_s))],
            ["uid", "eid", "ts"],
        )
        nw = session_window_stats(df, "uid", "ts", 100, watermark_delay=None)
        assert nw.count() == n_sessions, off_s
        sz = sessionize(df, "uid", "ts", 100, order_by="eid")
        assert sz.agg(F.max("session_idx")).first()[0] == n_sessions - 1


def test_session_window_aqe_upstream_repro(spark):
    """Canary for the AQE-coalesce / MergingSessions interaction the
    batch-mode repartition pin in streaming/sessions.py works around
    (round 3 observed the raw plan returning ZERO rows with AQE on,
    correct with AQE off, on this same Spark 4.1.2). Round 5 attempted to
    re-reproduce across seven shapes — local relation, parquet scan,
    cached input, coalesce(1), TIMESTAMP_NTZ, shuffle partitions
    4/32/200 — and could NOT: the raw plan is correct on this build. This
    test asserts the currently-correct raw behavior so drift is caught in
    either direction: if it fails with 0 rows the round-3 bug is back and
    the (still-active) pin is load-bearing; while it stays green across
    rounds/environments, the pin is a retire candidate via
    ``_needs_aqe_session_pin``."""
    import datetime as dt

    from hyperloglog_spark.streaming.sessions import _needs_aqe_session_pin

    assert _needs_aqe_session_pin(spark)           # AQE on
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, base), (1, base + dt.timedelta(seconds=10)),
         (2, base + dt.timedelta(seconds=500))],
        ["uid", "ts"],
    )
    raw = (
        df.groupBy("uid", F.session_window(F.col("ts"), "100 seconds"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert raw.count() == 2


def test_session_window_pin_skipped_when_aqe_off(spark):
    """With AQE disabled the guard reports no pin needed and the raw plan
    is correct — proving the workaround is scoped to the bug's trigger."""
    from hyperloglog_spark.streaming import session_window_stats
    from hyperloglog_spark.streaming.sessions import _needs_aqe_session_pin

    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, base), (1, base + dt.timedelta(seconds=10)),
         (2, base + dt.timedelta(seconds=500))],
        ["uid", "ts"],
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert not _needs_aqe_session_pin(spark)
        got = session_window_stats(df, "uid", "ts", 100,
                                   watermark_delay=None)
        assert got.count() == 2
        assert "Repartition" not in got._jdf.queryExecution().logical().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


@pytest.mark.parametrize("version", ["4.2.0", "5.0.0"])
def test_session_window_pin_kept_on_newer_spark(spark, monkeypatch, version):
    """No upstream fix for the AQE session loss is known, so a newer Spark
    keeps the pin while AQE is on; only AQE off drops it."""
    from pyspark.sql import SparkSession

    from hyperloglog_spark.streaming.sessions import _needs_aqe_session_pin

    monkeypatch.setattr(SparkSession, "version",
                        property(lambda self: version))
    assert spark.version == version
    assert _needs_aqe_session_pin(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert not _needs_aqe_session_pin(spark)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_session_window_streaming_append(spark, tmp_path):
    """File-source stream through session_window_stats in APPEND mode:
    with a far-future sentinel row advancing the watermark, every real
    session is finalized and emitted exactly once, matching batch."""
    import datetime as dt

    from hyperloglog_spark.streaming import session_window_stats

    base = dt.datetime(2024, 1, 1)
    rows = []
    for uid in range(5):
        for s in range(3):                       # 3 sessions per uid
            for i in range(4):                   # 4 events per session
                rows.append(
                    (uid, base + dt.timedelta(seconds=s * 10_000 + i * 60))
                )
    rows.append((999, base + dt.timedelta(days=30)))  # watermark sentinel
    src = str(tmp_path / "sess-src")
    batch = spark.createDataFrame(rows, ["uid", "ts"])
    batch.repartition(3).write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = session_window_stats(
        stream, "uid", "ts", gap_s=600, watermark_delay="10 seconds"
    )
    (out.writeStream.format("memory").queryName("q_sess")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck-sess"))
        .trigger(availableNow=True).start().awaitTermination())
    got = spark.sql(
        "SELECT uid, n_events, duration_ms FROM q_sess WHERE uid < 999"
    ).collect()
    assert len(got) == 15                        # 5 uids x 3 sessions
    assert all(r["n_events"] == 4 for r in got)
    assert all(r["duration_ms"] == 180_000 for r in got)
    # append mode emitted each finalized session exactly once
    assert len({(r["uid"], r["duration_ms"], r["n_events"])
                for r in got}) <= 15


def test_streaming_theta_bytes_match_batch(spark, tmp_path):
    """Theta streamed over micro-batches == batch build byte-for-byte
    (the min-k union merge is deterministic and bracketing-insensitive),
    so the set-op closure applies to streamed states too."""
    from hyperloglog_spark.setops import ThetaAggregator, theta_sketch_agg
    from hyperloglog_spark.sketch import theta
    from hyperloglog_spark.streaming import streaming_sketch_agg

    rows = [("shard", f"user-{i % 900}") for i in range(2700)]
    batch = spark.createDataFrame(rows, ["g", "u"])
    src = str(tmp_path / "src-theta")
    batch.repartition(3).write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = streaming_sketch_agg(
        stream, "u", ThetaAggregator(k=256), "g", emit_sketch=True
    )
    (out.writeStream.format("memory").queryName("q_theta")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck-theta"))
        .trigger(availableNow=True).start().awaitTermination())
    emitted = spark.sql("SELECT * FROM q_theta").collect()
    assert emitted, "no streaming emission"
    sk = bytes(emitted[-1]["sketch"])

    want = bytes(theta_sketch_agg(batch, "u", k=256).first()["sketch"])
    assert sk == want
    assert theta.estimate(sk) == emitted[-1]["n_distinct_est"]


def test_streaming_cbf_bytes_match_batch(spark, tmp_path):
    """Counting Bloom streamed over micro-batches == batch build
    byte-for-byte: the merge is vector addition (a commutative group), so
    micro-batch bracketing cannot change the counters — and deletions
    arriving in different triggers than their inserts still cancel."""
    from hyperloglog_spark.membership import CbfAggregator, cbf_build
    from hyperloglog_spark.streaming import streaming_sketch_agg

    rows = [("shard", f"k-{i % 400}", 1) for i in range(1200)] + \
           [("shard", f"k-{i}", -1) for i in range(100)]
    batch = spark.createDataFrame(rows, ["g", "key", "d"])
    src = str(tmp_path / "src-cbf")
    batch.repartition(4).write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = streaming_sketch_agg(
        stream, "key", CbfAggregator(log2_m=12, k=3, delta_col="d"), "g",
        emit_sketch=True,
    )
    (out.writeStream.format("memory").queryName("q_cbf")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck-cbf"))
        .trigger(availableNow=True).start().awaitTermination())
    emitted = spark.sql("SELECT * FROM q_cbf").collect()
    assert emitted, "no streaming emission"
    sk = bytes(emitted[-1]["sketch"])

    want = cbf_build(batch, "key", delta_col="d", log2_m=12, k=3)
    assert sk == want
    assert emitted[-1]["net_added"] == 1100


def test_streaming_countsketch_bytes_match_batch(spark, tmp_path):
    """Count sketch streamed == batch byte-for-byte (signed counter
    addition is a commutative group)."""
    from hyperloglog_spark.frequency import CountSketchAggregator
    from hyperloglog_spark.engine.aggregate import sketch_agg
    from hyperloglog_spark.streaming import streaming_sketch_agg

    rows = [("shard", f"t-{i % 37}") for i in range(1500)]
    batch = spark.createDataFrame(rows, ["g", "v"])
    src = str(tmp_path / "src-cs")
    batch.repartition(5).write.parquet(src)

    agg = CountSketchAggregator(d=5, log2_w=10)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = streaming_sketch_agg(stream, "v", agg, "g", emit_sketch=True)
    (out.writeStream.format("memory").queryName("q_cs")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck-cs"))
        .trigger(availableNow=True).start().awaitTermination())
    emitted = spark.sql("SELECT * FROM q_cs").collect()
    assert emitted, "no streaming emission"
    sk = bytes(emitted[-1]["sketch"])

    want = bytes(
        sketch_agg(batch, ["v"], agg, ["g"], finalize=False)
        .first()["sketch"]
    )
    assert sk == want


def test_streaming_fd_gram_matches_batch_exact_regime(spark, tmp_path):
    """Frequent Directions streamed over micro-batches: FD bytes are merge-
    order-dependent, but in the exact regime (rows <= 2*ell, zero shrink)
    the Gram is the sum of row outer products — on an integer grid the
    streamed Gram must equal the batch Gram exactly."""
    import numpy as np
    from hyperloglog_spark.linalg import FdAggregator, fd_build
    from hyperloglog_spark.sketch import fd
    from hyperloglog_spark.streaming import streaming_sketch_agg

    rng = np.random.default_rng(23)
    rows = [("g", [float(x) for x in np.floor(rng.standard_normal(8) * 50)])
            for _ in range(100)]
    batch = spark.createDataFrame(rows, ["g", "vec"])
    src = str(tmp_path / "src-fd")
    batch.repartition(4).write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = streaming_sketch_agg(
        stream, "vec", FdAggregator(ell=128), "g", emit_sketch=True
    )
    (out.writeStream.format("memory").queryName("q_fd")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck-fd"))
        .trigger(availableNow=True).start().awaitTermination())
    emitted = spark.sql("SELECT * FROM q_fd").collect()
    assert emitted, "no streaming emission"
    sk = bytes(emitted[-1]["sketch"])

    want = fd_build(batch.select("vec"), "vec", ell=128)
    assert np.array_equal(fd.gram(sk), fd.gram(want))
    _, _, _, delta, fro2 = fd.params(sk)
    assert delta == 0.0
    assert fro2 == fd.params(want)[4]


def test_streaming_weighted_cms_bytes_match_batch(spark, tmp_path):
    """Weighted CMS through the generic streaming skeleton: the weight
    column rides prepare_columns unchanged, and counter addition keeps
    streamed == batch byte-identical."""
    from hyperloglog_spark.frequency import CmsAggregator
    from hyperloglog_spark.engine.aggregate import sketch_agg
    from hyperloglog_spark.streaming import streaming_sketch_agg

    rows = [("shard", f"k{i % 9}", (i % 4) + 1) for i in range(800)]
    batch = spark.createDataFrame(rows, ["g", "key", "w"])
    src = str(tmp_path / "src-wcms")
    batch.repartition(3).write.parquet(src)

    agg = CmsAggregator(d=3, log2_w=9, weight_col="w")
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = streaming_sketch_agg(stream, "key", agg, "g", emit_sketch=True)
    (out.writeStream.format("memory").queryName("q_wcms")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck-wcms"))
        .trigger(availableNow=True).start().awaitTermination())
    emitted = spark.sql("SELECT * FROM q_wcms").collect()
    assert emitted, "no streaming emission"
    sk = bytes(emitted[-1]["sketch"])
    want = bytes(sketch_agg(batch, ["key"], agg, ["g"],
                            finalize=False).first()["sketch"])
    assert sk == want


def test_streaming_weighted_kll_bytes_match_batch(spark, tmp_path):
    """Weighted KLL through the generic streaming skeleton, no-compaction
    regime (k >= total mass): binary-decomposition placement makes the
    level multisets independent of micro-batch splits, so the streamed
    state is byte-identical to the batch build, and the emitted quantiles
    match the batch surface exactly."""
    from hyperloglog_spark.quantiles import WeightedKllAggregator
    from hyperloglog_spark.engine.aggregate import sketch_agg
    from hyperloglog_spark.streaming import (
        streaming_approx_quantiles_weighted, streaming_sketch_agg,
    )

    rows = [("g", float(i % 37), (i % 5) + 1) for i in range(600)]
    batch = spark.createDataFrame(rows, ["g", "x", "w"])
    src = str(tmp_path / "src-wkll")
    batch.repartition(3).write.parquet(src)

    agg = WeightedKllAggregator([0.5], weight_col="w", k=8192)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = streaming_sketch_agg(stream, "x", agg, "g", emit_sketch=True)
    (out.writeStream.format("memory").queryName("q_wkll")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck-wkll"))
        .trigger(availableNow=True).start().awaitTermination())
    emitted = spark.sql("SELECT * FROM q_wkll").collect()
    assert emitted, "no streaming emission"
    sk = bytes(emitted[-1]["sketch"])
    want = bytes(sketch_agg(batch, ["x"], agg, ["g"],
                            finalize=False).first()["sketch"])
    assert sk == want

    # the public surface end to end (estimates, update mode)
    stream2 = spark.readStream.schema(batch.schema).parquet(src)
    out2 = streaming_approx_quantiles_weighted(
        stream2, "x", "w", "g", [0.25, 0.5, 0.75], method="kll", k=8192)
    (out2.writeStream.format("memory").queryName("q_wkll2")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck-wkll2"))
        .trigger(availableNow=True).start().awaitTermination())
    got = spark.sql("SELECT * FROM q_wkll2").collect()[-1]
    from hyperloglog_spark import approx_quantiles_weighted

    want_row = approx_quantiles_weighted(
        batch, "x", "w", [0.25, 0.5, 0.75], group_by="g",
        method="kll", k=8192).collect()[0]
    for c in ("q25", "q5", "q75"):
        assert got[c] == want_row[c], (c, got[c], want_row[c])
