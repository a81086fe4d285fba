"""Crash-recovery proof for the exactly-once streaming sinks.

The scenario Structured Streaming's checkpoint protocol must survive:
a microbatch's foreachBatch APPLY succeeds, then the process dies before
the checkpoint commit — on restart the engine REDELIVERS that batch id.
The two production sink disciplines under test (VERDICT r3 ask #5):

- keyed upsert (`upsert_merge_batch`): redelivery-idempotent by
  construction — re-merging the same (key, latest) rows replaces them
  with themselves;
- additive CMS state (`cms_merge_batch`): NOT naturally idempotent
  (cells are sums), so the applied-batch ledger written in the same
  atomic swap must detect and skip the redelivered id.

Each test runs phase 1 with a wrapper that applies the real merge and
then raises (simulating the post-apply crash), restarts the SAME query
from the SAME checkpoint, and proves the final table equals the batch
oracle computed directly from the source — no loss, no double-apply."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from multisql_spark.statedir import init_state_dir
from multisql_spark.streaming import cms_merge_batch, upsert_merge_batch
from multisql_spark.tables import tune_session

SF_DIR = "/root/testdata/sf0.001"


class _CrashAfterApply(RuntimeError):
    pass


def _run_stream(stream_df, merger, ckpt: str, crash_on: int | None):
    """Drive one streaming run; with crash_on set, the real merger runs
    for that batch id and THEN the process 'dies' (exception before the
    checkpoint commit)."""

    def body(batch_df, batch_id):
        merger(batch_df, batch_id)
        if crash_on is not None and batch_id == crash_on:
            raise _CrashAfterApply(f"simulated crash after batch {batch_id}")

    q = (
        stream_df.writeStream.outputMode("update")
        .foreachBatch(body)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    except Exception:
        pass  # the simulated crash surfaces here
    finally:
        q.stop()


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_upsert_sink_restart_recovery(spark, tmp_path):
    tune_session(spark)
    src = f"{SF_DIR}/events.parquet"
    batch_schema = spark.read.parquet(src).schema
    stream_dir = str(tmp_path / "src")
    # 4 files + maxFilesPerTrigger=1 -> 4 microbatches
    spark.read.parquet(src).repartition(4).write.parquet(stream_dir)
    out_dir = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    def make_stream():
        s = (
            spark.readStream.schema(batch_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        if dict(s.dtypes).get("ts") == "bigint":
            s = s.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        ord_struct = F.struct(
            F.unix_timestamp("ts").cast("long").alias("ts_sec"),
            F.col("event_id").alias("event_id"),
            F.col("value").alias("value"),
            F.col("event_type").alias("event_type"),
        )
        return (
            s.groupBy(F.col("user_id").cast("long").alias("user_id"))
            .agg(F.max(ord_struct).alias("last"))
            .select(
                "user_id",
                F.col("last.ts_sec").alias("last_ts_sec"),
                F.col("last.event_id").alias("last_event_id"),
                F.col("last.value").alias("last_value"),
                F.col("last.event_type").alias("last_type"),
            )
        )

    latest = make_stream()
    init_state_dir(spark.createDataFrame([], latest.schema), out_dir)
    merger = lambda df, bid: upsert_merge_batch(spark, out_dir, df, bid)  # noqa: E731

    # phase 1: crash AFTER batch 1's apply, before its checkpoint commit
    _run_stream(latest, merger, ckpt, crash_on=1)
    applied_mid = spark.read.parquet(out_dir).count()
    assert applied_mid > 0, "no batch committed before the crash"

    # phase 2: restart from the same checkpoint; batch 1 is redelivered
    _run_stream(make_stream(), merger, ckpt, crash_on=None)

    # batch oracle: same max_by over the whole source in one pass
    b = spark.read.parquet(stream_dir)
    if dict(b.dtypes).get("ts") == "bigint":
        b = b.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    ord_struct = F.struct(
        F.unix_timestamp("ts").cast("long").alias("ts_sec"),
        F.col("event_id").alias("event_id"),
        F.col("value").alias("value"),
        F.col("event_type").alias("event_type"),
    )
    expected = (
        b.groupBy(F.col("user_id").cast("long").alias("user_id"))
        .agg(F.max(ord_struct).alias("last"))
        .select(
            "user_id",
            F.col("last.ts_sec").alias("last_ts_sec"),
            F.col("last.event_id").alias("last_event_id"),
            F.col("last.value").alias("last_value"),
            F.col("last.event_type").alias("last_type"),
        )
    )
    got = spark.read.parquet(out_dir)
    assert _sorted_rows(got) == _sorted_rows(expected)


def test_cms_sink_restart_recovery_no_double_count(spark, tmp_path):
    tune_session(spark)
    src = f"{SF_DIR}/documents.parquet"
    batch_schema = spark.read.parquet(src).schema
    stream_dir = str(tmp_path / "src")
    spark.read.parquet(src).repartition(3).write.parquet(stream_dir)
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    init_state_dir(spark.createDataFrame([], "r INT, bucket LONG, cell LONG, bid LONG"), state_dir)

    def make_stream():
        return (
            spark.readStream.schema(batch_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )

    merger = lambda df, bid: cms_merge_batch(spark, state_dir, df, bid)  # noqa: E731

    # phase 1: batch 1 applies its cells + ledger row, then "crashes"
    _run_stream(make_stream(), merger, ckpt, crash_on=1)
    state_mid = spark.read.parquet(state_dir)
    assert state_mid.filter(F.col("bid") == 1).count() == 1, (
        "ledger row for the crashed batch must be present (apply preceded "
        "the crash)"
    )

    # phase 2: restart; batch 1 is redelivered and must be SKIPPED
    _run_stream(make_stream(), merger, ckpt, crash_on=None)

    # the additive sketch equals the one-pass batch sketch iff no batch
    # was double-applied and none was lost
    cells = (
        spark.read.parquet(state_dir)
        .filter(F.col("bid").isNull())
        .select("r", "bucket", "cell")
    )
    from multisql_spark.streaming import _cms_bucket

    toks = spark.read.parquet(stream_dir).select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    rows_ = F.array([F.lit(r) for r in range(4)])
    expected = (
        toks.select("tok", F.explode(rows_).alias("r"))
        .select("r", _cms_bucket(F.col("tok"), F.col("r")).alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cell"))
    )
    assert _sorted_rows(cells) == _sorted_rows(expected)
    # ledger holds every applied batch exactly once
    bids = sorted(
        r[0]
        for r in spark.read.parquet(state_dir)
        .filter(F.col("bid").isNotNull())
        .select("bid")
        .collect()
    )
    assert bids == [0, 1, 2]


def test_hll_sink_restart_recovery_idempotent_without_ledger(spark, tmp_path):
    """The MAX-merge HLL sink is the third discipline: naturally
    idempotent ALGEBRA, so redelivery needs no ledger at all.  Crash
    after batch 1's apply, restart, let batch 1 redeliver and re-apply —
    the final registers must still equal the one-pass batch registers."""
    from multisql_spark.operators import sketch as sk
    from multisql_spark.streaming import hll_merge_batch

    tune_session(spark)
    src = f"{SF_DIR}/events.parquet"
    batch_schema = spark.read.parquet(src).schema
    stream_dir = str(tmp_path / "src")
    spark.read.parquet(src).repartition(3).write.parquet(stream_dir)
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    init_state_dir(spark.createDataFrame([], "col_name STRING, bucket INT, rho INT"), state_dir)

    def make_stream():
        return (
            spark.readStream.schema(batch_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )

    merger = lambda df, bid: hll_merge_batch(spark, state_dir, df, bid)  # noqa: E731

    _run_stream(make_stream(), merger, ckpt, crash_on=1)
    # restart: batch 1 redelivers and RE-APPLIES (no ledger, no skip)
    _run_stream(make_stream(), merger, ckpt, crash_on=None)

    final = spark.read.parquet(state_dir)
    events = spark.read.parquet(stream_dir)
    expected = sk.hll_merge(
        sk.hll_registers(events, "user_id"),
        sk.hll_registers(events, "event_id"),
    )
    assert _sorted_rows(final) == _sorted_rows(expected)


def test_bottomk_sink_restart_recovery_idempotent_without_ledger(spark, tmp_path):
    """Min-k is the same idempotent-monoid discipline as the HLL MAX:
    crash after apply, redeliver, re-apply — the standing sample must
    still equal the one-pass bottom-k of the whole source."""
    from multisql_spark.streaming import bottomk_merge_batch

    tune_session(spark)
    src = f"{SF_DIR}/events.parquet"
    batch_schema = spark.read.parquet(src).schema
    stream_dir = str(tmp_path / "src")
    spark.read.parquet(src).repartition(3).write.parquet(stream_dir)
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    init_state_dir(spark.createDataFrame([], "value DOUBLE, event_id LONG, h STRING"), state_dir)

    def make_stream():
        return (
            spark.readStream.schema(batch_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )

    merger = lambda df, bid: bottomk_merge_batch(spark, state_dir, df, bid)  # noqa: E731

    _run_stream(make_stream(), merger, ckpt, crash_on=1)
    _run_stream(make_stream(), merger, ckpt, crash_on=None)

    final = spark.read.parquet(state_dir)
    events = spark.read.parquet(stream_dir)
    expected = (
        events.select(
            "value",
            "event_id",
            F.md5(F.col("event_id").cast("string")).alias("h"),
        )
        .orderBy("h", "event_id")
        .limit(1024)
    )
    assert _sorted_rows(final) == _sorted_rows(expected)


def test_state_swap_is_atomic_no_crash_window(spark, tmp_path):
    """VERDICT r6 ask #6: the state pointer is now a symlink published
    with one rename(2), so there is NO crash window and the healing
    branch is gone.  Simulate a crash at the only non-atomic boundary —
    the new version directory fully written, a stale tmp link created,
    the publish rename never executed — and prove the reader still sees
    the complete PRE-swap state with no repair step; redelivering the
    interrupted batch then converges, and the sweep removes the orphan
    version and stale link."""
    import os

    from multisql_spark.operators import sketch as sk
    from multisql_spark.streaming import hll_merge_batch

    tune_session(spark)
    src = f"{SF_DIR}/events.parquet"
    events = spark.read.parquet(src)
    state_dir = str(tmp_path / "state")
    init_state_dir(
        spark.createDataFrame([], "col_name STRING, bucket INT, rho INT"),
        state_dir,
    )

    hll_merge_batch(spark, state_dir, events, 0)
    expected = sk.hll_merge(
        sk.hll_registers(events, "user_id"),
        sk.hll_registers(events, "event_id"),
    )
    assert _sorted_rows(spark.read.parquet(state_dir)) == _sorted_rows(
        expected
    )
    published = os.readlink(state_dir)

    # crash window simulation: batch 1's swap wrote its version dir and
    # tmp link, then died BEFORE the publish rename
    cur_n = int(published.rsplit(".__v", 1)[1])
    orphan = f"{state_dir}.__v{cur_n + 1}"
    spark.createDataFrame(
        [("GARBAGE", 0, 0)], "col_name STRING, bucket INT, rho INT"
    ).coalesce(1).write.parquet(orphan)
    os.symlink(orphan, f"{state_dir}.__lntmp")

    # no repair, no healing: the pointer still resolves to the complete
    # pre-swap state
    assert os.readlink(state_dir) == published
    assert _sorted_rows(spark.read.parquet(state_dir)) == _sorted_rows(
        expected
    )

    # batch 1 redelivers: idempotent re-merge converges, and the swap
    # sweeps the orphan version; the stale tmp link is reused/replaced
    hll_merge_batch(spark, state_dir, events, 1)
    assert _sorted_rows(spark.read.parquet(state_dir)) == _sorted_rows(
        expected
    )
    assert not os.path.exists(f"{state_dir}.__lntmp")
    live = os.readlink(state_dir)
    leftovers = [
        p
        for p in os.listdir(os.path.dirname(state_dir))
        if p.startswith(os.path.basename(state_dir) + ".__v")
        and os.path.join(os.path.dirname(state_dir), p) != live
    ]
    assert leftovers == []


def test_stage_source_handles_both_parquet_layouts(spark, tmp_path):
    """r6 regression: derived scale dirs are Spark-written DIRECTORIES of
    part files, and the file-stream source does not descend into a
    symlinked subdirectory — staging must symlink each part file
    individually (single-file sources keep the old one-symlink shape)."""
    import glob

    from multisql_spark.streaming import _stage_source

    # directory layout: Spark-written multi-part parquet
    src_dir = str(tmp_path / "events_dir.parquet")
    spark.range(100).selectExpr("id AS event_id").repartition(3).write.parquet(
        src_dir
    )
    stage1 = str(tmp_path / "stage_dir")
    os.makedirs(stage1)
    _stage_source(src_dir, stage1, "events")
    links = sorted(glob.glob(f"{stage1}/events_part*.parquet"))
    assert len(links) == 3
    assert all(os.path.islink(p) for p in links)
    assert spark.read.parquet(stage1).count() == 100
    # a batch read through the stage dir sees no _SUCCESS/_committed noise
    assert not glob.glob(f"{stage1}/_*")

    # single-file layout: one symlink, original name contract
    src_file = f"{SF_DIR}/events.parquet"
    stage2 = str(tmp_path / "stage_file")
    os.makedirs(stage2)
    _stage_source(src_file, stage2, "events")
    assert os.path.islink(os.path.join(stage2, "events.parquet"))
    assert len(os.listdir(stage2)) == 1


def test_swap_sigkill_mid_publish_converges(spark, tmp_path):
    """VERDICT r7 ask #5: a REAL SIGKILL (not a simulated exception) of
    the writer process between the new version's parquet write and the
    pointer rename.  The victim subprocess runs the genuine
    ``swap_state_dir`` with ``os.rename`` instrumented to SIGKILL its own
    process the instant the publish rename is attempted — so every real
    step up to (and excluding) the atomic publish has executed when the
    process dies, with no Python/JVM cleanup of any kind.  The reader
    must still see the complete pre-swap state, and redelivering the
    batch must converge and sweep the orphans."""
    import os
    import signal
    import subprocess
    import sys

    from multisql_spark.statedir import init_state_dir, swap_state_dir

    state = str(tmp_path / "state")
    seed = spark.range(10).selectExpr("id AS k", "id AS v")
    init_state_dir(seed, state)
    published = os.readlink(state)
    before = _sorted_rows(spark.read.parquet(state))

    victim = tmp_path / "victim.py"
    victim.write_text(
        """
import os, signal, sys
sys.path.insert(0, sys.argv[2])
from multisql_spark.statedir import swap_state_dir
from multisql_spark.tables import local_session

state = sys.argv[1]
spark = local_session("swap_sigkill_victim")
new_state = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
real_rename = os.rename
def rename_then_die(src, dst):
    if os.path.abspath(dst) == os.path.abspath(state):
        os.kill(os.getpid(), signal.SIGKILL)  # dies MID-publish
    return real_rename(src, dst)
os.rename = rename_then_die
swap_state_dir(state, new_state)
os._exit(1)  # unreachable: the SIGKILL must have fired
"""
    )
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, str(victim), state, repo_root],
        capture_output=True,
        timeout=300,
    )
    assert proc.returncode == -signal.SIGKILL, (
        proc.returncode,
        proc.stderr.decode()[-2000:],
    )

    # the victim wrote __v1 and died at the publish: the pointer still
    # resolves to the complete pre-swap state — no repair, no healing
    assert os.readlink(state) == published
    assert os.path.isdir(f"{state}.__v1"), "new version was fully written"
    assert _sorted_rows(spark.read.parquet(state)) == before

    # redelivery converges: the same batch re-applies, publishes, and
    # sweeps the orphan version + stale tmp link
    new_state = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    swap_state_dir(state, new_state)
    assert spark.read.parquet(state).count() == 100
    assert not os.path.exists(f"{state}.__lntmp")
    live = os.readlink(state)
    leftovers = [
        p
        for p in os.listdir(tmp_path)
        if p.startswith("state.__v") and str(tmp_path / p) != live
    ]
    assert leftovers == []


def test_run_surfaces_batch_failure_and_stops(spark, tmp_path):
    """``_run`` is the one place a stream starts and drains: a failing
    ``foreachBatch`` body surfaces as the run's own failure, no query is
    left running after it, and a memory-sink run over a staged 3-file
    source returns every row."""
    from pyspark.errors import StreamingQueryException

    from multisql_spark.streaming import _read_stream, _run, _staged

    src = str(tmp_path / "ids.parquet")
    spark.range(30).selectExpr("id AS event_id").repartition(3).write.parquet(
        src
    )
    stream_dir = _staged(src, "run_contract_", "ids")

    def fail(batch_df, batch_id):
        raise _CrashAfterApply(f"batch body failed at {batch_id}")

    with pytest.raises(StreamingQueryException, match="batch body failed"):
        _run(_read_stream(spark, src, stream_dir), "append", batch=fail)
    assert spark.streams.active == []

    _run(_read_stream(spark, src, stream_dir, 1), "append", name="run_out")
    rows = spark.table("run_out").collect()
    assert sorted(r.event_id for r in rows) == list(range(30))


def test_fold_keeps_state_versions_in_its_scratch_dir(spark, tmp_path):
    """``_fold`` seeds a state dir and publishes one merge per
    micro-batch; every version of that state lives inside the state's
    own scratch directory, so removing that directory (its process-exit
    cleanup) removes them all.  ``rmtree`` does not follow a symlink, so
    a state path that was itself the scratch directory left its last
    version behind."""
    from multisql_spark.statedir import swap_state_dir
    from multisql_spark.streaming import _fold, _read_stream, _staged

    src = str(tmp_path / "ids.parquet")
    spark.range(30).selectExpr("id AS event_id").repartition(3).write.parquet(
        src
    )

    def append(spark_, state_dir, batch_df, batch_id):
        state = spark_.read.parquet(state_dir)
        swap_state_dir(state_dir, state.unionByName(batch_df))

    stream = _read_stream(spark, src, _staged(src, "fold_", "ids"), 1)
    state_dir = _fold(stream, "append", "event_id LONG", append)
    rows = spark.read.parquet(state_dir).collect()
    assert sorted(r.event_id for r in rows) == list(range(30))

    version = os.path.realpath(state_dir)
    assert os.path.basename(version) == "state.__v3"  # seed + 3 batches
    shutil.rmtree(os.path.dirname(state_dir))
    assert not os.path.exists(version)


def test_nanos_ts_reads_as_micros_in_batch_and_stream(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``ts``, as an ``events`` file may store it,
    reads as nanos-as-long and is converted by one rule, the columns the
    file's footer marks NANOS (``tables.parquet_schema``), on the batch
    path and on the stream path alike: truncated to microseconds, as
    DuckDB casts TIMESTAMP_NS to TIMESTAMP."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from multisql_spark.streaming import _read_stream, _run, _staged
    from multisql_spark.tables import read_parquet

    src = str(tmp_path / "events.parquet")
    ts_ns = [981173100_123456789, 981173160_000000999]
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ts_ns, pa.timestamp("ns"))}),
        src,
    )
    tune_session(spark)
    batch = read_parquet(spark, src)
    _run(
        _read_stream(spark, src, _staged(src, "nanos_", "events")),
        "append",
        name="nanos_out",
    )
    for df in (batch, spark.table("nanos_out")):
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = df.orderBy("event_id").selectExpr("unix_micros(ts)").collect()
        assert [r[0] for r in got] == [t // 1000 for t in ts_ns]
