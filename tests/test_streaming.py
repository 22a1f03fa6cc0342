"""M5 streaming surface: exactly-once file ingestion + event-time aggs.

Covers the reference's control-plane streaming semantics (SURVEY.md §2
A.9): ST1 polling → availableNow trigger, ST2 exactly-once per file →
checkpointed file log (asserted by restarting the query over the same
directory and seeing zero new rows), plus E6 batch/stream result parity
for windowed and session aggregations.
"""

import datetime as _dt
import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from loan_etl_data_pipeline_spark.streaming import (
    stream_etl,
    streaming_dedup,
    streaming_event_counts,
    streaming_running_totals,
    streaming_sessionize,
)

LOAN_SCHEMA = StructType(
    [
        StructField("loan_id", LongType()),
        StructField("timestamp", StringType()),
        StructField("loan_amount", DoubleType()),
        StructField("loan_type", StringType()),
    ]
)

CSV_A = """loan_id,timestamp,loan_amount,loan_type
1,2024-07-02 18:07:14,1000.5,personal
2,07/03/2024 09:00:00,,personal
3,02-07-2024 10:30:00,2000.0,auto
"""

CSV_B = """loan_id,timestamp,loan_amount,loan_type
4,not-a-date,3000.0,home
5,2024-07-05 01:02:03,4000.0,
"""


def _run_stream(spark, in_dir, out_dir, ckpt):
    q = stream_etl(
        spark,
        in_dir,
        out_dir,
        ckpt,
        schema=LOAN_SCHEMA,
        available_now=True,
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_stream_etl_exactly_once(spark, tmp_path):
    in_dir = tmp_path / "in"
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()
    (in_dir / "a.csv").write_text(CSV_A)

    _run_stream(spark, str(in_dir), out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    assert got.count() == 3
    assert {"date", "time"} <= set(got.columns)
    r3 = got.filter(F.col("loan_id") == 3).first()
    assert r3.date == "2024-07-02" and r3.time == "10:30:00"

    # restart over the same dir + a new file: only the new file lands (ST2)
    (in_dir / "b.csv").write_text(CSV_B)
    _run_stream(spark, str(in_dir), out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    assert got.count() == 5
    assert got.select("loan_id").distinct().count() == 5
    r4 = got.filter(F.col("loan_id") == 4).first()
    assert r4.date is None and r4.time is None  # unparseable ts contract


def test_stream_etl_batch_callback(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "a.csv").write_text(CSV_A)
    seen = []
    q = stream_etl(
        spark,
        str(in_dir),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        schema=LOAN_SCHEMA,
        available_now=True,
        on_batch=lambda df, bid: seen.append((bid, df.count())),
    )
    q.awaitTermination(120)
    assert sum(n for _, n in seen) == 3


@pytest.fixture(scope="module")
def events_batch(spark):
    rows = [
        (1, "click", "2024-01-01 00:05:00", 1.0),
        (1, "click", "2024-01-01 00:20:00", 2.0),
        (1, "view", "2024-01-01 01:10:00", 3.0),
        (2, "click", "2024-01-01 02:59:59", 4.5),
        (2, "view", "2024-01-01 03:00:00", 0.25),
    ]
    return (
        spark.createDataFrame(rows, "user_id long, event_type string, ts_s string, value double")
        .withColumn("ts", F.col("ts_s").cast("timestamp"))
        .drop("ts_s")
    )


def _stream_from(spark, batch_df, tmp_path, name):
    src = str(tmp_path / f"{name}_src")
    batch_df.write.mode("overwrite").parquet(src)
    return spark.readStream.schema(batch_df.schema).parquet(src)


def test_windowed_counts_stream_matches_batch(spark, events_batch, tmp_path):
    want = sorted(
        streaming_event_counts(events_batch).collect(),
        key=lambda r: (r.win_start, r.event_type),
    )
    stream = _stream_from(spark, events_batch, tmp_path, "win")
    q = (
        streaming_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows the watermark has closed; with a
    # bounded source the final watermark closes all but the last ones —
    # assert emitted ⊆ batch and that counts agree on emitted windows
    got = sorted(
        spark.sql("select * from win_counts").collect(),
        key=lambda r: (r.win_start, r.event_type),
    )
    want_by_key = {(r.win_start, r.event_type): r for r in want}
    assert len(got) > 0
    for r in got:
        w = want_by_key[(r.win_start, r.event_type)]
        assert (r.n_events, r.sum_value_c) == (w.n_events, w.sum_value_c)


def test_sessionize_stream_matches_batch(spark, events_batch, tmp_path):
    want = {
        (r.user_id, r.sess_start): (r.sess_end, r.n_events)
        for r in streaming_sessionize(events_batch).collect()
    }
    stream = _stream_from(spark, events_batch, tmp_path, "sess")
    q = (
        streaming_sessionize(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from sessions").collect()
    assert len(got) > 0
    for r in got:
        assert want[(r.user_id, r.sess_start)] == (r.sess_end, r.n_events)


def test_streaming_dedup_matches_batch(spark, events_batch, tmp_path):
    """Duplicate events dropped exactly once, stream == batch key set."""
    dup = events_batch.unionByName(events_batch)  # every event twice
    keys = ["user_id", "event_type", "ts"]
    want = sorted(
        (r.user_id, r.event_type, r.ts) for r in streaming_dedup(dup, keys).collect()
    )
    assert len(want) == events_batch.count()

    stream = _stream_from(spark, dup, tmp_path, "dedup")
    q = (
        streaming_dedup(stream, keys)
        .writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.event_type, r.ts)
        for r in spark.sql("select * from deduped").collect()
    )
    assert got == want


def test_running_totals_state_survives_restart(spark, tmp_path):
    """applyInPandasWithState: per-key state accumulates across
    micro-batches AND across query restarts (checkpointed state),
    converging to the batch groupBy answer."""
    schema = "user_id long, value double"
    b1 = spark.createDataFrame([(1, 1.0), (1, 2.5), (2, 3.0)], schema)
    b2 = spark.createDataFrame([(1, 0.5), (2, 1.25), (2, 2.0)], schema)
    src = str(tmp_path / "rt_src")
    ckpt = str(tmp_path / "rt_ckpt")

    def run():
        # foreachBatch sink: supports checkpoint recovery (memory sink
        # does not), which is exactly what this test exercises
        emitted: dict = {}

        def sink(df, _bid):
            for r in df.collect():
                emitted[r.user_id] = (r.n_events, r.total_cents)

        stream = spark.readStream.schema(b1.schema).parquet(src)
        q = (
            streaming_running_totals(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return emitted

    b1.coalesce(1).write.mode("append").parquet(src)
    got1 = run()
    assert got1 == {1: (2, 350), 2: (1, 300)}

    b2.coalesce(1).write.mode("append").parquet(src)
    got2 = run()  # same checkpoint: state restored, only new file read

    want = {r.user_id: (r.n_events, r.total_cents)
            for r in streaming_running_totals(b1.unionByName(b2)).collect()}
    assert got2 == want == {1: (3, 400), 2: (3, 625)}


def test_user_sessions_batch_semantics(spark, events_batch):
    # user 1: events at 00:05, 00:20 (gap 15m < 30m → same session), then
    # 01:10 (gap 50m → new session). user 2: 02:59:59 + 03:00 same session.
    rows = {
        (r.user_id, r.sess_start.isoformat()): r.n_events
        for r in streaming_sessionize(events_batch).collect()
    }
    assert rows[(1, "2024-01-01T00:05:00")] == 2
    assert rows[(1, "2024-01-01T01:10:00")] == 1
    assert rows[(2, "2024-01-01T02:59:59")] == 2


def test_streaming_enrich_matches_batch(spark, events_batch, tmp_path):
    from loan_etl_data_pipeline_spark.streaming.ingest import streaming_enrich

    dim = spark.createDataFrame(
        [(1, "gold"), (3, "silver")], "user_id long, segment string"
    )
    want = sorted(
        (r.user_id, r.event_type, r.segment)
        for r in streaming_enrich(events_batch, dim, "user_id").collect()
    )
    stream = _stream_from(spark, events_batch, tmp_path, "enrich")
    q = (
        streaming_enrich(stream, dim, "user_id")
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "enrich_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.event_type, r.segment)
        for r in spark.sql("select * from enriched").collect()
    )
    assert got == want
    # user 2 has no dimension row and must still be present (left join)
    assert any(u == 2 and s is None for u, _, s in got)


def test_streaming_upsert_converges_and_is_idempotent(spark, tmp_path):
    """File stream → merge-per-micro-batch: latest row per key wins,
    untouched partitions stay byte-stable, and a checkpointed restart
    with no new files changes nothing."""
    from loan_etl_data_pipeline_spark.streaming.ingest import streaming_upsert

    src = tmp_path / "in"
    src.mkdir()
    table = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "k LONG, day STRING, v DOUBLE, seq LONG"

    (src / "a.json").write_text(
        '{"k":1,"day":"d1","v":10.0,"seq":1}\n'
        '{"k":2,"day":"d1","v":20.0,"seq":1}\n'
        '{"k":3,"day":"d2","v":30.0,"seq":1}\n'
    )
    stream = spark.readStream.schema(schema).json(str(src))
    q = streaming_upsert(
        stream, table, ckpt, key_cols="k", partition_col="day",
        seq_col="seq", available_now=True,
    )
    q.awaitTermination(120)

    # second file: update k=2 (two versions in ONE batch — seq 3 wins),
    # insert k=7; k=3's partition is untouched
    (src / "b.json").write_text(
        '{"k":2,"day":"d1","v":21.0,"seq":2}\n'
        '{"k":2,"day":"d1","v":22.0,"seq":3}\n'
        '{"k":7,"day":"d1","v":70.0,"seq":2}\n'
    )
    stream = spark.readStream.schema(schema).json(str(src))
    q = streaming_upsert(
        stream, table, ckpt, key_cols="k", partition_col="day",
        seq_col="seq", available_now=True,
    )
    q.awaitTermination(120)

    rows = {r["k"]: r for r in spark.read.parquet(table).collect()}
    assert sorted(rows) == [1, 2, 3, 7]
    assert rows[2]["v"] == 22.0 and rows[2]["seq"] == 3
    assert rows[1]["v"] == 10.0 and rows[3]["v"] == 30.0 and rows[7]["v"] == 70.0

    # restart with the same checkpoint and no new files: no-op
    before = {r["k"]: tuple(r) for r in spark.read.parquet(table).collect()}
    stream = spark.readStream.schema(schema).json(str(src))
    q = streaming_upsert(
        stream, table, ckpt, key_cols="k", partition_col="day",
        seq_col="seq", available_now=True,
    )
    q.awaitTermination(120)
    after = {r["k"]: tuple(r) for r in spark.read.parquet(table).collect()}
    assert after == before


def test_streaming_upsert_survives_preexisting_empty_table_dir(spark, tmp_path):
    """A pre-created (or partially-written, footerless) table dir is
    unreadable but present; the first batch must overwrite it instead of
    wedging forever on ErrorIfExists."""
    from loan_etl_data_pipeline_spark.streaming.ingest import streaming_upsert

    src = tmp_path / "in"
    src.mkdir()
    table = tmp_path / "state"
    table.mkdir()  # exists, holds no committed parquet
    (table / "_garbage.tmp").write_text("not parquet")
    (src / "a.json").write_text('{"k":1,"day":"d1","v":1.0,"seq":1}\n')
    stream = spark.readStream.schema("k LONG, day STRING, v DOUBLE, seq LONG").json(
        str(src)
    )
    q = streaming_upsert(
        stream, str(table), str(tmp_path / "ckpt"), key_cols="k",
        partition_col="day", seq_col="seq", available_now=True,
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(table)).collect()
    assert len(rows) == 1 and rows[0]["k"] == 1


def test_stream_stream_interval_join_matches_batch(spark, events_batch, tmp_path):
    """Both sides unbounded: clicks joined to views within [0, 1h) per
    user, stream result == batch result of the identical join."""
    from loan_etl_data_pipeline_spark.streaming.ingest import (
        stream_stream_interval_join,
    )

    clicks_b = events_batch.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    views_b = events_batch.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    want = sorted(
        (r.user_id, r.ts, r.ts_r, r.value_r)
        for r in stream_stream_interval_join(
            clicks_b, views_b, lower_seconds=0, upper_seconds=3600
        ).collect()
    )
    assert len(want) > 0  # fixture really exercises the join

    clicks_s = _stream_from(spark, clicks_b, tmp_path, "ssj_clicks")
    views_s = _stream_from(spark, views_b, tmp_path, "ssj_views")
    q = (
        stream_stream_interval_join(
            clicks_s, views_s, lower_seconds=0, upper_seconds=3600
        )
        .writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.ts, r.ts_r, r.value_r)
        for r in spark.sql("select * from ssj").collect()
    )
    assert got == want


def test_streaming_heavy_hitters_guarantee_and_restart(spark, tmp_path):
    """Sharded Misra–Gries state across micro-batches + restarts: every
    value with true freq > shard_total/capacity must be in the final
    candidate set, counts are valid lower bounds, and state survives a
    checkpointed restart."""
    from loan_etl_data_pipeline_spark.streaming.ingest import (
        streaming_heavy_hitters,
    )

    schema = "event_type string"
    # skewed stream: 'hot' dominates, 'warm' frequent, long tail unique
    b1 = spark.createDataFrame(
        [("hot",)] * 40 + [("warm",)] * 12 + [(f"t{i}",) for i in range(12)], schema
    )
    b2 = spark.createDataFrame(
        [("hot",)] * 25 + [("warm",)] * 9 + [(f"u{i}",) for i in range(10)], schema
    )
    src, ckpt = str(tmp_path / "hh_src"), str(tmp_path / "hh_ckpt")

    def run():
        final: dict = {}

        def sink(df, _bid):
            for r in df.collect():
                final[(r.shard, r.item)] = (r.mg_count, r.shard_total)

        stream = spark.readStream.schema(b1.schema).parquet(src)
        q = (
            streaming_heavy_hitters(stream, capacity=4, n_shards=2)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return final

    b1.coalesce(1).write.mode("append").parquet(src)
    got1 = run()
    assert any(item == "hot" for _, item in got1)

    b2.coalesce(1).write.mode("append").parquet(src)
    got2 = run()  # restart from checkpoint: state restored

    both = b1.unionByName(b2)
    exact = {r.item: (r.shard, r.mg_count) for r in
             streaming_heavy_hitters(both, capacity=4, n_shards=2).collect()}
    shard_totals = {}
    for item, (shard, cnt) in exact.items():
        shard_totals[shard] = shard_totals.get(shard, 0) + cnt

    candidates = {item for (_, item) in got2}
    for item, (shard, true_cnt) in exact.items():
        if true_cnt > shard_totals[shard] / 4:
            assert item in candidates, (item, true_cnt, shard_totals[shard])
    # MG counts are lower bounds on true counts; shard totals exact
    for (shard, item), (mg_count, shard_total) in got2.items():
        if item in exact:
            assert mg_count <= exact[item][1]
        assert shard_total == shard_totals[shard]


def test_streaming_heavy_hitters_batch_path_is_exact(spark):
    from loan_etl_data_pipeline_spark.streaming.ingest import (
        streaming_heavy_hitters,
    )

    df = spark.createDataFrame([("a",)] * 3 + [("b",)] * 2 + [("c",)], "event_type string")
    rows = streaming_heavy_hitters(df, capacity=8, n_shards=2).collect()
    counts = {r.item: r.mg_count for r in rows}
    assert counts == {"a": 3, "b": 2, "c": 1}
    totals = {}
    for r in rows:
        totals.setdefault(r.shard, set()).add(r.shard_total)
    for shard, ts in totals.items():
        assert len(ts) == 1  # one consistent total per shard


def _neardup_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_BASE = ("the quick brown fox jumps over the lazy dog while the rain "
         "falls gently on the quiet village roofs at dusk tonight")


def test_stream_neardup_dedup_incremental_and_replay(spark, tmp_path):
    """foreachBatch + persistent band index: intra-batch near-dups drop
    by min-id, later batches drop against the index without re-reading
    corpus text, and a same-batch-id reprocess (checkpoint loss) must
    NOT match documents against their own previous postings."""
    from loan_etl_data_pipeline_spark.streaming.ingest import stream_neardup_dedup

    b1 = _neardup_docs(
        spark,
        [
            (1, _BASE),
            (2, _BASE + " extra"),  # near-dup of 1 -> intra-batch drop
            (3, "completely different text about spark partitions and "
                "shuffle exchanges during wide aggregations yesterday"),
        ],
    )
    src = str(tmp_path / "nd_src")
    idx, out, ckpt = (
        str(tmp_path / "nd_idx"),
        str(tmp_path / "nd_out"),
        str(tmp_path / "nd_ckpt"),
    )

    def run():
        stream = spark.readStream.schema(b1.schema).parquet(src)
        q = stream_neardup_dedup(
            stream,
            index_dir=idx,
            out_dir=out,
            checkpoint_dir=ckpt,
            threshold=0.6,
        )
        q.awaitTermination(120)

    b1.coalesce(1).write.mode("append").parquet(src)
    run()
    kept1 = {r.doc_id for r in spark.read.parquet(f"{out}/batch=0").collect()}
    assert kept1 == {1, 3}

    # batch 2: 10 is a near-dup of indexed doc 1; 11 is novel
    b2 = _neardup_docs(
        spark,
        [
            (10, _BASE + " again"),
            (11, "unrelated prose describing mountains rivers forests "
                 "and the slow migration of clouds across autumn skies"),
        ],
    )
    b2.coalesce(1).write.mode("append").parquet(src)
    run()
    kept2 = {r.doc_id for r in spark.read.parquet(f"{out}/batch=1").collect()}
    assert kept2 == {11}

    # checkpoint loss -> batch ids restart at 0 over the SAME files:
    # the bid=0 reprocess must exclude index_dir/batch=0 (its own prior
    # postings) or every doc would drop as a self-duplicate
    import shutil

    shutil.rmtree(ckpt)
    run()
    kept_replay = {r.doc_id for r in spark.read.parquet(f"{out}/batch=0").collect()}
    # reprocessed batch 0 = ALL files in one batch (b1+b2): 1 survives,
    # 2/10 drop as near-dups of 1, 3/11 survive -- and crucially none of
    # them were dropped against their own batch=0/1 index entries...
    assert 1 in kept_replay and 3 in kept_replay
    assert 2 not in kept_replay and 10 not in kept_replay


def test_streaming_heavy_hitters_ignores_nulls(spark):
    from loan_etl_data_pipeline_spark.streaming.ingest import (
        streaming_heavy_hitters,
    )

    df = spark.createDataFrame(
        [("a",), (None,), ("a",), (None,), ("b",)], "event_type string"
    )
    rows = streaming_heavy_hitters(df, capacity=4, n_shards=2).collect()
    assert {r.item: r.mg_count for r in rows} == {"a": 2, "b": 1}


def test_stream_scd2_matches_full_rebuild(spark, tmp_path):
    """Two micro-batches of change events maintain a versioned SCD2
    dimension identical to one batch rebuild over the union; a replayed
    batch does not fork history."""
    from loan_etl_data_pipeline_spark.operators.scd import scd2_from_history
    from loan_etl_data_pipeline_spark.sources.versioned import (
        list_versions,
        read_version,
    )
    from loan_etl_data_pipeline_spark.streaming.ingest import stream_scd2

    src = tmp_path / "src"
    src.mkdir()
    tbl = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, city string, ts long"

    def run():
        q = stream_scd2(
            spark.readStream.schema(schema).json(str(src)),
            tbl,
            key_cols="user_id",
            attr_cols="city",
            order_col="ts",
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(60)

    # batch 0: bootstrap (u1 moves a->b, u2 appears)
    (src / "b0.json").write_text(
        '{"user_id": 1, "city": "a", "ts": 10}\n'
        '{"user_id": 1, "city": "b", "ts": 20}\n'
        '{"user_id": 2, "city": "x", "ts": 15}\n'
    )
    run()
    assert list_versions(spark, tbl) == [1]

    # batch 1: u1 moves again, u2 no-op repeat, u3 new
    (src / "b1.json").write_text(
        '{"user_id": 1, "city": "c", "ts": 30}\n'
        '{"user_id": 2, "city": "x", "ts": 25}\n'
        '{"user_id": 3, "city": "y", "ts": 28}\n'
    )
    run()
    assert list_versions(spark, tbl) == [1, 2]

    maintained = read_version(spark, tbl)
    full = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "x", 15),
         (1, "c", 30), (2, "x", 25), (3, "y", 28)],
        schema,
    )
    rebuilt = scd2_from_history(full, "user_id", "city", "ts")
    key = lambda r: (r["user_id"], r["version"])  # noqa: E731
    got = {key(r): (r["city"], r["valid_from"], r["valid_to"], r["is_current"])
           for r in maintained.collect()}
    want = {key(r): (r["city"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in rebuilt.collect()}
    assert got == want
    # u2's ts=25 repeat collapsed; u1 has 3 versions
    assert sum(1 for (u, _) in got if u == 1) == 3
    assert sum(1 for (u, _) in got if u == 2) == 1

    # restart with no new data: no new snapshot, history not forked
    run()
    assert list_versions(spark, tbl) == [1, 2]


def test_stream_pit_enrich_matches_batch_pit(spark, tmp_path):
    """Streaming events pick up the dimension version valid AT THEIR
    TIMESTAMP (not the current one) — parity with the batch
    point_in_time_join over the same data."""
    from loan_etl_data_pipeline_spark.operators.scd import (
        point_in_time_join,
        scd2_from_history,
    )
    from loan_etl_data_pipeline_spark.sources.versioned import write_version
    from loan_etl_data_pipeline_spark.streaming.ingest import stream_pit_enrich

    hist = spark.createDataFrame(
        [(1, "bronze", 0), (1, "gold", 100), (2, "silver", 50)],
        "user_id long, tier string, ts long",
    )
    dim_dir = str(tmp_path / "dim")
    write_version(scd2_from_history(hist, "user_id", "tier", "ts"), dim_dir)

    src = tmp_path / "events"
    src.mkdir()
    (src / "e.json").write_text(
        '{"event_id": 10, "user_id": 1, "ts": 40}\n'   # bronze era
        '{"event_id": 11, "user_id": 1, "ts": 150}\n'  # gold era
        '{"event_id": 12, "user_id": 2, "ts": 10}\n'   # before first version
    )
    events = spark.readStream.schema(
        "event_id long, user_id long, ts long"
    ).json(str(src))
    out_rows = []
    q = (
        stream_pit_enrich(events, dim_dir, "user_id", "ts")
        .writeStream.foreachBatch(
            lambda df, _bid: out_rows.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {r["event_id"]: r["tier"] for r in out_rows}
    assert got == {10: "bronze", 11: "gold", 12: None}

    # exact parity with the batch PIT join on the same inputs
    batch = spark.createDataFrame(
        [(10, 1, 40), (11, 1, 150), (12, 2, 10)],
        "event_id long, user_id long, ts long",
    )
    dim = scd2_from_history(hist, "user_id", "tier", "ts")
    want = {r["event_id"]: r["tier"]
            for r in point_in_time_join(batch, dim, "user_id", "ts").collect()}
    assert got == want


def test_stream_stream_left_outer_join_matches_batch(spark, events_batch, tmp_path):
    """leftOuter stream⋈stream: unmatched clicks surface with NULL right
    columns once the watermark proves no view can still arrive. Two
    sentinel rows past the horizon flush the tail (the first advances
    the watermark, the second's micro-batch applies it), so the emitted
    multiset must equal the batch left join exactly."""
    import time as _time

    from loan_etl_data_pipeline_spark.streaming.ingest import (
        stream_stream_interval_join,
    )

    clicks_b = events_batch.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    views_b = events_batch.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    want = sorted(
        (
            (r.user_id, r.ts, r.ts_r, r.value_r)
            for r in stream_stream_interval_join(
                clicks_b, views_b, lower_seconds=0, upper_seconds=3600,
                how="leftOuter",
            ).collect()
        ),
        key=repr,
    )
    n_unmatched = sum(1 for w in want if w[2] is None)
    assert n_unmatched > 0  # fixture really exercises the outer branch

    max_ts = events_batch.agg(F.max("ts")).collect()[0][0]
    horizon = [max_ts + _dt.timedelta(days=10 * k) for k in (1, 2)]

    def _src(batch_df, name):
        src = str(tmp_path / f"{name}_src")
        batch_df.coalesce(1).write.mode("overwrite").parquet(src)
        for i, h in enumerate(horizon):
            _time.sleep(0.05)  # later mod time → later micro-batch
            spark.createDataFrame(
                [(-999 - i, h, 0.0)], batch_df.schema
            ).coalesce(1).write.mode("append").parquet(src)
        return (
            spark.readStream.schema(batch_df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    q = (
        stream_stream_interval_join(
            _src(clicks_b, "sslo_clicks"),
            _src(views_b, "sslo_views"),
            lower_seconds=0,
            upper_seconds=3600,
            how="leftOuter",
        )
        .writeStream.format("memory")
        .queryName("sslo")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sslo_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (
            (r.user_id, r.ts, r.ts_r, r.value_r)
            for r in spark.sql(
                "select * from sslo where user_id > -900"
            ).collect()
        ),
        key=repr,
    )
    assert got == want


def test_stream_stream_join_rejects_unknown_how(spark, events_batch):
    from loan_etl_data_pipeline_spark.streaming.ingest import (
        stream_stream_interval_join,
    )

    with pytest.raises(ValueError, match="inner or leftOuter"):
        stream_stream_interval_join(events_batch, events_batch, how="full")


def test_streaming_upsert_cdc_tombstones(spark, tmp_path):
    """op_col delete semantics: the per-key max-seq survivor decides —
    update-then-delete deletes, delete-then-reinsert re-inserts, a
    fully-deleted partition's directory disappears, and the control
    column never lands in the table."""
    import os

    from loan_etl_data_pipeline_spark.streaming.ingest import streaming_upsert

    src = tmp_path / "in"
    src.mkdir()
    table = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "k LONG, day STRING, v DOUBLE, seq LONG, op STRING"

    def run():
        stream = spark.readStream.schema(schema).json(str(src))
        q = streaming_upsert(
            stream, table, ckpt, key_cols="k", partition_col="day",
            seq_col="seq", available_now=True, op_col="op",
        )
        q.awaitTermination(120)

    (src / "a.json").write_text(
        '{"k":1,"day":"d1","v":10.0,"seq":1,"op":"u"}\n'
        '{"k":2,"day":"d1","v":20.0,"seq":1,"op":"u"}\n'
        '{"k":3,"day":"d2","v":30.0,"seq":1,"op":"u"}\n'
    )
    run()
    (src / "b.json").write_text(
        # k=1: update seq2 then delete seq3 IN ONE BATCH → delete wins
        '{"k":1,"day":"d1","v":11.0,"seq":2,"op":"u"}\n'
        '{"k":1,"day":"d1","v":0.0,"seq":3,"op":"d"}\n'
        # k=3: delete seq2 then re-insert seq3 → re-insert wins
        '{"k":3,"day":"d2","v":0.0,"seq":2,"op":"d"}\n'
        '{"k":3,"day":"d2","v":33.0,"seq":3,"op":"u"}\n'
    )
    run()
    got = {(r["k"], r["day"], r["v"]) for r in spark.read.parquet(table).collect()}
    assert got == {(2, "d1", 20.0), (3, "d2", 33.0)}
    assert "op" not in spark.read.parquet(table).columns

    # delete the LAST key of d1 → the partition directory itself goes
    (src / "c.json").write_text('{"k":2,"day":"d1","v":0.0,"seq":4,"op":"d"}\n')
    run()
    got = {(r["k"], r["v"]) for r in spark.read.parquet(table).collect()}
    assert got == {(3, 33.0)}
    assert not os.path.exists(f"{table}/day=d1")

    # replay with a fresh checkpoint: same end state (idempotent)
    import shutil

    shutil.rmtree(ckpt)
    run()
    got = {(r["k"], r["v"]) for r in spark.read.parquet(table).collect()}
    assert got == {(3, 33.0)}


def test_stream_reconcile_rebuild_parity_and_replay(spark, tmp_path):
    """Streamed one-to-one reconciliation over time-ordered batches
    must equal ONE global batch run on everything ingested (matched
    multiset + open breaks), and a same-batch-id reprocess must
    overwrite, not double-match."""
    import pyspark.sql.functions as F

    from loan_etl_data_pipeline_spark.operators.diff import reconcile_one_to_one
    from loan_etl_data_pipeline_spark.streaming.ingest import stream_reconcile

    rows = [
        # (key, side, t, amount) — time-ordered; group 1 interleaves
        (1, "a", 1, 100), (1, "b", 2, 101), (1, "a", 3, 102),
        (1, "a", 4, 103), (1, "b", 5, 104),
        (2, "a", 1, 500), (2, "b", 2, 505),
        (3, "b", 1, 900),
    ]
    schema = "k long, side string, t long, v long"
    batches = [rows[:3], rows[3:6], rows[6:]]
    src = str(tmp_path / "rc_src")
    pend, out, ckpt = (
        str(tmp_path / "rc_pend"),
        str(tmp_path / "rc_out"),
        str(tmp_path / "rc_ckpt"),
    )

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = stream_reconcile(
            stream,
            pending_dir=pend,
            out_dir=out,
            checkpoint_dir=ckpt,
            side_col="side",
            side_a="a",
            side_b="b",
            key_cols=["k"],
            order_cols=["t"],
            value_col="v",
        )
        q.awaitTermination(120)

    for i, chunk in enumerate(batches):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run()

    matched_stream = {
        (r["k"], r["v_a"], r["v_b"])
        for r in spark.read.parquet(f"{out}/batch=*").collect()
    }
    # global batch reference over everything, same arrival order (t)
    alldf = spark.createDataFrame(rows, schema).withColumn(
        "__arr", F.lit(0).cast("long")
    )
    ref = reconcile_one_to_one(
        alldf.filter("side = 'a'"),
        alldf.filter("side = 'b'"),
        ["k"],
        ["__arr", "t"],
        "v",
    )
    matched_ref = {
        (r["k"], r["v_a"], r["v_b"])
        for r in ref.filter("status = 'matched'").collect()
    }
    assert matched_stream == matched_ref
    # open breaks after the last batch == the global run's breaks
    import glob as _glob

    last = max(
        int(p.rsplit("=", 1)[1])
        for p in _glob.glob(f"{pend}/batch=*")
    )
    open_rows = {
        (r["k"], r["side"], r["t"], r["v"])
        for r in spark.read.parquet(f"{pend}/batch={last}").collect()
    }
    ref_open = {
        (r["k"], "a" if r["v_a"] is not None else "b", None, None)
        for r in ref.filter("status <> 'matched'").collect()
    }
    assert len(open_rows) == len(ref_open)
    assert {(k, s) for k, s, _, _ in open_rows} == {
        (k, s) for k, s, _, _ in ref_open
    }

    # checkpoint LOSS: batch ids restart at 0 over ALL input files.
    # The bid=0 reprocess must WIPE the stale batch=1..N outputs and
    # pending snapshots (else the matched feed double-counts every
    # previously matched pair) and converge to the fresh-full-run state.
    import shutil

    shutil.rmtree(ckpt)
    run()
    matched_after_loss = {
        (r["k"], r["v_a"], r["v_b"])
        for r in spark.read.parquet(f"{out}/batch=*").collect()
    }
    assert matched_after_loss == matched_ref
    rows_after_loss = spark.read.parquet(f"{out}/batch=*").count()
    assert rows_after_loss == len(
        [r for r in ref.filter("status = 'matched'").collect()]
    )
    last2 = max(
        int(p.rsplit("=", 1)[1]) for p in _glob.glob(f"{pend}/batch=*")
    )
    assert spark.read.parquet(f"{pend}/batch={last2}").count() == len(ref_open)


def test_stream_etl_counts_each_landed_row_once(spark, tmp_path):
    """Each micro-batch is read once although the mode job and the write
    both consume it: the query's numInputRows equals the landed rows, in
    the first run and after a restart on the same checkpoint."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    args = (spark, str(in_dir), str(tmp_path / "out"), str(tmp_path / "ckpt"))
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()

    for name, text, landed in (("a.csv", CSV_A, 3), ("b.csv", CSV_B, 2)):
        (in_dir / name).write_text(text)
        q = stream_etl(*args, schema=LOAN_SCHEMA, available_now=True)
        q.awaitTermination(120)
        assert not q.isActive
        assert sum(p["numInputRows"] for p in q.recentProgress) == landed
        assert cm.isEmpty(), "a micro-batch stayed cached"
