from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation_rag_data_pipeline_spark.operators.windows import (
    tumbling_bucket,
)
from retrieval_augmented_generation_rag_data_pipeline_spark.sources.readers import (
    load_events,
)
from retrieval_augmented_generation_rag_data_pipeline_spark.streaming.stream import (
    read_document_stream,
    run_stream,
    sessionized_events,
    windowed_events,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events(spark):
    return load_events(spark, SF)


def test_stream_foreachbatch_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    docs.write.parquet(src)

    seen = []
    q = run_stream(
        read_document_stream(spark, src, max_files_per_trigger=1),
        lambda df, epoch: seen.append(df.count()),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert sum(seen) == 20
    # restart from the same checkpoint: nothing new to process (T2)
    seen2 = []
    q2 = run_stream(
        read_document_stream(spark, src),
        lambda df, epoch: seen2.append(df.count()),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert sum(seen2) == 0


def test_windowed_stream_matches_batch_tumbling(spark, events, tmp_path):
    # identical window boundaries streaming vs batch (W3)
    src = str(tmp_path / "ev")
    events.write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    )
    agg = windowed_events(stream, window_seconds=3600)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.window_start, r.event_type): (r.n, round(r.sum_value, 6))
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    batch = (
        events.withColumn("bucket", tumbling_bucket(F.col("ts"), 3600))
        .groupBy("bucket", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("s"))
        .collect()
    )
    exp = {}
    for r in batch:
        exp_key = (r.bucket, r.event_type)
        exp[exp_key] = (r.n, r.s)
    assert len(got) == len(exp)
    for (ws, et), (n, s) in got.items():
        assert exp[(int(ws.timestamp()) // 3600, et)] == (n, round(s, 6))


def test_session_window_stream(spark, events, tmp_path):
    src = str(tmp_path / "ev2")
    events.filter(F.col("user_id") < 5).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    agg = sessionized_events(stream, gap="2 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert len(rows) > 0
    n_events = sum(r.n_events for r in rows)
    assert n_events == spark.read.parquet(src).count()


def test_stateful_running_totals_across_batches(spark, events, tmp_path):
    # applyInPandasWithState: state must accumulate across micro-batches
    # (3 source files x maxFilesPerTrigger=1 => 3 batches).
    from retrieval_augmented_generation_rag_data_pipeline_spark.streaming.stateful import (
        running_user_totals,
    )

    src = str(tmp_path / "ev3")
    ev = events.filter(F.col("user_id") < 8).select("user_id", "value")
    ev.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("totals_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # update mode appends one row per (user, batch-it-appeared-in);
    # the row with the max n_events per user is the final running total.
    got = {
        r.user_id: (r.n_events, round(r.sum_value, 6))
        for r in spark.sql(
            """SELECT user_id, n_events, sum_value FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id
                          ORDER BY n_events DESC) rn FROM totals_out) WHERE rn = 1"""
        ).collect()
    }
    exp = {
        r.user_id: (r.n, round(r.s, 6))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == exp


def test_stateful_first_seen_dedup(spark, tmp_path):
    from retrieval_augmented_generation_rag_data_pipeline_spark.streaming.stateful import (
        first_seen_keys,
    )

    src = str(tmp_path / "keys")
    spark.createDataFrame(
        [("a",), ("b",)], "key string"
    ).write.parquet(src + "/f1")
    spark.createDataFrame(
        [("b",), ("c",)], "key string"
    ).write.parquet(src + "/f2")
    stream = (
        spark.readStream.schema("key string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = first_seen_keys(stream.withColumn("_batch_id", F.lit(0).cast("long")))
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("fs_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT key FROM fs_out").collect()
    # each key exactly once despite 'b' arriving in two batches
    assert sorted(r.key for r in rows) == ["a", "b", "c"]


def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode windowed agg with a 10-minute watermark: an event
    arriving after the watermark passed its window must be dropped.
    The watermark persists in the checkpoint across restarts, so the
    three runs form one logical stream."""
    import datetime as dt

    src = str(tmp_path / "wm_src")
    ckpt = str(tmp_path / "wm_ckpt")
    schema = "ts timestamp, event_type string, value double"

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out_path = str(tmp_path / "wm_out")

    def run(_qname):
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            windowed_events(stream, window_seconds=300)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out_path).collect()

    t = lambda h, m: dt.datetime(2024, 3, 1, h, m)  # noqa: E731
    # run 1: two on-time events in [10:00,10:05) + one at 11:00 that
    # advances the watermark to 10:50
    write_file("a", [(t(10, 0), "x", 1.0), (t(10, 4), "x", 1.0), (t(11, 0), "x", 1.0)])
    run("wm1")
    # run 2: a LATE event for the already-closed 10:00 window
    write_file("b", [(t(10, 1), "x", 100.0), (t(11, 30), "x", 1.0)])
    rows2 = run("wm2")
    # run 3: far-future event flushes every remaining window
    write_file("c", [(t(12, 30), "x", 1.0)])
    rows3 = run("wm3")

    out = {}
    for r in rows3:
        out[r.window_start] = (r.n, r.sum_value)
    w10 = out[t(10, 0)]
    # the late 100.0 event was dropped: 2 events, sum 2.0 — not 3/102
    assert w10 == (2, 2.0)
    assert out[t(11, 0)] == (1, 1.0)
    assert out[t(11, 30)] == (1, 1.0)


def test_full_pipeline_as_stream(spark, tmp_path):
    """EP1 restated (reference src/main.py:133-158): the batch DAG
    (chunk -> embed -> vector-index) runs per micro-batch via
    foreachBatch; the checkpoint replaces the JSON ledger, so every doc
    is indexed exactly once across triggers."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        chunk_text,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.plans.pipeline import (
        embed_chunks,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources import sinks

    src = str(tmp_path / "docs")
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
    docs.repartition(3).write.parquet(src)
    index_path = str(tmp_path / "stream_index")

    def index_batch(batch_df, _epoch):
        chunks = chunk_text(batch_df, chunk_words=32)
        sinks.write_vector_index(embed_chunks(chunks), index_path, mode="append")

    q = run_stream(
        read_document_stream(spark, src, max_files_per_trigger=1),
        index_batch,
        checkpoint=str(tmp_path / "ckpt2"),
    )
    q.awaitTermination(180)

    index = spark.read.parquet(index_path)
    indexed_docs = {r.source_file for r in index.select("source_file").distinct().collect()}
    expected = {
        str(r.doc_id)
        for r in docs.filter(F.length(F.trim("text")) > 0).select("doc_id").collect()
    }
    assert indexed_docs == expected
    # restart: checkpoint knows every file — no duplicate indexing
    n_before = index.count()
    q2 = run_stream(
        read_document_stream(spark, src),
        index_batch,
        checkpoint=str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(180)
    assert spark.read.parquet(index_path).count() == n_before


def test_first_seen_ttl_expires_and_reemits(spark, tmp_path):
    """Bounded-state first-seen dedup: key state expires ttl after its
    last sighting (event time), so the key RE-emits when it reappears
    past the horizon — and within-horizon duplicates still dedup."""
    import datetime as dt

    from retrieval_augmented_generation_rag_data_pipeline_spark.streaming.stateful import (
        first_seen_keys_ttl,
    )

    src = str(tmp_path / "ttl_src")
    ckpt = str(tmp_path / "ttl_ckpt")
    schema = "key string, ts timestamp"
    t = lambda h, m: dt.datetime(2024, 3, 1, h, m)  # noqa: E731

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run(qname):
        # memory sink can't recover from a checkpoint; collect via
        # foreachBatch so the three runs form one logical stream
        emitted = []
        stream = spark.readStream.schema(schema).parquet(src)
        out = first_seen_keys_ttl(
            stream, ttl_minutes=30, watermark_delay="10 minutes"
        )
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(
                lambda df, _eid: emitted.extend(
                    (r.key, r.first_seen_ts) for r in df.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return emitted

    # run 1: 'a' first seen 10:00 (dup at 10:05 dedups); 'adv' at 11:00
    # pushes the watermark to 10:50 > a's timeout of 10:30
    write_file([("a", t(10, 0)), ("a", t(10, 5)), ("adv", t(11, 0))])
    r1 = run("ttl1")
    assert sorted(k for k, _ in r1) == ["a", "adv"]
    assert dict(r1)["a"] == t(10, 0)

    # run 2: unrelated key -> the batch processes a's pending timeout
    # (a key with data in the same batch would NOT time out)
    write_file([("other", t(11, 10))])
    r2 = run("ttl2")
    assert sorted(k for k, _ in r2) == ["other"]

    # run 3: 'a' reappears past the horizon -> re-emits with a new ts
    write_file([("a", t(11, 30))])
    r3 = run("ttl3")
    assert ("a", t(11, 30)) in r3


def test_first_seen_ttl_honors_non_utc_session_tz(spark, tmp_path):
    """Regression: applyInPandasWithState delivers tz-naive timestamps
    rendered in the session tz; converting them as UTC skews the TTL
    horizon by the tz offset (-8 h here), which expires keys almost
    immediately and re-emits within-horizon duplicates."""
    import datetime as dt

    from retrieval_augmented_generation_rag_data_pipeline_spark.streaming.stateful import (
        first_seen_keys_ttl,
    )

    src = str(tmp_path / "ttl_tz_src")
    ckpt = str(tmp_path / "ttl_tz_ckpt")
    schema = "key string, ts timestamp"
    t = lambda h, m: dt.datetime(2024, 3, 1, h, m)  # noqa: E731
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:

        def write_file(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        def run():
            emitted = []
            stream = spark.readStream.schema(schema).parquet(src)
            out = first_seen_keys_ttl(
                stream, ttl_minutes=30, watermark_delay="5 minutes"
            )
            q = (
                out.writeStream.outputMode("update")
                .foreachBatch(
                    lambda df, _eid: emitted.extend(
                        (r.key, r.first_seen_ts) for r in df.collect()
                    )
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            return emitted

        # batch 1: 'a' at 10:00; 'adv' pushes the watermark to 10:10
        write_file([("a", t(10, 0)), ("adv", t(10, 15))])
        r1 = run()
        assert sorted(k for k, _ in r1) == ["a", "adv"]

        # batch 2: watermark (10:10) is inside a's 30-min horizon, so a
        # duplicate must still dedup. With the UTC-skew bug a's timeout
        # lands ~8 h in the past, the key expires, and 'a' re-emits.
        write_file([("a", t(10, 15)), ("adv2", t(10, 20))])
        r2 = run()
        assert sorted(k for k, _ in r2) == ["adv2"], f"dup re-emitted: {r2}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def _multi_batch_stream(spark, src, ckpt, schema, build, collect_cols):
    """Run one availableNow pass over `src` against a persistent
    checkpoint, in APPEND mode via foreachBatch — only windows the
    watermark has finalized are emitted, accumulated across calls."""
    emitted = []
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        build(stream)
        .writeStream.outputMode("append")
        .foreachBatch(
            lambda df, _eid: emitted.extend(
                tuple(r[c] for c in collect_cols) for r in df.collect()
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return emitted


def test_tumbling_stream_multi_batch_matches_batch(spark, tmp_path):
    """Cross-micro-batch window accumulation: events for one window
    arriving in different files (runs) must merge, finalize exactly once
    when the watermark passes, and equal the batch tumbling aggregation."""
    import datetime as dt

    src = str(tmp_path / "tmb_src")
    ckpt = str(tmp_path / "tmb_ckpt")
    schema = "user_id long, event_type string, ts timestamp, value double"
    t = lambda h, m: dt.datetime(2024, 5, 1, h, m)  # noqa: E731

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    run = lambda: _multi_batch_stream(  # noqa: E731
        spark, src, ckpt, schema,
        lambda s: windowed_events(s, window_seconds=3600),
        ["window_start", "event_type", "n", "sum_value"],
    )

    # run 1: hour-10 events only — nothing finalizes (wm 10:30 < 11:00)
    write_file([(1, "click", t(10, 0), 1.0), (2, "view", t(10, 20), 2.0),
                (1, "click", t(10, 40), 3.0)])
    got = run()
    assert got == []
    # run 2: more hour-10 data (merges into the open window) + hour-12
    # data that pushes the watermark past 11:00 -> hour-10 finalizes
    write_file([(3, "click", t(10, 50), 5.0), (1, "view", t(12, 0), 7.0)])
    got += run()
    assert {(ws.hour, et) for ws, et, _n, _s in got} == {(10, "click"), (10, "view")}
    # run 3: far-future flush finalizes everything else
    write_file([(9, "flush", t(18, 0), 0.0)])
    got += run()

    events = spark.read.parquet(src).filter(F.col("event_type") != "flush")
    batch = {
        (r.bucket, r.event_type): (r.n, r.s)
        for r in events.withColumn("bucket", tumbling_bucket(F.col("ts"), 3600))
        .groupBy("bucket", "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    streamed = {
        (int(ws.timestamp()) // 3600, et): (n, s)
        for ws, et, n, s in got
        if et != "flush"
    }
    assert streamed == batch  # every window emitted once, values equal


def test_session_stream_multi_batch_matches_batch(spark, tmp_path):
    """A session spanning two micro-batches must merge before
    finalizing, and the finalized stream output must equal the batch
    session_windows operator on the same data."""
    import datetime as dt

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.windows import (
        session_windows,
    )

    src = str(tmp_path / "sess_src")
    ckpt = str(tmp_path / "sess_ckpt")
    schema = "user_id long, event_type string, ts timestamp, value double"
    t = lambda h, m: dt.datetime(2024, 5, 1, h, m)  # noqa: E731

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    run = lambda: _multi_batch_stream(  # noqa: E731
        spark, src, ckpt, schema,
        lambda s: sessionized_events(s, gap="5 minutes"),
        ["user_id", "session_start", "session_end", "n_events", "sum_value"],
    )

    # run 1: user 1 session opens; user 2 isolated session
    write_file([(1, "e", t(10, 0), 1.0), (1, "e", t(10, 2), 2.0),
                (2, "e", t(10, 1), 4.0)])
    got = run()
    # run 2: user 1's session EXTENDS across the batch boundary (10:04
    # is within the 5-min gap of 10:02); user 1 later starts a new one
    write_file([(1, "e", t(10, 4), 8.0), (1, "e", t(11, 0), 16.0)])
    got += run()
    # run 3: flush far past everything
    write_file([(9, "flush", t(18, 0), 0.0)])
    got += run()

    events = spark.read.parquet(src).filter(F.col("event_type") != "flush")
    batch = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.sum_value)
        for r in session_windows(events, ["user_id"], "ts", gap_s=300).collect()
    }
    streamed = {
        (u, ss.timestamp(), se.timestamp()): (n, s)
        for u, ss, se, n, s in got
        if u != 9
    }
    assert streamed == batch
    # the cross-batch merge produced ONE 3-event session for user 1
    assert (1, t(10, 0).timestamp(), t(10, 9).timestamp()) in streamed
    assert streamed[(1, t(10, 0).timestamp(), t(10, 9).timestamp())] == (3, 11.0)


def test_windowed_events_custom_keys_and_aggs(spark, tmp_path):
    """Parameterized streaming windows: custom grouping keys and
    aggregates flow through with the same window boundaries."""
    import datetime as dt

    src = str(tmp_path / "cust_src")
    schema = "user_id long, event_type string, ts timestamp, value double"
    t = lambda m: dt.datetime(2024, 5, 1, 10, m)  # noqa: E731
    spark.createDataFrame(
        [(1, "a", t(0), 2.0), (1, "a", t(1), 4.0), (2, "b", t(2), 8.0)],
        schema,
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = windowed_events(
        stream,
        window_seconds=3600,
        key_cols=["user_id"],
        aggs=[F.max("value").alias("max_value")],
    )
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("cust_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM cust_out").collect()
    got = {r.user_id: r.max_value for r in rows}
    assert got == {1: 4.0, 2: 8.0}
    assert rows[0].asDict().keys() == {"window_start", "user_id", "max_value"}


def test_dedup_ingest_content_level_exactly_once(spark, tmp_path):
    """Two triggers: the second delivers one new doc and one doc whose
    TEXT duplicates an already-ingested one (different id / new file) —
    the duplicate is dropped by the digest ledger, not the file
    checkpoint."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.streaming.stream import (
        dedup_ingest,
    )

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string, lang string, source string, n_chars long"

    batch1 = spark.createDataFrame(
        [(0, "alpha text", "en", "s", 10), (1, "beta text", "en", "s", 9)], schema
    )
    batch1.coalesce(1).write.mode("append").parquet(str(src))
    q = dedup_ingest(spark, str(src), out, ledger, ckpt)
    q.awaitTermination(120)

    got1 = spark.read.parquet(out)
    assert got1.count() == 2

    # new file: one fresh doc + one content-duplicate of doc 0
    batch2 = spark.createDataFrame(
        [(7, "gamma text", "en", "s", 10), (8, "alpha text", "en", "s", 10)], schema
    )
    batch2.coalesce(1).write.mode("append").parquet(str(src))
    q2 = dedup_ingest(spark, str(src), out, ledger, ckpt)
    q2.awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3
    assert {r.doc_id for r in rows} == {0, 1, 7}  # 8 dropped: same content as 0
    led = spark.read.parquet(ledger)
    assert led.count() == 3


def test_first_seen_ttl_state_plateaus_under_load(spark, tmp_path):
    """Bounded-state soak: 100k distinct keys streamed in two 50k
    waves two hours apart (TTL 30min). If eviction works, the store
    holds ~one wave at a time — numRowsTotal plateaus instead of
    accumulating every key ever seen. This is the metric that decides
    whether the operator survives at 100 TB arrival rates."""
    import datetime as dt

    from retrieval_augmented_generation_rag_data_pipeline_spark.streaming.stateful import (
        first_seen_keys_ttl,
    )

    src = str(tmp_path / "soak_src")
    ckpt = str(tmp_path / "soak_ckpt")
    schema = "key string, ts timestamp"
    base = dt.datetime(2024, 3, 1, 10, 0)
    n_wave = 50_000

    def write_wave(wave, hours):
        ts = base + dt.timedelta(hours=hours)
        spark.createDataFrame(
            [(f"k{wave}_{i}", ts) for i in range(n_wave)], schema
        ).coalesce(4).write.mode("append").parquet(src)

    def run():
        emitted = [0]
        state_rows = []
        stream = spark.readStream.schema(schema).parquet(src)
        out = first_seen_keys_ttl(
            stream, ttl_minutes=30, watermark_delay="10 minutes"
        )
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(
                lambda df, _eid: emitted.__setitem__(0, emitted[0] + df.count())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        for p in q.recentProgress:
            ops = p["stateOperators"] if isinstance(p, dict) else p.stateOperators
            for so in ops:
                rows = so["numRowsTotal"] if isinstance(so, dict) else so.numRowsTotal
                state_rows.append(rows)
        return emitted[0], state_rows

    # wave 1: 50k keys at 10:00
    write_wave(1, 0)
    n1, s1 = run()
    assert n1 == n_wave  # every key is new -> emitted once
    peak1 = max(s1)
    assert peak1 >= n_wave  # the whole wave is in state

    # wave 2: 50k NEW keys at 12:00 -> watermark 11:50 is far past
    # wave 1's timeout horizon (10:30): wave 1 must evict this run
    write_wave(2, 2)
    n2, s2 = run()
    assert n2 == n_wave
    final = s2[-1]
    # plateau: the store holds ~one wave (+ slack), never both
    assert final < int(n_wave * 1.2), (
        f"state grew to {final} rows — TTL eviction is not bounding the store"
    )
