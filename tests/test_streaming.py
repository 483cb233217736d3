"""Structured Streaming tests: streaming results must equal the batch oracle
row-for-row; the sink must be exactly-once under retries and checkpoint
resume (reference test model: BatchRequestForDLPTest.java TestStream cases,
SURVEY.md §5)."""
import os

import pytest
from pyspark.sql import functions as F

import dlp_dataflow_deidentification_spark as dds
from dlp_dataflow_deidentification_spark.operators import sessionize as sess
from dlp_dataflow_deidentification_spark.sources.transcripts import synthesize_transcripts
from dlp_dataflow_deidentification_spark.streaming import jobs, joins, metrics, windows
from dlp_dataflow_deidentification_spark.streaming.sink import IdempotentBatchSink

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_TURNS = 4000


@pytest.fixture(scope="module")
def template():
    return dds.DeidTemplate.from_file(os.path.join(HERE, "configs/deid_transcripts.json"))


@pytest.fixture(scope="module")
def input_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_in"))
    tdf = synthesize_transcripts(spark, N_TURNS, n_conversations=200)
    # several files so maxFilesPerTrigger can slice micro-batches
    tdf.repartition(8).write.mode("overwrite").parquet(d)
    return d


def rows_key(r):
    return (r["conv_id"], r["turn_idx"])


def test_streaming_deid_equals_batch(spark, tmp_path, input_dir, template):
    job = jobs.StreamingDeidJob(
        spark,
        template,
        input_dir,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    job.run_to_completion()
    got = {
        rows_key(r): r["text"]
        for r in job.sink().read_committed(spark).select("conv_id", "turn_idx", "text").collect()
    }
    want = {
        rows_key(r): r["text"]
        for r in dds.deidentify(spark.read.parquet(input_dir), template)
        .select("conv_id", "turn_idx", "text")
        .collect()
    }
    assert got == want and len(got) == N_TURNS
    # lineage recorded per batch AND per output partition
    lin = job.sink().lineage()
    assert sum(e["metrics"]["n_rows"] for e in lin) == N_TURNS
    assert all("min_event_time" in e["metrics"] for e in lin)
    for e in lin:
        assert e["partitions"], "per-partition lineage missing"
        assert sum(p["rows"] for p in e["partitions"]) == e["metrics"]["n_rows"]


def test_sink_idempotent_on_batch_replay(spark, tmp_path, input_dir, template):
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    bdf = dds.deidentify(spark.read.parquet(input_dir), template)
    sink(bdf, 7)
    n1 = sink.read_committed(spark).count()
    sink(bdf, 7)  # foreachBatch retry of the same batch id → no-op
    assert sink.read_committed(spark).count() == n1 == N_TURNS
    assert sink.committed_ids() == [7]


def test_checkpoint_resume_no_dupes_no_loss(spark, tmp_path, template):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first = synthesize_transcripts(spark, 1000, n_conversations=50)
    first.coalesce(2).write.mode("overwrite").parquet(in_dir)

    job = jobs.StreamingDeidJob(spark, template, in_dir, out_dir, ckpt)
    job.run_to_completion()
    assert job.sink().read_committed(spark).count() == 1000

    # "kill" (query already stopped) then land new files and resume from ckpt
    more = synthesize_transcripts(spark, 1000, n_conversations=50, start_ts="2026-02-01 00:00:00")
    more.coalesce(2).write.mode("append").parquet(in_dir)
    job2 = jobs.StreamingDeidJob(spark, template, in_dir, out_dir, ckpt)
    job2.run_to_completion()

    out = job2.sink().read_committed(spark)
    assert out.count() == 2000  # no loss
    assert out.groupBy("conv_id", "turn_idx", "ts").count().filter("count > 1").count() == 0


def test_windowed_hits_stream_equals_batch(spark, tmp_path, input_dir, template):
    dets = [d.name for d in template.detectors]
    # watermark-flush sentinel: one far-future row lets append mode emit all
    # real windows before availableNow drains
    flush = spark.createDataFrame(
        [("__flush__", 0, "agent", "x", "N/A", "2027-01-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    flush.write.mode("append").parquet(str(tmp_path / "win_in"))
    spark.read.parquet(input_dir).write.mode("append").parquet(str(tmp_path / "win_in"))

    stream = jobs.read_transcript_stream(spark, str(tmp_path / "win_in"))
    agg = windows.windowed_infotype_hits(stream, dets, window="10 minutes", watermark="1 minute")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_hits")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.window_start, r.info_type_name): r.n_hits
        for r in spark.table("win_hits").collect()
    }
    batch = windows.windowed_infotype_hits(
        spark.read.parquet(input_dir), dets, window="10 minutes", watermark="1 minute"
    )
    want = {
        (r.window_start, r.info_type_name): r.n_hits for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_session_window_stream_equals_batch(spark, tmp_path, input_dir):
    flush = spark.createDataFrame(
        [("__flush__", 0, "agent", "x", "N/A", "2027-01-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = str(tmp_path / "sess_in")
    flush.write.mode("append").parquet(d)
    spark.read.parquet(input_dir).write.mode("append").parquet(d)

    stream = jobs.read_transcript_stream(spark, d)
    agg = windows.session_window_stats(stream, gap="5 minutes", watermark="1 minute")
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_stats")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.conv_id, r.session_start): (r.n_turns, r.n_agent, r.n_tool)
        for r in spark.table("sess_stats").filter("conv_id <> '__flush__'").collect()
    }
    want = {
        (r.conv_id, r.session_start): (r.n_turns, r.n_agent, r.n_tool)
        for r in windows.session_window_stats(
            spark.read.parquet(input_dir), gap="5 minutes", watermark="1 minute"
        ).collect()
    }
    assert got == want and len(want) > 0
    # hot key present and sessionized
    assert any(k[0] == "conv-hot" for k in got)


def test_stream_stream_join_equals_batch(spark, input_dir):
    stream = jobs.read_transcript_stream(spark, input_dir)
    joined = joins.agent_tool_stream_join(stream, max_lag_seconds=3600, watermark="2 hours")
    q = (
        joined.writeStream.format("memory")
        .queryName("at_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.conv_id, r.agent_turn_idx, r.tool_turn_idx)
        for r in spark.table("at_join").collect()
    }
    want = {
        (r.conv_id, r.agent_turn_idx, r.tool_turn_idx)
        for r in sess.agent_tool_correlate(
            spark.read.parquet(input_dir), max_lag_seconds=3600
        ).collect()
    }
    assert got == want and len(want) > 0


def test_progress_capture_metrics(spark, tmp_path, input_dir, template):
    cap = metrics.ProgressCapture()
    spark.streams.addListener(cap)
    try:
        job = jobs.StreamingDeidJob(
            spark,
            template,
            input_dir,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            max_files_per_trigger=2,
        )
        job.run_to_completion()
        import time

        for _ in range(40):  # listener events are delivered asynchronously
            if cap.total_rows() >= N_TURNS:
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(cap)
    assert cap.total_rows() == N_TURNS
    assert len([b for b in cap.batches if b.num_input_rows > 0]) >= 3  # sliced micro-batches
    assert cap.p50_batch_ms() > 0
    assert cap.throughput_rows_per_sec() > 0
    # numberOfRowsRead counter analogue surfaced via observe()
    read = sum(
        b.observed["reader"]["rows_read"]
        for b in cap.batches
        if b.observed and "reader" in b.observed
    )
    assert read == N_TURNS

    # with the dead-letter leg on, two jobs consume each batch, but the
    # batch is read once: rows_read still totals the input turns
    cap = metrics.ProgressCapture()
    spark.streams.addListener(cap)
    try:
        jobs.StreamingDeidJob(
            spark,
            template,
            input_dir,
            str(tmp_path / "out_dl"),
            str(tmp_path / "ckpt_dl"),
            max_files_per_trigger=2,
            error_output_dir=str(tmp_path / "errs_dl"),
        ).run_to_completion()
        for _ in range(40):
            if cap.total_rows() >= N_TURNS:
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(cap)
    read = sum(
        b.observed["reader"]["rows_read"]
        for b in cap.batches
        if b.observed and "reader" in b.observed
    )
    assert read == N_TURNS


def test_salted_repartition_spreads_hot_key(spark, input_dir):
    from dlp_dataflow_deidentification_spark.operators.skew import salted_repartition

    df = spark.read.parquet(input_dir).filter(F.col("conv_id") == "conv-hot")
    assert df.count() > 100
    parts = (
        salted_repartition(df, "conv_id", 16, "turn_idx")
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
    )
    assert parts.count() >= 8  # one hot conversation spans many partitions


def test_chained_join_then_window_stream_equals_batch(spark, tmp_path, input_dir):
    """CHAINED stateful operators in ONE streaming query: stream-stream join
    → tumbling-window aggregation (SURVEY §7 'hard parts'). Two far-future
    flush rows (one per join side) advance BOTH watermark nodes so the
    global watermark finalizes every real window under availableNow."""
    flush = spark.createDataFrame(
        [
            ("__flush_a__", 0, "agent", "x", "N/A", "2027-01-01 00:00:00"),
            ("__flush_t__", 0, "tool", "x", "web_search", "2027-01-01 00:00:00"),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = str(tmp_path / "chain_in")
    flush.write.mode("append").parquet(d)
    spark.read.parquet(input_dir).write.mode("append").parquet(d)

    stream = jobs.read_transcript_stream(spark, d)
    agg = joins.agent_tool_hourly_stats(
        stream, max_lag_seconds=3600, watermark="2 hours", window="1 hour"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("chain_stats")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.window_start, r.tool_name): r.n_calls
        for r in spark.table("chain_stats").collect()
    }
    want = {
        (r.window_start, r.tool_name): r.n_calls
        for r in joins.agent_tool_hourly_stats(
            spark.read.parquet(input_dir),
            max_lag_seconds=3600,
            watermark="2 hours",
            window="1 hour",
        ).collect()
    }
    assert got == want and len(want) > 0
    # the query really ran TWO stateful operators (join + window agg)
    ops = {s["operatorName"] for s in (q.lastProgress or {}).get("stateOperators", [])}
    assert {"symmetricHashJoin", "stateStoreSave"} <= ops, ops


def test_pubsub_message_converter_payload(spark):
    """P13 contract (common/PubSubMessageConverts.java:30-40): value = JSON
    of the row's fields, one 'table_name' attribute carrying the routing
    key; layout follows Kafka's key/value/headers writer schema."""
    import json as j

    from dlp_dataflow_deidentification_spark.streaming import messages

    df = spark.createDataFrame(
        [("tbl_a", "c1", 0, "hello"), ("tbl_b", "c2", 1, None)],
        "source_key string, conv_id string, turn_idx int, text string",
    )
    out = messages.to_messages(df)
    assert {f.name: f.dataType.simpleString() for f in out.schema.fields} == {
        "key": "string",
        "value": "string",
        "headers": "array<struct<key:string,value:binary>>",
    }
    rows = {r.key: r for r in out.collect()}
    assert j.loads(rows["tbl_a"].value) == {"conv_id": "c1", "turn_idx": 0, "text": "hello"}
    # to_json drops null fields — same as the reference's gson payload
    assert j.loads(rows["tbl_b"].value) == {"conv_id": "c2", "turn_idx": 1}
    h = rows["tbl_a"].headers
    assert [(x.key, bytes(x.value).decode()) for x in h] == [("table_name", "tbl_a")]


def _kafka_available(spark) -> bool:
    try:
        spark.read.format("kafka").load()
        return True
    except Exception as e:
        return "Failed to find data source" not in str(e)


def test_publish_stream_without_kafka_connector_raises_actionable_error(spark, tmp_path):
    """Without the spark-sql-kafka connector, starting the publisher must
    raise an error that names the missing connector and the --packages fix,
    not Spark's bare data-source lookup failure (K4 publisher gate)."""
    from dlp_dataflow_deidentification_spark.streaming import messages

    if _kafka_available(spark):
        pytest.skip("spark-sql-kafka present — the gate does not apply")
    df = spark.readStream.format("rate").load().select(
        F.lit("tbl_a").alias("source_key"), "value"
    )
    with pytest.raises(NotImplementedError, match="Kafka connector not on the classpath.*--packages"):
        messages.publish_stream(df, "t", "localhost:1", str(tmp_path / "ckpt"))


def test_streaming_exact_dedup_drops_redelivered_rows(spark, tmp_path):
    """dropDuplicatesWithinWatermark dedup: the same turns delivered twice
    (two input files with overlapping rows) commit exactly once, equal to
    batch dropDuplicates over the union."""
    from dlp_dataflow_deidentification_spark.streaming import windows as W

    rows = [
        (f"conv-{i % 5}", i, "agent", f"turn {i}", "N/A", f"2026-01-01 00:{i % 60:02d}:00")
        for i in range(100)
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    d = str(tmp_path / "dedup_in")
    df1 = spark.createDataFrame(rows, schema).withColumn("ts", F.col("ts").cast("timestamp"))
    df2 = spark.createDataFrame(rows[40:], schema).withColumn(  # redelivery overlap
        "ts", F.col("ts").cast("timestamp")
    )
    df1.coalesce(1).write.mode("append").parquet(d)
    df2.coalesce(1).write.mode("append").parquet(d)

    stream = jobs.read_transcript_stream(spark, d)
    out = W.streaming_exact_dedup(stream, ("conv_id", "turn_idx"), watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sded")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sded_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("sded").groupBy("conv_id", "turn_idx").count()
    assert got.filter("count > 1").count() == 0
    assert got.count() == 100  # every unique turn survives exactly once
    # batch degradation equality
    both = df1.unionByName(df2)
    assert W.streaming_exact_dedup(both).count() == 100


def test_inspect_empty_detectors_streaming_safe(spark, tmp_path):
    """inspect() with zero surviving detectors (or zero text columns) must
    return a STREAMING-compatible empty frame — the earlier limit(0) form
    raised 'Limit is not supported on streaming Datasets', killing any
    streaming inspect job whose min_likelihood pruned every detector."""
    import os

    from pyspark.sql import functions as F

    from dlp_dataflow_deidentification_spark.operators import inspect as I

    d = str(tmp_path / "insp_empty_in")
    spark.createDataFrame(
        [("c1", "mail me at a@b.com")], "conv_id string, text string"
    ).write.mode("append").parquet(d)
    stream = spark.readStream.schema("conv_id string, text string").parquet(d)

    out = I.inspect(
        stream,
        ["EMAIL_ADDRESS"],
        ["text"],
        id_columns=["conv_id"],
        min_likelihood="VERY_LIKELY",  # prunes EMAIL_ADDRESS (LIKELY)
    )
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("insp_empty")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.table("insp_empty").count() == 0
    # empty text_columns takes the same streaming-safe early return
    assert I.inspect(stream, ["EMAIL_ADDRESS"], [], id_columns=["conv_id"]).isStreaming
