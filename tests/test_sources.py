"""File source and chatlog parser tests."""
import os

import pytest
from pyspark.sql import functions as F

from dlp_dataflow_deidentification_spark.sources import chatlog, files


# -- file sources ------------------------------------------------------------


def test_sanitize_key():
    assert files.sanitize_key("gs://b/path/My File-2024.csv") == "My_File_2024"
    assert files.sanitize_key("2024data.txt") == "_2024data"
    assert files.sanitize_key("plain") == "plain"


def test_read_csv_with_source_key_all_strings(spark, tmp_path):
    p = tmp_path / "tiny_table.csv"
    p.write_text("id,name,amount\n1,alice,10.5\n2,bob,20.0\n")
    df = files.read_files(spark, str(tmp_path), "csv")
    rows = df.collect()
    assert len(rows) == 2
    assert set(df.columns) == {"id", "name", "amount", files.SOURCE_KEY_COL}
    assert all(isinstance(r.id, str) for r in rows)  # strings-only parity
    assert rows[0][files.SOURCE_KEY_COL] == "tiny_table"


def test_read_txt_and_jsonl(spark, tmp_path):
    (tmp_path / "a.txt").write_text("line one\nline two\n")
    t = files.read_files(spark, str(tmp_path / "a.txt"), "txt")
    assert [r.line for r in t.orderBy("line").collect()] == ["line one", "line two"]
    (tmp_path / "b.jsonl").write_text('{"k": 1, "v": "x"}\n{"k": 2, "v": "y"}\n')
    j = files.read_files(spark, str(tmp_path / "b.jsonl"), "jsonl")
    assert j.count() == 2 and "source_key" in j.columns


def test_partitioned_write_per_key(spark, tmp_path):
    import os

    (tmp_path / "t1.csv").write_text("a,b\n1,2\n")
    (tmp_path / "t2.csv").write_text("a,b\n3,4\n")
    df = files.read_files(spark, str(tmp_path), "csv")
    out = str(tmp_path / "out")
    files.write_partitioned_by_key(df, out)
    parts = {d for d in os.listdir(out) if d.startswith("source_key=")}
    assert parts == {"source_key=t1", "source_key=t2"}


def test_orc_roundtrip_with_source_key(spark, tmp_path):
    """ORC read/write path (ORCReaderDoFn/ORCWriterDoFn analogue — Spark's
    vectorized ORC I/O, SURVEY §2.1 S11 / §2.6 K3)."""
    src = spark.createDataFrame(
        [(1, "alice", 10.5), (2, "bob", 20.0)], "id long, name string, amount double"
    )
    orc_dir = str(tmp_path / "orc_in")
    src.coalesce(1).write.orc(orc_dir)
    back = files.read_files(spark, orc_dir, "orc")
    rows = back.orderBy("id").collect()
    assert [(r.id, r.name, r.amount) for r in rows] == [(1, "alice", 10.5), (2, "bob", 20.0)]
    assert all(r[files.SOURCE_KEY_COL].startswith("part") for r in rows)  # per-file key


def _avro_available(spark) -> bool:
    try:
        spark.read.format("avro").load("/nonexistent___probe")
        return True
    except Exception as e:
        return "FAILED_FIND_DATA_SOURCE" not in str(e) and "avro" not in str(e).lower()


def test_avro_reader_gated_error_shape(spark, tmp_path):
    """Without the external spark-avro module the reader must surface Spark's
    FAILED_FIND_DATA_SOURCE guidance (pointing at --packages), not crash in
    our code (AvroReaderSplittableDoFn analogue, S9)."""
    if _avro_available(spark):
        pytest.skip("spark-avro present — covered by the roundtrip test")
    with pytest.raises(Exception, match="(?i)avro"):
        files.read_files(spark, str(tmp_path), "avro").collect()


def test_avro_roundtrip_when_module_present(spark, tmp_path):
    """Full write→read roundtrip through read_files' avro dispatch, including
    the per-file source_key (AvroReaderSplittableDoFnTest analogue). Skips
    when the spark-avro jar is absent (no network in this sandbox; submit
    with --packages org.apache.spark:spark-avro_2.13:<ver> elsewhere)."""
    if not _avro_available(spark):
        pytest.skip("spark-avro module not on the classpath (sandbox has no network)")
    d = str(tmp_path / "av")
    src = spark.createDataFrame(
        [(1, "alice", 10.5), (2, "bob", 20.0)], "id int, name string, amount double"
    )
    src.coalesce(1).write.format("avro").save(d)
    rows = files.read_files(spark, d, "avro").orderBy("id").collect()
    assert [(r.id, r.name, r.amount) for r in rows] == [(1, "alice", 10.5), (2, "bob", 20.0)]
    assert all(r[files.SOURCE_KEY_COL].startswith("part") for r in rows)


# -- chatlog parser -----------------------------------------------------------


def test_parse_chatlog_roles_and_order(spark):
    lines = [
        "100 [Customer]: hi I need help [Agent]: sure, what's up [Customer]: card 4111 1111 1111 1111",
        "101 [Agent]: hello",
    ]
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    parsed = chatlog.parse_chatlog(df).orderBy("conv_id", "turn_idx").collect()
    assert [(r.conv_id, r.turn_idx, r.role) for r in parsed] == [
        ("100", 0, "customer"),
        ("100", 1, "agent"),
        ("100", 2, "customer"),
        ("101", 0, "agent"),
    ]
    assert parsed[0].text == "hi I need help"
    assert parsed[2].text.startswith("card 4111")
    assert chatlog.agent_turns(chatlog.parse_chatlog(df)).count() == 2
    assert chatlog.customer_turns(chatlog.parse_chatlog(df)).count() == 2


def test_parse_chatlog_is_native(spark):
    df = spark.createDataFrame([("1 [Agent]: x",)], "line string")
    plan = chatlog.parse_chatlog(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_notified_files_stream_reads_announced_files(spark, tmp_path):
    """S3 (ReadNewFilesPubSubTransform analogue): files are read because the
    notification stream names them — not because a directory listing found
    them; a missing file becomes a dead-letter row, not a failed batch."""
    import json as j

    from dlp_dataflow_deidentification_spark.sources import notifications as nt

    data = tmp_path / "files"
    data.mkdir()
    (data / "a.txt").write_text("l1\nl2\n")
    (data / "b-2.txt").write_text("x\n")
    notif = tmp_path / "notifs"
    notif.mkdir()
    with open(notif / "n1.json", "w") as f:
        for p in [str(data / "a.txt"), str(data / "b-2.txt"), str(data / "gone.txt")]:
            f.write(j.dumps({"path": p, "event_time": "2024-01-01 00:00:00"}) + "\n")

    q = (
        nt.notified_text_stream(spark, str(notif))
        .writeStream.format("memory")
        .queryName("notif_lines")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("notif_lines").collect()
    ok = {(r.source_key, r.line_no, r.line) for r in rows if r.error is None}
    assert ok == {("a", 0, "l1"), ("a", 1, "l2"), ("b_2", 0, "x")}
    dead = [r for r in rows if r.error is not None]
    assert len(dead) == 1 and dead[0].path.endswith("gone.txt")


def test_source_key_agrees_across_legs_for_encoded_names(spark, tmp_path):
    """input_file_name() returns a URL-encoded URI, so a filename with a
    space previously produced source_key 'my_20report' from read_files but
    'my_report' from sanitize_key — the same file routed to two different
    destination tables depending on the ingestion leg."""
    from dlp_dataflow_deidentification_spark.sources.files import read_files, sanitize_key

    d = tmp_path / "enc"
    d.mkdir()
    (d / "my report.csv").write_text("a,b\n1,x\n")
    df = read_files(spark, str(d), "csv")
    keys = {r.source_key for r in df.select("source_key").distinct().collect()}
    assert keys == {sanitize_key("my report.csv")} == {"my_report"}


def test_read_files_headers_accept_non_identifier_names(spark, tmp_path):
    """Explicit headers are column NAMES, not SQL identifiers: spaces,
    dashes, and reserved words must work (previously spliced into a DDL
    string that the parser rejected)."""
    from dlp_dataflow_deidentification_spark.sources.files import read_files

    d = tmp_path / "hdr"
    d.mkdir()
    (d / "t.csv").write_text("1,x\n2,y\n")
    df = read_files(spark, str(d), "csv", headers=["first name", "select"])
    assert df.columns[:2] == ["first name", "select"]
    assert sorted((r["first name"], r["select"]) for r in df.collect()) == [
        ("1", "x"),
        ("2", "y"),
    ]


def test_notified_files_bad_encoding_dead_letters(spark, tmp_path):
    """A notified file with invalid UTF-8 bytes dead-letters (error row)
    instead of failing the micro-batch: UnicodeDecodeError is a ValueError,
    which the fetch previously did not catch (OSError only)."""
    import json as _json

    from dlp_dataflow_deidentification_spark.sources.notifications import fetch_lines

    bad = tmp_path / "bad.txt"
    bad.write_bytes(b"good start\n\xff\xfe broken")
    good = tmp_path / "good.txt"
    good.write_text("hello\nworld\n")
    notif = spark.createDataFrame(
        [(str(bad), "2026-01-01T00:00:00"), (str(good), "2026-01-01T00:00:01")],
        "path string, event_time string",
    )
    rows = fetch_lines(notif).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.source_key, []).append(r)
    assert [r.line for r in sorted(by_key["good"], key=lambda r: r.line_no)] == [
        "hello",
        "world",
    ]
    (err,) = by_key["bad"]
    assert err.error is not None and err.line is None and err.line_no == -1
