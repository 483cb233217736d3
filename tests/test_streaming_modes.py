"""Streaming INSPECT/REID modes + dynamic per-key destinations + mid-stream
kill/resume (reference DLPMethod switch, DLPTextToBigQueryStreamingV2.java:94-108)."""
import os
import time

import pytest
from pyspark.sql import functions as F

import dlp_dataflow_deidentification_spark as dds
from dlp_dataflow_deidentification_spark.functions import crypto
from dlp_dataflow_deidentification_spark.plans.config import derive_siv_key
from dlp_dataflow_deidentification_spark.sources.transcripts import synthesize_transcripts
from dlp_dataflow_deidentification_spark.streaming import jobs

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def template():
    return dds.DeidTemplate.from_file(os.path.join(HERE, "configs/deid_transcripts.json"))


@pytest.fixture(scope="module")
def input_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("modes_in"))
    synthesize_transcripts(spark, 2000, n_conversations=60).repartition(6).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_streaming_inspect_mode_equals_batch(spark, tmp_path, input_dir, template):
    job = jobs.StreamingDeidJob(
        spark,
        template,
        input_dir,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        mode="inspect",
    )
    job.run_to_completion()
    got = (
        job.sink()
        .read_committed(spark)
        .groupBy("info_type_name")
        .count()
        .collect()
    )
    got = {r.info_type_name: r["count"] for r in got}
    want = (
        dds.inspect(
            spark.read.parquet(input_dir),
            template.detectors,
            ["text"],
            id_columns=["conv_id"],
        )
        .groupBy("info_type_name")
        .count()
        .collect()
    )
    want = {r.info_type_name: r["count"] for r in want}
    assert got == want and len(want) >= 4


def test_streaming_reid_inverts_streaming_deid(spark, tmp_path, input_dir, template):
    """DEID stream → tokenized table → REID stream → original text, all
    through the exactly-once sink (crypto roundtrip across two streaming jobs)."""
    key = "0123456789abcdef"
    # tokenize `text` deterministically (deid with cryptoDeterministic on text)
    tok_dir = str(tmp_path / "tok")
    tdf = spark.read.parquet(input_dir)
    tdf.withColumn(
        "text", crypto.siv_tokenize(F.col("text"), derive_siv_key(key))
    ).write.parquet(tok_dir)

    job = jobs.StreamingDeidJob(
        spark,
        template,
        tok_dir,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        mode="reid",
        reid_columns=("text",),
        crypto_key=key,  # reid refuses to run keyless
    )
    job.run_to_completion()
    got = {
        (r.conv_id, r.turn_idx): r.text
        for r in job.sink().read_committed(spark).select("conv_id", "turn_idx", "text").collect()
    }
    want = {(r.conv_id, r.turn_idx): r.text for r in tdf.select("conv_id", "turn_idx", "text").collect()}
    assert got == want and len(got) == 2000


def test_streaming_reid_siv_default_roundtrip_and_dead_letter(
    spark, tmp_path, input_dir, template
):
    """Default-mode (AES-SIV) streaming reid inverts SIV tokens minted by the
    template compiler's default path, and — with a dead-letter dir — corrupt
    tokens are NULL-routed per cell (crypto.aes_siv_decrypt strict=False)
    instead of failing the job on the first InvalidTag."""
    key = "0123456789abcdef"
    tdf = spark.read.parquet(input_dir)
    tok = tdf.withColumn(
        "text", crypto.siv_tokenize(F.col("text"), derive_siv_key(key))
    )
    corrupted = tok.withColumn(
        "text",
        F.when(F.col("turn_idx") % 13 == 0, F.lit("bm90LWEtdG9rZW4=")).otherwise(
            F.col("text")
        ),
    )
    tok_dir = str(tmp_path / "tok_siv")
    corrupted.write.parquet(tok_dir)

    job = jobs.StreamingDeidJob(
        spark,
        template,
        tok_dir,
        str(tmp_path / "out_siv"),
        str(tmp_path / "ckpt_siv"),
        mode="reid",  # crypto_mode left at its default: "siv"
        reid_columns=("text",),
        crypto_key=key,
        error_output_dir=str(tmp_path / "errs_siv"),
    )
    job.run_to_completion()

    good = {
        (r.conv_id, r.turn_idx): r.text
        for r in job.sink().read_committed(spark).collect()
    }
    want_good = {
        (r.conv_id, r.turn_idx): r.text
        for r in tdf.filter("turn_idx % 13 != 0").collect()
    }
    assert good == want_good
    err_rows = job.error_sink().read_committed(spark).collect()
    assert {(r.conv_id, r.turn_idx) for r in err_rows} == {
        (r.conv_id, r.turn_idx) for r in tdf.filter("turn_idx % 13 = 0").collect()
    }
    assert all(r.text == "bm90LWEtdG9rZW4=" for r in err_rows)  # evidence kept


def test_dynamic_per_key_destinations(spark, tmp_path, input_dir, template):
    job = jobs.StreamingDeidJob(
        spark,
        template,
        input_dir,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        partition_output_by="role",
    )
    job.run_to_completion()
    batch_dirs = [
        d for d in os.listdir(os.path.join(str(tmp_path / "out"), "data")) if d.startswith("batch_id=")
    ]
    parts = set(os.listdir(os.path.join(str(tmp_path / "out"), "data", batch_dirs[0])))
    assert {"role=agent", "role=customer", "role=tool"} <= parts
    assert job.sink().read_committed(spark).count() == 2000


def test_kill_mid_stream_then_resume_exactly_once(spark, tmp_path, input_dir, template):
    """Stop the query after the first micro-batch (mid-stream kill), restart
    from the same checkpoint, and verify no loss and no duplicates."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    job = jobs.StreamingDeidJob(
        spark, template, input_dir, out, ckpt, max_files_per_trigger=1
    )
    q = job.start()
    deadline = time.time() + 120
    while time.time() < deadline:
        ids = job.sink().committed_ids()
        if len(ids) >= 2:  # at least one full batch committed, more pending
            break
        time.sleep(0.2)
    q.stop()  # kill mid-stream
    partial = job.sink().read_committed(spark).count()
    assert 0 < partial < 2000

    job2 = jobs.StreamingDeidJob(
        spark, template, input_dir, out, ckpt, max_files_per_trigger=1
    )
    job2.run_to_completion()
    final = job2.sink().read_committed(spark)
    assert final.count() == 2000
    assert (
        final.groupBy("conv_id", "turn_idx", "ts").count().filter("count > 1").count()
        == 0
    )


def test_streaming_reid_dead_letter_side_output(spark, tmp_path, input_dir, template):
    """K5 in streaming form: corrupt tokens land in the dead-letter sink
    (with the original token + error_message) under the SAME exactly-once
    batch ids; good rows decode to the original text."""
    key = "0123456789abcdef"
    tdf = spark.read.parquet(input_dir)
    tok = tdf.withColumn("text", crypto.siv_tokenize(F.col("text"), derive_siv_key(key)))
    corrupted = tok.withColumn(
        "text",
        F.when(F.col("turn_idx") % 17 == 0, F.lit("@@not-a-token@@")).otherwise(
            F.col("text")
        ),
    )
    tok_dir = str(tmp_path / "tok_dl")
    corrupted.write.parquet(tok_dir)

    job = jobs.StreamingDeidJob(
        spark,
        template,
        tok_dir,
        str(tmp_path / "out_dl"),
        str(tmp_path / "ckpt_dl"),
        mode="reid",
        reid_columns=("text",),
        crypto_key=key,
        error_output_dir=str(tmp_path / "errs_dl"),
    )
    q = job.start()
    assert q.awaitTermination(600)

    good = {
        (r.conv_id, r.turn_idx): r.text
        for r in job.sink().read_committed(spark).collect()
    }
    errs = job.error_sink().read_committed(spark)
    bad_keys = {
        (r.conv_id, r.turn_idx)
        for r in corrupted.filter("turn_idx % 17 = 0").collect()
    }
    want_good = {
        (r.conv_id, r.turn_idx): r.text
        for r in tdf.filter("turn_idx % 17 != 0").collect()
    }
    assert good == want_good  # every good row decoded to the original text
    err_rows = errs.collect()
    assert {(r.conv_id, r.turn_idx) for r in err_rows} == bad_keys
    assert all(r.text == "@@not-a-token@@" for r in err_rows)  # evidence kept
    assert all(r.error_message == "reid: undecodable token" for r in err_rows)
    # both legs committed under the same exactly-once ledger batch ids
    assert set(job.error_sink().committed_ids()) <= set(job.sink().committed_ids())
    # each leg's ledger reconciles with its committed rows, entry by entry
    for sink in (job.sink(), job.error_sink()):
        entries = sink.lineage()
        assert sum(e["metrics"]["n_rows"] for e in entries) == sink.read_committed(spark).count()
        for e in entries:
            assert sum(p["rows"] for p in e["partitions"]) == e["metrics"]["n_rows"]
    # the dead-letter leg's side thread inherits the query's job group, so
    # both legs' jobs are listed under it (query.stop() can cancel them)
    group_jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(group_jobs) >= 2 * len(job.sink().committed_ids())


def test_dead_letter_commit_failure_fails_batch_then_restart_exactly_once(
    spark, tmp_path, input_dir, template
):
    """A dead-letter ledger commit that raises fails the micro-batch (the
    error is not lost on the leg's side thread); a plain job restarted on the
    same checkpoint then holds each main and each dead-letter row once."""
    from pyspark.errors import StreamingQueryException

    from dlp_dataflow_deidentification_spark.streaming.commitlog import LocalFSCommitLog

    src = spark.read.parquet(input_dir).withColumn(
        "text", F.when(F.col("turn_idx") % 13 == 0, F.lit(None)).otherwise(F.col("text"))
    )
    in_dir = str(tmp_path / "in_null")
    src.write.parquet(in_dir)
    out, errs, ckpt = (str(tmp_path / d) for d in ("out_f", "errs_f", "ckpt_f"))

    class FailFirstCommitLog(LocalFSCommitLog):
        calls = 0

        def commit(self, batch_id, entry):
            self.calls += 1
            if self.calls == 1:
                raise RuntimeError("injected dead-letter commit failure")
            super().commit(batch_id, entry)

    class FailingJob(jobs.StreamingDeidJob):
        def error_sink(self):
            s = super().error_sink()
            s.commit_log = FailFirstCommitLog(s.ledger_dir)
            return s

    q = FailingJob(spark, template, in_dir, out, ckpt, error_output_dir=errs).start()
    with pytest.raises(StreamingQueryException, match="injected dead-letter commit failure"):
        q.awaitTermination(600)

    job = jobs.StreamingDeidJob(spark, template, in_dir, out, ckpt, error_output_dir=errs)
    assert job.error_sink().committed_ids() == []
    assert job.run_to_completion()

    def keys(df):
        return sorted(tuple(r) for r in df.select("conv_id", "turn_idx", "ts").collect())

    assert keys(job.sink().read_committed(spark)) == keys(src.filter("text IS NOT NULL"))
    assert keys(job.error_sink().read_committed(spark)) == keys(src.filter("text IS NULL"))
    assert keys(src.filter("text IS NULL"))  # the input does plant null payloads


def test_clean_batches_run_one_job_and_commit_empty_dead_letter_entries(
    spark, tmp_path, input_dir, template
):
    """A micro-batch with no dead rows runs only the main write job: the
    dead-letter leg commits a zero-row ledger entry without a write, and its
    read side still returns the typed empty result an empty write gives."""
    from pyspark.sql.types import IntegerType, StringType

    assert spark.read.parquet(input_dir).filter("text IS NULL").count() == 0
    errs = str(tmp_path / "errs_clean")
    job = jobs.StreamingDeidJob(
        spark, template, input_dir, str(tmp_path / "out_clean"), str(tmp_path / "ckpt_clean"),
        max_files_per_trigger=2, error_output_dir=errs,
    )
    q = job.start()
    assert q.awaitTermination(600)

    ids = job.sink().committed_ids()
    assert len(ids) >= 2  # several micro-batches
    group_jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(group_jobs) == len(ids)  # one Spark job per micro-batch
    data = os.path.join(errs, "data")
    assert not os.path.isdir(data) or not any(f.startswith("batch_id=") for f in os.listdir(data))
    entries = job.error_sink().lineage()
    assert [e["batch_id"] for e in entries] == ids
    assert all(e["metrics"]["n_rows"] == 0 for e in entries)
    main = job.sink().read_committed(spark)
    err = job.error_sink().read_committed(spark)
    assert err.count() == 0
    want = [(f.name, f.dataType) for f in main.schema if f.name != "batch_id"]
    want += [("error_message", StringType()), ("batch_id", IntegerType())]
    assert [(f.name, f.dataType) for f in err.schema] == want


def test_dead_letter_write_failure_after_main_commit_then_restart_exactly_once(
    spark, tmp_path, input_dir, template
):
    """The dead-letter leg's write job fails on a batch with dead rows after
    the main leg has committed it; a plain job restarted on the same
    checkpoint replays the batch and holds each main and each dead-letter
    row once."""
    from pyspark.errors import StreamingQueryException

    from dlp_dataflow_deidentification_spark.streaming.sink import IdempotentBatchSink

    src = spark.read.parquet(input_dir).withColumn(
        "text", F.when(F.col("turn_idx") % 11 == 0, F.lit(None)).otherwise(F.col("text"))
    )
    in_dir = str(tmp_path / "in_null_w")
    src.write.parquet(in_dir)
    out, errs, ckpt = (str(tmp_path / d) for d in ("out_w", "errs_w", "ckpt_w"))

    class FailingWriteSink(IdempotentBatchSink):
        def __call__(self, batch_df, batch_id):
            fail = F.raise_error(F.lit("injected dead-letter write failure"))
            poisoned = batch_df.withColumn(
                "error_message", F.when(F.col("turn_idx") >= 0, fail).otherwise(F.col("error_message"))
            )
            super().__call__(poisoned, batch_id)

    class FailingJob(jobs.StreamingDeidJob):
        def error_sink(self):
            return FailingWriteSink(self.error_output_dir)

    q = FailingJob(spark, template, in_dir, out, ckpt, error_output_dir=errs).start()
    with pytest.raises(StreamingQueryException, match="injected dead-letter write failure"):
        q.awaitTermination(600)

    job = jobs.StreamingDeidJob(spark, template, in_dir, out, ckpt, error_output_dir=errs)
    assert job.sink().committed_ids() == [0]  # the main leg committed first
    assert job.error_sink().committed_ids() == []
    assert job.run_to_completion()

    def keys(df):
        return sorted(tuple(r) for r in df.select("conv_id", "turn_idx", "ts").collect())

    assert keys(job.sink().read_committed(spark)) == keys(src.filter("text IS NOT NULL"))
    assert keys(job.error_sink().read_committed(spark)) == keys(src.filter("text IS NULL"))
    assert keys(src.filter("text IS NULL"))  # the input does plant null payloads


def test_streaming_reid_strips_template_surrogate_envelope(spark, tmp_path, input_dir):
    """Tokens minted by a template whose cryptoDeterministicConfig carries a
    surrogateInfoType are written as 'NAME(len):token'; the streaming reid
    job must strip that envelope (template.surrogates drives it — no manual
    knob needed) or NO token can ever decode."""
    from dlp_dataflow_deidentification_spark.operators.deidentify import deidentify

    key = "0123456789abcdef"
    tmpl = dds.DeidTemplate.from_dict(
        {
            "deidentifyConfig": {
                "recordTransformations": {
                    "fieldTransformations": [
                        {
                            "fields": [{"name": "text"}],
                            "primitiveTransformation": {
                                "cryptoDeterministicConfig": {
                                    "surrogateInfoType": {"name": "TOKEN"}
                                }
                            },
                        }
                    ]
                }
            }
        },
        crypto_key=key,
    )
    assert tmpl.surrogates == {"text": "TOKEN"}

    tdf = spark.read.parquet(input_dir)
    tok_dir = str(tmp_path / "tok_sur")
    deidentify(tdf, tmpl).write.parquet(tok_dir)
    # evidence the envelope is really there
    sample = spark.read.parquet(tok_dir).select("text").first().text
    assert sample.startswith("TOKEN(")

    job = jobs.StreamingDeidJob(
        spark,
        tmpl,
        tok_dir,
        str(tmp_path / "out_sur"),
        str(tmp_path / "ckpt_sur"),
        mode="reid",
        reid_columns=("text",),
        crypto_key=key,
    )
    assert job.run_to_completion()
    got = {
        (r.conv_id, r.turn_idx): r.text
        for r in job.sink().read_committed(spark).select("conv_id", "turn_idx", "text").collect()
    }
    want = {
        (r.conv_id, r.turn_idx): r.text
        for r in tdf.select("conv_id", "turn_idx", "text").collect()
    }
    assert got == want and len(got) == 2000


def test_streaming_inspect_mode_with_rule_set_exclusions(spark, tmp_path, input_dir, template):
    """mode='inspect' with a full InspectConfig: a quote-scoped exclusion
    ruleSet drops EMAIL findings in-stream, uncapped (native filter over
    the match arrays — no Python in the hot path) and with
    maxFindingsPerItem (the scanner); stream ≡ batch with the same
    config."""
    totals = {}
    for cap in (None, 1):
        doc = {
            "inspectConfig": {
                "infoTypes": [{"name": "EMAIL_ADDRESS"}, {"name": "PHONE_NUMBER"}],
                "ruleSet": [
                    {
                        "infoTypes": [{"name": "EMAIL_ADDRESS"}],
                        "rules": [
                            {
                                "exclusionRule": {
                                    "regex": {"pattern": r"[a-z0-9]*[02468]@example\.com"},
                                    "matchingType": "MATCHING_TYPE_FULL_MATCH",
                                }
                            }
                        ],
                    }
                ],
            }
        }
        if cap:
            doc["inspectConfig"]["limits"] = {"maxFindingsPerItem": cap}
        cfg = dds.InspectConfig.from_dict(doc)
        job = jobs.StreamingDeidJob(
            spark,
            template,
            input_dir,
            str(tmp_path / f"out_{cap}"),
            str(tmp_path / f"ckpt_{cap}"),
            mode="inspect",
            inspect_config=cfg,
        )
        job.run_to_completion()
        got = {
            r.info_type_name: r["count"]
            for r in job.sink().read_committed(spark).groupBy("info_type_name").count().collect()
        }
        want = {
            r.info_type_name: r["count"]
            for r in dds.inspect(
                spark.read.parquet(input_dir),
                cfg.detectors,
                ["text"],
                id_columns=["conv_id"],
                max_findings_per_item=cfg.max_findings_per_item,
                rule_sets=cfg.rule_sets,
            )
            .groupBy("info_type_name")
            .count()
            .collect()
        }
        assert got == want and set(got) == {"EMAIL_ADDRESS", "PHONE_NUMBER"}
        totals[cap] = got
    # the exclusion actually bit: fewer emails than the rule-free run
    free = dds.inspect(
        spark.read.parquet(input_dir), cfg.detectors, ["text"]
    ).where(F.col("info_type_name") == "EMAIL_ADDRESS").count()
    assert totals[None]["EMAIL_ADDRESS"] < free
    # a turn with a phone holds an excluded email before it (turn 132:
    # user132@example.com, then 415-555-0132), so cap 1 keeps every
    # finding only if excluded findings take no cap slots
    assert totals[1] == totals[None]


def test_streaming_inline_tokenize_then_inline_reid_roundtrip(spark, tmp_path, input_dir):
    """Free-text surrogate workflow END-TO-END in streaming: a template
    whose infoTypeTransformations SIV-tokenize EMAIL findings inline
    (EMAIL_TOKEN(len): envelopes) runs as the DEID stream; a second stream
    with crypto_mode='inline' decrypts the envelopes back out; final text
    equals the source row-for-row. A poisoned token routes to the
    dead-letter leg instead of crashing the stream."""
    key = "0123456789abcdef"
    inline_template = dds.DeidTemplate.from_dict(
        {
            "deidentifyConfig": {
                "recordTransformations": {
                    "fieldTransformations": [
                        {
                            "fields": [{"name": "text"}],
                            "infoTypeTransformations": {
                                "transformations": [
                                    {
                                        "infoTypes": [{"name": "EMAIL_ADDRESS"}],
                                        "primitiveTransformation": {
                                            "cryptoDeterministicConfig": {
                                                "surrogateInfoType": {
                                                    "name": "EMAIL_TOKEN"
                                                }
                                            }
                                        },
                                    }
                                ]
                            },
                        }
                    ]
                }
            }
        },
        crypto_key=key,
    )
    assert inline_template.surrogates == {"text": "EMAIL_TOKEN"}
    tok_dir = str(tmp_path / "tok")
    deid_job = jobs.StreamingDeidJob(
        spark,
        inline_template,
        input_dir,
        tok_dir,
        str(tmp_path / "ckpt1"),
    )
    deid_job.run_to_completion()
    tokenized = deid_job.sink().read_committed(spark)
    n_tok = tokenized.where(F.col("text").rlike(r"EMAIL_TOKEN\([0-9]+\):")).count()
    assert n_tok > 0
    assert tokenized.where(F.col("text").rlike("@example")).count() == 0

    # poison one committed token so the reid stream exercises dead-letter
    poison_dir = str(tmp_path / "poison")
    poisoned = tokenized.withColumn(
        "text",
        F.when(
            F.col("conv_id") == tokenized.select("conv_id").first().conv_id,
            F.regexp_replace("text", r"EMAIL_TOKEN\([0-9]+\):", "EMAIL_TOKEN(8):!!!!!!!!"),
        ).otherwise(F.col("text")),
    )
    poisoned.write.parquet(poison_dir)

    reid_job = jobs.StreamingDeidJob(
        spark,
        inline_template,
        poison_dir,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt2"),
        mode="reid",
        crypto_mode="inline",
        crypto_key=key,
        error_output_dir=str(tmp_path / "err"),
    )
    reid_job.run_to_completion()
    got = reid_job.sink().read_committed(spark)
    err = reid_job.error_sink().read_committed(spark)
    # dead rows carried the evidence to the error table
    assert err.count() > 0
    assert err.where(F.col("text").rlike(r"EMAIL_TOKEN\(")).count() == err.count()
    # surviving rows reproduce the original text exactly
    src = spark.read.parquet(input_dir).select("conv_id", "turn_idx", "text")
    joined = got.alias("g").join(
        src.alias("s"), ["conv_id", "turn_idx"]
    ).where(F.col("g.text") != F.col("s.text"))
    assert joined.count() == 0
    assert got.count() + err.count() == src.count()


def test_streaming_inspect_hotword_rules_route_to_offsets_path(spark, tmp_path, input_dir, template):
    """A ruleSet with a hotwordRule needs offsets — the streaming inspect
    mode must auto-route to the pandas offsets path (which carries
    location_start/end) instead of raising; stream ≡ batch."""
    cfg = dds.InspectConfig.from_dict(
        {
            "inspectConfig": {
                "infoTypes": [{"name": "PHONE_NUMBER"}],
                "ruleSet": [
                    {
                        "infoTypes": [{"name": "PHONE_NUMBER"}],
                        "rules": [
                            {
                                "hotwordRule": {
                                    "hotwordRegex": {"pattern": "(?i)call"},
                                    "proximity": {"windowBefore": 12},
                                    "likelihoodAdjustment": {
                                        "fixedLikelihood": "VERY_LIKELY"
                                    },
                                }
                            }
                        ],
                    }
                ],
            }
        }
    )
    job = jobs.StreamingDeidJob(
        spark,
        template,
        input_dir,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        mode="inspect",
        inspect_config=cfg,
    )
    job.run_to_completion()
    got = job.sink().read_committed(spark)
    assert "location_start" in got.columns  # offsets path was taken
    want = dds.inspect_offsets(
        spark.read.parquet(input_dir),
        cfg.detectors,
        ["text"],
        rule_sets=cfg.rule_sets,
    )
    gd = {r.likelihood: r["count"] for r in got.groupBy("likelihood").count().collect()}
    wd = {r.likelihood: r["count"] for r in want.groupBy("likelihood").count().collect()}
    assert gd == wd and "VERY_LIKELY" in gd  # the hotword actually lifted
