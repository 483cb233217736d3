"""Per-file dynamic schema discovery in ONE streaming pipeline (reference
flagship: ExtractColumnNamesTransform header side-input + keep-one merge +
per-key dynamic destinations)."""
import os

import pytest

from dlp_dataflow_deidentification_spark.sources.dynamic import DynamicSchemaCsvStream


@pytest.fixture()
def dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    os.makedirs(d["in"])
    return d


def _write(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def test_two_shapes_one_stream(spark, dirs):
    """Two differently-shaped CSVs land in two correctly-shaped per-key
    outputs from a single streaming query."""
    _write(os.path.join(dirs["in"], "alpha.csv"), ["a,b", "1,x", "2,y"])
    _write(os.path.join(dirs["in"], "beta.csv"), ["p,q,r", "7,m,true", "8,n,false"])

    job = DynamicSchemaCsvStream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    job.run_to_completion()

    alpha = job.read_table("alpha")
    beta = job.read_table("beta")
    assert set(alpha.columns) == {"a", "b", "source_key"}
    assert set(beta.columns) == {"p", "q", "r", "source_key"}
    assert sorted((r.a, r.b) for r in alpha.collect()) == [("1", "x"), ("2", "y")]
    assert sorted((r.p, r.q, r.r) for r in beta.collect()) == [
        ("7", "m", "true"),
        ("8", "n", "false"),
    ]


def test_keep_one_schema_merge_across_batches(spark, dirs):
    """A later file for an existing key with a DIFFERENT (reordered) header
    parses under the key's FIRST schema (ResolveDuplicatesCombineFn
    keep-one), including across a stream RESTART: the per-key schema ledger
    is durable, so a fresh pipeline instance resolves identically."""
    _write(os.path.join(dirs["in"], "gamma.csv"), ["a,b", "1,x"])
    j1 = DynamicSchemaCsvStream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    j1.run_to_completion()

    # same sanitized key 'gamma' via a subdirectory, conflicting header b,a
    os.makedirs(os.path.join(dirs["in"], "later"))
    _write(os.path.join(dirs["in"], "later", "gamma.csv"), ["b,a", "YY,99"])
    j2 = DynamicSchemaCsvStream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    assert not j2._schemas  # fresh driver memory: durable keep-one only
    j2.run_to_completion()

    gamma = j2.read_table("gamma")
    assert set(gamma.columns) == {"a", "b", "source_key"}
    rows = sorted((r.a, r.b) for r in gamma.collect())
    # the later file's header row is skipped and its cells land POSITIONALLY
    # under the first-seen column names (keep-one: first header wins)
    assert rows == [("1", "x"), ("YY", "99")]


def test_mixed_formats_one_stream(spark, dirs):
    """csv + jsonl + txt files land in correctly-shaped per-key outputs from
    a SINGLE streaming query (the reference's per-format header dispatch,
    ExtractColumnNamesTransform.java:75-117, with --headers for txt)."""
    from dlp_dataflow_deidentification_spark.sources.dynamic import (
        DynamicSchemaFileStream,
    )

    _write(os.path.join(dirs["in"], "alpha.csv"), ["a,b", "1,x", "2,y"])
    _write(
        os.path.join(dirs["in"], "beta.jsonl"),
        ['{"p": "7", "q": "m"}', '{"q": "n", "p": "8"}'],
    )
    _write(
        os.path.join(dirs["in"], "gamma.txt"),
        ["u|v", "1|only-two|three", "2|ok"],  # middle row: arity 3 ≠ 2 → drop
    )

    job = DynamicSchemaFileStream(
        spark,
        dirs["in"],
        dirs["out"],
        dirs["ckpt"],
        txt_headers=["u", "v"],
        txt_delimiter="|",
    )
    job.run_to_completion()

    alpha = job.read_table("alpha")
    assert set(alpha.columns) == {"a", "b", "source_key"}
    assert sorted((r.a, r.b) for r in alpha.collect()) == [("1", "x"), ("2", "y")]

    beta = job.read_table("beta")  # self-describing: the first file's keys
    assert set(beta.columns) == {"p", "q", "source_key"}
    assert sorted((r.p, r.q) for r in beta.collect()) == [("7", "m"), ("8", "n")]

    gamma = job.read_table("gamma")  # user headers (txt has no header line,
    # so "u|v" is itself a data row); the arity-3 middle row is dropped
    assert set(gamma.columns) == {"u", "v", "source_key"}
    assert sorted((r.u, r.v) for r in gamma.collect()) == [("2", "ok"), ("u", "v")]


def test_mixed_format_keep_one_across_restart(spark, dirs):
    """A later JSONL file for a key established by a CSV parses BY NAME
    under the key's first (CSV-header) schema — keep-one holds across
    formats AND across a stream restart via the durable ledger."""
    from dlp_dataflow_deidentification_spark.sources.dynamic import (
        DynamicSchemaFileStream,
    )

    _write(os.path.join(dirs["in"], "delta.csv"), ["a,b", "1,x"])
    j1 = DynamicSchemaFileStream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    j1.run_to_completion()

    os.makedirs(os.path.join(dirs["in"], "later"))
    _write(
        os.path.join(dirs["in"], "later", "delta.jsonl"),
        ['{"b": "YY", "a": "99", "c": "dropped"}'],
    )
    j2 = DynamicSchemaFileStream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    assert not j2._schemas  # fresh driver memory: durable keep-one only
    j2.run_to_completion()

    delta = j2.read_table("delta")
    assert set(delta.columns) == {"a", "b", "source_key"}
    assert sorted((r.a, r.b) for r in delta.collect()) == [("1", "x"), ("99", "YY")]


def test_tsv_leg_and_txt_ledger_wins_over_constructor_headers(spark, dirs):
    """TSV routes under tab delimiter regardless of the csv delimiter knob,
    and a txt key's columns come from the durable ledger on restart even if
    the new pipeline instance is constructed with DIFFERENT txt_headers
    (keep-one: first resolution wins forever)."""
    from dlp_dataflow_deidentification_spark.sources.dynamic import (
        DynamicSchemaFileStream,
    )

    _write(os.path.join(dirs["in"], "eps.tsv"), ["a\tb", "1\tx"])
    _write(os.path.join(dirs["in"], "zeta.txt"), ["7;m"])
    j1 = DynamicSchemaFileStream(
        spark,
        dirs["in"],
        dirs["out"],
        dirs["ckpt"],
        txt_headers=["u", "v"],
        txt_delimiter=";",
    )
    j1.run_to_completion()
    assert sorted(
        (r.a, r.b) for r in j1.read_table("eps").collect()
    ) == [("1", "x")]
    assert sorted(
        (r.u, r.v) for r in j1.read_table("zeta").collect()
    ) == [("7", "m")]

    # restart with DIFFERENT txt headers: the ledger's first resolution wins
    os.makedirs(os.path.join(dirs["in"], "later"))
    _write(os.path.join(dirs["in"], "later", "zeta.txt"), ["8;n"])
    j2 = DynamicSchemaFileStream(
        spark,
        dirs["in"],
        dirs["out"],
        dirs["ckpt"],
        txt_headers=["x1", "x2"],  # ignored for key 'zeta' — ledger wins
        txt_delimiter=";",
    )
    j2.run_to_completion()
    zeta = j2.read_table("zeta")
    assert set(zeta.columns) == {"u", "v", "source_key"}
    assert sorted((r.u, r.v) for r in zeta.collect()) == [("7", "m"), ("8", "n")]


def test_unrecognized_extension_dead_letters_not_poison(spark, dirs):
    """A stray unsupported file must NOT wedge the stream: a ValueError in
    foreachBatch fails the micro-batch and the checkpoint replays it forever.
    Instead the file is routed to the reserved _dead_letter table and the
    recognized files in the same batch process normally."""
    _write(os.path.join(dirs["in"], "alpha.csv"), ["a,b", "1,x"])
    _write(os.path.join(dirs["in"], "stray.bak"), ["junk"])
    _write(os.path.join(dirs["in"], "noext"), ["junk"])

    job = DynamicSchemaCsvStream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    assert job.run_to_completion()  # query drained; no poison-pill crash

    alpha = job.read_table("alpha")
    assert sorted((r.a, r.b) for r in alpha.collect()) == [("1", "x")]
    dead = job.read_table(job.DEAD_LETTER_KEY)
    got = sorted(os.path.basename(r.path) for r in dead.collect())
    assert got == ["noext", "stray.bak"]


def test_txt_under_multicolumn_pinned_schema(spark, dirs):
    """A .txt file (no txt_delimiter) arriving under a key already pinned to
    a multi-column schema parses under THAT schema: whole line in the first
    pinned column, remaining columns null — not a 1-column frame that
    crashes the same-batch union or drifts the sink's schema."""
    _write(os.path.join(dirs["in"], "kappa.csv"), ["a,b", "1,x"])
    j1 = DynamicSchemaCsvStream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    j1.run_to_completion()

    os.makedirs(os.path.join(dirs["in"], "later"))
    _write(os.path.join(dirs["in"], "later", "kappa.txt"), ["free text line"])
    j2 = DynamicSchemaCsvStream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    j2.run_to_completion()

    rows = sorted(
        (r.a, r.b) for r in j2.read_table("kappa").collect()
    )
    assert rows == [("1", "x"), ("free text line", None)]


def test_txt_delimiter_arity_filter_applies_to_single_column(spark, dirs):
    """With a txt_delimiter, a line whose token count differs from the
    pinned column count is DROPPED (ConvertTxtToDLPRow.java:65-77) — even
    when the schema is a single column, so a delimiter-bearing line is not
    silently kept whole."""
    _write(os.path.join(dirs["in"], "mono.txt"), ["good", "bad|line", "ok"])
    job = DynamicSchemaCsvStream(
        spark,
        dirs["in"],
        dirs["out"],
        dirs["ckpt"],
        txt_headers=["v"],
        txt_delimiter="|",
    )
    job.run_to_completion()
    assert sorted(r.v for r in job.read_table("mono").collect()) == ["good", "ok"]


def test_multi_txt_headers_without_delimiter_raise(spark, dirs):
    """Multiple txt_headers with no txt_delimiter would silently pin a
    1-column schema (dropping the other declared columns, durably) — the
    constructor path raises instead."""
    import pytest as _pytest

    _write(os.path.join(dirs["in"], "tau.txt"), ["x"])
    with _pytest.raises(ValueError, match="txt_delimiter"):
        DynamicSchemaCsvStream(
            spark,
            dirs["in"],
            dirs["out"],
            dirs["ckpt"],
            txt_headers=["u", "v"],
        )


def test_self_describing_parquet_and_orc_legs(spark, dirs):
    """parquet + orc files flow through the SAME stream: schema from the
    file footer (no headers needed), typed columns stringified to the
    all-string contract, and a later csv file of the same key parses under
    the parquet-pinned schema (keep-one across formats)."""
    import shutil

    # parquet key 'alpha': typed columns (int, string)
    tmp = dirs["in"] + "_stage"
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "num int, name string"
    ).coalesce(1).write.parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(tmp, part), os.path.join(dirs["in"], "alpha.parquet"))
    shutil.rmtree(tmp)
    # orc key 'omega'
    spark.createDataFrame([(9.5, "z")], "score double, tag string").coalesce(
        1
    ).write.orc(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".orc")][0]
    shutil.copy(os.path.join(tmp, part), os.path.join(dirs["in"], "omega.orc"))
    shutil.rmtree(tmp)

    from dlp_dataflow_deidentification_spark.sources.dynamic import (
        DynamicSchemaFileStream,
    )

    job = DynamicSchemaFileStream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    assert job.run_to_completion()
    alpha = job.read_table("alpha")
    assert set(alpha.columns) == {"num", "name", "source_key"}
    assert alpha.schema["num"].dataType.simpleString() == "string"
    rows = {(r.num, r.name) for r in alpha.collect()}
    assert rows == {("1", "a"), ("2", "b")}  # stringified
    omega = job.read_table("omega")
    assert [(r.score, r.tag) for r in omega.collect()] == [("9.5", "z")]

    # keep-one across formats: a csv named alpha parses under the
    # parquet-pinned columns (header row consumed, positions matched)
    os.makedirs(os.path.join(dirs["in"], "later"))
    _write(os.path.join(dirs["in"], "later", "alpha.csv"), ["num,name", "3,c"])
    job2 = DynamicSchemaFileStream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    assert job2.run_to_completion()
    rows = {(r.num, r.name) for r in job2.read_table("alpha").collect()}
    assert rows == {("1", "a"), ("2", "b"), ("3", "c")}


def test_avro_without_jar_dead_letters_instead_of_wedging(spark, dirs):
    """An .avro file when the spark-avro jar is absent must NOT wedge the
    checkpointed batch in a replay loop: the key dead-letters with the
    analysis failure, and other keys in the same batch still commit."""
    try:
        spark.read.format("avro").load(dirs["in"] + "/nope.avro")
    except Exception as e:
        jarless = "Failed to find data source" in str(e) or "AVRO" in str(e).upper()
    else:
        jarless = False
    if not jarless:
        pytest.skip("spark-avro jar present; the jar-less gate is untestable")
    with open(os.path.join(dirs["in"], "bad.avro"), "wb") as f:
        f.write(b"Obj\x01fakeavro")
    _write(os.path.join(dirs["in"], "good.csv"), ["a,b", "1,2"])

    from dlp_dataflow_deidentification_spark.sources.dynamic import (
        DynamicSchemaFileStream,
    )

    job = DynamicSchemaFileStream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    assert job.run_to_completion()
    assert [(r.a, r.b) for r in job.read_table("good").collect()] == [("1", "2")]
    dead = job.read_table(DynamicSchemaFileStream.DEAD_LETTER_KEY)
    rows = dead.collect()
    assert len(rows) == 1 and rows[0].path.endswith("bad.avro")
    assert "unreadable avro" in rows[0].reason or "analysis failure" in rows[0].reason


def test_all_dead_letters_in_one_batch_are_recorded(spark, dirs):
    """Multiple dead-letter legs in ONE micro-batch must all land: the sink
    is idempotent per (dir, batch_id), so per-leg writes would silently
    drop every dead-letter after the first (regression: an unrecognized
    extension plus a failed key in the same batch lost the second)."""
    _write(os.path.join(dirs["in"], "notes.bak"), ["junk"])
    _write(os.path.join(dirs["in"], "junk.xyz"), ["junk"])
    # a corrupt parquet key fails validation in the same batch
    with open(os.path.join(dirs["in"], "broken.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a parquet footer")
    _write(os.path.join(dirs["in"], "good.csv"), ["a,b", "1,2"])

    from dlp_dataflow_deidentification_spark.sources.dynamic import (
        DynamicSchemaFileStream,
    )

    job = DynamicSchemaFileStream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    assert job.run_to_completion()
    assert [(r.a, r.b) for r in job.read_table("good").collect()] == [("1", "2")]
    dead = {os.path.basename(r.path): r.reason for r in job.read_table(
        DynamicSchemaFileStream.DEAD_LETTER_KEY).collect()}
    assert set(dead) == {"notes.bak", "junk.xyz", "broken.parquet"}


def test_corrupt_nonfirst_binary_file_dead_letters_healthy_sibling_ingests(spark, dirs):
    """A corrupt parquet file arriving AFTER a healthy one of the same key
    must dead-letter just that file — not wedge the checkpointed batch in a
    deterministic write-action replay loop — and the healthy file's rows
    still commit."""
    import shutil

    tmp = dirs["in"] + "_stage"
    spark.createDataFrame([(1, "a")], "num int, name string").coalesce(1).write.parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(tmp, part), os.path.join(dirs["in"], "alpha.parquet"))
    shutil.rmtree(tmp)
    os.makedirs(os.path.join(dirs["in"], "later"))
    with open(os.path.join(dirs["in"], "later", "alpha.parquet"), "wb") as f:
        f.write(b"PAR1 truncated garbage")

    from dlp_dataflow_deidentification_spark.sources.dynamic import (
        DynamicSchemaFileStream,
    )

    job = DynamicSchemaFileStream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    assert job.run_to_completion()
    assert {(r.num, r.name) for r in job.read_table("alpha").collect()} == {("1", "a")}
    dead = job.read_table(DynamicSchemaFileStream.DEAD_LETTER_KEY).collect()
    assert len(dead) == 1 and "unreadable parquet" in dead[0].reason


def test_many_small_files_group_validation_and_isolation(spark, dirs):
    """Round-6 group-lazy validation (verdict ask #3): a key delivering many
    small parquet files in one trigger is validated with ONE per-group
    analysis (mergeSchema reads every footer, executor-side), and when one
    of them is corrupt the per-file fallback isolates exactly that file
    while every healthy sibling's rows still commit."""
    import shutil

    tmp = dirs["in"] + "_stage"
    n = 24
    for i in range(n):
        spark.createDataFrame([(i, f"r{i}")], "num int, name string").coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        sub = os.path.join(dirs["in"], f"d{i:02d}")
        os.makedirs(sub, exist_ok=True)
        shutil.copy(os.path.join(tmp, part), os.path.join(sub, "bulk.parquet"))
    # an all-healthy multi-file key exercises the single-group-analysis
    # PASS path (no per-file probes at all)
    for i in range(3):
        spark.createDataFrame([(100 + i, f"t{i}")], "num int, name string").coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        sub = os.path.join(dirs["in"], f"t{i}")
        os.makedirs(sub, exist_ok=True)
        shutil.copy(os.path.join(tmp, part), os.path.join(sub, "trio.parquet"))
    shutil.rmtree(tmp)
    with open(os.path.join(dirs["in"], "bulk.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a real parquet footer")

    from dlp_dataflow_deidentification_spark.sources.dynamic import (
        DynamicSchemaFileStream,
    )

    job = DynamicSchemaFileStream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    assert job.run_to_completion()
    got = {(r.num, r.name) for r in job.read_table("bulk").collect()}
    assert got == {(str(i), f"r{i}") for i in range(n)}
    trio = {(r.num, r.name) for r in job.read_table("trio").collect()}
    assert trio == {(str(100 + i), f"t{i}") for i in range(3)}
    dead = job.read_table(DynamicSchemaFileStream.DEAD_LETTER_KEY).collect()
    assert len(dead) == 1 and "unreadable parquet" in dead[0].reason


def test_dead_letter_reason_with_lone_surrogate_without_arrow_fallback(
    spark, dirs, monkeypatch
):
    """An analysis failure whose text holds a lone surrogate must still land
    in the dead-letter table when the row-wise fallback for a failed Arrow
    conversion is disabled: Arrow cannot encode the surrogate, and a raise
    in the dead-letter write would wedge the checkpointed batch."""
    _write(os.path.join(dirs["in"], "bad.csv"), ["a,b", "1,2"])
    _write(os.path.join(dirs["in"], "good.csv"), ["a,b", "3,4"])

    from dlp_dataflow_deidentification_spark.sources.dynamic import (
        DynamicSchemaFileStream,
    )

    job = DynamicSchemaFileStream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    columns_for = job.columns_for

    def boom(key, path, fmt):
        if key == "bad":
            raise ValueError("undecodable header \ud800")
        return columns_for(key, path, fmt)

    monkeypatch.setattr(job, "columns_for", boom)
    conf = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        assert job.run_to_completion()
    finally:
        spark.conf.set(conf, before)
    assert [(r.a, r.b) for r in job.read_table("good").collect()] == [("3", "4")]
    dead = job.read_table(DynamicSchemaFileStream.DEAD_LETTER_KEY).collect()
    assert len(dead) == 1 and dead[0].path.endswith("bad.csv")
    assert "analysis failure" in dead[0].reason
    assert "undecodable header \\ud800" in dead[0].reason


def test_dead_letter_write_falls_back_row_wise_when_arrow_conversion_fails(
    spark, dirs, monkeypatch
):
    """Any failure of the Arrow conversion behind the dead-letter write (not
    only the lone-surrogate case) must leave the batch committable: with
    ``spark.sql.execution.arrow.pyspark.fallback.enabled`` at its default,
    ``createDataFrame`` retries row-wise and the dead-letter row still
    lands next to the good key's rows."""
    _write(os.path.join(dirs["in"], "good.csv"), ["a,b", "3,4"])
    _write(os.path.join(dirs["in"], "stray.bak"), ["junk"])

    from dlp_dataflow_deidentification_spark.sources.dynamic import (
        DynamicSchemaFileStream,
    )

    calls = []

    def arrow_fails(*args, **kwargs):
        calls.append(1)
        raise RuntimeError("forced Arrow conversion failure")

    monkeypatch.setattr(spark, "_create_from_pandas_with_arrow", arrow_fails)
    job = DynamicSchemaFileStream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    assert job.run_to_completion()
    assert calls, "the dead-letter write must attempt the Arrow conversion"
    assert [(r.a, r.b) for r in job.read_table("good").collect()] == [("3", "4")]
    dead = job.read_table(DynamicSchemaFileStream.DEAD_LETTER_KEY).collect()
    assert [(os.path.basename(r.path), r.reason) for r in dead] == [
        ("stray.bak", "unrecognized file extension")
    ]
