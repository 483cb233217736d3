"""Standalone streaming DEID job for spark-submit (scaling evidence runner).

Usage (see scaling_bench.py):
  spark-submit --master 'local-cluster[N,1,MEM_MB]' --py-files dds.zip \
      scripts/streaming_job.py <input_dir> <work_dir> [repo_dir]

Reads a transcript parquet stream, de-identifies it through the exactly-once
sink, prints one JSON line with throughput + p50 micro-batch latency.
"""
import json
import os
import sys
import time


def _jvm_cpu_seconds() -> tuple[float, float]:
    """CPU seconds of the Spark process tree (read from /proc), split into
    (driver, executors). The tree's root is the driver JVM (our parent under
    spark-submit). In local-cluster[] mode each executor is a separate JVM
    (``CoarseGrainedExecutorBackend``) forked by the driver, with its Python
    workers below it: the executors' share is those subtrees, the driver's
    is the rest (the driver JVM and this Python process). Evidence for the
    scaling report: utilization = Δexecutor cpu / (wall · executor cores)."""
    hz = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    procs: dict[int, tuple[int, float, str]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(") ", 1)[1]
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().decode(errors="replace")
            parts = rest.split()
            # fields after comm: state ppid ... utime=idx11 stime=idx12
            procs[int(pid)] = (
                int(parts[1]),
                (int(parts[11]) + int(parts[12])) / hz,
                cmd,
            )
        except (OSError, IndexError, ValueError):
            continue
    # root of the tree: the driver JVM (our parent under spark-submit) or us
    ppid = procs.get(me, (0, 0.0, ""))[0]
    root = ppid if "java" in procs.get(ppid, (0, 0.0, ""))[2] else me
    children: dict[int, list[int]] = {}
    for pid, (par, _, _) in procs.items():
        children.setdefault(par, []).append(pid)
    cpu = {False: 0.0, True: 0.0}  # in an executor subtree?
    stack = [(root, False)]
    while stack:
        p, in_exec = stack.pop()
        _, sec, cmd = procs.get(p, (0, 0.0, ""))
        in_exec = in_exec or "CoarseGrainedExecutorBackend" in cmd
        cpu[in_exec] += sec
        stack.extend((c, in_exec) for c in children.get(p, []))
    return cpu[False], cpu[True]


def main() -> None:
    input_dir, work_dir = sys.argv[1], sys.argv[2]
    repo = sys.argv[3] if len(sys.argv) > 3 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    from pyspark.sql import SparkSession

    import dlp_dataflow_deidentification_spark as dds
    from dlp_dataflow_deidentification_spark.streaming import jobs, metrics

    spark = SparkSession.builder.config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    template = dds.DeidTemplate.from_file(os.path.join(repo, "configs/deid_transcripts.json"))

    if os.environ.get("SCALING_MODE") == "batch":
        # same pipeline without the streaming machinery: read → deid → write
        import shutil

        from dlp_dataflow_deidentification_spark.operators.deidentify import deidentify

        df = deidentify(spark.read.parquet(input_dir), template)
        df.limit(50000).write.format("noop").mode("overwrite").save()  # JIT warmup
        out = os.path.join(work_dir, "batch_out")
        t0 = time.time()
        df.write.mode("overwrite").parquet(out)
        wall = time.time() - t0
        n = spark.read.parquet(out).count()
        shutil.rmtree(out, ignore_errors=True)
        print(
            "SCALING_RESULT "
            + json.dumps(
                {
                    "master": spark.sparkContext.master,
                    "rows": n,
                    "wall_sec": round(wall, 2),
                    "turns_per_sec": round(n / wall, 1),
                    "p50_batch_ms": round(wall * 1000, 1),
                }
            )
        )
        spark.stop()
        return

    if os.environ.get("SCALING_MODE") == "stateful":
        # chained deid → BUCKETED stateful session assembly (ONE query,
        # RocksDB state): the arbitrary-per-key-logic path's own N vs 4N
        # evidence — the bucket shuffle + state store must scale across
        # executors, not just the stateless projection
        mft = int(os.environ.get("MAX_FILES_PER_TRIGGER", "64"))
        jobs.use_rocksdb_state_store(spark)

        def run_once(tag: str):
            cap = metrics.ProgressCapture()
            spark.streams.addListener(cap)
            try:
                t0 = time.time()
                q = (
                    jobs.deid_sessions_stream(
                        spark,
                        template,
                        input_dir,
                        gap_ms=1_800_000,
                        watermark="1 minute",
                        max_files_per_trigger=mft,
                        n_buckets=256,
                    )
                    .writeStream.format("noop")
                    .option(
                        "checkpointLocation", os.path.join(work_dir, f"ckpt_{tag}")
                    )
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination(3600)
                if q.isActive:
                    q.stop()
                wall = time.time() - t0
                # listener events are delivered async — drain until the
                # expected row count (when known) or a short timeout
                expect = int(os.environ.get("STATEFUL_EXPECT_ROWS", "0"))
                for _ in range(120):
                    if expect <= 0 or cap.total_rows() >= expect:
                        break
                    time.sleep(0.25)
                return wall, cap.total_rows(), cap
            finally:
                spark.streams.removeListener(cap)

        if os.environ.get("SCALING_WARMUP", "1") == "1":
            run_once("warm")
        cpu0 = _jvm_cpu_seconds()
        wall, n, cap = run_once("main")
        cpu1 = _jvm_cpu_seconds()
        print(
            "SCALING_RESULT "
            + json.dumps(
                {
                    "master": spark.sparkContext.master,
                    "rows": n,
                    "wall_sec": round(wall, 2),
                    "turns_per_sec": round(n / wall, 1),
                    "p50_batch_ms": round(cap.p50_batch_ms(), 1),
                    "driver_cpu_sec": round(cpu1[0] - cpu0[0], 2),
                    "executor_cpu_sec": round(cpu1[1] - cpu0[1], 2),
                }
            )
        )
        spark.stop()
        return

    mft = int(os.environ.get("MAX_FILES_PER_TRIGGER", "2"))
    if os.environ.get("SCALING_WARMUP", "1") == "1":
        # full warmup pass in the same JVM (throwaway sink/checkpoint): JIT
        # compilation and codegen are one-time costs, not engine throughput
        warm = jobs.StreamingDeidJob(
            spark,
            template,
            input_dir,
            os.path.join(work_dir, "warm_out"),
            os.path.join(work_dir, "warm_ckpt"),
            max_files_per_trigger=mft,
        )
        warm.run_to_completion(timeout_sec=3600)

    cap = metrics.ProgressCapture()
    spark.streams.addListener(cap)
    cpu0 = _jvm_cpu_seconds()
    t0 = time.time()
    job = jobs.StreamingDeidJob(
        spark,
        template,
        input_dir,
        os.path.join(work_dir, "out"),
        os.path.join(work_dir, "ckpt"),
        max_files_per_trigger=mft,
    )
    job.run_to_completion(timeout_sec=3600)
    wall = time.time() - t0
    cpu1 = _jvm_cpu_seconds()
    n_out = sum(e["metrics"]["n_rows"] for e in job.sink().lineage())
    for _ in range(60):
        if cap.total_rows() >= n_out:
            break
        time.sleep(0.25)
    print(
        "SCALING_RESULT "
        + json.dumps(
            {
                "master": spark.sparkContext.master,
                "rows": n_out,
                "wall_sec": round(wall, 2),
                "turns_per_sec": round(n_out / wall, 1),
                "p50_batch_ms": round(cap.p50_batch_ms(), 1),
                "driver_cpu_sec": round(cpu1[0] - cpu0[0], 2),
                "executor_cpu_sec": round(cpu1[1] - cpu0[1], 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
