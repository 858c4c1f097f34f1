"""Failure injection: one named failure and one asserted outcome per test.

Checkpoint corruption. A stateful Stream-API query (keyed running count
over a replayable parquet source) runs two batches into a checkpoint and
stops. One byte of a checkpoint file is flipped, new data lands, and the
query is restarted from the same checkpoint in a fresh session. The
restart must fail with a checksum error: resuming would replay from, or
fold into, state that is no longer what was committed.

Task retry. A Python-stage task that raises on its first attempt is
retried; the result must hash the same as a clean run.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from gearpump_spark.stream import GearContext

SCHEMA = "k string, ts timestamp"
FILE_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
JVM_STACKTRACE_KEY = "spark.sql.pyspark.jvmStacktrace.enabled"


def _land(spark, src, keys):
    spark.createDataFrame([(k,) for k in keys], "k string").select(
        "k", F.current_timestamp().alias("ts")
    ).coalesce(1).write.mode("append").parquet(src)
    time.sleep(0.05)


def _run_once(spark, src, ckpt):
    """One availableNow run of the keyed running count."""
    counts = GearContext(spark).from_stream_parquet(src, SCHEMA, "ts").key_by("k").count()
    q = (
        counts.df.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _two_batches(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), tmp_path / "ckpt"
    for keys in (["a", "a", "b"], ["a", "b", "b", "c"]):
        _land(spark, src, keys)
        _run_once(spark, src, str(ckpt))
    assert (ckpt / "commits" / "1").exists()
    return src, ckpt


def _flip(path, offset):
    data = bytearray(path.read_bytes())
    data[offset] ^= 0x01
    path.write_bytes(bytes(data))


def _restart_fails_on_checksum(spark, src, ckpt):
    _land(spark, src, ["c", "d"])
    # The checksum error is a cause of the stream failure. With the JVM
    # stack trace on, the raised error's text carries the whole cause
    # chain; the flag is read from the active session, not the fresh one.
    spark.conf.set(JVM_STACKTRACE_KEY, "true")
    try:
        with pytest.raises(Exception, match="(?i)checksum"):
            _run_once(spark.newSession(), src, str(ckpt))
    finally:
        spark.conf.unset(JVM_STACKTRACE_KEY)
    assert not (ckpt / "commits" / "2").exists(), "the restart committed a batch"


def test_corrupt_state_delta_fails_restart(spark, tmp_path):
    src, ckpt = _two_batches(spark, tmp_path)
    delta = ckpt / "state" / "0" / "0" / "2.delta"
    _flip(delta, delta.stat().st_size // 2)
    _restart_fails_on_checksum(spark, src, ckpt)


def test_corrupt_offset_log_fails_restart(spark, tmp_path):
    """The flip keeps the file well-formed: it turns one letter of a conf
    key in the batch metadata into another, so only a checksum can tell."""
    src, ckpt = _two_batches(spark, tmp_path)
    offsets = ckpt / "offsets" / "1"
    _flip(offsets, offsets.read_bytes().index(b"spark.sql.streaming") + len("spark.sql.s"))
    _restart_fails_on_checksum(spark, src, ckpt)


def test_checkpoint_file_manager_scope(spark):
    """get_spark's local sessions write checkpoints through the Hadoop
    FileSystem API; a session built elsewhere and handed to GearContext
    keeps Spark's default manager."""
    assert spark.conf.get(FILE_MANAGER_KEY).endswith(".FileSystemBasedCheckpointFileManager")
    probe = (
        "from pyspark.sql import SparkSession\n"
        "from gearpump_spark.stream import GearContext\n"
        "spark = (SparkSession.builder.master('local[1]')"
        ".config('spark.driver.memory', '512m')"
        ".config('spark.ui.enabled', 'false').getOrCreate())\n"
        "ctx = GearContext(spark)\n"
        f"print('MANAGER', ctx.spark.conf.get({FILE_MANAGER_KEY!r}, None))\n"
        "spark.stop()\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=root,
        env={**os.environ, "PYTHONPATH": root},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "MANAGER None" in out.stdout.splitlines()


# One task of the Python stage fails on its first attempt: the payload
# function raises inside the synthesis seam in partition 0, attempt 0.
_FLAKY_STAGE = """
import sys
from pyspark import TaskContext
from pyspark.sql import SparkSession
from gearpump_spark.datasets import table
from gearpump_spark.operators import multimodal as MM
from gearpump_spark.queries import all_queries
from perfbench.oracle import load_contract_functions

sf, marker = sys.argv[1], sys.argv[2]
value_hash, norm = load_contract_functions(".")
spark = (SparkSession.builder.master("local[2,2]").config("spark.driver.memory", "512m")
         .config("spark.ui.enabled", "false").getOrCreate())

def flaky_bmp(i):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        open(marker, "w").close()
        raise RuntimeError("injected failure")
    return MM.bmp_payload(i)

clean = all_queries()["multimodal_pixels_real"](spark, sf).toPandas()
docs = table(spark, sf, "documents").select("doc_id")
retried = MM.sorted_python_stage(
    docs, lambda d: MM.pixel_stats(MM.synthesize_payloads(d, flaky_bmp)), "doc_id"
).toPandas()
print("ROWS", len(clean), len(retried))
print("ORDERED", list(retried["doc_id"]) == sorted(retried["doc_id"]))
print("HASH", value_hash(norm(clean)), value_hash(norm(retried)))
spark.stop()
"""


def test_python_stage_task_retry_same_hash(sf_dir, tmp_path):
    """A Python-stage task that fails once is retried under
    spark.task.maxFailures = 2 (master local[2,2]); the retried result
    hashes the same as a clean run and keeps its key order."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    marker = tmp_path / "raised"
    out = subprocess.run(
        [sys.executable, "-c", _FLAKY_STAGE, sf_dir, str(marker)],
        cwd=root,
        env={**os.environ, "PYTHONPATH": root},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert marker.exists(), "the injected failure never ran"
    fields = dict(line.split(" ", 1) for line in out.stdout.splitlines() if " " in line)
    rows, ordered, hashes = fields["ROWS"].split(), fields["ORDERED"], fields["HASH"].split()
    assert rows[0] == rows[1] != "0"
    assert ordered == "True"
    assert hashes[0] == hashes[1]
