"""The fluent stream-DAG API — the reference's user-facing surface
(Processor DAG + Partitioners, SURVEY.md §2.A/§3.1) compiled directly to
DataFrame plans, the way the reference's Beam runner translates pipelines
to Processor graphs (SURVEY §3.2,
reference: experiments/beam/.../translators/GearpumpPipelineTranslator.java:43-53).

A ``Stream`` wraps a DataFrame (batch or streaming — the reference is
unbounded-only; we support both) plus the event-time column name, mirroring
``Message(value, timestamp)`` (reference:
core/src/main/scala/io/gearpump/Message.scala:20-25) with the one deliberate
upgrade called out in SURVEY §1.3: payloads have real schemas, not Kryo'd
``Any``.

There is deliberately NO optimizer here (the reference has none either,
SURVEY §4.1): each method appends one declarative DataFrame operation and
Catalyst owns all rewrites.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from contextlib import contextmanager
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gearpump_spark.session import ensure_runtime_conf

# External connectors the pip pyspark distribution does not bundle: the
# error text that marks each one missing, and the guidance that follows
# "<Connector> source/sink" in the raised message.
_AVRO_MISSING = ("Failed to find data source: avro",)
_AVRO_NEEDS = (
    "Avro needs the spark-avro module on the classpath "
    "(spark-submit --packages org.apache.spark:spark-avro_2.13:<spark-version>); "
    "not present in this environment"
)
_KAFKA_MISSING = ("Failed to find data source: kafka",)
_KAFKA_NEEDS = (
    "needs the spark-sql-kafka connector jar "
    "(spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>, "
    "e.g. :4.1.2 to match this Spark); not present in this environment"
)
_JDBC_MISSING = ("No suitable driver", "ClassNotFoundException", "JDBC_NO_SUITABLE_DRIVER")
_JDBC_NEEDS = (
    "needs a JDBC driver jar on the classpath "
    "(spark-submit --jars <driver>.jar, e.g. postgresql.jar "
    "or phoenix-client.jar for HBase); none is present in "
    "this environment"
)


@contextmanager
def _connector_gate(markers: tuple[str, ...], message: str):
    """Turn a missing-connector failure (an error whose text carries one
    of ``markers``) into NotImplementedError(message); re-raise any other."""
    try:
        yield
    except Exception as e:
        if any(m in str(e) for m in markers):
            raise NotImplementedError(message) from e
        raise


class GearContext:
    """Entry point: builds source Streams (reference: DataSourceProcessor,
    streaming/.../source/DataSourceProcessor.scala:34-44)."""

    def __init__(self, spark: SparkSession):
        self.spark = ensure_runtime_conf(spark)

    # -- bounded sources ----------------------------------------------------
    def from_collection(
        self, rows: Iterable[Any], schema: Any, ts_col: str | None = None
    ) -> "Stream":
        """Beam Create.Values (reference:
        experiments/beam/.../translators/CreateValuesTranslator.java:31-52)."""
        return Stream(self.spark.createDataFrame(list(rows), schema), ts_col)

    def impulse(self) -> "Stream":
        """Beam Impulse: a single empty element (reference:
        experiments/beam/.../translators/ImpulseTranslator.java:26-34)."""
        return Stream(self.spark.range(1).select(F.lit(b"").alias("impulse")), None)

    def from_parquet(self, path: str, ts_col: str | None = None) -> "Stream":
        """Read.Bounded (reference:
        experiments/beam/.../translators/ReadBoundedTranslator.java:27-43)."""
        return Stream(self.spark.read.parquet(path), ts_col)

    def from_csv(
        self,
        path: str,
        schema: Any = None,
        header: bool = True,
        ts_col: str | None = None,
        **options: Any,
    ) -> "Stream":
        """CSV source. Pass an explicit schema at scale — schema inference
        reads the data twice, and a declared schema lets malformed rows go
        to `_corrupt_record` (PERMISSIVE) instead of failing the job."""
        reader = self.spark.read.options(header=str(header).lower(), **options)
        if schema is not None:
            reader = reader.schema(schema)
        else:
            reader = reader.option("inferSchema", "true")
        return Stream(reader.csv(path), ts_col)

    def from_json_lines(
        self, path: str, schema: Any = None, ts_col: str | None = None, **options: Any
    ) -> "Stream":
        """Newline-delimited JSON source (the common raw-crawl layout).
        Same schema discipline as from_csv; nested structs/arrays land as
        StructType/ArrayType columns."""
        reader = self.spark.read.options(**options)
        if schema is not None:
            reader = reader.schema(schema)
        return Stream(reader.json(path), ts_col)

    def from_avro(self, path: str, ts_col: str | None = None) -> "Stream":
        """Avro source. Avro has been an EXTERNAL Spark module since 2.4:
        the pip pyspark distribution does not bundle spark-avro, so this
        raises with deployment guidance when the jar is absent (same gating
        contract as the Kafka connector)."""
        with _connector_gate(_AVRO_MISSING, _AVRO_NEEDS):
            return Stream(self.spark.read.format("avro").load(path), ts_col)

    def from_jdbc(
        self,
        url: str,
        table: str,
        driver: str | None = None,
        partition_column: str | None = None,
        lower_bound: int | None = None,
        upper_bound: int | None = None,
        num_partitions: int | None = None,
        **options: Any,
    ) -> "Stream":
        """JDBC source — pair of ``Stream.sink_jdbc`` (external RDBMS/KV
        ingest; Phoenix's JDBC driver covers the reference's HBase).
        Pass partition_column/lower_bound/upper_bound/num_partitions for a
        PARALLEL scan (one range query per partition) — without them the
        whole table reads through one connection, which is wrong at any
        scale. Requires a JDBC driver jar (absent here → gated error)."""
        reader = self.spark.read.format("jdbc").option("url", url).option(
            "dbtable", table
        )
        if driver is not None:
            reader = reader.option("driver", driver)
        if partition_column is not None:
            reader = (
                reader.option("partitionColumn", partition_column)
                .option("lowerBound", str(lower_bound))
                .option("upperBound", str(upper_bound))
                .option("numPartitions", str(num_partitions or 8))
            )
        for k, v in options.items():
            reader = reader.option(k, v)
        with _connector_gate(_JDBC_MISSING, "JDBC source " + _JDBC_NEEDS):
            return Stream(reader.load())

    def from_orc(self, path: str, ts_col: str | None = None) -> "Stream":
        """ORC source (columnar like parquet: predicate pushdown, column
        pruning, and split-ability all apply)."""
        return Stream(self.spark.read.orc(path), ts_col)

    def from_text(self, path: str, ts_col: str | None = None) -> "Stream":
        """Line-oriented text source: one `value: string` column per line
        (the raw-corpus entry point — feed it to functions/text.py)."""
        return Stream(self.spark.read.text(path), ts_col)

    # -- unbounded sources --------------------------------------------------
    def from_rate(self, rows_per_second: int = 1000) -> "Stream":
        """Unbounded generator source (the SOL producer analog; reference:
        examples/streaming/sol/.../SOLStreamProducer.scala)."""
        df = (
            self.spark.readStream.format("rate")
            .option("rowsPerSecond", rows_per_second)
            .load()
        )
        return Stream(df, "timestamp")

    def from_stream_parquet(self, path: str, schema: Any, ts_col: str | None = None) -> "Stream":
        """Read.Unbounded over files — a replayable source: restart replays
        from checkpointed offsets (reference TimeReplayableSource,
        streaming/.../transaction/api/TimeReplayableSource.scala:25-31)."""
        df = self.spark.readStream.format("parquet").schema(schema).load(path)
        return Stream(df, ts_col)

    def from_kafka(
        self,
        bootstrap_servers: str,
        topic: str,
        starting_offsets_by_timestamp: str | None = None,
        **options: Any,
    ) -> "Stream":
        """Kafka source — the reference's KafkaSource replay-from-timestamp
        design (offset↔timestamp mapping, docs/contents/internals/
        gearpump-internals.md:214-227) is Spark's built-in
        `startingOffsetsByTimestamp`. Requires the spark-sql-kafka connector
        on the classpath (absent in this test rig — raises with guidance).
        """
        reader = (
            self.spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
        )
        if starting_offsets_by_timestamp is not None:
            reader = reader.option(
                "startingOffsetsByTimestamp", starting_offsets_by_timestamp
            )
        for k, v in options.items():
            reader = reader.option(k, v)
        with _connector_gate(_KAFKA_MISSING, "Kafka source " + _KAFKA_NEEDS):
            return Stream(reader.load(), "timestamp")


class Stream:
    """A node in the operator DAG. Transformations return new Streams;
    the underlying plan is lazy until a sink/action (reference semantics:
    the DAG runs only after submit, SURVEY §3.1)."""

    def __init__(self, df: DataFrame, ts_col: str | None = None):
        self.df = df
        self.ts_col = ts_col

    def _with(self, df: DataFrame, ts_col: str | None = "__same__") -> "Stream":
        keep = self.ts_col if ts_col == "__same__" else ts_col
        # A projection that drops the timestamp column must also drop the
        # ts binding — otherwise a later with_watermark/window passes the
        # None-guard and dies deep in analysis with UNRESOLVED_COLUMN.
        if keep is not None and keep not in df.columns:
            keep = None
        return Stream(df, keep)

    @property
    def is_streaming(self) -> bool:
        return self.df.isStreaming

    # -- ParDo family (reference: Task.onNext / Beam ParDo,
    #    experiments/beam/.../translators/ParDoMultiOutputTranslator.java:44-100)
    def select(self, *cols: Column | str) -> "Stream":
        return self._with(self.df.select(*cols))

    def map_columns(self, **exprs: Column) -> "Stream":
        """Add/replace columns declaratively (the fast ParDo: codegen'd)."""
        return self._with(self.df.withColumns(exprs))

    def filter(self, cond: Column) -> "Stream":
        return self._with(self.df.filter(cond))

    def flat_map(self, col: Column, alias: str, keep: list[str] | None = None) -> "Stream":
        """Explode an array expression — one output row per element
        (reference Split task: examples/streaming/wordcount/.../Split.scala:24-52)."""
        keep_cols = [F.col(c) for c in (keep or [])]
        return self._with(self.df.select(*keep_cols, F.explode(col).alias(alias)))

    def map_in_pandas(self, fn: Callable, schema: Any) -> "Stream":
        """Arbitrary per-batch logic — the slow path, Arrow-batched
        (reference arbitrary Task code, task/Task.scala:129-207)."""
        return self._with(self.df.mapInPandas(fn, schema))

    def tagged_outputs(self, tag_col: Column, tags: list[str]) -> dict[str, "Stream"]:
        """ParDo.MultiOutput: route to per-tag downstream streams
        (reference: runtime/BeamTaggedOutputTask.java; TaskWrapper.scala:64)."""
        tagged = self.df.withColumn("__tag", tag_col)
        return {t: self._with(tagged.filter(F.col("__tag") == t).drop("__tag")) for t in tags}

    # -- Partitioners (SURVEY §2.A) ----------------------------------------
    def partition_hash(self, n: int, *cols: str) -> "Stream":
        """HashPartitioner / GroupByPartitioner: keyed exchange (reference:
        streaming/.../partitioner/HashPartitioner.scala:24-28,
        GroupByPartitioner.scala:36-42)."""
        if not cols:
            # repartition(n) with no columns is ROUND-ROBIN, silently
            # breaking the all-rows-of-a-key-co-located contract
            raise ValueError("partition_hash needs key columns; use partition_shuffle for round-robin")
        return self._with(self.df.repartition(n, *[F.col(c) for c in cols]))

    def partition_shuffle(self, n: int) -> "Stream":
        """ShufflePartitioner: round-robin rebalance (reference:
        streaming/.../partitioner/ShufflePartitioner.scala:23-39)."""
        return self._with(self.df.repartition(n))

    def broadcast(self) -> "Stream":
        """BroadcastPartitioner: replicate to every downstream task; in
        Spark a broadcast hint consumed by the next join (reference:
        streaming/.../partitioner/BroadcastPartitioner.scala:20-32)."""
        return self._with(F.broadcast(self.df))

    def co_locate(self) -> "Stream":
        """CoLocationPartitioner: narrow chaining, no exchange — Catalyst
        already fuses narrow deps into one stage (reference:
        streaming/.../partitioner/CoLocationPartitioner.scala:23-27)."""
        return self

    # -- Flatten ------------------------------------------------------------
    def union(self, *others: "Stream") -> "Stream":
        """Flatten.PCollections (reference:
        experiments/beam/.../translators/FlattenPCollectionsTranslator.java:33-60)."""
        df = self.df
        for o in others:
            df = df.unionByName(o.df)
        return self._with(df)

    # -- Event time & windows (SURVEY §2.C) ----------------------------------
    def with_timestamps(self, col: Column, name: str = "ts") -> "Stream":
        """Attach/replace the event-time column (Message.timestamp,
        reference: core/.../Message.scala:24)."""
        return Stream(self.df.withColumn(name, col.cast("timestamp")), name)

    def with_watermark(self, delay: str) -> "Stream":
        """Event-time watermark (reference Watermark message,
        streaming/.../source/Watermark.scala:22-36; global min-clock
        aggregation appmaster/ClockService.scala:302-309)."""
        if self.ts_col is None:
            raise ValueError("with_watermark requires a timestamp column (with_timestamps)")
        return self._with(self.df.withWatermark(self.ts_col, delay))

    def window(self, size: str, step: str | None = None) -> "Stream":
        """Assign tumbling (step==None) / sliding event-time windows
        (reference Window(size, step): streaming/.../state/impl/Window.scala:22-49;
        Beam Window.Assign translators/WindowAssignTranslator.java:33-48)."""
        if self.ts_col is None:
            raise ValueError("window requires a timestamp column")
        w = F.window(F.col(self.ts_col), size, step) if step else F.window(F.col(self.ts_col), size)
        return self._with(self.df.withColumn("window", w))

    def key_by(self, *cols: Column | str) -> "KeyedStream":
        """GroupByPartitioner: shuffle by extracted key (reference:
        streaming/.../partitioner/GroupByPartitioner.scala:36-42)."""
        return KeyedStream(self, list(cols))

    # -- Sinks (SURVEY §2.B: DataSink contract sink/DataSink.scala:40-61) ---
    def to_df(self) -> DataFrame:
        return self.df

    def sink_parquet(
        self, path: str, mode: str = "overwrite", compression: str | None = None
    ) -> None:
        """Parquet sink. ``compression`` passes through to the writer:
        snappy (Spark's default — fastest decode), zstd (~30-40% smaller
        at comparable scan speed; the at-scale archival default since the
        codec went mainstream in Parquet), gzip, lz4, none. Per-write
        override; cluster-wide default via spark.sql.parquet.compression.codec."""
        w = self.df.write.mode(mode)
        if compression:
            w = w.option("compression", compression)
        w.parquet(path)

    def sink_parquet_partitioned(
        self, path: str, partition_cols: list[str], mode: str = "overwrite"
    ) -> None:
        """Hive-style partitioned layout (col=value directories).

        The at-scale default for fact tables: a reader filtering on a
        partition column prunes whole directories at planning time
        (PartitionFilters in the scan), so a day query over years of data
        touches one directory. Pair with a time-derived column (e.g.
        date(ts)) — high-cardinality keys belong in bucketing, not here.
        """
        self.df.write.mode(mode).partitionBy(*partition_cols).parquet(path)

    def sink_avro(self, path: str, mode: str = "overwrite") -> None:
        """Avro sink — gated exactly like from_avro when the external
        spark-avro module is absent."""
        with _connector_gate(_AVRO_MISSING, _AVRO_NEEDS):
            self.df.write.mode(mode).format("avro").save(path)

    def sink_orc(self, path: str, mode: str = "overwrite") -> None:
        """ORC sink — columnar alternative when the downstream reader is
        ORC-native (Hive/Trino estates)."""
        self.df.write.mode(mode).orc(path)

    def sink_csv(self, path: str, mode: str = "overwrite", header: bool = True, **options: Any) -> None:
        """CSV sink (interchange/export; lossy for nested types — prefer
        parquet/orc for anything read back by this engine)."""
        self.df.write.mode(mode).options(header=str(header).lower(), **options).csv(path)

    def sink_json_lines(self, path: str, mode: str = "overwrite", **options: Any) -> None:
        """Newline-delimited JSON sink (pairs with from_json_lines)."""
        self.df.write.mode(mode).options(**options).json(path)

    def sink_memory(self, name: str, output_mode: str = "append"):
        """Streaming memory sink (test harness); returns the query handle."""
        return (
            self.df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .start()
        )

    def sink_kafka(
        self,
        bootstrap_servers: str,
        topic: str,
        checkpoint: str | None = None,
        key_col: str | None = None,
        value_col: str | None = None,
        **options: Any,
    ):
        """Kafka sink — pair of ``from_kafka`` (reference KafkaSink,
        docs/contents/dev/dev-connectors.md:14-28). Works for both batch
        and streaming frames; requires the spark-sql-kafka connector jar
        (absent in this test rig — raises with the same guidance as the
        source).

        ``value_col`` defaults to a JSON encoding of every column (the
        reference's message-serialization seam); ``key_col`` (optional)
        sets the Kafka partition key so downstream keyed consumers see the
        same GroupByPartitioner routing the in-engine operators use.
        Streaming writes are at-least-once into Kafka (checkpoint tracks
        offsets; Kafka has no transactional sink in Spark) — exactly-once
        end-to-end needs an idempotent/companion-table consumer.
        """
        cols = []
        if key_col is not None:
            cols.append(F.col(key_col).cast("string").alias("key"))
        if value_col is not None:
            cols.append(F.col(value_col).cast("string").alias("value"))
        else:
            cols.append(F.to_json(F.struct(*self.df.columns)).alias("value"))
        out = self.df.select(*cols)
        with _connector_gate(_KAFKA_MISSING, "Kafka sink " + _KAFKA_NEEDS):
            if out.isStreaming:
                writer = (
                    out.writeStream.format("kafka")
                    .option("kafka.bootstrap.servers", bootstrap_servers)
                    .option("topic", topic)
                )
                if checkpoint is not None:
                    writer = writer.option("checkpointLocation", checkpoint)
                for k, v in options.items():
                    writer = writer.option(k, v)
                return writer.start()
            writer = (
                out.write.format("kafka")
                .option("kafka.bootstrap.servers", bootstrap_servers)
                .option("topic", topic)
            )
            for k, v in options.items():
                writer = writer.option(k, v)
            writer.save()
            return None

    def sink_jdbc(
        self,
        url: str,
        table: str,
        mode: str = "append",
        driver: str | None = None,
        **options: Any,
    ) -> None:
        """JDBC sink — the honest substitute for the reference's HBaseSink
        (docs/contents/dev/dev-connectors.md:14-28: an external KV/row
        store sink): any RDBMS/KV with a JDBC driver (Phoenix covers HBase
        itself). Writes partition-parallel INSERT batches; a JDBC driver
        jar must be on the classpath (none ships in this rig — raises
        with guidance, same contract as the Kafka gate).

        Scale: each task opens its own connection and writes its
        partition (numPartitions/batchsize are passed through via
        options); coalesce upstream if the target DB can't take one
        connection per core.
        """
        writer = self.df.write.format("jdbc").mode(mode).option("url", url).option(
            "dbtable", table
        )
        if driver is not None:
            writer = writer.option("driver", driver)
        for k, v in options.items():
            writer = writer.option(k, v)
        with _connector_gate(_JDBC_MISSING, "JDBC sink " + _JDBC_NEEDS):
            writer.save()

    def sink_noop_stream(self, **options):
        """Null sink for throughput benchmarks (SOL processor analog)."""
        writer = self.df.writeStream.format("noop").outputMode("append")
        for k, v in options.items():
            writer = writer.option(k, v)
        return writer.start()

    def collect(self):
        return self.df.collect()


class KeyedStream:
    """Post-shuffle keyed view: aggregation operators (reference
    GroupByKey + Combine, SURVEY §2.D; monoid state §2.C)."""

    def __init__(self, stream: Stream, keys: list[Column | str]):
        self.stream = stream
        self.keys = keys

    def agg(self, *aggs: Column) -> Stream:
        """Combine.GroupedValues: per-key monoid fold — Spark fuses partial
        (map-side) and final aggregation, strictly better than the
        reference's single-stage per-key hash state (SURVEY §2.F)."""
        return self.stream._with(self.stream.df.groupBy(*self.keys).agg(*aggs))

    def count(self, alias: str = "count") -> Stream:
        return self.agg(F.count("*").alias(alias))

    def reduce_monoid(self, col: Column, alias: str) -> Stream:
        """NonWindowState running aggregate: in batch a plain sum; in
        streaming use outputMode('update') on the sink (reference:
        streaming/.../state/impl/NonWindowState.scala:30-48)."""
        return self.agg(F.sum(col).alias(alias))

    def windowed(self, size: str, step: str | None = None) -> "KeyedStream":
        """Window + key grouping (Beam windowed GBK; reference:
        runtime/BeamGroupByKeyTask.java:51-120)."""
        windowed = self.stream.window(size, step)
        return KeyedStream(windowed, [F.col("window"), *self.keys])


def progress_summary(query) -> dict:
    """Condensed health view of a StreamingQuery — the analog of the
    reference's per-app REST metrics + clock endpoint (services/.../
    AppMasterService.scala:50-160 exposes DAG clocks/metrics; Spark exposes
    the same via query.lastProgress).

    Returns {} before the first progress event.
    """
    p = query.lastProgress
    if not p:
        return {}
    return {
        "batch_id": p.get("batchId"),
        "input_rows": p.get("numInputRows"),
        "rows_per_sec": p.get("processedRowsPerSecond"),
        "trigger_ms": (p.get("durationMs") or {}).get("triggerExecution"),
        "watermark": (p.get("eventTime") or {}).get("watermark"),
        "state_rows": sum(
            (op.get("numRowsTotal") or 0) for op in (p.get("stateOperators") or [])
        ),
    }
