package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink builders mirroring the reference's connector surface
  * (SURVEY §2.1). Kafka and JDBC construct standard Spark readers/
  * writers — they need a broker/database at runtime (none in this
  * container), so they are exercised only as plan builders; CSV and
  * parquet paths are fully tested.
  */
object Connectors {
  /** S1 option surface (reference spark/jobs/stock_batch.py:36-44).
    * Exposed so ConnectorsSpec can pin the exact reader configuration
    * even though no broker exists to read from. */
  def kafkaBatchOptions(servers: String, topic: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> servers,
    "subscribe" -> topic,
    "startingOffsets" -> "earliest",
    "endingOffsets" -> "latest",
    "failOnDataLoss" -> "false")

  /** S2 option surface (reference spark/jobs/stock_stream.py:122-129):
    * latest offsets, no ending bound. */
  def kafkaStreamOptions(servers: String, topic: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> servers,
    "subscribe" -> topic,
    "startingOffsets" -> "latest",
    "failOnDataLoss" -> "false")

  /** S1: batch-read a topic earliest→latest. */
  def kafkaBatch(spark: SparkSession, servers: String, topic: String): DataFrame =
    spark.read.format("kafka").options(kafkaBatchOptions(servers, topic)).load()

  /** S2: stream from latest offsets. */
  def kafkaStream(spark: SparkSession, servers: String, topic: String): DataFrame =
    spark.readStream.format("kafka").options(kafkaStreamOptions(servers, topic)).load()

  /** S1/S2 runtime twin without a broker: the `graftlog` DataSource V2
    * source ([[LineLogSource]]) — append-only line files with per-file
    * offsets, batch-read earliest→latest like [[kafkaBatch]]. */
  def logBatch(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graftlog").option("path", dir).load()

  /** Streaming twin of [[kafkaStream]]: micro-batches advance per-file
    * offsets recorded in the checkpoint; `startingOffsets` follows the
    * Kafka source's earliest/latest contract. */
  def logStream(spark: SparkSession, dir: String,
                startingOffsets: String = "earliest"): DataFrame =
    spark.readStream.format("graftlog").option("path", dir)
      .option("startingOffsets", startingOffsets).load()

  /** The pushdown form S3 ships to the database: subquery as a derived
    * table (reference stock_stream.py:39-58 sends "(SELECT …) as t"). */
  def jdbcTableExpr(query: String): String = s"($query) AS t"

  /** S3: JDBC source with an arbitrary pushdown subquery as the table
    * (reference stock_stream.py:39-58). Prefer native window ops over
    * sink re-reads (SURVEY §7 risk 3); kept for source parity.
    * Runtime-exercised in ConnectorsSpec against embedded Derby. */
  def jdbcQuery(spark: SparkSession, url: String, query: String,
                props: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, jdbcTableExpr(query), props)

  /** S4/S5: JDBC append/overwrite writer
    * (reference spark/utilities.py:29-47). */
  def writeJdbc(df: DataFrame, url: String, table: String, mode: SaveMode,
                props: java.util.Properties = new java.util.Properties): Unit =
    df.write.mode(mode).jdbc(url, table, props)

  /** S7: header CSV with explicit schema (no inference scan —
    * reference reads company metadata CSV,
    * apache_kafka/producers/stock_producer.py:107-125). */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** Parquet sink partitioned by a column — the engine's durable-table
    * story at scale (partition pruning on read). */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String],
                   mode: SaveMode = SaveMode.Append): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Idempotent partitioned write for at-least-once replay (foreachBatch):
    * dynamic partition overwrite replaces ONLY the partitions present in
    * `df`, so re-writing the same batch (crash after write, before the
    * checkpoint commit) overwrites its own partitions instead of
    * appending duplicates. Callers must include a per-batch key (e.g.
    * `batch_id`) in `partitionBy` — without one, a replayed batch would
    * clobber other batches sharing its partition values. `file:` paths go
    * through an uncached [[NioLocalFileSystem]] (no `chmod` process per
    * file): Hadoop's cache ignores `fs.file.impl` once it holds one. */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionBy: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("fs.file.impl", classOf[NioLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
      .partitionBy(partitionBy: _*).parquet(path)

  /** JSON-lines source with an EXPLICIT schema: at corpus scale an
    * inference pass is a full extra read of every byte. Malformed lines
    * follow PERMISSIVE semantics — they become all-null rows rather
    * than aborting the job — so consumers must gate on the non-null
    * key columns they require (add a `_corrupt_record` StringType field
    * to the schema to capture the raw line instead). */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JSON-lines sink (one object per line — the interchange format of
    * most public text-corpus releases). */
  def writeJsonLines(df: DataFrame, path: String,
                     mode: SaveMode = SaveMode.Append): Unit =
    df.write.mode(mode).json(path)

  /** ORC source — Spark's second first-class columnar format, common
    * as the landing format of Hive-era warehouses a 100 TB corpus
    * often starts in. Same scan machinery as parquet: schema from the
    * file footer, predicate pushdown + column pruning reach the
    * stripe level (spec-verified via PushedFilters in the plan). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC sink. */
  def writeOrc(df: DataFrame, path: String,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)
}
