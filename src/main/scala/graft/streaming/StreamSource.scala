package graft.streaming

import graft.GraftConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The speed layer's source seam (SURVEY.md §2.1 `source_stream`): the
  * reference reads a Kafka topic of serialized `Data` records
  * (reference: src/java/manning/speedlayer/UniquesOverTime.java:196-207,
  * TridentSpeedLayer.java:66-90). This sandbox has no broker (and no
  * kafka connector jar), so the tested default replays the events table
  * through the file source — but production wiring must be a conf, not a
  * code edit: setting [[graft.GraftConf.StreamSourceKind]] to `kafka` plus the
  * broker/topic confs switches the SAME speed-layer queries onto
  * `readStream.format("kafka")`, with records JSON-decoded to the events
  * schema. The spec-to-be-requested is exposed as data ([[resolve]]) so
  * the kafka branch is unit-testable without a broker.
  */
object StreamSource {

  /** What the seam will ask Spark for, as plain data. */
  final case class SourceSpec(format: String, options: Map[String, String])

  def resolve(conf: String => Option[String]): SourceSpec =
    GraftConf.StreamSourceKind.in(conf) match {
      case "files" => SourceSpec("parquet", Map.empty)
      case "kafka" =>
        val brokers = GraftConf.KafkaBrokers.in(conf).getOrElse(throw new IllegalArgumentException(
          s"${GraftConf.KafkaBrokers.name} must be set when ${GraftConf.StreamSourceKind.name}=kafka"))
        SourceSpec("kafka", Map(
          "kafka.bootstrap.servers" -> brokers,
          "subscribe" -> GraftConf.KafkaTopic.in(conf),
          "startingOffsets" -> GraftConf.KafkaStartingOffsets.in(conf)))
      case other => throw new IllegalArgumentException(
        s"unknown ${GraftConf.StreamSourceKind.name} '$other' (expected files|kafka)")
    }

  /** Kafka value bytes → typed event rows. JSON wire encoding; a
    * deployment with a different wire format swaps only this decoder —
    * the reference's Thrift `PageviewScheme` is exactly this seam
    * (UniquesOverTime.java:83-110).
    */
  def decodeKafka(raw: DataFrame, schema: StructType): DataFrame =
    raw.select(from_json(col("value").cast("string"), schema).as("r"))
      .select("r.*")

  /** The events stream every speed-layer query reads. `fileDir` is only
    * evaluated (and only stages files) on the default file path.
    *
    * The file branch declares the parquet's OWN schema (a streaming
    * source must state one up front; the staged files are hard links to
    * the generator's parquet, whose `ts` physical type has drifted
    * across rounds) and then routes through [[graft.Tables.normalizeTs]]
    * so every consumer sees epoch-nanos LongType — same contract as the
    * batch-side `Tables.eventsRaw`. The kafka branch decodes to the
    * caller's (already-normalized) schema; normalizeTs is a no-op there.
    */
  def events(spark: SparkSession, schema: StructType, fileDir: => String): DataFrame =
    resolve(k => spark.conf.getOption(k)) match {
      case SourceSpec("parquet", _) =>
        val dir = fileDir
        val fileSchema = spark.read.parquet(dir).schema
        graft.Tables.normalizeTs(spark.readStream.schema(fileSchema).parquet(dir))
      case SourceSpec(format, options) =>
        graft.Tables.normalizeTs(
          decodeKafka(options.foldLeft(spark.readStream.format(format)) {
            case (r, (k, v)) => r.option(k, v)
          }.load(), schema))
    }
}
