package graft

import graft.streaming.StreamSource
import org.apache.spark.sql.functions._

/** The Kafka-ready source seam: production switches the speed layer onto
  * a broker with confs only. No broker (or connector jar) exists in this
  * sandbox, so the kafka branch is pinned at the seam — the resolved
  * source spec, the value decoder, and that the branch really asks Spark
  * for the kafka data source.
  */
class StreamSourceSpec extends SparkSpec {
  import spark.implicits._

  test("default resolves to the file source, kafka confs resolve to a kafka spec") {
    assert(StreamSource.resolve(_ => None) ==
      StreamSource.SourceSpec("parquet", Map.empty))
    val conf = Map(
      GraftConf.StreamSourceKind.name -> "kafka",
      GraftConf.KafkaBrokers.name -> "broker1:9092,broker2:9092",
      GraftConf.KafkaTopic.name -> "pageviews_prod")
    assert(StreamSource.resolve(conf.get) == StreamSource.SourceSpec("kafka", Map(
      "kafka.bootstrap.servers" -> "broker1:9092,broker2:9092",
      "subscribe" -> "pageviews_prod",
      "startingOffsets" -> "earliest")))
  }

  test("kafka source without brokers, or an unknown source, is rejected") {
    intercept[IllegalArgumentException] {
      StreamSource.resolve(Map(GraftConf.StreamSourceKind.name -> "kafka").get)
    }
    intercept[IllegalArgumentException] {
      StreamSource.resolve(Map(GraftConf.StreamSourceKind.name -> "pulsar").get)
    }
  }

  test("kafka value decoder round-trips event rows") {
    val schema = Tables.eventsRaw(spark, sf0001).schema
    val rows = Tables.eventsRaw(spark, sf0001).limit(5)
    // kafka-shaped relation: the payload is the JSON of the event row
    val kafkaShaped = rows.select(to_json(struct(col("*"))).cast("binary").as("value"))
    val decoded = StreamSource.decodeKafka(kafkaShaped, schema)
    assert(decoded.schema == schema)
    assert(decoded.orderBy("event_id").collect().toSeq ==
      rows.orderBy("event_id").collect().toSeq)
  }

  test("the kafka branch asks Spark for the kafka data source") {
    val schema = Tables.eventsRaw(spark, sf0001).schema
    spark.conf.set(GraftConf.StreamSourceKind.name, "kafka")
    spark.conf.set(GraftConf.KafkaBrokers.name, "localhost:9092")
    try {
      // the connector jar is not shipped in this sandbox: reaching the
      // data-source lookup failure proves format("kafka") was requested
      val e = intercept[Exception] {
        StreamSource.events(spark, schema, fail("files path must not stage"))
      }
      assert(e.getMessage.toLowerCase.contains("kafka"), e.getMessage)
    } finally {
      spark.conf.unset(GraftConf.StreamSourceKind.name)
      spark.conf.unset(GraftConf.KafkaBrokers.name)
    }
  }
}
