package graft

import org.apache.spark.sql.SparkSession

/** Every `graft.*` session conf key the engine reads: its name, its
  * default and what it sets. All reads go through here: no other main
  * source holds a `graft.*` key string (GraftConfSpec enforces it).
  *
  * A value earns a key only when some caller needs a value other than
  * the default, or when it is deployment wiring (the stream source);
  * every other tuning value is a named constant at its use site. Values
  * are strings, parsed where they are used.
  */
object GraftConf {

  sealed trait Entry {
    def name: String
    def doc: String
  }

  /** A key with a default: unset reads as `default`. */
  final case class Key(name: String, default: String, doc: String) extends Entry {
    def apply(spark: SparkSession): String = in(spark.conf.getOption)
    def in(conf: String => Option[String]): String = conf(name).getOrElse(default)
  }

  /** A key without a default: unset means the call site derives the value
    * (or refuses to run without it).
    */
  final case class OptionalKey(name: String, doc: String) extends Entry {
    def apply(spark: SparkSession): Option[String] = in(spark.conf.getOption)
    def in(conf: String => Option[String]): Option[String] = conf(name)
  }

  val AllPairsMaxRows = Key("graft.allpairs.maxRows", "20000",
    "Rows above which VectorOps.pairGuard refuses the O(n²) all-pairs cosine form.")
  val UnigramMinCount = Key("graft.unigram.minCount", "2",
    "Frequency floor of the unigram LM vocabulary; rarer tokens back off as OOV.")
  val UnigramMaxVocab = Key("graft.unigram.maxVocab", "5000000",
    "Unigram types up to which the n-gram LMs broadcast the unigram counts.")
  val BigramMinCount = Key("graft.bigram.minCount", "2",
    "Frequency floor of the bigram LM relations; rarer types back off as OOV.")
  val BigramMaxTypes = Key("graft.bigram.maxTypes", "5000000",
    "Bigram types up to which the bigram and trigram LMs broadcast the bigram counts.")
  val TrigramMinCount = Key("graft.trigram.minCount", "2",
    "Frequency floor of the trigram LM relations; rarer types back off as OOV.")
  val CcLocalMaxEdges = Key("graft.cc.localMaxEdges", "100000",
    "Bidirectional edges up to which CC over long or string ids runs as a driver-local union-find.")
  val CcMaxIter = Key("graft.cc.maxIter", "25",
    "Rounds after which the distributed connected-components loop fails as non-converged.")
  val EmbPipeLshMaxRows = Key("graft.embpipe.lshMaxRows", "5000",
    "Corpus rows above which pipeline_embedding_corpus dedups with cluster-scoped pairs instead of SRP-LSH.")
  val NearDedupExactMaxRows = Key("graft.neardedup.exactMaxRows", "20000",
    "Corpus rows up to which Jaccard near-dedup takes the exact shingle self-join.")
  val NearDedupExactMaxPairRows = Key("graft.neardedup.exactMaxPairRows", "50000000",
    "Self-join rows up to which Jaccard near-dedup takes the exact route.")
  val QualityDim = Key("graft.quality.dim", "4096",
    "Hashed feature dimension of the declared quality classifier.")
  val ServingCutoffSecs = OptionalKey("graft.serving.cutoffSecs",
    "Batch/speed split of serving_merge in epoch seconds; unset derives it from the events' time span.")
  val SpanScrubDirectMaxRows = Key("graft.spanscrub.directMaxRows", "200000",
    "Rows up to which the exact-substring scrub takes the direct plan instead of the windowed one.")
  val SqlApproxDistinct = Key("graft.sql.approxDistinct", "false",
    "true rewrites COUNT(DISTINCT x) to an HLL sketch estimate (GraftExtensions).")
  val StreamSourceKind = Key("graft.stream.source", "files",
    "Source of the speed-layer event stream: files | kafka.")
  val KafkaBrokers = OptionalKey("graft.stream.kafka.brokers",
    "Kafka bootstrap servers; required when graft.stream.source=kafka.")
  val KafkaTopic = Key("graft.stream.kafka.topic", "pageviews",
    "Kafka topic the speed layer subscribes to.")
  val KafkaStartingOffsets = Key("graft.stream.kafka.startingOffsets", "earliest",
    "Kafka startingOffsets for a new stream query.")
  val StreamStateStore = Key("graft.stream.stateStore", "memory",
    "State store provider of the stateful stream queries: memory | rocksdb.")

  val all: Seq[Entry] = Seq(AllPairsMaxRows, UnigramMinCount, UnigramMaxVocab,
    BigramMinCount, BigramMaxTypes, TrigramMinCount, CcLocalMaxEdges, CcMaxIter,
    EmbPipeLshMaxRows, NearDedupExactMaxRows, NearDedupExactMaxPairRows,
    QualityDim, ServingCutoffSecs, SpanScrubDirectMaxRows, SqlApproxDistinct,
    StreamSourceKind, KafkaBrokers, KafkaTopic, KafkaStartingOffsets, StreamStateStore)
}
