package graft.model

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The master-dataset store: Parquet partitioned by fact kind, giving the
  * reference's Pail semantics Spark-natively (SURVEY.md §1.4):
  *
  *  - Pail vertical partition by union tag (SplitDataPailStructure.java:
  *    97-136)            → `partitionBy("kind")` + partition pruning
  *  - Pail.absorb append ingest (BatchWorkflow.java:146-162) → append write
  *  - shred() forced random repartition (BatchWorkflow.java:165-181)
  *                        → `repartition(n)` before the write
  *  - Pail.consolidate small-file compaction (BatchWorkflow.java:179)
  *                        → rewrite at a target partition count
  *  - snapshot/deleteSnapshot (BatchWorkflow.java:158-161) → staging-dir
  *    read-then-delete
  *
  * At 100 TB: `kind` has 4 values so the partition column stays tiny;
  * within a kind, files are sized by the shred parallelism; appends never
  * rewrite history (the master dataset is immutable, append-only).
  */
object FactStore {

  /** Nested-struct DDLs for the null union members of a Fact row built by
    * column expression — must match the Fact case-class encoder schema.
    */
  private val personIdType = "struct<cookie:string,userId:bigint>"
  private val personPropertyType =
    s"struct<id:$personIdType,value:struct<fullName:string,gender:string," +
      "location:struct<city:string,state:string,country:string>>>"
  private val pagePropertyType = "struct<id:struct<url:string>,pageViews:int>"
  private val equivType = s"struct<id1:$personIdType,id2:$personIdType>"
  private val pageViewType =
    s"struct<person:$personIdType,page:struct<url:string>,nonce:bigint>"

  /** Union invariant (exactly one DataUnit member, matching `kind`),
    * enforced at the ingest boundary — the Spark analog of
    * SplitDataPailStructure's validation (tap/SplitDataPailStructure.java:
    * 116-126). Throws on first violation. Standalone eager checker; the
    * ingest write path uses the single-pass [[invariantGuard]] instead so
    * validation doesn't cost a second scan of the batch.
    */
  def validate(facts: Dataset[Fact]): Dataset[Fact] = {
    import facts.sparkSession.implicits._
    val bad = facts.filter { f =>
      f.unitCount != 1 || (f.kind match {
        case FactKind.PersonProperty => f.personProperty.isEmpty
        case FactKind.PageProperty => f.pageProperty.isEmpty
        case FactKind.Equiv => f.equiv.isEmpty
        case FactKind.PageView => f.pageView.isEmpty
        case _ => true
      })
    }
    require(bad.isEmpty, "facts violating the one-member union invariant")
    facts
  }

  /** The same union invariant fused into the write pass as a column guard:
    * a valid row passes `kind` through unchanged; an invalid row raises in
    * the write job itself, whose commit protocol then aborts with nothing
    * committed. One pass over the batch — at 100 TB a separate validation
    * action would read the whole batch twice (and the task-level failure
    * still surfaces before any file is visible in the master).
    */
  private def invariantGuard(facts: DataFrame): DataFrame = {
    val members = Seq(
      FactKind.PersonProperty -> "personProperty",
      FactKind.PageProperty -> "pageProperty",
      FactKind.Equiv -> "equiv",
      FactKind.PageView -> "pageView")
    val unitCount = members.map { case (_, m) =>
      when(col(m).isNotNull, 1).otherwise(0)
    }.reduce(_ + _)
    val kindMatches = members.foldLeft(lit(false)) { case (acc, (k, m)) =>
      when(col("kind") === k, col(m).isNotNull).otherwise(acc)
    }
    facts.withColumn("kind",
      when(unitCount === 1 && kindMatches, col("kind"))
        .otherwise(raise_error(concat(
          lit("fact violates the one-member union invariant: kind="),
          coalesce(col("kind"), lit("<null>"))))))
  }

  /** shred + absorb: randomly repartition incoming facts (spreads load,
    * bounds file sizes) and append into the kind-partitioned master.
    * Default shred parallelism is sized from the optimizer's byte estimate
    * against a ~128 MB target file — write parallelism must scale with the
    * DATA, not a constant: a fixed count under-parallelizes a 100 TB batch
    * and over-parallelizes (all fixed cost) a small one.
    */
  def ingest(facts: Dataset[Fact], masterPath: String, shredPartitions: Int = 0): Unit = {
    val n =
      if (shredPartitions > 0) shredPartitions
      else {
        val bytes = facts.queryExecution.optimizedPlan.stats.sizeInBytes
        val perFile = BigInt(128L * 1024 * 1024)
        // stats default to ~Long.MaxValue when a leaf has no estimate —
        // treat anything absurd as unknown rather than exploding the
        // partition count
        if (bytes >= BigInt(Long.MaxValue) / 4) 8
        else ((bytes / perFile) + 1).min(BigInt(4096)).max(BigInt(8)).toInt
      }
    invariantGuard(facts.toDF())
      .repartition(n)
      .write.mode(SaveMode.Append)
      .partitionBy("kind")
      .parquet(masterPath)
  }

  /** Opt-in BUCKETED master store for the person-key join path
    * (BatchWorkflow.java:607-619's id-rewrite): materializes the caller's
    * join-key expression as a `person_key` column and buckets+sorts the
    * store by it. A scan of this store arrives at a person-key sort-merge
    * join already hash-clustered — NO Exchange above the (100 TB) fact
    * side; only the person-cardinality canonical-id map shuffles.
    * Proven by BucketingSpec.
    *
    * Bucketing metadata lives in the table catalog, not in parquet, hence
    * saveAsTable over an external `path` (deployments: any catalog-backed
    * table; the plain [[ingest]] path stays catalog-free). Order matters
    * at scale: deduplicate BEFORE this ingest — a post-scan distinct
    * re-shuffles on the whole row and forfeits the co-location.
    */
  def ingestBucketed(facts: Dataset[Fact], table: String, path: String,
      personKey: Column, nBuckets: Int = 32): Unit = {
    invariantGuard(facts.toDF())
      .withColumn("person_key", personKey)
      .write.mode(SaveMode.Append)
      .option("path", path)
      .partitionBy("kind")
      .bucketBy(nBuckets, "person_key").sortBy("person_key")
      .format("parquet")
      .saveAsTable(table)
  }

  def readAll(spark: SparkSession, masterPath: String): Dataset[Fact] = {
    import spark.implicits._
    spark.read.parquet(masterPath).as[Fact]
  }

  /** attributeTap (BatchWorkflow.java:114-129): read one fact type only;
    * the `kind` filter prunes parquet partitions before any IO.
    */
  def scanKind(spark: SparkSession, masterPath: String, kind: String): Dataset[Fact] = {
    import spark.implicits._
    spark.read.parquet(masterPath).where(col("kind") === kind).as[Fact]
  }

  /** Pail.consolidate: compact a kind-partitioned store to ~targetFiles
    * files per kind by rewriting into a temp dir and swapping via the
    * crash-safe [[StoreSwap.commit]] two-rename protocol — a complete
    * version exists under `masterPath` or `masterPath.old` at every
    * intermediate state (RecoverySpec). (On a real deployment this is
    * table-format OPTIMIZE; plain parquet needs the rewrite+swap.)
    */
  def consolidate(spark: SparkSession, masterPath: String, targetFiles: Int = 4): Unit = {
    // recovery first: a predecessor's crash may have left the store
    // mid-swap (absent, with .old/.tmp siblings) — commit() with no new
    // tmp rolls the preserved version back into place, so this re-run
    // self-heals instead of failing on a missing path
    StoreSwap.commit(spark, masterPath)
    val tmp = StoreSwap.tmpPath(masterPath)
    spark.read.parquet(masterPath)
      .repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).partitionBy("kind")
      .parquet(tmp)
    // the write returned, so its job committed: assert that with the
    // marker StoreSwap requires, also under a session whose committer
    // is configured to drop none
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), true).close()
    StoreSwap.commit(spark, masterPath)
  }

  /** snapshot semantics: atomically claim a staging directory for ingest
    * (rename), returning the snapshot path to read from; delete after a
    * successful absorb. Mirrors ingest()'s snapshot/absorb/deleteSnapshot
    * sequence (BatchWorkflow.java:152-162).
    */
  def snapshot(spark: SparkSession, stagingPath: String): Option[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(stagingPath)
    if (!fs.exists(staging)) None
    else {
      val snap = new org.apache.hadoop.fs.Path(stagingPath + ".snapshot")
      fs.rename(staging, snap)
      Some(snap.toString)
    }
  }

  def deleteSnapshot(spark: SparkSession, snapshotPath: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(snapshotPath), true)
  }

  /** deduplicatePageviews (BatchWorkflow.java:223-233): set-dedup of whole
    * facts on the typed path — identical Data records (same pedigree and
    * unit, nonce included) collapse to one. A shuffle-distinct over the
    * full struct; the `nonce` field is what makes legitimately repeated
    * events distinct (schema.thrift:49-53).
    */
  def deduplicate(facts: Dataset[Fact]): Dataset[Fact] = facts.distinct()

  /** The events table rendered as page_view facts — bridges the driver
    * test data into the typed fact pipeline. Built with column
    * expressions (not a per-row object map) so construction stays inside
    * whole-stage codegen — measured several× faster at ingest.
    */
  def eventsAsFacts(spark: SparkSession, sfDir: String): Dataset[Fact] = {
    import spark.implicits._
    val nullStr = lit(null).cast("string")
    graft.Tables.events(spark, sfDir)
      .select(
        lit(FactKind.PageView).as("kind"),
        struct(col("ts_secs").as("trueAsOfSecs"), lit("self").as("source")).as("pedigree"),
        lit(null).cast(personPropertyType).as("personProperty"),
        lit(null).cast(pagePropertyType).as("pageProperty"),
        lit(null).cast(equivType).as("equiv"),
        struct(
          struct(nullStr.as("cookie"), col("user_id").as("userId")).as("person"),
          struct(col("url")).as("page"),
          col("event_id").as("nonce")).as("pageView"))
      .as[Fact]
  }

  /** userId PersonId struct column. */
  private def userStruct(c: Column): Column =
    struct(lit(null).cast("string").as("cookie"), c.cast("long").as("userId"))

  /** Union-typed equiv facts synthesized from events: every user links to a
    * browser cookie (`ck` + user_id%53 — several users share a cookie, the
    * cross-device case of schema.thrift:44-47) plus the user↔user%37
    * relation the plain graph fixtures use. Gives connected components a
    * genuinely mixed cookie/user graph.
    */
  def equivFactsFromEvents(spark: SparkSession, sfDir: String): Dataset[Fact] = {
    import spark.implicits._
    val users = graft.Tables.eventsRaw(spark, sfDir)
      .select(col("user_id").as("u")).distinct()
    val cookieId = struct(
      concat(lit("ck"), lpad((col("u") % 53).cast("string"), 5, "0")).as("cookie"),
      lit(null).cast("bigint").as("userId"))
    val toCookie = users
      .select(struct(userStruct(col("u")).as("id1"), cookieId.as("id2")).as("equiv"))
    val toUser = users.where(col("u") % 37 =!= col("u"))
      .select(struct(userStruct(col("u")).as("id1"),
        userStruct(col("u") % 37).as("id2")).as("equiv"))
    toCookie.unionAll(toUser)
      .select(
        lit(FactKind.Equiv).as("kind"),
        struct(lit(0L).as("trueAsOfSecs"), lit("self").as("source")).as("pedigree"),
        lit(null).cast(personPropertyType).as("personProperty"),
        lit(null).cast(pagePropertyType).as("pageProperty"),
        col("equiv"),
        lit(null).cast(pageViewType).as("pageView"))
      .as[Fact]
  }

  /** Person-property facts from events (one per event: the user's `city`
    * observed as the event_type at ts_secs) — fixture for latest-wins
    * property views over the schema's property half (schema.thrift:13-42).
    */
  def personPropertyFactsFromEvents(spark: SparkSession, sfDir: String): Dataset[Fact] = {
    import spark.implicits._
    val nullStr = lit(null).cast("string")
    graft.Tables.events(spark, sfDir)
      .select(
        lit(FactKind.PersonProperty).as("kind"),
        struct(col("ts_secs").as("trueAsOfSecs"), lit("self").as("source")).as("pedigree"),
        struct(
          userStruct(col("user_id")).as("id"),
          struct(nullStr.as("fullName"), nullStr.as("gender"),
            struct(col("event_type").as("city"), nullStr.as("state"),
              lit("US").as("country")).as("location")).as("value")).as("personProperty"),
        lit(null).cast(pagePropertyType).as("pageProperty"),
        lit(null).cast(equivType).as("equiv"),
        lit(null).cast(pageViewType).as("pageView"))
      .as[Fact]
  }

  /** Page-property facts from events (per-domain pageViews observation). */
  def pagePropertyFactsFromEvents(spark: SparkSession, sfDir: String): Dataset[Fact] = {
    import spark.implicits._
    graft.Tables.events(spark, sfDir)
      .select(
        lit(FactKind.PageProperty).as("kind"),
        struct(col("ts_secs").as("trueAsOfSecs"), lit("self").as("source")).as("pedigree"),
        lit(null).cast(personPropertyType).as("personProperty"),
        struct(
          struct(concat(lit("https://"), col("event_type"), lit(".example.com"))
            .as("url")).as("id"),
          (col("event_id") % 1000).cast("int").as("pageViews")).as("pageProperty"),
        lit(null).cast(equivType).as("equiv"),
        lit(null).cast(pageViewType).as("pageView"))
      .as[Fact]
  }
}
