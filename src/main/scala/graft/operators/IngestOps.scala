package graft.operators

import java.nio.file.Files

import graft.{QueryDef, Tables}
import graft.QueryDef.withOracle
import graft.model.{Fact, FactKind, FactStore, PersonId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest-pipeline operators declared as round-trip queries (SURVEY.md
  * §2.1 `sink_append`, §2.2 `shred_repartition`): each materializes a
  * fresh kind-partitioned fact store in a temp dir, exercises the write
  * path, and returns a read-back aggregate the DuckDB oracle can predict
  * from the source tables.
  */
object IngestOps {

  private def newMaster(): String =
    graft.Scratch.dir("graft_ingest") + "/master"

  val defs: Seq[QueryDef] = Seq(

    // Pail.absorb append ingest (BatchWorkflow.java:146-162): two absorbs
    // of the same batch → exactly double the facts, partitioned by kind.
    withOracle(
      "sink_append",
      """SELECT 'page_view' AS kind, 2 * count(*) AS n FROM events""".stripMargin) { (s, dir) =>
      val master = newMaster()
      // snapshot-then-absorb-twice: the batch is materialized once (the
      // reference reads absorbs from the staging snapshot) and both
      // appends re-read it instead of recomputing the source transform
      val facts = FactStore.eventsAsFacts(s, dir).localCheckpoint()
      FactStore.ingest(facts, master)
      FactStore.ingest(facts, master)
      facts.unpersist()
      FactStore.scanKind(s, master, FactKind.PageView)
        .groupBy("kind").agg(count(lit(1)).as("n"))
    },

    // attributeTap vertical pruning (BatchWorkflow.java:114-129) over a
    // mixed-kind store: per-kind counts must match the per-kind sources,
    // proving the partition column routes facts correctly.
    withOracle(
      "scan_kind_pruned",
      """WITH e AS (
        |  SELECT DISTINCT user_id AS src, user_id % 37 AS dst FROM events WHERE user_id % 37 <> user_id
        |  UNION
        |  SELECT DISTINCT user_id, user_id % 41 FROM events WHERE user_id % 41 <> user_id
        |  UNION
        |  SELECT DISTINCT user_id, user_id % 7 FROM events WHERE user_id % 7 <> user_id)
        |SELECT kind, n FROM (
        |  SELECT 'equiv' AS kind, count(*) AS n FROM e
        |  UNION ALL
        |  SELECT 'page_view', count(*) FROM events)
        |ORDER BY kind""".stripMargin) { (s, dir) =>
      import s.implicits._
      val master = newMaster()
      val pvFacts = FactStore.eventsAsFacts(s, dir)
      val eqFacts = GraphOps.equivEdges(s, dir)
        .as[(Long, Long)]
        .map { case (a, b) => Fact.equiv(PersonId.ofUser(a), PersonId.ofUser(b), 0L) }
      // one mixed-kind absorb: partitionBy("kind") routes both types in a
      // single write pass; the pruned per-kind reads below then prove the
      // routing
      FactStore.ingest(pvFacts.unionAll(eqFacts), master)
      val eq = FactStore.scanKind(s, master, FactKind.Equiv)
        .groupBy("kind").agg(count(lit(1)).as("n"))
      val pv = FactStore.scanKind(s, master, FactKind.PageView)
        .groupBy("kind").agg(count(lit(1)).as("n"))
      eq.unionAll(pv).orderBy("kind")
    },

    // EDB.makeKeyValTap 32-shard serving view (BatchWorkflow.java:348-382):
    // the batch view written sharded by url (repartition(32, key) ≅ the
    // UrlOnlyScheme sharding), then served by key-filtered reads — the
    // "all queries become index lookups" Lambda thesis. The byte-level
    // BerkeleyDB K/V encoding is a serving-format detail not re-created
    // (SURVEY.md §2.1); the view is a queryable table.
    withOracle(
      "sink_kv",
      s"""WITH hourly AS (
         |  SELECT event_type AS url, (${Tables.sql.tsSecs}) // 3600 AS hbv,
         |         count(*) AS pv
         |  FROM events GROUP BY 1, 2),
         |ex AS (
         |  SELECT url, 'h' AS g, hbv AS bucket, pv FROM hourly UNION ALL
         |  SELECT url, 'd', hbv // 24, pv FROM hourly UNION ALL
         |  SELECT url, 'w', (hbv // 24) // 7, pv FROM hourly UNION ALL
         |  SELECT url, 'm', (hbv // 24) // 28, pv FROM hourly)
         |SELECT url, g, bucket, CAST(sum(pv) AS BIGINT) AS pageviews
         |FROM ex WHERE url = 'purchase' AND g = 'w'
         |GROUP BY url, g, bucket ORDER BY url, g, bucket""".stripMargin) { (s, dir) =>
      val store = newMaster()
      // 32 shards, fixed at creation like an ElephantDB domain
      // (BatchWorkflow.java:304-330), matches the fixture layout
      BatchViews.pageviewsOverTime(s, dir)
        .repartition(32, col("url"))
        .write.parquet(store)
      s.read.parquet(store)
        .where(col("url") === "purchase" && col("g") === "w")
        .orderBy("url", "g", "bucket")
    },

    // shred(): forced random repartition before the write
    // (BatchWorkflow.java:165-181) — the store must land as exactly the
    // shred parallelism's file count (small-file control at ingest).
    withOracle(
      "shred_repartition",
      "SELECT CAST(8 AS BIGINT) AS n_files") { (s, dir) =>
      val master = newMaster()
      FactStore.ingest(FactStore.eventsAsFacts(s, dir), master, shredPartitions = 8)
      FactStore.scanKind(s, master, FactKind.PageView)
        .select(input_file_name().as("f"))
        .agg(countDistinct(col("f")).as("n_files"))
    },

    // Pail.consolidate small-file compaction (BatchWorkflow.java:179): a
    // 16-file ingest rewritten to exactly 4 files per kind, facts intact.
    withOracle(
      "sink_consolidate",
      """SELECT CAST(4 AS BIGINT) AS n_files, count(*) AS n FROM events""".stripMargin) { (s, dir) =>
      val master = newMaster()
      FactStore.ingest(FactStore.eventsAsFacts(s, dir), master, shredPartitions = 16)
      FactStore.consolidate(s, master, targetFiles = 4)
      FactStore.scanKind(s, master, FactKind.PageView)
        .select(input_file_name().as("f"))
        .agg(countDistinct(col("f")).as("n_files"), count(lit(1)).as("n"))
    },

    // snapshot/absorb/deleteSnapshot ingest transaction
    // (BatchWorkflow.java:146-162): claim the staging dir atomically,
    // absorb from the snapshot, delete it — the staging dir must be
    // re-claimable (empty) afterwards and the master holds the batch.
    withOracle(
      "sink_snapshot_ingest",
      """SELECT count(*) AS n, CAST(0 AS BIGINT) AS staging_left FROM events""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = graft.Scratch.dir("graft_snap")
      val staging = s"$root/staging"
      FactStore.eventsAsFacts(s, dir).write.parquet(staging)
      val snap = FactStore.snapshot(s, staging).get
      val master = s"$root/master"
      FactStore.ingest(s.read.parquet(snap).as[graft.model.Fact], master)
      FactStore.deleteSnapshot(s, snap)
      val stagingLeft = if (FactStore.snapshot(s, staging).isDefined) 1L else 0L
      FactStore.scanKind(s, master, FactKind.PageView)
        .agg(count(lit(1)).as("n"))
        .withColumn("staging_left", lit(stagingLeft))
    },

    // Hive-style partitioned sink: daily counts written partitionBy the
    // low-cardinality dimension, read back with a partition predicate.
    // At 100 TB this is the layout that turns "one event type, one week"
    // queries into a directory listing instead of a full scan — the read
    // side must show PartitionFilters, not a post-scan filter
    // (PlanSpec-pinned).
    // MERGE-style snapshot upsert — the INCREMENTAL serving-layer update
    // the reference's recompute-everything batch views deliberately avoid
    // (SURVEY §0: ElephantDB views are rebuilt wholesale). When a nightly
    // changes batch (upserts + deletes) is much smaller than the
    // snapshot, rebuilding is waste: the merge is one left-anti join of
    // the snapshot against the (broadcastable) change keys plus a union
    // of the surviving changes. The changes batch here is derived
    // deterministically from orders so the oracle can replay it: keys
    // %10==0 update price, %10==3 delete, %10==7 insert under a fresh
    // key.
    //
    // Scale: changes ≪ snapshot → the anti join broadcasts the change
    // keys (AQE picks it below threshold) and the snapshot streams
    // through once; over a key-partitioned store only partitions holding
    // changed keys need rewriting. No full-outer join — the anti+union
    // form never shuffles the snapshot.
    withOracle(
      "snapshot_upsert",
      """WITH ch AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice, 'U' AS op
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, NULL, NULL, 'D' FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 10000000000, o_custkey, o_totalprice + 0.5, 'I'
        |  FROM orders WHERE o_orderkey % 10 = 7),
        |merged AS (
        |  SELECT o.o_orderkey, o.o_custkey, o.o_totalprice FROM orders o
        |  WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM ch)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM ch WHERE op <> 'D')
        |SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        |FROM merged ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val base = ordersBase(s, dir)
      applyUpsert(base, upsertChanges(base))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // The STREAMED form of snapshot_upsert: the changes batch arrives as
    // a stream (one file per microbatch via maxFilesPerTrigger) and
    // foreachBatch folds each slice into the bucket-partitioned
    // UpsertStore — one level per batch, deletes as tombstones; reads
    // resolve latest-per-key by level. No whole-store read-merge-rewrite
    // per microbatch (the round-9 shape — store-sized I/O per batch, the
    // scale bug), and the batchId rides into the commit row, so a replay
    // is a no-op. maintain(maxLevels = 1) is run once at the end as the
    // maintenance pass. Change keys are disjoint, so sequential
    // application over ANY batching converges to the one-shot batch
    // merge — proven by sharing its oracle. This is the relational
    // analogue of the vector index's streamed appends: the speed layer
    // MAINTAINS the serving view instead of rebuilding it.
    withOracle(
      "stream_upsert",
      """WITH ch AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice, 'U' AS op
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, NULL, NULL, 'D' FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 10000000000, o_custkey, o_totalprice + 0.5, 'I'
        |  FROM orders WHERE o_orderkey % 10 = 7),
        |merged AS (
        |  SELECT o.o_orderkey, o.o_custkey, o.o_totalprice FROM orders o
        |  WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM ch)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM ch WHERE op <> 'D')
        |SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        |FROM merged ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      val root = graft.Scratch.dir("graft_supsert")
      val storeDir = s"$root/store"
      val changesDir = s"$root/changes"
      val keys = Seq("o_orderkey")
      val base = ordersBase(s, dir)
      // bootstrap: the base snapshot is version 0 of every key
      graft.streaming.UpsertStore.fold(s, storeDir, base, keys, seq = 0L)
      upsertChanges(base).repartition(4).write.parquet(changesDir)
      val schema = s.read.parquet(changesDir).schema
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(changesDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          graft.streaming.UpsertStore.fold(s, storeDir,
            batch.withColumn("_is_del", col("op") === "D").drop("op"),
            keys, seq = batchId + 1, deletedCol = Some("_is_del"))
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.streaming.UpsertStore.maintain(s, storeDir, keys, maxLevels = 1)
      graft.streaming.UpsertStore.read(s, storeDir, keys)
        .getOrElse(sys.error(s"serving store missing at $storeDir"))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // Serving POINT LOOKUP on the upsert store — the ElephantDB
    // random-read role itself (BatchWorkflow.java:359-364 ships shards
    // precisely so the serving layer can answer per-key gets): build
    // the store as stream_upsert does (bootstrap fold + one changes
    // fold), then resolve four representative keys — an updated, a
    // deleted, an inserted and an untouched one (per-mod-class key
    // minima: driver scalars standing in for a serving request's
    // literals) — through UpsertStore.lookup, which reads ONLY those
    // keys' bucket directories (driver-evaluated hash → static
    // partition filter; UpsertStoreSpec pins partitions-read). The
    // deleted key resolves to NOTHING on both engines: 3 rows declared.
    //
    // Scale: the scan touches ≤ |keys| of the store's buckets no
    // matter the store size — random reads never pay a view scan.
    withOracle(
      "serving_point_lookup",
      """WITH ch AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice, 'U' AS op
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, NULL, NULL, 'D' FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 10000000000, o_custkey, o_totalprice + 0.5, 'I'
        |  FROM orders WHERE o_orderkey % 10 = 7),
        |merged AS (
        |  SELECT o.o_orderkey, o.o_custkey, o.o_totalprice FROM orders o
        |  WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM ch)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM ch WHERE op <> 'D'),
        |keys AS (
        |  SELECT min(o_orderkey) AS k FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL SELECT min(o_orderkey) FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL SELECT min(o_orderkey) + 10000000000 FROM orders WHERE o_orderkey % 10 = 7
        |  UNION ALL SELECT min(o_orderkey) FROM orders WHERE o_orderkey % 10 = 1)
        |SELECT m.o_orderkey, m.o_custkey, round(m.o_totalprice, 2) AS o_totalprice
        |FROM merged m JOIN keys ON m.o_orderkey = keys.k
        |ORDER BY m.o_orderkey""".stripMargin) { (s, dir) =>
      val root = graft.Scratch.dir("graft_plookup")
      val storeDir = s"$root/store"
      val keys = Seq("o_orderkey")
      val base = ordersBase(s, dir)
      graft.streaming.UpsertStore.fold(s, storeDir, base, keys, seq = 0L)
      graft.streaming.UpsertStore.fold(s, storeDir,
        upsertChanges(base).withColumn("_is_del", col("op") === "D").drop("op"),
        keys, seq = 1L, deletedCol = Some("_is_del"))
      val mins = base.agg(
        min(when(col("o_orderkey") % 10 === 0, col("o_orderkey"))).as("u"),
        min(when(col("o_orderkey") % 10 === 3, col("o_orderkey"))).as("d"),
        min(when(col("o_orderkey") % 10 === 7, col("o_orderkey"))).as("i"),
        min(when(col("o_orderkey") % 10 === 1, col("o_orderkey"))).as("n")).head()
      val keyVals = Seq(
        Seq[Any](mins.getLong(0)), Seq[Any](mins.getLong(1)),
        Seq[Any](mins.getLong(2) + 10000000000L), Seq[Any](mins.getLong(3)))
      graft.streaming.UpsertStore.lookup(s, storeDir, keys, keyVals)
        .getOrElse(sys.error(s"serving store missing at $storeDir"))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // CDC between two serving-snapshot VERSIONS: the batch layer
    // recomputes its views wholesale (BatchWorkflow.java's whole-view
    // rebuild; ElephantDB then ships entire shards) — at 100 TB the
    // scale-correct hand-off is the DELTA between the old and new
    // snapshot, which is what incremental serving stores (and
    // downstream caches/indexes) actually consume. diff(old, new)
    // emits exactly the I/U/D change batch whose application to `old`
    // reproduces `new` (roundtrip identity pinned in FactStoreSpec).
    // Declared on the upsert pair's own snapshots, so the diff must
    // recover the original change batch — and shares its derivable
    // oracle.
    withOracle(
      "snapshot_diff",
      """WITH ch AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice, 'U' AS op
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, NULL, NULL, 'D' FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 10000000000, o_custkey, o_totalprice + 0.5, 'I'
        |  FROM orders WHERE o_orderkey % 10 = 7)
        |SELECT o_orderkey, op, o_custkey, round(o_totalprice, 2) AS o_totalprice
        |FROM ch ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val base = ordersBase(s, dir)
      val next = applyUpsert(base, upsertChanges(base))
      snapshotDiff(base, next, "o_orderkey")
        .select(col("o_orderkey"), col("op"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")
    },

    withOracle(
      "sink_partitioned",
      s"""SELECT event_type, (${Tables.sql.tsSecs}) // 86400 AS day, count(*) AS n
         |FROM events WHERE event_type = 'purchase'
         |GROUP BY 1, 2 ORDER BY day""".stripMargin) { (s, dir) =>
      val store = newMaster()
      stagePartitionedStore(s, dir, store)
      partitionedReadBack(s, store)
    }
  )

  /** The snapshot side of the upsert pair: orders' stable 3-column
    * serving projection.
    */
  private def ordersBase(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** Deterministic changes batch derived from the snapshot itself so the
    * oracle can replay it: keys %10==0 update price (+1000), %10==3
    * delete, %10==7 insert under a fresh key (+1e10, price +0.5 —
    * boundary-safe for the 2-decimal round). Key sets are disjoint, so
    * applying any partition of the batch sequentially converges to the
    * one-shot merge (what stream_upsert exercises).
    */
  private def upsertChanges(base: DataFrame): DataFrame = {
    val upd = base.where(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 1000).as("o_totalprice"), lit("U").as("op"))
    val del = base.where(col("o_orderkey") % 10 === 3)
      .select(col("o_orderkey"), lit(null).cast("long").as("o_custkey"),
        lit(null).cast("double").as("o_totalprice"), lit("D").as("op"))
    val ins = base.where(col("o_orderkey") % 10 === 7)
      .select((col("o_orderkey") + 10000000000L).as("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 0.5).as("o_totalprice"), lit("I").as("op"))
    upd.unionAll(del).unionAll(ins)
  }

  /** MERGE: snapshot rows whose key is untouched + surviving changes. */
  private def applyUpsert(base: DataFrame, changes: DataFrame): DataFrame =
    base.join(changes.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionAll(changes.where(col("op") =!= "D").drop("op"))

  /** CDC diff of two snapshot versions keyed by `key`: emits the minimal
    * I/U/D change batch taking `old` to `neu` — inserts and updates carry
    * the NEW payload, deletes carry nulls, unchanged keys emit nothing
    * (payload compared null-safely column by column). Output matches
    * [[applyUpsert]]'s changes contract, so `applyUpsert(old,
    * snapshotDiff(old, neu)) ≡ neu` (the roundtrip identity FactStoreSpec
    * pins).
    *
    * Scale shape: ONE full-outer sort-merge join on the snapshot key —
    * the unavoidable shape when neither version can broadcast — and a
    * row-local compare; with both versions written through
    * [[graft.model.FactStore.ingestBucketed]]-style bucketing on the key
    * the join co-locates and the exchange disappears.
    */
  def snapshotDiff(old: DataFrame, neu: DataFrame, key: String): DataFrame = {
    val payload = old.columns.filterNot(_ == key).toSeq
    require(payload.toSet == neu.columns.filterNot(_ == key).toSet,
      s"snapshot schemas differ: ${old.columns.mkString(",")} vs ${neu.columns.mkString(",")}")
    val o = old.select((col(key) +: payload.map(c => col(c).as(s"__o_$c")) :+
      lit(true).as("__in_old")): _*)
    val n = neu.select((col(key) +: payload.map(c => col(c).as(s"__n_$c")) :+
      lit(true).as("__in_new")): _*)
    val changed = payload.map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .reduce(_ || _)
    o.join(n, Seq(key), "full_outer")
      .withColumn("op",
        when(col("__in_old").isNull, "I")
          .when(col("__in_new").isNull, "D")
          .when(changed, "U"))
      .where(col("op").isNotNull)
      .select((col(key) +: payload.map(c =>
        when(col("op") === "D", lit(null)).otherwise(col(s"__n_$c")).as(c)) :+
        col("op")): _*)
  }

  /** Writer half of sink_partitioned: daily counts, partitionBy the
    * low-cardinality dimension.
    */
  def stagePartitionedStore(s: SparkSession, dir: String, store: String): Unit =
    Tables.events(s, dir)
      .groupBy(col("event_type"),
        graft.functions.TimeFunctions.fdiv(col("ts_secs"), 86400L).as("day"))
      .agg(count(lit(1)).as("n"))
      .write.partitionBy("event_type").parquet(store)

  /** Reader half: the partition-predicate read-back whose plan must show
    * PartitionFilters (PlanSpec). Split from the writer so a plan dump
    * can target a pre-staged store instead of re-running the ingest.
    */
  def partitionedReadBack(s: SparkSession, store: String): DataFrame =
    s.read.parquet(store)
      .where(col("event_type") === "purchase")
      .select(col("event_type"), col("day"), col("n"))
      .orderBy("day")
}
