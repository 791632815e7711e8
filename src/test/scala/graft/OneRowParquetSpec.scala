package graft

import graft.model.{OneRowParquet, ServingPointer, StoreSwap}
import graft.operators.{LexIndex, ShingleStore, VectorIndex, VectorOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver-side one-row tables: what [[OneRowParquet.write]] commits
  * reads back through the driver and Spark readers exactly as written,
  * matches the Spark-written table it replaces in the stores, and a
  * write that died before its `_SUCCESS` never looks complete to
  * [[StoreSwap]].
  */
class OneRowParquetSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String = Scratch.dir("onerow_spec")

  private val allTypes = new StructType()
    .add("l", LongType).add("i", IntegerType).add("d", DoubleType)
    .add("f", FloatType).add("b", BooleanType).add("s", StringType)

  test("write -> head and write -> spark.read round-trip every supported type, nulls included") {
    val rows = Seq(
      Seq[Any](Long.MinValue, -7, 0.1 + 0.2, 1.5f, true, "stats ü"),
      Seq[Any](42L, Int.MaxValue, -0.0, Float.MinPositiveValue, false, ""),
      Seq[Any](null, null, null, null, null, null),
      Seq[Any](3L, null, 2.5, null, true, null))
    rows.foreach { values =>
      val dir = freshDir() + "/t"
      OneRowParquet.write(spark, dir, allTypes, values: _*)
      val h = OneRowParquet.head(spark, dir)
      assert(h.schema == allTypes)
      assert(h.toSeq == values, "driver read-back differs")
      val df = spark.read.parquet(dir)
      assert(df.schema == allTypes, "Spark sees the same names and types")
      assert(df.collect().toSeq.map(_.toSeq) == Seq(values), "Spark read-back differs")
      assert(new java.io.File(dir, "_SUCCESS").exists(), "committed writes carry _SUCCESS")
    }
  }

  test("write replaces the previous row and refuses unsupported types or mismatched values") {
    val dir = freshDir() + "/t"
    val one = new StructType().add("version", LongType)
    OneRowParquet.write(spark, dir, one, 1L)
    OneRowParquet.write(spark, dir, one, 2L)
    assert(spark.read.parquet(dir).as[Long].collect().toSeq == Seq(2L))
    intercept[IllegalArgumentException](
      OneRowParquet.write(spark, dir, new StructType().add("d", DateType), null: Any))
    intercept[IllegalArgumentException](OneRowParquet.write(spark, dir, one, 1))
    intercept[IllegalArgumentException](OneRowParquet.write(spark, dir, one, 1L, 2L))
    // the reader refuses a shape it does not support, with no fallback
    val dated = freshDir() + "/dated"
    spark.sql("SELECT DATE'2024-01-01' AS d").write.parquet(dated)
    val e = intercept[IllegalStateException](OneRowParquet.head(spark, dated))
    assert(e.getMessage.contains("unsupported shape"), e.getMessage)
  }

  /** The table as the stores' former Spark write produced it. */
  private def sparkWritten(df: org.apache.spark.sql.DataFrame): String = {
    val dir = freshDir() + "/spark"
    df.repartition(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def assertSameTable(store: String, spark1: String): Unit = {
    val (a, b) = (spark.read.parquet(store), spark.read.parquet(spark1))
    assert(a.schema == b.schema, s"${a.schema} vs ${b.schema}")
    assert(a.collect().toSeq == b.collect().toSeq)
  }

  test("store stats, meta and pointer rows equal the Spark-written tables they replace") {
    val docs = Tables.documents(spark, sf0001)
    val half = docs.where($"doc_id" % 2 === 0)
    val rest = docs.where($"doc_id" % 2 === 1)

    // LexIndex: totals computed the former way (per-doc lengths over the
    // (doc, term) counts) over every doc the index holds
    val lex = freshDir()
    LexIndex.build(spark, half, lex, nBuckets = 8, batchId = 3L)
    LexIndex.append(spark, rest, lex, batchId = 4L)
    val dl = docs.select($"doc_id", explode(graft.functions.TextFunctions.tokens($"text")).as("t"))
      .where($"t" =!= "").groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id").agg(sum("tf").cast("double").as("dl"))
    val lexExpected = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .select($"n_docs", $"sum_dl", ($"sum_dl" / $"n_docs").as("avgdl"),
        lit(8).as("n_buckets"), lit(0L).as("min_seq"), lit(1L).as("max_seq"),
        lit(4L).as("last_batch"))
    assertSameTable(s"$lex/stats", sparkWritten(lexExpected))

    // ShingleStore after a build and an append
    val sh = freshDir()
    ShingleStore.build(spark, half, sh)
    ShingleStore.append(spark, rest, sh, batchId = 9L)
    val sigsJson = docs.select($"doc_id", graft.functions.TextFunctions
      .shingleHashes($"text", 3).as("hs")).schema.json
    val nSigs = docs.count()
    assertSameTable(s"$sh/stats", sparkWritten(
      Seq((nSigs, 3, sigsJson, 0L, 1L, 9L)).toDF("n_docs", "shingle_n",
        "sigs_schema", "min_seq", "max_seq", "last_batch")))

    // VectorIndex meta after a build and an append
    val emb = Tables.embeddings(spark, sf0001)
    val vec = freshDir()
    VectorIndex.buildIvfPq(spark, emb.where($"vec_id" % 2 === 0), vec, batchId = 5L)
    VectorIndex.appendIvfPq(spark, emb.where($"vec_id" % 2 === 1), vec, batchId = 6L)
    assertSameTable(s"$vec/meta", sparkWritten(Seq((VectorOps.embDims(emb), 0L, 1L, 6L))
      .toDF("dims", "min_seq", "max_seq", "last_batch")))

    // ServingPointer
    val root = freshDir()
    val v = ServingPointer.stage(spark, root)(d => Seq(1).toDF("x").write.parquet(d))
    ServingPointer.flip(spark, root, v)
    assertSameTable(ServingPointer.pointerDir(root),
      sparkWritten(Seq(v).toDF("version")))
  }

  test("a staged file without _SUCCESS is torn: committedPath rejects it, commit discards it") {
    val one = new StructType().add("version", LongType)
    val store = freshDir() + "/pointer"
    OneRowParquet.write(spark, store, one, 1L)
    OneRowParquet.write(spark, StoreSwap.tmpPath(store), one, 2L)
    OneRowCrash.midFile(StoreSwap.tmpPath(store))
    assert(StoreSwap.committedPath(spark, StoreSwap.tmpPath(store)).isEmpty,
      "a dir holding only the staged file is not a committed write")
    val e = intercept[IllegalStateException](OneRowParquet.head(spark, StoreSwap.tmpPath(store)))
    assert(e.getMessage.contains("holds no row"), s"readers never see the staged file: $e")
    StoreSwap.commit(spark, store)
    assert(!new java.io.File(StoreSwap.tmpPath(store)).exists(), "torn tmp discarded")
    assert(spark.read.parquet(store).as[Long].collect().toSeq == Seq(1L),
      "the committed row survives")
    // a FIRST write torn the same way reads as never written
    val first = freshDir() + "/first"
    OneRowParquet.write(spark, first, one, 1L)
    OneRowCrash.midFile(first)
    assert(StoreSwap.committedPath(spark, first).isEmpty)
    // a crash after the rename but before _SUCCESS is torn too: the
    // marker is the only commit evidence
    val renamed = freshDir() + "/renamed"
    OneRowParquet.write(spark, renamed, one, 7L)
    new java.io.File(renamed, "_SUCCESS").delete()
    assert(StoreSwap.committedPath(spark, renamed).isEmpty)
    assert(OneRowParquet.committed(spark, renamed).isEmpty)
    // and a LevelStore build whose commit row died that way retries clean
    val docs = Tables.documents(spark, sf0001).limit(40)
    val lex = freshDir()
    LexIndex.build(spark, docs, lex, batchId = 0L)
    val want = LexIndex.bm25TopK(spark, lex, Seq("spark", "data")).collect().toSeq
    new java.io.File(lex, "stats/_SUCCESS").delete()
    assert(!LexIndex.isBuilt(spark, lex), "a marker-less commit row reads as not built")
    LexIndex.build(spark, docs, lex, batchId = 0L)
    assert(LexIndex.isBuilt(spark, lex))
    assert(LexIndex.bm25TopK(spark, lex, Seq("spark", "data")).collect().toSeq == want,
      "the retried build serves what the first one would have")
  }
}

/** Crash states of [[OneRowParquet.write]], made with raw file ops. */
object OneRowCrash {
  /** The state of a write killed while its data file was being written:
    * only a truncated `_`-prefixed staging file, no data file, no
    * `_SUCCESS`.
    */
  def midFile(dir: String): Unit = {
    val d = new java.io.File(dir)
    new java.io.File(d, "_SUCCESS").delete()
    d.listFiles().filter(_.getName.startsWith(".")).foreach(_.delete()) // checksums
    d.listFiles().filter(_.getName.startsWith("part-")).foreach { f =>
      val staged = new java.io.File(d, "_" + f.getName)
      assert(f.renameTo(staged))
      val raf = new java.io.RandomAccessFile(staged, "rw")
      try raf.setLength(raf.length() / 2) finally raf.close()
    }
  }
}
