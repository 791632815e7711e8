package graft

import graft.operators.VectorOps
import org.apache.spark.sql.functions._

/** The composed embedding-corpus pipeline (dedup → index → serve):
  * survivor-set soundness against the exact all-pairs form and the
  * serving contract of the search stage.
  */
class EmbeddingPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("dedup-then-index pipeline: sound survivors, served answers from survivors only") {
    val emb = Tables.embeddings(spark, sf001)
    val result = SparkEntry.queries("pipeline_embedding_corpus")(spark, sf001)
    val rows = result.collect()
    assert(rows.nonEmpty)

    // reconstruct the survivor rule independently: every non-survivor
    // must be justified by an EXACT cosine >= threshold to some other
    // vector (the LSH pairs are exact-verified, so no vector may be
    // dropped without a true near-dup somewhere)
    val exactPairs = SparkEntry.queries("near_dedup_cosine")(spark, sf001)
      .select($"i", $"j").collect().map(r => (r.getLong(0), r.getLong(1)))
    val inSomePair = (exactPairs.map(_._1) ++ exactPairs.map(_._2)).toSet
    val all = emb.select($"vec_id").collect().map(_.getLong(0)).toSet
    val neighbors = rows.map(_.getLong(2)).toSet
    assert(neighbors.subsetOf(all))
    val pairsDf = VectorOps.cosineNearDupLsh(spark, emb, threshold = 0.4)
      .select($"i".as("src"), $"j".as("dst"))
    val cc = graft.operators.GraphOps.connectedComponents(pairsDf)
      .select($"node".as("vec_id"), $"label".as("canonical"))
    val survivors = emb
      .join(cc, Seq("vec_id"), "left_outer")
      .where($"canonical".isNull || $"canonical" === $"vec_id")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val removed = all -- survivors
    assert(removed.forall(inSomePair),
      s"vectors removed without an exact near-dup: ${removed.filterNot(inSomePair)}")
    assert(neighbors.subsetOf(survivors),
      "served neighbors must come from the deduplicated corpus")

    // serving contract: <= k answers per probe, ranks contiguous from 1,
    // emitted cosines exact
    val byProbe = rows.groupBy(_.getLong(0))
    byProbe.foreach { case (_, rs) =>
      assert(rs.length <= 5)
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length))
    }
    val a = emb.select($"vec_id".as("probe_id"), $"embedding".as("pa"))
    val b = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("pb"))
    val bad = result.join(a, "probe_id").join(b, "neighbor_id")
      .withColumn("exact", round(VectorOps.cosine($"pa", $"pb"), 4))
      .where($"exact" =!= $"cos").count()
    assert(bad == 0, "served cosines must be exact")
  }

  test("above lshMaxRows the pipeline routes dedup through the cluster-scoped form") {
    // the round-12 scaling finding: at the 100x probe point SRP-LSH's
    // candidate volume exhausted local disk, so corpora above
    // graft.embpipe.lshMaxRows dedup via multi-assign SemDeDup instead.
    // Force the route at fixture scale and re-assert the serving
    // contract end to end (soundness: semantic pairs are exact-verified,
    // so no vector is dropped without a true near-dup)
    spark.conf.set("graft.embpipe.lshMaxRows", "10")
    try {
      val emb = Tables.embeddings(spark, sf001)
      val rows = SparkEntry.queries("pipeline_embedding_corpus")(spark, sf001)
        .collect()
      assert(rows.nonEmpty, "routed pipeline must still serve results")
      val exactPairs = SparkEntry.queries("near_dedup_cosine")(spark, sf001)
        .select($"i", $"j").collect().map(r => (r.getLong(0), r.getLong(1)))
      val inSomePair = (exactPairs.map(_._1) ++ exactPairs.map(_._2)).toSet
      val all = emb.select($"vec_id").collect().map(_.getLong(0)).toSet
      val semPairs = VectorOps.cosineNearDupSemantic(spark, emb,
        threshold = 0.4, nAssign = 2).select($"i".as("src"), $"j".as("dst"))
      val cc = graft.operators.GraphOps.connectedComponents(semPairs)
        .select($"node".as("vec_id"), $"label".as("canonical"))
      val survivors = emb.join(cc, Seq("vec_id"), "left_outer")
        .where($"canonical".isNull || $"canonical" === $"vec_id")
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      val removed = all -- survivors
      assert(removed.forall(inSomePair),
        s"semantic route dropped vectors without a true near-dup: ${removed.filterNot(inSomePair)}")
      assert(rows.map(_.getLong(2)).toSet.subsetOf(survivors),
        "served neighbors must come from the semantically deduplicated corpus")
      rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
        assert(rs.length <= 5)
        assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length))
      }
    } finally spark.conf.unset("graft.embpipe.lshMaxRows")
  }

  test("pipeline survives a duplicate-heavy corpus whose dedup leaves fewer survivors than nCells") {
    // the 10x scaling probe's failure class end-to-end: dedup collapses
    // a near-duplicate-saturated corpus to a handful of survivors, and
    // the downstream index build asks for more cells than that — the
    // quantizer must degrade to fewer cells, not crash (and the served
    // results must still come from the survivors with exact cosines)
    val rnd = new scala.util.Random(3)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + (rnd.nextGaussian() * 1e-4).toFloat)
    val clusterA = Array.tabulate(64)(i => math.sin(i * 0.3).toFloat)
    val clusterB = Array.tabulate(64)(i => math.cos(i * 0.7).toFloat)
    // 96 near-copies across two blobs + 4 genuinely distinct vectors
    val emb = ((0L until 48L).map(i => (i, jitter(clusterA))) ++
      (48L until 96L).map(i => (i, jitter(clusterB))) ++
      (96L until 100L).map(i =>
        (i, Array.tabulate(64)(d => math.sin((i + 1) * (d + 2) * 0.9).toFloat))))
      .toDF("vec_id", "embedding")
    val pairs = VectorOps.cosineNearDupLsh(spark, emb, threshold = 0.9)
      .select($"i".as("src"), $"j".as("dst"))
    val cc = graft.operators.GraphOps.connectedComponents(pairs)
      .select($"node".as("vec_id"), $"label".as("canonical"))
    val survivors = emb.join(cc, Seq("vec_id"), "left_outer")
      .where($"canonical".isNull || $"canonical" === $"vec_id")
      .select($"vec_id", $"embedding").localCheckpoint()
    val nSurv = survivors.count()
    assert(nSurv < 16 && nSurv >= 2,
      s"fixture must leave fewer survivors than the requested 16 cells, got $nSurv")
    val idx = java.nio.file.Files.createTempDirectory("graft_degidx").toString + "/idx"
    operators.VectorIndex.buildIvfPq(spark, survivors, idx,
      nCells = 16, m = 16, ks = 16)
    val served = operators.VectorIndex.searchIvfPq(spark, idx,
      probes = emb.where($"vec_id".isin(0L, 48L, 96L)), k = 3,
      nProbe = 8, rerank = 8)
    val rows = served.collect()
    assert(rows.nonEmpty, "the degenerate-cell index must still serve")
    val survSet = survivors.select($"vec_id").as[Long].collect().toSet
    assert(rows.map(_.getLong(2)).toSet.subsetOf(survSet),
      "served neighbors must come from the surviving corpus")
  }
}
