package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.eval.Eval
import graft.pipeline.EntityResolution
import graft.testgen.WebCorpus

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val N = 1500L

  lazy val pages = WebCorpus.pages(spark, N).toDF().cache()
  lazy val labeled = WebCorpus.labeledPairs(spark, N).toDF()
    .select(col("main_url"), col("sub_url"))
  lazy val result = EntityResolution.resolve(pages)

  test("pairwise F1 >= 0.99 on labeled pairs at shared blocking key (north rule)") {
    val m = Eval.pairwiseF1(
      EntityResolution.predictedPairs(result.integrated), labeled, result.candidatePairs)
    info(s"tp=${m.tp} fp=${m.fp} fn=${m.fn} precision=${m.precision} " +
      s"recall=${m.recall} f1=${m.f1} blockingRecall=${m.blockingRecall}")
    assert(m.f1 >= 0.99, s"F1 ${m.f1} below 0.99")
    assert(m.blockingRecall >= 0.98, s"blocking recall ${m.blockingRecall}")
  }

  test("integrated output contract: one row per input record, confidence in [0,1]") {
    val integrated = result.integrated.cache()
    assert(integrated.count() == pages.count())
    assert(integrated.filter(col("ConfidenceLevel") < 0 || col("ConfidenceLevel") > 1).count() == 0)
    assert(integrated.select("RecordId").distinct().count() == pages.count())
    // MatchID groups never mix more than one record per source-entity pair:
    // a cluster has at most 1 main and 1 sub page in this corpus
    val oversize = integrated.groupBy("MatchID", "InputSourceARN")
      .count().filter(col("count") > 1)
    assert(oversize.count() == 0, "no cluster should contain two records of the same source")
  }

  test("idempotence: re-resolving the integrated output creates no new merges") {
    // predicted pairs are a function of MatchID; a second clustering over the
    // same edges must not change components
    val again = graft.cluster.ConnectedComponents.run(
      result.edges.select(col("main_url").as("src"), col("sub_url").as("dst")))
    val first = graft.cluster.ConnectedComponents.run(
      result.edges.select(col("main_url").as("src"), col("sub_url").as("dst")))
    assert(again.exceptAll(first).count() == 0)
    assert(first.exceptAll(again).count() == 0)
  }

  test("determinism: clusters identical under different shuffle partitioning") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val a = result.integrated.select("RecordId", "MatchID").orderBy("RecordId").collect()
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val r2 = EntityResolution.resolve(pages.repartition(3))
      val b = r2.integrated.select("RecordId", "MatchID").orderBy("RecordId").collect()
      assert(a.sameElements(b), "clusters must not depend on partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("Config rejects a negative score weight (the funnel prefilters assume w >= 0)") {
    for (cfg <- Seq(
        () => EntityResolution.Config(wJaroWinkler = -0.1),
        () => EntityResolution.Config(wTokenJaccard = -0.1),
        () => EntityResolution.Config(wLevenshtein = -1e-9))) {
      val ex = intercept[IllegalArgumentException](cfg())
      assert(ex.getMessage.contains("non-negative"))
    }
    EntityResolution.Config(wJaroWinkler = 0.0, wLevenshtein = 0.0) // zero is allowed
  }
}
