package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.EntityResolution
import graft.tools.IncrementalProbe

/**
 * The incremental probe graft.Bench embeds verbatim as `er_incremental`:
 * its JSON carries every field, the fold scores fewer pairs than the full
 * re-resolve, and the cached prior state is reused while the engine build
 * is unchanged.
 */
class IncrementalProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val fields = Seq("docs", "batch_frac", "full_sec", "incremental_sec", "speedup",
    "probe_reps", "full_scored_pairs", "incremental_scored_pairs")

  private def parse(json: String): Map[String, String] =
    """"(\w+)":([^,}]+)""".r.findAllMatchIn(json).map(m => m.group(1) -> m.group(2)).toMap

  test("measure: every er_incremental field, fewer fold pairs, cached prior reused") {
    val corpus = Files.createTempDirectory("graft-probe-corpus").toString
    val prior = new File(IncrementalProbe.priorDir(corpus))
    try {
      graft.testgen.WebCorpus.pages(spark, 800).toDF()
        .write.mode("overwrite").parquet(corpus)

      val first = parse(IncrementalProbe.measure(spark, corpus, mod = 5))
      assert(first.keySet == fields.toSet, s"fields: ${first.keySet}")
      assert(first("batch_frac") == "0.200")
      assert(first("probe_reps") == "1")
      val fullPairs = first("full_scored_pairs").toLong
      val incPairs = first("incremental_scored_pairs").toLong
      assert(incPairs < fullPairs, s"fold scored $incPairs pairs, full re-resolve $fullPairs")

      // the prior dir is keyed on the newest class file of the whole engine,
      // not only the pipeline object's
      val classes = new File(EntityResolution.getClass.getProtectionDomain
        .getCodeSource.getLocation.toURI)
      if (classes.isDirectory) {
        val blocking = new File(classes, "graft/blocking/Blocking$.class")
        assert(IncrementalProbe.codeStamp >= blocking.lastModified())
      }

      val marker = new File(prior, "probe.marker")
      def snapshot = FileUtils.listFiles(prior, null, true).asScala
        .map(f => f.getPath -> f.lastModified()).toMap
      val (markerText, priorFiles) = (FileUtils.readFileToString(marker, "UTF-8"), snapshot)
      assert(markerText.contains(s"code=${IncrementalProbe.codeStamp}"))

      val second = parse(IncrementalProbe.measure(spark, corpus, mod = 5))
      assert(FileUtils.readFileToString(marker, "UTF-8") == markerText)
      assert(snapshot == priorFiles, "the second call rebuilt the cached prior state")
      assert(second("full_scored_pairs") == first("full_scored_pairs"))
      assert(second("incremental_scored_pairs") == first("incremental_scored_pairs"))
    } finally {
      for (d <- Seq(corpus, prior.getPath, IncrementalProbe.probeDir("full0"),
                    IncrementalProbe.probeDir("inc0")))
        FileUtils.deleteDirectory(new File(d))
    }
  }
}
