package graft

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.pipeline.EntityResolution

/**
 * Incremental resolve contract: folding new batches into a prior run's
 * durable stage tables yields EXACTLY the clusters of a full re-resolve of
 * everything — while scoring only new-involving candidate pairs and
 * re-clustering only components touched by a new edge.
 */
class IncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("chained incremental resolves == full re-resolve (bit-exact)") {
    val all = graft.testgen.WebCorpus.pages(spark, 800).toDF().cache()
    // deterministic content-defined splits: 60% old, two 20% batches
    val slot = pmod(xxhash64(col("url")), lit(5))
    val oldPages = all.filter(slot < 3)
    val batch1 = all.filter(slot === 3)
    val batch2 = all.filter(slot === 4)
    assert(batch1.count() > 100 && batch2.count() > 100,
      "split produced a trivial batch")

    val Seq(d1, d2, d3, d4) = (1 to 4).map(i =>
      Files.createTempDirectory(s"graft-inc$i").toString)

    val prior = EntityResolution.resolve(oldPages,
      EntityResolution.Config(workDir = Some(d1)))
    prior.integrated.count() // force stage tables

    val inc1 = EntityResolution.resolveIncremental(batch1, d1,
      EntityResolution.Config(workDir = Some(d2)))
    inc1.integrated.count() // force: d2 is the next batch's prior state
    val inc2 = EntityResolution.resolveIncremental(batch2, d2,
      EntityResolution.Config(workDir = Some(d3)))
    val full = EntityResolution.resolve(all,
      EntityResolution.Config(workDir = Some(d4)))

    val cols = Seq("RecordId", "InputSourceARN", "MatchID", "ConfidenceLevel")
    val a = inc2.integrated.select(cols.map(col): _*)
    val b = full.integrated.select(cols.map(col): _*)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "chained incremental integrated table differs from full re-resolve")

    // the work proof: every pair the second increment scored involves a
    // batch-2 record — no old×old rescoring
    val b2Urls = batch2.select(col("url").as("u"))
    val scoredOldOld = inc2.candidatePairs
      .join(b2Urls.withColumnRenamed("u", "main_url"), Seq("main_url"), "left_anti")
      .join(b2Urls.withColumnRenamed("u", "sub_url"), Seq("sub_url"), "left_anti")
    assert(scoredOldOld.count() == 0, "incremental run generated old×old pairs")

    // an empty follow-up batch is a no-op over valid prior state
    val d5 = Files.createTempDirectory("graft-inc5").toString
    val inc3 = EntityResolution.resolveIncremental(batch2.limit(0), d3,
      EntityResolution.Config(workDir = Some(d5)))
    assert(inc3.integrated.count() == full.integrated.count())
  }

  test("beyond-broadcast fallback path (smallBatch=false) == full re-resolve") {
    // the fold's broadcast-stream shapes are gated on batch size; force the
    // gate CLOSED so the plain shuffle-join fallback shapes stay exercised
    // and bit-equal (graft.fold.broadcast.max test override)
    val all = graft.testgen.WebCorpus.pages(spark, 500).toDF().cache()
    val slot = pmod(xxhash64(col("url")), lit(5))
    val Seq(p1, p2, p3) = (1 to 3).map(i =>
      Files.createTempDirectory(s"graft-incbb$i").toString)
    EntityResolution.resolve(all.filter(slot < 4),
      EntityResolution.Config(workDir = Some(p1))).integrated.count()
    sys.props("graft.fold.broadcast.max") = "0"
    try {
      val inc = EntityResolution.resolveIncremental(all.filter(slot === 4), p1,
        EntityResolution.Config(workDir = Some(p2)))
      val full = EntityResolution.resolve(all,
        EntityResolution.Config(workDir = Some(p3)))
      val cols = Seq("RecordId", "InputSourceARN", "MatchID", "ConfidenceLevel")
      val a = inc.integrated.select(cols.map(col): _*)
      val b = full.integrated.select(cols.map(col): _*)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        "beyond-broadcast fallback fold differs from full re-resolve")
    } finally sys.props.remove("graft.fold.broadcast.max")
  }

  test("keys-chain compaction: fold at the compaction length == full re-resolve") {
    // compactLen 2 ⇒ the FIRST fold already compacts its chain (base +
    // delta = 2 files); the second fold then reads a compacted one-file
    // chain — both chain shapes exercised, both bit-exact vs full
    System.setProperty("graft.keys.compact.len", "2")
    try {
      val all = graft.testgen.WebCorpus.pages(spark, 500).toDF().cache()
      val slot = pmod(xxhash64(col("url")), lit(5))
      val Seq(c1, c2, c3, c4) = (1 to 4).map(i =>
        Files.createTempDirectory(s"graft-cmp$i").toString)
      EntityResolution.resolve(all.filter(slot < 3),
        EntityResolution.Config(workDir = Some(c1))).integrated.count()
      EntityResolution.resolveIncremental(all.filter(slot === 3), c1,
        EntityResolution.Config(workDir = Some(c2))).integrated.count()
      assert(new java.io.File(s"$c2/keys.parquet/_SUCCESS").exists(),
        "fold at the compaction length did not compact its keys chain")
      val inc = EntityResolution.resolveIncremental(all.filter(slot === 4), c2,
        EntityResolution.Config(workDir = Some(c3)))
      val full = EntityResolution.resolve(all,
        EntityResolution.Config(workDir = Some(c4)))
      val cols = Seq("RecordId", "InputSourceARN", "MatchID", "ConfidenceLevel")
      val a = inc.integrated.select(cols.map(col): _*)
      val b = full.integrated.select(cols.map(col): _*)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        "fold over a compacted keys chain differs from full re-resolve")
    } finally System.clearProperty("graft.keys.compact.len")
  }

  // one hot-domain block, crafted sizes: prior = 60 rows (≤ maxBlock = 64,
  // NOT re-keyed), batch pushes it to 70 (> 64 → every member's key set
  // changes via hierarchical re-keying)
  private def hotBlockPages(spark: org.apache.spark.sql.SparkSession, n: Int) = {
    import spark.implicits._
    import graft.testgen.WebPage
    (0 until n).flatMap { i =>
      val title = s"item number $i"
      val body = (0 until 30).map(k =>
        graft.testgen.WebCorpus.Vocab((i * 31 + k * 7) % 400)).mkString(" ")
      val html = s"<html><head><title>$title</title></head><body>$body</body></html>"
        .getBytes("UTF-8")
      Seq(
        WebPage(s"https://hub.example.com/main-item-$i",
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), html, "", "en", "main"),
        WebPage(s"https://hub.example.com/sub-item-$i",
          java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), html, "", "en", "sub"))
    }.toDF()
  }

  test("batch pushing a block across the re-key threshold: incremental == full") {
    val all = hotBlockPages(spark, 40) // 80 same-domain rows
    val batch1 = all.filter(col("url").rlike("item-3[0-4]$")) // entities 30-34
    val batch2 = all.filter(col("url").rlike("item-3[5-9]$")) // entities 35-39
    val old = all.exceptAll(batch1.unionAll(batch2))
    assert(old.count() == 60 && batch1.count() == 10 && batch2.count() == 10)

    val Seq(p1, p2, p3, p4) = (1 to 4).map(i =>
      Files.createTempDirectory(s"graft-hot$i").toString)
    EntityResolution.resolve(old,
      EntityResolution.Config(workDir = Some(p1))).integrated.count()
    val inc1 = EntityResolution.resolveIncremental(batch1, p1,
      EntityResolution.Config(workDir = Some(p2)))
    inc1.integrated.count() // force: p2 is the next fold's prior state

    // the detection fired: key-changed old records had old×old pairs rescored
    val batch1Urls = batch1.select(col("url").as("u"))
    val oldOld = inc1.candidatePairs
      .join(batch1Urls.withColumnRenamed("u", "main_url"), Seq("main_url"), "left_anti")
      .join(batch1Urls.withColumnRenamed("u", "sub_url"), Seq("sub_url"), "left_anti")
    assert(oldOld.count() > 0,
      "expected old×old rescoring for the key-changed block members")
    // ... and the crossing left a NON-EMPTY tombstone table in the chain
    val tombs = spark.read.parquet(s"$p2/keys_tombstones.parquet")
    assert(tombs.count() > 0, "re-key crossing wrote no tombstones")

    // fold AGAIN over p2: assembleKeys now anti-joins a real (non-empty)
    // tombstone set read back from the chain — the read-path equivalent of
    // the in-memory keysAll frame BlockingSpec gates
    val inc2 = EntityResolution.resolveIncremental(batch2, p2,
      EntityResolution.Config(workDir = Some(p3)))
    val full = EntityResolution.resolve(all,
      EntityResolution.Config(workDir = Some(p4)))

    val cols = Seq("RecordId", "InputSourceARN", "MatchID", "ConfidenceLevel")
    val a = inc2.integrated.select(cols.map(col): _*)
    val b = full.integrated.select(cols.map(col): _*)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "fold over a chain with live tombstones diverged from full re-resolve")

    // torn-manifest guard: a keys.list without its tombstones.list (crash
    // between the ordered writes) must fail loudly, never read as "no
    // tombstones" — that would silently resurrect every tombstoned key row
    Files.delete(java.nio.file.Paths.get(p3, "tombstones.list"))
    val p5 = Files.createTempDirectory("graft-hot5").toString
    val ex = intercept[IllegalStateException] {
      EntityResolution.resolveIncremental(batch2.limit(0), p3,
        EntityResolution.Config(workDir = Some(p5))).integrated.count()
    }
    assert(ex.getMessage.contains("torn"))
  }

  test("a fold failing mid-keys-stage stops its stage writes and leaves prior state intact") {
    val all = graft.testgen.WebCorpus.pages(spark, 300).toDF()
    val isNew = pmod(xxhash64(col("url")), lit(5)) === 4
    val Seq(d1, d2) = (1 to 2).map(i =>
      Files.createTempDirectory(s"graft-fault$i").toString)
    EntityResolution.resolve(all.filter(!isNew),
      EntityResolution.Config(workDir = Some(d1))).integrated.count()
    // garbage over the column data of every prior sizes2 part file, footer
    // kept (and checksum file dropped, or the checksum would catch it first):
    // the table still opens, so the fold fails on its first sizes2 DATA read
    // — the keys fold's sizes2 stage, after the raw_counts write has started
    val sizes2 = new File(d1, "sizes2.parquet")
    for (f <- sizes2.listFiles() if f.getName.endsWith(".parquet")) {
      val b = Files.readAllBytes(f.toPath)
      val footerLen = ByteBuffer.wrap(b, b.length - 8, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
      java.util.Arrays.fill(b, 4, b.length - 8 - footerLen, 0xff.toByte)
      Files.write(f.toPath, b)
      Files.deleteIfExists(new File(sizes2, s".${f.getName}.crc").toPath)
    }
    intercept[Exception](spark.read.parquet(sizes2.toString).collect())
    def bytesOf(dir: String) = FileUtils.listFiles(new File(dir), null, true).asScala
      .map(f => f.getPath -> Files.readAllBytes(f.toPath).toSeq).toMap
    val priorBefore = bytesOf(d1)

    intercept[Exception] {
      EntityResolution.resolveIncremental(all.filter(isNew), d1,
        EntityResolution.Config(workDir = Some(d2))).integrated.count()
    }
    val writers = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == "graft-stage-write" && t.isAlive)
    assert(writers.isEmpty, s"${writers.size} stage-write thread(s) outlived the failed fold")
    eventually(timeout(30.seconds)) {
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
        "a Spark job of the failed fold is still running")
    }
    assert(bytesOf(d1) == priorBefore, "the failed fold modified the prior state dir")
    val manifests = Seq("records.list", "config.sig", "tombstones.list", "keys.list")
      .filter(m => new File(d2, m).exists())
    assert(manifests.isEmpty, s"the failed fold wrote manifests: $manifests")
  }

  test("a fold refuses prior state missing a table, or a records chain missing a commit") {
    val all = graft.testgen.WebCorpus.pages(spark, 300).toDF()
    val slot = pmod(xxhash64(col("url")), lit(5))
    val Seq(d1, d2, d3) = (1 to 3).map(i =>
      Files.createTempDirectory(s"graft-refuse$i").toString)
    EntityResolution.resolve(all.filter(slot < 3),
      EntityResolution.Config(workDir = Some(d1))).integrated.count()
    EntityResolution.resolveIncremental(all.filter(slot === 3), d1,
      EntityResolution.Config(workDir = Some(d2))).integrated.count()
    def assertRefused(prior: String): Unit = {
      val ex = intercept[IllegalArgumentException] {
        EntityResolution.resolveIncremental(all.filter(slot === 4), prior,
          EntityResolution.Config(workDir = Some(d3))).integrated.count()
      }
      assert(ex.getMessage.contains("prior state incomplete / chain broken"), ex.getMessage)
    }
    // copies of the fold's state dir, one table removed each; their chain
    // manifests still name the intact files in d1/d2
    for (t <- Seq("raw_counts", "sizes2", "edges")) {
      val broken = Files.createTempDirectory(s"graft-refuse-$t").toFile
      FileUtils.copyDirectory(new File(d2), broken)
      FileUtils.deleteDirectory(new File(broken, s"$t.parquet"))
      assertRefused(broken.toString)
    }
    // the records chain's EARLIER file (in d1) lost its commit marker
    Files.delete(new File(d1, "records.parquet/_SUCCESS").toPath)
    assertRefused(d2)
  }

  test("re-crawl guard: a batch url already in prior state fails fast") {
    val all = graft.testgen.WebCorpus.pages(spark, 200).toDF()
    val d1 = Files.createTempDirectory("graft-rc1").toString
    val d2 = Files.createTempDirectory("graft-rc2").toString
    EntityResolution.resolve(all,
      EntityResolution.Config(workDir = Some(d1))).integrated.count()
    val ex = intercept[IllegalArgumentException] {
      EntityResolution.resolveIncremental(all.limit(3), d1,
        EntityResolution.Config(workDir = Some(d2))).integrated.count()
    }
    assert(ex.getMessage.contains("re-crawl"))
  }

  test("config guard: folding with a changed config fails fast (exactness is config-relative)") {
    val all = graft.testgen.WebCorpus.pages(spark, 200).toDF()
    val isNew = pmod(xxhash64(col("url")), lit(5)) === 4
    val d1 = Files.createTempDirectory("graft-cfg1").toString
    val d2 = Files.createTempDirectory("graft-cfg2").toString
    EntityResolution.resolve(all.filter(!isNew),
      EntityResolution.Config(workDir = Some(d1))).integrated.count()
    val changed = EntityResolution.Config(
      blocking = graft.blocking.Blocking.Config(snWindow = 7),
      workDir = Some(d2))
    val ex = intercept[IllegalArgumentException] {
      EntityResolution.resolveIncremental(all.filter(isNew), d1, changed)
        .integrated.count()
    }
    assert(ex.getMessage.contains("config changed"))
  }
}
