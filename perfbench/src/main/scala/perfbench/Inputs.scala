package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.testgen.WebCorpus

/** Seeded inputs. The engine sees only the parquet written here. */
object Inputs {

  /** First entity id of a seed's corpus: disjoint 10^7-wide ranges. */
  def firstEntity(seed: Long): Long = math.floorMod(seed, 100000L) * 10000000L

  /** `WebPage`'s columns, given explicitly: a case-class encoder would
    * initialize Scala reflection, seconds of start-up on every run. */
  val PageSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("warc_ts", TimestampType),
    StructField("html", BinaryType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType)))

  /** Web pages of entities [lo, lo + n). */
  def pages(spark: SparkSession, lo: Long, n: Long): DataFrame = {
    val d = WebCorpus.defaultDomains(n)
    val rows = spark.sparkContext.range(lo, lo + n, 1, Main.Cpus)
      .flatMap(i => WebCorpus.pagesOf(i, d))
      .map(p => Row(p.url, p.warc_ts, p.html, p.text, p.lang, p.source))
    spark.createDataFrame(rows, PageSchema)
  }

  def writePages(spark: SparkSession, lo: Long, n: Long, path: String): Unit =
    pages(spark, lo, n).write.mode("overwrite").parquet(path)

  /** Ground-truth (main_url, sub_url) pairs of entities [lo, lo + n). */
  def truthPairs(lo: Long, n: Long): Set[(String, String)] = {
    val d = WebCorpus.defaultDomains(n)
    (lo until lo + n).filter(WebCorpus.hasSub)
      .map(i => (WebCorpus.mainUrl(i, d), WebCorpus.subUrl(i, d))).toSet
  }

  /**
   * TPC-H-shaped C360 catalog at scale factor `sf` (sf 0.1: 15 k
   * customers, 150 k orders, 600 k line items, 20 k parts), seeded.
   */
  def writeCatalog(spark: SparkSession, seed: Long, sf: Double, dir: String): Unit = {
    val nCust = (150000 * sf).toLong.max(10L)
    val nOrd = nCust * 10
    val nPart = (200000 * sf).toLong.max(10L)
    def h(c: org.apache.spark.sql.Column, salt: Long) =
      pmod(xxhash64(c, lit(seed), lit(salt)), lit(1000000007L))
    val segments = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY").map(lit): _*)
    spark.range(1, nCust + 1).select(
        col("id").as("c_custkey"),
        concat(lit("Customer#"), col("id")).as("c_name"),
        element_at(segments, (h(col("id"), 1) % 5).cast("int") + 1).as("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    spark.range(1, nOrd + 1).select(
        col("id").as("o_orderkey"),
        (h(col("id"), 2) % nCust + 1).as("o_custkey"),
        ((h(col("id"), 3) % 50000000L) / 100.0).cast("decimal(12,2)").as("o_totalprice"),
        date_add(lit("1992-01-01").cast("date"), (h(col("id"), 4) % 2400).cast("int"))
          .as("o_orderdate"),
        element_at(array(lit("F"), lit("O"), lit("P")), (h(col("id"), 5) % 3).cast("int") + 1)
          .as("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.range(0, nOrd * 4).select(
        (col("id") / 4 + 1).cast("long").as("l_orderkey"),
        (h(col("id"), 6) % nPart + 1).as("l_partkey"),
        (h(col("id"), 7) % 1000 + 1).as("l_suppkey"),
        (h(col("id"), 8) % 50 + 1).cast("decimal(12,2)").as("l_quantity"),
        ((h(col("id"), 9) % 10000000L) / 100.0).cast("decimal(12,2)").as("l_extendedprice"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    spark.range(1, nPart + 1).select(
        col("id").as("p_partkey"),
        concat(lit("Brand#"), h(col("id"), 10) % 25).as("p_brand"),
        concat(lit("TYPE "), h(col("id"), 11) % 150).as("p_type"))
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
  }

  /** Purchases of one source: 1-4 per page, item ids from a 200-item set. */
  def purchases(pages: DataFrame, seed: Long, source: String): DataFrame =
    pages.filter(col("source") === source)
      .select(col("url").as("customer_id"),
        explode(sequence(lit(0L), pmod(xxhash64(col("url"), lit(seed)), lit(4L)))).as("k"))
      .select(col("customer_id"),
        concat(lit("i"), pmod(xxhash64(col("customer_id"), col("k"), lit(seed)), lit(200L)))
          .as("item_id"),
        (lit(1600000000L) + pmod(xxhash64(col("customer_id"), col("k")), lit(10000000L)))
          .cast("timestamp").as("purchase_date"))

  def bytesUnder(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(g => bytesUnder(g.getPath)).sum).getOrElse(0L)
  }

  def deleteTree(path: String): Unit = {
    val f = new File(path)
    Option(f.listFiles()).foreach(_.foreach(g => deleteTree(g.getPath)))
    f.delete()
  }
}
