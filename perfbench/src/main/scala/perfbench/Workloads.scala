package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.blocking.Blocking
import graft.catalog.{Catalog, QueryService}
import graft.cluster.{CheckpointStore, ConnectedComponents}
import graft.eval.Eval
import graft.ops.Dedup
import graft.pipeline.EntityResolution
import graft.pipeline.EntityResolution.Config
import graft.publish.Downstream

/**
 * The workloads. Every op is one closed-loop call from this single client;
 * the next op starts when the previous one has returned and been checked.
 *
 *  - resolve_full: op = `EntityResolution.resolve` of the seeded corpus plus
 *    the write of `Result.integrated`.
 *  - fold_chain: op = `resolveIncremental` of one ~1 % batch onto the
 *    previous fold's state plus the write of its `Result.integrated`.
 *
 * With `--trace 1` the run also replays ops through the layers' public
 * calls under spans, and ends with one pass of the C360 query mix
 * ([[c360Sweep]]).
 */
final class Workloads(spark: SparkSession, o: Main.Opts, tr: Tracer) {
  import spark.implicits._

  private val tiny = o.scale == "tiny"
  /** Entities of a seed's corpus: ~1.5 pages each, from two sources. */
  private val entities: Long = if (tiny) 400L else 2000L
  /** Pages per fold batch: 1 % of the corpus (5 % when tiny). */
  private val batchDocs = 30L
  private val catalogSf = if (tiny) 0.002 else 0.1

  private val work = o.work
  private val in = s"$work/in"
  private val lo = Inputs.firstEntity(o.seed)
  private var opSeq = 0

  // ---- results read by Report -------------------------------------------
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** Measured (untraced) ops: (wall s, docs, MB of the state dir the op wrote). */
  val ops = mutable.ArrayBuffer.empty[(Double, Long, Double)]
  var attempted = 0
  var failed = 0
  var checksOk = true
  var f1 = Double.NaN
  val notes = mutable.ArrayBuffer.empty[String]
  /** Layer metrics of the traced replay (name -> (value, unit)). */
  val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Rows the traced `catalog.execute` calls returned. */
  var catalogRows = 0L
  /** op kind -> (untraced wall, traced wall) of one op each, for the overhead line. */
  val overhead = mutable.LinkedHashMap.empty[String, (Double, Double)]

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Progress line on stderr, stamped with seconds since JVM start. */
  def phase(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs $msg")

  private def read(p: String): DataFrame = spark.read.parquet(p)
  private def write(df: DataFrame, p: String): Unit = df.write.mode("overwrite").parquet(p)
  private def nextOp(): Int = { opSeq += 1; opSeq }
  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  private def elapsedSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def cfg(dir: String): Config = Config(workDir = Some(dir))

  /** Order-insensitive digest of a frame: (rows, Σ xxhash64(row)). */
  def digest(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** (RecordId, InputSourceARN, MatchID) rows of an integrated table, sorted. */
  type Rows = IndexedSeq[(String, String, String)]

  /** The integrated table as the checks read it; `corrupt` alters the
    * MatchID of one record, the self-test's stand-in for a wrong result. */
  private def integratedRows(p: String, corrupt: Boolean = false): Rows = {
    val rows = read(p).select("RecordId", "InputSourceARN", "MatchID").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toIndexedSeq
    if (corrupt && rows.nonEmpty) rows.updated(0, rows(0).copy(_3 = rows(0)._3 + "#corrupt"))
    else rows
  }

  /** Pairwise F1 of the cross-source pairs a table's clusters imply against
    * every truth pair (a truth pair no blocking pass finds is a miss). */
  def pairwiseF1(rows: Rows, truth: Set[(String, String)]): Double = {
    val predicted = rows.groupBy(_._3).values.flatMap { c =>
      for (m <- c if m._2 == "main"; s <- c if s._2 == "sub") yield (m._1, s._1)
    }.toSet
    val tp = predicted.count(truth.contains)
    val precision = if (predicted.isEmpty) 1.0 else tp.toDouble / predicted.size
    val recall = if (truth.isEmpty) 1.0 else tp.toDouble / truth.size
    notes += s"pairwise F1: tp $tp, fp ${predicted.size - tp}, fn ${truth.size - tp}"
    if (precision + recall == 0) 0.0 else 2 * precision * recall / (precision + recall)
  }

  /** One row per input doc, and every MatchID is the smallest RecordId of
    * its cluster (how the integrated table defines it). */
  def wellFormed(rows: Rows, docs: Long): Boolean =
    rows.size == docs && rows.map(_._1).distinct.size == rows.size &&
      rows.groupBy(_._3).forall { case (m, c) => c.map(_._1).min == m }

  /** One op outcome: counts it and records the failure reason. */
  private def outcome(op: Int, ok: Boolean, why: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      notes += s"op $op failed: $why"
    }
  }

  /** resolve + integrated write: the unit of resolve_full ops and of set-up. */
  private def resolveOp(pages: DataFrame, dir: String): Unit = {
    val res = EntityResolution.resolve(pages, cfg(s"$dir/state"))
    write(res.integrated, s"$dir/integrated.parquet")
  }

  /** Rows, F1 and row count of the reference resolve; a failure fails every
    * op. A traced run also evaluates F1 through `Eval.pairwiseF1` (the
    * `eval` layer's span) and requires both to agree. */
  private def checkReference(p: String, truth: Set[(String, String)], docs: Long): Rows = {
    val rows = integratedRows(p)
    f1 = pairwiseF1(rows, truth)
    if (o.trace) {
      val labeled = truth.toSeq.toDF("main_url", "sub_url")
      val m = tr("eval.f1", 0)(Eval.pairwiseF1(
        EntityResolution.predictedPairs(read(p)), labeled, labeled))
      if (math.abs(m.f1 - f1) > 1e-12) {
        checksOk = false
        notes += s"Eval.pairwiseF1 ${m.f1} disagrees with the bench's F1 $f1"
      }
    }
    if (!(f1 >= 0.99 && wellFormed(rows, docs))) {
      checksOk = false
      notes += s"reference resolve failed its checks: f1 $f1, rows ${rows.size} vs docs $docs"
    }
    rows
  }

  // ======================================================================
  def resolveFull(): Unit = {
    phase("session up")
    Inputs.writePages(spark, lo, entities, s"$in/pages.parquet")
    val truth = Inputs.truthPairs(lo, entities)
    val pages = read(s"$in/pages.parquet")
    val docs = entities + truth.size // a main page per entity, a sub page per pair
    phase("inputs written")

    // set-up: one cold resolve warms the JIT and codegen caches and is the
    // reference every op's output must equal
    setupS += timed(resolveOp(pages, s"$work/setup"))._2
    val ref = checkReference(s"$work/setup/integrated.parquet", truth, docs)
    phase("set-up done")

    val t0 = System.nanoTime()
    var lastDir = ""
    // ops start while they fit in the window; a traced run measures one
    while (ops.isEmpty || (!o.trace &&
        elapsedSince(t0) + Report.median(ops.map(_._1).toSeq) <= o.seconds)) {
      val op = nextOp()
      val dir = s"$work/op$op"
      val (_, wall) = timed(resolveOp(pages, dir))
      val rows = integratedRows(s"$dir/integrated.parquet", o.corrupt && ops.isEmpty)
      outcome(op, checksOk && rows == ref,
        s"integrated table (${rows.size} rows, $docs docs) differs from the reference resolve")
      ops += ((wall, docs, Inputs.bytesUnder(s"$dir/state") / 1e6))
      if (lastDir.nonEmpty) Inputs.deleteTree(lastDir)
      lastDir = dir
      phase(f"resolve $op: $wall%.3f s")
    }

    if (o.trace) {
      val op = nextOp()
      val dir = s"$work/traced$op"
      overhead("resolve") = (ops.head._1, tracedResolve(pages, dir, op))
      outcome(op, integratedRows(s"$dir/integrated.parquet") == ref,
        "traced resolve replay differs from resolve")
      tracedKernels(pages)
      val batch = s"$in/extra.parquet"
      // ~1.5 pages per entity: a batch-sized set of new entities beyond the
      // corpus, folded onto the last op's state
      Inputs.writePages(spark, lo + entities, batchDocs * 2 / 3, batch)
      tracedFold(read(batch), s"$lastDir/state", s"$work/extra-fold", nextOp())
      published = s"$lastDir/integrated.parquet"
      publishedTruth = truth
    }
  }

  // ======================================================================
  def foldChain(): Unit = {
    phase("session up")
    // one measured fold per run; a traced run adds one traced fold. The
    // corpus is written once, split into base and batch directories; a
    // batch is the next `batchDocs` pages in seeded hash order, so every
    // seed folds the same number of docs.
    val batches = if (o.trace) 2 else 1
    val rank = row_number().over(Window.orderBy(xxhash64(col("url"), lit(o.seed)), col("url")))
    Inputs.pages(spark, lo, entities)
      .withColumn("part", when(rank > batches * batchDocs, lit("base"))
        .otherwise(concat(lit("batch"), ((rank - 1) / batchDocs).cast("int"))))
      .write.mode("overwrite").partitionBy("part").parquet(s"$in/pages.parquet")
    def part(name: String) = s"$in/pages.parquet/part=$name"
    val truth = Inputs.truthPairs(lo, entities)
    val all = read(s"$in/pages.parquet").drop("part")
    val docs = entities + truth.size // a main page per entity, a sub page per pair
    phase("inputs written")

    // set-up: the chain's base resolve (cold: it also warms the JIT and
    // codegen caches). A traced run first resolves the final corpus as the
    // chain's reference and replays the base resolve through the layers.
    val base = read(part("base"))
    val ref =
      if (o.trace) {
        resolveOp(all, s"$work/ref")
        tracedResolve(base, s"$work/fold0/state", nextOp())
        Some(checkReference(s"$work/ref/integrated.parquet", truth, docs))
      } else {
        setupS += timed(resolveOp(base, s"$work/fold0"))._2
        None
      }
    phase("set-up done")

    var folded = docs - batches * batchDocs
    var b = 0
    /** Folds batch `b` onto the state of fold `b`; returns (op, wall, dir). */
    def fold(traced: Boolean): (Int, Double, String) = {
      val op = nextOp()
      val dir = s"$work/fold${b + 1}"
      val batch = read(part(s"batch$b"))
      val prior = s"$work/fold$b/state"
      val wall =
        if (traced) tracedFold(batch, prior, dir, op)
        else timed {
          val res = EntityResolution.resolveIncremental(batch, prior, cfg(s"$dir/state"))
          write(res.integrated, s"$dir/integrated.parquet")
        }._2
      folded += batchDocs
      b += 1
      val n = integratedRows(s"$dir/integrated.parquet").size
      outcome(op, checksOk && n == folded, s"integrated rows $n after the fold, expected $folded")
      phase(f"fold $op: $wall%.3f s")
      (op, wall, dir)
    }

    val (_, wall, dir) = fold(traced = false)
    ops += ((wall, batchDocs, Inputs.bytesUnder(s"$dir/state") / 1e6))
    if (o.trace) {
      overhead("fold") = (ops.head._1, fold(traced = true)._2)
    }

    val finalInt = s"$work/fold$b/integrated.parquet"
    val rows = integratedRows(finalInt, o.corrupt)
    val ok = ref match {
      // the chain's result must equal the full resolve of the same corpus
      case Some(r) => rows == r
      case None =>
        f1 = pairwiseF1(rows, truth)
        f1 >= 0.99 && wellFormed(rows, docs)
    }
    if (!ok) {
      notes += s"fold chain result is wrong: f1 $f1, " +
        s"${if (ref.isDefined) "differs from a full resolve" else "or malformed"}"
      failed += 1 // the measured fold
      checksOk = false
    }

    if (o.trace) {
      tracedKernels(all)
      published = finalInt
      publishedTruth = truth
    }
  }

  // ======================================================================
  // Traced replays through the layers' public calls.

  /** A full resolve split at the points where `resolve` materializes. */
  def tracedResolve(pages: DataFrame, dir: String, op: Int): Double = {
    val c = Config(workDir = Some(dir))
    val b = c.blocking
    val store = new CheckpointStore(spark, s"$dir/checkpoints")
    val (_, wall) = timed(tr("op.resolve_full", op) {
      tr("pipeline.normalize", op) {
        write(EntityResolution.normalizeWithSig(pages, c)
          .select("id", "url", "source", "warc_ts", "lang", "title_norm",
            "domain_key", "sort_key", "sig", "tok", "n_tok"), s"$dir/records.parquet")
      }
      val records = read(s"$dir/records.parquet")
      tr("blocking.keys", op)(Blocking.writeBlockTables(records, dir, b))
      val keys = read(s"$dir/keys.parquet")
      tr("blocking.candidates", op) {
        write(Blocking.candidatePairs(keys)
          .union(Blocking.sortedNeighborhoodPairs(records, b)).distinct(), s"$dir/pairs.parquet")
      }
      val pairs = read(s"$dir/pairs.parquet")
      tr("pipeline.score", op) {
        write(EntityResolution.scorePairs(pairs, records, c).filter(col("score") >= c.tau),
          s"$dir/edges.parquet")
      }
      val edges = read(s"$dir/edges.parquet")
      tr("cluster.cc", op) {
        store.writeIteration(0, edges.select(col("main_id").as("src"),
          col("sub_id").as("dst"), col("score")), -1L, 0.0)
        write(ConnectedComponents.run(
          edges.select(col("main_id").as("src"), col("sub_id").as("dst")), Some(store)),
          s"$dir/components.parquet")
      }
      tr("pipeline.integrate", op) {
        write(EntityResolution.resumeFrom(pages, store.dir, c), s"$dir/integrated.parquet")
      }
    })
    // layer counts, computed outside the op's span
    tr("meta.resolve", op) {
      val records = read(s"$dir/records.parquet")
      val keys = read(s"$dir/keys.parquet")
      val pairs = read(s"$dir/pairs.parquet")
      val edges = read(s"$dir/edges.parquet")
      // iteration 0 is the edge snapshot; resumeFrom appends one confirming pass
      val iterations = store.metrics().agg(max("iteration")).head().getInt(0) - 1
      val main = keys.filter(col("source") === "main").select(col("block_key"))
      val sub = keys.filter(col("source") === "sub").select(col("block_key"))
      val raw = main.join(sub, "block_key").count() +
        Blocking.sortedNeighborhoodPairs(records, b).count()
      val distinctPairs = pairs.count()
      val sizes = read(s"$dir/sizes2.parquet").agg(coalesce(max("n"), lit(0L)),
        coalesce(sum(when(col("n") > b.maxBlock * 4L, col("n"))), lit(0L))).head()
      layerMetrics("blocking.pairs_raw") = (raw.toDouble, "count")
      layerMetrics("blocking.dedup_yield") = (distinctPairs.toDouble / math.max(1L, raw), "ratio")
      layerMetrics("blocking.max_block") = (sizes.getLong(0).toDouble, "count")
      layerMetrics("blocking.dropped_rows") = (sizes.getLong(1).toDouble, "count")
      layerMetrics("pipeline.score.edges_per_pair") =
        (edges.count().toDouble / math.max(1L, distinctPairs), "ratio")
      layerMetrics("cluster.iterations") = (iterations.toDouble, "count")
    }
    wall
  }

  /** One fold plus its integrated write, split into two spans. */
  def tracedFold(batch: DataFrame, prior: String, dir: String, op: Int): Double = {
    val (res, wall) = timed(tr("op.fold_chain", op) {
      val res = tr("pipeline.fold", op)(
        EntityResolution.resolveIncremental(batch, prior, cfg(s"$dir/state")))
      tr("pipeline.fold_integrate", op)(write(res.integrated, s"$dir/integrated.parquet"))
      res
    })
    tr("meta.fold", op) {
      val st = s"$dir/state"
      def mb(names: String*) = names.map(n => Inputs.bytesUnder(s"$st/$n")).sum / 1e6
      layerMetrics("fold.scored_pairs") = (res.scoredPairs.count().toDouble, "count")
      layerMetrics("fold.records_mb") = (mb("records_new.parquet"), "MB")
      layerMetrics("fold.keys_mb") =
        (mb("keys_delta.parquet", "keys_tombstones.parquet", "keys.parquet"), "MB")
      layerMetrics("fold.edges_mb") = (mb("edges.parquet"), "MB")
      layerMetrics("fold.components_mb") = (mb("components.parquet"), "MB")
    }
    wall
  }

  /** The `functions` kernels of normalize alone, into a no-op sink. */
  def tracedKernels(pages: DataFrame): Unit = {
    val c = Config()
    tr("functions.kernels", 0) {
      EntityResolution.normalizeWithSig(pages, c)
        .select("id", "text_norm", "sig", "tok", "n_tok")
        .write.format("noop").mode("overwrite").save()
    }
  }

  // ======================================================================
  /** Integrated table and truth the C360 sweep serves (set by the workload). */
  private var published = ""
  private var publishedTruth = Set.empty[(String, String)]

  /**
   * One traced pass of the C360 mix over `integrated_customer` (published
   * with `Downstream.publishAtomic`, registered with
   * `Catalog.registerPublished`) and the TPC-H-shaped catalog: SQL text
   * through `QueryService`, segmentation, near-duplicate search and one
   * re-publish. An untraced pass first sets each result's reference
   * (rows, digest); the traced pass must reproduce it.
   */
  def c360Sweep(): Unit = {
    phase("c360 sweep")
    val cat = s"$work/catalog"
    Inputs.writeCatalog(spark, o.seed, catalogSf, cat)
    for (t <- Seq("customer", "orders", "lineitem", "part")) {
      require(Catalog.tables.exists(_.name == t))
      read(s"$cat/$t.parquet").createOrReplaceTempView(t)
    }
    graft.functions.GraftFunctions.register(spark)
    val table = s"$work/published/integrated_customer"
    val integrated = read(published)
    Downstream.publishAtomic(integrated, table)
    Catalog.registerPublished(spark, "integrated_customer", table)
    val pagesTable = read(s"$in/pages.parquet")
    val truthPairs = publishedTruth.size.toLong
    val crossSource = integrated.groupBy("MatchID")
      .agg(countDistinct("InputSourceARN").as("n")).filter(col("n") === 2).count()

    val sqls = Seq(
      "sql_source_counts" ->
        """SELECT InputSourceARN, count(*) AS n FROM integrated_customer
          |GROUP BY InputSourceARN ORDER BY InputSourceARN""".stripMargin,
      "sql_cross_source" ->
        """SELECT count(*) AS n FROM (SELECT MatchID FROM integrated_customer
          |GROUP BY MatchID HAVING count(DISTINCT InputSourceARN) = 2) t""".stripMargin,
      "sql_q35" ->
        """SELECT c_mktsegment, count(*) AS n,
          |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS total
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |WHERE o_orderstatus = 'F' GROUP BY 1 ORDER BY 1""".stripMargin)

    var live = false // the reference pass runs outside spans
    def sp[A](name: String, op: Int)(body: => A): A = if (live) tr(name, op)(body) else body
    def rowsDigest(rows: Seq[org.apache.spark.sql.Row]): (Long, Int) =
      (rows.size.toLong, rows.map(_.toString).sorted.hashCode)
    def runSql(name: String, text: String, op: Int): (Long, Int) = {
      sp("catalog.plan", op)(QueryService.sql(spark, text).queryExecution.executedPlan)
      val r = sp("catalog.execute", op)(QueryService.execute(spark, text))
      if (live) catalogRows += r.inline.size
      if (name == "sql_cross_source") {
        val n = r.inline.head.getLong(0)
        // exact against the table itself; within the F1 >= 0.99 tolerance of the truth
        if (n != crossSource || math.abs(n - truthPairs) > truthPairs / 100) {
          checksOk = false
          notes += s"clusters spanning both sources: SQL $n, table $crossSource, truth pairs $truthPairs"
        }
      }
      rowsDigest(r.inline)
    }
    def segment(op: Int): (Long, Int) = sp("publish.segment", op) {
      val inter = Downstream.interactions(Inputs.purchases(pagesTable, o.seed, "main"),
        Inputs.purchases(pagesTable, o.seed, "sub"), spark.table("integrated_customer"))
      rowsDigest(Downstream.segmentTopN(inter, Seq("i1", "i2", "sub_i3"), numResults = 5)
        .collect().toSeq)
    }
    def dedup(op: Int): (Long, Int) = sp("ops.dedup", op) {
      val d = Dedup.minhashLsh(pagesTable.select(col("url").as("doc"), col("text")),
        "text", "doc", tau = 0.8)
      val (n, h) = digest(d, d.columns.toSeq)
      (n, h.hashCode)
    }
    def refresh(op: Int): (Long, Int) = sp("publish.refresh", op) {
      Downstream.publishAtomic(integrated, table)
      Catalog.registerPublished(spark, "integrated_customer", table)
      (Downstream.snapshots(table).size.toLong, 0)
    }
    val mix: Seq[(String, Int => (Long, Int))] =
      sqls.map { case (n, t) => n -> ((op: Int) => runSql(n, t, op)) } ++ Seq(
        "segment" -> (segment _), "dedup" -> (dedup _), "refresh" -> (refresh _))

    val expected = mix.map { case (n, f) => n -> f(0) }.toMap
    live = true
    val rng = new scala.util.Random(o.seed)
    for ((n, f) <- rng.shuffle(mix)) {
      val op = nextOp()
      val got = tr(s"op.c360.$n", op)(f(op))
      outcome(op, got == expected(n), s"$n returned $got, set-up value ${expected(n)}")
    }
  }
}
