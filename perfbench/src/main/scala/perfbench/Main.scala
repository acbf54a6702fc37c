package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
 * --trace <0|1> --work <dir> --out <dir> [--scale full|tiny]
 * [--corrupt-matchid]`.
 *
 * Runs one workload in one JVM at local[4] with one closed-loop client,
 * checks every output, and prints one JSON line last on stdout:
 * `{"correct", "attempted", "failed", "metrics"}`. Human-readable notes go
 * to stderr.
 */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, out: String, scale: String, corrupt: Boolean)

  /** System properties that reshape the measured program. */
  val PinnedProps = Seq("graft.fold.broadcast.max", "graft.keys.compact.len")

  val Cpus = 4

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val refused = refusals()
    if (refused.nonEmpty) {
      System.err.println(s"perfbench: refusing to run, unpinned program: ${refused.mkString(", ")}")
      sys.exit(2)
    }
    val spark = graft.GraftSession.create(Cpus, "perfbench")
    // the listener is tracing: untraced runs, which give the end-to-end metrics, go without
    val listener = new GroupListener
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext, System.nanoTime())
    val run = new Workloads(spark, o, tracer)
    run.phase("spark context up")
    val env = describe(spark, o)
    System.err.println(s"[perfbench] env ${Json.obj(env)}")
    try {
      o.workload match {
        case "resolve_full" => run.resolveFull()
        case "fold_chain" => run.foldChain()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (o.trace) run.c360Sweep()
    } finally spark.stop() // drains the listener bus: listener totals are final
    run.phase("stopped")
    val peakRssMb = vmHwmMb()
    val metrics =
      if (o.trace) Report.perLayer(run, tracer, listener, o, env)
      else Report.endToEnd(run, peakRssMb)
    run.notes.foreach(n => System.err.println(s"[perfbench] $n"))
    val line = Json.obj(Seq(
      "correct" -> (run.failed == 0 && run.checksOk),
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      }))))
    println(line)
  }

  def parse(args: Array[String]): Opts = {
    val m = mutable.Map("--scale" -> "full", "--trace" -> "0")
    var corrupt = false
    var i = 0
    while (i < args.length) {
      if (args(i) == "--corrupt-matchid") { corrupt = true; i += 1 }
      else { m(args(i)) = args(i + 1); i += 2 }
    }
    Opts(m("--workload"), m("--seed").toLong, m("--seconds").toDouble,
      m("--trace") == "1", m("--work"), m("--out"), m("--scale"), corrupt)
  }

  /** The benchmark pins SPARK_GRAFT_TMPFS=0 itself (shuffle files stay in
    * its own directory); every other engine switch must be unset. */
  def refusals(): Seq[String] =
    sys.env.keys.filter(k => k.startsWith("SPARK_GRAFT_") &&
      !(k == "SPARK_GRAFT_TMPFS" && sys.env(k) == "0")).toSeq.sorted ++
      PinnedProps.filter(sys.props.contains)

  def describe(spark: SparkSession, o: Opts): Seq[(String, Any)] = Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "master" -> spark.sparkContext.master,
    "spark_local_dir" -> spark.conf.getOption("spark.local.dir")
      .orElse(sys.props.get("spark.local.dir")).getOrElse(""),
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1L << 20),
    "jdk" -> System.getProperty("java.version"),
    "spark" -> spark.version,
    "source" -> sys.props.getOrElse("perfbench.source", "unknown"),
    "workload" -> o.workload,
    "seed" -> o.seed,
    "scale" -> o.scale)

  /** Peak resident set of this JVM, from /proc (0 where unavailable). */
  def vmHwmMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) 0.0
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

/** Minimal JSON writer for flat objects. */
object Json {
  final case class Raw(s: String)

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => value(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
