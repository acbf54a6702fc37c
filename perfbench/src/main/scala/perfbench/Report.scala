package perfbench

import java.nio.file.{Files, Paths}

/** Turns a finished run into metrics, the span artifact and the layer table. */
object Report {

  type Metrics = Seq[(String, (Double, String))]

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def endToEnd(run: Workloads, peakRssMb: Double): Metrics = {
    val walls = run.ops.map(_._1).toSeq
    System.err.println(f"[perfbench] ${walls.size} ops, walls ${walls.map(w => f"$w%.3f").mkString(" ")} s; " +
      f"set-up units ${run.setupS.map(w => f"$w%.3f").mkString(" ")} s")
    Seq(
      "setup_s" -> (median(run.setupS.toSeq), "s"),
      "peak_rss_mb" -> (peakRssMb, "MB"),
      "op_s" -> (median(walls), "s"),
      "ops_per_s" -> (walls.size / walls.sum, "1/s"),
      "docs_per_s" -> (median(run.ops.map { case (w, d, _) => d / w }.toSeq), "1/s"),
      "state_mb_per_op" -> (median(run.ops.map(_._3).toSeq), "MB"),
      "pairwise_f1" -> (run.f1, "ratio"),
      "ok_ops_ratio" -> ((run.attempted - run.failed).toDouble / math.max(1, run.attempted), "ratio"))
  }

  private def fields(c: Cost, wall: Double): Seq[(String, Double, String)] = Seq(
    ("wall_s", wall, "s"),
    ("task_s", c.taskMs / 1000.0, "s"),
    ("gc_s", c.gcMs / 1000.0, "s"),
    ("shuffle_read_mb", c.shuffleRead / 1e6, "MB"),
    ("shuffle_write_mb", c.shuffleWrite / 1e6, "MB"),
    ("written_mb", c.written / 1e6, "MB"),
    ("jobs", c.jobs.toDouble, "count"),
    ("stages", c.stages.toDouble, "count"))

  /** Spans that time a layer's public call (not the op wrappers or the
    * bookkeeping that computes layer counts). */
  def isLayerSpan(s: Span): Boolean = !s.name.startsWith("op.") && !s.name.startsWith("meta.")

  def perLayer(run: Workloads, tr: Tracer, l: GroupListener, o: Main.Opts,
               env: Seq[(String, Any)]): Metrics = {
    val spans = tr.spans.sortBy(_.id).toSeq
    val out = Paths.get(o.out)
    Files.createDirectories(out)
    val tag = s"${o.workload}-seed${o.seed}"

    // span artifact: one JSON object per line, env header first
    val lines = Json.obj(Seq("env" -> Json.Raw(Json.obj(env)))) +: spans.map { s =>
      val c = l.of(s.group)
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_s" -> (s.startNs - tr.t0) / 1e9, "end_s" -> (s.endNs - tr.t0) / 1e9,
        "self_s" -> tr.selfS(s)) ++ fields(c, s.wallS).map(f => f._1 -> f._2))
    }
    Files.writeString(out.resolve(s"spans-$tag.jsonl"), lines.mkString("", "\n", "\n"))

    // per-layer table: self time and own Spark work of every span in the layer
    val table = new StringBuilder
    table ++= f"${"layer"}%-10s ${"self_s"}%9s ${"task_s"}%9s ${"gc_s"}%7s ${"shuf_r_mb"}%10s " +
      f"${"shuf_w_mb"}%10s ${"written_mb"}%10s ${"jobs"}%6s ${"stages"}%6s\n"
    for ((layer, ss) <- spans.groupBy(_.layer).toSeq.sortBy(_._1)) {
      val c = new Cost
      ss.foreach(s => c.add(l.of(s.group)))
      table ++= f"$layer%-10s ${ss.map(tr.selfS).sum}%9.3f ${c.taskMs / 1000.0}%9.3f " +
        f"${c.gcMs / 1000.0}%7.3f ${c.shuffleRead / 1e6}%10.3f ${c.shuffleWrite / 1e6}%10.3f " +
        f"${c.written / 1e6}%10.3f ${c.jobs}%6d ${c.stages}%6d\n"
    }
    val spanTask = spans.map(s => l.of(s.group).taskMs).sum / 1000.0
    val total = l.total.taskMs / 1000.0
    table ++= f"span task-s sum $spanTask%.3f s, listener total $total%.3f s " +
      f"(outside spans: ${total - spanTask}%.3f s: inputs, set-up, checks)\n"
    for ((kind, (u, t)) <- run.overhead) {
      table ++= f"tracing overhead $kind: traced $t%.3f s - untraced $u%.3f s = ${t - u}%.3f s " +
        f"(${100 * (t - u) / u}%.1f %%)\n"
    }
    Files.writeString(out.resolve(s"layers-$tag.txt"), table.toString)
    System.err.print(table.toString)

    val perSpan = spans.filter(isLayerSpan).groupBy(_.name).toSeq.sortBy(_._1).flatMap {
      case (name, ss) =>
        val per = ss.map(s => fields(l.of(s.group), s.wallS))
        per.head.indices.map { i =>
          s"$name.${per.head(i)._1}" -> (median(per.map(_(i)._2)), per.head(i)._3)
        }
    }
    val catalogRead = spans.filter(_.name == "catalog.execute").map(s => l.of(s.group).inputBytes).sum
    val all = perSpan ++ run.layerMetrics.toSeq :+ ("catalog.bytes_read_per_row_returned" ->
      (catalogRead.toDouble / math.max(1L, run.catalogRows), "B/row"))
    // every per-layer metric; BENCHMARK.json names the subset the result line carries
    Files.writeString(out.resolve(s"metrics-$tag.json"), Json.obj(all.map { case (k, (v, u)) =>
      k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
    }) + "\n")
    all
  }
}
