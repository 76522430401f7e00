package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The raw result file: every pass with its ops, phase walls and counters,
  * the per-layer metrics of the traced passes, and (traced runs) the span
  * file next to it. run.py derives the benchmark's metrics from this. */
object Report {

  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  private def nums(m: Map[String, Double]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def json(ctx: Main.Ctx, sessionReady: Double, setUp: Double, passes: Seq[Pass],
           w: Workload): String = {
    val traced = passes.filter(_.traced)
    val spans = Trace.all
    val self = Trace.selfTimes(spans)
    val layers = if (traced.isEmpty) Map.empty[String, Double]
                 else LayerMetrics.compute(traced, spans, w)
    val inTraced = traced.flatMap(p => Trace.descendants(spans, p.rootSpan))
    val selfByLayer = inTraced.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => self(s.id)).sum / traced.size }
    if (traced.nonEmpty) writeSpans(ctx.opts("spans"), spans, self)
    val rt = Runtime.getRuntime
    ctx.facts("nproc") = rt.availableProcessors().toString
    ctx.facts("session_width") = s"local[${ctx.cpus}]"
    ctx.facts("xmx_mb") = (rt.maxMemory() / (1024 * 1024)).toString
    ctx.facts("spark") = org.apache.spark.SPARK_VERSION
    obj(Seq(
      "workload" -> str(ctx.workload),
      "seed" -> ctx.seed.toString,
      "session_ready_s" -> num(sessionReady),
      "setup_s" -> num(setUp),
      "attempted" -> ctx.attempted.toString,
      "failures" -> arr(ctx.failures.toSeq.map(str)),
      "facts" -> obj(ctx.facts.toSeq.map { case (k, v) => k -> str(v) }),
      "peak_rss_mb" -> num(peakRssMb),
      "passes" -> arr(passes.map(p => obj(Seq(
        "index" -> p.index.toString, "traced" -> p.traced.toString,
        "wall_s" -> num(p.wall), "calib_s" -> num(p.calib), "calib_par_s" -> num(p.calibPar),
        "gc_s" -> num(p.gcSecs), "phases" -> nums(p.phases), "counters" -> nums(p.counters),
        "unexplained_s" -> num(if (p.traced) self.getOrElse(p.rootSpan, 0.0) else 0.0),
        "ops" -> arr(p.ops.map(o => obj(Seq("kind" -> str(o.kind), "name" -> str(o.name),
          "s" -> num(o.secs), "ok" -> o.ok.toString))))))).toSeq),
      "layers" -> nums(layers),
      "self_times" -> nums(selfByLayer)))
  }

  private def writeSpans(path: String, spans: Seq[Span], self: Map[Long, Double]): Unit = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    val lines = spans.sortBy(_.start).map(s => obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "layer" -> str(s.layer),
      "name" -> str(s.name), "start_s" -> num((s.start - t0) / 1e9), "dur_s" -> num(s.secs),
      "self_s" -> num(self.getOrElse(s.id, 0.0)), "counters" -> nums(s.counterMap))))
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Per-layer metrics of the traced passes, each a per-pass mean. Only the
  * layers the workload exercises are computed; run.py reads the others as
  * 0 (the predicted no-change pairs) and treats any other gap as an error. */
object LayerMetrics {
  val Layers = Seq("row_count", "partition_counts", "column_stats", "fingerprint", "row_sample")
  val Suites = Seq("core", "event", "dedup", "text", "parity")
  val QueryCounters = Seq("jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "shuffle_fetch_wait_s", "spill_bytes", "executor_cpu_s", "gc_s")

  def compute(traced: Seq[Pass], spans: Seq[Span], w: Workload): Map[String, Double] = {
    val n = traced.size.toDouble
    val kids = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    val inPasses: Seq[Span] = traced.flatMap(p => Trace.descendants(spans, p.rootSpan))
    def sumCounters(ss: Seq[Span], k: String): Double = ss.flatMap(subtree).map(_.counter(k)).sum
    def mean(k: String): Double = traced.map(_.counters.getOrElse(k, 0.0)).sum / n
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()

    // planner records, attributed by the time their planning started
    val windows = traced.map(p => (p.startNanos, p.endNanos))
    val records = w.plans.records.asScala.toSeq
      .filter(r => windows.exists { case (a, b) => r.startNanos >= a && r.startNanos <= b })
    out("sources.files_read") = records.map(_.filesRead).sum / n
    out("sources.scan_metadata_s") = records.map(_.scanMetadataSecs).sum / n

    def transfer(): Unit = {
      // decorator times plus the Spark work under the transfer phase
      Seq("write_s", "finish_s", "count_s", "chunks", "slowest_table_s", "worker_busy_ratio")
        .foreach(k => out(s"transfer.$k") = mean(s"transfer.$k"))
      val phases = inPasses.filter(s => s.layer == "phase" && s.name == "transfer")
      Seq("jobs", "tasks", "input_bytes", "output_bytes", "executor_cpu_s", "gc_s")
        .foreach(k => out(s"transfer.$k") = sumCounters(phases, k) / n)
    }

    w match {
      case _: MigratePg =>
        transfer()
        Seq("sessions", "open_s", "stream_s", "bytes", "rows_acked")
          .foreach(k => out(s"copy.$k") = mean(s"copy.$k"))
        Seq("wal_bytes", "checkpoints", "build_s").foreach(k => out(s"pg.$k") = mean(s"pg.$k"))
        out("pg.bytes_per_row") = traced.map { p =>
          val rows = p.counters.getOrElse("copy.rows_acked", 0.0)
          if (rows > 0) p.counters.getOrElse("pg.wal_bytes", 0.0) / rows else 0.0
        }.sum / n
        out("ddl.generate_s") = mean("ddl.generate_s")

      case _: MigrateVerify =>
        transfer()
        Seq("translate_s", "analyze_s", "views_failed")
          .foreach(k => out(s"dialect.$k") = mean(s"dialect.$k"))
        Layers.foreach { l =>
          val ss = inPasses.filter(_.layer == s"validate.$l")
          out(s"validate.${l}_s") = mean(s"validate.${l}_s")
          out(s"validate.${l}_jobs") = sumCounters(ss, "jobs") / n
          out(s"validate.${l}_input_bytes") = sumCounters(ss, "input_bytes") / n
        }
        // added once, after the passes, by the corruption check
        out("validate.corruption_missed") = Stats.snapshot("validate.corruption_missed")

      case q: QueryRoster =>
        val querySpans = inPasses.filter(_.layer == "query")
        val drainSpans = inPasses.filter(_.layer == "query.drain")
        def planWithin(s: Span): Double =
          records.filter(r => r.startNanos >= s.start && r.startNanos <= s.end).map(_.planSecs).sum
        Suites.foreach { su =>
          val qs = querySpans.filter(s => q.suiteOf.get(s.name).contains(su))
          val ds = drainSpans.filter(s => q.suiteOf.get(s.name).contains(su))
          out(s"queries.$su.build_s") = mean(s"queries.$su.build_s")
          out(s"queries.$su.plan_s") = qs.map(planWithin).sum / n
          out(s"queries.$su.exec_s") = ds.map(d => d.secs - planWithin(d)).sum / n
          QueryCounters.foreach(k => out(s"queries.$su.$k") = sumCounters(qs, k) / n)
        }
        val byWall = querySpans.sortBy(_.secs)
        val fast = byWall.take(math.max(1, byWall.size / 4))
        out("queries.fast_quartile_plan_share") =
          if (querySpans.isEmpty) 0.0 else fast.map(planWithin).sum / fast.map(_.secs).sum
    }

    out("host.calib_s") = median(traced.map(_.calib))
    out("host.calib_par_s") = median(traced.map(_.calibPar))
    out("jvm.gc_s") = traced.map(_.gcSecs).sum / n
    out.toMap
  }
}
