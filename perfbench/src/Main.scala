package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.sys.process._
import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Measure, SparkEntry}
import graft.ddl.DdlGenerator
import graft.dialect.SnowflakeDialect
import graft.meta.TableMeta
import graft.queries._
import graft.sources.Tables
import graft.transfer._
import graft.validate.{CheckResult, Validator}

/** One timed operation of a pass: a table transfer, a schema build, a
  * validation layer, a view or a query. */
final case class Op(kind: String, name: String, secs: Double, ok: Boolean)

/** One closed-loop pass. `phases` holds the workload's phase walls
  * (transfer, validate, ...); `counters` the [[Stats]] snapshot. */
final case class Pass(index: Int, traced: Boolean, wall: Double, calib: Double,
                      calibPar: Double, gcSecs: Double, ops: Seq[Op],
                      phases: Map[String, Double], counters: Map[String, Double],
                      startNanos: Long, endNanos: Long, rootSpan: Long)

/** The benchmark's JVM side. Run by `perfbench/run.py`, which generates
  * the inputs, owns the PostgreSQL cluster and turns the raw result file
  * this writes into the benchmark's metrics.
  *
  * Arguments are `key=value`: workload, data, work, seconds, trace
  * (untraced | split), seed, cpus, out (raw result file), spans (span
  * file of a traced run) and pg (socket dir:port, or none) for
  * migrate_pg. With `trace=split` the first half of the measured time runs
  * untraced and the second half traced, so one invocation yields both the
  * per-layer numbers and the tracing overhead. */
object Main {

  final class Ctx(val spark: SparkSession, val opts: Map[String, String]) {
    val workload: String = opts("workload")
    val data: String = opts("data")
    val work: String = opts("work")
    val seed: Long = opts("seed").toLong
    val cpus: Int = opts("cpus").toInt
    val seconds: Double = opts("seconds").toDouble
    val traceSplit: Boolean = opts.getOrElse("trace", "untraced") == "split"
    val failures = ArrayBuffer[String]()
    var attempted = 0L
    val facts = scala.collection.mutable.LinkedHashMap[String, String]()
    def fail(what: String): Unit = synchronized { failures += what }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = opts("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.init(spark.sparkContext)
    val ctx = new Ctx(spark, opts)
    val sessionReady = (System.currentTimeMillis() - jvmStart) / 1e3
    val result = Try {
      val w: Workload = ctx.workload match {
        case "migrate_pg"     => new MigratePg(ctx)
        case "migrate_verify" => new MigrateVerify(ctx)
        case "query_roster"   => new QueryRoster(ctx)
        case other            => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val t0 = System.nanoTime()
      w.setUp()
      val setUp = (System.nanoTime() - t0) / 1e9
      val passes = w.measure()
      w.checkOnce()
      (setUp, passes, w)
    }
    val out = opts("out")
    result match {
      case Success((setUp, passes, w)) =>
        Files.write(Paths.get(out),
          Report.json(ctx, sessionReady, setUp, passes, w).getBytes(UTF_8))
        spark.stop()
      case Failure(e) =>
        e.printStackTrace()
        spark.stop()
        sys.exit(3)
    }
  }
}

/** A workload: untimed set-up, closed-loop passes for the run's seconds,
  * then the once-per-invocation output checks. */
abstract class Workload(val ctx: Main.Ctx) {
  import ctx._
  def setUp(): Unit
  /** Run one pass (index -1: the warm pass of set-up); return its ops and
    * phase walls. Untimed after-pass checks are the pass's own business. */
  protected def pass(index: Int): (Seq[Op], Map[String, Double])
  def checkOnce(): Unit = ()

  private def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray(Array.empty[java.lang.management.GarbageCollectorMXBean])
      .map(_.getCollectionTime).filter(_ >= 0).sum

  val counters = new SpanCounters
  val plans = new PlanRecorder

  /** Closed-loop passes until `seconds` have gone by. A traced run
    * alternates untraced and traced passes (at least one of each), so the
    * tracing overhead is measured without a warm-up bias; the listeners
    * are attached only around traced passes. */
  def measure(): Seq[Pass] = {
    val passes = ArrayBuffer[Pass]()
    val t0 = System.nanoTime()
    while (passes.size < (if (traceSplit) 2 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = traceSplit && passes.size % 2 == 1
      val calib = Measure.calibSecs()
      val calibPar = Measure.calibParallelSecs()
      Stats.reset()
      if (traced) {
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(plans)
        Trace.enabled = true
      }
      val gc0 = gcMillis
      val p0 = System.nanoTime()
      var root = 0L
      val (ops, phases) = Trace.span("pass", s"pass ${passes.size}") {
        root = Trace.currentSpan.map(_.id).getOrElse(0L)
        pass(passes.size)
      }
      val p1 = System.nanoTime()
      if (traced) {
        Trace.enabled = false
        org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(counters)
        spark.listenerManager.unregister(plans)
      }
      // the workload's timed part; after-pass checks are not in it
      val wall = phases.getOrElse("wall", (p1 - p0) / 1e9)
      passes += Pass(passes.size, traced, wall, calib, calibPar,
        (gcMillis - gc0) / 1e3, ops, phases, Stats.snapshot, p0, p1, root)
    }
    passes.toSeq
  }

  /** Record an op; a failed op also lands in the failure list. */
  protected def op(kind: String, name: String, secs: Double, ok: Boolean,
                   why: => String = ""): Op = {
    if (counting) {
      ctx.synchronized(ctx.attempted += 1)
      if (!ok) ctx.fail(s"$kind $name${if (why.nonEmpty) s": $why" else ""}"
        .linesIterator.mkString(" ").take(400))
    }
    Op(kind, name, secs, ok)
  }

  /** Off during the untimed warm pass of set-up. */
  protected var counting = true
  protected def warmPass(): Unit = { counting = false; try pass(-1) finally counting = true }

  protected def timedOp(kind: String, name: String, layer: String)(
      body: => Boolean): Op = {
    val t0 = System.nanoTime()
    val r = Try(Trace.span(layer, name)(body))
    val secs = (System.nanoTime() - t0) / 1e9
    op(kind, name, secs, r.getOrElse(false),
      r.failed.map(Workload.cause).getOrElse("wrong result"))
  }

  protected def phase[T](name: String, phases: scala.collection.mutable.Map[String, Double])(
      body: => T): T = {
    val t0 = System.nanoTime()
    try Trace.span("phase", name)(body)
    finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  protected def table(name: String): DataFrame = spark.read.parquet(s"$data/$name.parquet")

  protected def transferOps(stats: Seq[TransferStats], expected: Map[String, Long]): Seq[Op] =
    stats.map { s =>
      Stats.add("transfer.rows", s.rowsTransferred.toDouble)
      val exp = expected.get(s.tableName)
      val ok = s.success && exp.forall(_ == s.rowsTransferred)
      op("transfer", s.tableName, s.transferTimeSec, ok,
        s.errorMessage.getOrElse(s"rows ${s.rowsTransferred} != ${exp.getOrElse(-1L)}"))
    }

  /** Per-pass wall of the slowest table and the table workers' busy share. */
  protected def transferShape(stats: Seq[TransferStats], wall: Double, workers: Int): Map[String, Double] =
    Map("transfer.slowest_table_s" -> stats.map(_.transferTimeSec).maxOption.getOrElse(0.0),
      "transfer.worker_busy_ratio" ->
        (if (wall > 0) stats.map(_.transferTimeSec).sum / (workers * wall) else 0.0))
}

object Workload {
  /** A generator per (seed, purpose): `new Random(seed)` alone gives
    * nearly the same first draw for neighbouring seeds. */
  def random(seed: Long, purpose: String): Random =
    new Random(scala.util.hashing.MurmurHash3.stringHash(s"$seed/$purpose").toLong)

  /** The whole cause chain of a failure, one line. */
  def cause(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}")
      .mkString(" <- ").linesIterator.mkString(" ").take(400)

  val ScalarTables = Seq("region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "events", "documents")
  val AllTables: Seq[String] = ScalarTables :+ "embeddings"
}

/** The paper's headline path: build the schema in PostgreSQL, then COPY
  * the nine scalar tables in over the wire protocol, `workers = cpus`. */
final class MigratePg(c: Main.Ctx) extends Workload(c) {
  import ctx._
  private val (sockDir, port) = opts.get("pg").filter(_ != "none")
    .map(_.split(':')).map(a => (a(0), a(1).toInt)).getOrElse(("", 0))
  private val tables = Workload.ScalarTables
  private var expected: Map[String, Seq[String]] = Map.empty
  private var counts: Map[String, Long] = Map.empty
  private var checkSql = ""

  def psql(sql: String): Either[String, String] = {
    if (port == 0) return Left("no PostgreSQL cluster")
    val out = new StringBuilder
    val err = new StringBuilder
    val code = Try(Process(Seq("psql", "-h", sockDir, "-p", port.toString, "-U", "postgres",
      "-d", "postgres", "-X", "-q", "-A", "-t", "-v", "ON_ERROR_STOP=1", "-f", "-"),
      new File(work)).#<(new java.io.ByteArrayInputStream(sql.getBytes(UTF_8)))
      .!(ProcessLogger(l => out.append(l).append('\n'), l => err.append(l).append('\n'))))
      .getOrElse(-1)
    if (code == 0) Right(out.toString.trim) else Left(s"psql exit $code: ${err.toString.trim.take(300)}")
  }

  /** count(*), per-column NULL counts and sums of integral key columns. */
  private def checkExprs(df: DataFrame): Seq[(String, String)] =
    Seq("count(*)" -> "count(*)") ++
      df.schema.fields.map(f => s"""count(*) - count("${f.name}")""" ->
        s"count(*) - count(`${f.name}`)") ++
      df.schema.fields.filter(f => (f.dataType == LongType || f.dataType == IntegerType) &&
        (f.name.endsWith("key") || f.name.endsWith("_id")))
        .map(f => s"""sum("${f.name}")""" -> s"sum(`${f.name}`)")

  def setUp(): Unit = {
    facts("pg") = psql("SELECT version()").fold(identity, identity)
    Seq("fsync", "synchronous_commit", "wal_level", "full_page_writes", "shared_buffers",
      "max_wal_size").foreach(k => facts(s"pg.$k") = psql(s"SHOW $k").fold(identity, identity))
    expected = tables.map { t =>
      val df = table(t)
      val row = df.selectExpr(checkExprs(df).map(_._2): _*).head()
      t -> row.toSeq.map(v => if (v == null) "" else v.toString)
    }.toMap
    counts = expected.map { case (t, v) => t -> v.head.toLong }
    checkSql = tables.map { t =>
      s"""SELECT ${checkExprs(table(t)).map(_._1).mkString(", ")} FROM "$t";"""
    }.mkString("\n")
    // warm the COPY path and the DDL round trip once, untimed
    warmPass()
  }

  /** WAL position (bytes) and checkpoint count of the server. */
  private def pgStats(): (Double, Double) = Trace.span("untimed", "pg stats") {
    psql("SELECT pg_current_wal_lsn() - '0/0'::pg_lsn, checkpoints_timed + checkpoints_req " +
      "FROM pg_stat_bgwriter").toOption.map(_.split('|').map(_.toDouble)) match {
      case Some(Array(w, c)) => (w, c)
      case _                 => (0.0, 0.0)
    }
  }

  protected def pass(index: Int): (Seq[Op], Map[String, Double]) = {
    val phases = scala.collection.mutable.Map[String, Double]()
    val (wal0, ck0) = pgStats()
    val t0 = System.nanoTime()
    val build = phase("build", phases) {
      val ddl = Stats.timed("ddl.generate_s", "ddl", "generate") {
        DdlGenerator.generateSchemaDdl("public",
          tables.map(t => TableMeta.fromDataFrame(t, "public", table(t))))
      }
      val script = "DROP SCHEMA IF EXISTS public CASCADE;\n" + ddl.mkString(";\n") + ";\n"
      val b0 = System.nanoTime()
      val r = Trace.span("pg", "build")(psql(script))
      Stats.add("pg.build_s", (System.nanoTime() - b0) / 1e9)
      op("build", "schema", (System.nanoTime() - t0) / 1e9, r.isRight, r.swap.getOrElse(""))
    }
    val stats = phase("transfer", phases) {
      val factory = new TracedCopyFactory(new PgWireCopySessionFactory(
        sockDir, port, "postgres", "postgres", sslMode = "disable"))
      val sink = new CopyManagerSink(factory)
      new TransferEngine(new TracedSource(new ParquetSource(data)), new TracedSink(_ => sink))
        .transferSchema(spark, tables, workers = cpus)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val ops = if (index < 0) Nil else build +: transferOps(stats, counts)
    if (index >= 0) {
      val (wal1, ck1) = pgStats()
      Stats.add("pg.wal_bytes", wal1 - wal0)
      Stats.add("pg.checkpoints", ck1 - ck0)
      transferShape(stats, phases("transfer"), cpus).foreach { case (k, v) => Stats.add(k, v) }
      verify()
    }
    phases("wall") = wall
    (ops, phases.toMap)
  }

  /** Untimed: what PostgreSQL holds must match the source, table by table
    * (one psql round trip for all tables). */
  private def verify(): Unit = Trace.span("untimed", "check postgres") {
    val got = psql(checkSql).map(_.linesIterator.toSeq)
    tables.zipWithIndex.foreach { case (t, i) =>
      val row = got.toOption.flatMap(_.lift(i)).map(_.split('|').toSeq)
      op("check", t, 0.0, row.contains(expected(t)), got.fold(identity,
        _ => s"postgres ${row.getOrElse(Nil).mkString(",")} != source ${expected(t).mkString(",")}"))
    }
  }
}

/** `migrate --verify --row-sample` shape, parquet to parquet: chunked and
  * manifest-maintained transfer of all ten tables, view translation,
  * five-layer validation of the dated tables. */
final class MigrateVerify(c: Main.Ctx) extends Workload(c) {
  import ctx._
  private val chunkKeys = Map("lineitem" -> "l_orderkey", "orders" -> "o_orderkey")
  private var counts: Map[String, Long] = Map.empty
  private val dst = s"$work/target"
  private val views = Views.generate(seed)

  def setUp(): Unit = {
    counts = Workload.AllTables.map(t => t -> table(t).count()).toMap
    Files.write(Paths.get(s"$work/views.sql"), views.getBytes(UTF_8))
    warmPass()
  }

  protected def pass(index: Int): (Seq[Op], Map[String, Double]) = {
    val phases = scala.collection.mutable.Map[String, Double]()
    Trace.span("untimed", "clean target")(org.apache.commons.io.FileUtils.deleteQuietly(new File(dst)))
    val t0 = System.nanoTime()
    val stats = phase("transfer", phases) {
      val cpFile = s"$work/checkpoint.json"
      Files.deleteIfExists(Paths.get(cpFile))
      val sinks = Workload.AllTables.map { t =>
        t -> new ParquetSink(dst, manifestKeys = chunkKeys.get(t).map(Seq(_)))
      }.toMap
      new TransferEngine(new TracedSource(new ParquetSource(data)), new TracedSink(sinks),
        checkpoint = Some(new CheckpointManager(cpFile, data, dst)),
        chunkColumns = chunkKeys, chunkCount = 8)
        .transferSchema(spark, Workload.AllTables, workers = cpus)
    }
    val viewOps = phase("views", phases)(buildViews())
    val layerOps = phase("validate", phases)(MigrateVerify.Validated.flatMap(validate))
    val wall = (System.nanoTime() - t0) / 1e9
    if (index >= 0)
      transferShape(stats, phases("transfer"), cpus).foreach { case (k, v) => Stats.add(k, v) }
    phases("wall") = wall
    if (index < 0) (Nil, phases.toMap)
    else (transferOps(stats, counts) ++ viewOps ++ layerOps, phases.toMap)
  }

  /** The build-views step: translate each seeded Snowflake view and
    * register it over the migrated tables. */
  private def buildViews(): Seq[Op] = {
    Tables.registerAll(spark, dst)
    Views.split(views).map { case (name, body) =>
      val t0 = System.nanoTime()
      val r = Try {
        val sql = Stats.timed("dialect.translate_s", "dialect.translate", name)(
          SnowflakeDialect.translate(body))
        Stats.timed("dialect.analyze_s", "dialect.analyze", name)(
          spark.sql(sql).createOrReplaceTempView(name))
      }
      if (r.isFailure) Stats.add("dialect.views_failed", 1)
      op("view", name, (System.nanoTime() - t0) / 1e9, r.isSuccess,
        r.failed.map(Workload.cause).getOrElse(""))
    }
  }

  private def validate(t: String): Seq[Op] = {
    val src = Tables.loadRaw(spark, data, t)
    val v = new Validator(src, Tables.loadRaw(spark, dst, t))
    val date = Validator.detectDateColumn(src)
    def layer(l: String)(check: => CheckResult): Op =
      timedOp("validate", s"$t $l", s"validate.$l") {
        val t0 = System.nanoTime()
        try check.passed.contains(true)
        finally Stats.add(s"validate.${l}_s", (System.nanoTime() - t0) / 1e9)
      }
    Seq(layer("row_count")(v.checkRowCount())) ++
      date.map(d => layer("partition_counts")(v.checkPartitionCounts(d))).toSeq ++
      Seq(layer("column_stats")(v.checkColumnStats().head)) ++
      date.map(d => layer("fingerprint")(v.checkAggregateFingerprint(d))).toSeq ++
      Seq(layer("row_sample")(v.checkRowSample(MigrateVerify.PrimaryKeys(t))))
  }

  /** One seeded corruption of the migrated copy; the matching layer must
    * catch it. Outside the timed passes. */
  override def checkOnce(): Unit = {
    val rnd = Workload.random(seed, "corruption")
    val t = Seq("lineitem", "orders")(rnd.nextInt(2))
    val key = chunkKeys(t)
    val src = Tables.loadRaw(spark, data, t)
    val tgt = Tables.loadRaw(spark, dst, t)
    val date = Validator.detectDateColumn(src).get
    val (kind, caught) = rnd.nextInt(3) match {
      case 0 =>
        val Array(lo, hi) = tgt.agg(min(key), max(key)).head().toSeq.map(_.toString.toLong).toArray
        val width = (hi - lo + 8) / 8
        val k = rnd.nextInt(8)
        val cut = tgt.filter(!(col(key) >= lo + k * width && col(key) < lo + (k + 1) * width))
        ("dropped chunk", !new Validator(src, cut).checkRowCount().passed.contains(true))
      case 1 =>
        val num = if (t == "lineitem") "l_extendedprice" else "o_totalprice"
        val day = tgt.select(to_date(col(date))).orderBy(rand(seed)).head().getDate(0)
        val scaled = tgt.withColumn(num,
          when(to_date(col(date)) === lit(day), col(num) * 1.5).otherwise(col(num)))
        ("scaled numeric column",
          !new Validator(src, scaled).checkAggregateFingerprint(date).passed.contains(true))
      case _ =>
        val pk = MigrateVerify.PrimaryKeys(t)
        val victim = tgt.orderBy(pk.map(col): _*).limit(100).orderBy(rand(seed)).head()
        val field = if (t == "lineitem") "l_quantity" else "o_orderpriority"
        val hit = pk.map(k => col(k) === lit(victim.getAs[Any](k))).reduce(_ && _)
        val changed = tgt.withColumn(field,
          when(hit, if (t == "lineitem") col(field) + 1 else lit("0-CHANGED")).otherwise(col(field)))
        ("changed non-key field",
          !new Validator(src, changed).checkRowSample(pk).passed.contains(true))
    }
    facts("corruption") = s"$kind in $t"
    Stats.add("validate.corruption_missed", if (caught) 0 else 1)
    op("corruption", s"$kind in $t", 0.0, caught, "the matching layer passed the corrupted copy")
  }
}

object MigrateVerify {
  /** The tables with a date column, the only ones all five layers apply to
    * (the others skip partition counts and fingerprints). Validating just
    * these keeps a pass inside the benchmark's run length. */
  val Validated = Seq("lineitem", "orders", "events")
  val PrimaryKeys: Map[String, Seq[String]] = Map("lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "orders" -> Seq("o_orderkey"), "events" -> Seq("event_id"))
}

/** A fixed subset of `SparkEntry.queries`, noop-drained in seed-shuffled
  * order; caches cleared between queries. Set-up dumps every result once
  * (the warm pass) for the DuckDB oracle check run.py does afterwards. */
final class QueryRoster(c: Main.Ctx) extends Workload(c) {
  import ctx._
  val roster: Seq[String] = QueryRoster.Default
  private val fns = SparkEntry.queries
  val suiteOf: Map[String, String] = Seq(
    "core" -> CoreQueries.defs, "event" -> EventQueries.defs, "dedup" -> DedupQueries.defs,
    "text" -> TextQueries.defs, "parity" -> ParityQueries.defs)
    .flatMap { case (s, d) => d.keys.map(_ -> s) }.toMap
  private def clear(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def setUp(): Unit = {
    val missing = roster.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val dump = s"$work/verify"
    roster.foreach { q =>
      // no coalesce(1): it would run the whole query in one task
      val r = Try(fns(q)(spark, data).write.mode("overwrite").parquet(s"$dump/$q"))
      r.failed.foreach(e => facts(s"dump_failed.$q") = Workload.cause(e))
      clear()
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => roster.contains(k) }
    Files.write(Paths.get(s"$dump/oracle_sql.json"), Report.obj(oracles.toSeq.map {
      case (k, v) => k -> Report.str(v) }).getBytes(UTF_8))
  }

  protected def pass(index: Int): (Seq[Op], Map[String, Double]) = {
    val order = Workload.random(seed, s"order $index").shuffle(roster)
    val t0 = System.nanoTime()
    val ops = order.map { q =>
      val q0 = System.nanoTime()
      val r = Try(Trace.span("query", q) {
        val df = Trace.span("query.build", q)(fns(q)(spark, data))
        val q1 = System.nanoTime()
        Trace.span("query.drain", q)(Measure.drain(df))
        q1
      })
      val q2 = System.nanoTime()
      r.foreach(q1 => Stats.add(s"queries.${suiteOf(q)}.build_s", (q1 - q0) / 1e9))
      Trace.span("untimed", "clear caches")(clear())
      op("query", q, (q2 - q0) / 1e9, r.isSuccess, r.failed.map(Workload.cause).getOrElse(""))
    }
    (ops, Map("queries" -> (System.nanoTime() - t0) / 1e9, "wall" -> (System.nanoTime() - t0) / 1e9))
  }
}

object QueryRoster {
  /** Fixed, stratified by suite; see perfbench/README.md for how it was
    * picked. */
  val Default: Seq[String] = Seq(
    // the median-wall query of each suite on the repository fixture
    "q12_set_intersect", "q19_sessionize", "q179_source_semantics", "q138_token_budget_plan",
    "q37_rollup",
    // the slowest query of the whole roster there, the dedup PageRank loop
    "q113_knn_pagerank",
    // manifest planner rules: the stats answer and the join prune
    "q190_manifest_stats", "q197_manifest_join_prune_read")
}

/** The seeded Snowflake views file of the migrate_verify workload. */
object Views {
  private val templates: Seq[Random => String] = Seq(
    r => s"SELECT o_orderkey, IFF(o_totalprice > ${10000 + r.nextInt(400000)}, 'big', 'small') AS size FROM MYDB.PUBLIC.ORDERS",
    r => s"SELECT c_custkey, NVL(c_mktsegment, 'NONE') AS seg, IFNULL(c_acctbal, 0) AS bal FROM customer WHERE c_nationkey = ${r.nextInt(25)}",
    r => s"SELECT l_orderkey, DATEDIFF('day', l_shipdate, TO_DATE('2002-0${1 + r.nextInt(9)}-01')) AS age FROM lineitem",
    r => s"SELECT p_partkey, p_retailprice::NUMBER AS price, p_size::VARCHAR AS size FROM part WHERE p_size > ${r.nextInt(50)}",
    r => s"SELECT user_id, event_type, value FROM events QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) <= ${1 + r.nextInt(5)}",
    r => s"SELECT event_id, props:k::NUMBER AS k FROM events WHERE value > ${r.nextInt(100)}",
    r => s"SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS q FROM \"DB\".\"S\".\"LINEITEM\" WHERE l_discount < 0.0${1 + r.nextInt(9)} GROUP BY l_returnflag",
    r => s"SELECT s_suppkey, IFF(s_acctbal < ${r.nextInt(5000)}, NVL(s_name, 'x'), 'rich') AS tag FROM supplier",
    r => s"SELECT o.o_orderkey, c.c_name FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE o.o_orderdate >= TO_DATE('199${5 + r.nextInt(5)}-01-01')",
    r => s"SELECT doc_id, lang FROM documents QUALIFY RANK() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) <= ${1 + r.nextInt(10)}")

  def generate(seed: Long): String = {
    val r = Workload.random(seed, "views")
    r.shuffle(templates.indices.toList).zipWithIndex.map { case (t, i) =>
      s"-- view: v_${i}_$t\n${templates(t)(r)};\n"
    }.mkString("\n")
  }

  def split(file: String): Seq[(String, String)] = {
    val head = "(?m)^-- view: (.+)$".r
    val hs = head.findAllMatchIn(file).toVector
    hs.zipWithIndex.map { case (m, i) =>
      val end = if (i + 1 < hs.length) hs(i + 1).start else file.length
      m.group(1).trim -> file.substring(m.end, end).trim.stripSuffix(";")
    }
  }
}
