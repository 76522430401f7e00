package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.transfer.{CopySession, CopySessionFactory, TableSink, TableSource}

/** Always-on additive counters, keyed by per-layer metric name. They cost
  * one hash lookup per call into a layer; [[Stats.snapshot]] is taken
  * after every pass and [[Stats.reset]] before the next. JVM-global so the
  * executor-side COPY decorator (deserialized in task threads of this
  * local-mode JVM) reaches the same counters. */
object Stats {
  private val m = new ConcurrentHashMap[String, DoubleAdder]()
  def add(k: String, v: Double): Unit = m.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def reset(): Unit = m.clear()
  def snapshot: Map[String, Double] = m.asScala.map { case (k, v) => k -> v.sum }.toMap

  /** Time `body`, add its seconds to `key`, and record it as a span. */
  def timed[T](key: String, layer: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try Trace.span(layer, name)(body)
    finally add(key, (System.nanoTime() - t0) / 1e9)
  }
}

/** Source decorator: one span per table read (the lazy scan set-up). */
final class TracedSource(inner: TableSource) extends TableSource {
  def read(spark: SparkSession, table: String): DataFrame =
    Trace.span("transfer.read", table)(inner.read(spark, table))
}

/** Sink decorator around whatever sink a workload transfers into: times
  * every write, chunk, finish and count call. `route` picks the inner sink
  * per table (the verify workload keeps a manifest keyed per table). */
final class TracedSink(route: String => TableSink) extends TableSink {
  def write(df: DataFrame, table: String): Unit =
    Stats.timed("transfer.write_s", "transfer.write", table)(route(table).write(df, table))

  override def writeChunk(df: DataFrame, table: String, firstChunk: Boolean): Unit = {
    Stats.add("transfer.chunks", 1)
    Stats.timed("transfer.write_s", "transfer.write", s"$table chunk")(
      route(table).writeChunk(df, table, firstChunk))
  }

  override def finish(spark: SparkSession, table: String): Unit =
    Stats.timed("transfer.finish_s", "transfer.finish", table)(route(table).finish(spark, table))

  override def countRows(spark: SparkSession, table: String): Option[Long] =
    Stats.timed("transfer.count_s", "transfer.count", table)(route(table).countRows(spark, table))
}

/** COPY-session decorator. Opened on executor threads, so its span parent
  * is the driver span whose job group the task carries. Counts sessions,
  * connect time, streaming time, characters streamed and rows the server
  * acknowledged. */
final class TracedCopyFactory(inner: CopySessionFactory) extends CopySessionFactory {
  def open(): CopySession = {
    val parent = Option(org.apache.spark.TaskContext.get())
      .flatMap(tc => Trace.ofGroup(tc.getLocalProperty("spark.jobGroup.id")))
    val t0 = System.nanoTime()
    val s = Trace.span("copy.open", "open", parent)(inner.open())
    Stats.add("copy.sessions", 1)
    Stats.add("copy.open_s", (System.nanoTime() - t0) / 1e9)
    new CopySession {
      def copyIn(sql: String, from: java.io.Reader): Long = {
        val counted = new CountingReader(from)
        val t1 = System.nanoTime()
        val rows = Trace.span("copy.stream", sql.split('"')(1), parent)(s.copyIn(sql, counted))
        Stats.add("copy.stream_s", (System.nanoTime() - t1) / 1e9)
        Stats.add("copy.bytes", counted.chars.toDouble)
        Stats.add("copy.rows_acked", rows.toDouble)
        rows
      }
      def close(): Unit = s.close()
    }
  }
}

final class CountingReader(in: java.io.Reader) extends java.io.Reader {
  var chars = 0L
  override def read(cbuf: Array[Char], off: Int, len: Int): Int = {
    val n = in.read(cbuf, off, len)
    if (n > 0) chars += n
    n
  }
  override def close(): Unit = in.close()
}
