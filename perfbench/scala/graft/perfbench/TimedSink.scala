package graft.perfbench

import java.io.File
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.WarehouseSink

/** Timing decorator on the public [[WarehouseSink]] trait: the only view
  * the benchmark has into one [[graft.etl.Pipeline.run]] day.
  *
  * Every sink call is an `etl.sink` span. Because the pipeline's frames
  * are lazy, each step's work runs inside the sink call that consumes
  * it, so the DAG steps are spans BETWEEN sink calls, opened and closed
  * at the boundaries the pipeline's fixed call order gives:
  *
  *   [[beginDay]] .. loadFact(fact_daily_sales)              etl.stage
  *   .. loadDim(dim_products)                                 etl.dim
  *   .. loadFact(fact_inventory_reconciliation)               etl.reconcile
  *   .. [[endDay]] (alert read-back and collect)              etl.alert
  *
  * A step span's self time is its planning and other work on the calling
  * thread; the jobs it triggers are attributed to its `etl.sink` child.
  */
final class TimedSink(inner: WarehouseSink, tracer: Tracer) extends WarehouseSink {
  private val order = Map(
    "fact_daily_sales" -> "etl.dim",
    "dim_products" -> "etl.reconcile",
    "fact_inventory_reconciliation" -> "etl.alert")
  private var step: Option[Tracer.Span] = None

  def beginDay(): Unit = step = Some(tracer.begin("etl.stage", "stage"))
  def endDay(): Unit = { step.foreach(tracer.close); step = None }

  private def advance(table: String): Unit =
    order.get(table).foreach { next =>
      step.foreach(tracer.close)
      step = Some(tracer.begin(next, next.stripPrefix("etl.")))
    }

  /** Bytes and parquet files under `dir`, recorded on the sink span. */
  private def recordOutput(span: Tracer.Span, dir: String): Unit = {
    lazy val files = Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    tracer.count(span, "output_bytes", files.map(_.length).sum.toDouble)
    tracer.count(span, "files_written", files.size.toDouble)
  }

  override def location(table: String): String = inner.location(table)

  override def loadFact(df: DataFrame, table: String, date: LocalDate): Unit = {
    val s = tracer.begin("etl.sink", s"loadFact:$table")
    try inner.loadFact(df, table, date) finally tracer.close(s)
    recordOutput(s, s"${inner.location(table)}/date_key=$date")
    advance(table)
  }

  override def loadDim(df: DataFrame, table: String): Unit = {
    val s = tracer.begin("etl.sink", s"loadDim:$table")
    try inner.loadDim(df, table) finally tracer.close(s)
    recordOutput(s, inner.location(table))
    advance(table)
  }

  override def read(spark: SparkSession, table: String): DataFrame =
    tracer.span("etl.sink", s"read:$table")(inner.read(spark, table))
}
