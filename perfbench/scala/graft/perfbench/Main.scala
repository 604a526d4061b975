package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{ExtQueries, SparkEntry, Tables}
import graft.etl.{ParquetWarehouseSink, Pipeline}
import graft.schemas.Schemas
import graft.sources.CsvIngest

/** JVM half of the benchmark (see perfbench/README.md).
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR --out DIR
  *
  * Sets up the workload, then runs repetitions in a closed loop (one
  * client thread; each call waits for its answer) until S seconds have
  * been measured, and writes `result.json` into DIR: per-operation
  * latencies, per-repetition wall, storage residency, host-stall and GC
  * seconds, the outcome of every in-JVM output check, and with
  * `--trace 1` the spans. Outputs whose reference is a DuckDB oracle are
  * dumped under `check/` for the Python side to compare.
  */
object Main {
  final case class Op(kind: String, name: String, rep: Int, ms: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val data = a("data")
    val out = a("out")
    val start = System.nanoTime()
    def log(msg: String): Unit =
      System.err.println(f"perfbench ${(System.nanoTime() - start) / 1e9}%.2fs $msg")
    val watchdog = new StallWatchdog
    watchdog.start()
    val spark = Tables.sessionDefaults.foldLeft(SparkSession.builder()
        .master("local[4]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "localhost")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/spark-warehouse"))(
        (b, kv) => b.config(kv._1, kv._2))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session up")
    val ctx = new Ctx(spark, new Tracer(spark.sparkContext, traced), seed, data, out)
    val w: Workload = workload match {
      case "etl_backfill" => new EtlBackfill(ctx)
      case "warehouse_analytics" => new WarehouseAnalytics(ctx)
      case "corpus_curation" => new CorpusCuration(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    val setupEnd = System.currentTimeMillis()
    log("setup done")
    val reps = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    // Closed loop: the next repetition starts when the previous one has
    // answered. A traced run alternates traced and untraced repetitions
    // so the tracing overhead is measured inside one JVM; it runs at
    // least five, since the first still carries warm-up effects and two
    // of each kind remain.
    var i = 0
    while (!w.exhausted && (i == 0 || (traced && i < 5) ||
        (System.nanoTime() - t0) / 1e9 < seconds)) {
      val tracedRep = traced && i % 2 == 0
      ctx.rep = i
      val stall0 = watchdog.stalledSeconds
      val gc0 = watchdog.gcSeconds
      val r0 = System.nanoTime()
      if (tracedRep) ctx.tracer.activate()
      w.rep(i)
      val wall = (System.nanoTime() - r0) / 1e9
      ctx.tracer.deactivate()
      reps += Map("wall_s" -> wall, "traced" -> tracedRep,
        "resident_mb" -> ctx.residentMb, "stall_s" -> (watchdog.stalledSeconds - stall0),
        "gc_s" -> (watchdog.gcSeconds - gc0))
      // Untimed: finished queries' shuffle files are only removed when
      // their dependencies are garbage collected.
      System.gc()
      log(f"rep $i $wall%.2fs")
      i += 1
    }
    w.finish()
    ctx.checker.dump(spark, s"$out/check")
    log("finished")
    val result = LinkedHashMap[String, Any](
      "workload" -> workload,
      "setup_end_epoch_ms" -> setupEnd,
      "reps" -> reps,
      "ops" -> ctx.ops.map(o => Map("kind" -> o.kind, "name" -> o.name, "rep" -> o.rep,
        "ms" -> o.ms, "ok" -> o.ok)),
      "errors" -> ctx.errors,
      "extra" -> w.extra)
    if (traced) result("trace") = ctx.tracer.trace
    Files.writeString(Paths.get(s"$out/result.json"), Json.write(result))
    spark.stop()
    watchdog.shutdown()
  }
}

/** What every workload shares: the session, the tracer, the op log and
  * the output checker. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val data: String, val out: String) {
  val ops = ArrayBuffer.empty[Main.Op]
  val errors = ArrayBuffer.empty[String]
  val checker = new Checker
  var rep = -1
  lazy val queries: Map[String, SparkEntry.Q] = SparkEntry.queries

  /** Drops what warm-up recorded. */
  def forget(): Unit = { ops.clear(); errors.clear(); checker.first.clear() }

  /** Storage memory held by the BlockManager, MB. */
  def residentMb: Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1e6

  /** Times `f` as one operation; an exception or a false check counts it
    * as failed. */
  def op(kind: String, name: String)(f: => Boolean): Unit = {
    val t0 = System.nanoTime()
    val ok = try f catch {
      case e: Throwable =>
        errors += s"$kind/$name: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
        false
    }
    ops += Main.Op(kind, name, rep, (System.nanoTime() - t0) / 1e6, ok)
  }

  /** One declared query, collected: a `queries` span around building
    * the frame, and around its execution a span of the `layer` module
    * that implements the operator, when it has one. */
  def query(s: SparkSession, dir: String, name: String, layer: Option[String]): Unit =
    op("query", name) {
      val (rows, schema) = tracer.span("queries", name) {
        val df = queries(name)(s, dir)
        val rows = layer.fold(df.collect())(l => tracer.span(l, name)(df.collect()))
        (rows, df.schema)
      }
      checker.check(name, rows, schema)
    }
}

/** Output checks. The first result of each declared query is kept and
  * later dumped as parquet with the query's DuckDB oracle; every later
  * result of the same query must equal the first exactly. */
final class Checker {
  val first = LinkedHashMap.empty[String, (Array[Row], StructType)]
  def check(name: String, rows: Array[Row], schema: StructType): Boolean =
    first.get(name) match {
      case None => first(name) = (rows, schema); true
      case Some((r0, _)) => r0.sameElements(rows)
    }
  def dump(spark: SparkSession, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    for ((name, (rows, schema)) <- first)
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name")
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      Json.write(first.keys.toSeq.flatMap(n => oracle.get(n).map(n -> _)).toMap))
  }
}

trait Workload {
  def setup(): Unit
  def rep(i: Int): Unit
  def exhausted: Boolean = false
  def finish(): Unit = ()
  def extra: Map[String, Any] = Map.empty
}

/** Nightly DAG backfill: [[Pipeline.run]] over consecutive days of the
  * raw CSV zone, [[CsvIngest]] in, [[ParquetWarehouseSink]] out through
  * the [[TimedSink]] decorator; ends with one replayed day. */
final class EtlBackfill(c: Ctx) extends Workload {
  private val DaysPerRep = 10
  private def days(file: String) = Files.readAllLines(Paths.get(s"${c.data}/raw/$file"))
    .asScala.map(LocalDate.parse).toIndexedSeq
  private val warmDays = days("warm.txt")
  private val window = days("days.txt")
  private var next = 0
  private val warehouse = s"${c.out}/warehouse"
  private val sink = new TimedSink(new ParquetWarehouseSink(warehouse), c.tracer)
  private val processed = ArrayBuffer.empty[(LocalDate, Long)]

  private def csv(zone: String, d: LocalDate, schema: StructType): DataFrame = {
    val path = s"${c.data}/raw/$zone/date=$d"
    c.tracer.span("sources", s"$zone:$d")(CsvIngest.read(c.spark, path, schema))
  }

  private def runDay(d: LocalDate, s: TimedSink): Long = {
    val sales = csv("pos_sales", d, Schemas.posSalesRaw)
    val open = csv("inventory", d.minusDays(1), Schemas.warehouseInventoryRaw)
    val close = csv("inventory", d, Schemas.warehouseInventoryRaw)
    s.beginDay()
    val res = try Pipeline.run(c.spark, sales, open, close, d, s) finally s.endDay()
    res.alert.map(_.count).getOrElse(0L)
  }

  override def setup(): Unit = {
    val warm = new TimedSink(new ParquetWarehouseSink(s"${c.out}/warm-warehouse"), c.tracer)
    warmDays.foreach(runDay(_, warm))
  }

  override def exhausted: Boolean = next >= window.size

  override def rep(i: Int): Unit =
    for (_ <- 0 until DaysPerRep if next < window.size) {
      val d = window(next)
      next += 1
      c.op("day", d.toString) {
        processed += d -> runDay(d, sink)
        true
      }
    }

  private def factRows(table: String): Long =
    c.spark.read.parquet(s"$warehouse/$table").count()

  override def finish(): Unit = {
    val d = processed(new scala.util.Random(c.seed).nextInt(processed.size))._1
    val tables = Seq("fact_daily_sales", "fact_inventory_reconciliation")
    val before = tables.map(factRows)
    c.op("replay", d.toString) {
      runDay(d, sink)
      val after = tables.map(factRows)
      if (before != after) c.errors += s"replay of $d changed fact rows $before -> $after"
      before == after
    }
  }

  override def extra: Map[String, Any] = Map(
    "warehouse" -> warehouse,
    "days" -> processed.map { case (d, n) => Map("day" -> d.toString, "alerts" -> n) })
}

/** Read-only ad-hoc query suite over the full lineitem, each pass in a
  * seed-chosen order. */
final class WarehouseAnalytics(c: Ctx) extends Workload {
  private val suite: Seq[(String, Option[String])] = Seq(
    "q3_shipping", "q5_local_volume", "q9_product_profit", "q18_large_orders",
    "q21_sole_late", "copurchase_rank", "rfm_segments", "multi_day_reconciliation",
  ).map(_ -> None) ++ Seq(
    "asof_nearest", "interval_join", "salted_rollup", "bloom_join",
  ).map(_ -> Some("ext.joins"))

  private def pass(dir: String, order: Seq[(String, Option[String])]): Unit =
    order.foreach { case (q, layer) => c.query(c.spark, dir, q, layer) }

  override def setup(): Unit = {
    // One unrecorded pass: compiles the suite's plans and fills the
    // session's co-purchase stores, as an analyst's session would have.
    pass(s"${c.data}/tables", suite)
    c.forget()
  }

  override def rep(i: Int): Unit =
    pass(s"${c.data}/tables", new scala.util.Random(c.seed * 1000 + i).shuffle(suite))
}

/** The LLM-corpus curation batch on COLD stores: every repetition runs on
  * a fresh session, so the session-keyed store cache misses and the
  * repetition pays every store build before its queries. */
final class CorpusCuration(c: Ctx) extends Workload {
  private def stores(s: SparkSession, dir: String): Seq[(String, () => DataFrame)] = {
    lazy val emb = Tables.embeddings(s, dir)
    Seq(
      "minhash_hr" -> (() => ExtQueries.minhashStore(s, dir)),
      "minhash_bands" -> (() => ExtQueries.minhashBandsStore(s, dir)),
      "shingle_sets" -> (() => ExtQueries.shingleSetsStore(s, dir)),
      "chargram_sets" -> (() => ExtQueries.chargramSetsStore(s, dir)),
      "chargram_bands" -> (() => ExtQueries.chargramBandsStore(s, dir)),
      "ivf_cells_scaled" -> (() => ExtQueries.scaledCellsStore(s, dir, emb)),
      "ivf_centroids_scaled" -> (() => ExtQueries.scaledCentroidsStore(s, dir, emb)))
  }
  private val suite: Seq[(String, Option[String])] = Seq(
    "near_dup_minhash" -> "ext.dedup", "dup_groups" -> "ext.dedup",
    "containment_near_dup" -> "ext.dedup", "ngram_jaccard" -> "ext.dedup",
    "quality_filter" -> "ext.corpus", "corpus_manifest" -> "ext.corpus",
    "tf_idf" -> "ext.corpus",
    "semantic_dedup_scaled" -> "ext.similarity", "knn_join_scaled" -> "ext.similarity",
  ).map { case (q, l) => q -> Some(l) }

  private def curate(dir: String, order: Seq[(String, Option[String])]): Unit = {
    val s = c.spark.newSession()
    for ((kind, build) <- stores(s, dir))
      c.op("store_build", kind) { c.tracer.span("store", kind)(build()); true }
    order.foreach { case (q, layer) => c.query(s, dir, q, layer) }
  }

  override def setup(): Unit = {
    // One unrecorded repetition (its own session, so the measured ones
    // still find every store cold): compiles the plans the measured
    // repetitions run.
    curate(s"${c.data}/tables", suite)
    c.forget()
  }

  override def rep(i: Int): Unit =
    curate(s"${c.data}/tables", new scala.util.Random(c.seed * 1000 + i).shuffle(suite))
}
