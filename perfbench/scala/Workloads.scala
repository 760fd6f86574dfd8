package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Graft, SparkEntry}
import graft.model.SeriesSelector
import graft.sources.{MetadataConfig, SourceConfig}

/** One timed operation as the client saw it. `error` is empty when the
  * op returned and its answer passed the in-process check.
  */
final case class Op(
    id: String,
    kind: String,
    client: Int,
    window: String,
    startUs: Long,
    endUs: Long,
    rows: Long,
    error: String,
    digest: String = "",
)

object Runner {

  /** One op: build the DataFrame through graft's public entry point,
    * bring the answer back to the client, check it. Traced ops record
    * a root span with `build`, `plan`, `execute` and `verify` children
    * and tag their Spark jobs with the op id.
    */
  def run(trace: Option[Trace], id: String, kind: String, client: Int, window: String)(
      build: => DataFrame
  )(check: Array[Row] => String): (Op, Array[Row], StructType) = {
    val start = Clock.nowUs
    var rows = Array.empty[Row]
    var schema = new StructType()
    val error =
      try
        trace match {
          case None =>
            val df = build
            schema = df.schema
            rows = df.collect()
            check(rows)
          case Some(t) =>
            val sc = t.spark.sparkContext
            val root = t.nextId()
            sc.setLocalProperty(Trace.OpKey, id)
            try
              t.span(id, "op", root, 0) {
                val df = t.span(id, "build", t.nextId(), root)(build)
                schema = df.schema
                t.span(id, "plan", t.nextId(), root)(df.queryExecution.executedPlan)
                rows = t.span(id, "execute", t.nextId(), root)(df.collect())
                val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
                t.notes.put(id, OpNotes(phases))
                t.span(id, "verify", t.nextId(), root)(check(rows))
              }
            finally sc.setLocalProperty(Trace.OpKey, null)
        }
      catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}" }
    (Op(id, kind, client, window, start, Clock.nowUs, rows.length, error), rows, schema)
  }

  /** A warm-up op that fails ends the run: its timings would mean nothing. */
  def failFast(op: Op): Op =
    if (op.error.isEmpty) op else throw new IllegalStateException(s"warm-up op ${op.id} failed: ${op.error}")

  /** Order-independent digest of an answer: SHA-256 over its sorted
    * row renderings.
    */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Kukur-style clients on one file source: a closed loop of `clients`
  * threads, each sending its next request when the previous answer is
  * back. The request mix, series popularity and windows come from the
  * seed; the program sees only the requests.
  */
final class TsServe(spark: SparkSession, in: Inputs, seed: Long) {
  import TsServe._

  val clients = 2
  private val graft = Graft(spark).registerSource(
    Source,
    sourceConfig(in("events_path")),
    Seq(MetadataConfig(path = in("meta_path"), tagColumns = Tags, fields = MetaFields)),
  )
  private val tsMin = in("ts_min_us").toLong / 1000000L
  private val tsMax = in("ts_max_us").toLong / 1000000L + 1

  /** The source's own series list, in a seed-chosen popularity order. */
  val series: IndexedSeq[(String, String)] = {
    val found = graft.search(Source).select(Tags.map(org.apache.spark.sql.functions.col): _*).collect()
    val sorted = found.map(r => (r.getString(0), r.getString(1))).sorted.toIndexedSeq
    new scala.util.Random(seed).shuffle(sorted)
  }
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(series.size)(r => 1.0 / math.pow(r + 1.0, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  /** Deterministic request stream for one client in one window. */
  final class Gen(client: Int, stream: String) {
    private val rng = new scala.util.Random(seed * 1000003L + client * 7919L + stream.hashCode)

    private def pickSeries(): (String, String) = {
      val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
      series(math.min(if (i >= 0) i else -i - 1, series.size - 1))
    }

    private def window(minSec: Long, maxSec: Long): (Long, Long) = {
      val len = math.exp(math.log(minSec.toDouble) + rng.nextDouble() * math.log(maxSec.toDouble / minSec)).toLong
      val end =
        if (rng.nextDouble() < LastDayShare) tsMax - (rng.nextDouble() * Day).toLong
        else tsMin + len + (rng.nextDouble() * math.max(1L, tsMax - tsMin - len)).toLong
      (end - len, end)
    }

    def next(): Req = {
      val u = rng.nextDouble()
      if (u < 0.60) { val (s, e) = window(Hour, 7 * Day); Req("get_data", pickSeries(), s, e) }
      else if (u < 0.85) { val (s, e) = window(7 * Day, 30 * Day); Req("plot_data", pickSeries(), s, e) }
      else if (u < 0.95) Req("search", ("", ""), 0, 0)
      else Req("metadata", pickSeries(), 0, 0)
    }
  }

  private def selector(r: Req) = SeriesSelector(Source, Map("series_name" -> r.series._1, "user_id" -> r.series._2))
  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  private def build(r: Req): DataFrame = r.kind match {
    case "get_data"  => graft.getData(Source, selector(r), ts(r.startSec), ts(r.endSec))
    case "plot_data" => graft.getPlotData(Source, selector(r), ts(r.startSec), ts(r.endSec), PlotBuckets)
    case "search"    => graft.search(Source)
    case "metadata"  => graft.getMetadata(Source, selector(r))
  }

  /** In-process check of every answer; every answer is also compared
    * exactly against DuckDB after the run.
    */
  private def check(r: Req)(rows: Array[Row]): String = {
    def tagsOk(row: Row) =
      row.getAs[Any]("series_name").toString == r.series._1 && row.getAs[Any]("user_id").toString == r.series._2
    def inRange(row: Row) = {
      val t = row.getAs[Timestamp]("ts").getTime / 1000L
      t >= r.startSec && t < r.endSec
    }
    r.kind match {
      case "get_data" =>
        if (rows.forall(row => tagsOk(row) && inRange(row))) "" else "get_data row outside selector or range"
      case "plot_data" =>
        val ok = rows.length <= 4 * PlotBuckets && rows.forall { row =>
          val b = row.getAs[Long]("bucket")
          tagsOk(row) && inRange(row) && b >= 0 && b < PlotBuckets
        }
        if (ok) "" else "plot_data row outside selector, range or bucket grid"
      case "search" =>
        if (rows.length == series.size) "" else s"search returned ${rows.length} series, expected ${series.size}"
      case "metadata" =>
        if (rows.length == 1 && tagsOk(rows(0))) "" else s"metadata returned ${rows.length} rows"
    }
  }

  /** Every answer outside the warm-up, kept in memory until the run ends. */
  val answers = new ConcurrentLinkedQueue[(String, Req, Array[Row])]()

  /** Closed loop: each client thread sends requests until the deadline
    * or, when `perClient` is set, until it has sent that many.
    */
  def window(name: String, seconds: Double, trace: Option[Trace], perClient: Int = Int.MaxValue, threads: Int = clients): Seq[Op] = {
    val ops = new ConcurrentLinkedQueue[Op]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val running = (0 until threads).map { c =>
      new Thread(() => {
        val gen = new Gen(c, name)
        var i = 0
        while (System.nanoTime() < deadline && i < perClient) {
          val r = gen.next()
          val (op, rows, _) = Runner.run(trace, s"$name-$c-$i", r.kind, c, name)(build(r))(check(r))
          ops.add(op)
          if (op.error.isEmpty && name != "warmup") answers.add((op.id, r, rows))
          i += 1
        }
      }, s"client-$c")
    }
    running.foreach(_.start())
    running.foreach(_.join())
    ops.asScala.toSeq
  }

  /** Untimed warm-up: twice as many threads as clients, a fixed number
    * of requests each, on their own request streams. The extra threads
    * use the cores two clients leave idle, so the JIT compiles the
    * request path sooner; with 12 requests for each of two clients the
    * first quarter of the timed window still ran slower than the rest.
    */
  def warmup(perThread: Int): Unit = window("warmup", 1e6, None, perThread, 2 * clients).foreach(Runner.failFast)

  /** The answers as JSON lines for the DuckDB check. */
  def answerJson: Seq[String] = answers.asScala.toSeq.map { case (id, r, rows) =>
    def us(t: Timestamp) = t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val answer: Json.V = r.kind match {
      case "get_data" =>
        Json.arr(rows.toSeq.map(row => Json.arr(Seq(Json.num(us(row.getAs[Timestamp]("ts"))), Json.num(row.getAs[Double]("value"))))))
      case "plot_data" =>
        Json.arr(rows.toSeq.map { row =>
          Json.arr(Seq(
            Json.num(row.getAs[Long]("bucket")),
            Json.str(row.getAs[String]("role")),
            Json.num(us(row.getAs[Timestamp]("ts"))),
            Json.num(row.getAs[Double]("value")),
          ))
        })
      case "search" =>
        Json.obj(Seq("series" -> Json.num(rows.length), "points" -> Json.num(rows.map(_.getAs[String]("point_count").toLong).sum)))
      case "metadata" =>
        val m = rows(0)
        Json.arr(Seq("point_count", "min_value", "max_value").map(f => Json.num(m.getAs[String](f).toDouble)))
    }
    Json.obj(Seq(
      "op" -> Json.str(id),
      "kind" -> Json.str(r.kind),
      "series_name" -> Json.str(r.series._1),
      "user_id" -> Json.str(r.series._2),
      "start_s" -> Json.num(r.startSec),
      "end_s" -> Json.num(r.endSec),
      "buckets" -> Json.num(PlotBuckets),
      "answer" -> answer,
    )).render
  }
}

final case class Req(kind: String, series: (String, String), startSec: Long, endSec: Long)

object TsServe {
  val Source = "events"
  val Tags = Seq("series_name", "user_id")
  val MetaFields = Seq("point_count", "min_value", "max_value", "mean_value", "min_ts", "max_ts")
  val PlotBuckets = 100
  val ZipfS = 1.0
  val LastDayShare = 0.7
  val Hour = 3600L
  val Day = 86400L

  /** The x10 events as a row-layout parquet source: one series per
    * (event_type, user_id).
    */
  def sourceConfig(path: String): SourceConfig = SourceConfig(
    path = path,
    fileFormat = "parquet",
    dataFormat = "row",
    tagColumns = Tags,
    columnMapping = Map("series_name" -> "event_type"),
  )
}

/** Batch composites from `SparkEntry.queries`, run in passes. Each pass
  * runs every composite once, in an order drawn from the seed.
  */
final class Batch(spark: SparkSession, names: Seq[String], dir: String, seed: Long) {
  private val rng = new scala.util.Random(seed)

  /** First timed answer of each composite, kept for the oracle check. */
  val firstAnswers = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]

  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def once(trace: Option[Trace], id: String, name: String, window: String): Op = {
    val (cg0, files0) = trace.fold((Trace.codegen(), 0L)) { t => t.drain(); (Trace.codegen(), t.listener.writtenFiles) }
    val (op, rows, schema) = Runner.run(trace, id, name, 0, window)(SparkEntry.queries(name)(spark, dir))(_ => "")
    val left = spark.sparkContext.getPersistentRDDs.size
    release()
    trace.foreach { t =>
      t.drain()
      val cg1 = Trace.codegen()
      val n = Option(t.notes.get(id)).getOrElse(OpNotes(Map.empty))
      t.notes.put(id, n.copy(
        codegenCompiles = cg1._1 - cg0._1,
        codegenNs = cg1._2 - cg0._2,
        filesWritten = t.listener.writtenFiles - files0,
        rddsLeft = left,
      ))
    }
    if (op.error.isEmpty && window != "warmup" && !firstAnswers.contains(name)) firstAnswers(name) = (rows, schema)
    op.copy(digest = if (op.error.isEmpty) Runner.digest(rows) else "")
  }

  /** Untimed warm-up: one pass, which also pays the JVM's first-use costs. */
  def warmup(): Unit = names.foreach(n => Runner.failFast(once(None, s"warmup-$n", n, "warmup")))

  /** Whole passes, while the window has not elapsed or fewer than
    * `minPasses` are done. Every composite of a window then has as many
    * samples. The first timed pass still runs 10-25 % slower than the
    * next while the JIT catches up; with three passes two of a
    * composite's samples are warm.
    */
  def window(name: String, seconds: Double, trace: Option[Trace], minPasses: Int = 1): (Seq[Op], Seq[Double]) = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val passes = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (passes.size < minPasses || System.nanoTime() < deadline) {
      val start = System.nanoTime()
      rng.shuffle(names).foreach(n => ops += once(trace, s"$name-${passes.size}-$n", n, name))
      passes += (System.nanoTime() - start) / 1e6
    }
    (ops.toSeq, passes.toSeq)
  }
}

object Batch {

  /** Whole passes an untraced timed window makes at least, so every
    * composite is timed three times.
    */
  val TimedPasses = 3
}
