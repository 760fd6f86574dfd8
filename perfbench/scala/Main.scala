package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.operators.TimeSeriesOps
import graft.sources.ConfiguredSource
import graft.tools.ScaleGen

/** Minimal JSON writer for the result files. */
object Json {
  sealed trait V { def render: String }
  private final case class Raw(render: String) extends V
  def num(x: Double): V = Raw(if (x.isNaN || x.isInfinite) "null" else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString else x.toString)
  def num(x: Long): V = Raw(x.toString)
  def str(s: String): V = Raw(s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }.mkString("\"", "", "\""))
  def arr(xs: Seq[V]): V = Raw(xs.map(_.render).mkString("[", ",", "]"))
  def obj(kv: Seq[(String, V)]): V = Raw(kv.map { case (k, v) => str(k).render + ":" + v.render }.mkString("{", ",", "}"))
}

/** Prepared inputs, as recorded by the `prep` step. */
final class Inputs(dir: String) {
  private val props = {
    val p = new java.util.Properties()
    val r = Files.newBufferedReader(Paths.get(dir, "inputs.properties"))
    try p.load(r) finally r.close()
    p
  }
  def apply(key: String): String =
    Option(props.getProperty(key)).getOrElse(throw new IllegalStateException(s"inputs.properties lacks $key"))
}

/** Benchmark JVM. Two modes:
  *
  *   prep --data <dir> --inputs <dir>
  *     one-time input generation (never timed): the x10 events through
  *     `ScaleGen.ensureEvents`, the metadata sidecar from
  *     `TimeSeriesOps.metadataAgg`, the corpus slices, and the sizes of
  *     every input.
  *
  *   run --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --inputs <dir> --data <dir> --out <dir> --cores <n>
  *     set-up and warm-up, the untraced timed window, and with
  *     `--trace 1` a traced window and another untraced one, each half
  *     as long. Writes `result.json`
  *     (and `spans.jsonl`, `layers.jsonl` when traced) under `--out`.
  */
object Main {
  val Curate = Seq("pipeline_clean_corpus", "pipeline_train_export", "text_quality_lr", "corpus_shard_export")

  /** The batch workload keeps the sf0.1 docs with doc_id below this:
    * a fifth of the corpus, so a run fits a warm-up pass and three
    * timed ones
    * (see perfbench/README.md, Scope).
    */
  val BatchDocs = 1000

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opts.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = session(cores, opts("local"))
    try args(0) match {
      case "prep" => prep(spark, opts("data"), opts("inputs"))
      case "run"  => run(spark, opts, cores)
    }
    finally spark.stop()
  }

  private def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$localDir/spark")
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftOptimizations.install(spark)
    spark
  }

  private def dirBytes(p: String): (Long, Long) = {
    val files = Files.walk(Paths.get(p)).iterator().asScala.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") && !f.getFileName.toString.startsWith("_")).toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }

  private def prep(spark: SparkSession, data: String, inputs: String): Unit = {
    val props = new java.util.Properties()
    def size(key: String, path: String, df: DataFrame): Unit = {
      val (files, bytes) = dirBytes(path)
      props.setProperty(s"${key}_rows", df.count().toString)
      props.setProperty(s"${key}_files", files.toString)
      props.setProperty(s"${key}_bytes", bytes.toString)
    }

    val events = s"${ScaleGen.ensureEvents(spark, data, 10, s"$inputs/scale")}/events.parquet"
    val canonical = new ConfiguredSource(TsServe.sourceConfig(events)).read(spark)
    val meta = s"$inputs/events_meta.csv"
    TimeSeriesOps
      .metadataAgg(canonical, TsServe.Tags)
      .select((TsServe.Tags ++ TsServe.MetaFields).map(col): _*)
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(meta)
    val range = canonical.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).first()
    props.setProperty("events_path", events)
    props.setProperty("meta_path", meta)
    props.setProperty("ts_min_us", range.getLong(0).toString)
    props.setProperty("ts_max_us", range.getLong(1).toString)
    size("events", events, canonical)
    props.setProperty("events_series", canonical.select(TsServe.Tags.map(col): _*).distinct().count().toString)
    size("events_meta", meta, spark.read.option("header", "true").csv(meta))

    // the batch workload: the first BatchDocs sf0.1 documents
    val docs = s"$inputs/docs_$BatchDocs"
    Tables.documents(spark, data).where(col("doc_id") < BatchDocs)
      .coalesce(1).write.mode("overwrite").parquet(s"$docs/documents.parquet")
    props.setProperty("batch_dir", docs)
    size("batch_docs", s"$docs/documents.parquet", Tables.documents(spark, docs))
    val w = Files.newBufferedWriter(Paths.get(inputs, "inputs.properties"))
    try props.store(w, "perfbench inputs") finally w.close()
  }

  private def loadAvg1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  private def stealJiffies(): Long =
    try Files.readString(Paths.get("/proc/stat")).linesIterator.next().trim.split("\\s+")(8).toLong
    catch { case _: Exception => -1L }

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def vmHwmKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  private def opJson(o: Op): Json.V = Json.obj(Seq(
    "id" -> Json.str(o.id), "kind" -> Json.str(o.kind), "client" -> Json.num(o.client.toLong),
    "window" -> Json.str(o.window), "start_us" -> Json.num(o.startUs), "end_us" -> Json.num(o.endUs),
    "rows" -> Json.num(o.rows), "error" -> Json.str(o.error), "digest" -> Json.str(o.digest),
  ))

  private def run(spark: SparkSession, opts: Map[String, String], cores: Int): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val out = Paths.get(opts("out"))
    val in = new Inputs(opts("inputs"))
    val load0 = loadAvg1()
    val steal0 = stealJiffies()
    val gc0 = gcSeconds()

    // set-up: source registration (ts_serve) and warm-up
    val (serve, batch) = workload match {
      case "ts_serve" =>
        val s = new TsServe(spark, in, seed)
        s.warmup(perThread = 10)
        (Some(s), None)
      case "curate_export" =>
        val b = new Batch(spark, Curate, in("batch_dir"), seed)
        b.warmup()
        (None, Some(b))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val readyMs = System.currentTimeMillis()

    // a traced run has three windows; each gets half the time so the run
    // stays well inside its time limit
    val length = if (traced) seconds / 2 else seconds
    val minPasses = if (traced) 1 else Batch.TimedPasses
    def window(name: String, trace: Option[Trace]): (Seq[Op], Seq[Double]) =
      serve.map(s => (s.window(name, length, trace), Nil)).getOrElse(batch.get.window(name, length, trace, minPasses))
    val cg0 = Trace.codegen()
    val (ops, passes) = window("timed", None)
    val cg1 = Trace.codegen()
    val trace = if (traced) Some(new Trace(spark)) else None
    val (tOps, tPasses) = trace.fold((Seq.empty[Op], Seq.empty[Double]))(t => window("traced", Some(t)))
    val cg2 = Trace.codegen()
    trace.foreach(_.stop())
    // a second untraced window after the traced one, so the overhead
    // estimate brackets the drift of a still-warming JVM
    val (aOps, aPasses) = if (traced) window("after", None) else (Seq.empty[Op], Seq.empty[Double])
    val endMs = System.currentTimeMillis()

    // answers for the checks made after the run
    Files.createDirectories(out)
    serve.foreach(s => Files.write(out.resolve("answers.jsonl"), s.answerJson.asJava))
    batch.foreach { b =>
      b.firstAnswers.foreach { case (name, (rows, schema)) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.mode("overwrite").parquet(out.resolve(s"answer/$name").toString)
      }
      // the DuckDB oracles of this build, so the checks never use a stale one
      val oracle = Curate.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> Json.str(_)))
      Files.writeString(out.resolve("oracle_sql.json"), Json.obj(oracle).render)
    }
    trace.foreach(t => Report.write(t, tOps, out, cores))

    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> Json.num(seed),
      "cores" -> Json.num(cores.toLong),
      "clients" -> Json.num(serve.map(_.clients).getOrElse(1).toLong),
      "jvm_start_ms" -> Json.num(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime),
      "ready_ms" -> Json.num(readyMs),
      "end_ms" -> Json.num(endMs),
      "seconds" -> Json.num(seconds),
      "passes_ms" -> Json.arr(passes.map(Json.num)),
      "traced_passes_ms" -> Json.arr(tPasses.map(Json.num)),
      "after_passes_ms" -> Json.arr(aPasses.map(Json.num)),
      "codegen" -> Json.obj(Seq(
        "timed_compiles" -> Json.num(cg1._1 - cg0._1), "timed_ns" -> Json.num(cg1._2 - cg0._2),
        "traced_compiles" -> Json.num(cg2._1 - cg1._1), "traced_ns" -> Json.num(cg2._2 - cg1._2),
      )),
      "stamps" -> Json.obj(Seq(
        "loadavg1_start" -> Json.num(load0), "loadavg1_end" -> Json.num(loadAvg1()),
        "steal_jiffies" -> Json.num(stealJiffies() - steal0), "gc_s" -> Json.num(gcSeconds() - gc0),
        "nproc" -> Json.num(Runtime.getRuntime.availableProcessors.toLong),
      )),
      "vm_hwm_kb" -> Json.num(vmHwmKb()),
      "ops" -> Json.arr((ops ++ tOps ++ aOps).map(opJson)),
    ))
    Files.writeString(out.resolve("result.json"), result.render)
  }
}
