package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Turns a traced window into two files: `spans.jsonl` (every span,
  * plus each Spark job as a `spark_job` child of its op) and
  * `layers.jsonl` (one record per op: span times, Catalyst phases,
  * Spark counters, and the op's time split into layer self times).
  */
object Report {

  /** Length of the union of `intervals` clipped to [lo, hi], in ms. */
  private def coveredMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total / 1000.0
  }

  def write(t: Trace, ops: Seq[Op], out: Path, cores: Int): Unit = {
    val byOp = t.spansOf
    val spanLines = Seq.newBuilder[String]
    val layerLines = Seq.newBuilder[String]
    ops.foreach { o =>
      val spans = byOp.getOrElse(o.id, Nil)
      def named(n: String) = spans.find(_.name == n)
      def ms(n: String) = named(n).map(_.ms).getOrElse(0.0)
      val c = t.listener.forOp(o.id)
      // Spark reports job times in epoch ms; spans are epoch µs
      val jobsUs = c.jobSpans.toSeq.map { case (a, b) => (a * 1000L, b * 1000L) }
      val root = named("op")
      root.foreach { r =>
        jobsUs.foreach { case (a, b) =>
          spanLines += Json.obj(Seq(
            "id" -> Json.num(t.nextId()), "parent" -> Json.num(r.id), "op" -> Json.str(o.id),
            "name" -> Json.str("spark_job"), "start_us" -> Json.num(a), "end_us" -> Json.num(b),
          )).render
        }
      }
      spans.foreach { s =>
        spanLines += Json.obj(Seq(
          "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "op" -> Json.str(s.op),
          "name" -> Json.str(s.name), "start_us" -> Json.num(s.startUs), "end_us" -> Json.num(s.endUs),
        )).render
      }
      val notes = Option(t.notes.get(o.id)).getOrElse(OpNotes(Map.empty))
      val phase = (p: String) => notes.phasesMs.getOrElse(p, 0L).toDouble
      val build = named("build")
      val eagerJobs = build.map(b => jobsUs.count { case (a, _) => a >= b.startUs && a <= b.endUs }).getOrElse(0)
      val eagerMs = build.map(b => coveredMs(jobsUs, b.startUs, b.endUs)).getOrElse(0.0)
      val jobMs = root.map(r => coveredMs(jobsUs, r.startUs, r.endUs)).getOrElse(0.0)
      val rootMs = ms("op")
      val taskS = c.taskMs / 1000.0
      val plans = phase("analysis") + phase("optimization") + phase("planning")
      val mb = (b: Long) => Json.num(b / 1048576.0)
      layerLines += Json.obj(Seq(
        "op" -> Json.str(o.id), "kind" -> Json.str(o.kind), "ok" -> Json.str(if (o.error.isEmpty) "yes" else "no"),
        "rows_returned" -> Json.num(o.rows),
        "root_ms" -> Json.num(rootMs), "build_ms" -> Json.num(ms("build")), "plan_span_ms" -> Json.num(ms("plan")),
        "execute_ms" -> Json.num(ms("execute")), "verify_ms" -> Json.num(ms("verify")),
        "analysis_ms" -> Json.num(phase("analysis")), "optimization_ms" -> Json.num(phase("optimization")),
        "planning_ms" -> Json.num(phase("planning")), "plan_ms" -> Json.num(plans),
        "build_jobs" -> Json.num(eagerJobs.toLong), "build_job_ms" -> Json.num(eagerMs), "job_ms" -> Json.num(jobMs),
        "jobs" -> Json.num(c.jobs), "stages" -> Json.num(c.stages), "tasks" -> Json.num(c.tasks),
        "task_s" -> Json.num(taskS), "cpu_s" -> Json.num(c.cpuNs / 1e9), "gc_s" -> Json.num(c.gcMs / 1000.0),
        "busy_pct" -> Json.num(if (rootMs > 0) 100.0 * taskS / (rootMs / 1000.0 * cores) else 0.0),
        "driver_gap_s" -> Json.num(rootMs / 1000.0 - taskS / cores),
        "sched_delay_ms" -> Json.arr(c.schedDelays.toSeq.map(d => Json.num(d))),
        "shuffle_write_mb" -> mb(c.shuffleWrite), "shuffle_read_mb" -> mb(c.shuffleRead), "spill_mb" -> mb(c.spill),
        "rows_read" -> Json.num(c.recordsRead), "bytes_read_mb" -> mb(c.bytesRead), "output_mb" -> mb(c.bytesWritten),
        "output_files" -> Json.num(notes.filesWritten), "codegen_compiles" -> Json.num(notes.codegenCompiles),
        "codegen_ms" -> Json.num(if (notes.codegenNs < 0) -1.0 else notes.codegenNs / 1e6),
        "rdds_left_persisted" -> Json.num(notes.rddsLeft.toLong),
        // the op's wall time, split by layer
        "self_entry_ms" -> Json.num(math.max(0.0, ms("build") - eagerMs - phase("analysis"))),
        "self_plans_ms" -> Json.num(plans),
        "self_spark_ms" -> Json.num(eagerMs + ms("execute")),
        "self_benchmark_ms" -> Json.num(ms("verify")),
      )).render
    }
    Files.write(out.resolve("spans.jsonl"), spanLines.result().asJava)
    Files.write(out.resolve("layers.jsonl"), layerLines.result().asJava)
  }
}
