package perfbench

import java.nio.file.{Files, Paths}

/** The metric catalogue and the run's outputs: the JSON result line, a
  * human-readable table, and one artifact file per run.
  */
object Layers {
  /** Every per-layer metric with its unit, in report order. A workload
    * that does not exercise a layer reports 0 for it (n/a in the table).
    */
  val all: Seq[(String, String)] = Seq(
    "tables.frame_s" -> "s", "tables.frame_jobs" -> "count",
    "jobs.plan_s" -> "s",
    "sinks.csv_s" -> "s", "sinks.csv_bytes" -> "bytes",
    "sinks.upload_s" -> "s", "sinks.upload_attempts" -> "count",
    "sinks.upload_bytes" -> "bytes",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.analysis_s" -> "s",
    "spark.optimization_s" -> "s", "spark.planning_s" -> "s",
    "spark.codegen_compiles" -> "count", "spark.codegen_s" -> "s",
    "spark.sched_wait_s" -> "s", "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.busy_ratio" -> "ratio", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.driver_result_bytes" -> "bytes",
    "spark.input_rows_per_output_row" -> "ratio",
    "spark.tasks_failed" -> "count",
    "index.call_s" -> "s", "index.call_jobs" -> "count",
    "index.exec_s" -> "s", "index.build_s" -> "s",
    "index.extend_s" -> "s", "index.delete_s" -> "s",
    "index.compact_s" -> "s", "index.compact_bytes_written" -> "bytes",
    "index.disk_bytes" -> "bytes",
    "snapshot.commit_s" -> "s", "snapshot.delete_s" -> "s",
    "snapshot.compact_s" -> "s", "snapshot.read_s" -> "s",
    "snapshot.rows_scanned_per_row_returned" -> "ratio",
    "snapshot.disk_bytes" -> "bytes",
    "stream.trigger_s" -> "s", "stream.add_batch_s" -> "s",
    "stream.planning_s" -> "s", "stream.wal_s" -> "s",
    "stream.admit_s" -> "s", "stream.admit_ratio" -> "ratio",
    "space_amp" -> "ratio", "failed_ratio" -> "ratio",
    "trace.overhead_s" -> "s")

  /** Which workloads exercise each layer prefix (the rest print n/a). */
  def exercised(metric: String, workload: String): Boolean = {
    val p = metric.takeWhile(_ != '.')
    val on: Map[String, Set[String]] = Map(
      "tables" -> Set("etl"), "jobs" -> Set("etl"),
      "sinks" -> Set("etl"), "index" -> Set("ingest"),
      "snapshot" -> Set("ingest"), "stream" -> Set("ingest"),
      "space_amp" -> Set("ingest"))
    on.get(p).forall(_(workload))
  }
}

object Report {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def line(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      "\"metrics\": {" + metrics.map { case (k, v, u) =>
        s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}"
      }.mkString(", ") + "}}"

  def human(workload: String, ops: Int,
      metrics: Seq[(String, Double, String)]): Unit = {
    println(s"# $workload: $ops timed ops")
    metrics.foreach { case (k, v, u) =>
      val shown =
        if (!Layers.exercised(k, workload) || v.isNaN) "n/a"
        else f"$v%.6g"
      println(f"#   $k%-44s $shown%14s $u")
    }
  }

  def write(dir: String, workload: String, seed: Long, trace: Boolean,
      ops: Seq[OpRec], failed: Set[Int], reasons: Map[Int, String],
      metrics: Seq[(String, Double, String)],
      layers: Seq[(String, Double, String)], facts: Map[String, Double],
      probe: Probe, phases: Map[String, Double]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val file = Paths.get(dir,
      if (trace) s"$workload-trace.json" else s"$workload-seed$seed.json")
    def obj(m: Seq[(String, Double, String)]) = m.map { case (k, v, u) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}, " +
        s"\"na\": ${!Layers.exercised(k, workload)}}" }.mkString("{", ", ", "}")
    val opsJson = ops.map { o =>
      s"""{"op": ${o.index}, "kind": ${str(o.kind)}, "items": ${o.items}, """ +
        s""""wall_s": ${num(o.wallS)}, "out_rows": ${o.outRows}, """ +
        s""""failed": ${failed(o.index)}, "reason": """ +
        o.error.orElse(reasons.get(o.index)).map(str).getOrElse("null") + "}"
    }.mkString("[", ",\n  ", "]")
    val spans = probe.allSpans.map { s =>
      s"""{"name": ${str(s.name)}, "op": ${s.op}, "parent": ${s.parent}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""dur_s": ${num((s.endNs - s.startNs) / 1e9)}}"""
    }.mkString("[", ",\n  ", "]")
    val self = probe.selfSeconds().toSeq.sortBy(_._1).map { case (k, v) =>
      s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    def flat(m: Map[String, Double]) = m.toSeq.sortBy(_._1).map {
      case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    val json = s"""{"workload": ${str(workload)}, "seed": $seed, "trace": $trace,
 "end_to_end": ${obj(metrics)},
 "per_layer": ${obj(layers)},
 "phases": ${flat(phases)},
 "facts": ${flat(facts)},
 "self_s": $self,
 "ops": $opsJson,
 "spans": $spans}
"""
    Files.write(file, json.getBytes("UTF-8"))
  }
}
