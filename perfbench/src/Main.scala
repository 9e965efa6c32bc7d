package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload etl|ingest --seed N
  * --seconds S --trace 0|1 --work DIR --out DIR --cores N`.
  *
  * Phases: session, input generation (seeded; not set-up), program-side
  * set-up, one untimed warm pass, the timed
  * closed loop, output checks outside the timed window. Prints one JSON
  * line last on stdout; with `--trace 1` the metrics are the per-layer
  * ones and spans plus counts go to `<out>/<workload>-trace.json`.
  */
object Main {

  /** Nominal length of one timed cycle on `local[4]`: a run of `S`
    * seconds times round(S / CycleS) whole cycles, at least one. */
  val CycleS = 10.0

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def peakRssMb(): Double = {
    val s = scala.io.Source.fromFile("/proc/self/status")
    try s.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally s.close()
  }

  private def seconds[T](body: => T): (T, Double) = {
    val t = System.nanoTime
    val r = body
    (r, (System.nanoTime - t) / 1e9)
  }

  /** Runs [[run]] and exits, so no non-daemon thread (the upload
    * endpoint, a streaming query) can keep a failed run alive. */
  def main(args: Array[String]): Unit = {
    val ok = try { run(args); true } catch { case e: Throwable =>
      e.printStackTrace(); false }
    System.out.flush()
    System.exit(if (ok) 0 else 1)
  }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val budget = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val work = opt("work")
    val out = opt("out")
    val cores = opt("cores").toInt
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis - jvmStart) / 1e3
    val probe = new Probe(spark, trace)
    val ctx = Ctx(spark, probe, seed, work, cores)
    val w: Workload = name match {
      case "etl" => new Etl(ctx, 0.1)
      case "ingest" =>
        // several row groups per landed file: a small block size, checked
        // every few rows
        val hc = spark.sparkContext.hadoopConfiguration
        hc.set("parquet.block.size", "8192")
        hc.set("parquet.page.size.row.check.min", "8")
        hc.set("parquet.page.size.row.check.max", "8")
        new Ingest(ctx, 1500, 200)
      case other => sys.error(s"unknown workload $other")
    }

    val (_, genS) = seconds(w.generate())
    val (_, buildS) = seconds(w.setup())
    var op = 0
    def runOne(kind: String, warm: Boolean): OpRec = {
      probe.op = op
      val startMs = System.currentTimeMillis
      val t = System.nanoTime
      val (items, rows, err) =
        try { val (i, r) = probe.span("op")(w.run(op, kind, warm)); (i, r, None) }
        catch { case e: Throwable =>
          (0L, 0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
      val rec = OpRec(op, kind, items, (System.nanoTime - t) / 1e9,
        startMs, System.currentTimeMillis, rows, err)
      op += 1
      try {
        val extra = w.after(rec.index, kind)
        if (extra == 0L) rec
        else rec.copy(outRows = rec.outRows + extra,
          endMs = System.currentTimeMillis)
      } catch { case e: Throwable => rec.copy(error = rec.error.orElse(
        Some(s"read probe: ${e.getClass.getSimpleName}: ${e.getMessage}"))) }
    }
    val (warmOps, warmS) = seconds(w.cycle(0).map(k => runOne(k, true)))
    w.checkPending()
    warmOps.flatMap(_.error).headOption.foreach(e =>
      System.err.println(s"[perfbench] warm-pass op failed: $e"))
    val setupS = sessionS + buildS + warmS

    /** The timed closed loop: `n` whole cycles, the clocks paused while
      * the output checks run. */
    def loop(n: Int, firstCycle: Int): (Seq[OpRec], Double, Double) = {
      w.markTimed()
      val ops = ArrayBuffer.empty[OpRec]
      var wall = 0.0
      var cpu = 0.0
      for (c <- firstCycle until firstCycle + n) {
        val cpu0 = processCpuS()
        val (recs, s) = seconds(w.cycle(c).map(k => runOne(k, false)))
        cpu += processCpuS() - cpu0
        ops ++= recs
        wall += s
        w.checkPending()
      }
      (ops.toSeq, wall, cpu)
    }
    // whole cycles only, so every run times the same set of op kinds
    val cycles = math.max(1, math.round(budget / CycleS).toInt)

    if (trace) probe.attach()
    val (ops, wall, cpu) = loop(cycles, 1)
    probe.freeze()
    val checkFailures = w.check(ops)
    probe.drain()

    val failed = ops.filter(o => o.error.isDefined ||
      checkFailures.contains(o.index))
    (ops.flatMap(o => o.error.map(o.index -> _)) ++ checkFailures)
      .toSeq.sortBy(_._1).take(20).foreach { case (i, r) =>
        System.err.println(s"[perfbench] op $i failed: $r") }
    val lat = ops.map(_.wallS)
    val items = ops.map(_.items).sum
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", Stats.hd(lat, 50), "s"),
      ("op_p90_s", Stats.hd(lat, 90), "s"),
      ("items_per_s", items / wall, "1/s"),
      ("cpu_s_per_op", cpu / ops.size, "s"),
      ("peak_rss_mb", peakRssMb(), "MB"))
    val facts = w.facts()
    val report = Seq(
      ("failed_ratio", failed.size.toDouble / ops.size, "ratio"),
      ("space_amp", facts.getOrElse("space_amp", Double.NaN), "ratio"))

    val traced: Seq[(String, Double, String)] = if (!trace) Nil else {
      val windows = ops.map(o => (o.startMs, o.endMs))
      val sc = probe.sparkIn(windows)
      val n = ops.size.toDouble
      val outRows = w.outputRows(ops)
      val common = Seq(
        ("spark.jobs", sc.jobs / n, "count"),
        ("spark.stages", sc.stages / n, "count"),
        ("spark.tasks", sc.tasks / n, "count"),
        ("spark.analysis_s", sc.analysisS / n, "s"),
        ("spark.optimization_s", sc.optimizationS / n, "s"),
        ("spark.planning_s", sc.planningS / n, "s"),
        ("spark.codegen_compiles", probe.codegenCount / n, "count"),
        ("spark.codegen_s", probe.codegenSeconds / n, "s"),
        ("spark.sched_wait_s", sc.schedWaitS / n, "s"),
        ("spark.task_run_s", sc.taskRunS / n, "s"),
        ("spark.task_cpu_s", sc.taskCpuS / n, "s"),
        ("spark.gc_s", sc.gcS / n, "s"),
        ("spark.busy_ratio", sc.taskRunS / (wall * cores), "ratio"),
        ("spark.shuffle_write_bytes", sc.shuffleWrite / n, "bytes"),
        ("spark.shuffle_read_bytes", sc.shuffleRead / n, "bytes"),
        ("spark.spill_bytes", sc.spill / n, "bytes"),
        ("spark.driver_result_bytes", sc.resultBytes / n, "bytes"),
        ("spark.input_rows_per_output_row",
          if (outRows > 0) sc.recordsRead.toDouble / outRows else 0.0,
          "ratio"),
        ("spark.tasks_failed", sc.tasksFailed / n, "count"))
      val specific = w.layers(ops)
      val derived = Map(
        "failed_ratio" -> failed.size.toDouble / ops.size,
        "space_amp" -> facts.getOrElse("space_amp", 0.0),
        "stream.admit_ratio" -> facts.getOrElse("stream.admit_ratio", 0.0))
      common ++ Layers.all.filterNot(l => common.exists(_._1 == l._1)).map {
        case (k, unit) =>
          (k, specific.get(k).orElse(derived.get(k)).getOrElse(0.0), unit)
      }
    }
    // tracing overhead: one more cycle with tracing off, after the traced
    // ones (so warmer: the difference is an upper bound)
    val layers = if (!trace) traced else {
      probe.detach()
      val base = loop(1, cycles + 1)._1
      val overhead = Stats.hd(lat, 50) - Stats.hd(base.map(_.wallS), 50)
      traced.map {
        case ("trace.overhead_s", _, u) => ("trace.overhead_s", overhead, u)
        case l => l
      }
    }

    Report.write(out, name, seed, trace, ops, failed.map(_.index).toSet,
      checkFailures, e2e ++ report, layers, facts, probe,
      Map("session_s" -> sessionS, "gen_s" -> genS, "warm_s" -> warmS,
        "build_s" -> buildS, "wall_s" -> wall))

    w.close()
    probe.detach()
    spark.stop()

    val metrics = if (trace) layers else e2e
    Report.human(name, ops.size, if (trace) layers else e2e ++ report)
    println(Report.line(failed.isEmpty, ops.size, failed.size, metrics))
  }
}
