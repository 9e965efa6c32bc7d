package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** What the harness hands every workload. */
final case class Ctx(spark: SparkSession, probe: Probe, seed: Long,
    work: String, cores: Int)

/** One op of a workload's timed loop, as the harness records it. */
final case class OpRec(index: Int, kind: String, items: Long, wallS: Double,
    startMs: Long, endMs: Long, outRows: Long, error: Option[String])

/** A closed-loop workload: one client thread issues ops one at a time.
  * `cycle(c)` lists the ops of cycle `c` in seeded order; the warm pass
  * runs cycle 0 untimed and keeps its outputs as the reference.
  */
abstract class Workload(val ctx: Ctx) {
  val spark: SparkSession = ctx.spark
  def probe: Probe = ctx.probe
  def span[T](name: String)(body: => T): T = probe.span(name)(body)

  /** Write the seeded inputs (not part of set-up). */
  def generate(): Unit
  /** Build the program-side state the ops need. */
  def setup(): Unit
  def cycle(c: Int): Seq[String]
  /** Run one op; returns (items, output rows). Throws if the op fails. */
  def run(op: Int, kind: String, warm: Boolean): (Long, Long)
  /** Output checks, run outside the timed window: failed op indices
    * among `ops` with a reason each.
    */
  def check(ops: Seq[OpRec]): Map[Int, String]
  /** Per-layer metrics specific to this workload (traced run only). */
  def layers(ops: Seq[OpRec]): Map[String, Double] = Map.empty
  /** Work that follows op `op` outside its latency (ingest's read
    * probes); returns rows read. Throws if it fails, failing the op. */
  def after(op: Int, kind: String): Long = 0L
  /** Facts for the artifact: space amplification and the like. */
  def facts(): Map[String, Double] = Map.empty
  /** Rows the timed ops returned, for rows read per row returned. */
  def outputRows(ops: Seq[OpRec]): Long = ops.map(_.outRows).sum
  /** Run checks queued by [[after]]; called between cycles, untimed. */
  def checkPending(): Unit = ()
  /** Counters from here on belong to the timed ops. */
  def markTimed(): Unit = ()
  def close(): Unit = ()

  protected def shuffled[T](xs: Seq[T], salt: Long): Seq[T] = {
    val r = new scala.util.Random(ctx.seed * 1000003L + salt)
    r.shuffle(xs)
  }
  protected def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }
  }
  protected def filesUnder(p: String): Map[Path, Long] = {
    val root = Paths.get(p)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f -> Files.size(f)).toMap
      finally s.close()
    }
  }
  protected def sha(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update(10: Byte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** etl: one SANEF job through the production composition — TPC-H-derived
  * sources, the job plan, the single-CSV sink and the multipart upload to
  * an in-process endpoint.
  */
final class Etl(ctx: Ctx, sf: Double) extends Workload(ctx) {
  private val dir = s"${ctx.work}/tpch"
  private val stub = new Stub(ctx.seed)
  private val client = java.net.http.HttpClient.newBuilder()
    .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
  private var src: Adapter.Sources = _
  private val ref = mutable.Map.empty[String, (Long, String)]
  private val csvs = mutable.Map.empty[Int, (String, Path, Array[Byte])]
  private var stub0 = (0L, 0L)

  def generate(): Unit =
    new Gen(spark, ctx.seed, ctx.cores).tpch(dir, sf)
  def setup(): Unit =
    src = Adapter.tpchSources(spark, dir, df => span("tables.frame")(df))
  def cycle(c: Int): Seq[String] = shuffled(Adapter.jobNames, c)

  /** (data rows, digest of the header and the sorted data lines) */
  private def content(csv: Array[Byte]): (Long, String) = {
    val lines = new String(csv, "UTF-8").split("\n", -1).toSeq
      .filter(_.nonEmpty)
    (lines.size - 1L, sha((lines.take(1) ++ lines.drop(1).sorted).iterator))
  }

  def run(op: Int, job: String, warm: Boolean): (Long, Long) = {
    val df = span("jobs.run")(Adapter.runJob(spark, src, job))
    val out = s"${ctx.work}/out/op-$op"
    val path = span("sinks.csv")(Adapter.csvWrite(df, out,
      Adapter.csvFileName(job, java.time.ZonedDateTime.now())))
    span("sinks.upload")(Adapter.upload(stub.endpoint, "bench-token",
      Adapter.datasetId(job), path, client))
    val body = stub.last
    if (warm) ref(job) = content(Files.readAllBytes(path))
    else csvs(op) = (job, path, body)
    (1L, 0L)
  }

  override def layers(ops: Seq[OpRec]): Map[String, Double] = {
    val n = ops.size.toDouble
    val csvBytes = csvs.values.map(c => Files.size(c._2)).sum
    Map(
      "tables.frame_s" -> probe.spanSeconds("tables.frame") / n,
      "tables.frame_jobs" -> probe.jobsInSpans("tables.frame") / n,
      "jobs.plan_s" -> probe.selfSeconds().getOrElse("jobs.run", 0.0) / n,
      "sinks.csv_s" -> probe.spanSeconds("sinks.csv") / n,
      "sinks.csv_bytes" -> csvBytes / n,
      "sinks.upload_s" -> probe.spanSeconds("sinks.upload") / n,
      "sinks.upload_attempts" -> (stub.attempts.get - stub0._1) / n,
      "sinks.upload_bytes" -> (stub.bytes.get - stub0._2) / n)
  }

  override def markTimed(): Unit = {
    stub.restartBlocks()
    stub0 = (stub.attempts.get, stub.bytes.get)
  }

  def check(ops: Seq[OpRec]): Map[Int, String] = ops.flatMap { o =>
    csvs.get(o.index).flatMap { case (job, path, body) =>
      val csv = Files.readAllBytes(path)
      if (!java.util.Arrays.equals(Stub.filePart(body), csv))
        Some(o.index -> s"$job: uploaded body differs from the CSV")
      else if (!ref.get(job).contains(content(csv)))
        Some(o.index -> s"$job: CSV differs from the reference run")
      else None
    }
  }.toMap

  override def outputRows(ops: Seq[OpRec]): Long = ops.flatMap(o =>
    csvs.get(o.index)).map(c => content(Files.readAllBytes(c._2))._1).sum

  override def close(): Unit = stub.stop()
}

/** ingest: streaming micro-batch cycles of arriving docs with planted
  * exact and near duplicates of an indexed seed corpus. A benchmark sink
  * lands admitted docs in a snapshot table and folds them into a BM25
  * index; every third micro-batch (and the warm one) also retires the
  * oldest live id range from both and compacts them (the snapshot
  * clustered on `quality`, so its files carry narrow quality ranges), and
  * is followed by read probes.
  */
final class Ingest(ctx: Ctx, seedDocs: Int, batch: Int)
    extends Workload(ctx) {
  import Ingest._
  private val text = new ZipfText(ctx.seed, Vocab)
  private val corpus: IndexedSeq[String] =
    (0 until seedDocs).map(_ => text.words(40, 80).mkString(" "))
  private var nextId = 10000000L
  private val root = s"${ctx.work}/snapshot"
  private val idx = s"${ctx.work}/bm25"
  private val ckpt = s"${ctx.work}/checkpoint"
  private var stream: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Adapter.Doc] = _
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _

  // driver-side truth: per micro-batch, the id range and the count and
  // text bytes of its fresh (admissible) docs; the retired id ranges
  private val fresh = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  private val retired = mutable.ArrayBuffer.empty[(Long, Long)]
  // what the program admitted: rows the sink received during the current
  // op (written on the stream thread)
  private val sunk = new java.util.concurrent.atomic.AtomicLong
  // per op: (admitted rows, the generator's count of fresh docs)
  private val admittedByOp = mutable.Map.empty[Int, (Long, Long)]
  private var timedArrived = 0L
  private var timedAdmitted = 0L
  private val failures = mutable.Map.empty[Int, String]
  private var compactWritten = 0L
  private var buildS = 0.0
  private var progress = Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  private var lastBatch = -1L

  /** Seeded quality score: uniform in [0, 1) with NaN and null shares. */
  private def quality: Column = {
    val u = pmod(xxhash64(col("doc_id"), lit(ctx.seed), lit(77)),
      lit(1000003L)).cast("double") / 1000003.0
    val v = pmod(xxhash64(col("doc_id"), lit(ctx.seed), lit(78)),
      lit(1000003L)).cast("double") / 1000003.0
    when(v < NanShare, lit(Double.NaN))
      .when(v < NanShare + NullShare, lit(null).cast("double"))
      .otherwise(round(u, 4))
  }

  def generate(): Unit = {
    import spark.implicits._
    corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"${ctx.work}/seed.parquet")
  }

  def setup(): Unit = {
    val seedDf = spark.read.parquet(s"${ctx.work}/seed.parquet")
    val t0 = System.nanoTime
    Adapter.shingleBuild(seedDf, "ingest_sh", s"${ctx.work}/sh", ctx.cores)
    Adapter.bm25Build(seedDf, "ingest_bm25", idx, ctx.cores)
    buildS = (System.nanoTime - t0) / 1e9
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Adapter.Doc]
    query = Adapter.admitAgainstSignatureIndex(stream.toDF(), "ingest_sh") {
      (admitted, batchId) => span("stream.sink") {
        val landed = admitted.withColumn("quality", quality).persist()
        try {
          span("snapshot.commit")(Adapter.snapshotAppendOnce(landed, root,
            s"batch-$batchId"))
          span("index.extend")(Adapter.bm25Extend(
            landed.select("doc_id", "text"), "ingest_bm25", ctx.cores))
          sunk.addAndGet(landed.count())
        } finally landed.unpersist()
      }
    }.option("checkpointLocation", ckpt).start()
  }

  def cycle(c: Int): Seq[String] =
    if (c == 0) Seq("batch+retire") else Seq("batch", "batch", "batch+retire")

  private def arrivals(): Seq[Adapter.Doc] = {
    val ts = new java.sql.Timestamp(1704067200000L + nextId)
    val lo = nextId
    var n = 0L; var bytes = 0L
    val docs = (0 until batch).map { _ =>
      val id = nextId; nextId += 1
      val r = text.double()
      val t =
        if (r < ExactShare) corpus(text.int(corpus.size))
        else if (r < ExactShare + NearShare) {
          val w = corpus(text.int(corpus.size)).split(" ")
          w(w.length / 2) = text.word() + "x"
          w.mkString(" ")
        } else {
          n += 1
          val t = text.words(40, 80).mkString(" ")
          bytes += t.getBytes("UTF-8").length
          t
        }
      Adapter.doc(id, t, "src" + (id % 20), ts)
    }
    // fresh docs are exactly the non-duplicates; ids lo..nextId-1
    fresh += ((lo, nextId - 1, n, bytes))
    docs
  }

  private var cycles = 0
  def run(op: Int, kind: String, warm: Boolean): (Long, Long) = {
    val docs = arrivals()
    sunk.set(0L)
    stream.addData(docs)
    query.processAllAvailable()
    val admitted = sunk.get
    admittedByOp(op) = (admitted, fresh.last._3)
    if (!warm) { timedArrived += docs.size; timedAdmitted += admitted }
    cycles += 1
    if (kind == "batch+retire") retire()
    (docs.size.toLong, 0L)
  }

  /** Retire the oldest live cycle's id range from both stores, then
    * compact both; counts the bytes compaction wrote.
    */
  private def retire(): Unit = {
    val (lo, hi, _, _) = fresh(retired.size)
    retired += ((lo, hi))
    span("snapshot.delete")(Adapter.snapshotDeleteWhere(spark, root,
      "doc_id", lo.toDouble, hi.toDouble))
    span("index.delete")(Adapter.bm25Delete(spark, "ingest_bm25",
      spark.range(lo, hi + 1).toDF("doc_id")))
    val before = filesUnder(root) ++ filesUnder(idx)
    span("snapshot.compact")(Adapter.snapshotCompact(spark, root,
      "quality", ctx.cores))
    span("index.compact")(Adapter.bm25Compact(spark, "ingest_bm25"))
    compactWritten += (filesUnder(root) ++ filesUnder(idx))
      .filter { case (p, _) => !before.contains(p) }.values.sum
  }

  private def live(id: Long): Boolean = !retired.exists { case (a, b) =>
    id >= a && id <= b }
  private def retiredId(id: Long): Boolean = !live(id)

  /** The read probes after each retiring micro-batch: one 100-query
    * serve batch and one pruned read, alternating its column between
    * quality and doc_id. Their checks run later, outside the timed window.
    */
  private var probeOut = Seq.empty[(Int, () => Option[String])]
  private var probed = 0
  private var readRows = 0L
  override def after(op: Int, kind: String): Long =
    if (kind != "batch+retire") 0L else {
    probed += 1
    import spark.implicits._
    val q = (0 until 100).map(i => (3000000000L + op * 100L + i,
      s"${text.word()} w${text.int(10)}")).toDF("doc_id", "text")
    val servedDf = span("index.call")(Adapter.bm25WandSearch(spark,
      "ingest_bm25", q, Ingest.TopN))
    val served = span("index.exec")(servedDf.collect())
      .map(_.getAs[Number]("neighbor_id").longValue)
    val (column, lo, hi) =
      if (probed % 2 == 1) {
        val a = math.floor(text.double() * 75) / 100
        ("quality", a, a + 0.25)
      } else {
        val f = fresh(text.int(fresh.size))
        ("doc_id", f._1.toDouble, (f._1 + f._2) / 2.0)
      }
    val pruned = span("snapshot.read")(Adapter.snapshotReadWhere(spark, root,
      column, lo, hi).select("doc_id").as[Long].collect())
    readRows += pruned.length
    probeOut :+= (op -> (() => {
      val full = Adapter.snapshotRead(spark, root)
        .where(col(column) >= lo && col(column) <= hi)
        .select("doc_id").as[Long].collect()
      val admitted = Adapter.snapshotRead(spark, root).count()
      val want = fresh.take(cycles).zipWithIndex.filter { case (f, i) =>
        i >= retired.size }.map(_._1._3).sum
      if (served.exists(retiredId)) Some("served a retired id")
      else if (pruned.sorted.toSeq != full.sorted.toSeq)
        Some(s"readWhere($column in [$lo, $hi]) returned ${pruned.length} " +
          s"rows, the unpruned read ${full.length}")
      else if (admitted != want)
        Some(s"snapshot holds $admitted live docs, expected $want")
      else None
    }))
    served.length.toLong + pruned.length
  }

  override def checkPending(): Unit = {
    probeOut.foreach { case (op, f) =>
      f().foreach(r => failures.getOrElseUpdate(op, r)) }
    probeOut = Nil
  }

  def check(ops: Seq[OpRec]): Map[Int, String] = {
    checkPending()
    val admission = ops.flatMap { o => admittedByOp.get(o.index).collect {
      case (got, want) if got != want =>
        o.index -> s"admitted $got docs, the generator planted $want fresh"
    }}.toMap
    admission ++ failures.filter { case (i, _) => ops.exists(_.index == i) }
  }

  def collectProgress(): Unit = {
    progress ++= query.recentProgress.filter(p =>
      p.batchId > lastBatch && p.numInputRows > 0)
    progress.lastOption.foreach(p => lastBatch = p.batchId)
  }

  override def markTimed(): Unit = {
    collectProgress(); progress = Nil; readRows = 0L; compactWritten = 0L
    timedArrived = 0L; timedAdmitted = 0L
  }

  override def layers(ops: Seq[OpRec]): Map[String, Double] = {
    collectProgress()
    val n = ops.size.toDouble
    def dur(k: String) = progress.map(p =>
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    val sinkS = probe.spanSeconds("stream.sink")
    val scanned = probe.sparkIn(probe.allSpans.filter(_.name ==
      "snapshot.read").map(s => (s.startMs, s.endMs))).recordsRead
    val returned = readRows
    Map(
      "index.extend_s" -> probe.spanSeconds("index.extend") / n,
      "index.delete_s" -> probe.spanSeconds("index.delete") / n,
      "index.compact_s" -> probe.spanSeconds("index.compact") / n,
      "index.compact_bytes_written" -> compactWritten / n,
      "index.build_s" -> buildS,
      "index.disk_bytes" -> dirBytes(idx).toDouble,
      "index.call_s" -> probe.spanSeconds("index.call") / n,
      "index.call_jobs" -> probe.jobsInSpans("index.call") / n,
      "index.exec_s" -> probe.spanSeconds("index.exec") / n,
      "snapshot.commit_s" -> probe.spanSeconds("snapshot.commit") / n,
      "snapshot.delete_s" -> probe.spanSeconds("snapshot.delete") / n,
      "snapshot.compact_s" -> probe.spanSeconds("snapshot.compact") / n,
      "snapshot.read_s" -> probe.spanSeconds("snapshot.read") / n,
      "snapshot.rows_scanned_per_row_returned" ->
        (if (returned > 0) scanned.toDouble / returned else 0.0),
      "snapshot.disk_bytes" -> dirBytes(root).toDouble,
      "stream.trigger_s" -> dur("triggerExecution") / n,
      "stream.add_batch_s" -> dur("addBatch") / n,
      "stream.planning_s" -> dur("queryPlanning") / n,
      "stream.wal_s" -> dur("walCommit") / n,
      "stream.admit_s" -> math.max(0.0, dur("addBatch") - sinkS) / n)
  }

  override def facts(): Map[String, Double] = {
    val liveBytes = fresh.take(cycles).zipWithIndex.filter { case (_, i) =>
      i >= retired.size }.map(_._1._4).sum
    Map("space_amp" -> (dirBytes(root) + dirBytes(idx)).toDouble /
        math.max(1L, liveBytes),
      "stream.admit_ratio" ->
        timedAdmitted.toDouble / math.max(1L, timedArrived),
      "planted_fresh_share" -> (1.0 - ExactShare - NearShare),
      "nan_share" -> NanShare, "null_share" -> NullShare)
  }

  override def close(): Unit = if (query != null) query.stop()
}

object Ingest {
  /** Shares of arriving docs that copy, or copy with one word changed, a
    * seed-corpus doc, and of landed rows whose quality is NaN or null;
    * the seed decides which docs and rows. */
  val ExactShare = 0.10
  val NearShare = 0.10
  val NanShare = 0.01
  val NullShare = 0.03
  val Vocab = 20000
  val TopN = 10
}

object Stats {
  /** Harrell–Davis estimate of the `p`-th percentile: a Beta-weighted
    * mean of every order statistic. With ops of a few different kinds per
    * run the plain sample percentile jumps across the gaps between kinds;
    * this estimate moves smoothly. NaN for no samples.
    */
  def hd(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else if (xs.size == 1) xs.head
    else {
      import org.apache.commons.math3.special.Beta.regularizedBeta
      val s = xs.sorted
      val n = s.size
      val (a, b) = (p / 100 * (n + 1), (1 - p / 100) * (n + 1))
      def cdf(x: Double) =
        if (x <= 0) 0.0 else if (x >= 1) 1.0 else regularizedBeta(x, a, b)
      s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i))
        .sum
    }
}
