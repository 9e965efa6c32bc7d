package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.jobs.{CsvSink, ElectionSources, HttpUploadSink, SanefJobs, TpchElectionSources}
import graft.plans.{Bm25IndexStore, ShingleIndexStore, SnapshotStore}
import graft.streaming.DocStreams

/** The benchmark's only binding to the program: every public entry point
  * it calls is listed here, and no other benchmark file imports `graft`.
  * A change to a signature below needs editing in this file alone.
  */
object Adapter {

  type Sources = ElectionSources

  // ---- etl: the SANEF job composition JobRunner performs ----

  /** The TPC-H-derived sources with every frame accessor passed through
    * `around` — the timing decorator over the public trait.
    */
  def tpchSources(spark: SparkSession, dir: String,
      around: (=> DataFrame) => DataFrame): ElectionSources = {
    val in = new TpchElectionSources(spark, dir)
    new ElectionSources {
      def wards: DataFrame = around(in.wards)
      def munis: DataFrame = around(in.munis)
      def councilWinners: DataFrame = around(in.councilWinners)
      def parties: DataFrame = around(in.parties)
      def votingDistricts: DataFrame = around(in.votingDistricts)
      def displayVotingDistricts: DataFrame =
        around(in.displayVotingDistricts)
      def vdStats: DataFrame = around(in.vdStats)
      def displayWard: DataFrame = around(in.displayWard)
      def wardCandidates: DataFrame = around(in.wardCandidates)
      def ballotResultsJson: DataFrame = around(in.ballotResultsJson)
      def councilorsJson: DataFrame = around(in.councilorsJson)
      def seatResultsJson: DataFrame = around(in.seatResultsJson)
    }
  }

  /** The nine jobs plus the completed-wards spine they share. */
  val jobNames: Seq[String] =
    SanefJobs.all.map(_.name) :+ "completed_wards"

  def runJob(spark: SparkSession, src: ElectionSources, name: String)
      : DataFrame =
    if (name == "completed_wards")
      SanefJobs.completedWards(src, graft.jobs.JobConfig())
    else SanefJobs.run(spark, src, name)

  def csvFileName(job: String, now: java.time.ZonedDateTime): String =
    CsvSink.stampedName(job, now)

  def csvWrite(df: DataFrame, outDir: String, fileName: String): Path =
    CsvSink.write(df, outDir, fileName)

  def datasetId(job: String): Int =
    SanefJobs.all.find(_.name == job).map(_.datasetId).getOrElse(0)

  def upload(endpoint: String, token: String, datasetId: Int, csv: Path,
      client: java.net.http.HttpClient): Int =
    HttpUploadSink.upload(endpoint, token, datasetId, csv, client)

  // ---- plans: the BM25 inverted index ----

  def bm25Build(docs: DataFrame, table: String, path: String,
      buckets: Int): Unit =
    Bm25IndexStore.build(docs, table, path, buckets)

  def bm25WandSearch(spark: SparkSession, table: String,
      queryDocs: DataFrame, topN: Int): DataFrame =
    Bm25IndexStore.wandSearch(spark, table, queryDocs, topN)

  def bm25Extend(batch: DataFrame, table: String, buckets: Int): Unit =
    Bm25IndexStore.extend(batch, table, buckets)

  def bm25Delete(spark: SparkSession, table: String, ids: DataFrame): Unit =
    Bm25IndexStore.delete(spark, table, ids)

  def bm25Compact(spark: SparkSession, table: String): Unit =
    Bm25IndexStore.compact(spark, table)

  // ---- ingest: streaming admission, the shingle index, the snapshot ----

  def shingleBuild(corpus: DataFrame, table: String, path: String,
      buckets: Int): Unit =
    ShingleIndexStore.build(corpus, 3, table, path, buckets)

  /** `docs` must have the [[DocStreams.Doc]] row shape. */
  def admitAgainstSignatureIndex(docs: DataFrame, table: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    DocStreams.admitAgainstSignatureIndex(docs, table)(sink)

  type Doc = DocStreams.Doc
  def doc(id: Long, text: String, source: String,
      ts: java.sql.Timestamp): Doc = DocStreams.Doc(id, text, source, ts)

  def snapshotAppendOnce(df: DataFrame, root: String, tag: String)
      : Option[Int] = SnapshotStore.appendOnce(df, root, tag)

  def snapshotRead(spark: SparkSession, root: String): DataFrame =
    SnapshotStore.read(spark, root)

  def snapshotReadWhere(spark: SparkSession, root: String, column: String,
      lo: Double, hi: Double): DataFrame =
    SnapshotStore.readWhere(spark, root, column, lo, hi)

  def snapshotDeleteWhere(spark: SparkSession, root: String, column: String,
      lo: Double, hi: Double): Int =
    SnapshotStore.deleteWhere(spark, root, column, lo, hi)

  /** Compaction that range-partitions the rewrite on `clusterCol` into
    * `nFiles` files, so each file carries a narrow range of it. */
  def snapshotCompact(spark: SparkSession, root: String, clusterCol: String,
      nFiles: Int): Int =
    SnapshotStore.compact(spark, root, clusterCol = clusterCol,
      nFiles = nFiles)
}
