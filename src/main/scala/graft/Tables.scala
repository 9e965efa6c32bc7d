package graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * All engine queries take `(spark, sfDir)` and read only these tables, so
  * the driver's DuckDB oracle sees byte-identical inputs. Parquet carries its
  * own schema (verified against FIXTURES.md §A): [[table]] reads it from ONE
  * footer on the driver and hands it to the reader explicitly, so building a
  * frame launches no Spark job — Spark's own inference would run a job per
  * read just to open that same footer. The vectorized reader + Catalyst
  * column pruning / predicate pushdown make these scans the cheap part of
  * every plan — at 100 TB the same read simply fans out over more
  * files/row-groups, and the schema still costs one footer, so nothing here
  * is local-mode-only.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The schema Spark's non-merging parquet inference returns for `path`,
    * resolved on the driver without a Spark job: list the path once, then
    * read the footer of the file that inference would pick —
    * `_common_metadata`, else `_metadata`, else the first data file by
    * path — and convert it under the CALLING session's conf (so the
    * nanos-as-long child session of [[events]] keeps its encoding). Hidden
    * files are skipped by the same name rule Spark's file index applies.
    *
    * None leaves the read to Spark's own inference, errors included: a
    * schema-merging session (the union needs every footer), a partitioned
    * or nested directory (partition columns come from the paths), and a
    * missing path or one with no data file.
    */
  private def footerSchema(spark: SparkSession, path: String)
      : Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val listed =
      try root.getFileSystem(hadoopConf).listStatus(root)
      catch { case _: FileNotFoundException => return None }
    val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    val visible = listed.filterNot { f =>
      val n = f.getPath.getName
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")) && !summaries.exists(n.startsWith)
    }
    val (summary, data) =
      visible.partition(f => summaries.contains(f.getPath.getName))
    if (visible.exists(_.isDirectory) || data.isEmpty) return None
    val picked = summaries.flatMap(n => summary.find(_.getPath.getName == n))
      .headOption.getOrElse(data.minBy(_.getPath.toString))
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(picked, hadoopConf),
      HadoopReadOptions.builder(hadoopConf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val footer = try reader.getFooter finally reader.close()
    Some(ParquetFileFormat.readSchemaFromFooter(
      new Footer(picked.getPath, footer),
      new ParquetToSparkSchemaConverter(conf)))
  }

  /** Copy `parent`'s current modifiable conf onto `child` — the setup of
    * a child session that overrides a few keys for its own queries only.
    */
  private[graft] def syncConf(parent: SparkSession, child: SparkSession)
      : Unit =
    parent.conf.getAll.foreach { case (k, v) =>
      if (child.conf.isModifiable(k) && !child.conf.getOption(k).contains(v))
        child.conf.set(k, v)
    }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects outright (PARQUET_TYPE_ILLEGAL). Read it as a raw
    * nanosecond long (legacy conf) and rebuild a microsecond timestamp with
    * integer division — ns-since-epoch (~1.7e18) exceeds double's 2^53
    * mantissa, so float division would corrupt low-order digits.
    *
    * The legacy conf must still be set when the plan EXECUTES (the scan's
    * hadoop conf is captured at runtime, so an eager restore would break
    * the lazy plan), so it is scoped to a dedicated child session:
    * `newSession()` shares the SparkContext and cached data but owns its
    * SQLConf, meaning the caller's session is never mutated and other
    * nanos-parquet reads in it keep their normal semantics. One child per
    * parent session, memoized WEAKLY (a child holds no strong reference
    * to its parent, so a stopped/abandoned parent session and its child
    * are both collectable — a strong map would leak a SessionState per
    * session in long-lived JVMs), and re-synced with the parent's current
    * modifiable conf on every call so later `spark.conf.set` calls on the
    * parent (shuffle partitions, session timezone) reach events() plans
    * instead of freezing at first use.
    */
  private val nanosSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]

  def events(s: SparkSession, d: String): DataFrame = {
    val ns = nanosSessions.synchronized {
      var child = nanosSessions.get(s)
      if (child == null) { child = s.newSession(); nanosSessions.put(s, child) }
      child
    }
    syncConf(s, ns)
    ns.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The fixture's physical `ts` type has changed across driver testdata
    // generations (TIMESTAMP(NANOS) → TIMESTAMP_NTZ), so branch on what the
    // file actually carries instead of assuming one encoding; all branches
    // normalize to a session-TZ TimestampType column so every downstream
    // plan (windows, as-of joins, sessionization) sees one stable type.
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = table(ns, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // nanos-as-long (legacy conf above): rebuild micros with integer
        // division — ns-since-epoch exceeds double's 2^53 mantissa.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // NTZ wall time ≡ the DuckDB oracle's TIMESTAMP; cast to the
        // session-TZ instant type (Verify pins UTC) for downstream ops.
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
}
