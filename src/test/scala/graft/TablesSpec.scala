package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.table` resolves a parquet schema from one footer on the driver:
  * zero Spark jobs, and exactly the schema (and rows) of
  * `spark.read.parquet` — including summary files, files that disagree,
  * and both `events.ts` encodings. Partitioned, schema-merging and empty
  * reads take Spark's own inference and behave exactly as it does.
  */
class TablesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tables-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshDir(): Path = Files.createTempDirectory("graft-tables")

  private def rows(d: DataFrame): Seq[String] =
    d.collect().toSeq.map(_.toString).sorted

  /** `Tables.table` matches the inferring read in schema and rows. */
  private def sameAsInference(s: SparkSession, dir: Path, name: String)
      : Unit = {
    val got = Tables.table(s, dir.toString, name)
    val want = s.read.parquet(s"$dir/$name.parquet")
    assert(got.schema === want.schema, name)
    assert(rows(got) === rows(want), name)
  }

  /** `d` written by Spark as one parquet file; returns that file. */
  private def singleFile(d: DataFrame): Path = {
    val out = freshDir().resolve("x")
    d.coalesce(1).write.parquet(out.toString)
    val it = Files.list(out)
    try it.filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get
    finally it.close()
  }

  /** A hand-written parquet file (no Spark schema in its metadata, so the
    * footer's own types drive conversion) with one `ts` column.
    */
  private def writeTs(file: Path, tsType: String, values: Seq[Long]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; " +
        s"required int64 ts ($tsType); }")
    val conf = new Configuration()
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), conf))
      .withConf(conf).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try values.zipWithIndex.foreach { case (v, i) =>
      writer.write(groups.newGroup().append("user_id", i.toLong)
        .append("ts", v))
    } finally writer.close()
  }

  test("single-file tables (the fixture layout) launch zero Spark jobs; " +
    "the inferring read they replace launches one") {
    import spark.implicits._
    val dir = freshDir()
    Files.copy(singleFile(Seq((1L, "a", 0.5, java.sql.Date.valueOf(
      "2024-01-02"))).toDF("k", "v", "x", "day")),
      dir.resolve("orders.parquet"))
    assert(JobCount(spark)(Tables.table(spark, dir.toString, "orders")) ===
      0)
    sameAsInference(spark, dir, "orders")
    assert(JobCount(spark)(
      spark.read.parquet(s"$dir/orders.parquet")) >= 1)
  }

  test("plain directories: the first data file by path decides, hidden " +
    "files are skipped") {
    import spark.implicits._
    val dir = freshDir()
    val t = s"$dir/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(2).write.parquet(t)
    // a second write whose files disagree: inference keeps the schema of
    // whichever file sorts first, and so must the footer read
    Seq((3L, 0.5)).toDF("k", "w").write.mode("append").parquet(t)
    Files.writeString(Paths.get(t, ".hidden.parquet"), "not parquet")
    Files.writeString(Paths.get(t, "_ignored"), "not parquet")
    assert(JobCount(spark)(Tables.table(spark, dir.toString, "t")) === 0)
    sameAsInference(spark, dir, "t")
  }

  test("summary files: _common_metadata wins over _metadata, which wins " +
    "over the data files") {
    import spark.implicits._
    val dir = freshDir()
    val t = Paths.get(s"$dir/t.parquet")
    Seq((1L, "a")).toDF("k", "v").write.parquet(t.toString)
    Files.copy(singleFile(Seq((1L, "a", 2)).toDF("k", "v", "m")),
      t.resolve("_metadata"))
    assert(JobCount(spark)(Tables.table(spark, dir.toString, "t")) === 0)
    sameAsInference(spark, dir, "t")
    assert(Tables.table(spark, dir.toString, "t").columns.toSeq ===
      Seq("k", "v", "m"))
    Files.copy(singleFile(Seq((1L, "a", 2L, 3.0)).toDF("k", "v", "c", "d")),
      t.resolve("_common_metadata"), StandardCopyOption.REPLACE_EXISTING)
    assert(JobCount(spark)(Tables.table(spark, dir.toString, "t")) === 0)
    sameAsInference(spark, dir, "t")
    assert(Tables.table(spark, dir.toString, "t").columns.toSeq ===
      Seq("k", "v", "c", "d"))
  }

  test("events.ts in both encodings: nanos-as-long in the events child " +
    "session, NTZ in the caller's; both normalize to a timestamp") {
    val tsNanos = 1700000000123456789L
    val nanos = freshDir()
    writeTs(nanos.resolve("events.parquet"), "TIMESTAMP(NANOS,false)",
      Seq(tsNanos))
    val ntz = freshDir()
    writeTs(ntz.resolve("events.parquet"), "TIMESTAMP(MICROS,false)",
      Seq(tsNanos / 1000))

    val ns = spark.newSession()
    ns.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sameAsInference(ns, nanos, "events")
    assert(Tables.table(ns, nanos.toString, "events")
      .schema("ts").dataType === LongType)
    sameAsInference(spark, ntz, "events")

    Seq(nanos, ntz).foreach { d =>
      val ev = Tables.events(spark, d.toString)
      assert(JobCount(spark)(Tables.events(spark, d.toString)) === 0)
      assert(ev.schema("ts").dataType === TimestampType)
      assert(ev.collect().map(_.getAs[java.sql.Timestamp]("ts")).toSeq ===
        Seq(java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(0, tsNanos / 1000 * 1000))))
    }
  }

  test("partitioned directories and schema-merging sessions fall back " +
    "to inference: same schema, rows and jobs as the plain read") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, "a", 1), (2L, "b", 2)).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(s"$dir/part.parquet")
    sameAsInference(spark, dir, "part")
    assert(JobCount(spark)(Tables.table(spark, dir.toString, "part")) ===
      JobCount(spark)(spark.read.parquet(s"$dir/part.parquet")))

    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/m.parquet")
    Seq((2L, 0.5)).toDF("k", "w").write.mode("append")
      .parquet(s"$dir/m.parquet")
    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    sameAsInference(merging, dir, "m")
    assert(Tables.table(merging, dir.toString, "m").columns.toSet ===
      Set("k", "v", "w"))
    assert(JobCount(spark)(Tables.table(merging, dir.toString, "m")) ===
      JobCount(spark)(merging.read.parquet(s"$dir/m.parquet")))
  }

  test("an empty or missing directory fails exactly as inference does") {
    val dir = freshDir()
    Files.createDirectory(dir.resolve("empty.parquet"))
    Files.writeString(dir.resolve("empty.parquet").resolve("_SUCCESS"), "")
    Seq("empty", "missing").foreach { name =>
      val got = intercept[Exception](Tables.table(spark, dir.toString, name))
      val want = intercept[Exception](
        spark.read.parquet(s"$dir/$name.parquet"))
      assert(got.getClass === want.getClass, name)
      assert(got.getMessage === want.getMessage, name)
    }
  }
}
