package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs._

/** End-to-end semantics of the nine SANEF jobs (SURVEY.md §2.12) against
  * hand-computed reference-shaped fixtures (FIXTURES.md §B). Each expected
  * value below was derived by hand from the reference's behavior
  * (SANEF_Uploader.py sites cited per job in SanefJobs).
  */
class SanefJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-jobs-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def df(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      schema)

  private def jsonDf(bodies: Seq[String]): DataFrame = {
    import spark.implicits._
    bodies.toDF("body")
  }

  import ElectionSchemas._

  /** Fixture world:
    * - wards 101,102 (P1/M1117), 103 (P1/M1101), 901,902,903 (P9/M9001)
    * - completed wards (delim 78, no zero-vote VD at event 1091):
    *   101, 103, 901, 903 (902 has a zero VD; 904 is delim 77)
    */
  object Fx extends ElectionSources {
    def wards: DataFrame = df(ElectionSchemas.wards, Seq(
      Row(1, 1117, 101L), Row(1, 1117, 102L), Row(1, 1101, 103L),
      Row(9, 9001, 901L), Row(9, 9001, 902L), Row(9, 9001, 903L)))

    def munis: DataFrame = df(ElectionSchemas.munis, Seq(
      Row(1, 1117, "BUF", "Buffalo City", 1),
      Row(1, 1101, "DC10", "Sarah Baartman", 3),
      Row(9, 9001, "CPT", "Cape Town", 1),
      Row(8, 8001, "JB1", "Unused Muni", 2)))

    def votingDistricts: DataFrame = df(ElectionSchemas.votingDistricts, Seq(
      Row(101L, 78), Row(101L, 78), // duplicate → DISTINCT must collapse
      Row(102L, 78), Row(103L, 78),
      Row(901L, 78), Row(902L, 78), Row(903L, 78),
      Row(904L, 77))) // wrong delimitation → excluded

    def displayVotingDistricts: DataFrame =
      df(ElectionSchemas.displayVotingDistricts, Seq(
        Row(101L, 1L, 10L, 1091), Row(101L, 1L, 5L, 1091),
        Row(101L, 2L, 3L, 1091),
        Row(102L, 3L, 0L, 1091), Row(102L, 3L, 0L, 1091), // sums to 0 → unfinished
        Row(103L, 4L, 7L, 1091),
        Row(901L, 5L, 0L, 1091), Row(901L, 5L, 5L, 1091), // sums to 5 → fine
        Row(902L, 6L, 0L, 1091),                          // zero VD → unfinished
        Row(902L, 7L, 9L, 1091),
        Row(903L, 8L, 4L, 999)))  // other event → no 1091 rows → completed

    def vdStats: DataFrame = df(ElectionSchemas.vdStats, Seq(
      Row(101L, 100L, 40L, 1091), Row(101L, 100L, 20L, 1091),
      Row(101L, 50L, 10L, 1091),
      Row(103L, 80L, 40L, 1091),
      Row(901L, 60L, 30L, 1091), Row(901L, 999L, 999L, 999),
      Row(902L, 70L, 35L, 1091))) // not completed → excluded

    def councilWinners: DataFrame = df(ElectionSchemas.councilWinners, Seq(
      //  pk,  EE,  muni, party, lead, maj, avail, won, draw, hung
      Row(1L, 1091, 1117, 1, 1, 1, 10, 6, 0, 1),
      Row(2L, 1091, 1101, 2, 2, 2, 8, 5, 0, 0),
      Row(3L, 1091, 9001, 1, 1, 1, 12, 7, 0, 0),
      Row(4L, 1091, 7777, 1, 1, 1, 5, 3, 0, 1), // muni not in Munis.csv → dropped
      Row(5L, 999, 1117, 2, 2, 2, 10, 6, 0, 1))) // other event → excluded

    def parties: DataFrame = df(ElectionSchemas.parties, Seq(
      Row(1, "Party A", "PA"), Row(2, "Party B", "PB")))

    def displayWard: DataFrame = df(ElectionSchemas.displayWard, Seq(
      Row(1L, 1091, 101L, "Ward 101", 1, "Party A", "PA", 100L, 60L, "", 42L),
      Row(2L, 1091, 101L, "Ward 101", 2, "Party B", "PB", 100L, 60L, "", 18L),
      Row(3L, 1091, 103L, "Ward 103", 1, "Party A", "PA", 80L, 40L, "", 40L),
      Row(4L, 1091, 902L, "Ward 902", 1, "Party A", "PA", 70L, 35L, "", 35L),
      Row(5L, 999, 101L, "Ward 101", 1, "Party X", "PX", 1L, 1L, "", 1L)))

    def wardCandidates: DataFrame = df(ElectionSchemas.wardCandidates, Seq(
      Row(1L, 1091, 101L, "Ward 101", 1, "Alice Smith", 11L, 1, "Party A",
        "PA", 30L),
      Row(2L, 1091, 101L, "Ward 101", 2, "Bob Jones", 12L, 2, "Party B",
        "PB", 12L),
      Row(3L, 1091, 103L, "Ward 103", 1, "Carol White", 13L, 1, "Party A",
        "PA", 40L),
      Row(4L, 1091, 902L, "Ward 902", 1, "Dan Black", 14L, 1, "Party A",
        "PA", 35L),
      Row(5L, 999, 101L, "Ward 101", 1, "Eve Grey", 15L, 1, "Party X",
        "PX", 1L)))

    def ballotResultsJson: DataFrame = jsonDf(Seq(
      """{"WardID": 101, "PartyBallotResults": [
        |{"Name": "Party A", "TotalValidVotes": 30},
        |{"Name": "Party B", "TotalValidVotes": 12}]}""".stripMargin,
      """{"WardID": 902, "PartyBallotResults": [
        |{"Name": "Party A", "TotalValidVotes": 35}]}""".stripMargin,
      """{"WardID": 903, "PartyBallotResults": [
        |{"Name": "Party A", "TotalValidVotes": 4}]}""".stripMargin))

    def councilorsJson: DataFrame = jsonDf(Seq(
      """[{"WardID": 101, "Name": "Alice Smith", "PartyName": "Party A"},
        |{"WardID": 101, "Name": "Bob Jones", "PartyName": "Party B"},
        |{"WardID": 102, "Name": "Carol White", "PartyName": "Party A"}]"""
        .stripMargin))

    def seatResultsJson: DataFrame = jsonDf(Seq(
      """{"MunicipalityID": 1117, "PartyResults": [
        |{"Name": "Party A", "WardSeats": 3, "PRSeats": 2},
        |{"Name": "Party B", "WardSeats": 1, "PRSeats": 0}]}""".stripMargin,
      """{"MunicipalityID": 7777, "PartyResults": [
        |{"Name": "Party A", "WardSeats": 9, "PRSeats": 9}]}""".stripMargin,
      "null")) // a None response (guard at SANEF_Uploader.py:577)
  }

  private def rows(d: DataFrame): Seq[Seq[Any]] =
    d.collect().toSeq.map(_.toSeq)

  test("completedWards: anti-join spine with delim + zero-VD semantics") {
    val got = SanefJobs.completedWards(Fx, JobConfig())
    assert(rows(got) === Seq(
      Seq(1, 1117, 101L), Seq(1, 1101, 103L),
      Seq(9, 9001, 901L), Seq(9, 9001, 903L)))
  }

  test("ward_votes_by_party: explode + semi-join on completed wards") {
    val got = SanefJobs.run(spark, Fx, "ward_votes_by_party")
    assert(got.columns.toSeq === Seq("Geography", "Party", "Count"))
    assert(rows(got) === Seq(
      Seq(101L, "Party A", 30L), Seq(101L, "Party B", 12L),
      Seq(903L, "Party A", 4L))) // 902 dropped: not completed
  }

  test("voter_turnout: distinct-registered tvoters, Voted/Didn't Vote") {
    val got = SanefJobs.run(spark, Fx, "voter_turnout")
    assert(got.columns.toSeq === Seq("Geography", "Voter Turnout", "Count"))
    assert(rows(got) === Seq(
      Seq(101L, "Voted", 70L), Seq(101L, "Didn't Vote", 80L),
      Seq(103L, "Voted", 40L), Seq(103L, "Didn't Vote", 40L),
      Seq(901L, "Voted", 30L), Seq(901L, "Didn't Vote", 30L)))
  }

  test("ward_votes_by_candidate: abbr - name concat, EE + completed filter") {
    val got = SanefJobs.run(spark, Fx, "ward_votes_by_candidate")
    assert(rows(got) === Seq(
      Seq("Ward 101", "PA - Alice Smith", 30L),
      Seq("Ward 101", "PB - Bob Jones", 12L),
      Seq("Ward 103", "PA - Carol White", 40L)))
  }

  test("ward_councillor_elected: first-wins dedup by ward in payload order") {
    val got = SanefJobs.run(spark, Fx, "ward_councillor_elected")
    assert(got.columns.toSeq === Seq("Geography", "Contents"))
    assert(rows(got) === Seq(
      Seq(101L, "Alice Smith - Party A"), // Bob Jones (same ward) dropped
      Seq(102L, "Carol White - Party A")))
  }

  test("pr_votes_by_party: display-ward projection on completed wards") {
    val got = SanefJobs.run(spark, Fx, "pr_votes_by_party")
    assert(rows(got) === Seq(
      Seq("Ward 101", "Party A", 42L), Seq("Ward 101", "Party B", 18L),
      Seq("Ward 103", "Party A", 40L)))
  }

  test("hung_councils: per-province Hung / Outright Majority") {
    val got = SanefJobs.run(spark, Fx, "hung_councils")
    assert(got.columns.toSeq === Seq("Geography", "Councils", "Count"))
    assert(rows(got) === Seq(
      Seq("EC", "Hung", 1L), Seq("EC", "Outright Majority", 1L),
      Seq("WC", "Hung", 0L), Seq("WC", "Outright Majority", 1L)))
  }

  test("councils_won_by_party: bHung=0, party-name join, row counts") {
    val got = SanefJobs.run(spark, Fx, "councils_won_by_party")
    assert(rows(got) === Seq(
      Seq("EC", "Party B", 1L), Seq("WC", "Party A", 1L)))
  }

  test("list_of_hung_councils: exact HTML byte format") {
    val got = SanefJobs.run(spark, Fx, "list_of_hung_councils")
    assert(rows(got) === Seq(Seq("EC",
      "<ul><li><a href = https://sanef-local-gov.openup.org.za/#geo:BUF" +
        ">BUF - Buffalo City </a> </li></ul>")))
  }

  test("seats_won: Ward/PR unpivot, missing muni dropped, null guarded") {
    val got = SanefJobs.run(spark, Fx, "seats_won")
    assert(got.columns.toSeq ===
      Seq("Geography", "Party Name", "Seat Type", "Count"))
    assert(rows(got) === Seq(
      Seq("BUF", "Party A", "Ward", 3), Seq("BUF", "Party A", "PR", 2),
      Seq("BUF", "Party B", "Ward", 1), Seq("BUF", "Party B", "PR", 0)))
  }

  test("reset frames reproduce each job's placeholder row and columns") {
    SanefJobs.all.foreach { spec =>
      val got = SanefJobs.run(spark, Fx, spec.name, reset = true)
      assert(got.columns.toSeq === spec.resetColumns, spec.name)
      assert(rows(got) === Seq(spec.resetRow), spec.name)
    }
  }

  test("CsvSink writes one headered CSV with the stamped name") {
    val out = java.nio.file.Files.createTempDirectory("graft-csv").toString
    val name = CsvSink.stampedName(
      "hung_councils",
      java.time.ZonedDateTime.of(2021, 11, 3, 14, 7, 0, 0,
        java.time.ZoneOffset.UTC))
    assert(name === "hung_councils.03112021-1407.csv")
    val path = CsvSink.write(
      SanefJobs.run(spark, Fx, "hung_councils"), out, name)
    val lines = scala.io.Source.fromFile(path.toFile).getLines().toSeq
    assert(lines === Seq(
      "Geography,Councils,Count",
      "EC,Hung,1", "EC,Outright Majority,1",
      "WC,Hung,0", "WC,Outright Majority,1"))
  }

  /** Each job's sort keys — the terminal global orderBy each job used
    * before its output became one sorted partition.
    */
  private val sortKeys: Map[String, Seq[Column]] = Map(
    "completed_wards" -> Seq(col("WardID")),
    "ward_votes_by_party" -> Seq(col("Geography"), col("Party")),
    "voter_turnout" -> Seq(col("Geography"), col("Voter Turnout").desc),
    "ward_votes_by_candidate" -> Seq(col("Geography"), col("Party")),
    "ward_councillor_elected" -> Seq(col("Geography")),
    "pr_votes_by_party" -> Seq(col("Geography"), col("Party")),
    "hung_councils" -> Seq(col("Geography"), col("Councils")),
    "councils_won_by_party" -> Seq(col("Geography"), col("Party")),
    "list_of_hung_councils" -> Seq(col("Geography")),
    "seats_won" ->
      Seq(col("Geography"), col("Party Name"), col("Seat Type").desc))

  test("every job ends in one sorted partition: no range exchange, and " +
    "the same CSV as the global orderBy form") {
    val out = java.nio.file.Files.createTempDirectory("graft-order").toString
    val jobs = SanefJobs.all.map(s => s.name -> SanefJobs.run(spark, Fx,
      s.name)) :+ ("completed_wards" -> SanefJobs.completedWards(Fx,
      JobConfig()))
    assert(jobs.map(_._1).toSet === sortKeys.keySet)
    def plan(d: DataFrame): String = d.queryExecution.executedPlan.toString
    def csv(d: DataFrame, file: String): Seq[String] = {
      val src = scala.io.Source.fromFile(CsvSink.write(d, out, file).toFile)
      try src.getLines().toSeq finally src.close()
    }
    jobs.foreach { case (name, got) =>
      // the global orderBy form over the same rows: several partitions,
      // a range exchange, then CsvSink's coalesce(1)
      val old = got.repartition(4).orderBy(sortKeys(name): _*)
      assert(!plan(got).contains("rangepartitioning"), name)
      // the final sort's exchange is the only one into a single
      // partition: the spine jobs semi-join against the unsorted spine
      assert("Exchange SinglePartition".r.findAllIn(plan(got)).size === 1,
        name)
      assert(plan(old).contains("rangepartitioning"), name)
      val (now, before) = (csv(got, s"$name.csv"), csv(old, s"$name.old.csv"))
      assert(now.head === before.head, name)
      assert(now.tail.sorted === before.tail.sorted, name)
      // every fixture row has unique sort keys, so the order is total and
      // the two files must agree line for line
      assert(now === before, name)
    }
  }

  test("HttpUploadSink posts multipart with token auth; fails on non-2xx") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var seenAuth: String = null
    @volatile var seenBody: String = null
    @volatile var status = 200
    server.createContext("/api/v1/datasets/1384/upload/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        seenAuth = ex.getRequestHeaders.getFirst("Authorization")
        seenBody = new String(ex.getRequestBody.readAllBytes())
        ex.sendResponseHeaders(status, 2)
        ex.getResponseBody.write("ok".getBytes); ex.close()
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val csv = java.nio.file.Files.createTempFile("graft", ".csv")
      java.nio.file.Files.writeString(csv, "Geography,Count\nEC,1\n")
      val code = HttpUploadSink.upload(
        s"http://127.0.0.1:$port", "tok123", 1384, csv)
      assert(code === 200)
      assert(seenAuth === "Token tok123")
      assert(seenBody.contains("name=\"update\"\r\n\r\nTrue"))
      assert(seenBody.contains("name=\"overwrite\"\r\n\r\nTrue"))
      assert(seenBody.contains("Geography,Count"))
      status = 500
      assertThrows[RuntimeException] {
        // retries=0 so the deliberate 500 fails immediately
        HttpUploadSink.upload(
          s"http://127.0.0.1:$port", "tok123", 1384, csv, retries = 0)
      }
    } finally server.stop(0)
  }

  test("HttpUploadSink retries transient 5xx with backoff; 4xx fails fast") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    // first two attempts 503, third succeeds — the reference's flaky
    // endpoint regime (SANEF_Uploader.py:57-64 swallows these)
    @volatile var plan: Seq[Int] = Seq(503, 503, 200)
    @volatile var lastBody: String = null
    server.createContext("/api/v1/datasets/77/upload/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        lastBody = new String(ex.getRequestBody.readAllBytes())
        val n = hits.getAndIncrement()
        val code = plan(math.min(n, plan.size - 1))
        ex.sendResponseHeaders(code, 2)
        ex.getResponseBody.write("ok".getBytes)
        ex.close()
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val csv = java.nio.file.Files.createTempFile("graft", ".csv")
      java.nio.file.Files.writeString(csv, "Geography,Count\nEC,1\n")
      val code = HttpUploadSink.upload(
        s"http://127.0.0.1:$port", "tok", 77, csv, retries = 2, backoffMs = 1)
      assert(code === 200)
      assert(hits.get() === 3) // two 503s consumed, third attempt landed
      // the body must be rebuilt intact on the winning attempt
      assert(lastBody.contains("Geography,Count"))
      // deterministic 4xx: no retry — exactly one additional request
      hits.set(0)
      plan = Seq(403, 200)
      val e = intercept[RuntimeException] {
        HttpUploadSink.upload(
          s"http://127.0.0.1:$port", "tok", 77, csv, retries = 2,
          backoffMs = 1)
      }
      assert(e.getMessage.contains("403"))
      assert(hits.get() === 1)
      // retries exhausted: persistent 503 still surfaces the error
      hits.set(0)
      plan = Seq(503, 503, 503, 503)
      assertThrows[RuntimeException] {
        HttpUploadSink.upload(
          s"http://127.0.0.1:$port", "tok", 77, csv, retries = 2,
          backoffMs = 1)
      }
      assert(hits.get() === 3) // initial attempt + 2 retries
    } finally server.stop(0)
  }
}
