package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed gives the same bytes of input;
  * every value is a hash of (row id, seed, column salt), so generation
  * does not depend on partitioning.
  */
final class Gen(spark: SparkSession, seed: Long, parts: Int) {

  private def h(salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
  private def pick(salt: Int, n: Int): Column = pmod(h(salt), lit(n))
  /** Uniform in [0, 1). */
  private def u(salt: Int): Column =
    pmod(h(salt), lit(1000003)).cast("double") / 1000003.0
  private def oneOf(salt: Int, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (pick(salt, xs.size) + 1).cast("int"))
  private def rows(n: Long): DataFrame = spark.range(0, n, 1, parts).toDF()
  private def stamp(base: String, days: Int, salt: Int): Column =
    timestamp_seconds(unix_timestamp(lit(base)) + pick(salt, days) * 86400L)

  /** The TPC-H tables the election sources read, at scale factor `sf`:
    * region, nation, customer, supplier and orders.
    */
  def tpch(dir: String, sf: Double): Unit = {
    val nCust = math.max(150L, (150000 * sf).toLong)
    val nSupp = math.max(10L, (10000 * sf).toLong)
    val nOrd = math.max(1500L, (1500000 * sf).toLong)
    val writes = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def save(name: String)(df: => DataFrame): Unit = writes += (() =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet"))
    save("region")(rows(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast("int"))
        .as("r_name")).coalesce(1))
    save("nation")(rows(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")).coalesce(1))
    save("customer")(rows(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pick(1, 25).cast("int").as("c_nationkey"),
      round(u(2) * 10999.65 - 999.85, 2).as("c_acctbal"),
      oneOf(3, "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
        "FURNITURE").as("c_mktsegment")))
    save("supplier")(rows(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pick(1, 25).cast("int").as("s_nationkey"),
      round(u(2) * 10999.65 - 999.85, 2).as("s_acctbal")))
    save("orders")(rows(nOrd).select(col("id").as("o_orderkey"),
      pick(1, nCust.toInt).as("o_custkey"),
      oneOf(2, "F", "O", "P").as("o_orderstatus"),
      round(lit(1000.0) + u(3) * 499000.0, 2).as("o_totalprice"),
      stamp("1995-01-01 00:00:00", 2404, 4).as("o_orderdate"),
      oneOf(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").as("o_orderpriority")))
    // tables are independent: write them three at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try writes.map(w => pool.submit((() => w()): Runnable)).foreach(_.get())
    finally pool.shutdown()
  }
}

/** Driver-side seeded Zipf text, for inputs built row by row. */
final class ZipfText(seed: Long, vocab: Int) {
  private val rnd = new java.util.SplittableRandom(seed)
  def word(): String =
    "w" + (math.floor(math.exp(rnd.nextDouble() * math.log(vocab + 1.0)))
      .toLong - 1)
  def words(minLen: Int, maxLen: Int): Array[String] =
    Array.fill(minLen + rnd.nextInt(maxLen - minLen + 1))(word())
  def int(n: Int): Int = rnd.nextInt(n)
  def double(): Double = rnd.nextDouble()
}
