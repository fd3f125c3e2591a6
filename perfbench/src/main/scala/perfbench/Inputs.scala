package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's input tables, generated from nothing but a scale.
  *
  * Same schemas, value domains and key relationships as `graft.GenData`
  * (every column a pure xxhash64 function of its row key, so output is
  * byte-stable across runs and partitionings), with two differences:
  *   - the scale is fractional (1.0 = the sf0.1 row counts, 10 = sf1),
  *     so the Alg-1 workload can run a rung below sf0.1;
  *   - `region` and `nation` are the TPC-H dimension rows written inline,
  *     where `GenData` copies them from an external fixture directory.
  * `documents` and `embeddings` come from `GenData`'s own builders.
  */
object Inputs {
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
    "MIDDLE EAST")
  private val Nations = Seq(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1,
    "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3,
    "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2,
    "JORDAN" -> 4, "KENYA" -> 0, "MOROCCO" -> 0, "MOZAMBIQUE" -> 0,
    "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3, "SAUDI ARABIA" -> 4,
    "VIETNAM" -> 2, "RUSSIA" -> 3, "UNITED KINGDOM" -> 3,
    "UNITED STATES" -> 1)
  private val Mkt = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val PType = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
    "SMALL", "STANDARD")
  private val PAdj = Seq("blue", "cold", "hot", "large", "small", "shiny",
    "plain", "round")
  private val PNoun = Seq("anvil", "bolt", "gear", "gizmo", "plate",
    "ring", "rod", "widget")
  private val Prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val EvType = Seq("view", "click", "purchase", "signup", "error")

  private def h(key: Column, stream: Int, n: Long) =
    pmod(xxhash64(key, lit(stream)), lit(n))

  private def pick(key: Column, stream: Int, vs: Seq[String]) =
    element_at(array(vs.map(lit): _*), (h(key, stream, vs.size) + 1)
      .cast(IntegerType))

  private val SylA = Seq("ba", "ce", "di", "fo", "gu", "ha", "je", "ki",
    "lo", "mu", "na", "pe", "qi", "ro", "su", "ta", "ve", "wi", "yo", "zu")
  private val SylB = Seq("bel", "cor", "dan", "fir", "gol", "hem", "jun",
    "kan", "lim", "mor", "nev", "pol", "qua", "rus", "sel", "tor", "vin",
    "wex", "yar", "zem")
  private val SylC = Seq("ad", "eb", "ic", "od", "uf", "ag", "eh", "ij",
    "ok", "ul", "am", "en", "ip", "oq", "ur", "as", "et", "iv", "ow",
    "ux", "az", "ey", "ib", "oc", "ud")

  /** Rank in [0, 9999] spelled as a unique 3-syllable pseudo-word, the
    * spelling `GenData` uses for its document and part-name vocabulary. */
  private def zipfWord(rank: Column) = {
    def at(vs: Seq[String], i: Column) =
      element_at(array(vs.map(lit): _*), (i + 1).cast(IntegerType))
    concat(at(SylA, pmod(rank, lit(20))),
      at(SylB, pmod((rank / 20).cast(IntegerType), lit(20))),
      at(SylC, pmod((rank / 400).cast(IntegerType), lit(25))))
  }

  private def rows(base: Long, scale: Double): Long =
    math.max(1L, math.round(base * scale))

  def write(spark: SparkSession, out: String, scale: Double): Unit = {
    import spark.implicits._
    val nCust = rows(15000, scale)
    val nSupp = rows(1000, scale)
    val nPart = rows(20000, scale)
    val nOrd = rows(150000, scale)
    val nEvt = rows(100000, scale)
    val nDoc = rows(5000, scale)
    val nEmb = rows(2000, scale)
    val ts0 = lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))

    def save(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    save(Regions.zipWithIndex.map { case (n, i) => (i, n) }
      .toDF("r_regionkey", "r_name"), "region", 1)
    save(Nations.zipWithIndex.map { case ((n, r), i) => (i, n, r) }
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation", 1)

    save(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h(col("id"), 1, 25).cast(IntegerType).as("c_nationkey"),
      (lit(1000.0) + h(col("id"), 2, 900000) / 100.0).as("c_acctbal"),
      pick(col("id"), 3, Mkt).as("c_mktsegment")), "customer", 4)

    save(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h(col("id"), 4, 25).cast(IntegerType).as("s_nationkey"),
      (lit(1000.0) + h(col("id"), 5, 900000) / 100.0).as("s_acctbal")),
      "supplier", 2)

    // a third name word whose domain grows with the catalog keeps
    // same-name groups O(1) in size at every scale
    val nameSuffixes = math.max(1L, math.min(10000L, nPart / 300L))
    save(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(col("id"), 6, PAdj), pick(col("id"), 7, PNoun),
        zipfWord(h(col("id"), 42, nameSuffixes)))
        .as("p_name"),
      concat(lit("Brand#"), h(col("id"), 8, 25) + 1).as("p_brand"),
      pick(col("id"), 9, PType).as("p_type"),
      (h(col("id"), 10, 50) + 1).cast(IntegerType).as("p_size"),
      (lit(900.0) + col("id") % 100000 / 10.0).as("p_retailprice")),
      "part", 4)

    val orders = spark.range(nOrd).select(
      col("id").as("o_orderkey"),
      h(col("id"), 11, nCust).as("o_custkey"),
      pick(col("id"), 12, Seq("O", "F", "P")).as("o_orderstatus"),
      (lit(1000.0) + h(col("id"), 13, 49900000) / 100.0)
        .as("o_totalprice"),
      timestamp_add("DAY", h(col("id"), 14, 2400).cast(IntegerType), ts0)
        .as("o_orderdate"),
      pick(col("id"), 15, Prio).as("o_orderpriority"))
    save(orders, "orders", 8)

    // 1–7 lines per order, keyed off the order so joins are consistent
    val li = orders.select(col("o_orderkey"), col("o_orderdate"))
      .withColumn("l_linenumber", explode(sequence(lit(1),
        (h(col("o_orderkey"), 16, 7) + 1).cast(IntegerType))))
    val liKey = col("o_orderkey") * 10 + col("l_linenumber")
    save(li.select(
      col("o_orderkey").as("l_orderkey"),
      h(liKey, 17, nPart).as("l_partkey"),
      h(liKey, 18, nSupp).as("l_suppkey"),
      col("l_linenumber"),
      (h(liKey, 19, 50) + 1).cast(DoubleType).as("l_quantity"),
      (lit(900.0) + h(liKey, 20, 10410000) / 100.0).as("l_extendedprice"),
      (h(liKey, 21, 11) / 100.0).as("l_discount"),
      (h(liKey, 22, 9) / 100.0).as("l_tax"),
      pick(liKey, 23, Seq("N", "A", "R")).as("l_returnflag"),
      pick(liKey, 24, Seq("O", "F")).as("l_linestatus"),
      timestamp_add("DAY", (h(liKey, 25, 95) + 1).cast(IntegerType),
        col("o_orderdate")).as("l_shipdate")), "lineitem", 16)

    // events: ids ordered by ts over 30 days, jitter below half the gap.
    // Written as ONE parquet file: the streaming replay lists files with
    // pathGlobFilter=events.parquet, which matches leaf file names.
    val gapUs = 30L * 86400L * 1000000L / nEvt
    val events = spark.range(nEvt).select(
      col("id").as("event_id"),
      timestamp_add("MICROSECOND",
        col("id") * gapUs + h(col("id"), 26, math.max(1L, gapUs / 2)),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).as("ts"),
      h(col("id"), 27, nCust).as("user_id"),
      pick(col("id"), 28, EvType).as("event_type"),
      (h(col("id"), 29, 56022) / 100.0).as("value"),
      format_string("{\"k\": %d}", h(col("id"), 30, 100)).as("props"))
    val tmp = s"$out/_events_tmp"
    events.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part under $tmp"))
    val dst = new java.io.File(s"$out/events.parquet")
    if (dst.exists()) Main.rmTree(dst)
    java.nio.file.Files.move(part.toPath, dst.toPath)
    Main.rmTree(new java.io.File(tmp))

    save(graft.GenData.documentsDf(spark, nDoc), "documents", 4)
    save(graft.GenData.embeddingsDf(spark, nEmb), "embeddings", 2)
  }
}
