package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators.
  *
  * Tables: the ten tables the query inventory reads, with the column
  * names, types and value domains of the TPC-H-ish test fixtures, made
  * from a FIXED table seed so the committed output fingerprints hold for
  * every run. Every value is a hash of (row id, column salt), so the
  * output does not depend on partitioning or task order.
  *
  * ETL inputs (league CSVs, odds JSON, xG standings, dims, lake batches)
  * come from the run's `--seed`, folded onto [[EtlVariants]] input
  * variants so every variant's outputs have a committed fingerprint.
  */
object Gen {

  val TableSeed = 42L
  val EtlVariants = 4

  /** uniform double in [0, 1) from (id columns, salt) */
  def u(salt: Long, ids: Column*): Column =
    (xxhash64((ids :+ lit(salt)): _*).bitwiseAND(lit((1L << 53) - 1)).cast("double") /
      lit((1L << 53).toDouble))

  private def pick(values: Seq[String], r: Column): Column =
    element_at(array(values.map(lit): _*), (floor(r * values.size) + 1).cast("int"))

  private def ts(base: String, plusSeconds: Column): Column =
    timestamp_seconds(unix_timestamp(lit(base)) + plusSeconds)

  val vocab: Seq[String] = Seq("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark", "line",
    "sort", "window", "data", "column", "order", "join", "small", "big", "query",
    "customer", "filter", "stream", "group", "vector", "label", "node", "edge",
    "token", "model")

  /** Row counts per table at scale factor `sf` (TPC-H-style ratios). */
  def rows(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> math.round(150000 * sf), "supplier" -> math.round(10000 * sf),
    "part" -> math.round(200000 * sf), "orders" -> math.round(1500000 * sf),
    "lineitem" -> math.round(6000000 * sf), "events" -> math.round(1000000 * sf),
    "documents" -> math.round(50000 * sf),
    "embeddings" -> math.max(500L, math.round(20000 * sf)))

  def tables(spark: SparkSession, sf: Double): Map[String, DataFrame] = {
    val n = rows(sf)
    val s = TableSeed
    def ids(t: String) = spark.range(n(t)).toDF("id")
    val id = col("id")
    val region = spark.createDataFrame(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
      "MIDDLE EAST").zipWithIndex.map { case (r, i) => (i, r) })
      .toDF("r_regionkey", "r_name")
    val nation = ids("nation").select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey"))
    val customer = ids("customer").select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      floor(u(s + 1, id) * 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u(s + 2, id) * 10999.8, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        u(s + 3, id)).as("c_mktsegment"))
    val supplier = ids("supplier").select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      floor(u(s + 4, id) * 25).cast("int").as("s_nationkey"),
      round(lit(-999.99) + u(s + 5, id) * 10999.8, 2).as("s_acctbal"))
    val part = ids("part").select(id.as("p_partkey"),
      concat_ws(" ",
        pick(Seq("small", "large", "red", "blue", "hot", "cold", "old", "new"), u(s + 6, id)),
        pick(Seq("ring", "bolt", "widget", "gear", "plate", "rod", "anvil", "nut"), u(s + 7, id)))
        .as("p_name"),
      concat(lit("Brand#"), (floor(u(s + 8, id) * 25) + 1).cast("string")).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), u(s + 9, id))
        .as("p_type"),
      (floor(u(s + 10, id) * 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) / 10.0, 2).as("p_retailprice"))
    val orders = ids("orders").select(id.as("o_orderkey"),
      floor(u(s + 11, id) * n("customer")).cast("long").as("o_custkey"),
      pick(Seq("F", "O", "P"), u(s + 12, id)).as("o_orderstatus"),
      round(lit(1000.0) + u(s + 13, id) * 499000.0, 2).as("o_totalprice"),
      ts("1995-01-01 00:00:00", floor(u(s + 14, id) * 2404) * 86400).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), u(s + 15, id))
        .as("o_orderpriority"))
    val qty = floor(u(s + 18, id) * 50) + 1
    val lineitem = ids("lineitem").select(
      floor(u(s + 16, id) * n("orders")).cast("long").as("l_orderkey"),
      floor(u(s + 17, id) * n("part")).cast("long").as("l_partkey"),
      floor(u(s + 19, id) * n("supplier")).cast("long").as("l_suppkey"),
      (floor(u(s + 20, id) * 7) + 1).cast("int").as("l_linenumber"),
      qty.cast("double").as("l_quantity"),
      round(qty * (lit(900.0) + u(s + 21, id) * 1200.0), 2).as("l_extendedprice"),
      (floor(u(s + 22, id) * 11) / 100.0).as("l_discount"),
      (floor(u(s + 23, id) * 9) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), u(s + 24, id)).as("l_returnflag"),
      pick(Seq("F", "O"), u(s + 25, id)).as("l_linestatus"),
      ts("1995-01-02 00:00:00", floor(u(s + 26, id) * 2497) * 86400).as("l_shipdate"))
    // 30 days of events in id order, ~uniform spacing plus jitter
    val spanMicros = 30L * 86400L * 1000000L
    val users = math.max(150L, math.round(15000 * sf))
    val events = ids("events").select(id.as("event_id"),
      timestamp_micros(lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000) +
        floor((id + u(s + 27, id)) * (spanMicros.toDouble / n("events"))).cast("long"))
        .as("ts"),
      floor(u(s + 28, id) * users).cast("long").as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), u(s + 29, id)).as("event_type"),
      round(pow(u(s + 30, id), 2) * 560.0, 2).as("value"),
      concat(lit("{\"k\": "), floor(u(s + 31, id) * 100).cast("string"), lit("}")).as("props"))
    // documents: 3% are near-copies of a recent document with one word
    // changed, so the dedup and similarity families find real pairs
    val dup = u(s + 32, id) < 0.03 && id > 10
    val textKey = when(dup, id - 1 - floor(u(s + 33, id) * 10).cast("long")).otherwise(id)
    val words = (floor(u(s + 34, textKey) * 92) + 8).cast("int")
    val swapAt = floor(u(s + 35, id) * words).cast("int") + 1
    val vocabArr = array(vocab.map(lit): _*)
    val text = array_join(transform(sequence(lit(1), words), i =>
      element_at(vocabArr, (pmod(xxhash64(
        when(dup && i === swapAt, id * 1000 + i).otherwise(textKey * 1000 + i), lit(s + 36)),
        lit(vocab.size.toLong)) + 1).cast("int"))), " ")
    val documents = ids("documents").select(id.as("doc_id"), text.as("text"),
      pick(Seq("de", "en", "en", "en", "es", "fr", "zh"), u(s + 37, id)).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val label = floor(u(s + 38, id) * 10).cast("int")
    val embeddings = ids("embeddings").select(id.as("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        (((u(s + 39, label, i) - 0.5) * 0.4) + ((u(s + 40, id, i) - 0.5) * 0.3)).cast("float"))
        .as("embedding"),
      label.as("label"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Write every table as ONE parquet file `<dir>/<table>.parquet`. */
  def writeTables(spark: SparkSession, dir: String, sf: Double): Unit = {
    Files.createDirectories(Paths.get(dir))
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    tables(spark, sf).foreach { case (name, df) =>
      val tmp = Paths.get(dir, s"_tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
      val file = try part.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get() finally part.close()
      Files.move(file, Paths.get(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Util.deleteTree(tmp)
    }
  }

  // ------------------------------------------------------------ etl inputs

  private val leagues = Seq("E0", "SP1", "D1", "I1", "F1")
  private def teamsOf(league: Int): Seq[String] =
    (0 until 20).map(t => s"${leagues(league)} Team ${('A' + t).toChar}")

  /** The reference's ten league CSVs (5 leagues x 2 seasons), `rowsPerFile`
    * matches each, in the football-data.co.uk wide format: day-first
    * dates, bookmaker odds with the B365 -> PS fallback (every third file
    * carries only PS columns), a few unparseable dates and missing names.
    */
  def leagueCsvs(dir: Path, variant: Int, rowsPerFile: Int): Seq[Path] = {
    Files.createDirectories(dir)
    val rnd = new java.util.Random(1000L + variant)
    for (lg <- leagues.indices; season <- 0 until 2) yield {
      val psOnly = (lg * 2 + season) % 3 == 2
      val (h, d, a) = if (psOnly) ("PSH", "PSD", "PSA") else ("B365H", "B365D", "B365A")
      val sb = new StringBuilder(s"Div,Date,HomeTeam,AwayTeam,FTHG,FTAG,$h,$d,$a\n")
      val teams = teamsOf(lg)
      val start = java.time.LocalDate.of(2022 + season, 8, 1)
      for (i <- 0 until rowsPerFile) {
        val home = rnd.nextInt(teams.size)
        val away = (home + 1 + rnd.nextInt(teams.size - 1)) % teams.size
        val day = start.plusDays(i.toLong * 280 / rowsPerFile)
        val date = rnd.nextInt(200) match {
          case 0 => "not a date"
          case _ => f"${day.getDayOfMonth}%02d/${day.getMonthValue}%02d/${day.getYear}"
        }
        val homeName = if (rnd.nextInt(300) == 0) "" else teams(home)
        def odds() = f"${1.2 + rnd.nextInt(700) / 100.0}%.2f"
        sb.append(s"${leagues(lg)},$date,$homeName,${teams(away)},${rnd.nextInt(5)}," +
          s"${rnd.nextInt(4)},${odds()},${odds()},${odds()}\n")
      }
      val p = dir.resolve(s"${leagues(lg)}_${2022 + season}.csv")
      Files.writeString(p, sb.toString)
      p
    }
  }

  /** The odds API body: one game per pair of upcoming fixtures, first
    * bookmaker with an h2h market wins, `Tie` aliasing `Draw`.
    */
  def oddsJson(variant: Int, games: Int): String = {
    val rnd = new java.util.Random(2000L + variant)
    (0 until games).map { g =>
      val lg = g % leagues.size
      val teams = teamsOf(lg)
      val home = rnd.nextInt(teams.size)
      val away = (home + 1 + rnd.nextInt(teams.size - 1)) % teams.size
      def price() = f"${1.3 + rnd.nextInt(600) / 100.0}%.2f"
      val draw = if (rnd.nextBoolean()) "Draw" else "Tie"
      val first = if (g % 5 == 0) """{"key":"none","markets":[{"key":"totals","outcomes":[]}]},""" else ""
      s"""{"home_team":"${teams(home)}","away_team":"${teams(away)}",""" +
        f""""commence_time":"2024-09-${1 + g % 28}%02dT15:00:00Z","bookmakers":[$first""" +
        s"""{"key":"bm","markets":[{"key":"h2h","outcomes":[{"name":"${teams(home)}",""" +
        s""""price":${price()}},{"name":"$draw","price":${price()}},""" +
        s"""{"name":"${teams(away)}","price":${price()}}]}]}]}"""
    }.mkString("[", ",", "]")
  }

  /** Current and last season xG standings, metrics as strings (the FBR
    * feed's shape). */
  def xgStandings(spark: SparkSession, variant: Int, season: Int): DataFrame = {
    import spark.implicits._
    val rnd = new java.util.Random(3000L + variant * 10 + season)
    val rows = for (lg <- leagues.indices; t <- teamsOf(lg) if rnd.nextInt(10) > 0) yield {
      def m(base: Double) = f"${base + rnd.nextInt(200) / 100.0}%.2f"
      (t, lg + 1, m(0.8), m(0.8), m(-1.0), m(-0.5))
    }
    rows.toDF("team", "league_id", "xg", "xga", "xgd", "xgd90")
  }

  def dims(spark: SparkSession, variant: Int): graft.pipeline.Pipeline.Dims = {
    import spark.implicits._
    val rnd = new java.util.Random(4000L + variant)
    val all = leagues.indices.flatMap(teamsOf)
    def r() = rnd.nextInt(100) / 100.0
    graft.pipeline.Pipeline.Dims(
      teams = all.map(t => (t, 0.55 + r() * 0.3, 0.5 + r() * 0.3, r())).toDF(
        "team", "gk_rating", "setpiece_rating", "crowd_index"),
      stadiums = all.map(t => (t, s"$t Ground", 36.0 + r() * 20, -9.0 + r() * 25)).toDF(
        "team", "stadium", "lat", "lon"),
      refs = (0 until 6).map(i => (s"Ref $i", 0.2 + r() * 0.3)).toDF("ref_name", "ref_pen_rate"),
      injuries = all.take(30).map(t => (java.sql.Timestamp.valueOf("2022-08-20 00:00:00"), t, r()))
        .toDF("date", "team", "injury_index"),
      lineups = all.take(30).map(t => (java.sql.Timestamp.valueOf("2022-08-20 00:00:00"), t,
        rnd.nextInt(2), rnd.nextInt(2), rnd.nextInt(2)))
        .toDF("date", "team", "key_att_out", "key_def_out", "keeper_changed"),
      nameMap = all.take(17).map(t => (t.toUpperCase, t)).toDF("raw", "canonical"))
  }

  /** Lake batches over `events`: the base layout keeps 3 of 4 rows by a
    * variant-salted hash, the append batch carries the rest; updates and
    * the delete predicate are salted the same way. */
  def lakeBase(events: DataFrame, variant: Int): DataFrame =
    events.filter(pmod(xxhash64(col("event_id"), lit(5000L + variant)), lit(4L)) =!= 0)
  def lakeAppend(events: DataFrame, variant: Int): DataFrame =
    events.filter(pmod(xxhash64(col("event_id"), lit(5000L + variant)), lit(4L)) === 0)
  def lakeUpdates(events: DataFrame, variant: Int): DataFrame =
    events.filter(pmod(xxhash64(col("event_id"), lit(6000L + variant)), lit(50L)) === 0)
      .select(col("event_id"), round(col("value") * 1.1 + 1.0, 2).as("value"))
  def lakeDelete(variant: Int): Column =
    col("event_type") === Seq("click", "error", "purchase", "signup", "view")(variant % 5) &&
      col("value") < 50.0
}
