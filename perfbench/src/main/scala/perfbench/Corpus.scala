package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic generator for the engine's query corpus: the TPC-H-like
  * star schema plus the `events`, `documents` and `embeddings` tables, with
  * the schemas and value ranges the registry queries read (one Parquet
  * dataset per table under `dir/<table>.parquet`).
  *
  * Every value is a hash of (seed, column tag, row id), so a table is the
  * same for a given (seed, sf) whatever the partitioning or core count. The
  * benchmark always generates with [[Seed]]: the golden row counts in
  * `golden/` were taken on that corpus.
  */
object Corpus {
  val Seed = 42L

  private val vocab = Seq("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "a", "the",
    "line", "sort", "window", "data", "column", "join", "small", "customer",
    "query", "big", "stream", "order", "group", "filter", "vector")

  def generate(spark: SparkSession, dir: String, sf: Double, seed: Long = Seed): Unit = {
    def rows(base: Double): Long = math.max(1L, math.round(base * sf))
    // uniform draw in [0, 1) and integer draw in [lo, hi], per row and tag
    def u(tag: String) = s"(pmod(xxhash64(${seed}L, '$tag', id), 1000003) / 1000003.0)"
    def ri(tag: String, lo: Long, hi: Long) =
      s"($lo + pmod(xxhash64(${seed}L, '$tag', id), ${hi - lo + 1}L))"
    def money(tag: String, lo: Double, hi: Double) =
      s"round($lo + ${u(tag)} * ${hi - lo}, 2)"
    def pick(tag: String, xs: Seq[String]) =
      s"element_at(array(${xs.map(x => s"'$x'").mkString(",")}), cast(${ri(tag, 1, xs.size)} as int))"
    def day(tag: String, from: String, days: Int) =
      s"cast(date_add(date'$from', cast(${ri(tag, 0, days - 1)} as int)) as timestamp)"

    def write(name: String, n: Long, cols: (String, String)*): Unit = {
      val df: DataFrame = spark.range(0, n, 1, 1)
        .selectExpr(cols.map { case (c, e) => s"$e AS $c" }: _*)
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

    val nSupp = rows(10000); val nCust = rows(150000); val nPart = rows(200000)
    val nOrders = rows(1500000); val nLine = rows(6000000); val nEvents = rows(1000000)
    val nDocs = math.max(500L, rows(50000)); val nUsers = math.max(150L, rows(15000))

    write("region", 5,
      "r_regionkey" -> "cast(id as int)",
      "r_name" -> "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), cast(id + 1 as int))")
    write("nation", 25,
      "n_nationkey" -> "cast(id as int)",
      "n_name" -> "concat('NATION_', id)",
      "n_regionkey" -> "cast(id % 5 as int)")
    write("supplier", nSupp,
      "s_suppkey" -> "id",
      "s_name" -> "concat('Supplier#', lpad(cast(id as string), 9, '0'))",
      "s_nationkey" -> s"cast(${ri("sn", 0, 24)} as int)",
      "s_acctbal" -> money("sa", -999.99, 9999.99))
    write("customer", nCust,
      "c_custkey" -> "id",
      "c_name" -> "concat('Customer#', lpad(cast(id as string), 9, '0'))",
      "c_nationkey" -> s"cast(${ri("cn", 0, 24)} as int)",
      "c_acctbal" -> money("ca", -999.99, 9999.99),
      "c_mktsegment" -> pick("cm", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))
    write("part", nPart,
      "p_partkey" -> "id",
      "p_name" -> (s"concat(${pick("pa", Seq("blue", "red", "hot", "cold", "small", "old", "new"))}, ' ', " +
        s"${pick("pb", Seq("bolt", "gear", "ring", "rod", "widget", "anvil", "plate"))})"),
      "p_brand" -> s"concat('Brand#', ${ri("pr", 1, 25)})",
      "p_type" -> pick("pt", Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")),
      "p_size" -> s"cast(${ri("ps", 1, 50)} as int)",
      "p_retailprice" -> "round(900 + (id % 1000) / 10.0, 1)")
    write("orders", nOrders,
      "o_orderkey" -> "id",
      "o_custkey" -> ri("oc", 0, nCust - 1),
      "o_orderstatus" -> pick("os", Seq("F", "O", "P")),
      "o_totalprice" -> money("ot", 1000, 500000),
      "o_orderdate" -> day("od", "1995-01-01", 2404),
      "o_orderpriority" -> pick("op", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))
    write("lineitem", nLine,
      "l_orderkey" -> ri("lo", 0, nOrders - 1),
      "l_partkey" -> ri("lp", 0, nPart - 1),
      "l_suppkey" -> ri("ls", 0, nSupp - 1),
      "l_linenumber" -> s"cast(${ri("ll", 1, 7)} as int)",
      "l_quantity" -> s"cast(${ri("lq", 1, 50)} as double)",
      "l_extendedprice" -> money("le", 900, 105000),
      "l_discount" -> s"${ri("ld", 0, 10)} / 100.0",
      "l_tax" -> s"${ri("lt", 0, 8)} / 100.0",
      "l_returnflag" -> pick("lr", Seq("A", "N", "R")),
      "l_linestatus" -> pick("lx", Seq("F", "O")),
      "l_shipdate" -> day("lsd", "1995-01-02", 2498))
    // events arrive in id order over 30 days, with sub-second jitter
    write("events", nEvents,
      "event_id" -> "id",
      "ts" -> s"timestamp_micros(1704067200000000L + cast((id + ${u("et")}) * ${2592000000000.0 / nEvents} as bigint))",
      "user_id" -> ri("eu", 0, nUsers - 1),
      "event_type" -> pick("ey", Seq("click", "error", "purchase", "signup", "view")),
      "value" -> s"round(0.01 + 60 * pow(${u("ev")}, 3) * 8, 2)",
      "props" -> s"concat('{\"k\": ', ${ri("ek", 0, 99)}, '}')")
    // One doc in ten copies an earlier doc with ~10% of its words changed,
    // so the near-duplicate families have real pairs to find.
    val vocabArr = vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    val src = s"if(pmod(xxhash64(${seed}L, 'dd', id), 10) = 0 AND id > 0, pmod(xxhash64(${seed}L, 'db', id), id), id)"
    spark.range(0, nDocs, 1, 1)
      .selectExpr("id", s"$src AS src")
      .selectExpr("id", "src",
        s"cast(8 + pmod(xxhash64(${seed}L, 'dn', src), 83) as int) AS nw")
      .selectExpr(
        "id AS doc_id",
        s"""concat_ws(' ', transform(sequence(1, nw), i -> element_at($vocabArr,
          cast(1 + floor(${vocab.size} * pow(pmod(xxhash64(${seed}L, 'dw',
            if(pmod(xxhash64(${seed}L, 'dm', id, i), 10) = 0, id, src), i), 1000003) / 1000003.0, 1.6)) as int)))) AS text""",
        s"element_at(array('en','en','en','de','es','fr','zh'), cast(1 + pmod(xxhash64(${seed}L, 'dl', id), 7) as int)) AS lang",
        "concat('src', id % 20) AS source")
      .selectExpr("doc_id", "text", "lang", "source", "cast(length(text) as bigint) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // unit vectors clustered around one centroid per label
    spark.range(0, nDocs, 1, 1)
      .selectExpr("id", s"cast(pmod(xxhash64(${seed}L, 'vl', id), 10) as int) AS label")
      .selectExpr("id", "label",
        s"""transform(sequence(0, 63), j ->
          (pmod(xxhash64(${seed}L, 'vc', label, j), 2001) - 1000) / 1000.0 +
          0.6 * ((pmod(xxhash64(${seed}L, 'vn', id, j), 2001) - 1000) / 1000.0)) AS raw""")
      .selectExpr("id AS vec_id",
        "transform(raw, x -> cast(x / sqrt(aggregate(raw, 0D, (a, y) -> a + y * y)) as float)) AS embedding",
        "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
