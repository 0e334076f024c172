package graft.operators

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.sources.Tables

/** S5/P7 — the SQL entry point. The reference's analytics ARE five SQL
  * strings run against registered tables (assignment1.ipynb:236–426
  * `con.register(...)` + five queries); this module reproduces that
  * surface: every corpus table registered as a temp view, and the five
  * analytics shipped as `spark.sql` text twins of the DataFrame plans in
  * [[Analytics]] (q05–q09). A user porting their DuckDB SQL runs it here
  * unchanged where the dialects agree (sql1/2/3/5 are literally the same
  * string the DuckDB oracle runs); the one dialect split is weekday naming
  * (`date_format` vs `dayname`).
  *
  * Catalyst compiles these to the same physical plans as the DataFrame
  * twins (broadcast hash join + partial/final hash agg +
  * TakeOrderedAndProject) — equality of results is asserted in
  * `SqlTwinsSpec` (ScalaTest).
  */
object Sql {

  /** The session every corpus table is registered on as a temp view (the
    * Spark twin of the reference's Arrow `con.register`): a fork of `spark`
    * per scale dir, so the caller's own catalog never changes. Lazy — no
    * jobs run — and done once per fork, since each registration re-reads
    * parquet footers for the schema. `multiLineitem` binds `lineitem` to
    * [[Tables.lineitemMulti]], on a fork of its own.
    */
  def registerViews(spark: SparkSession, sfDir: String,
      multiLineitem: Boolean = false): SparkSession =
    GraftSession.forkFor(spark, s"sql:$sfDir:multi=$multiLineitem", Map.empty) { s =>
      Tables.all.foreach(n =>
        (if (n == "lineitem" && multiLineitem) Tables.lineitemMulti(s, sfDir)
         else Tables(s, sfDir, n)).createOrReplaceTempView(n))
    }

  private val weekdayCase =
    "CASE date_format(l_shipdate, 'EEEE') WHEN 'Monday' THEN 1 WHEN 'Tuesday' THEN 2 " +
      "WHEN 'Wednesday' THEN 3 WHEN 'Thursday' THEN 4 WHEN 'Friday' THEN 5 " +
      "WHEN 'Saturday' THEN 6 WHEN 'Sunday' THEN 7 END"

  /** Spark-dialect SQL text per query. sql1/2/3/5 run verbatim in DuckDB
    * too; sql4 differs only in the weekday function.
    */
  val sparkSql: Map[String, String] = Map(
    "sql1_top_parts" ->
      """SELECT p_name, count(*) AS total_trips
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_name ORDER BY total_trips DESC, p_name LIMIT 10""".stripMargin,
    // The `round(x * 1e6) / 1e6` form (not `round(x, 6)`): Spark's scaled
    // round goes through BigDecimal's string representation while DuckDB
    // rounds the double product — they disagree on knife-edge values. The
    // multiply form executes the same double ops in every engine (see
    // graft.functions.r6), and the DataFrame twins use r6 identically.
    "sql2_hourly_avg" ->
      """SELECT CAST(hour(ts) AS BIGINT) AS event_hour,
        |round(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value) * 1e6) / 1e6 AS avg_value,
        |count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // CAST AS DOUBLE: Spark SQL parses the 100.0 literal as DECIMAL (the
    // DataFrame twin's lit(100.0) is a double) — without the cast the
    // percentage column comes back as DECIMAL and misses the oracle schema.
    "sql3_pct_of_total" ->
      """SELECT event_type, count(*) AS n,
        |round(CAST(count(*) * 100.0 / SUM(count(*)) OVER () AS DOUBLE) * 1e6) / 1e6 AS percentage
        |FROM events GROUP BY event_type
        |ORDER BY percentage DESC, event_type NULLS FIRST""".stripMargin,
    "sql4_cond_avg_weekday" ->
      s"""SELECT date_format(l_shipdate, 'EEEE') AS ship_dow,
         |round(CAST(SUM(CAST(CASE WHEN l_quantity > 0 THEN l_discount END AS DECIMAL(38,6))) AS DOUBLE)
         |  / COUNT(CASE WHEN l_quantity > 0 THEN l_discount END) * 100 * 1e6) / 1e6 AS avg_disc_pct
         |FROM lineitem WHERE l_returnflag = 'R'
         |GROUP BY 1 ORDER BY $weekdayCase""".stripMargin,
    "sql5_top_routes" ->
      """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation, count(*) AS route_count
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |GROUP BY 1, 2 ORDER BY route_count DESC, cust_nation, supp_nation LIMIT 5""".stripMargin,
    // sql6 — CORRELATED scalar subqueries, written in the correlated form
    // and left to the optimizer: Catalyst decorrelates each subquery into
    // an aggregate + join (RewriteCorrelatedScalarSubquery) — the
    // declarative-optimizer showcase where the naive reading is a
    // per-row rescan of the orders table. Semantics: orders worth more
    // than TWICE their customer's average order. The predicate is spelled
    // multiplication-only (price·n > 2·sum over exact DECIMALs) — an avg
    // comparison would put engine-ulp differences on the keep/drop
    // boundary; products and sums of DECIMAL(38,6) are exact in both
    // engines, so the surviving set is identical. ONE string runs
    // verbatim in Spark and DuckDB (it is its own oracle).
    //
    // `o_custkey IS NOT NULL` is a defensive DOMAIN pin (r15
    // advorders): under standard SQL a NULL correlation key makes the
    // count subquery 0 and the sum subquery NULL, so the predicate is
    // UNKNOWN and the row drops — both engines agreed on the planted
    // corpus, but each reaches that answer through its own
    // decorrelation rewrite (Spark handles the COUNT-bug edge with a
    // null-tolerant join); pinning the domain keeps the text off that
    // engine-internal edge and the intent visible. The ORDER BY pins
    // NULL orderkeys FIRST with value tie-breaks — duplicate and
    // NULL-keyed rows are in-domain inputs (the r15 catch class was
    // exactly this ordering divergence: DuckDB defaults NULLS LAST).
    "sql6_correlated_whale_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o.o_custkey IS NOT NULL
        |  AND CAST(o_totalprice AS DECIMAL(38,6))
        |      * (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |    > 2 * (SELECT SUM(CAST(o3.o_totalprice AS DECIMAL(38,6)))
        |           FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey NULLS FIRST, o_custkey, o_totalprice NULLS FIRST""".stripMargin,
    // sql7 — IN-subquery membership, the companion to sql6's scalar
    // subqueries: Catalyst plans the IN as a LEFT SEMI join (existence
    // probe, no row duplication however many qualifying orders a
    // customer has) — q25's anti join is the same family negated. One
    // dialect-neutral string, two engines, its own oracle.
    "sql7_in_subquery_semi" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE c_custkey IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,
    // sql8 — the named-WINDOW clause surface (one definition, three
    // ranking functions over it): q48's oracle text IS dialect-neutral,
    // so the same string runs verbatim in both engines and is its own
    // oracle — the sql6/sql7 discipline extended to window syntax.
    "sql8_window_ranks" -> Analytics.oracles("q48_window_ranks"),
    // sql9 — the GROUPING SETS surface as raw SQL: q47's oracle text is
    // dialect-neutral (GROUPING SETS, NULLS FIRST, the dsum round form
    // all parse and evaluate identically), so ONE string runs verbatim
    // in both engines and is its own oracle — the sql8 discipline
    // extended to multi-grain aggregation syntax. Catalyst plans it as
    // the same single-pass Expand the q47 DataFrame twin uses.
    "sql9_grouping_sets" -> Analytics.oracles("q47_grouping_sets"))

  /** sql7's DataFrame twin: the explicit `left_semi` join the IN-subquery
    * text must plan to.
    */
  private def sql7Twin(spark: SparkSession, sfDir: String): DataFrame = {
    val whales = Tables.orders(spark, sfDir)
      .filter(col("o_totalprice") > 450000)
      .select(col("o_custkey"))
    Tables.customer(spark, sfDir)
      .join(whales, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** sql6's DataFrame twin is the HAND-decorrelated formulation — the
    * per-customer aggregate joined back — so the twin test pins that
    * Catalyst's automatic decorrelation of the subquery text computes
    * exactly what the manual rewrite does.
    */
  private def sql6Twin(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val per = o.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(38,6)")).as("total"))
    o.join(per, Seq("o_custkey"))
      .filter(col("o_totalprice").cast("decimal(38,6)") * col("n") >
        lit(2) * col("total"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey").asc_nulls_first, col("o_custkey"),
        col("o_totalprice").asc_nulls_first)
  }

  /** The DataFrame twin of each SQL query, for the twin-equality test. */
  val dataFrameTwins: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql1_top_parts" -> (Analytics.q05TopParts _),
    "sql2_hourly_avg" -> (Analytics.q06HourlyAvg _),
    "sql3_pct_of_total" -> (Analytics.q07PctOfTotal _),
    "sql4_cond_avg_weekday" -> (Analytics.q08CondAvgByWeekday _),
    "sql5_top_routes" -> (Analytics.q09TopRoutes _),
    "sql6_correlated_whale_orders" -> (sql6Twin _),
    "sql7_in_subquery_semi" -> (sql7Twin _),
    "sql8_window_ranks" -> (Analytics.q48WindowRanks _),
    "sql9_grouping_sets" -> (Analytics.q47GroupingSets _))

  // ------------------------------------------------------------ registry

  /** sql9 reads `lineitem` through the MULTI-FILE serving copy
    * ([[Tables.lineitemMulti]] — content-identical, so results and
    * oracle hashes are unchanged; the DuckDB oracle reads the raw
    * file): the driver corpus ships lineitem as ONE single-row-group
    * parquet (atomic read unit ⇒ serial decode), and sql9's GROUPING
    * SETS full scan is decode-bound — r20 measured 1.145 → 0.214 s
    * warm (bench/r20_baseline.json take 20260819T154904Z vs
    * r20_sqlmulti.json take 20260819T155132Z), with the plan
    * fingerprint landing exactly on q47's (3b4111bf1554), its
    * DataFrame twin already on the staged layout (r19 verdict item 3).
    * Scoped to sql9 ONLY: the join-bound texts measured WORSE on the
    * 32-file layout (sql1 0.232 → 0.498/0.520 in two takes, vs a
    * 0.223 → 0.277 unchanged-control drift in the same windows —
    * bench/r20_sqlmulti{,2}.json; per-task broadcast-probe setup
    * dominates 32 micro-splits at this scale, the same adjudication
    * that kept q05/q09 raw in r19). sql9 therefore runs on its own views
    * fork, where `lineitem` is the multi-file copy. Every query's frame is
    * rebound to the caller's session, which plans and runs it.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    sparkSql.map { case (name, text) =>
      name -> ((s: SparkSession, d: String) =>
        GraftShim.rebind(registerViews(s, d, name == "sql9_grouping_sets").sql(text), s))
    }

  /** DuckDB oracles: identical result contracts to the q05–q09 DataFrame
    * queries, so their oracle strings are reused verbatim.
    */
  val oracles: Map[String, String] = Map(
    "sql1_top_parts" -> Analytics.oracles("q05_top_parts"),
    "sql2_hourly_avg" -> Analytics.oracles("q06_hourly_avg"),
    "sql3_pct_of_total" -> Analytics.oracles("q07_pct_of_total"),
    "sql4_cond_avg_weekday" -> Analytics.oracles("q08_cond_avg_weekday"),
    "sql5_top_routes" -> Analytics.oracles("q09_top_routes"),
    // one dialect-neutral string, two engines — its own oracle
    "sql6_correlated_whale_orders" -> sparkSql("sql6_correlated_whale_orders"),
    "sql7_in_subquery_semi" -> sparkSql("sql7_in_subquery_semi"),
    "sql8_window_ranks" -> sparkSql("sql8_window_ranks"),
    "sql9_grouping_sets" -> sparkSql("sql9_grouping_sets"))
}
