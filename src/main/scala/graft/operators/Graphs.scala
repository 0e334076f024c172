package graft.operators

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.sources.Tables

/** Iterative graph analytics beyond dd8's connected components: PageRank
  * over the trade network (customer-nation → supplier-nation edges from
  * the q09 join chain), made CROSS-ENGINE-EXACT so an iterative
  * fixed-point is oracle-hashable — floating-point PageRank never is
  * (per-iteration double sums are partition-order dependent and libm
  * rounding differs), so every quantity is SCALED-INTEGER arithmetic:
  * ranks live at 1e12 scale, each hop is `rank div out_degree`, damping
  * is `(85 * in_sum) div 100` — floor divisions and long sums are
  * bit-identical in every engine. The oracle replays the identical
  * formula as one chained CTE per iteration.
  *
  * Scale shape: the EDGE EXTRACTION is the data-scaled pass (the 5-way
  * fact join, one scan); iterations then run on the aggregated graph —
  * a join of the rank vector with the edge list per iteration, which is
  * exactly production PageRank's per-iteration cost (edge-scaled, here
  * bounded at 25×25). Lineage grows linearly with iterations; a
  * 30-iteration production run checkpoints like dd8 does (the knob is
  * there) — 5 iterations on a 625-edge graph doesn't need it.
  *
  * Dangling nodes (no out-edges) leak their rank mass — the simplest
  * published variant; both engines share the leak, so results still
  * hash. (The redistribute-to-all variant is one more aggregate per
  * iteration if ever needed.)
  */
object Graphs {

  val Scale = 1000000000000L // ranks at 1e12

  /** Distinct cust-nation → supp-nation edges (the q09 join chain). */
  def nationEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n.as("cn")), col("c_nationkey") === col("cn.n_nationkey"))
      .join(broadcast(n.as("sn")), col("s_nationkey") === col("sn.n_nationkey"))
      .select(col("cn.n_name").as("src"), col("sn.n_name").as("dst"))
      .distinct()
  }

  /** Build-once persisted edge-list artifact for the trade graph — the
    * sim4/dd9 pattern applied to graph analytics: at 100 TB nobody
    * re-runs the 5-way fact join once per graph algorithm, the EDGE
    * EXTRACTION is staged once and every analysis (q36 PageRank, q40
    * triangles, the next centrality) reads the aggregated graph.
    * Staleness is the source tables' (mtime, length) stamp recorded in
    * the spec (immune to coarse-mtime same-second rewrites) plus the
    * build-logic plan spec (an edge-formula edit invalidates the
    * artifact even when no source moved); check-and-build runs
    * double-checked under the cross-process staging lock like every
    * other staging area. The edge list is graph-scaled (≤ 625 rows
    * here), not fact-scaled — one file; a billion-edge graph raises the
    * writer's partition count, nothing else.
    */
  def edgesArtifact(spark: SparkSession, sfDir: String): DataFrame = {
    val path =
      s"${sys.props("user.dir")}/target/graph_edges/${new java.io.File(sfDir).getName}"
    val sources = Seq("lineitem", "orders", "customer", "supplier", "nation")
      .map(t => new java.io.File(graft.sources.Tables.path(sfDir, t)))
    // pointer-swap snapshots (r16): an edge-list refresh publishes a new
    // immutable snapshot and swaps — an iterative consumer (PageRank,
    // triangles) whose loop is mid-flight keeps reading the generation it
    // started on instead of aborting on deleted files
    val edges = nationEdges(spark, sfDir)
    val spec = graft.sources.Staging.planSpec(edges) +
      "\n" + graft.sources.Staging.sourceStamp(sources)
    graft.sources.ManifestStore.serve(spark, new java.io.File(path), spec, edges.schema,
      graft.sources.ManifestStore.IndexReaderGraceMs)(
      snapPath => edges.coalesce(1).write.mode("overwrite").parquet(snapPath))
  }

  /** Scaled-integer PageRank over an edge list; returns (v, rank).
    *
    * The edge list, node list and degree table are PERSISTED before the
    * loop — every iteration joins against them, and without the cache
    * the upstream extraction (here a 5-way fact join) re-executes once
    * per iteration (measured: 2.4 s → 1.7 s warm at sf0.1 for 5
    * iterations; the remainder is fixed per-iteration micro-job cost on
    * the 25-node graph). Standard posture for iterative graph jobs; at 100 TB
    * the cached edge list is the working set, spilling to disk via
    * MEMORY_AND_DISK.
    */
  def pageRank(edges0: DataFrame, iterations: Int = 5): DataFrame = {
    // GRAPH-SCALE iteration parallelism (r19, guide §2): the loop joins
    // run on the aggregated graph, and at graph scales the session's
    // fact parallelism scheduled 37 jobs / 658 near-empty tasks for a
    // 25-node, 625-edge graph (r19 Profile — 2.2 s of pure scheduling).
    // One shuffle partition per 100k edges, clamped to
    // [1, defaultParallelism]; the edge count is one tiny job that also
    // materializes the edge cache (the extraction still runs exactly
    // once). The edge list and every derived loop frame are then LAID
    // OUT at that parallelism (the caches must be built on the fork — a
    // 32-partition cached frame re-imposes 32 map tasks on every
    // iteration stage regardless of the shuffle conf). The loop AND its
    // materializing action run on a fork at that parallelism; the
    // scaled-integer fixpoint is partition-invariant, so q36 stays
    // hash-gated.
    val edgesRaw = edges0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spark = edges0.sparkSession
    val nEdges = edgesRaw.count()
    val iterParts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nEdges / 100000L + 1L)).toInt
    val edges = GraftShim.rebind(edgesRaw, GraftSession.fork(spark,
      "spark.sql.shuffle.partitions" -> iterParts.toString))
      .repartition(iterParts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("v"))
      .union(edges.select(col("dst").as("v"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // node count is a scalar of the AGGREGATED graph (bounded), never a
    // fact-table count — and it materializes the caches before the loop
    val n = nodes.count()
    val r0 = Scale / n
    val teleport = (15L * r0) / 100L
    var rank = nodes.withColumn("r", lit(r0))
    (1 to iterations).foreach { _ =>
      val contrib = edges
        .join(rank, col("src") === col("v"))
        .join(deg, "src")
        .select(col("dst"), expr("r div d").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      rank = nodes.join(contrib, col("v") === col("dst"), "left")
        .select(col("v"),
          (lit(teleport) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
    }
    // materialize the (node-scaled, bounded) rank vector under the
    // graph-scale conf, then RELEASE the cached graph — without this the
    // edge extraction stays pinned in executor storage for the rest of
    // the session, shrinking the unified memory pool for every later
    // query
    val cp = rank.localCheckpoint(true)
    edges.unpersist(); nodes.unpersist(); deg.unpersist()
    edgesRaw.unpersist()
    GraftShim.rebind(cp, spark)
  }

  def q36PageRank(spark: SparkSession, sfDir: String): DataFrame =
    pageRank(edgesArtifact(spark, sfDir))
      .select(col("v").as("n_name"), col("r").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("n_name"))

  /** q40 — triangle counting + local clustering coefficient, the standard
    * graph-quality metrics beside PageRank's centrality. The algorithm is
    * the distributed ORIENTED edge join: canonicalize to undirected edges
    * with a < b (self-loops dropped), join e1.b = e2.a so every candidate
    * wedge already satisfies a < b < c, then close it against the edge
    * set — each triangle is generated exactly ONCE, never 6 ways, and the
    * orientation bounds the wedge fan-out of high-degree nodes (the
    * published MapReduce triangle-count design). Per-node participation
    * explodes the three corners; lcc = 2T / d(d−1) is one IEEE division
    * on exact integers — correctly rounded, so it cross-engine hashes
    * under r6.
    *
    * Scale shape: edge extraction is the one data-scaled pass (shared
    * with q36); the triangle join is edge-scaled — at 100 TB the edge
    * list shuffles on its join key like any fact join, and the a < b < c
    * orientation is precisely what keeps a celebrity node from squaring
    * its degree in wedges.
    *
    * One lazy query: building it runs no job, and the four reads of the
    * undirected edge set share one `distinct` through exchange reuse.
    */
  def triangles(edges0: DataFrame): DataFrame = {
    val undirected = edges0
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val tri = undirected.as("e1")
      .join(undirected.as("e2"), col("e1.b") === col("e2.a"))
      .join(undirected.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("triangles"))
    val deg = undirected.select(col("a").as("v"))
      .union(undirected.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("v"), "left")
      .select(col("v"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("lcc",
        graft.functions.r6(when(col("degree") > 1,
          lit(2.0) * col("triangles") / (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(0.0)))
  }

  def q40Triangles(spark: SparkSession, sfDir: String): DataFrame =
    triangles(edgesArtifact(spark, sfDir))
      .select(col("v").as("n_name"), col("degree"), col("triangles"), col("lcc"))
      .orderBy(col("n_name"))

  // ------------------------------------------------------------ q46 (CC)

  /** WEIGHTED cust-nation → supp-nation edges (lineitem count per pair,
    * self-loops dropped) — the thresholdable version of [[nationEdges]].
    */
  def weightedNationEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("weight"))
  }

  /** q46 — connected components over the STRONG-trade graph ("trade
    * blocs"): keep the directed pairs whose lineitem volume is strictly
    * above the mean pair volume (`weight · n_pairs > Σweight` — exact
    * long arithmetic, no division, so the edge set is engine-identical),
    * symmetrize, and label every member nation with the minimum nation
    * key of its component via dd8's min-label propagation
    * ([[Dedup.dupClusters]] — pointer-doubled, O(log diameter) rounds,
    * the same machinery that clusters near-dup documents). Output is one
    * row per nation in ≥ 1 strong pair: (n_name, bloc_rep, bloc_size).
    *
    * Scale shape: the 5-way fact join is the one data-scaled pass; the
    * threshold is a 1-row broadcast bound; propagation runs on the
    * aggregated graph (≤ 625 edges here, edge-scaled in general). The
    * oracle replays the threshold and a recursive-CTE transitive closure.
    * On the uniform TPC-H mix the strong graph is one bloc — the
    * multi-component behavior (bridges, islands) is pinned in GraphsSpec
    * on constructed weighted graphs.
    */
  def tradeBlocs(weighted: DataFrame, nation: DataFrame): DataFrame = {
    val tot = weighted.agg(sum(col("weight")).as("t"), count(lit(1)).as("n"))
    val strong = weighted.crossJoin(broadcast(tot))
      .filter(col("weight") * col("n") > col("t"))
    val pairs = strong
      .select(least(col("src"), col("dst")).cast("long").as("doc_a"),
        greatest(col("src"), col("dst")).cast("long").as("doc_b"))
      .distinct()
    // ≤ 25 nodes: broadcast the labels, so the round plan does not flip
    val comp = Dedup.dupClusters(pairs, broadcastLabels = true)
    val sizes = comp.groupBy(col("rep_id")).agg(count(lit(1)).as("bloc_size"))
    val names = nation.select(col("n_nationkey"), col("n_name"))
    comp.join(sizes, Seq("rep_id"))
      .join(broadcast(names), col("doc_id") === col("n_nationkey"))
      .join(broadcast(names.select(col("n_nationkey").as("rep_key"),
        col("n_name").as("bloc_rep"))), col("rep_id") === col("rep_key"))
      .select(col("n_name"), col("bloc_rep"), col("bloc_size"))
      .orderBy(col("n_name"))
  }

  def q46TradeBlocs(spark: SparkSession, sfDir: String): DataFrame =
    tradeBlocs(weightedNationEdges(spark, sfDir), Tables.nation(spark, sfDir))

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q36_pagerank" -> (q36PageRank _),
    "q40_triangles" -> (q40Triangles _),
    "q46_trade_blocs" -> (q46TradeBlocs _))

  /** The oracle replays the identical scaled-integer formula, one CTE per
    * iteration (generated, so Spark and SQL can never drift on the
    * constants).
    */
  private def pageRankSql(iterations: Int): String = {
    val base =
      """WITH e AS (
        |  SELECT DISTINCT cn.n_name AS src, sn.n_name AS dst
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey),
        |nodes AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT v, CAST(1000000000000 // n AS BIGINT) AS r FROM nodes, nn)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s"""inc$i AS (
         |  SELECT e.dst AS v, CAST(sum(p.r // deg.d) AS BIGINT) AS s
         |  FROM e JOIN r${i - 1} p ON e.src = p.v JOIN deg ON e.src = deg.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT nodes.v,
         |    CAST((15 * (1000000000000 // nn.n)) // 100
         |         + (85 * coalesce(inc$i.s, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes CROSS JOIN nn LEFT JOIN inc$i ON nodes.v = inc$i.v)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT v AS n_name, r AS rank_scaled FROM r$iterations
       |ORDER BY rank_scaled DESC, n_name""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q36_pagerank" -> pageRankSql(5),
    // identical oriented a<b<c formulation; lcc is one IEEE division on
    // exact integers, correctly rounded in both engines, hashed under r6
    "q40_triangles" ->
      """WITH e0 AS (
        |  SELECT DISTINCT cn.n_name AS src, sn.n_name AS dst
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey),
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |      FROM e0 WHERE src <> dst),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (
        |  SELECT x AS v FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri),
        |tc AS (SELECT v, count(*) AS triangles FROM corners GROUP BY v),
        |deg AS (SELECT v, count(*) AS degree FROM (
        |  SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v)
        |SELECT deg.v AS n_name, deg.degree,
        |  coalesce(tc.triangles, 0) AS triangles,
        |  round(CASE WHEN deg.degree > 1
        |    THEN 2.0 * coalesce(tc.triangles, 0) / (deg.degree * (deg.degree - 1))
        |    ELSE 0.0 END * 1e6) / 1e6 AS lcc
        |FROM deg LEFT JOIN tc ON deg.v = tc.v
        |ORDER BY n_name""".stripMargin,
    // the identical integer threshold (weight·n > Σweight), then dd8's
    // recursive-CTE transitive closure with min-label reps
    "q46_trade_blocs" ->
      """WITH RECURSIVE w AS (
        |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS weight
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  WHERE c.c_nationkey <> s.s_nationkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT sum(weight) AS t, count(*) AS n FROM w),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM w, tot WHERE weight * n > t),
        |edges AS (SELECT a AS src, b AS dst FROM und
        |  UNION ALL SELECT b, a FROM und),
        |reach(id, lbl) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, min(lbl) AS rep FROM reach GROUP BY id),
        |sz AS (SELECT rep, CAST(count(*) AS BIGINT) AS bloc_size
        |  FROM comp GROUP BY rep)
        |SELECT nn.n_name, rn.n_name AS bloc_rep, sz.bloc_size
        |FROM comp
        |JOIN nation nn ON comp.id = nn.n_nationkey
        |JOIN nation rn ON comp.rep = rn.n_nationkey
        |JOIN sz ON comp.rep = sz.rep
        |ORDER BY nn.n_name""".stripMargin)
}
