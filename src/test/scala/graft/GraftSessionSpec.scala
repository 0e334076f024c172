package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Sql
import graft.streaming.EventStreams

/** `GraftSession.fork` and the rule it carries: no operator changes the
  * caller's session.
  */
class GraftSessionSpec extends AnyFunSuite with SparkFixture {

  private val partsKey = "spark.sql.shuffle.partitions"

  private def tempViews: Seq[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).sorted.toSeq

  private def rows(name: String): Seq[Seq[Any]] =
    SparkEntry.queries(name)(spark, sf001).collect().map(_.toSeq).toSeq

  test("fork: an override is set on the fork only; the rest of the caller's conf carries over") {
    val before = spark.conf.get(partsKey)
    val f = GraftSession.fork(spark, partsKey -> "3")
    assert(f.conf.get(partsKey) === "3")
    assert(spark.conf.get(partsKey) === before)
    assert(f.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(f.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("fork: the same overrides return the same session") {
    val f = GraftSession.fork(spark, partsKey -> "3")
    assert(GraftSession.fork(spark, partsKey -> "3") eq f)
    assert(!(GraftSession.fork(spark, partsKey -> "5") eq f))
  }

  test("fork: a listener on the caller receives progress from a gate stream run on a fork") {
    val started, progressed = new AtomicLong()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = { started.incrementAndGet(); () }
      override def onQueryProgress(e: QueryProgressEvent): Unit = { progressed.incrementAndGet(); () }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      assert(EventStreams.st2StreamWindowed(spark, sf001).count() > 0)
      // the listener bus delivers asynchronously
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (progressed.get() == 0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(started.get() > 0 && progressed.get() > 0)
    } finally spark.streams.removeListener(listener)
  }

  test("fork: repeated gate runs add no listener to the context's bus") {
    // foreachBatch gates only: a stateful query's own per-run session
    // registers a listener bus of its own on every run, fork or not
    def gates(): Unit = {
      SparkEntry.queries("st9_mv_maintenance")(spark, sf001).collect()
      SparkEntry.queries("st14_stream_heavy_users")(spark, sf001).collect()
      Sql.queries("sql8_window_ranks")(spark, sf001).collect()
      ()
    }
    gates()
    val after1 = org.apache.spark.ListenerBusProbe.size(spark.sparkContext)
    gates(); gates()
    assert(org.apache.spark.ListenerBusProbe.size(spark.sparkContext) === after1)
  }

  test("Sql: sql9 scans the staged multi-file lineitem, sql1 the raw table") {
    def files(df: DataFrame) = df.inputFiles.toSeq
    val sql9 = files(Sql.queries("sql9_grouping_sets")(spark, sf001))
    assert(sql9.nonEmpty && sql9.forall(f =>
      f.contains("/factstage/") && f.contains("/lineitem/snap=")), sql9.mkString("\n"))
    val sql1 = files(Sql.queries("sql1_top_parts")(spark, sf001))
    assert(sql1.exists(_.endsWith("sf0.001/lineitem.parquet")), sql1.mkString("\n"))
    assert(!sql1.exists(_.contains("/factstage/")), sql1.mkString("\n"))
  }

  test("Sql: running every query leaves the caller's catalog unchanged") {
    def catalog = spark.catalog.listTables().collect().map(t => (t.name, t.isTemporary)).toSet
    val before = catalog
    Sql.queries.toSeq.sortBy(_._1).foreach { case (_, q) => q(spark, sf001).collect() }
    assert(catalog === before)
  }

  test("one session, three threads: forking operators and Sql views leave the caller untouched") {
    val parts0 = spark.conf.get(partsKey)
    val views0 = tempViews
    val forking = Seq("q36_pagerank", "dd8_dup_clusters", "st9_mv_maintenance")
    val expected = (forking :+ "sql9_grouping_sets").map(n => n -> rows(n)).toMap
    assert(spark.conf.get(partsKey) === parts0 && tempViews === views0)

    val seen = new ConcurrentLinkedQueue[String]()
    @volatile var done = false
    val poller = new Thread(() => while (!done) {
      val p = spark.conf.get(partsKey)
      if (p != parts0) seen.add(s"$partsKey=$p")
      val v = tempViews
      if (v != views0) seen.add(s"temp views ${v.mkString(",")}")
      Thread.sleep(2)
    })
    poller.setDaemon(true)
    poller.start()
    try (1 to 3).foreach { round =>
      val got = new ConcurrentHashMap[String, Seq[Seq[Any]]]()
      Concurrently.fork(Seq(
        () => forking.foreach(n => got.put(n, rows(n))),
        () => { got.put("sql9_grouping_sets", rows("sql9_grouping_sets")); () })).join()
      expected.foreach { case (n, want) => assert(got.get(n) === want, s"$n, round $round") }
    } finally { done = true; poller.join() }
    assert(seen.asScala.toSeq.distinct === Nil)
  }

  test("no operator sets conf or registers a temp view outside fork and Sql's own fork") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    val mutation = """\.conf\.(set|unset)\(|createOrReplaceTempView\(""".r
    // (file, trimmed line) of each permitted call
    val allowed = Set(
      "graft/GraftSession.scala" -> "overrides.foreach { case (k, v) => child.conf.set(k, v) }",
      "graft/operators/Sql.scala" -> "else Tables(s, sfDir, n)).createOrReplaceTempView(n))")
    def scalaFiles(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val hits = for {
      f <- scalaFiles(root)
      rel = root.toPath.relativize(f.toPath).toString
      line <- scala.io.Source.fromFile(f, "UTF-8").getLines().map(_.trim).toList
      if !line.startsWith("//") && !line.startsWith("*") && mutation.findFirstIn(line).isDefined
    } yield rel -> line
    assert(hits.filterNot(allowed) === Nil)
    assert(hits.toSet === allowed, "the permitted calls moved; update this list")
  }
}
