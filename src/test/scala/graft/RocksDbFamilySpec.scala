package graft

import org.scalatest.funsuite.AnyFunSuite

/** Full stateful st-family under the RocksDB state store provider, in the
  * same `sbt test` build that runs the default provider everywhere else.
  *
  * StreamingSpec's RocksDB case proves semantic parity for the two heaviest
  * state shapes vs their batch twins; this suite closes the family: EVERY
  * state-store-backed streaming registry query (watermarked window aggs,
  * within-watermark dedup, stream-stream inner + left-outer interval joins,
  * flatMapGroupsWithState sessionization, chained dedup→agg) runs twice —
  * default provider, then RocksDB — and must produce byte-identical rows.
  * The provider is a runtime SQL conf read at query start (set on a fork
  * of the suite session for the RocksDB run), and each gate
  * run wipes its own sink + checkpoint (EventStreams.stagingDir), so the
  * second run is a genuine re-execution, not a checkpoint replay.
  *
  * st8/st15/sim7 are stateless sinks (no keyed state), st9/st13/st14 keep
  * their state in foreachBatch-managed files, and st1/st3/st11 are batch
  * twins — none touch the state store, so the provider cannot affect them.
  */
class RocksDbFamilySpec extends AnyFunSuite with SparkFixture {

  private val rocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val confKey = "spark.sql.streaming.stateStore.providerClass"

  private val statefulFamily = Seq(
    "st2_stream_windowed",
    "st4_enriched_window",
    "st5_stream_dedup",
    "st6_stream_attribution",
    "st7_stream_sessions",
    "st10_stream_left_outer",
    "st23_stream_full_outer",
    "st12_stream_window_users")

  statefulFamily.foreach { name =>
    test(s"$name: RocksDB provider run is row-identical to the default provider run") {
      val q = SparkEntry.queries(name)
      val default = q(spark, sf001).collect().toSeq
      assert(default.nonEmpty, s"$name emitted nothing — parity untested")
      val rocks = q(GraftSession.fork(spark, confKey -> rocksProvider), sf001).collect().toSeq
      assert(rocks === default)
    }
  }
}
