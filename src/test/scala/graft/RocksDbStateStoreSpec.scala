package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.queries.StreamingQueries

/** RocksDB state store: the same streaming queries, the same results,
  * with state on executor-local disk instead of the heap (the 100 TB
  * keyspace path — heap-bounded state OOMs there). */
class RocksDbStateStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def withRocks[A](f: => A): A = {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey, StreamingQueries.RocksDbProvider)
    try f finally prev match {
      case Some(p) => spark.conf.set(provKey, p)
      case None => spark.conf.unset(provKey)
    }
  }

  test("windowed aggregation and sessionization match under RocksDB") {
    // memory-provider baseline, then the identical replay on RocksDB —
    // stream/batch parity is already gated; this pins provider parity
    // (and that the suite actually RUNS on RocksDB state: only that
    // provider reports `rocksdb*` state-operator metrics).
    val metrics = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(
          _.customMetrics.keySet.asScala.foreach(metrics.add))
    }
    spark.streams.addListener(listener)
    try {
      Seq("stream_events_daily", "stream_sessions").foreach { q =>
        val base = SparkEntry.queries(q)(spark, dir).collect().toSeq
        val rocks = withRocks {
          SparkEntry.queries(q)(spark, dir).collect().toSeq
        }
        assert(rocks == base, s"$q: RocksDB result diverged")
        assert(base.nonEmpty)
      }
      eventually(timeout(30.seconds)) {
        assert(metrics.asScala.exists(_.startsWith("rocksdb")), metrics)
      }
    } finally spark.streams.removeListener(listener)
  }
}
