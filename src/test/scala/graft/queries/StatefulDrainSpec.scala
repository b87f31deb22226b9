package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, TimeMode}

import graft.SparkSpec

/** Drains the stateful queries end to end at sf0.001 under the default
  * conf, so each runs on the state-store provider its plan selects
  * ([[StreamingQueries.stateProvider]]). A `transformWithState` query put
  * on the HDFS-backed provider fails to start, and queries that share an
  * oracle must agree row for row. The unit case pins the derivation
  * itself on small in-memory streams.
  */
class StatefulDrainSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def run(name: String): DataFrame = StreamingQueries.queries(name)(spark, dir)

  /** Equal row multisets: `exceptAll` both ways, over a non-empty result. */
  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() > 0)
    assert(a.exceptAll(b).isEmpty, "rows of the first query missing from the second")
    assert(b.exceptAll(a).isEmpty, "rows of the second query missing from the first")
  }

  private lazy val q157 = run("q157_cdc_partitioned")

  describe("stateful drains under the default conf") {
    it("q48 (transformWithState) ≡ q33 (mapGroupsWithState)") {
      assertSameRows(run("q48_stateful_v2"), run("q33_stateful"))
    }

    it("q216 (flatMapGroupsWithState timeouts) ≡ q202 (transformWithState timers)") {
      assertSameRows(run("q216_timeout_sessions_v1"), run("q202_timer_sessions"))
    }

    it("q164 (merge-on-read) ≡ q157 (copy-on-write)") {
      assertSameRows(run("q164_cdc_mor"), q157)
    }

    it("q174 (resumed copy-on-write) ≡ q157") {
      assertSameRows(run("q174_cdc_resume"), q157)
    }

    it("q204, q205 and q223 (transformWithState) complete with output") {
      Seq("q204_mapstate_counts", "q205_liststate_lastk", "q223_rate_limiter")
        .foreach(q => assert(run(q).count() > 0, q))
    }
  }

  describe("StreamingQueries.stateProvider") {
    it("reads RocksDB for transformWithState, HDFS for v1 state and windows") {
      assume(!sys.env.get("SPARK_GRAFT_STATE_PROVIDER").contains("rocksdb"),
        "the override replaces the derived provider")
      import spark.implicits._
      val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      val rows = MemoryStream[(Long, Long, Double)](
        Encoders.product[(Long, Long, Double)], spark.sqlContext).toDS()

      val v2 = rows.groupByKey(_._1)
        .transformWithState(new UserStatsProcessor, TimeMode.None(), OutputMode.Update())
      val v1 = rows.groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
          (k: Long, it: Iterator[(Long, Long, Double)], st: GroupState[Long]) =>
            val n = st.getOption.getOrElse(0L) + it.size
            st.update(n)
            (k, n)
        }
      val windows = MemoryStream[(Timestamp, String)](
        Encoders.product[(Timestamp, String)], spark.sqlContext).toDF()
        .toDF("ts", "k")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("k"))
        .count()

      assert(StreamingQueries.stateProvider(v2.toDF()) == rocks)
      assert(StreamingQueries.stateProvider(v1.toDF()) == hdfs)
      assert(StreamingQueries.stateProvider(windows) == hdfs)
    }
  }
}
