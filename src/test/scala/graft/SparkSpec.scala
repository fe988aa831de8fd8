package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one SparkSession). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.build(4)
  val sf: String = "/root/testdata/sf0.001"

  /** Set session confs for the duration of `body`, then restore each to
    * its prior value (unset where previously absent); delegates to the
    * engine's one scope, core.withConfs. */
  def withConfs[T](kv: (String, String)*)(body: => T): T =
    graft.queries.core.withConfs(spark)(kv: _*)(body)

  /** `body` on the RocksDB state store, which transformWithState needs. */
  def withRocksDb[T](body: => T): T =
    withConfs("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )(body)
}
