package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared ScalaTest base: the engine's session, on 4 local cores. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder(getClass.getSimpleName)
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  val sf01 = "/root/testdata/sf0.1"

  /** Pin the RocksDB state-store provider for the body's duration —
    * transformWithState does not run on the default provider. One
    * definition for every streaming-state suite (it was copy-pasted
    * into three specs before a config change could silently leave
    * them testing different providers). */
  def withRocksDb[T](body: => T): T =
    GraftSession.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )(body)
}
