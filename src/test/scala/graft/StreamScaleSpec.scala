package graft

import graft.streaming.StreamScale

/** The state-store probes run their RocksDB queries on a cloned session:
  * the provider they need never reaches the caller's session, and a
  * value the caller set for it is still set afterwards. */
class StreamScaleSpec extends SparkSuite {
  private val Provider = "spark.sql.streaming.stateStore.providerClass"
  private val Hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  test("the RocksDB probes leave a provider the caller set in place") {
    val before = spark.conf.getAll.get(Provider)
    spark.conf.set(Provider, Hdfs)
    try {
      val probes = StreamScale.run(spark, sf("sf0.001"), copies = 1) ++
        StreamScale.docStateProbes(spark, sf("sf0.001"), copies = 1)
      assert(probes.map(_.name) == Seq("trend", "psi", "hist", "neardup", "substr"))
      assert(probes.forall(_.stateRows > 0), probes)
      assert(spark.conf.getAll.get(Provider).contains(Hdfs))
    } finally before.fold(spark.conf.unset(Provider))(spark.conf.set(Provider, _))
  }
}
