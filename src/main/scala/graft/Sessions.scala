package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftExtensions

/** The one session factory: every main and test suite of the engine gets
  * its session here. */
object Sessions {

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC, nanos
    * timestamps read as longs (the NANOS events fixture), the RocksDB
    * streaming state store, no UI, a per-process warehouse directory (the
    * catalog entries of bucketed tables land there; their data is written
    * to external paths), and [[GraftExtensions]] installed. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft_warehouse_${ProcessHandle.current().pid()}")
      .getOrCreate()
    GraftExtensions.install(spark)
    spark
  }

  /** Worker threads for the mains: `SPARK_GRAFT_CPUS`, default 32. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
}
