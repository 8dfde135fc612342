package graft

import org.apache.spark.sql.SparkSession

/** The one local session recipe the mains and the test tools share. */
object GraftSession {
  /** `local[cores]` with one shuffle partition per core, UTC session time,
    * no UI, log level WARN, and [[graft.ops.LocalFold]] installed.
    * `events.parquet` carries TIMESTAMP(NANOS), read as Long (ns since
    * epoch); `graft.store.Tables.events` converts it to a µs timestamp. */
  def local(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.ops.LocalFold.install(s)
    s
  }
}
