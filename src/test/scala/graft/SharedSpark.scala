package graft

import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.shim

/** One SparkSession for the whole forked test JVM. */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `action` with `listener` attached, after every earlier event has
    * been delivered and before the listener is read. */
  def listening[A](listener: SparkListener)(action: => A): A = {
    val sc = spark.sparkContext
    shim.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try { val a = action; shim.waitUntilEmpty(sc); a }
    finally sc.removeSparkListener(listener)
  }
}
