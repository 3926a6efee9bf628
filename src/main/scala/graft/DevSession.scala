package graft

import org.apache.spark.sql.SparkSession

/** The one `SparkSession` builder of the dev harnesses (`QueryBench`,
  * `PlanDump`, `ScalingBench`, `SkewBench`, `MorBench`): `local[cpus]` with
  * `graft.Bench`'s session confs — shuffle partitions = cores, AQE on, UTC,
  * no UI, 8g of off-heap Tungsten pages — so a harness number measures the
  * same session shape as the bench. Callers add only what their
  * measurement needs (a local dir, an app name, another master). */
private[graft] object DevSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", "8g")

  /** the session of `builder`, logging at WARN */
  def create(builder: SparkSession.Builder): SparkSession = {
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
