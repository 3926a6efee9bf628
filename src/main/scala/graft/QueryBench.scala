package graft

import org.apache.spark.sql.SparkSession

/** Dev harness: time a SUBSET of `SparkEntry.queries` (iterate on one query
  * without paying the full Bench pass). Usage:
  *   runMain graft.QueryBench q16_snapshot_replay q30_repo_cdc [reps]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  * plus the GRAFT_STAGE_PROFILE switch.
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val (names, reps) = args.partition(!_.forall(_.isDigit)) match {
      case (ns, Array(r)) => (ns.toSeq, r.toInt)
      case (ns, _)        => (ns.toSeq, 2)
    }
    require(names.nonEmpty, "pass query names")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", "8g")
    // A/B seam: GRAFT_QB_CONF="k=v;k=v" overlays session confs (dev-only —
    // the frozen Bench harness never reads it)
    sys.env.get("GRAFT_QB_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    StageProfiler.maybeAttach(spark) // honors GRAFT_STAGE_PROFILE=1 as documented
    names.foreach { n =>
      require(SparkEntry.queries.contains(n), s"unknown query $n")
      (1 to reps).foreach { rep =>
        val t0 = System.nanoTime()
        val cnt = SparkEntry.queries(n)(spark, sfDir).count()
        println(f"[qbench] $n rep$rep ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$cnt")
        // same inter-measurement drain as Bench, so the two harnesses'
        // numbers agree (checkpoint blocks otherwise accumulate across reps)
        Bench.drainSessionState(spark)
      }
    }
    spark.stop()
  }
}
