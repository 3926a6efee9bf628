package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev harness: capture `.explain("formatted")` for EVERY action a query
  * runs — not just the returned DataFrame (for the lake e2e queries the
  * interesting plans are the merge/maintenance writes executed INSIDE the
  * query lambda) — at the Bench session shape (local[$SPARK_GRAFT_CPUS],
  * AQE on, shuffle partitions = cpus). Executed plans are captured AFTER
  * execution, so with AQE they are the FINAL adaptive plans.
  *
  * Usage: runMain graft.PlanDump q33_lake_mor_cdc [...]
  * Env: GRAFT_PLAN_DIR (default plans/r06), GRAFT_PLAN_SUFFIX (e.g.
  * "before"/"after"), SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass query names")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val dir = sys.env.getOrElse("GRAFT_PLAN_DIR", "plans/r06")
    val suffix = sys.env.getOrElse("GRAFT_PLAN_SUFFIX", "after")
    val spark = DevSession.create(DevSession.builder(cpus))
    Files.createDirectories(Paths.get(dir))
    args.foreach { n =>
      require(SparkEntry.queries.contains(n), s"unknown query $n")
      val buf = new StringBuilder
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          buf.synchronized {
            buf.append(s"===== action: $funcName (${durationNs / 1000000} ms) =====\n")
              .append(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
              .append("\n")
          }
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val rows = df.count()
        // ExecutionListenerBus delivery is async with no public drain hook:
        // poll until the capture buffer stops growing (bounded), so inner
        // action plans cannot be silently missing on a loaded machine
        var stable = 0
        var last = -1
        val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
        while (stable < 4 && System.nanoTime() < deadline) {
          Thread.sleep(250)
          val len = buf.synchronized(buf.length)
          if (len == last) stable += 1 else { stable = 0; last = len }
        }
        buf.synchronized {
          buf.append(s"===== final (returned) query plan — $rows rows =====\n")
            .append(df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
        }
      } finally spark.listenerManager.unregister(listener)
      val out = Paths.get(dir, s"${n}_$suffix.txt")
      Files.write(out, buf.toString.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote $out")
      Bench.drainSessionState(spark)
    }
    spark.stop()
  }
}
