package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Plan evidence for declared queries. Per query it writes
  * `<name>.plan.txt` (the formatted plan, before execution) and
  * `<name>.exec.txt` (the executed plan: the final AQE plan, including the
  * ReusedExchange / AQEShuffleRead nodes the initial plan cannot show).
  * Usage: runMain graft.PlanDump <outDir> [name ...]
  * With no names, dumps every declared query. Exits 1 if any query fails. */
object PlanDump {

  /** Dump `names` into `outDir`; returns the names that failed. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          names: Seq[String]): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    names.filterNot { n =>
      try {
        val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
        Files.writeString(Paths.get(outDir, s"$n.plan.txt"), qe.explainString(FormattedMode))
        // Execute THIS DataFrame's own QueryExecution (a `.write` or
        // `.count()` builds a different one whose AQE plan we'd never
        // see) so the dump shows the final adaptive plan.
        qe.toRdd.count(): Unit
        Files.writeString(Paths.get(outDir, s"$n.exec.txt"), qe.executedPlan.toString)
        true
      } catch {
        case NonFatal(e) =>
          System.err.println(s"PLANDUMP FAIL $n: ${e.getMessage}")
          false
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.PlanDump <outDir> [name ...]")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.length > 1) args.toSeq.tail else SparkEntry.queries.keys.toSeq.sorted
    val failed = try run(spark, dir, args(0), names) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"PLANDUMP ${failed.size} failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
