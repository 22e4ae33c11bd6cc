package graft

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, cpus) finally spark.stop()
  }

  /** Run `body`; a failure escapes naming what failed, never becomes a time. */
  private def timed(what: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    try body catch { case NonFatal(e) => throw new RuntimeException(s"$what failed", e) }
    (System.nanoTime() - t0) / 1e9
  }

  private def run(spark: SparkSession, sfDir: String, cpus: String): Unit = {
    // labeled warm-up phase: materialize shared memo chains first so each
    // query's number is steady-state, not chain-build attribution noise.
    // The chains (taxi / docs / events) are independent jobs sharing one
    // local[N] pool. Measured both orders twice each at sf0.1 on an idle
    // machine (round 9): concurrent wall 20.6/22.8 s vs sequential
    // 52.8/67.9 s — each chain alone leaves most of the 32 cores idle
    // (many small stages), so overlap ≈ max(chain) not sum(chain).
    val warmT0 = System.nanoTime()
    val warmEntries = SparkEntry.warmups.toSeq.sortBy(_._1)
    val warmPool = java.util.concurrent.Executors.newFixedThreadPool(warmEntries.size.max(1))
    val warm = try {
      implicit val warmEc: ExecutionContext = ExecutionContext.fromExecutor(warmPool)
      val fut = warmEntries.map { case (n, f) =>
        Future(n -> timed(s"warm-up $n")(f(spark, sfDir)))
      }
      scala.collection.immutable.ListMap(Await.result(Future.sequence(fut), Duration.Inf): _*)
    } finally warmPool.shutdown()
    val warmWall = (System.nanoTime() - warmT0) / 1e9
    // p50-of-N per query (default 3): one-off machine-load spikes and the
    // first-run plan-compile cost are not the steady-state number a round
    // artifact should record — the median discards both
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // optional regex filter (scale-sweep harness: run only the lanes whose
    // row-scaling is well-defined on replicated fixtures)
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => filter.forall(_.findFirstIn(name).isDefined) }
    val results = scala.collection.immutable.ListMap(selected: _*).map { case (name, fn) =>
      val times = Seq.fill(reps)(timed(s"query $name")(fn(spark, sfDir).count(): Unit)).sorted
      name -> times(times.length / 2)
    }
    def json(m: Map[String, Double]) = m.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // total = warm-up WALL-CLOCK (chains run concurrently — summing their
    // overlapping per-chain times would double-count) + per-query medians
    val total = warmWall + results.values.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":${json(results)},"warmup":${json(warm)},"warmup_wall":$warmWall,"reps":$reps,"cpus":$cpus,"sf":"$sfDir"}"""
    println(line)
    // The stdout line alone is fragile — a capture that truncates the
    // tail loses per-query numbers (round-5's BENCH artifact kept only
    // 58/177). Persist the identical JSON where the harness (or a later
    // session) can read it whole.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case NonFatal(_) => () } // bench numbers still went to stdout
  }
}
