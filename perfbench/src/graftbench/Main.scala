package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

final case class Opts(workload: String, seed: Long, seconds: Double, traced: Boolean,
                      runDir: String, fixtures: String, cpus: Int)

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

/** What a workload hands back: operation counts, correctness checks (name,
  * passed, evidence), end-to-end and per-layer metrics, and the samples
  * that go into the detail record. */
final case class Outcome(attempted: Long, failed: Long,
                         checks: Seq[(String, Boolean, String)],
                         endToEnd: Map[String, M], perLayer: Map[String, M],
                         detail: Seq[(String, Any)])

/** Shared state of one run. `session_s` is how long the Spark session took
  * to start, part of every workload's set-up. */
final class Ctx(val opts: Opts, val spark: SparkSession, val tracer: Tracer,
                val sessionS: Double) {
  def runPath(parts: String*): String = Paths.get(opts.runDir, parts: _*).toString
  def fixture(sf: String): String = Paths.get(opts.fixtures, sf).toString
  val rng = new scala.util.Random(opts.seed)
}

/** Entry point of the pipeline benchmark: one workload per process.
  *
  * {{{
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --run-dir <dir> --fixtures <dir> --cpus <n>
  * }}}
  *
  * Prints one detail line (`{"detail": ...}`) and then, as the last line,
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
  * when untraced, the per-layer metrics when traced. Exits 1 when a check
  * or an operation failed, 2 on a set-up failure. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "batch_daily" -> BatchDaily.run,
    "stream_hourly" -> StreamHourly.run,
    "query_surface" -> QuerySurface.run)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("run-dir"), need("fixtures"), need("cpus").toInt)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds > 0 && o.cpus > 0, "seconds and cpus must be positive")
    o
  }

  def session(o: Opts): SparkSession = graft.SparkEntry.configure(SparkSession.builder()
    .master(s"local[${o.cpus}]")
    .appName(s"perfbench-${o.workload}")
    .config("spark.sql.shuffle.partitions", o.cpus.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", Paths.get(o.runDir, "spark-local").toString)
    .config("spark.sql.warehouse.dir", Paths.get(o.runDir, "spark-warehouse").toString)
    .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true"))
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val t0 = System.nanoTime()
    val spark = session(opts)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, opts.traced)
    val ctx = new Ctx(opts, spark, tracer, sessionS)
    val outcome = try Workloads(opts.workload)(ctx)
    catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] ${opts.workload} set-up failed: $e")
        e.printStackTrace()
        spark.streams.active.foreach(_.stop())
        spark.stop()
        sys.exit(2)
    }
    tracer.close()
    spark.streams.active.foreach(_.stop())
    spark.stop()

    val correct = outcome.failed == 0 && outcome.checks.forall(_._2)
    val metrics = if (opts.traced) outcome.perLayer else outcome.endToEnd
    val bad = metrics.filter { case (_, m) => m.value.isNaN || m.value.isInfinite }
    require(bad.isEmpty, s"non-finite metrics: ${bad.keys.mkString(",")}")
    val detail = Seq(
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "traced" -> opts.traced, "cpus" -> opts.cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6, "uptime_s" -> uptimeS(),
      "vm_info" -> sys.props("java.vm.info"),
      "checks" -> outcome.checks.map { case (n, ok, ev) =>
        Seq("name" -> n, "ok" -> ok, "evidence" -> ev) },
      "end_to_end" -> metricsJson(outcome.endToEnd),
      "per_layer" -> metricsJson(outcome.perLayer)) ++ outcome.detail ++
      Seq("spans" -> tracer.spans.map(s => Seq("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "s" -> s.seconds)))
    println(Json(Seq("detail" -> detail)))
    println(Json(Seq("correct" -> correct, "attempted" -> outcome.attempted,
      "failed" -> outcome.failed, "metrics" -> metricsJson(metrics))))
    outcome.checks.filterNot(_._2).foreach { case (n, _, ev) =>
      System.err.println(s"[perfbench] check failed: $n ($ev)") }
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  private def metricsJson(m: Map[String, M]): Seq[(String, Any)] =
    m.toSeq.sortBy(_._1).map { case (k, v) => k -> Seq("value" -> v.value, "unit" -> v.unit) }

  // ---- helpers shared by the workloads ----

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("VmHWM not available"))

  /** Total collection time of every garbage collector so far, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Time the JIT compilers have spent compiling so far, in seconds. */
  def jitSeconds(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Host CPU time stolen from this machine's vCPUs and their total time so
    * far, in jiffies (`steal` and the sum of the first eight fields of the
    * `cpu` line of /proc/stat); (0, 0) where that file is absent. */
  def hostCpu(): (Long, Long) = {
    val p = Paths.get("/proc/stat")
    if (!Files.isReadable(p)) (0L, 0L)
    else {
      val f = Files.readAllLines(p).get(0).trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }
  }

  /** Seconds since this JVM started. */
  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Bytes of regular files under `dir` (0 when absent), in MB. */
  def diskMb(dir: String): Double = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum / 1e6
      finally s.close()
    }
  }

  /** Regular data files under `dir`: names not starting with `.` or `_`
    * anywhere below `dir`. */
  def dataFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count { f =>
        Files.isRegularFile(f) && p.relativize(f).iterator().asScala
          .forall(x => !x.toString.startsWith(".") && !x.toString.startsWith("_"))
      }.toLong
      finally s.close()
    }
  }

  /** Snapshot-table commits under a warehouse: the sum, over every table
    * (a dir holding `_manifests`), of its latest published version. */
  def commits(spark: SparkSession, warehouse: String): Long = {
    val p = Paths.get(warehouse)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(d => Files.isDirectory(d) &&
          d.getFileName.toString == "_manifests").map { d =>
        graft.ops.SnapshotTable(spark, d.getParent.toString, StructType(Nil))
          .latestVersion.getOrElse(0L)
      }.sum
      finally s.close()
    }
  }

  def check(name: String, ok: Boolean, evidence: String): (String, Boolean, String) =
    (name, ok, evidence)
}
