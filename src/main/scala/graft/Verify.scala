package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — a FOCUSED dump for
    // per-query scale gates (x20/x50 re-gates of a round's new/changed
    // queries without paying the full-surface DuckDB sweep). The filtered
    // oracle_sql.json keeps tools/oracle_check.py scoped to the same set.
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Option.empty[Set[String]])
      case Array(s, o, f) => (s, o, Some(f.split(',').map(_.trim).toSet))
    }
    // fail fast on a typo'd filter name: an unmatched filter would dump
    // nothing, emit an empty oracle_sql.json, and let the focused gate
    // pass VACUOUSLY
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown queries in filter: ${unknown.toSeq.sorted.mkString(",")}")
    }
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // 4-wide query-level parallelism: queries write to distinct dirs, the
    // Spark scheduler interleaves their jobs across the shared pool
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val futures = SparkEntry.queries.toSeq.filter(q => keep(q._1))
      .map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          // A failed query must stay VISIBLE: no output dir would silently
          // drop it from the driver's correctness report. Persist the
          // error per-query (and summarized in errors.json below) so the
          // round shows `err`, not a shrunken entry count.
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          errors.put(name, s"${e.getClass.getName}: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failed queries: one _error.txt inside the (otherwise missing) query
    // dir + an aggregate errors.json, so a broken query surfaces as `err`
    // in the driver's report instead of vanishing from the entry count.
    import scala.jdk.CollectionConverters._
    errors.asScala.foreach { case (name, msg) =>
      val dir = Paths.get(s"$outDir/$name")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("_error.txt"), msg)
    }
    val errJson = errors.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (!errors.isEmpty)
      System.err.println(s"[verify] ${errors.size} queries failed — see errors.json")
    spark.stop()
  }
}
