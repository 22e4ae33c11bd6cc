package graft

import org.apache.spark.sql.streaming.Trigger

import graft.model.EventsModel
import graft.stream.Ingest

/** Dev-only ingest-throughput harness (test scope; batch queries are
  * timed by `graft.Bench` with SPARK_GRAFT_BENCH_FILTER): lands the given
  * fixture's event envelopes as a JSONL landing dir, then times the full
  * streaming ingest — readStream → parse/enrich/route → 3-sink
  * stage-publish-marker commit — to completion under
  * `Trigger.AvailableNow()`. Prints one JSON line with rows, wall seconds
  * and rows/sec so SCALING.md can record a measured ingest exponent
  * (run at x1 and a scale_gen x20 replica; VERDICT r11 item 7).
  *
  * Landing files scale with the fixture (one per ~25k events) so the
  * source's file-split parallelism grows with data the way a real landing
  * zone's would, instead of bottlenecking on a fixed file count.
  *
  * Usage: sbt "Test/runMain graft.IngestBench /root/testdata/sf0.1"
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkEntry.localSession("32")
    spark.sparkContext.setLogLevel("ERROR")

    val base = java.nio.file.Files.createTempDirectory("graft_ingest_bench").toString
    val landing = s"$base/landing"
    val env = EventsModel.envelopes(spark, sfDir).select("json")
    val rows = env.count()
    val nFiles = math.max(2, (rows / 25000L).toInt)
    env.repartition(nFiles).write.mode("overwrite").text(landing)

    val dirs = Ingest.LakeDirs(raw = s"$base/raw", curated = s"$base/curated",
      dlq = s"$base/dlq", checkpoint = s"$base/chk")
    val t0 = System.nanoTime()
    val q = Ingest.start(spark, landing, dirs, Trigger.AvailableNow())
    require(q.awaitTermination(1800000), "ingest finished in time")
    require(q.exception.isEmpty, s"ingest clean: ${q.exception}")
    val sec = (System.nanoTime() - t0) / 1e9
    val landed = spark.read.text(dirs.raw).count()
    require(landed == rows, s"raw sink conserves rows: $landed != $rows")
    println(f"""{"metric":"ingest","rows":$rows,"files":$nFiles,"sec":$sec%.2f,"rows_per_sec":${rows / sec}%.0f,"sf":"$sfDir"}""")
    spark.stop()
  }
}
