package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Memory-headroom probe: runs the shuffle/sort-heavy declared queries
  * under a deliberately SMALL heap and reports per-query spill behavior.
  *
  * Why this exists: every SCALING.md exponent was measured with a roomy
  * heap (24 GiB for ~0.5 GiB of parquet), so "at 100 TB this operator
  * degrades by spilling, not by OOM" was a design claim with no
  * measurement behind it. On a real cluster the interesting regime is the
  * opposite of roomy: per-task execution memory is a few tens of MB
  * (e.g. 8 GiB executor / 8 cores / spark.memory.fraction 0.6 minus
  * storage). This main recreates that regime on one machine — run it with
  * `SPARK_DRIVER_MEM=3g` (build.sbt forwards it to -Xmx) and the x20
  * fixtures so data greatly exceeds execution memory — and answers, per
  * query: did it complete, how long, and how many bytes did sorts /
  * hash-aggregates / joins spill to disk to get there.
  *
  * Metrics come from the public listener API (`SparkListenerTaskEnd` →
  * `TaskMetrics.{memoryBytesSpilled, diskBytesSpilled, peakExecutionMemory,
  * shuffleWriteMetrics}`), accumulated between per-query snapshots; the
  * queries run sequentially so the deltas attribute cleanly (the listener
  * bus is async — a short drain sleep after each action bounds the
  * attribution error to stragglers, fine for a probe).
  *
  * Output: one JSON line (stdout + SPARK_GRAFT_PROBE_OUT, default
  * SPILL_PROBE.json) — heap/cpus/sf, warmup wall + spill, then per query
  * {sec, spill_mem_mb, spill_disk_mb, shuffle_write_mb, peak_task_mem_mb,
  * ok}. A query that throws (OOM included, if the JVM survives it) is
  * recorded ok=false rather than killing the probe.
  */
object SpillProbe {

  /** The declared queries whose plans carry the big sorts/shuffles at
    * scale — global sorts, two-pass numbering, corpus-wide pair joins,
    * rollup lattices, bucketed writes. Overridable via
    * SPARK_GRAFT_PROBE_FILTER (regex over query names). */
  private val defaultTargets = Seq(
    "cluster_zorder", "win_global_rownum", "corpus_pack",
    "join_core_stg_correlate", "agg_rollup_calendar", "agg_dupe_check",
    "merge_upsert_key", "dedup_editdist", "dedup_substring_spans",
    "dedup_containment", "tokenizer_pair_stats", "tokenizer_bpe_train",
    "graph_triangles", "search_bm25", "sink_bucketed", "dedup_exact",
    "dedup_semdedup", "dedup_simhash", "dedup_ngram_jaccard", "ivf_train",
    "text_tfidf", "agg_heavyhitters_cms", "snapshot_compact")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")

    val spillMem = new AtomicLong(0L)
    val spillDisk = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    val peakTask = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          peakTask.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
        }
      }
    })
    def mb(b: Long): Double = math.round(b / 1e5) / 10.0
    def snap(): (Long, Long, Long) =
      (spillMem.get, spillDisk.get, shufWrite.get)

    // Sequential warmups: the memo chains are themselves the largest
    // writes in the suite; run them under the same constrained heap so
    // chain materialization is part of what the probe proves.
    val warmT0 = System.nanoTime()
    SparkEntry.warmups.toSeq.sortBy(_._1).foreach { case (n, f) =>
      try f(spark, sfDir) catch { case e: Throwable =>
        println(s"WARMUP FAIL $n: ${e.getClass.getSimpleName} ${e.getMessage}") }
    }
    Thread.sleep(500)
    val warmWall = (System.nanoTime() - warmT0) / 1e9
    val (wm, wd, ws) = snap()

    val filter = sys.env.get("SPARK_GRAFT_PROBE_FILTER").map(_.r)
    val targets = filter match {
      case Some(re) =>
        SparkEntry.queries.keys.toSeq.sorted
          .filter(n => re.findFirstIn(n).isDefined)
      case None => defaultTargets.filter(SparkEntry.queries.contains)
    }

    val results = targets.map { name =>
      val (m0, d0, s0) = snap()
      peakTask.set(0L)
      val t0 = System.nanoTime()
      val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          println(s"QUERY FAIL $name: ${e.getClass.getSimpleName} ${e.getMessage}")
          false }
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // drain async listener events before the snapshot
      val (m1, d1, s1) = snap()
      val cell =
        s""""$name":{"sec":${math.round(sec * 100) / 100.0},""" +
          s""""spill_mem_mb":${mb(m1 - m0)},"spill_disk_mb":${mb(d1 - d0)},""" +
          s""""shuffle_write_mb":${mb(s1 - s0)},""" +
          s""""peak_task_mem_mb":${mb(peakTask.get)},"ok":$ok}"""
      println(f"PROBE $name%-28s ${sec}%8.2f s  spillDisk=${mb(d1 - d0)}%9.1f MB  ok=$ok")
      cell
    }

    val (tm, td, ts) = snap()
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val line =
      s"""{"metric":"spill_probe","heap_mb":$heapMb,"cpus":$cpus,"sf":"$sfDir",""" +
        s""""warmup":{"wall_sec":${math.round(warmWall * 100) / 100.0},""" +
        s""""spill_mem_mb":${mb(wm)},"spill_disk_mb":${mb(wd)},"shuffle_write_mb":${mb(ws)}},""" +
        s""""total":{"spill_mem_mb":${mb(tm)},"spill_disk_mb":${mb(td)},"shuffle_write_mb":${mb(ts)}},""" +
        s""""queries":{${results.mkString(",")}}}"""
    println(line)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", "SPILL_PROBE.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
