package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.DataFrame

import graft.batch.Maintenance
import graft.model.EventsModel
import graft.ops.SnapshotTable
import graft.quality.Drift
import graft.stream.{Ingest, Metrics, SegmentLogStreamSource}

/** Sustained-load streaming soak (VERDICT r12 next-round #6): the
  * segment-log source under continuous production for 100+ micro-batches
  * WITH the ops sidecars running concurrently — commit-marker retention
  * sweeps against the live 3-sink publish protocol, transactional
  * compaction + vacuum of a snapshot table the drift monitor is
  * appending to, and the drift monitor itself as a second query over the
  * same segment log. `IngestBench` measured a burst (2M events,
  * AvailableNow); this probe measures the STEADY STATE the burst can't:
  * per-batch latency must stay flat while markers accumulate and the
  * maintenance loop mutates adjacent state.
  *
  * Harness: the fixture's event envelopes are pre-rendered into N
  * segment files; a feeder thread appends one segment per tick
  * (atomic rename into the log dir — a producer sealing a batch), the
  * ingest query (`Ingest.writeBatch`, full stage-publish-marker
  * protocol) and the drift query both follow the log, and a maintenance
  * thread sweeps/compacts every few seconds. Latency comes from the
  * [[graft.stream.BatchMetricsListener]] parquet telemetry — the same
  * table a deployment would alert on.
  *
  * Flatness gate: median per-batch duration of the LAST third of
  * batches ≤ 2x the median of the first third (after a 10-batch
  * warmup skip) — a leak (listing drag from unswept markers, manifest
  * growth, memory creep) shows up as a rising tail. Also asserted: zero
  * query exceptions, zero maintenance-loop errors, raw-sink row
  * conservation, and ≥ 80% of segments produced their own batch (the
  * stream kept pace with the producer).
  *
  * Output: one JSON line (artifact: SOAK_PROBE.json via
  * SPARK_GRAFT_SOAK_OUT), recorded in SCALING.md.
  */
object SoakProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nSegments = sys.env.getOrElse("SPARK_GRAFT_SOAK_SEGMENTS", "120").toInt
    // Producer tick is deliberately ABOVE per-batch processing capacity:
    // a steady state where the stream keeps pace (one batch per segment)
    // is the regime where per-batch latency flatness is measurable. The
    // first calibration run ticked at 400 ms against a ~2 s batch cost
    // and measured only backpressure coalescing (7 mega-batches) — valid
    // behavior, but zero latency statistics.
    val tickMs = sys.env.getOrElse("SPARK_GRAFT_SOAK_TICK_MS", "2000").toLong
    // Small micro-batches: 32-way shuffles are pure per-file overhead at
    // ~1k rows/segment (measured ~9 s/batch at 32 cores vs the data
    // volume of a sub-second job); 8 cores keeps the 3-sink commit cheap.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkEntry.localSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val base = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val segDir = s"$base/seglog"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(segDir))
    val dirs = Ingest.LakeDirs(raw = s"$base/raw", curated = s"$base/curated",
      dlq = s"$base/dlq", checkpoint = s"$base/chk")
    val metricsDir = s"$base/metrics"

    // ---- pre-render the segments (one file per future append) ----
    // A producer seals batches in ARRIVAL order: each segment is a
    // contiguous time slice, so a micro-batch touches a couple of hour
    // dirs per sink. The first calibration run hash-bucketed rows across
    // segments instead, and every ~800-row batch wrote ~700 hour dirs x 3
    // sinks — 12 s of pure file ops per batch, measuring fixture shape,
    // not the protocol. (Partition-less window is fine here: one-shot
    // probe prep over 100k rows, not a declared query.)
    val env = EventsModel.envelopes(spark, sfDir)
    val totalRows = env.count()
    val stage = s"$base/stage"
    env.withColumn("g",
        ntile(nSegments).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("arrival_ts"), col("json"))) - 1)
      .select("json", "g")
      .repartition(col("g"))
      .write.partitionBy("g").text(stage)

    // ---- drift reference: payload-length histogram of the full corpus ----
    val NBins = 16
    def binned(df: DataFrame): DataFrame = df.select(lit("payload_len").as("g"),
      least(floor(length(col("json")) / 64), lit(NBins - 1)).cast("int").as("bin"))
    val refCounts = Drift.referenceCounts(binned(env), "g", "bin")
      .localCheckpoint(true) // census-sized; score every batch off memory
    val driftSchema = Drift.scoreBatch(binned(env).limit(0), refCounts,
      "g", "bin", NBins, 0.25, 0L).schema
    val driftTable = SnapshotTable(spark, s"$base/drift", driftSchema)

    val listener = Metrics.attach(spark, metricsDir)

    // ---- the two streaming queries ----
    // both queries poll FASTER than the producer ticks so each segment
    // lands in its own micro-batch once the stream is keeping pace
    val pollMs = math.max(200L, tickMs / 4)
    val ingestQ = Ingest.start(spark, SegmentLogStreamSource(segDir), dirs,
      Trigger.ProcessingTime(s"$pollMs milliseconds"))
    val driftQ = SegmentLogStreamSource(segDir).load(spark)
      .writeStream
      .option("checkpointLocation", s"$base/chk_drift")
      .trigger(Trigger.ProcessingTime(s"$pollMs milliseconds"))
      .foreachBatch { (b: DataFrame, id: Long) =>
        driftTable.append(
          Drift.scoreBatch(binned(b), refCounts, "g", "bin", NBins, 0.25, id)): Unit
      }
      .start()

    // ---- producer: one segment per tick, atomic rename ----
    // A feeder crash (absent g= dir when nSegments exceeds fixture rows,
    // a staging-write change, a filesystem hiccup) must not silently
    // kill the thread: the probe would then idle to the drain deadline
    // and fail on row conservation with no trace of the real cause
    // (r13 ADVICE). Record it; the verdict includes and gates on it.
    val feederError = new java.util.concurrent.atomic.AtomicReference[String](null)
    val feeder = new Thread(() => {
      try (0 until nSegments).foreach { i =>
        val gDir = java.nio.file.Paths.get(s"$stage/g=$i")
        val src = java.nio.file.Files.list(gDir)
        val part = try {
          import scala.jdk.CollectionConverters._
          src.iterator().asScala.toSeq
            .filter(_.getFileName.toString.startsWith("part-"))
        } finally src.close()
        // a hash bucket can be empty at tiny fixtures; still tick
        part.headOption.foreach { p =>
          java.nio.file.Files.move(p,
            java.nio.file.Paths.get(f"$segDir%s/seg-$i%05d"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        Thread.sleep(tickMs)
      } catch { case e: Throwable =>
        feederError.set(s"${e.getClass.getName}: ${e.getMessage}")
        System.err.println(s"[soak] feeder died at segment feed: $e")
      }
    }, "soak-feeder")

    // ---- maintenance sidecar: sweep + compact + vacuum every ~3 s ----
    @volatile var maintStop = false
    val maintErrors = new java.util.concurrent.atomic.AtomicInteger(0)
    val sweeps = new java.util.concurrent.atomic.AtomicInteger(0)
    val compactions = new java.util.concurrent.atomic.AtomicInteger(0)
    val maint = new Thread(() => {
      while (!maintStop) {
        try {
          val last = Option(ingestQ.lastProgress).map(_.batchId).getOrElse(-1L)
          if (last > 50) {
            Seq(dirs.raw, dirs.curated, dirs.dlq).foreach { d =>
              val r = Maintenance.sweepCommitMarkers(spark, d, last - 40)
              if (r.removed.nonEmpty) sweeps.incrementAndGet(): Unit
            }
          }
          if (driftTable.exists) {
            Maintenance.compactSnapshots(Seq("drift" -> driftTable))
            // minAgeMs is the vacuum contract's in-flight-commit guard,
            // NOT tunable to 0 under concurrency: the first soak run
            // passed 0 and vacuum deleted the drift writer's uncommitted
            // staging dir mid-commit (chmod on a vanished _SUCCESS),
            // killing the query at batch ~30 — the probe measuring the
            // guard is load-bearing. 30 s >> any in-flight commit here.
            driftTable.vacuum(keepVersions = 2, minAgeMs = 30000L)
            compactions.incrementAndGet(): Unit
          }
        } catch {
          case e: Throwable =>
            maintErrors.incrementAndGet()
            System.err.println(s"[soak] maintenance error: $e")
        }
        Thread.sleep(3000)
      }
    }, "soak-maintenance")

    val t0 = System.nanoTime()
    feeder.start(); maint.start()
    feeder.join()
    // drain: both queries caught up with the final segment count
    val deadline = System.currentTimeMillis() + 120000
    def caughtUp(q: org.apache.spark.sql.streaming.StreamingQuery): Boolean =
      Option(q.lastProgress).exists { p =>
        p.sources.headOption.exists(s =>
          Option(s.endOffset).exists(_.contains(s""""segments":$nSegments""")))
      }
    while ((!caughtUp(ingestQ) || !caughtUp(driftQ)) &&
           System.currentTimeMillis() < deadline)
      Thread.sleep(500)
    maintStop = true; maint.join()
    val ingestErr = ingestQ.exception
    val driftErr = driftQ.exception
    ingestQ.stop(); driftQ.stop()
    val wallSec = (System.nanoTime() - t0) / 1e9
    spark.streams.removeListener(listener)

    // ---- verdicts ----
    val landed = spark.read.text(dirs.raw).count()
    // only DATA batches: polling faster than the producer ticks means
    // empty trigger fires also report progress (0 rows, ~ms durations)
    // and would dilute the latency trend with no-op rows
    val met = spark.read.parquet(metricsDir)
      .filter(col("query_name") === ingestQ.id.toString &&
        col("duration_ms") >= 0 && col("input_rows") > 0)
      .select("batch_id", "duration_ms", "input_rows")
      .orderBy("batch_id").collect()
    val durations = met.map(_.getLong(1).toDouble)
    val nBatches = durations.length
    def median(xs: Array[Double]): Double =
      if (xs.isEmpty) -1 else xs.sorted.apply(xs.length / 2)
    val steady = durations.drop(10)
    val third = math.max(1, steady.length / 3)
    val headMed = median(steady.take(third))
    val tailMed = median(steady.takeRight(third))
    val flatRatio = if (headMed > 0) tailMed / headMed else -1
    val driftRows = driftTable.read.count()
    val ok = ingestErr.isEmpty && driftErr.isEmpty &&
      maintErrors.get() == 0 && feederError.get() == null &&
      landed == totalRows &&
      nBatches >= (nSegments * 8) / 10 && flatRatio > 0 && flatRatio <= 2.0

    // Control chars (newlines/tabs are common in IO/Spark messages) would
    // make the verdict line invalid JSON exactly in the failure case this
    // field exists to diagnose — flatten them to spaces before quoting.
    val feederErrJson = Option(feederError.get())
      .map(e => "\"" + e.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("\\p{Cntrl}", " ") + "\"")
      .getOrElse("null")
    val line =
      f"""{"metric":"soak","ok":$ok,"segments":$nSegments,"batches":$nBatches,"rows":$totalRows,"landed":$landed,"wall_sec":$wallSec%.1f,"head_median_ms":$headMed%.0f,"tail_median_ms":$tailMed%.0f,"flat_ratio":$flatRatio%.2f,"marker_sweeps":${sweeps.get()},"compactions":${compactions.get()},"maint_errors":${maintErrors.get()},"feeder_error":$feederErrJson,"drift_rows":$driftRows,"ingest_exception":${ingestErr.isDefined},"drift_exception":${driftErr.isDefined},"sf":"$sfDir"}"""
    println(line)
    sys.env.get("SPARK_GRAFT_SOAK_OUT").foreach { out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n"): Unit
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
