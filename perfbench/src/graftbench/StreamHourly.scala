package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.functions.{col, concat, concat_ws, count, date_format,
  get_json_object, input_file_name, length, lit, regexp_extract, regexp_replace, timestamp_add}
import org.apache.spark.sql.streaming.Trigger

import graft.lambda.{Lambda, LaneLock}
import graft.model.EventsModel
import graft.stream.{HourLoad, Ingest, SegmentLogStreamSource}

import Main._

/** `stream_hourly`: the hourly lane into the shared star, closed loop.
  *
  * Set-up seeds the star with `Lambda.runDaily` (sf0.001 batch day),
  * renders every envelope of the sf0.01 `events` fixture, and runs the first
  * hour of a window of consecutive fixture hours as a warm-up (the seed
  * picks where the window starts). Each measured cycle, for the next hour:
  * publish the hour's
  * envelopes as one segment (temp file + rename) → `Ingest.start` over the
  * segment log with `AvailableNow` to completion → `Lambda.runHour` → a BI
  * read through `Lambda.biView` that must return the hour's trips. From the
  * second hour on, a segment also carries the previous hour's late replays
  * (`event_id % 13 == 0`, same payload, `producer_ts` one hour later), so
  * the merge updates as well as inserts. Freshness is the cycle's wall
  * time: segment publish → the BI read returns the hour. A run measures
  * at least [[MinHours]] hours. */
object StreamHourly {
  val SeedSf = "sf0.001"
  val EventsSf = "sf0.01"
  /** Longest window of hours the loop can walk, warm-up hour included. */
  val MaxHours = 64
  /** Hours a run measures even when `--seconds` is spent sooner: one
    * cycle's freshness jitters by about a tenth between runs, and a
    * median of two halves that share of the run-to-run spread. */
  val MinHours = 2

  final case class Cycle(k: Int, date: String, hour: String, events: Int,
                         span: Span, result: HourLoad.HourResult, biTrips: Long,
                         jitS: Double, stealShare: Double)

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val base = runPath("stream")
    val wh = Lambda.SharedWarehouse(spark, s"$base/wh")
    val logDir = s"$base/seglog"
    Files.createDirectories(Paths.get(logDir))
    val dirs = Ingest.LakeDirs(raw = s"$base/raw", curated = s"$base/curated",
      dlq = s"$base/dlq", checkpoint = s"$base/chk")

    // ---- set-up ----
    val ((seedCore, _), seedSpan) = tracer.timed("lambda.runDaily.seed")(
      Lambda.runDaily(wh, fixture(SeedSf), "seed"))
    val (segments, window) = render(ctx)
    var published = 0L
    var biTrips = 0L
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    def cycle(k: Int): Cycle = {
      val jit0 = jitSeconds()
      val cpu0 = hostCpu()
      val (date, hour) = window(k)
      val lines = segments(k)
      val (res, span) = tracer.timed("stream.cycle") {
        tracer.span("sources.publish") {
          val name = f"$k%08d.seg"
          val tmp = Paths.get(logDir, s".tmp-$name")
          Files.write(tmp, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
          Files.move(tmp, Paths.get(logDir, name))
        }
        tracer.span("stream.ingest") {
          val q = Ingest.start(spark, SegmentLogStreamSource(logDir, Some(1)), dirs,
            Trigger.AvailableNow())
          tracer.bindStream(q.runId)
          if (!q.awaitTermination(120000L)) {
            q.stop()
            sys.error(s"ingest of $date/$hour did not finish in 120 s")
          }
          q.exception.foreach(e => throw e)
        }
        val r = tracer.span("lambda.runHour")(
          Lambda.runHour(wh, dirs.curated, date, hour, s"hour-$date-$hour"))
        val n = tracer.span("lambda.biView")(Lambda.biView(wh)
          .filter(length(col("trip_id")) < 64).agg(count(lit(1))).collect()(0).getLong(0))
        if (n != biTrips + r.inserted)
          sys.error(s"BI read after $date/$hour returned $n stream trips, " +
            s"expected ${biTrips + r.inserted}")
        (r, n)
      }
      published += lines.size
      biTrips = res._2
      val cpu1 = hostCpu()
      val steal = if (cpu1._2 > cpu0._2) (cpu1._1 - cpu0._1).toDouble / (cpu1._2 - cpu0._2) else 0.0
      Cycle(k, date, hour, lines.size, span, res._1, res._2, jitSeconds() - jit0, steal)
    }
    val warm = cycle(0)
    val setupS = uptimeS()
    val filesAfterSetup = Seq(dirs.raw, dirs.curated, dirs.dlq).map(dataFiles).sum
    val commitsAfterSetup = commits(spark, wh.dir)
    val diskAfterSetup = diskMb(base)
    val publishedAfterSetup = published

    // ---- measured loop ----
    var attempted, failed = 0L
    val gc0 = gcSeconds()
    val loopStartMs = System.currentTimeMillis()
    val loopT0 = System.nanoTime()
    var k = 1
    while (((System.nanoTime() - loopT0) / 1e9 < opts.seconds || k <= MinHours) &&
        k < window.size) {
      attempted += 1
      try cycles += cycle(k)
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] hour ${window(k)} failed: $e")
      }
      k += 1
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    val gcS = gcSeconds() - gc0
    if (cycles.isEmpty) sys.error("no hour completed")
    val n = cycles.size
    val files = Seq(dirs.raw, dirs.curated, dirs.dlq).map(dataFiles).sum - filesAfterSetup
    val commitsPerHour = (commits(spark, wh.dir) - commitsAfterSetup).toDouble / n
    val diskPerHour = (diskMb(base) - diskAfterSetup) / n

    // ---- untimed checks ----
    val all = warm +: cycles.toSeq
    val rawRows = spark.read.text(dirs.raw).count()
    val dlqRows = spark.read.text(dirs.dlq).count()
    val curatedByHour = spark.read.schema(HourLoad.curatedReadSchema)
      .option("header", "false").csv(dirs.curated)
      .select(regexp_extract(input_file_name(), "p_date=([0-9-]+)", 1).as("d"),
        regexp_extract(input_file_name(), "p_hour=([0-9]+)", 1).as("h"))
      .groupBy("d", "h").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val curatedRows = curatedByHour.values.sum
    def keys(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      df.select(c.cast("string")).collect().map(_.getString(0)).toSeq
    val coreKeys = keys(wh.core.read.filter(col("trip_id").isNotNull), col("trip_id"))
    val factKeys = keys(wh.fact.read.filter(length(col("trip_id")) < 64), col("trip_id"))
    val biKeys = keys(Lambda.biView(wh).filter(length(col("trip_id")) < 64), col("trip_id"))
    def sameKeys(a: Seq[String], b: Seq[String]) = a.sorted == b.sorted
    val coreCount = coreKeys.size.toLong
    val events = LaneLock.events(spark, wh.dir)
    def byEvent(df: org.apache.spark.sql.DataFrame) = df.groupBy("event").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val lockEvents = byEvent(events)
    val loopLockEvents = byEvent(events.filter(col("ts") >= loopStartMs))
    def lock(e: String) = lockEvents.getOrElse(e, 0L)
    def lockPerHour(e: String) = M(loopLockEvents.getOrElse(e, 0L).toDouble / n, "count")
    val inserted = all.map(_.result.inserted).sum
    val checks = Seq(
      check("seed_loaded", seedCore > 0, s"$seedCore"),
      check("broker_eq_raw", rawRows == published, s"$rawRows raw vs $published published"),
      check("raw_eq_curated_plus_dlq", rawRows == curatedRows + dlqRows,
        s"$rawRows = $curatedRows + $dlqRows"),
      check("rows_copied_eq_curated_hour", all.forall(c =>
        c.result.rowsCopied == curatedByHour.getOrElse((c.date, c.hour), 0L)),
        all.map(c => s"${c.date}/${c.hour}:${c.result.rowsCopied}/" +
          curatedByHour.getOrElse((c.date, c.hour), 0L)).mkString(",")),
      check("core_keys_unique_eq_inserted",
        coreCount == inserted && coreKeys.distinct.size == coreKeys.size,
        s"$coreCount (${coreKeys.distinct.size} distinct) vs $inserted inserted"),
      check("core_keys_eq_fact_keys", sameKeys(coreKeys, factKeys), "set compare"),
      check("core_keys_eq_bi_keys", sameKeys(coreKeys, biKeys) && coreCount == biTrips,
        s"$coreCount core vs $biTrips last BI read"),
      check("no_lock_takeover_or_fenced_abort",
        lock("takeover") == 0 && lock("fenced_abort") == 0, s"$lockEvents"))

    val freshness = cycles.map(_.span.seconds).toSeq
    val endToEnd = Map(
      "setup_s" -> M(setupS, "s"),
      "op_p50_s" -> M(median(freshness), "s"),
      "disk_mb_per_op" -> M(diskPerHour, "MB"))

    // ---- per-layer ----
    def child(c: Cycle, name: String): Span =
      tracer.spans.find(s => s.parent == c.span.id && s.name == name).get
    def med(f: Cycle => Double): Double = median(cycles.map(f).toSeq)
    def work(c: Cycle, name: String): Work =
      Work.of(tracer.jobsUnder(child(c, name)))
    def progressMs(c: Cycle, key: String): Double =
      tracer.progressUnder(child(c, "stream.ingest"))
        .map(_.progress.durationMs.getOrDefault(key, 0L).toDouble).sum
    val third = math.max(1, n / 3)
    val growth = median(freshness.takeRight(third)) / median(freshness.take(third))
    val perLayer = Map(
      "stream.ingest.wall_s" -> M(med(child(_, "stream.ingest").seconds), "s"),
      "stream.ingest.jobs" -> M(med(work(_, "stream.ingest").jobs.toDouble), "count"),
      "stream.ingest.trigger_ms" -> M(med(progressMs(_, "triggerExecution")), "ms"),
      "stream.ingest.add_batch_ms" -> M(med(progressMs(_, "addBatch")), "ms"),
      "stream.ingest.files" -> M(files.toDouble / n, "count"),
      "sources.publish.wall_s" -> M(med(child(_, "sources.publish").seconds), "s"),
      "lambda.runHour.wall_s" -> M(med(child(_, "lambda.runHour").seconds), "s"),
      "lambda.runHour.jobs" -> M(med(work(_, "lambda.runHour").jobs.toDouble), "count"),
      "lambda.runHour.tasks" -> M(med(work(_, "lambda.runHour").tasks.toDouble), "count"),
      "lambda.runHour.task_cpu_s" -> M(med(work(_, "lambda.runHour").cpuS), "s"),
      "lambda.runHour.shuffle_write_mb" -> M(med(work(_, "lambda.runHour").shuffleMb), "MB"),
      "lambda.merge.inserted" -> M(cycles.map(_.result.inserted).sum.toDouble / n, "count"),
      "lambda.merge.updated" -> M(cycles.map(_.result.updated).sum.toDouble / n, "count"),
      "ops.stream.commits_per_hour" -> M(commitsPerHour, "count"),
      "lambda.lock.takeovers" -> lockPerHour("takeover"),
      "lambda.lock.fenced_aborts" -> lockPerHour("fenced_abort"),
      "lambda.lock.usurped_retries" -> lockPerHour("usurped_retry"),
      "lambda.biView.wall_s" -> M(med(child(_, "lambda.biView").seconds), "s"),
      "lambda.biView.jobs" -> M(med(work(_, "lambda.biView").jobs.toDouble), "count"),
      "stream.cycle_growth" -> M(growth, "ratio"),
      "stream.events_per_s" -> M((published - publishedAfterSetup) / loopS, "1/s"),
      "lambda.runDaily.seed_s" -> M(seedSpan.seconds, "s")) ++
      Common.layers(ctx, cycles.map(_.span).toSeq, loopT0, loopS, gcS)

    val detail = Seq(
      "seed_fixture" -> SeedSf, "events_fixture" -> EventsSf, "session_s" -> sessionS,
      "seed_s" -> seedSpan.seconds, "warmup_hour_s" -> warm.span.seconds,
      "window_start" -> s"${window.head._1}/${window.head._2}", "loop_s" -> loopS,
      "hours" -> all.map(c => Seq(
        "hour" -> s"${c.date}/${c.hour}", "warmup" -> (c.k == 0), "events" -> c.events,
        "freshness_s" -> c.span.seconds, "jit_s" -> c.jitS, "host_steal_share" -> c.stealShare,
        "publish_s" -> child(c, "sources.publish").seconds,
        "ingest_s" -> child(c, "stream.ingest").seconds,
        "run_hour_s" -> child(c, "lambda.runHour").seconds,
        "bi_s" -> child(c, "lambda.biView").seconds,
        "rows_copied" -> c.result.rowsCopied, "inserted" -> c.result.inserted,
        "updated" -> c.result.updated, "bi_trips" -> c.biTrips)))
    Outcome(attempted, failed, checks, endToEnd, perLayer, detail)
  }

  /** Envelope lines per window position, and the (date, hour) of each
    * position: `MaxHours` consecutive fixture hours from a seed-picked
    * start. A position's lines are its hour's envelopes, plus, after the
    * first position, the late replays of the position before it when that
    * was the previous clock hour. */
  private def render(ctx: Ctx): (IndexedSeq[Seq[String]], IndexedSeq[(String, String)]) = {
    val spark = ctx.spark
    val env = EventsModel.envelopes(spark, ctx.fixture(EventsSf))
      .withColumn("event_id", get_json_object(col("json"), "$.event_id").cast("long"))
    def hourOf(ts: org.apache.spark.sql.Column) =
      concat_ws("/", date_format(ts, "yyyy-MM-dd"), date_format(ts, "HH"))
    val lateTs = timestamp_add("HOUR", lit(1), col("arrival_ts"))
    val late = env.filter(col("event_id") % 13 === 0).select(
      regexp_replace(col("json"), lit("\"producer_ts\":\"[^\"]*\""),
        concat(lit("\"producer_ts\":\""),
          date_format(lateTs, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), lit("\""))).as("json"),
      hourOf(lateTs).as("target"), hourOf(col("arrival_ts")).as("source"), col("event_id"))
    val originals = env.select(col("json"), hourOf(col("arrival_ts")).as("target"),
      lit(null).cast("string").as("source"), col("event_id"))
    val rows = originals.unionByName(late).orderBy("target", "source", "event_id")
      .collect().toSeq.map(r => (r.getString(0), r.getString(1), Option(r.getString(2))))
    val hours = rows.filter(_._3.isEmpty).map(_._2).distinct.sorted.toIndexedSeq
    require(hours.size > MaxHours, s"fixture has only ${hours.size} hours")
    val start = ctx.rng.nextInt(hours.size - MaxHours)
    val window = hours.slice(start, start + MaxHours)
    val byTarget = rows.groupBy(_._2)
    val segments = window.indices.map { k =>
      val mine = byTarget.getOrElse(window(k), Seq.empty)
      mine.filter(_._3.isEmpty).map(_._1) ++
        (if (k == 0) Seq.empty else mine.filter(_._3.contains(window(k - 1))).map(_._1))
    }
    (segments, window.map { h => val Array(d, hh) = h.split("/"); (d, hh) })
  }
}
