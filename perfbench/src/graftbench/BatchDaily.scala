package graftbench

import java.time.ZoneOffset

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.functions.col

import graft.batch.Runner
import graft.ops.RunLog

import Main._

/** `batch_daily`: repeated `Runner.runDaily` over the sf0.01 fixture day,
  * each day into a fresh warehouse dir so every day does identical work.
  *
  * Set-up runs one warm-up day (the cold JVM pays class loading, JIT and
  * code generation there). The measured loop is closed, one day in flight.
  * The stage split comes from the `RunLog` rows the runner writes. */
object BatchDaily {
  val Sf = "sf0.01"
  /** Core and fact rows of one sf0.01 day, recorded when the benchmark was
    * defined. */
  val ExpectedCore = 37896L
  val ExpectedFact = 37896L
  val Stages = Seq("raw_to_stg", "stg_to_core", "core_to_mdl", "postload_stats")

  final case class Day(i: Int, wh: String, span: Span, core: Long, fact: Long)

  /** One run-log row: stage, status, rows in/out/err, epoch ms. */
  final case class LogRow(stage: String, status: String, rowsIn: Long, rowsOut: Long,
                          rowsErr: Long, ms: Long)

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val sf = fixture(Sf)
    def day(i: Int): Day = {
      val wh = runPath("batch", s"day-$i")
      val ((core, fact), span) =
        tracer.timed("batch.runDaily")(Runner(spark, wh).runDaily(sf, s"day-$i"))
      Day(i, wh, span, core, fact)
    }

    val warm = day(0)
    val setupS = uptimeS()

    val days = mutable.ArrayBuffer.empty[Day]
    var attempted, failed = 0L
    val gc0 = gcSeconds()
    val loopT0 = System.nanoTime()
    while ((System.nanoTime() - loopT0) / 1e9 < opts.seconds) {
      val i = days.size + failed.toInt + 1
      attempted += 1
      try days += day(i)
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] day $i failed: $e")
      }
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    val gcS = gcSeconds() - gc0
    if (days.isEmpty) sys.error("no day completed")

    // ---- untimed: run logs, disk, commits, checks ----
    def logOf(wh: String, runId: String): Seq[LogRow] =
      RunLog(spark, wh).runLog.read.filter(col("run_id") === runId)
        .select("stage", "status", "rows_in", "rows_out", "rows_err", "logged_at")
        .collect().toSeq
        .map(r => LogRow(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getAs[java.time.LocalDateTime](5)
            .toInstant(ZoneOffset.UTC).toEpochMilli))
        .sortBy(_.ms)
    val logs = days.map(d => logOf(d.wh, s"day-${d.i}"))
    val warmLog = logOf(warm.wh, "day-0")
    def stageOk(log: Seq[LogRow]): Boolean = Stages.forall { s =>
      log.filter(_.stage == s).lastOption.exists(_.status == "SUCCEEDED") }
    val disk = days.map(d => diskMb(d.wh))
    val commitsPerDay = days.map(d => commits(spark, d.wh).toDouble)

    val checks = Seq(
      check("warmup_counts", warm.core == ExpectedCore && warm.fact == ExpectedFact,
        s"${warm.core}/${warm.fact}"),
      check("day_counts", days.forall(d => d.core == ExpectedCore && d.fact == ExpectedFact),
        days.map(d => s"${d.core}/${d.fact}").mkString(",")),
      check("runlog_stages_succeeded", (logs :+ warmLog).forall(stageOk),
        logs.map(_.map(r => s"${r.stage}:${r.status}").mkString(" ")).mkString(" | ")))

    val walls = days.map(_.span.seconds).toSeq
    val endToEnd = Map(
      "setup_s" -> M(setupS, "s"),
      "op_p50_s" -> M(median(walls), "s"),
      "disk_mb_per_op" -> M(median(disk.toSeq), "MB"))

    // stage windows: a day's jobs from a stage's STARTED row to the next
    // stage's (the last one to the end of the day), so every job of the day
    // lands in one
    def stageWork(d: Day, log: Seq[LogRow]): Map[String, (Double, Work)] = {
      val jobs = tracer.jobsUnder(d.span)
      val starts = Stages.map(s => log.find(r => r.stage == s && r.status == "STARTED"))
      val ends = Stages.map(s => log.find(r => r.stage == s && r.status == "SUCCEEDED"))
      Stages.indices.map { k =>
        val from = starts(k).map(_.ms).getOrElse(0L)
        val to = starts.drop(k + 1).flatten.headOption.map(_.ms).getOrElse(Long.MaxValue)
        val wall = (for (a <- starts(k); b <- ends(k)) yield (b.ms - a.ms) / 1e3).getOrElse(0.0)
        Stages(k) -> (wall, Work.of(jobs.filter(j => j.startMs >= from && j.startMs < to)))
      }.toMap
    }
    val perDay = days.zip(logs).map { case (d, l) => stageWork(d, l) }
    def med(f: Map[String, (Double, Work)] => Double): Double = median(perDay.map(f).toSeq)
    val stageLayers = Stages.flatMap { s =>
      Seq(
        s"batch.$s.wall_s" -> M(med(_(s)._1), "s"),
        s"batch.$s.jobs" -> M(med(_(s)._2.jobs.toDouble), "count"),
        s"batch.$s.tasks" -> M(med(_(s)._2.tasks.toDouble), "count"),
        s"batch.$s.task_cpu_s" -> M(med(_(s)._2.cpuS), "s"),
        s"batch.$s.shuffle_write_mb" -> M(med(_(s)._2.shuffleMb), "MB"),
        s"batch.$s.spill_mb" -> M(med(_(s)._2.spillMb), "MB"))
    }
    def rows(stage: String, f: LogRow => Long): Double = median(logs.map(l =>
      l.find(r => r.stage == stage && r.status == "SUCCEEDED").map(f).getOrElse(0L).toDouble).toSeq)
    val unstaged = days.zip(perDay).map { case (d, st) => d.span.seconds - st.values.map(_._1).sum }
    val perLayer = (stageLayers ++ Seq(
      "batch.unstaged.wall_s" -> M(median(unstaged.toSeq), "s"),
      "batch.rows_per_s" -> M(days.map(_.core).sum / walls.sum, "1/s"),
      "batch.rows.stg" -> M(rows("raw_to_stg", _.rowsOut), "count"),
      "batch.rows.core" -> M(rows("stg_to_core", _.rowsOut), "count"),
      "batch.rows.err" -> M(rows("stg_to_core", _.rowsErr), "count"),
      "ops.batch.commits" -> M(median(commitsPerDay.toSeq), "count"))).toMap ++
      Common.layers(ctx, days.map(_.span).toSeq, loopT0, loopS, gcS)

    // a traced run then measures the query surface subset, for the
    // queries.* layers (after the layers above, whose spans it must not join)
    val queries = if (opts.traced) Some(QuerySurface.measure(ctx, 0)) else None

    val detail = Seq(
      "fixture" -> Sf, "session_s" -> sessionS, "warmup_day_s" -> warm.span.seconds,
      "loop_s" -> loopS,
      "days" -> days.zip(perDay).zip(disk).map { case ((d, st), mb) => Seq(
        "day" -> d.i, "wall_s" -> d.span.seconds, "core" -> d.core, "fact" -> d.fact,
        "disk_mb" -> mb, "stage_wall_s" -> st.map { case (k, v) => k -> v._1 }) })
    Outcome(attempted, failed, checks ++ queries.toSeq.flatMap(_.checks), endToEnd,
      perLayer ++ queries.map(QuerySurface.layers(ctx, _)).getOrElse(Map.empty),
      detail ++ queries.map(q => "query_surface" -> QuerySurface.detail(q)))
  }
}
