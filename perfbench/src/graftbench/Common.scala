package graftbench

import Main._

/** Per-layer metrics every workload reports, over its measured operations
  * (`ops`, one top-level span each) and loop. */
object Common {
  def layers(ctx: Ctx, ops: Seq[Span], loopT0: Long, loopS: Double,
             gcS: Double): Map[String, M] = {
    val work = ops.map(s => Work.of(ctx.tracer.jobsUnder(s)))
    val covered = ctx.tracer.topLevelSince(loopT0).map(_.seconds).sum
    Map(
      "jvm.gc_s" -> M(gcS / ops.size, "s"),
      "jvm.peak_rss_mb" -> M(peakRssMb(), "MB"),
      "spark.jobs" -> M(median(work.map(_.jobs.toDouble)), "count"),
      "spark.tasks" -> M(median(work.map(_.tasks.toDouble)), "count"),
      "trace.coverage" -> M(covered / loopS, "ratio"),
      "trace.op_p50_s" -> M(median(ops.map(_.seconds)), "s"))
  }
}
