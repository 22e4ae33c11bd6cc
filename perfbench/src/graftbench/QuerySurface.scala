package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.functions.{base64, coalesce, col, concat_ws, count, format_string,
  hash, lit, pmod, sum, to_json, xxhash64}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.SparkEntry

import Main._

/** The declared query surface, grouped by the object that declares it. */
object Surface {
  val Sf = "sf0.001"

  val families: Seq[(String, Map[String, graft.QFn])] = Seq(
    "TaxiQueries" -> graft.queries.TaxiQueries.queries,
    "StreamQueries" -> graft.queries.StreamQueries.queries,
    "DocQueries" -> graft.queries.DocQueries.queries,
    "ScanQueries" -> graft.queries.ScanQueries.queries,
    "MediaQueries" -> graft.queries.MediaQueries.queries,
    "OlapQueries" -> graft.queries.OlapQueries.queries)

  /** (name, family, fn) of every declared query, by name. */
  def all: Seq[(String, String, graft.QFn)] = {
    val rows = for ((fam, qs) <- families; (n, f) <- qs.toSeq) yield (n, fam, f)
    require(rows.map(_._1).toSet == SparkEntry.queries.keySet,
      "query families do not partition SparkEntry.queries")
    rows.sortBy(_._1)
  }

  /** The measured subset: a few queries of each family, near its median
    * cost and of different operator shapes (window, join, aggregate, text,
    * vector, scan, time travel), fixed so that every run times the same
    * work. One pass takes about 9 s warm at sf0.001 on 4 vCPUs; the whole
    * surface takes about 180 s and is the self-test's. */
  val Subset: Seq[String] = Seq(
    "agg_counts_by_slice", "win_rank_family", "join_ref_lookup",
    "stream_windowed_agg", "lambda_merged_star",
    "text_normalize", "dedup_keep_best", "ann_bruteforce_topk",
    "scan_parquet", "snapshot_time_travel",
    "media_dedup", "media_phash",
    "olap_shipping_priority", "olap_nation_volume")

  /** (name, family, fn) of every query of [[Subset]]. */
  def subset: Seq[(String, String, graft.QFn)] = {
    val byName = all.map(q => q._1 -> q).toMap
    val missing = Subset.filterNot(byName.contains)
    require(missing.isEmpty, s"subset names undeclared queries: ${missing.mkString(",")}")
    require(Subset.map(byName(_)._2).toSet == families.map(_._1).toSet,
      "subset does not cover every query family")
    Subset.map(byName)
  }

  /** The timed action: a full materialization through the `noop` sink, so
    * no operator of the declared plan can be pruned away. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Row count and an order-insensitive digest of a result: each row is
    * rendered as text (doubles to 10 significant digits, so the last bits
    * of a float sum do not matter), hashed twice, and the hashes are summed
    * modulo primes. */
  def digest(df: DataFrame): (Long, String) = {
    def text(f: StructField): Column = {
      val c = col(s"`${f.name}`")
      val s = f.dataType match {
        case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
        case _: StructType | _: ArrayType | _: MapType => to_json(c)
        case BinaryType => base64(c)
        case _ => c.cast(StringType)
      }
      coalesce(s, lit("\u0000"))
    }
    val row = concat_ws("\u0001", df.schema.fields.toSeq.map(text): _*)
    val r = df.select(xxhash64(row).as("h1"), hash(row).as("h2"))
      .agg(count(lit(1)), sum(pmod(col("h1"), lit(2147483647L))),
        sum(pmod(col("h2").cast("long"), lit(2147483629L))))
      .collect()(0)
    val n = r.getLong(0)
    (n, if (n == 0) "0-0" else s"${r.getLong(1)}-${r.getLong(2)}")
  }

  /** Expected (rows, digest) per query, from `expected/query_surface_sf0.001.tsv`. */
  def expected(benchDir: String): Map[String, (Long, String)] = {
    val p = Paths.get(benchDir, "expected", s"query_surface_$Sf.tsv")
    Files.readAllLines(p).asScala.filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(n, rows, d) = l.split("\t")
      n -> (rows.toLong, d)
    }.toMap
  }

  def warm(spark: SparkSession, sf: String, tracer: Tracer): Seq[(String, Double)] =
    SparkEntry.warmups.toSeq.sortBy(_._1).map { case (n, f) =>
      n -> tracer.timed(s"queries.warm.$n")(f(spark, sf))._2.seconds
    }
}

/** The measured subset of the query surface, read-only analytics over the
  * memoized chains.
  *
  * Set-up runs `SparkEntry.warmups` serially. Then passes over the
  * [[Surface.Subset]], in a seed-permuted order, each query materialized
  * through the `noop` sink, until `seconds` are spent (at least one pass).
  * An untimed pass then checks the row count and digest of every query of
  * the subset against the expected file. The `query_surface` workload is
  * this measurement on its own; a traced `batch_daily` run makes it after
  * its measured days, for the `queries.*` layers. */
object QuerySurface {
  final case class Sample(name: String, family: String, span: Span)

  /** `setupUptimeS`: JVM uptime when the warm-ups were done. */
  final case class Result(warm: Seq[(String, Double)], setupUptimeS: Double, passes: Int,
                          samples: Seq[Sample], attempted: Long, failed: Long,
                          loopT0: Long, loopS: Double, gcS: Double,
                          memoMb: Double, scratchMb: Double,
                          checks: Seq[(String, Boolean, String)])

  def measure(ctx: Ctx, seconds: Double): Result = {
    import ctx._
    val sf = fixture(Surface.Sf)
    val expected = Surface.expected(Paths.get(opts.fixtures).getParent.toString)
    val warm = Surface.warm(spark, sf, tracer)
    val setupUptimeS = uptimeS()

    val order = rng.shuffle(Surface.subset)
    val samples = mutable.ArrayBuffer.empty[Sample]
    var attempted, failed = 0L
    var passes = 0
    val gc0 = gcSeconds()
    val loopT0 = System.nanoTime()
    while ((System.nanoTime() - loopT0) / 1e9 < seconds || passes == 0) {
      passes += 1
      for ((name, fam, fn) <- order) {
        attempted += 1
        try {
          val (_, span) = tracer.timed(s"query.$name")(Surface.materialize(fn(spark, sf)))
          samples += Sample(name, fam, span)
        } catch {
          case NonFatal(e) =>
            failed += 1
            System.err.println(s"[perfbench] query $name failed: $e")
        }
      }
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    val gcS = gcSeconds() - gc0
    if (samples.isEmpty) sys.error("no query completed")
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val memoMb = Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft-memo")).map(p => diskMb(p.toString)).sum
    val scratchMb = diskMb(tmp.toString)

    // ---- untimed check pass ----
    val mismatches = order.flatMap { case (name, _, fn) =>
      val got = Surface.digest(fn(spark, sf))
      if (expected.get(name).contains(got)) None
      else Some(s"$name: got $got, expected ${expected.get(name)}")
    }
    val digests = check("query_digests", mismatches.isEmpty,
      s"${order.size - mismatches.size}/${order.size} match; " + mismatches.mkString("; "))
    Result(warm, setupUptimeS, passes, samples.toSeq, attempted, failed, loopT0, loopS, gcS, memoMb,
      scratchMb, Seq(digests, check("queries_ran", failed == 0, s"${attempted - failed}/$attempted")))
  }

  /** The `queries.*` layers of a measurement; sums are per pass. */
  def layers(ctx: Ctx, r: Result): Map[String, M] = {
    val families = Surface.families.map(_._1).flatMap { fam =>
      val mine = r.samples.filter(_.family == fam)
      val w = Work.of(mine.flatMap(s => ctx.tracer.jobsUnder(s.span)))
      Seq(
        s"queries.$fam.sum_s" -> M(mine.map(_.span.seconds).sum / r.passes, "s"),
        s"queries.$fam.jobs" -> M(w.jobs.toDouble / r.passes, "count"),
        s"queries.$fam.task_cpu_s" -> M(w.cpuS / r.passes, "s"),
        s"queries.$fam.shuffle_write_mb" -> M(w.shuffleMb / r.passes, "MB"),
        s"queries.$fam.spill_mb" -> M(w.spillMb / r.passes, "MB"))
    }
    val times = r.samples.map(_.span.seconds)
    (families ++ r.warm.map { case (n, s) => s"queries.warm.${n}_s" -> M(s, "s") } ++ Seq(
      "queries.memo.disk_mb" -> M(r.memoMb, "MB"),
      "queries.query_p50_s" -> M(median(times), "s"),
      "queries.query_p95_s" -> M(quantile(times, 0.95), "s"),
      "queries.query_surface_s" -> M(times.sum / r.passes, "s"))).toMap
  }

  def detail(r: Result): Seq[(String, Any)] = Seq(
    "fixture" -> Surface.Sf, "warmups_s" -> r.warm, "passes" -> r.passes, "loop_s" -> r.loopS,
    "queries" -> r.samples.map(s => Seq("name" -> s.name, "family" -> s.family,
      "s" -> s.span.seconds)))

  /** The `query_surface` workload. */
  def run(ctx: Ctx): Outcome = {
    val r = measure(ctx, ctx.opts.seconds)
    val times = r.samples.map(_.span.seconds)
    val endToEnd = Map(
      "setup_s" -> M(r.setupUptimeS, "s"),
      "op_p50_s" -> M(median(times), "s"),
      "disk_mb_per_op" -> M(r.scratchMb / Surface.Subset.size, "MB"))
    Outcome(r.attempted, r.failed, r.checks, endToEnd,
      layers(ctx, r) ++ Common.layers(ctx, r.samples.map(_.span), r.loopT0, r.loopS, r.gcS),
      Seq("session_s" -> ctx.sessionS) ++ detail(r))
  }
}
