package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's own tests, over every declared query at sf0.001.
  *
  *  - '''Plan guard''': the optimized plan of the timed action
  *    ([[Surface.materialize]]) keeps every Window, Join, Sort and computed
  *    projection of the query's declared optimized plan. The same census of
  *    `count()` is reported next to it, to show the guard would catch the
  *    pruning a `count()` timing suffers.
  *  - '''Digests''': every query's row count and digest equal the expected
  *    file.
  *
  * {{{
  *   graftbench.SelfTest --fixtures <dir> [--record <verify dump dir>]
  * }}}
  * With `--record`, instead writes the expected file from a `graft.Verify`
  * dump (one parquet dir per query) of the sf0.001 fixture. */
object SelfTest {
  /** Operator census of a logical plan, subqueries included. */
  final case class Census(windows: Int, joins: Int, sorts: Int, computed: Int) {
    def keeps(declared: Census): Boolean = windows >= declared.windows &&
      joins >= declared.joins && sorts >= declared.sorts && computed >= declared.computed
  }

  def census(plan: LogicalPlan): Census = {
    val nodes = plan.collectWithSubqueries { case p => p }
    def computed(e: NamedExpression) = e match {
      case _: Attribute => false
      case Alias(_: Attribute, _) => false
      case _ => true
    }
    Census(
      nodes.count(_.isInstanceOf[Window]),
      nodes.count(_.isInstanceOf[Join]),
      nodes.count(_.isInstanceOf[Sort]),
      nodes.collect { case p: Project => p.projectList.count(computed) }.sum)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val fixtures = kv("fixtures")
    val benchDir = Paths.get(fixtures).getParent.toString
    val opts = Opts("self_test", 0L, 1.0, traced = false, kv("run-dir"), fixtures,
      kv.getOrElse("cpus", "4").toInt)
    val spark = Main.session(opts)
    spark.sparkContext.setLogLevel("ERROR")
    val ok = try kv.get("record") match {
      case Some(dump) => record(spark, dump, benchDir)
      case None => test(spark, Paths.get(fixtures, Surface.Sf).toString, benchDir)
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def record(spark: org.apache.spark.sql.SparkSession, dump: String,
                     benchDir: String): Boolean = {
    val lines = Surface.all.map { case (n, _, _) =>
      val dir = Paths.get(dump, n)
      require(Files.isDirectory(dir) && !Files.exists(dir.resolve("_error.txt")),
        s"no clean dump for $n")
      val (rows, d) = Surface.digest(spark.read.parquet(dir.toString))
      s"$n\t$rows\t$d"
    }
    val out = Paths.get(benchDir, "expected", s"query_surface_${Surface.Sf}.tsv")
    Files.createDirectories(out.getParent)
    val header = s"# query\trows\tdigest (graft.Verify dump of ${Surface.Sf}, " +
      "checked against DuckDB by tools/oracle_check.py)"
    Files.writeString(out, (header +: lines).mkString("", "\n", "\n"))
    println(s"recorded ${lines.size} queries to $out")
    true
  }

  private def test(spark: org.apache.spark.sql.SparkSession, sf: String,
                   benchDir: String): Boolean = {
    val writes = new ConcurrentLinkedQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = writes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val expected = Surface.expected(benchDir)
    val tracer = new Tracer(spark, traced = false)
    Surface.warm(spark, sf, tracer)
    var guardFails, countPrunes, digestFails = 0
    Surface.all.foreach { case (name, _, fn) =>
      val df = fn(spark, sf)
      val declared = census(df.queryExecution.optimizedPlan)
      writes.clear()
      Surface.materialize(df)
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val noop = writes.asScala.map(_.optimizedPlan).collect {
        case w: V2WriteCommand if w.table.name.toLowerCase.contains("noop") => w.query
      }.toSeq
      require(noop.size == 1, s"$name: expected one noop write, saw ${noop.size}")
      val timed = census(noop.head)
      val counted = census(df.groupBy().count().queryExecution.optimizedPlan)
      if (!timed.keeps(declared)) {
        guardFails += 1
        println(s"PLAN-GUARD FAIL $name: declared $declared, timed $timed")
      }
      if (!counted.keeps(declared)) countPrunes += 1
      val got = Surface.digest(fn(spark, sf))
      if (!expected.get(name).contains(got)) {
        digestFails += 1
        println(s"DIGEST FAIL $name: got $got, expected ${expected.get(name)}")
      }
    }
    val n = Surface.all.size
    println(s"plan guard: ${n - guardFails}/$n timed plans keep the declared " +
      s"Window/Join/Sort/computed-projection census; count() would prune $countPrunes/$n")
    println(s"digests: ${n - digestFails}/$n match expected/query_surface_${Surface.Sf}.tsv")
    guardFails == 0 && digestFails == 0 && countPrunes > 0
  }
}
