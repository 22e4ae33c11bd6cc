package graft

import java.nio.file.{Files, Paths}

/** `graft.PlanDump` writes both plans per query and reports, never
  * swallows, a query it could not dump. */
class PlanDumpSpec extends SparkSpec {

  test("PlanDump.run writes plan + final AQE exec plan, returns exactly the failed names") {
    val out = tmpDir("plandump")
    val ok = Seq("text_normalize", "text_token_count")
    val failed = PlanDump.run(spark, sf(), out, ok :+ "no_such_query")
    assert(failed == Seq("no_such_query"))
    ok.foreach { n =>
      assert(Files.exists(Paths.get(out, s"$n.plan.txt")), n)
      val exec = Files.readString(Paths.get(out, s"$n.exec.txt"))
      assert(exec.contains("isFinalPlan=true"), s"$n: $exec")
    }
  }
}
