package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

import graft.lambda.{Lambda, LaneLock}

/** Cross-PROCESS dual-lane crash soak: the in-JVM [[LambdaSoak]] proves
  * the protocol under SIMULATED crashes (renew=false holders inside one
  * JVM); this harness proves it under REAL ones — separate JVMs
  * contending on one shared warehouse through nothing but the
  * filesystem, with `Process.destroyForcibly` (SIGKILL) as the failure
  * injector:
  *
  *  1. a VICTIM process acquires the lane lock with a LIVE heartbeat,
  *     drops an uncommitted orphan data dir, and is hard-killed while
  *     holding — the heartbeat dies with the process (the exact failure
  *     the TTL lease exists for; no in-JVM simulation shortcut);
  *  2. batch and stream LANE processes, already blocked on the dead
  *     holder's lock, take over after the TTL and run their cycles;
  *  3. mid-soak, the STREAM lane process is itself SIGKILLed at a random
  *     moment — possibly inside its locked section, mid-commit — and
  *     RESTARTED: the fresh process recovers its position from the keyed
  *     audit table (completed cycles have audit rows; the interrupted
  *     cycle re-runs — merges are idempotent, audits keyed) while the
  *     batch lane waits out the killed process's abandoned lease;
  *  4. the parent's reader loop samples the shared core throughout and
  *     must never see a torn state; at the end: exact conservation on
  *     both lanes, one audit row per stream cycle, the orphan invisible
  *     and vacuum-reaped.
  *
  * Everything crosses process boundaries: no shared memory, no common
  * JVM locks — the CAS chain, lease takeover and snapshot isolation are
  * exercised as the multi-writer deployment would exercise them.
  * Emits one JSON line (SPARK_GRAFT_SOAK_OUT, default
  * SOAK_LAMBDA_PROC.json).
  */
object LambdaProcSoak {

  private val BatchN = 50
  private val StreamN = 100
  private val Month = 202401
  private val TtlMs = 3000L

  private def session(threads: Int): SparkSession = {
    val s = SparkEntry.localSession(threads.toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- child roles -------------------------------------------------

  /** Acquire with a LIVE heartbeat, write an uncommitted orphan dir,
    * report, then hold forever — the parent SIGKILLs this process. */
  private def victim(whDir: String, orphanBase: Long): Unit = {
    val spark = session(2)
    val lock = LaneLock.acquire(spark, whDir, TtlMs, renew = true)
    LambdaSoak.streamRows(spark, orphanBase, 7, Month).write
      .parquet(s"$whDir/core_trip_clean/data/c-orphan-${java.util.UUID.randomUUID()}")
    println(s"VICTIM HELD ${lock.nonce}")
    Console.out.flush()
    while (true) Thread.sleep(1000)
  }

  private def batchLane(whDir: String, cycles: Int): Unit = {
    val spark = session(4)
    val wh = Lambda.SharedWarehouse(spark, whDir)
    val owns = col("ingest_date") === lit("1993-02-01").cast("date")
    println("LANE START"); Console.out.flush()
    (1 to cycles).foreach { _ =>
      Lambda.retryUsurped(maxAttempts = 100) {
        Lambda.withLaneLock(wh, TtlMs) { lock =>
          Lambda.sliceReplace(wh.core, LambdaSoak.batchRows(spark, BatchN, Month),
            owns, () => lock.assertHeld())
        }
      }
    }
    spark.stop()
  }

  /** One stream cycle = merge 100 fresh keys + the keyed audit row. On a
    * (re)start, completed cycles are recovered from the audit table —
    * the killed process's interrupted cycle simply re-runs. */
  private def streamLane(whDir: String, cycles: Int): Unit = {
    val spark = session(4)
    import spark.implicits._
    val wh = Lambda.SharedWarehouse(spark, whDir)
    val done = wh.audit.read.select("run_id").collect()
      .map(_.getString(0)).filter(_.startsWith("proc-"))
      .map(_.stripPrefix("proc-").toInt).toSet
    println(s"LANE START resume_from=${done.size}"); Console.out.flush()
    (0 until cycles).filterNot(done.contains).foreach { r =>
      Lambda.retryUsurped(maxAttempts = 100) {
        Lambda.withLaneLock(wh, TtlMs) { lock =>
          val fence = () => lock.assertHeld()
          graft.stream.HourLoad.scopedMerge(wh.core,
            LambdaSoak.streamRows(spark, 1000L + r * StreamN, StreamN, Month),
            "pickup_month", fence): Unit
          fence()
          // keyed idempotence under BOTH the usurpation retry and the
          // kill-restart: replace this cycle's row, never double-append
          wh.audit.deleteWhere(col("run_id") === s"proc-$r")
          wh.audit.append(Seq((s"proc-$r", "2024-01-05", f"$r%02d",
            1L, StreamN.toLong, StreamN.toLong, 0L, StreamN.toLong))
            .toDF(graft.stream.HourLoad.auditSchema.fieldNames.toSeq: _*))
        }
      }
      println(s"CYCLE $r"); Console.out.flush()
    }
    spark.stop()
  }

  // ---- parent ------------------------------------------------------

  /** Child classpath. Code-source derivation is UNRELIABLE under sbt's
    * forked `run` (jars are relayed through ephemeral `target/bg-jobs/…`
    * dirs that lack scala-library and vanish with sbt), so prefer the
    * stable environment locations and fall back to derivation only when
    * they are absent (e.g. a plain-java launch from elsewhere). */
  private def classpath(): String = {
    def dirOf(c: Class[_]) =
      new java.io.File(c.getProtectionDomain.getCodeSource.getLocation.toURI)
    val sparkJars = sys.env.getOrElse("SPARK_GRAFT_SPARK_JARS",
      if (new java.io.File("/opt/spark/jars").isDirectory) "/opt/spark/jars"
      else dirOf(classOf[org.apache.spark.SparkContext]).getParent)
    val stableClasses = new java.io.File(
      System.getProperty("user.dir"), "target/scala-2.13/classes")
    val graftClasses =
      if (stableClasses.isDirectory) stableClasses.getPath
      else dirOf(SparkEntry.getClass).getPath
    s"$sparkJars/*:$graftClasses"
  }

  /** Spawn a child role JVM, stdout+stderr redirected to a log file the
    * parent polls (durable diagnostics even across the SIGKILLs this
    * harness exists to inject). */
  private def spawn(role: String, whDir: String, log: java.io.File,
                    extra: String*): Process = {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(java, "-Xmx3g", "--enable-native-access=ALL-UNNAMED",
      "--add-opens=java.base/java.lang=ALL-UNNAMED",
      "--add-opens=java.base/java.nio=ALL-UNNAMED",
      "--add-opens=java.base/java.util=ALL-UNNAMED",
      "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
      "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
      "-cp", classpath(), "graft.LambdaProcSoak", role, whDir) ++ extra
    new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(ProcessBuilder.Redirect.to(log))
      .start()
  }

  private def logText(log: java.io.File): String =
    if (!log.exists()) ""
    else new String(java.nio.file.Files.readAllBytes(log.toPath),
      java.nio.charset.StandardCharsets.UTF_8)

  private def await(log: java.io.File, marker: String, timeoutMs: Long): Boolean = {
    val t0 = System.currentTimeMillis()
    while (System.currentTimeMillis() - t0 < timeoutMs) {
      if (logText(log).contains(marker)) return true
      Thread.sleep(100)
    }
    false
  }

  /** Last lines of a failed child's log, flattened for the JSON report. */
  private def logTail(log: java.io.File): String =
    logText(log).linesIterator.toSeq.takeRight(5).mkString(" | ")

  def main(args: Array[String]): Unit = args.toList match {
    case "cp" :: Nil => println(s"CP=${classpath()}") // harness debug
    case "victim" :: whDir :: base :: Nil => victim(whDir, base.toLong)
    case "batch" :: whDir :: cycles :: Nil => batchLane(whDir, cycles.toInt)
    case "stream" :: whDir :: cycles :: Nil => streamLane(whDir, cycles.toInt)
    case _ => parent()
  }

  private def parent(): Unit = {
    val cycles = sys.env.getOrElse("SPARK_GRAFT_SOAK_CYCLES", "20").toInt
    val whDir = java.nio.file.Files.createTempDirectory("graft_proc_soak").toString
    val spark = session(8)
    val wh = Lambda.SharedWarehouse(spark, whDir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val orphanBase = 1000L + cycles.toLong * StreamN + 1000000L
    val t0 = System.nanoTime()

    val logDir = new java.io.File(whDir, "_proclogs")
    logDir.mkdirs(): Unit
    def logFile(n: String) = new java.io.File(logDir, s"$n.log")

    // a month-old telemetry backlog (the churned-fleet state VERDICT r18
    // #2 describes): the mid-soak retention sweep must reap EXACTLY this
    // while the live events the end-gate reads keep flowing around it
    val backlogN = 200
    val evDir = new java.io.File(whDir, "_lock_events"); evDir.mkdirs(): Unit
    val oldTs = System.currentTimeMillis() - 30L * 86400000L
    (0 until backlogN).foreach { i =>
      java.nio.file.Files.writeString(new java.io.File(evDir,
        s"${oldTs + i}-takeover-bklg$i.json").toPath,
        s"""{"event":"takeover","nonce":"bklg$i","detail":"backlog",""" +
          s""""ts":${oldTs + i},"pid":0}"""): Unit
    }

    // 1. victim: real heartbeat, real SIGKILL while holding
    val vLog = logFile("victim")
    val v = spawn("victim", whDir, vLog, orphanBase.toString)
    if (!await(vLog, "VICTIM HELD", 120000))
      errs.add(s"victim never reported holding the lock [${logTail(vLog)}]"): Unit

    // 2. lanes start against the held lock, then the victim dies
    val bLog = logFile("batch"); val sLog = logFile("stream")
    val b = spawn("batch", whDir, bLog, cycles.toString)
    var s = spawn("stream", whDir, sLog, cycles.toString)
    await(bLog, "LANE START", 120000): Unit
    await(sLog, "LANE START", 120000): Unit
    Thread.sleep(1500) // both lanes now blocked on the victim's lock
    v.destroyForcibly()
    val killT0 = System.currentTimeMillis()
    v.waitFor()

    // reader loop: version-isolated snapshots must never look torn
    val tornReads = new AtomicInteger(0)
    val readSamples = new AtomicInteger(0)
    @volatile var running = true
    val reader = new Thread(() => {
      while (running) {
        try {
          val snap = wh.core.read
            .groupBy(col("trip_id").isNull.as("is_batch"))
            .agg(count(lit(1)).as("n")).collect()
            .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
          val bn = snap.getOrElse(true, 0L)
          val sn = snap.getOrElse(false, 0L)
          readSamples.incrementAndGet()
          if ((bn != 0L && bn != BatchN.toLong) || sn % StreamN != 0 ||
              sn > cycles.toLong * StreamN)
            tornReads.incrementAndGet()
        } catch { case t: Throwable => errs.add(s"reader: $t"): Unit }
        Thread.sleep(200)
      }
    })
    reader.start()

    // retention sweeper, concurrent with the live lanes and the reader:
    // one-hour watermark — reaps the planted backlog, never a live row
    val sweptTotal = new java.util.concurrent.atomic.AtomicLong(0)
    val sweeper = new Thread(() => {
      while (running) {
        try sweptTotal.addAndGet(graft.batch.Maintenance.sweepLockEvents(
          spark, whDir, System.currentTimeMillis() - 3600000L).swept): Unit
        catch { case t: Throwable => errs.add(s"sweeper: $t"): Unit }
        Thread.sleep(500)
      }
    })
    sweeper.start()

    // 3. mid-soak: SIGKILL the stream lane at a random-ish moment (after
    // its 3rd completed cycle), then restart it — recovery via the audit
    val midKill = await(sLog, "CYCLE 2", 600000)
    if (!midKill) errs.add(s"stream lane never reached cycle 2 [${logTail(sLog)}]"): Unit
    s.destroyForcibly(); s.waitFor()
    val streamKilledAtCycles = "CYCLE (\\d+)".r
      .findAllMatchIn(logText(sLog)).map(_.group(1).toInt).toSeq.size
    val sLog2 = logFile("stream-restarted")
    s = spawn("stream", whDir, sLog2, cycles.toString)
    val resumed = await(sLog2, "LANE START resume_from=", 120000)
    if (!resumed)
      errs.add(s"restarted stream lane never started [${logTail(sLog2)}]"): Unit

    // 4. both lanes run out
    val bOk = b.waitFor() == 0 ||
      { errs.add(s"batch exit ${b.exitValue()} [${logTail(bLog)}]"); false }
    val sOk = s.waitFor() == 0 ||
      { errs.add(s"stream exit ${s.exitValue()} [${logTail(sLog2)}]"); false }
    val takeoverMs = System.currentTimeMillis() - killT0
    running = false; reader.join(15000); sweeper.join(15000)

    // ---- conservation + takeover evidence ----
    val batchFinal = wh.core.read.filter(col("trip_id").isNull).count()
    val streamFinal = wh.core.read.filter(col("trip_id").isNotNull).count()
    val streamKeys = wh.core.read.filter(col("trip_id").isNotNull)
      .select("trip_id").distinct().count()
    val orphanVisible = wh.core.read.filter(col("trip_id") >= orphanBase).count()
    val auditRows = wh.audit.read
      .filter(col("run_id").startsWith("proc-")).count()
    val vacuumed = wh.core.vacuum(keepVersions = 1, minAgeMs = 0L)
    val orphanReaped = vacuumed.exists(_.contains("c-orphan"))
    // lock telemetry is CROSS-PROCESS state (VERDICT r17 #5): the lane
    // that usurped the SIGKILLed victim ran in a different JVM, and its
    // takeover must still be queryable from this one
    val lockEvents = graft.lambda.LaneLock.events(spark, whDir)
      .groupBy(col("event")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val takeoverRows = lockEvents.getOrElse("takeover", 0L)
    val wallSec = (System.nanoTime() - t0) / 1e9
    val conserved = batchFinal == BatchN.toLong &&
      streamFinal == cycles.toLong * StreamN && streamKeys == streamFinal
    val ok = errs.isEmpty && bOk && sOk && conserved && tornReads.get() == 0 &&
      orphanVisible == 0L && auditRows == cycles.toLong && orphanReaped &&
      takeoverRows >= 1L && sweptTotal.get() == backlogN.toLong
    val line =
      s"""{"metric":"lambda_proc_soak","ok":$ok,"cycles_per_lane":$cycles,""" +
        s""""processes":4,"batch_rows_final":$batchFinal,""" +
        s""""stream_rows_final":$streamFinal,"stream_keys_distinct":$streamKeys,""" +
        s""""audit_rows":$auditRows,"read_samples":${readSamples.get()},""" +
        s""""torn_reads":${tornReads.get()},"victim_ttl_ms":$TtlMs,""" +
        s""""takeover_window_ms":$takeoverMs,""" +
        s""""stream_cycles_before_kill":$streamKilledAtCycles,""" +
        s""""lock_takeover_rows":$takeoverRows,""" +
        s""""lock_events_backlog_planted":$backlogN,""" +
        s""""lock_events_swept":${sweptTotal.get()},""" +
        s""""lock_events":{${lockEvents.toSeq.sorted.map { case (k, n) =>
          s""""$k":$n""" }.mkString(",")}},""" +
        s""""orphan_rows_visible":$orphanVisible,"orphan_reaped":$orphanReaped,""" +
        s""""wall_sec":$wallSec,"errors":[${errs.toArray.map(e =>
          "\"" + e.toString.replace("\\", "\\\\").replace("\"", "\\\"")
            .replaceAll("\\p{Cntrl}", " ") + "\"").mkString(",")}]}"""
    println(line)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT", "SOAK_LAMBDA_PROC.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
