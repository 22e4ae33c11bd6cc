package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.batch.StarModel
import graft.model.TaxiModel

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the exhaustive operator inventory of SURVEY.md §2 (plus the
  * LLM-pipeline extensions), one named entry per op id; `oracleSql` carries
  * the equivalent DuckDB SQL the driver hash-compares against. Op ids that
  * are pure run-harness infrastructure (`convert_recompress`,
  * `seed_reference_data`, `run logging`, triggers) have no query entry —
  * they live in the library modules and unit tests instead.
  */
object SparkEntry {

  /** Session defaults shared by Verify/Bench/tests. Centralized so the
    * semantics (UTC, non-ANSI T-SQL-ish permissive casts, nanos-tolerant
    * parquet reads) are pinned in exactly one place. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    // Reference engine semantics are permissive (TRY_CAST/NULL-on-failure),
    // not ANSI fail-fast; Spark 4 defaults to ANSI on.
    .config("spark.sql.ansi.enabled", "false")
    // events.parquet carries TIMESTAMP(NANOS) — read as long, convert once.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.sql.adaptive.enabled", "true")
    // A 15-field from_json referenced per-field gets rewritten into 15
    // schema-pruned parses (OptimizeJsonExprs), defeating codegen CSE —
    // one shared parse per row is 20-40x faster on the stream-wire path.
    .config("spark.sql.optimizer.enableJsonExpressionOptimization", "false")
    // task-side commit renames: hourly sinks write hundreds of partition
    // dirs, v1's sequential driver-side rename dominates the write
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    // Checkpoint-file checksumming adds an async write+validate round trip
    // per state-store delta/metadata file; on a posix-rename lake the
    // rename-based commit is already atomic, so skip the extra IO (it
    // dominates micro-batch latency for small stateful batches).
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")

  /** The harness session: local[cpus], one shuffle partition per core, UI
    * off, [[configure]]d. Callers set their own log level. */
  def localSession(cpus: String): SparkSession = configure(SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's headline KPI (README_modeling.md §7): trips / total
    * fare / tip%, by day, over the cleaned+deduped star. */
  def entry(spark: SparkSession): DataFrame = {
    val fact = StarModel.factFromFixtures(spark, "/root/testdata/sf0.001")
    fact.groupBy(col("pickup_date_key"))
      .agg(
        count(lit(1)).as("trips"),
        sum(col("fare_amount").cast("decimal(18,6)")).cast("double").as("total_fare"),
        (sum(col("tip_amount").cast("decimal(18,6)")) /
          nullif(sum(col("fare_amount").cast("decimal(18,6)")), lit(0)))
          .cast("double").as("tip_pct"))
      .orderBy("pickup_date_key")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, QFn] =
    _root_.graft.queries.TaxiQueries.queries ++
      _root_.graft.queries.StreamQueries.queries ++
      _root_.graft.queries.DocQueries.queries ++
      _root_.graft.queries.ScanQueries.queries ++
      _root_.graft.queries.MediaQueries.queries ++
      _root_.graft.queries.OlapQueries.queries

  /** Shared-chain warm-ups for steady-state benchmarking: each entry
    * materializes one memoized intermediate chain (the in-session analog
    * of the reference's once-per-run core/fact tables). `graft.Bench`
    * runs these in a labeled phase so per-query numbers never absorb
    * another chain's build cost. */
  def warmups: Map[String, (SparkSession, String) => Unit] = Map(
    "taxi_chain" -> (_root_.graft.queries.TaxiQueries.warm _),
    "events_chain" -> (_root_.graft.queries.StreamQueries.warm _),
    "docs_dup_graph" -> (_root_.graft.queries.DocQueries.warm _))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    _root_.graft.queries.TaxiQueries.oracles ++
      _root_.graft.queries.StreamQueries.oracles ++
      _root_.graft.queries.DocQueries.oracles ++
      _root_.graft.queries.ScanQueries.oracles ++
      _root_.graft.queries.MediaQueries.oracles ++
      _root_.graft.queries.OlapQueries.oracles
}
