package graft

import org.apache.spark.sql.SparkSession

/** Session set-up and pin bookkeeping shared by the entry points
  * (Bench, Verify, PlanDump) and the test session. */
object Harness {
  /** The standard session: `local[cores]` with as many shuffle
    * partitions, UTC, legacy nanosecond timestamps read as BIGINT (see
    * [[Tables]]), no UI. `cores` defaults to `SPARK_GRAFT_CPUS`, else 4;
    * `conf` adds static settings that must be set before the session
    * starts. */
  def session(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      logLevel: String = "WARN",
      conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val s = conf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** One count per corpus table, untimed: absorbs first-action session
    * set-up (scheduler, codegen compiler) and each table's footer and
    * file-open cost, so a timed key is not charged for whichever table
    * it happened to touch first. A broken table is reported, not
    * raised: the keys that never read it still run. */
  def warmTables(spark: SparkSession, sfDir: String): Unit =
    Tables.AllTables.foreach { n =>
      try Tables.t(spark, sfDir, n).count()
      catch { case e: Throwable =>
        System.err.println(s"[warmup] $n failed: ${e.getMessage}")
      }
    }

  /** Ids of the RDDs persisted right now; [[sweepPins]] releases
    * exactly what was persisted after this snapshot. */
  def pinSnapshot(spark: SparkSession): collection.Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet

  /** Unpersists, blocking, every RDD persisted since `before` and
    * returns how many were released. `Tables.pin` blocks are
    * executor-resident and nobody else releases them, so a run over
    * many keys would otherwise pile up every key's dead pins and time
    * later keys under that memory pressure. Targeted rather than
    * global, so a pin created before the snapshot survives; blocking,
    * so the release cannot overlap the next timed section. A failed
    * release is skipped. */
  def sweepPins(spark: SparkSession, before: collection.Set[Int]): Int =
    spark.sparkContext.getPersistentRDDs.count { case (id, rdd) =>
      !before.contains(id) && {
        try { rdd.unpersist(blocking = true); true }
        catch { case _: Throwable => false }
      }
    }

  /** JSON string literal: escapes quote, backslash and every control
    * character, so builder-authored SQL or a path can never break a
    * record's `json.load`. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
