package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.Tables

/** One benchmark run in one JVM: session start (through its first
  * action), set-up (repeated, so its median can be taken), then the
  * workload's timed passes. Writes the raw record (every attempt with its
  * times, rows, digest and, when traced, its layer measures) as JSON to
  * `--out`; `perfbench/run.py` turns it into metrics and checks it.
  *
  * Arguments: --workload olap|iterative|textsim|ingest --seed N
  * --passes N --trace 0|1 --keys k1,k2,… (query workloads, in run order)
  * --corpus DIR --work DIR --out FILE --cores N. */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val passes = opt("passes").toInt
    val traced = opt("trace") == "1"
    val corpus = opt("corpus")
    val work = opt("work")
    val cores = opt("cores").toInt
    val keys = opt.getOrElse("keys", "").split(",").toSeq.filter(_.nonEmpty)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The session's first action (a small join and aggregate over two
    // corpus tables) pays the JVM-wide first-execution cost: class loading
    // and JIT of the scan, exchange and codegen paths. Counted as session
    // start, it is no longer charged to whichever key the seed puts first.
    // It runs in a session of its own, so the workload's session still
    // resolves every table itself in set-up.
    val first = spark.newSession()
    Tables.t(first, corpus, "nation")
      .join(Tables.t(first, corpus, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name").count().collect()
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = if (traced) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val attempts = new Attempts(spark, tracer)

    // set-up: resolve the 10 corpus tables (file listing, footers,
    // schema), then the workload's own staging; each repeated so set-up
    // time is a median. Nothing is executed on the tables here: first
    // execution costs belong to the cold attempts. Tables.t keeps the
    // resolved tables per session, so every repeat resolves in a session
    // that has none yet: fresh ones on the shared context, the last one
    // the workload's own, whose kept tables the keys then use.
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val resolveS = (1 to SetupRepeats).map { i =>
      val s = if (i < SetupRepeats) spark.newSession() else spark
      s.conf.get("spark.sql.shuffle.partitions") // builds its session state
      timed(Tables.AllTables.foreach(n => Tables.t(s, corpus, n).schema))
    }
    // whether Tables.t serves the workload's session from what it kept
    val tablesKept = Tables.t(spark, corpus, "orders") eq
      Tables.t(spark, corpus, "orders")
    val kernels = new Kernels(spark)
    val feed = if (workload == "ingest")
      Some(Ingest.generate(seed))
      else None
    var feedDir = ""
    var inputBytes = 0L
    val stageS = (1 to SetupRepeats).map(i => timed {
      if (workload == "textsim") kernels.prepare(corpus)
      feed.foreach { f =>
        feedDir = s"$work/feed$i"
        inputBytes = Ingest.stage(spark, f, feedDir)
      }
    })

    val m0 = System.nanoTime()
    feed match {
      case Some(f) =>
        Ingest.run(spark, f, feedDir, inputBytes, work, passes, attempts)
      case None =>
        Queries.run(spark, corpus, keys, kernels, passes, attempts)
    }
    val measureS = (System.nanoTime() - m0) / 1e9
    val layers = tracer.map { t =>
      t.sync()
      t.measures(attempts.pinOwner.toMap, attempts.execWindow.toMap)
    }.getOrElse(Map.empty)
    layers.foreach { case (id, m) =>
      if (id < attempts.records.size) attempts.records(id) ++= m
    }

    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "cores" -> cores, "passes" -> passes,
      "session_s" -> sessionS, "resolve_s" -> resolveS, "stage_s" -> stageS,
      "tables_kept" -> tablesKept,
      "measure_s" -> measureS, "gc_s" -> attempts.gcSeconds,
      "peak_rss_mb" -> peakRssMb(), "attempts" -> attempts.records)
    feed.foreach { f =>
      rec("feed") = Map("chunks" -> f.chunks.size, "base" -> f.base,
        "dups" -> f.dups, "late" -> f.late.size, "rows" -> f.rows)
    }
    tracer.foreach { t =>
      val keySpans = attempts.records.map(_("key").toString).distinct.map(k =>
        Map("name" -> k, "kind" -> "key", "id" -> s"k$k", "parent" -> "w"))
      rec("spans") = Seq(Map("name" -> workload, "kind" -> "workload",
        "id" -> "w")) ++ keySpans ++ attempts.spans ++ t.spans()
    }
    Files.write(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsBytes(rec))
    spark.stop()
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
