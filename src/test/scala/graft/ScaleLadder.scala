package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: how one key's cost grows with its input. Rung k holds k
  * copies of each scaled table; the key runs once per rung through
  * `SparkEntry.queries`, full plan (`toRdd`, as Bench), and the rung
  * prints rows, wall time and shuffle-write bytes. Copy 0 is the base
  * table; copy j > 0 is
  *  - documents: doc_id + j·10⁷ and every token suffixed `_cJ`. Copies
  *    share no vocabulary, so within-copy pairs replicate the base
  *    exactly while the pair space grows k²×: a candidate-bound plan
  *    grows linearly, a pair-space-bound one quadratically.
  *  - embeddings: vec_id + j·10⁷ and the sign of every third element
  *    flipped at a per-copy phase, so copies are distinct vectors.
  *  - lineitem: a plain duplicate. The value domains stay fixed, so
  *    tie blocks saturate k-fold.
  * All three are scaled whichever the key reads; the other tables are
  * linked unchanged. An untimed run on the base corpus absorbs session
  * set-up and codegen first, and each rung's pins are swept before the
  * next. `spark.graft.*` settings pass as system properties, e.g.
  * `-Dspark.graft.sim.forceGeneral=true` holds the similarity keys on
  * one dispatch arm across rungs.
  *
  *   Test/runMain graft.ScaleLadder <key> <k1,k2,…> [baseSfDir] [outRoot]
  *
  * baseSfDir defaults to `SPARK_GRAFT_SF_DIR`; outRoot (default
  * graft_scale_ladder under java.io.tmpdir) must be fresh or earlier
  * ladder scratch, and is deleted afterwards (see [[ProbeScratch]]). */
object ScaleLadder {
  private val IdStride = 10000000L

  private val Scaled: Map[String, (DataFrame, Int) => DataFrame] = Map(
    "documents" -> ((d, j) => d
      .withColumn("doc_id", col("doc_id") + lit(j * IdStride))
      .withColumn("text", array_join(transform(split(col("text"), " "),
        w => concat(w, lit(s"_c$j"))), " "))),
    "embeddings" -> ((e, j) => e
      .withColumn("vec_id", col("vec_id") + lit(j * IdStride))
      .withColumn("embedding", expr("transform(embedding, (x, i) -> " +
        s"CASE WHEN pmod(i + $j, 3) = 0 THEN -x ELSE x END)"))),
    "lineitem" -> ((l, _) => l))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleLadder <key> <k1,k2,…> [baseSfDir] [outRoot]")
    val key = args(0)
    val fn = SparkEntry.queries.getOrElse(key,
      sys.error(s"unknown key '$key'"))
    val ks = args(1).split(",").toSeq.map(_.trim.toInt)
    require(ks.forall(_ >= 1), s"every rung must be ≥ 1, got $ks")
    val base = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("no baseSfDir argument or SPARK_GRAFT_SF_DIR"))
    val outRoot = args.lift(3).getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_scale_ladder")
    val spark = Harness.session(logLevel = "ERROR")
    val shuffleBytes = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m =>
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    })
    def run(dir: String): (Long, Double) = {
      val before = Harness.pinSnapshot(spark)
      val t0 = System.nanoTime()
      val rows = fn(spark, dir).queryExecution.toRdd.count()
      val wall = (System.nanoTime() - t0) / 1e9
      Harness.sweepPins(spark, before)
      (rows, wall)
    }
    val cores = spark.sparkContext.defaultParallelism
    try ProbeScratch.runWith(outRoot) {
      run(base)
      for (k <- ks) {
        val dir = s"$outRoot/x$k"
        Files.createDirectories(Paths.get(dir))
        Tables.AllTables.foreach { n =>
          Scaled.get(n) match {
            case Some(copy) =>
              val t = Tables.t(spark, base, n)
              (0 until k).map(j => if (j == 0) t else copy(t, j))
                .reduce(_ union _).coalesce(cores)
                .write.parquet(s"$dir/$n.parquet")
            case None =>
              Files.createSymbolicLink(Paths.get(s"$dir/$n.parquet"),
                Paths.get(s"$base/$n.parquet").toAbsolutePath)
          }
        }
        System.gc()
        // the listener bus is asynchronous: let the writes' task-end
        // events land before the counter is reset, and the timed run's
        // before it is read
        Thread.sleep(500)
        shuffleBytes.set(0)
        val (rows, wall) = run(dir)
        Thread.sleep(500)
        println(f"[ladder] $key k=$k%d rows=$rows%d wall=$wall%.2fs " +
          f"shuffle=${shuffleBytes.get / 1048576.0}%.1f MiB")
      }
    }
    finally spark.stop()
  }
}
