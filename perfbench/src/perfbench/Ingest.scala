package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{KeyedStore, KeyedStoreSink, KeyedUpsertSink, ParquetSink, Sink}
import graft.streaming.{EventStreams, IngestPipeline}

/** The ingest workload: the reference system's own role. A seeded raw
  * event feed (with re-sent duplicates and rows arriving behind the
  * watermark) lands as chunk files; one pass then
  *  - drains it through `IngestPipeline.start` into
  *    `KeyedUpsertSink(ParquetSink)`, through a timing [[Sink]] wrapper,
  *  - upserts the same raw rows in batch into the DSv2 `KeyedStoreSink`,
  *  - runs fixed read-back queries over the landed table.
  * Every step is checked against values computed here, in plain Scala,
  * from the generated feed. */
object Ingest {
  final case class Ev(id: Long, ts: Long, user: Long, etype: String,
      value: Double, props: String)

  final case class Feed(chunks: IndexedSeq[IndexedSeq[Ev]], base: Int,
      late: Set[Long], dups: Int) {
    def all: Iterator[Ev] = chunks.iterator.flatten
    def rows: Long = chunks.map(_.size.toLong).sum
  }

  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts_us", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  /** On-time events in a feed, and the chunk files it lands as. */
  val Events = 30000
  val Chunks = 4

  private val T0 = 1704067200000000L // 2024-01-01 UTC, in µs
  private val SpanUs = 30L * 86400L * 1000000L
  private val Types = Array("click", "view", "purchase", "signup", "error")

  /** The feed for `seed`: `Events` on-time events over 30 days with
    * < 5 min of disorder (inside the 10 min watermark, so none is late),
    * split into `Chunks` chunks, plus a seeded 4–6 % of exact re-sends up to
    * two chunks later and 1–2 % of rows stamped an hour before the
    * previous chunk began — behind the watermark whenever they arrive.
    * The chunk count is fixed, not seeded: it sets the number of
    * micro-batches and so the drain time. */
  def generate(seed: Long): Feed = {
    val rnd = new scala.util.Random(seed)
    val dupShare = 0.04 + rnd.nextDouble() * 0.02
    val lateShare = 0.01 + rnd.nextDouble() * 0.01
    val step = SpanUs / Events
    val evs = Array.tabulate(Events) { i =>
      Ev(i + 1L, T0 + i * step + rnd.nextInt(300) * 1000000L,
        rnd.nextInt(2000).toLong, Types(rnd.nextInt(Types.length)),
        rnd.nextInt(100000) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
    }
    def bounds(c: Int) = (c.toLong * Events / Chunks).toInt
    val chunks = Array.tabulate(Chunks)(c =>
      mutable.ArrayBuffer.from(evs.slice(bounds(c), bounds(c + 1))))
    val nDup = (Events * dupShare).toInt
    (0 until nDup).foreach { _ =>
      val i = rnd.nextInt(Events)
      val c = (0 until Chunks).find(c => i < bounds(c + 1)).get
      chunks(math.min(c + rnd.nextInt(3), Chunks - 1)) += evs(i)
    }
    val nLate = (Events * lateShare).toInt
    val late = (0 until nLate).map { j =>
      val c = 2 + rnd.nextInt(Chunks - 2)
      val ts = T0 + bounds(c - 1) * step - 3600L * 1000000L
      val e = Ev(Events + 1L + j, ts, rnd.nextInt(2000).toLong,
        Types(rnd.nextInt(Types.length)), rnd.nextInt(100000) / 100.0,
        "{\"k\": 0}")
      chunks(c) += e
      e.id
    }.toSet
    Feed(chunks.map(c => rnd.shuffle(c).toIndexedSeq).toIndexedSeq, Events,
      late, nDup)
  }

  /** Writes one parquet file per chunk in one job (one slice per chunk),
    * then stamps the files' modification times in chunk order, which is
    * the order the file stream source picks them up. Returns the input
    * bytes. */
  def stage(spark: SparkSession, feed: Feed, dir: String): Long = {
    val n = feed.chunks.size
    val rdd = spark.sparkContext.parallelize(feed.chunks.map(_.map(e =>
      Row(e.id, e.ts, e.user, e.etype, e.value, e.props))), n).flatMap(c => c)
    spark.createDataFrame(rdd, Schema).write.parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(files.length == n, s"expected $n chunk files, found ${files.length}")
    val t = System.currentTimeMillis() - n * 10000L
    files.zipWithIndex.foreach { case (f, i) => f.setLastModified(t + i * 10000L) }
    files.map(_.length).sum
  }

  /** Times every foreachBatch write it forwards. */
  final class TimedSink(inner: Sink) extends Sink {
    val seconds = mutable.ArrayBuffer.empty[Double]
    override def write(df: DataFrame, table: String): Unit = {
      val t0 = System.nanoTime()
      inner.write(df, table)
      seconds += (System.nanoTime() - t0) / 1e9
    }
  }

  private def files(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    if (!d.exists) Nil
    else if (d.isFile) Seq(d)
    else d.listFiles().toSeq.flatMap(f => files(f.getPath))
  }

  /** Runs `passes` passes of drain → upsert → read-back. */
  def run(spark: SparkSession, feed: Feed, feedDir: String, inputBytes: Long,
      work: String, passes: Int, attempts: Attempts): Unit = {
    val expectIds = (1L to feed.base.toLong).toSet
    // per user: (max ts, max event type at that ts) over every raw row —
    // the keyed store's last-writer-wins result
    val expectStore = feed.all.toSeq.groupBy(_.user).map { case (u, es) =>
      val top = es.maxBy(e => (e.ts, e.etype))
      u -> ((top.ts, top.etype))
    }
    val onTime = feed.all.filter(e => !feed.late(e.id)).toSeq
      .groupBy(_.id).map(_._2.head).toSeq
    val latest = onTime.groupBy(_.user).map { case (u, es) =>
      u -> es.maxBy(e => (e.ts, e.id)).id
    }
    val day0 = T0 + 10L * 86400L * 1000000L
    val day1 = day0 + 86400L * 1000000L
    val dayCount = onTime.count(e => e.ts >= day0 && e.ts < day1).toLong
    val rawRows = feed.rows

    (0 until passes).foreach { pass =>
      attempts.settle()
      val root = s"$work/ingest/p$pass"
      val land = s"$root/land"
      attempts.run("ingest_drain", pass) { phase =>
        phase("exec")
        val sink = new TimedSink(new KeyedUpsertSink(new ParquetSink(land),
          Seq("event_id"), "ts_us"))
        val q = IngestPipeline.start(
          EventStreams.readEvents(spark, feedDir, Schema), sink, "events_raw",
          s"$root/ckpt")
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        val prog = q.recentProgress.toSeq
        val landed = files(s"$land/events_raw")
          .filter(_.getName.endsWith(".parquet"))
        def dur(k: String) = prog.map(p =>
          Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
        val ops = prog.flatMap(_.stateOperators.headOption)
        Result(prog.map(_.numInputRows).sum, 0L, extra = Map(
          "batches" -> prog.size,
          "batch_ms" -> dur("triggerExecution"),
          "add_batch_ms" -> dur("addBatch").sum,
          "get_batch_ms" -> dur("getBatch").sum,
          "planning_ms" -> dur("queryPlanning").sum,
          "wal_commit_ms" -> dur("walCommit").sum,
          "state_rows" -> ops.map(_.numRowsTotal).maxOption.getOrElse(0L),
          "watermark_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum,
          "sink_write_s" -> sink.seconds.sum,
          "sink_bytes" -> landed.map(_.length).sum,
          "sink_files" -> landed.size,
          "input_bytes" -> inputBytes,
          "input_rows" -> rawRows),
          check = () => {
            val ids = spark.read.parquet(s"$land/events_raw")
              .select("event_id").collect().map(_.getLong(0))
            val set = ids.toSet
            val lateIn = set.count(feed.late)
            if (ids.length != set.size)
              (false, s"${ids.length - set.size} duplicate event ids landed")
            else if (lateIn > 0) (false, s"$lateIn late rows landed")
            else if (set != expectIds)
              (false, s"landed ${set.size} ids, expected ${expectIds.size}")
            else (true, "")
          })
      }
      attempts.run("ingest_upsert", pass) { phase =>
        val tbl = s"perfbench_$pass"
        KeyedStore.clear(tbl)
        phase("exec")
        spark.read.schema(Schema).parquet(feedDir)
          .select(col("user_id").as("key"), col("ts_us").as("version"),
            col("event_type").as("payload"))
          .write.format(classOf[KeyedStoreSink].getName)
          .option("table", tbl).mode("append").save()
        Result(rawRows, 0L, check = () => {
          val snap = KeyedStore.snapshot(tbl)
          KeyedStore.clear(tbl)
          if (snap == expectStore) (true, "")
          else (false, s"keyed store differs on " +
            s"${(snap.keySet ++ expectStore.keySet).count(k =>
              snap.get(k) != expectStore.get(k))} keys")
        })
      }
      attempts.run("ingest_readback", pass) { phase =>
        phase("exec")
        val t = spark.read.parquet(s"$land/events_raw")
        val perBatch = t.groupBy("batch").count().orderBy("batch")
        val last = t.groupBy("user_id")
          .agg(max(struct(col("ts_us"), col("event_id"))).as("m"))
          .select(col("user_id"), col("m.event_id").as("event_id"))
          .orderBy("user_id")
        val day = t.where(col("ts_us") >= day0 && col("ts_us") < day1)
          .agg(count(lit(1)).as("n"))
        val results = Seq(perBatch, last, day).map(Digest.consume)
        Result(results.map(_._1).sum, results.map(_._2).reduce(_ * 31 + _),
          check = () => {
            val total = perBatch.collect().map(_.getLong(1)).sum
            val got = last.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
            val n = day.collect().head.getLong(0)
            if (total != feed.base) (false, s"per-batch counts sum to $total")
            else if (got != latest) (false, "latest event per user differs")
            else if (n != dayCount) (false, s"day filter counted $n, not $dayCount")
            else (true, "")
          })
      }
    }
  }
}
