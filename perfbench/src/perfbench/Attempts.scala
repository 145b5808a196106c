package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.metric.SQLMetric

/** What one attempt produced. `check` runs after the clock stops, so a
  * check that needs its own reads is never timed. */
final case class Result(rows: Long, digest: Long,
    plan: Option[SparkPlan] = None,
    extra: Map[String, Any] = Map.empty,
    check: () => (Boolean, String) = () => (true, ""))

/** Runs and records timed attempts. Every attempt is one call into the
  * program, with its pins released afterwards, outside the timed section,
  * so no attempt inherits a previous one's blocks. */
final class Attempts(spark: SparkSession, tracer: Option[Tracer]) {
  private val sc = spark.sparkContext
  val records = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  val pinOwner = mutable.Map.empty[Int, Int]
  val execWindow = mutable.Map.empty[Int, (Long, Long)]
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]

  var gcSeconds = 0.0

  /** A full GC between passes (not between attempts, where it would cost
    * more than the attempts it steadies). */
  def settle(): Unit = {
    val g0 = System.nanoTime()
    System.gc()
    gcSeconds += (System.nanoTime() - g0) / 1e9
  }

  /** Times `body`, which names its phases (build / plan / exec) through
    * the function it is given. */
  def run(key: String, pass: Int)(body: (String => Unit) => Result): Unit = {
    val id = records.size
    val before = sc.getPersistentRDDs.keySet
    val cg0 = tracer.map(_ => Tracer.codegen())
    val phases = mutable.LinkedHashMap.empty[String, (Long, Long)]
    var cur: Option[(String, Long)] = None
    def close(now: Long): Unit = cur.foreach { case (n, s) =>
      phases(n) = (s, now)
    }
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      close(now)
      cur = Some((name, now))
      sc.setLocalProperty(Tracer.PhaseKey, name)
    }
    val wallStartMs = System.currentTimeMillis()
    sc.setLocalProperty(Tracer.AttemptKey, id.toString)
    val t0 = System.nanoTime()
    val res = try Right(body(phase)) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    close(t1)
    sc.setLocalProperty(Tracer.AttemptKey, null)
    sc.setLocalProperty(Tracer.PhaseKey, null)

    val rec = mutable.LinkedHashMap[String, Any]("id" -> id, "key" -> key,
      "pass" -> pass, "wall_s" -> (t1 - t0) / 1e9)
    phases.foreach { case (n, (s, e)) => rec(s"${n}_s") = (e - s) / 1e9 }
    def ms(ns: Long) = wallStartMs + (ns - t0) / 1000000L
    phases.get("exec").foreach { case (s, e) => execWindow(id) = (ms(s), ms(e)) }
    res match {
      case Right(r) =>
        rec("rows") = r.rows
        rec("digest") = Digest.hex(r.digest)
        val (ok, detail) =
          try r.check() catch { case e: Throwable => (false, e.toString) }
        rec("check_ok") = ok
        if (detail.nonEmpty) rec("check_detail") = detail
        rec ++= r.extra
        if (tracer.nonEmpty) r.plan.foreach(p => rec ++= PlanMetrics(p))
      case Left(e) =>
        rec("error") = e.toString
        System.err.println(s"[perfbench] $key pass $pass failed: $e")
    }
    cg0.foreach { case (n0, ms0) =>
      val (n1, ms1) = Tracer.codegen()
      rec("codegen_compiles") = (n1 - n0).toDouble
      rec("codegen_ms") = ms1 - ms0
    }
    // pins this attempt created: ids, bytes, owner; then release them
    val fresh = sc.getPersistentRDDs.filter { case (rid, _) => !before(rid) }
    rec("pins_created") = fresh.size
    if (tracer.nonEmpty) {
      val info = sc.getRDDStorageInfo.filter(i => fresh.contains(i.id))
      rec("pins_b") = info.map(i => i.memSize + i.diskSize).sum
    }
    fresh.foreach { case (rid, rdd) =>
      pinOwner(rid) = id
      try rdd.unpersist(blocking = true) catch { case _: Throwable => }
    }
    if (tracer.nonEmpty) {
      spans += Map("name" -> key, "kind" -> "attempt", "id" -> s"a$id",
        "parent" -> s"k$key", "pass" -> pass, "start_ms" -> wallStartMs,
        "end_ms" -> ms(t1))
      phases.foreach { case (n, (s, e)) =>
        spans += Map("name" -> n, "kind" -> "phase", "id" -> s"a$id.$n",
          "parent" -> s"a$id", "start_ms" -> ms(s), "end_ms" -> ms(e))
      }
    }
    records += rec
  }
}

/** Sums over the final (post-AQE) physical plan's SQLMetrics, where Spark
  * exports them: sort, aggregate, scan and broadcast-build times, and the
  * TopKPerGroupExec sort fallbacks. */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  private def ms(m: SQLMetric): Double =
    if (m.metricType == "nsTiming") m.value / 1e6 else m.value.toDouble

  def apply(plan: SparkPlan): Map[String, Double] = {
    val acc = mutable.Map("op_sort_ms" -> 0.0, "op_agg_ms" -> 0.0,
      "op_scan_ms" -> 0.0, "op_bcast_build_ms" -> 0.0,
      "topk_sort_fallbacks" -> 0.0)
    def add(k: String, node: SparkPlan, metric: String): Unit =
      node.metrics.get(metric).foreach(m => acc(k) += ms(m))
    collectWithSubqueries(plan) { case p => p }.foreach { p =>
      p.getClass.getSimpleName match {
        case "SortExec" => add("op_sort_ms", p, "sortTime")
        case n if n.endsWith("AggregateExec") => add("op_agg_ms", p, "aggTime")
        case n if n.endsWith("ScanExec") => add("op_scan_ms", p, "scanTime")
        case "BroadcastExchangeExec" => add("op_bcast_build_ms", p, "buildTime")
        case "TopKPerGroupExec" =>
          add("topk_sort_fallbacks", p, "numSortFallbacks")
        case _ =>
      }
    }
    acc.toMap
  }
}
