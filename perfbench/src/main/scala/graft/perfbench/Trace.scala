package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Flat spans around the calls into each layer. Spans never nest, so a span's
  * self time is its duration; the traced wall minus all self times is the
  * unattributed remainder (driver-side glue between the calls).
  */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext
  private val spans = mutable.LinkedHashMap.empty[String, Long] // name -> nanos
  /** Layer-specific counts recorded where the work happens. */
  val counts = mutable.LinkedHashMap.empty[String, Double]

  def span[A](name: String)(f: => A): A = {
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try f
    finally {
      spans(name) = spans.getOrElse(name, 0L) + (System.nanoTime() - t0)
      sc.clearJobGroup()
    }
  }

  def count(name: String, v: Double): Unit = counts(name) = v

  /** Per-span metrics (`<span>.s`, `.core_util`, `.shuffle_mb`, `.sched_wait_s`,
    * `.gc_share`, `.task_skew`) plus the traced wall and its unattributed part.
    */
  def metrics(collector: Collector, wallS: Double): Map[String, Double] = {
    val stats = collector.takeGroups(sc)
    val perSpan = spans.toSeq.flatMap { case (name, ns) =>
      val s = ns / 1e9
      val t = stats.getOrElse(name, new TaskStats)
      Seq(
        s"$name.s" -> s,
        s"$name.core_util" -> (if (s > 0) t.runMs / 1000.0 / (s * cores) else 0.0),
        s"$name.shuffle_mb" -> t.shuffleWriteBytes / 1e6,
        s"$name.sched_wait_s" -> t.slotWaitMs / 1000.0,
        s"$name.gc_share" -> t.gcShare,
        s"$name.task_skew" -> t.skew)
    }
    val selfS = spans.values.sum / 1e9
    (perSpan ++ Seq(
      "trace.wall_s" -> wallS,
      "trace.unattributed_s" -> (wallS - selfS)) ++
      stats.get("summarize").map(t => "summarize.shuffle_records" -> t.shuffleWriteRecords.toDouble) ++
      counts).toMap
  }
}
