package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Task metrics totalled per Spark job group. The tracer gives each layer
  * call its own group, so a group's totals are that layer's cluster work.
  */
final class LayerListener extends SparkListener {
  final class Totals {
    var jobs = 0
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val taskRunMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]] // stage → task run times
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Totals]()
  private def of(g: String): Totals = totals.computeIfAbsent(g, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      e.stageIds.foreach(stageGroup.put(_, g))
      val t = of(g)
      t.synchronized(t.jobs += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val t = of(g)
      t.synchronized {
        t.cpuNs += m.executorCpuTime
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.diskBytesSpilled
        t.taskRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  def take(g: String): Totals = Option(totals.remove(g)).getOrElse(new Totals)
}

/** Per-layer spans of traced operations. `layer(name)` sets a job group
  * around one call into the program, times it, and after the operation the
  * group's task totals are folded into that layer's figures. `aside` runs
  * the benchmark's own counts inside an operation; its time is left out of
  * the operation's wall, so layer walls plus `sched_s` are the program's
  * time. Spans are kept in memory and written out when the run ends.
  */
final class Tracer(spark: SparkSession, listener: LayerListener) {
  final case class Span(op: Int, layer: String, startNs: Long, endNs: Long)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private var opIdx = -1
  private var opStart = 0L
  private var asideNs = 0L
  private val opLayers = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val extras = mutable.LinkedHashMap.empty[String, Double]
  var ops = 0

  private def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  def beginOp(i: Int): Unit = { opIdx = i; opStart = System.nanoTime(); asideNs = 0L; opLayers.clear(); extras.clear() }

  /** Runs `body`, one call of the program, as layer `name`. */
  def layer[T](name: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(s"$name#$opIdx", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val v = body
      val t1 = System.nanoTime()
      opLayers += ((name, t0, t1))
      spans += Span(opIdx, name, t0, t1)
      v
    } finally spark.sparkContext.clearJobGroup()
  }

  /** Runs `body`, work of the benchmark only, outside every layer and
    * outside the operation's wall.
    */
  def aside[T](body: => T): T = {
    spark.sparkContext.setJobGroup(s"aside#$opIdx", "aside", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      asideNs += System.nanoTime() - t0
      spark.sparkContext.clearJobGroup()
    }
  }

  /** Rows out of a layer's call. */
  def rows(name: String, n: Long): Unit = extra(s"$name.rows_out", n.toDouble)

  /** A layer-specific count, folded in per operation. */
  def extra(name: String, v: Double): Unit = extras(name) = extras.getOrElse(name, 0.0) + v

  def endOp(): Unit = {
    val end = System.nanoTime()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spans += Span(opIdx, "op", opStart, end)
    listener.take(s"aside#$opIdx")
    var layerWall = 0.0
    val taskRun = mutable.HashMap.empty[String, Double]
    opLayers.foreach { case (name, t0, t1) =>
      val wall = (t1 - t0) / 1e9
      layerWall += wall
      val t = listener.take(s"$name#$opIdx")
      add(s"$name.wall_s", wall)
      add(s"$name.task_cpu_s", t.cpuNs / 1e9)
      add(s"$name.gc_s", t.gcMs / 1e3)
      add(s"$name.shuffle_write_bytes", t.shuffleWrite.toDouble)
      add(s"$name.spill_bytes", t.spill.toDouble)
      add(s"$name.jobs", t.jobs.toDouble)
      add(s"$name.task_skew", skew(t))
      taskRun(name) = taskRun.getOrElse(name, 0.0) + t.runMs / 1e3
    }
    val opWall = (end - opStart - asideNs) / 1e9
    add("op.wall_s", opWall)
    add("sched_s", opWall - layerWall)
    // per-core rates are the layer's work over its busy task-seconds
    def perCore(work: String, layer: String): Double = {
      val busy = taskRun.getOrElse(layer, 0.0)
      if (busy > 0) extras.getOrElse(work, 0.0) / busy else 0.0
    }
    extras.get("detect.sentences").foreach(_ => add("detect.sentences_per_core_s", perCore("detect.sentences", "detect")))
    extras.get("dedup.ngram.candidate_pairs").foreach(_ =>
      add("dedup.ngram.pairs_per_core_s", perCore("dedup.ngram.candidate_pairs", "dedup.ngram")))
    extras.foreach { case (k, v) => if (k != "detect.sentences") add(k, v) }
    ops += 1
  }

  /** Task-time skew of the layer's heaviest stage: max over mean task run time. */
  private def skew(t: LayerListener#Totals): Double =
    if (t.taskRunMs.isEmpty) 0.0
    else {
      val times = t.taskRunMs.values.maxBy(_.sum)
      val mean = times.sum.toDouble / times.length
      if (mean > 0) times.max / mean else 1.0
    }

  /** Drops the figures of the operations so far (the warm-up). */
  def reset(): Unit = { sums.clear(); spans.clear(); ops = 0 }

  /** Mean per traced operation of every recorded figure. */
  def means: Map[String, Double] = sums.map { case (k, v) => k -> v / math.max(ops, 1) }.toMap

  def spansJson: String =
    spans.map(s => f"""{"op":${s.op},"layer":"${s.layer}","start_s":${s.startNs / 1e9}%.6f,"end_s":${s.endNs / 1e9}%.6f}""")
      .mkString("[", ",\n", "]")
}
