package perfbench

import java.lang.management.ManagementFactory
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. `perfbench/run.py` builds it and starts one JVM
  * per run:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --cache <dir>
  *
  * A run sets up once (generate and stage the inputs, then untimed warm-up
  * operations) and reports the time from process start until the first
  * timed operation is ready as `setup_s`. It then runs operations one at a
  * time in a closed loop for `--seconds`, checking each output untimed, and
  * prints one JSON line prefixed with `PERFBENCH_RESULT `.
  */
object Main {

  /** kg_batch and kg_lexicon run on request but are not in BENCHMARK.json: see README.md. */
  val Workloads: Seq[String] = Seq("kg_batch", "kg_lexicon", "kg_resume", "dedup_near")

  val Layers: Seq[String] = Seq("pipeline.sentences", "detect", "link", "canon", "assemble",
    "tables.commit", "checkpoint.resume", "dedup.ngram", "dedup.minhash")
  val LayerFields: Seq[(String, String)] = Seq("wall_s" -> "s", "task_cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes", "jobs" -> "count", "task_skew" -> "ratio",
    "rows_out" -> "rows")
  /** Every per-layer metric with its unit, in print order. */
  val LayerMetrics: Seq[(String, String)] =
    Layers.flatMap(l => LayerFields.map { case (f, u) => s"$l.$f" -> u }) ++ Seq(
      "detect.sentences_per_core_s" -> "1/s",
      "link.surfaces_in" -> "rows",
      "canon.edges_in" -> "rows",
      "tables.commit.files" -> "count",
      "checkpoint.snapshots" -> "count",
      "dedup.ngram.candidate_pairs" -> "count",
      "dedup.minhash.candidate_pairs" -> "count",
      "dedup.ngram.pairs_per_core_s" -> "1/s",
      "sched_s" -> "s",
      "op.wall_s" -> "s")

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "kg_batch" => new KgWorkload(ctx, zipf = false)
    case "kg_lexicon" => new KgWorkload(ctx, zipf = true)
    case "kg_resume" => new ResumeWorkload(ctx)
    case "dedup_near" => new DedupWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other (one of ${Workloads.mkString(", ")})")
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // ------------------------------------------------------------ process gauges

  private val osBean = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = osBean.getProcessCpuTime

  /** Old-generation occupancy after each collection, tracked as a running peak. */
  object Heap {
    private val oldPool = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    @volatile private var peak = 0L
    private def isOld(name: String) = name.contains("Old Gen") || name.contains("Tenured")
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n, _) => {
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect { case (k, v) if isOld(k) => v.getUsed }.sum
            synchronized { if (used > peak) peak = used }
          }
        }, null, null)
      case _ =>
    }
    /** Collect, then start a new peak at the collected occupancy. */
    def reset(): Unit = {
      System.gc()
      synchronized { peak = oldPool.map(_.getUsage.getUsed).getOrElse(0L) }
    }
    def peakMb: Double = { val p = synchronized(peak); p / (1024.0 * 1024.0) }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  final case class Sample(wall: Double, cpu: Double, peakMb: Double, docs: Long, outBytes: Double)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String,
      cache: String, scale: Scale = Scale.Full)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("work"), need("cache"))
  }

  def main(argv: Array[String]): Unit = {
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val spark = session(a.work)
    val r = try run(spark, a, startMs) finally spark.stop()
    println(r)
  }

  /** One run; returns the result line. `startMs` is the wall-clock time at
    * which set-up began (for a benchmark JVM: its start).
    */
  def run(spark: SparkSession, a: Args, startMs: Long): String = {
    Heap.install()
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val w = workload(a.workload, new Ctx(spark, a.seed, a.scale, a.cache))
    val tracer = if (a.trace) Some(new Tracer(spark, listener)) else None
    System.err.println(f"[perfbench] session ready ${(System.currentTimeMillis() - startMs) / 1e3}%.2f s after start")
    // the benchmark's own work before the first timed operation: the
    // oracle and the warm-up outputs' checks; left out of setup_s
    var benchNs = 0L
    def own[T](body: => T): T = { val t0 = System.nanoTime(); try body finally benchNs += System.nanoTime() - t0 }
    own(w.prepareOracle())
    System.err.println(f"[perfbench] oracle ${benchNs / 1e9}%.2f s")

    var attempted = 0
    var failed = 0
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    /** One operation: timed, then its output measured and checked untimed. */
    def attempt(i: Int): Option[Sample] = {
      attempted += 1
      own { w.prepare(i); Heap.reset() }
      tracer.foreach(_.beginOp(i))
      val c0 = cpuNs
      val t0 = System.nanoTime()
      val res = scala.util.Try(w.op(i, tracer))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs - c0) / 1e9
      tracer.foreach(_.endOp())
      val peak = Heap.peakMb
      val sample = res.flatMap(o => scala.util.Try(Sample(wall, cpu, peak, o.docs, o.outBytes().toDouble)))
      val err = own(res match {
        case scala.util.Failure(e) => Some(s"op $i threw $e")
        case scala.util.Success(o) => scala.util.Try(w.check(o)).fold(e => Some(s"op $i check threw $e"), identity)
      })
      err.orElse(sample.failed.toOption.map(e => s"op $i output unreadable: $e")) match {
        case Some(e) => failed += 1; errors += e; System.err.println(s"[perfbench] FAILED: $e"); None
        case None =>
          System.err.println(f"[perfbench] op $i wall $wall%.3f s cpu $cpu%.2f s heap $peak%.0f MB, checked in ${(System.nanoTime() - t0) / 1e9 - wall}%.2f s")
          sample.toOption
      }
    }

    w.setup(s"${a.work}/inputs")
    (1 to w.warmups).foreach(j => attempt(-j))
    val setupS = (System.currentTimeMillis() - startMs) / 1e3 - benchNs / 1e9
    System.err.println(f"[perfbench] set-up $setupS%.2f s (the benchmark's own checks ${benchNs / 1e9}%.2f s left out)")
    // warm-up operations are attempted but their figures are not kept
    tracer.foreach(t => t.reset())
    val warmAttempted = attempted
    val warmFailed = failed

    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val loop0 = System.nanoTime()
    var i = 0
    while (i == 0 || System.nanoTime() - loop0 < a.seconds * 1e9) {
      samples ++= attempt(i)
      i += 1
    }

    scala.util.Try(w.finish()).fold(e => Some(s"end check threw $e"), identity).foreach { e =>
      errors += e; System.err.println(s"[perfbench] FAILED: $e")
    }
    val timedAttempted = attempted - warmAttempted
    val timedFailed = failed - warmFailed
    val correct = errors.isEmpty
    println(s"ops_attempted $timedAttempted")
    println(s"ops_failed $timedFailed")
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_s", median(samples.map(_.wall).toSeq), "s"),
        ("docs_per_s", samples.map(_.docs).sum / math.max(samples.map(_.wall).sum, 1e-9), "docs/s"),
        ("cpu_s", median(samples.map(_.cpu).toSeq), "s"),
        ("heap_peak_mb", median(samples.map(_.peakMb).toSeq), "MB"),
        ("out_bytes", median(samples.map(_.outBytes).toSeq), "bytes"))
      else {
        val t = tracer.get
        val mean = t.means
        Main.writeSpans(a, t)
        LayerMetrics.map { case (k, u) => (k, mean.getOrElse(k, 0.0), u) }
      }
    metrics.foreach { case (k, v, u) => println(f"$k%-32s $v%.6f $u") }
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""PERFBENCH_RESULT {"correct": $correct, "attempted": $timedAttempted, "failed": $timedFailed, "metrics": {$body}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString


  private def writeSpans(a: Args, t: Tracer): Unit = {
    val f = new java.io.File(a.cache, s"trace-${a.workload}-seed${a.seed}.json")
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, t.spansJson + "\n")
    System.err.println(s"[perfbench] spans written to $f")
  }
}
