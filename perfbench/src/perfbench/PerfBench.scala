package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one operation did. `check` compares its result with the expected
  * one and runs after the timing ends. `batchLatencies`, when non-empty,
  * are the operation's own latency samples (a streaming run's
  * micro-batches); otherwise the operation's wall time is its one sample. */
final case class Done(inputRows: Long, resultRows: Long, check: () => Option[String],
    batchLatencies: Seq[Double] = Nil)

/** A workload: seeded inputs, a fixed rotation of operations, and an
  * independent expected result for each of them. */
trait Workload {
  /** Generates the seeded inputs and the expected results on the driver,
    * without Spark or graft. Runs once, before any set-up. */
  def prepare(): Unit
  /** Materializes the inputs in a fresh session (part of set-up). */
  def load(spark: SparkSession, dir: String, t: Tracer): Unit
  /** Operation names, run in this order, round and round. */
  def rotation: IndexedSeq[String]
  /** Runs one operation and checks it; throws when the operation throws. */
  def run(op: String, spark: SparkSession, t: Tracer): Done
  /** Samples per operation when the operation itself fails. */
  def samplesPerOp: Int = 1
  /** Bytes stored per row of the inputs the workload wrote. */
  def bytesPerRow: Double
  /** Parquet footers of every dataset the workload wrote. */
  def writtenDirs: Seq[String]
  /** The workload's own geometries, for the kernel measurements. */
  def kernelFrame(spark: SparkSession): org.apache.spark.sql.DataFrame
}

object PerfBench {
  private val Setups = 3
  private val WarmupS = 10.0
  /** A slow machine still gets two passes, so a workload whose pass is one
    * long operation keeps the same sample count. */
  private val MinPasses = 2

  final case class Sample(op: String, latencyS: Double)

  final class Window {
    val samples = ArrayBuffer[Sample]()
    var ops, attempted, failed = 0L
    var inputRows, resultRows = 0L
    var timedS = 0.0
    /** Input rows per second of timed wall, one value per pass. */
    val passRates = ArrayBuffer[Double]()
    val failures = ArrayBuffer[String]()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")
    val wl: Workload = workload match {
      case "join_mix" => new JoinMix(seed)
      case "window_scan" => new WindowScan(seed)
      case "stream_geofence" => new StreamGeofence(seed)
    }
    println(s"perfbench: workload=$workload seed=$seed seconds=$seconds trace=${a("trace")} " +
      s"cpus=$cpus heap=${a("heap-gb")}g git=${a("git-sha")} sources=${a("source-hash")}")
    val tp = System.nanoTime()
    wl.prepare()
    println(f"perfbench: inputs generated in ${(System.nanoTime() - tp) / 1e9}%.2fs")

    // Set up several times and report the median: session start, graft
    // install and loading the seeded inputs. The traced run traces the
    // last set-up, whose GeoParquet writes give the write-path metrics.
    val setupS = ArrayBuffer[Double]()
    val installS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var loadTrace: Tracer = null
    for (r <- 1 to Setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        deleteRecursively(new java.io.File(s"$work/data${r - 1}"))
      }
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      val ti = System.nanoTime()
      graft.GraftExtensions.install(spark)
      installS += (System.nanoTime() - ti) / 1e9
      loadTrace = new Tracer(spark, enabled = trace && r == Setups)
      loadTrace.op("load")(wl.load(spark, s"$work/data$r", loadTrace))
      setupS += (System.nanoTime() - t0) / 1e9
    }
    loadTrace.finishOp()
    loadTrace.close()

    // The JIT keeps speeding the operations up for about ten seconds of
    // running them, so warm up in whole passes of the rotation for WarmupS.
    val tw = System.nanoTime()
    val warm = new Tracer(spark, enabled = false)
    while (System.nanoTime() - tw < WarmupS * 1e9) wl.rotation.foreach { op =>
      try wl.run(op, spark, warm).check().foreach(m => println(s"perfbench: warm-up $op: $m"))
      catch { case e: Exception => println(s"perfbench: warm-up $op threw ${e.getClass.getName}") }
    }
    println(f"perfbench: warm-up ${(System.nanoTime() - tw) / 1e9}%.2fs")
    println(s"perfbench: setup_s samples ${setupS.map(v => f"$v%.2f").mkString(" ")}, " +
      s"install_s ${installS.map(v => f"$v%.3f").mkString(" ")}")
    val tm = System.nanoTime()
    val result =
      if (!trace) {
        val Seq(w) = measure(wl, spark, Seq(new Tracer(spark, enabled = false)), seconds)
        report(w)
        Seq(
          ("setup_s", median(setupS.toSeq), "s"),
          ("latency_p50_s", median(w.samples.map(_.latencyS).toSeq), "s"),
          ("latency_tail_s", tail(w.samples.map(_.latencyS).toSeq)._1, "s"),
          ("rows_per_s", median(w.passRates.toSeq), "rows/s"),
          ("bytes_per_row", wl.bytesPerRow, "B/row")) -> w
      } else {
        // Traced and untraced passes alternate, so both see the same JIT
        // state and their latency difference is the tracing overhead.
        val t = new Tracer(spark, enabled = true)
        val gc0 = gcNs()
        ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
        val Seq(traced, plain) =
          measure(wl, spark, Seq(t, new Tracer(spark, enabled = false)), seconds)
        val gcS = (gcNs() - gc0) / 1e9
        val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed).sum / 1048576.0
        report(traced)
        val layer = Layers.metrics(wl, spark, t, loadTrace, traced, plain, cpus,
          median(installS.toSeq), gcS, heapPeakMb)
        t.writeSpans(a("spans"))
        t.close()
        layer -> traced
      }
    println(f"perfbench: measured in ${(System.nanoTime() - tm) / 1e9}%.2fs")
    val (metrics, w) = result
    val json = metrics.map { case (k, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k": {"value": ${v}, "unit": "$u"}"""
    }.mkString(", ")
    val out = s"""{"correct": ${w.failed == 0}, "attempted": ${w.attempted}, """ +
      s""""failed": ${w.failed}, "metrics": {$json}}"""
    val pw = new java.io.PrintWriter(a("out"))
    try pw.println(out) finally pw.close()
    spark.stop()
  }

  def session(cpus: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // The inputs are sized to run many operations in a few seconds, so
      // "large" is scaled down with them: tables of a few MB must take the
      // same large-large join paths that GB tables take at the default.
      .config("spark.sql.autoBroadcastJoinThreshold", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  /** Closed loop, one client: runs whole passes of the rotation until
    * `seconds` of wall time have passed and at least MinPasses ran, so
    * every operation type has the same share of the samples. Passes take the tracers in turn; each
    * tracer's operations are counted in its own window. A throwing or wrong
    * operation counts as failed and contributes no sample. */
  def measure(wl: Workload, spark: SparkSession, tracers: Seq[Tracer],
      seconds: Double): Seq[Window] = {
    val ws = tracers.map(_ => new Window)
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    while (System.nanoTime() < end || pass < MinPasses * tracers.size) {
      val (t, w) = (tracers(pass % tracers.size), ws(pass % tracers.size))
      pass += 1
      val (rows0, time0) = (w.inputRows, w.timedS)
      wl.rotation.foreach(op => runOp(wl, spark, t, w, op))
      if (w.timedS > time0) w.passRates += (w.inputRows - rows0) / (w.timedS - time0)
    }
    ws
  }

  private def runOp(wl: Workload, spark: SparkSession, t: Tracer, w: Window, op: String): Unit = {
    w.ops += 1
    val t0 = System.nanoTime()
    val outcome =
      try Right(t.op(op)(wl.run(op, spark, t)))
      catch { case e: Exception => Left(e.getClass.getName) }
    val wall = (System.nanoTime() - t0) / 1e9
    if (t.enabled) t.finishOp()
    val mismatch = outcome.map(d =>
      try d.check() catch { case e: Exception => Some(s"check threw ${e.getClass.getName}") })
    (outcome, mismatch) match {
      case (Right(d), Right(None)) =>
        val lat = if (d.batchLatencies.nonEmpty) d.batchLatencies else Seq(wall)
        w.attempted += lat.size
        lat.foreach(l => w.samples += Sample(op, l))
        w.inputRows += d.inputRows
        w.resultRows += d.resultRows
        w.timedS += wall
      case (_, Right(Some(m))) =>
        w.attempted += wl.samplesPerOp
        w.failed += wl.samplesPerOp
        w.failures += s"$op wrong result: $m"
      case (Left(err), _) =>
        w.attempted += wl.samplesPerOp
        w.failed += wl.samplesPerOp
        w.failures += s"$op threw $err"
    }
  }

  private def report(w: Window): Unit = {
    val lat = w.samples.map(_.latencyS).toSeq
    val (v, p, beyond) = tail(lat)
    println(f"perfbench: ${w.attempted} attempted, ${w.failed} failed " +
      f"(failed_frac=${if (w.attempted == 0) 0.0 else w.failed.toDouble / w.attempted}%.4f), " +
      f"latency_tail_s=$v%.4f is p$p%s of n=${lat.size} ($beyond beyond)")
    w.samples.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, s) =>
      println(f"perfbench:   $op%-22s n=${s.size}%4d p50=${median(s.map(_.latencyS).toSeq)}%.4fs")
    }
    w.failures.distinct.foreach(f => println(s"perfbench: FAILED $f"))
    println("perfbench: sequence " + w.samples.map(x => f"${x.latencyS}%.3f").mkString(" "))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile on a 5-point grid (p50, p55, ..., p95, p99)
    * with at least ten samples above it, by nearest rank: (value,
    * percentile, samples above). The grid is fine so that the chosen
    * percentile moves in small steps as the sample count changes. */
  def tail(xs: Seq[Double]): (Double, String, Int) = {
    val s = xs.sorted
    if (s.isEmpty) return (0.0, "50", 0)
    val picks = ((50 to 95 by 5).map(_.toDouble) :+ 99.0).map { p =>
      val v = s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
      (v, f"$p%.0f", s.count(_ > v))
    }
    picks.filter(_._3 >= 10).lastOption.getOrElse(picks.head)
  }

  private def gcNs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum * 1000000L

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
