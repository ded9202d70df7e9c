package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.st
import graft.geom.GeomIO

/** Per-layer metrics of the traced run. Per-operation figures are means
  * over the traced operations; layers a workload does not reach read 0. */
object Layers {
  private val KernelRows = 20000
  private val WkbSample = 2000

  def metrics(wl: Workload, spark: SparkSession, t: Tracer, load: Tracer, traced: PerfBench.Window,
      plain: PerfBench.Window, cpus: Int, installS: Double, gcS: Double,
      heapPeakMb: Double): Seq[(String, Double, String)] = {
    val cs = t.counters.toSeq
    val ops = math.max(1, cs.size).toDouble
    def per(f: OpCounters => Long): Double = cs.map(f).sum / ops
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    val opWallNs = t.spans.filter(_.parent == -1).map(_.dur).sum.toDouble
    val self = t.selfTimeByLayer
    val p50 = (w: PerfBench.Window) => PerfBench.median(w.samples.map(_.latencyS).toSeq)
    val batches = wl match {
      case s: StreamGeofence => s.traced.toSeq
      case _ => Nil
    }
    val nb = math.max(1, batches.size).toDouble
    def batchMs(k: String): Double =
      batches.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / 1000 / nb
    // GeoParquet writes happen in set-up; the last set-up was traced.
    val writeSpans = load.spans.filter(s => s.layer == "sources" && s.name == "write")
    def perWrite(v: Double): Double = if (writeSpans.isEmpty) 0.0 else v / writeSpans.size
    val kernels = kernelCpu(wl, spark)
    val (wkbRead, wkbWrite) = wkbNs(wl, spark)

    Seq(
      ("install.s", installS, "s"),
      ("cache.pinned_after_op", cs.map(_.pinned).maxOption.getOrElse(0L).toDouble, "count"),
      ("plans.analysis_s", per(_.analysisNs) / 1e9, "s/op"),
      ("plans.optimization_s", per(_.optimizationNs) / 1e9, "s/op"),
      ("plans.physical_s", per(_.physicalNs) / 1e9, "s/op"),
      ("plans.optimization_jobs", per(_.optimizationJobs), "jobs/op"),
      ("operators.builder_s",
        t.spans.filter(_.layer == "operators").map(_.dur).sum / 1e9 / ops, "s/op"),
      ("operators.builder_jobs", per(_.builderJobs), "jobs/op"),
      ("joins.candidate_pairs", per(_.candidatePairs), "pairs/op"),
      ("joins.output_rows", per(_.joinOutputRows), "rows/op"),
      ("joins.refine_ratio", ratio(cs.map(_.indexOutputRows).sum, cs.map(_.candidatePairs).sum), "ratio"),
      ("joins.grid_replication", ratio(cs.map(_.generateOut).sum, cs.map(_.generateIn).sum), "ratio"),
      ("sources.files_read", per(_.filesRead), "files/op"),
      ("sources.files_total", per(_.filesTotal), "files/op"),
      ("sources.bytes_read_mb", per(_.bytesRead) / 1048576, "MB/op"),
      ("sources.scan_rows_per_result_row",
        ratio(cs.map(_.scanRows).sum, traced.resultRows), "ratio"),
      ("sources.write_s", perWrite(writeSpans.map(_.dur).sum / 1e9), "s/write"),
      ("sources.files_written", perWrite(load.counters.map(_.filesWritten).sum), "files/write"),
      ("sources.write_tasks", perWrite(load.counters.map(_.writeTasks).sum), "tasks/write"),
      ("sources.row_groups_per_file", rowGroupsPerFile(spark, wl.writtenDirs), "count"),
      ("geom.wkb_read_ns", wkbRead, "ns/geom"),
      ("geom.wkb_write_ns", wkbWrite, "ns/geom")) ++
    kernels.map { case (k, v) => (s"functions.${k}_cpu_ns_per_row", v, "ns/row") } ++
    Seq(
      ("streaming.batches", batches.size / ops, "batches/op"),
      ("streaming.add_batch_s", batchMs("addBatch"), "s/batch"),
      ("streaming.overhead_s", batchMs("triggerExecution") - batchMs("addBatch"), "s/batch"),
      ("streaming.state_rows",
        batches.map(_.stateOperators.map(_.numRowsTotal).sum).sum / nb, "rows/batch"),
      ("streaming.state_commit_s",
        batches.map(_.stateOperators.map(_.commitTimeMs).sum).sum / 1000.0 / nb, "s/batch"),
      ("exec.jobs", per(_.jobs), "jobs/op"),
      ("exec.stages", per(_.stages), "stages/op"),
      ("exec.tasks", per(_.tasks), "tasks/op"),
      ("exec.task_cpu_s", per(_.taskCpuNs) / 1e9, "s/op"),
      ("exec.cpu_util", ratio(cs.map(_.taskCpuNs).sum, opWallNs * cpus), "ratio"),
      ("exec.shuffle_write_mb", per(_.shuffleWrite) / 1048576, "MB/op"),
      ("exec.shuffle_read_mb", per(_.shuffleRead) / 1048576, "MB/op"),
      ("exec.spill_mb", per(_.spill) / 1048576, "MB/op"),
      ("jvm.gc_s", gcS / math.max(1L, traced.ops + plain.ops), "s/op"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB")) ++
    Seq("bench", "operators", "plans", "exec", "sources", "streaming").map { l =>
      (s"self.${l}_s", self.getOrElse(l, 0L) / 1e9 / ops, "s/op")
    } ++
    Seq(
      ("trace.spans", t.spans.size.toDouble, "count"),
      ("trace.overhead_s", p50(traced) - p50(plain), "s"))
  }

  /** Task CPU per row of projection-only queries over cached rows of the
    * workload's own geometries, one query per kernel. */
  private def kernelCpu(wl: Workload, spark: SparkSession): Seq[(String, Double)] = {
    val cached = wl.kernelFrame(spark).limit(KernelRows).persist()
    try {
      val rows = cached.count().toDouble
      val g = col("g")
      Seq(
        "st_intersects" -> st.f("st_intersects", g, st.makeEnvelope(lit(250.0), lit(250.0),
          lit(750.0), lit(750.0))),
        "st_envelope" -> st.f("st_envelope", g),
        "st_buffer" -> st.f("st_buffer", g, lit(1.0)),
        "st_area" -> st.area(g)).map { case (name, e) =>
        val cpu = new AtomicLong()
        val l = new SparkListener {
          override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
            cpu.addAndGet(s.stageInfo.taskMetrics.executorCpuTime)
        }
        spark.sparkContext.addSparkListener(l)
        try {
          cached.select(e.as("k")).write.format("noop").mode("overwrite").save()
          org.apache.spark.perfbench.ListenerBusSync.drain(spark.sparkContext)
        } finally spark.sparkContext.removeSparkListener(l)
        name -> cpu.get / rows
      }
    } finally cached.unpersist(blocking = true)
  }

  /** GeomIO.read and GeomIO.write per geometry on a driver-held sample,
    * median of repeated passes. */
  private def wkbNs(wl: Workload, spark: SparkSession): (Double, Double) = {
    val wkb = wl.kernelFrame(spark).limit(WkbSample).collect().map(_.getAs[Array[Byte]](0))
    val geoms = wkb.map(GeomIO.read)
    def perGeom(body: => Unit): Double = PerfBench.median((1 to 15).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble / wkb.length
    })
    var sink = 0L
    val read = perGeom(wkb.foreach(b => sink += GeomIO.read(b).getNumPoints))
    val write = perGeom(geoms.foreach(g => sink += GeomIO.write(g).length))
    require(sink != 0)
    (read, write)
  }

  /** Mean parquet row groups per file over the given dataset directories. */
  private def rowGroupsPerFile(spark: SparkSession, dirs: Seq[String]): Double = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dirs.flatMap(d => Option(new java.io.File(d).listFiles).toSeq.flatten)
      .filter(_.getName.endsWith(".parquet"))
    if (files.isEmpty) 0.0
    else files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), conf))
      try r.getFooter.getBlocks.size finally r.close()
    }.sum.toDouble / files.size
  }
}
