package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions.st
import graft.operators.SpatialJoins
import graft.sources.GeoParquet

/** Seeded inputs, the plain-Scala computations results are checked against
  * (no Spark or graft code), and small file helpers. */
object Data {
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** A star-shaped simple polygon around (cx, cy): `n` vertices at evenly
    * spaced angles and radii in [0.6 r, r]. Closed ring. */
  def star(rnd: SplittableRandom, cx: Double, cy: Double, r: Double, n: Int): Array[(Double, Double)] = {
    val phase = rnd.nextDouble() * 2 * math.Pi
    val ring = Array.tabulate(n) { k =>
      val a = phase + 2 * math.Pi * k / n
      val rr = r * (0.6 + 0.4 * rnd.nextDouble())
      (cx + rr * math.cos(a), cy + rr * math.sin(a))
    }
    ring :+ ring(0)
  }

  def wkt(ring: Array[(Double, Double)]): String =
    ring.map { case (x, y) => s"$x $y" }.mkString("POLYGON ((", ", ", "))")

  /** Even-odd ray casting. */
  def inside(ring: Array[(Double, Double)], x: Double, y: Double): Boolean = {
    var in = false
    var i = 0
    while (i < ring.length - 1) {
      val (x1, y1) = ring(i)
      val (x2, y2) = ring(i + 1)
      if ((y1 > y) != (y2 > y) && x < (x2 - x1) * (y - y1) / (y2 - y1) + x1) in = !in
      i += 1
    }
    in
  }

  def bounds(ring: Array[(Double, Double)]): (Double, Double, Double, Double) =
    (ring.map(_._1).min, ring.map(_._2).min, ring.map(_._1).max, ring.map(_._2).max)

  def frame(spark: SparkSession, schema: StructType, rows: Iterator[Row]): DataFrame =
    spark.createDataFrame(rows.toSeq.asJava, schema)

  def parquetBytes(dir: String): Long = {
    val f = new java.io.File(dir)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(c => parquetBytes(c.getPath)).sum
    else if (f.getName.endsWith(".parquet")) f.length
    else 0L
  }

  /** Columns named `...id` are longs, the others doubles. */
  def longSchema(names: String*): StructType =
    StructType(names.map(n => StructField(n, if (n.endsWith("id")) LongType else DoubleType)))
}

/** Spatial joins over seeded planar points, small polygon zones and a large
  * box table: the rotation covers the broadcast index join, the grid rule's
  * large-large intersects and distance joins, SQL KNN and the gridJoin
  * DataFrame operator. */
final class JoinMix(seed: Long) extends Workload {
  import Data._
  private val Np = 40000
  private val Nb = 20000
  private val Zones = 48
  private val Queries = 64
  private val K = 5
  private val Radius = 0.8
  private val Extent = 1000.0

  private var px, py, bx, by, bw, bh, qx, qy: Array[Double] = _
  private var zones: Array[Array[(Double, Double)]] = _
  private var zoneCounts: Map[Long, Long] = _
  private var boxPairs: (Long, Long, Long) = _
  private var nearPairs: (Long, Long, Long) = _
  private var knn: Map[Long, Set[Long]] = _
  private var dataDir: String = _
  private var stored = (0L, 0L)

  def prepare(): Unit = {
    val r = rng(seed, 1)
    px = Array.fill(Np)(r.nextDouble() * Extent); py = Array.fill(Np)(r.nextDouble() * Extent)
    bx = Array.fill(Nb)(r.nextDouble() * Extent); by = Array.fill(Nb)(r.nextDouble() * Extent)
    bw = Array.fill(Nb)(0.5 + 2 * r.nextDouble()); bh = Array.fill(Nb)(0.5 + 2 * r.nextDouble())
    qx = Array.fill(Queries)(r.nextDouble() * Extent); qy = Array.fill(Queries)(r.nextDouble() * Extent)
    zones = Array.fill(Zones)(star(r, 100 + r.nextDouble() * 800, 100 + r.nextDouble() * 800,
      20 + r.nextDouble() * 40, 10))

    zoneCounts = zones.zipWithIndex.map { case (ring, z) =>
      val (x0, y0, x1, y1) = bounds(ring)
      var n = 0L
      var i = 0
      while (i < Np) {
        if (px(i) >= x0 && px(i) <= x1 && py(i) >= y0 && py(i) <= y1 && inside(ring, px(i), py(i))) n += 1
        i += 1
      }
      z.toLong -> n
    }.filter(_._2 > 0).toMap

    // point-box pairs through a uniform bucket grid over the boxes grown by
    // Radius: inside (squared distance 0) and within Radius (squared
    // distance from the point to the box's nearest point)
    val cell = 4.0
    val nc = (Extent / cell).toInt + 2
    val buckets = Array.fill(nc * nc)(mutable.ArrayBuffer[Int]())
    for (b <- 0 until Nb; cx <- ((bx(b) - Radius) / cell).toInt.max(0) to
           ((bx(b) + bw(b) + Radius) / cell).toInt;
         cy <- ((by(b) - Radius) / cell).toInt.max(0) to ((by(b) + bh(b) + Radius) / cell).toInt)
      buckets(cy * nc + cx) += b
    var (n, sp, sb, nn, nsp, nsb) = (0L, 0L, 0L, 0L, 0L, 0L)
    for (i <- 0 until Np; b <- buckets((py(i) / cell).toInt * nc + (px(i) / cell).toInt)) {
      val dx = math.max(0.0, math.max(bx(b) - px(i), px(i) - (bx(b) + bw(b))))
      val dy = math.max(0.0, math.max(by(b) - py(i), py(i) - (by(b) + bh(b))))
      if (dx == 0 && dy == 0) { n += 1; sp += i; sb += b }
      if (dx * dx + dy * dy <= Radius * Radius) { nn += 1; nsp += i; nsb += b }
    }
    boxPairs = (n, sp, sb)
    nearPairs = (nn, nsp, nsb)

    // brute-force KNN for the sampled query points
    knn = (0 until Queries).map { q =>
      val best = mutable.PriorityQueue[(Double, Int)]()
      for (i <- 0 until Np) {
        val ddx = px(i) - qx(q); val ddy = py(i) - qy(q)
        best.enqueue((ddx * ddx + ddy * ddy, i))
        if (best.size > K) best.dequeue()
      }
      q.toLong -> best.map(_._2.toLong).toSet
    }.toMap
  }

  def load(spark: SparkSession, dir: String, t: Tracer): Unit = {
    dataDir = dir
    def points(name: String, id: String, xs: Array[Double], ys: Array[Double]): Unit = {
      val df = frame(spark, longSchema(id, "x", "y"),
        xs.indices.iterator.map(i => Row(i.toLong, xs(i), ys(i))))
        .select(col(id), st.point(col("x"), col("y")).as(s"${name.head}geom"))
      t.span("sources", "write")(GeoParquet.write(df, s"$dir/$name", s"${name.head}geom"))
    }
    points("pts", "pid", px, py)
    t.span("sources", "write")(GeoParquet.write(
      frame(spark, longSchema("bid", "x", "y", "w", "h"),
        bx.indices.iterator.map(i => Row(i.toLong, bx(i), by(i), bw(i), bh(i))))
        .select(col("bid"), st.makeEnvelope(col("x"), col("y"), col("x") + col("w"),
          col("y") + col("h")).as("bgeom")),
      s"$dir/boxes", "bgeom"))
    for (t <- Seq("pts", "boxes"))
      GeoParquet.read(spark, s"$dir/$t").createOrReplaceTempView(t)
    frame(spark, StructType(Seq(StructField("zid", LongType), StructField("wkt", StringType))),
      zones.indices.iterator.map(z => Row(z.toLong, wkt(zones(z)))))
      .select(col("zid"), st.geomFromWkt(col("wkt")).as("zgeom")).createOrReplaceTempView("zones")
    frame(spark, longSchema("qid", "x", "y"), qx.indices.iterator.map(q => Row(q.toLong, qx(q), qy(q))))
      .select(col("qid"), st.point(col("x"), col("y")).as("qgeom")).createOrReplaceTempView("queries")
    stored = (Seq("pts", "boxes").map(t => parquetBytes(s"$dir/$t")).sum, Np + Nb)
  }

  val rotation: IndexedSeq[String] =
    IndexedSeq("pip_broadcast", "box_intersects", "box_dwithin", "knn_sql", "grid_join_df")

  private def triple(r: Row): (Long, Long, Long) =
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))

  private def checkTriple(got: (Long, Long, Long), want: (Long, Long, Long)): Option[String] =
    if (got == want) None else Some(s"(pairs, sum ids) $got, expected $want")

  def run(op: String, spark: SparkSession, t: Tracer): Done = op match {
    case "pip_broadcast" =>
      val df = t.span("operators", "sql")(spark.sql(
        """SELECT z.zid, count(*) AS n FROM zones z JOIN pts p
          |ON ST_Intersects(z.zgeom, p.pgeom) GROUP BY z.zid""".stripMargin))
      val got = t.collect(df).map(r => r.getLong(0) -> r.getLong(1)).toMap
      Done(Np + Zones, got.values.sum, () =>
        if (got == zoneCounts) None else Some(s"zone counts differ in ${
          (got.keySet ++ zoneCounts.keySet).count(k => got.get(k) != zoneCounts.get(k))} zones"))
    case "box_intersects" =>
      val df = t.span("operators", "sql")(spark.sql(
        """SELECT count(*), sum(p.pid), sum(b.bid) FROM pts p JOIN boxes b
          |ON ST_Intersects(p.pgeom, b.bgeom)""".stripMargin))
      val got = triple(t.collect(df).head)
      Done(Np + Nb, got._1, () => checkTriple(got, boxPairs))
    case "box_dwithin" =>
      val df = t.span("operators", "sql")(spark.sql(
        s"""SELECT count(*), sum(p.pid), sum(b.bid) FROM pts p JOIN boxes b
           |ON ST_DWithin(p.pgeom, b.bgeom, $Radius)""".stripMargin))
      val got = triple(t.collect(df).head)
      Done(Np + Nb, got._1, () => checkTriple(got, nearPairs))
    case "knn_sql" =>
      val df = t.span("operators", "sql")(spark.sql(
        s"SELECT q.qid, p.pid FROM queries q JOIN pts p ON ST_KNN(q.qgeom, p.pgeom, $K)"))
      val got = t.collect(df).groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      Done(Np + Queries, got.values.map(_.size.toLong).sum, () =>
        if (got == knn) None else Some(s"neighbours differ for ${
          knn.keys.count(q => got.get(q) != knn.get(q))} of $Queries queries"))
    case "grid_join_df" =>
      val df = t.span("operators", "gridJoin") {
        SpatialJoins.gridJoin(spark.table("pts"), spark.table("boxes"), col("pgeom"), col("bgeom"),
          "st_intersects").agg(count(lit(1)), sum(col("pid")), sum(col("bid")))
      }
      val got = triple(t.collect(df).head)
      Done(Np + Nb, got._1, () => checkTriple(got, boxPairs))
  }

  def bytesPerRow: Double = stored._1.toDouble / stored._2
  def writtenDirs: Seq[String] = Seq("pts", "boxes").map(t => s"$dataDir/$t")
  def kernelFrame(spark: SparkSession): DataFrame = spark.table("boxes").select(col("bgeom").as("g"))
}

/** Constant-envelope windows over one GeoParquet point dataset written in
  * set-up: reads, pruning and filter kernels, with no join or shuffle. */
final class WindowScan(seed: Long) extends Workload {
  import Data._
  private val N = 100000
  private val Extent = 1000.0
  /** Window areas as a share of the extent: 0.01 %, 1 % and 10 %. */
  private val Selectivities = Seq(0.0001, 0.01, 0.1)
  private val WindowsPerSelectivity = 10

  private var xs, ys: Array[Double] = _
  private var vs: Array[Long] = _
  /** Per selectivity: seeded windows with their expected count and sum. */
  private var windows: Seq[IndexedSeq[(Double, Double, Double, Double, Long, Long)]] = _
  private val next = mutable.Map[String, Int]().withDefaultValue(0)
  private var dataDir: String = _

  def prepare(): Unit = {
    val r = rng(seed, 2)
    xs = Array.fill(N)(r.nextDouble() * Extent); ys = Array.fill(N)(r.nextDouble() * Extent)
    vs = Array.fill(N)(r.nextLong(1000))
    windows = Selectivities.map(sel => (0 until WindowsPerSelectivity).map { _ =>
      val side = math.sqrt(sel) * Extent
      val x0 = r.nextDouble() * (Extent - side)
      val y0 = r.nextDouble() * (Extent - side)
      var (n, s) = (0L, 0L)
      var i = 0
      while (i < N) {
        if (xs(i) >= x0 && xs(i) <= x0 + side && ys(i) >= y0 && ys(i) <= y0 + side) { n += 1; s += vs(i) }
        i += 1
      }
      (x0, y0, x0 + side, y0 + side, n, s)
    })
  }

  def load(spark: SparkSession, dir: String, t: Tracer): Unit = {
    dataDir = s"$dir/points"
    val df = frame(spark, StructType(Seq(StructField("id", LongType), StructField("v", LongType),
      StructField("x", DoubleType), StructField("y", DoubleType))),
      xs.indices.iterator.map(i => Row(i.toLong, vs(i), xs(i), ys(i))))
      .select(col("id"), col("v"), st.point(col("x"), col("y")).as("geom"))
    t.span("sources", "write")(GeoParquet.write(df, dataDir, "geom"))
    GeoParquet.read(spark, dataDir).createOrReplaceTempView("points")
  }

  val rotation: IndexedSeq[String] =
    Selectivities.map(s => f"window_${s * 100}%s".replace(".", "_") + "pct").toIndexedSeq

  def run(op: String, spark: SparkSession, t: Tracer): Done = {
    val ws = windows(rotation.indexOf(op))
    val (x0, y0, x1, y1, n, s) = ws(next(op) % ws.size)
    next(op) += 1
    val df = t.span("operators", "sql")(spark.sql(
      s"""SELECT count(*), sum(v) FROM points
         |WHERE ST_Intersects(geom, ST_MakeEnvelope($x0, $y0, $x1, $y1))""".stripMargin))
    val r = t.collect(df).head
    val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    Done(N, got._1, () => if (got == ((n, s))) None else Some(s"(count, sum) $got, expected ${(n, s)}"))
  }

  def bytesPerRow: Double = parquetBytes(dataDir).toDouble / N
  def writtenDirs: Seq[String] = Seq(dataDir)
  def kernelFrame(spark: SparkSession): DataFrame = spark.table("points").select(col("geom").as("g"))
}

/** Seeded point events staged as parquet files, read one file per trigger
  * with AvailableNow, joined stream-static to zones by ST_Intersects, and
  * counted per zone in a watermarked event-time window. */
final class StreamGeofence(seed: Long) extends Workload {
  import Data._
  private val Files = 6
  private val EventsPerFile = 5000
  private val Zones = 48
  private val SpanUs = 3600L * 1000000
  private val WindowUs = 300L * 1000000
  private val BaseUs = 1704067200L * 1000000 // 2024-01-01T00:00:00Z

  private var ex, ey: Array[Double] = _
  private var ets: Array[Long] = _
  private var zones: Array[Array[(Double, Double)]] = _
  private var expected: Map[(Long, Long), Long] = _
  private var dir: String = _
  private var runs = 0
  /** Progress reports of the traced runs, for the streaming layer metrics. */
  val traced = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  def prepare(): Unit = {
    val r = rng(seed, 4)
    val n = Files * EventsPerFile
    ex = Array.fill(n)(r.nextDouble() * 1000); ey = Array.fill(n)(r.nextDouble() * 1000)
    ets = Array.tabulate(n) { i =>
      BaseUs + (i / EventsPerFile) * (SpanUs / Files) + r.nextLong(SpanUs / Files)
    }
    zones = Array.fill(Zones)(star(r, 100 + r.nextDouble() * 800, 100 + r.nextDouble() * 800,
      20 + r.nextDouble() * 40, 10))
    val counts = mutable.HashMap[(Long, Long), Long]().withDefaultValue(0L)
    for (i <- 0 until n; z <- zones.indices if inside(zones(z), ex(i), ey(i)))
      counts((ets(i) / WindowUs * WindowUs, z.toLong)) += 1
    expected = counts.toMap
  }

  private val schema = StructType(Seq(StructField("eid", LongType), StructField("x", DoubleType),
    StructField("y", DoubleType), StructField("ts", TimestampType)))

  def load(spark: SparkSession, d: String, t: Tracer): Unit = {
    dir = d
    val stage = new java.io.File(s"$d/stage")
    stage.mkdirs()
    // One file per trigger; the sentinel, far past the last window, is
    // staged last so it closes every window only after all events.
    val sentinel = Seq(Row(-1L, -1e6, -1e6, new java.sql.Timestamp((BaseUs + 3 * SpanUs) / 1000)))
    for (f <- 0 to Files) {
      val rows =
        if (f == Files) sentinel.iterator
        else (f * EventsPerFile until (f + 1) * EventsPerFile).iterator.map { i =>
          Row(i.toLong, ex(i), ey(i), new java.sql.Timestamp(ets(i) / 1000))
        }
      val tmp = s"$d/tmp$f"
      frame(spark, schema, rows).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles.find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(stage, f"f$f%03d.parquet")
      require(part.renameTo(dst))
      dst.setLastModified(1700000000000L + f * 1000L)
      PerfBench.deleteRecursively(new java.io.File(tmp))
    }
    frame(spark, StructType(Seq(StructField("zid", LongType), StructField("wkt", StringType))),
      zones.indices.iterator.map(z => Row(z.toLong, wkt(zones(z)))))
      .select(col("zid"), st.geomFromWkt(col("wkt")).as("zgeom")).createOrReplaceTempView("zones")
  }

  val rotation: IndexedSeq[String] = IndexedSeq("geofence_run")
  /** Event files, the sentinel file, and the no-data batch that emits. */
  override def samplesPerOp: Int = Files + 2

  def run(op: String, spark: SparkSession, t: Tracer): Done = {
    runs += 1
    val sink = s"geofence_$runs"
    val counts = t.span("operators", "build") {
      val events = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/stage")
        .withWatermark("ts", "2 hours")
        .withColumn("pt", st.point(col("x"), col("y")))
      SpatialJoins.gridJoin(events, spark.table("zones"), col("pt"), col("zgeom"), "st_intersects",
        bounds = Some((0.0, 0.0, 1000.0, 1000.0)), nx = 16, ny = 16)
        .groupBy(window(col("ts"), "5 minutes"), col("zid")).count()
    }
    val progress = try {
      graft.streaming.StreamingOps.withMicroScaleConfs(spark) {
        t.span("streaming", "query") {
          val q = counts.writeStream.format("memory").queryName(sink).outputMode("append")
            .option("checkpointLocation", s"$dir/ckpt/$runs")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          q.exception.foreach(e => throw e)
          val p = q.recentProgress.toSeq
          if (t.enabled) batchSpans(t, p)
          p
        }
      }
    } finally graft.streaming.StreamingOps.drainStateStores()
    if (t.enabled) traced ++= progress
    Done(progress.map(_.numInputRows).sum, expected.values.sum, () => {
      val got = spark.table(sink).select(unix_micros(col("window.start")), col("zid"), col("count"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      spark.catalog.dropTempView(sink)
      PerfBench.deleteRecursively(new java.io.File(s"$dir/ckpt/$runs"))
      if (got == expected) None
      else Some(s"${(got.keySet ++ expected.keySet).count(k => got.get(k) != expected.get(k))} " +
        "(window, zone) counts differ")
    }, progress.map(_.durationMs.get("triggerExecution").toDouble / 1000))
  }

  /** Spans for each micro-batch from its progress report: the batch, and
    * within it query planning (plans) and addBatch (exec). */
  private def batchSpans(t: Tracer, ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit = {
    val parent = t.currentSpan
    ps.foreach { p =>
      val start = t.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L) * 1000000L
      val b = t.addSpan("streaming", s"batch ${p.batchId}", start, start + ms("triggerExecution"), parent)
      val planEnd = start + ms("latestOffset") + ms("walCommit") + ms("getBatch") + ms("queryPlanning")
      t.addSpan("plans", "queryPlanning", planEnd - ms("queryPlanning"), planEnd, b)
      t.addSpan("exec", "addBatch", planEnd, planEnd + ms("addBatch"), b)
    }
  }

  def bytesPerRow: Double = parquetBytes(s"$dir/stage").toDouble / (Files * EventsPerFile + 1)
  def writtenDirs: Seq[String] = Nil
  def kernelFrame(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/stage").select(st.point(col("x"), col("y")).as("g"))
}
