package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.st

/** Seeded synthetic geometry generator — the reference's
  * `sd_random_geometry` table function
  * (rust/sedona/src/random_geometry_provider.rs:52-104) as a
  * `spark.range`-based DataFrame: fully distributed, deterministic per
  * (seed, id), no driver-side data generation. Used by benchmarks and
  * property tests.
  */
object RandomGeometry {

  private def u(seed: Long, salt: Int, lo: Double, hi: Double) = {
    // xorshift-free determinism: Spark's hash of (id, seed, salt) -> [lo, hi)
    (c: org.apache.spark.sql.Column) =>
      lit(lo) + (pmod(hash(c, lit(seed), lit(salt)), lit(1000000)).cast("double") / 1000000.0) * (hi - lo)
  }

  /** n random points in [xmin,xmax)x[ymin,ymax). Columns: id, geom. */
  def points(spark: SparkSession, n: Long, seed: Long = 42,
      xmin: Double = 0, ymin: Double = 0, xmax: Double = 100, ymax: Double = 100): DataFrame =
    spark.range(n).select(col("id"),
      st.point(u(seed, 1, xmin, xmax)(col("id")), u(seed, 2, ymin, ymax)(col("id"))).as("geom"))

  /** n random axis-aligned boxes with sizes in [1, maxSize). */
  def boxes(spark: SparkSession, n: Long, seed: Long = 42,
      xmin: Double = 0, ymin: Double = 0, xmax: Double = 100, ymax: Double = 100,
      maxSize: Double = 5): DataFrame =
    spark.range(n).select(col("id"),
      st.makeEnvelope(
        u(seed, 1, xmin, xmax)(col("id")),
        u(seed, 2, ymin, ymax)(col("id")),
        u(seed, 1, xmin, xmax)(col("id")) + u(seed, 3, 1, maxSize)(col("id")),
        u(seed, 2, ymin, ymax)(col("id")) + u(seed, 4, 1, maxSize)(col("id"))).as("geom"))

  /** The reference's SQL surface: `SELECT * FROM
    * sd_random_geometry('{"num_rows": 8192, "seed": 42, ...}')`
    * (random_geometry_provider.rs:444, option struct :337-354). Output
    * schema mirrors the provider: (id int, dist double, geometry) —
    * sedona-testing/src/datagen.rs:305-310.
    *
    * Canonical JSON keys (RandomGeometryFunctionOptions): num_rows,
    * num_partitions, seed, bounds [xmin,ymin,xmax,ymax], geom_type
    * (Point|LineString|Polygon|MultiPoint|MultiLineString|MultiPolygon;
    * legacy geometry_type with box/envelope accepted), num_vertices
    * (scalar or [lo,hi]), size (scalar or [lo,hi]), null_rate,
    * empty_rate, hole_rate, num_parts (scalar or [lo,hi]). Unknown keys
    * are ignored, matching the reference's serde behavior. Everything is
    * a codegen'd WKT-concat expression: fully distributed, deterministic
    * per (seed, id), no driver-side generation. */
  def table(spark: SparkSession, optionsJson: String): DataFrame = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(if (optionsJson == null || optionsJson.trim.isEmpty) "{}" else optionsJson)
    def i(k: String, d: Long): Long = if (node.has(k)) node.get(k).asLong(d) else d
    def dd(k: String, d: Double): Double = if (node.has(k)) node.get(k).asDouble(d) else d
    def s(k: String, d: String): String = if (node.has(k)) node.get(k).asText(d) else d
    def range(k: String, d: (Double, Double)): (Double, Double) =
      if (!node.has(k)) d
      else if (node.get(k).isArray && node.get(k).size >= 2)
        (node.get(k).get(0).asDouble, node.get(k).get(1).asDouble)
      else { val v = node.get(k).asDouble; (v, v) }
    val n = i("num_rows", 1024)
    val parts = i("num_partitions", 1).toInt
    val seed = i("seed", java.lang.Math.floorMod(scala.util.Random.nextLong(), 1000000L))
    val bounds =
      if (node.has("bounds") && node.get("bounds").isArray && node.get("bounds").size == 4)
        (0 until 4).map(j => node.get("bounds").get(j).asDouble())
      else Seq(0.0, 0.0, 100.0, 100.0)
    val (xmin, ymin, xmax, ymax) = (bounds(0), bounds(1), bounds(2), bounds(3))
    val geomType = s("geom_type", s("geometry_type", "point")).toLowerCase
    val (vLo, vHi) = range("num_vertices", range("vertices", (8.0, 8.0)))
    val (szLo, szHi) = range("size", (1.0, 5.0))
    val nullRate = dd("null_rate", 0.0)
    val emptyRate = dd("empty_rate", 0.0)
    val holeRate = dd("hole_rate", 0.0)
    val (pLo, pHi) = range("num_parts", (1.0, 1.0))

    val id = col("id")
    // per-(row, part, salt) uniform helpers
    def uv(salt: Int, lo: Double, hi: Double, extra: org.apache.spark.sql.Column*) =
      lit(lo) + (pmod(hash((Seq(id, lit(seed), lit(salt)) ++ extra): _*),
        lit(1000000)).cast("double") / 1000000.0) * (hi - lo)
    def ui(salt: Int, lo: Double, hi: Double, extra: org.apache.spark.sql.Column*) =
      (lit(lo.toInt) + pmod(hash((Seq(id, lit(seed), lit(salt)) ++ extra): _*),
        lit(math.max(hi.toInt - lo.toInt + 1, 1)))).cast("int")

    // leaf WKT bodies (coordinate lists without the type tag); `p` salts
    // per part so multi-part members differ
    def pointBody(p: org.apache.spark.sql.Column) =
      concat(uv(11, xmin, xmax, p), lit(" "), uv(12, ymin, ymax, p))
    def lineBody(p: org.apache.spark.sql.Column) = {
      val nv = ui(13, math.max(vLo, 2), math.max(vHi, 2), p)
      val cx = uv(14, xmin, xmax, p); val cy = uv(15, ymin, ymax, p)
      val sz = uv(16, szLo, szHi, p)
      concat(lit("("), concat_ws(", ",
        transform(sequence(lit(0), nv - 1), j =>
          concat(cx + sz * (uv(17, -1, 1, p, j)), lit(" "),
            cy + sz * (uv(18, -1, 1, p, j))))), lit(")"))
    }
    def ringBody(p: org.apache.spark.sql.Column, salt: Int,
        cxIn: org.apache.spark.sql.Column = null,
        cyIn: org.apache.spark.sql.Column = null,
        szIn: org.apache.spark.sql.Column = null, scale: Double = 1.0) = {
      val nv = ui(salt, math.max(vLo, 3), math.max(vHi, 3), p)
      val cx = if (cxIn != null) cxIn else uv(salt + 1, xmin, xmax, p)
      val cy = if (cyIn != null) cyIn else uv(salt + 2, ymin, ymax, p)
      val szBase = if (szIn != null) szIn else uv(salt + 3, szLo, szHi, p)
      val sz = szBase * scale
      // star-convex ring: radius jitter per vertex, closed by index mod
      (cx, cy, szBase, concat(lit("("), concat_ws(", ",
        transform(sequence(lit(0), nv), j => {
          val k = pmod(j, nv)
          val ang = k.cast("double") * lit(2 * math.Pi) / nv.cast("double")
          val r = sz * (lit(0.5) + pmod(hash(id, k, lit(seed), lit(salt), p),
            lit(500)).cast("double") / 1000.0)
          concat(cx + r * cos(ang), lit(" "), cy + r * sin(ang))
        })), lit(")")))
    }
    def polyBody(p: org.apache.spark.sql.Column) = {
      val (cx, cy, sz, shell) = ringBody(p, 20)
      val withHole = holeRate > 0.0
      if (!withHole) concat(lit("("), shell, lit(")"))
      else {
        // Hole shares the shell's center AND size draw: shell vertex radii
        // are >= 0.5*sz and the inscribed chord distance is >= 0.25*sz
        // (worst case nv=3); hole radii are < 0.2*sz, so the hole always
        // lies strictly inside the shell (reference generator contract).
        val (_, _, _, hole) = ringBody(p, 30, cxIn = cx, cyIn = cy,
          szIn = sz, scale = 0.2)
        concat(lit("("), shell,
          when(uv(29, 0, 1, p) < holeRate, concat(lit(", "), hole))
            .otherwise(lit("")), lit(")"))
      }
    }
    val nParts = ui(40, math.max(pLo, 1), math.max(pHi, 1))
    def multi(tag: String,
        member: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      concat(lit(tag + " ("), concat_ws(", ",
        transform(sequence(lit(1), nParts), member)), lit(")"))

    val wkt = geomType match {
      case "point" => concat(lit("POINT ("), pointBody(lit(0)), lit(")"))
      case "linestring" => concat(lit("LINESTRING "), lineBody(lit(0)))
      case "polygon" => concat(lit("POLYGON "), polyBody(lit(0)))
      case "multipoint" => multi("MULTIPOINT",
        p => concat(lit("("), pointBody(p), lit(")")))
      case "multilinestring" => multi("MULTILINESTRING", lineBody)
      case "multipolygon" => multi("MULTIPOLYGON", polyBody)
      case "box" | "envelope" | "rectangle" => null // handled below
      case other => throw new IllegalArgumentException(
        s"sd_random_geometry: unsupported geom_type '$other'")
    }
    val emptyTag = geomType match {
      case "box" | "envelope" | "rectangle" => "POLYGON EMPTY"
      case t => t.toUpperCase + " EMPTY"
    }
    val geom =
      if (wkt == null) {
        val env = st.makeEnvelope(uv(11, xmin, xmax), uv(12, ymin, ymax),
          uv(11, xmin, xmax) + uv(13, szLo, szHi),
          uv(12, ymin, ymax) + uv(14, szLo, szHi))
        // empty_rate applies on the box path too (same salt as the WKT
        // branch so a given (seed, id) is empty regardless of geom_type)
        if (emptyRate > 0.0)
          when(uv(50, 0, 1) < emptyRate, st.geomFromWkt(lit(emptyTag)))
            .otherwise(env)
        else env
      } else st.geomFromWkt(
        when(uv(50, 0, 1) < emptyRate, lit(emptyTag)).otherwise(wkt))
    val geomN =
      if (nullRate > 0.0) when(uv(51, 0, 1) < nullRate,
        lit(null).cast("binary")).otherwise(geom)
      else geom

    spark.range(n)
      .repartition(math.max(parts, 1))
      .select(col("id").cast("int").as("id"),
        uv(9, 0.0, 1.0).as("dist"),
        geomN.as("geometry"))
  }

  /** Register `sd_random_geometry` as a SQL table-valued function. */
  def registerTable(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.analysis.TableFunctionRegistry
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    graft.functions.GraftFunctions.registerOnce(spark.sessionState.tableFunctionRegistry,
      TableFunctionRegistry.builtin, "sd_random_geometry",
      (exprs: Seq[Expression]) => {
        val json = exprs match {
          case Seq(Literal(v, _)) if v != null => v.toString
          case Seq() => "{}"
          case _ => throw new IllegalArgumentException(
            "sd_random_geometry() expects one string literal of JSON options")
        }
        table(SparkSession.active, json).queryExecution.logical
      })
  }

  /** n random `nVertices`-gon polygons (star-convex around a center). */
  def polygons(spark: SparkSession, n: Long, seed: Long = 42, nVertices: Int = 8,
      xmin: Double = 0, ymin: Double = 0, xmax: Double = 100, ymax: Double = 100,
      radius: Double = 3): DataFrame = {
    val cx = u(seed, 1, xmin, xmax)(col("id"))
    val cy = u(seed, 2, ymin, ymax)(col("id"))
    val wkt = concat(lit("POLYGON (("),
      concat_ws(", ",
        transform(sequence(lit(0), lit(nVertices)), i => {
          val ang = (i % nVertices).cast("double") * (2 * math.Pi / nVertices)
          val r = lit(radius) * (lit(0.5) +
            pmod(hash(col("id"), (i % nVertices), lit(seed)), lit(500)).cast("double") / 1000.0)
          concat(cx + r * cos(ang), lit(" "), cy + r * sin(ang))
        })),
      lit("))"))
    spark.range(n).select(col("id"), st.geomFromWkt(wkt).as("geom"))
  }
}
