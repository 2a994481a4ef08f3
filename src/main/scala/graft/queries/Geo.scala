package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Geospatial tier: grid-bucketed spatial analytics over deterministic
  * integer coordinates — the partitioning discipline that makes spatial
  * joins scale (candidates from an equi-join on grid cells, exact
  * arithmetic only on candidates; never a point×point cross join).
  *
  * Coordinates are derived, not stored: the harness tables carry no
  * lat/lon, so both engines place each entity at
  * `(md5("px-"+key) mod 2²⁰, md5("py-"+key) mod 2²⁰)` — a keyed PRF, the
  * same technique as the sampling family's [[HashBucketSpark]]. Every
  * distance is an exact BIGINT (dx²+dy² < 2⁴² — no haversine floats, no
  * cross-engine trig), so results are partition- and engine-invariant.
  *
  * The cell width EQUALS the query radius, which is what makes the 3×3
  * neighbor probe complete: any point within r of a station lies in one
  * of the 9 cells around the station's cell. At 100 TB the same plan
  * holds — points shuffle once on cell id (or arrive bucketed by a
  * z-ordered layout, `q_zorder`), the station side explodes ×9 and
  * broadcasts.
  */
object Geo extends Catalog {

  type Q = (SparkSession, String) => DataFrame

  /** Coordinate space [0, 2²⁰) and cell/radius width 2¹⁷ (an 8×8 grid). */
  private val Space = 1048576L
  private val CellW = 131072L
  private val R2 = CellW * CellW // radius = one cell width

  /** q_dbscan's finer cell width 2¹⁴ (a 64×64 grid over event points). */
  private val DbCellW = 16384L

  /** Spark integer coordinate from a keyed PRF (first 8 md5 hex chars). */
  private def coordSpark(prefix: String, key: String): String =
    s"CAST(conv(substring(md5(concat('$prefix-', CAST($key AS STRING))), 1, 8), 16, 10) AS BIGINT) % $Space"

  /** DuckDB twin of [[coordSpark]]. */
  private def coordSql(prefix: String, key: String): String =
    s"(${hex2longSql(s"md5('$prefix-' || CAST($key AS VARCHAR))", 1)}) % $Space"

  /** 3-bit × 3-bit Morton interleave of (cx, cy) ∈ [0,8)² — the locality
    * key a z-ordered layout would sort on; pure integer arithmetic, one
    * spelling both engines (columns cx, cy). */
  private val ZCellExpr: String = (0 until 3).map { b =>
    val p = 1L << b
    s"((cx div $p) % 2) * ${1L << (2 * b + 1)} + ((cy div $p) % 2) * ${1L << (2 * b)}"
  }.mkString("(", " + ", ")")

  private def zcellSql: String = ZCellExpr.replace(" div ", " // ")

  /** Points: one row per distinct user, PRF-placed. */
  private def points(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events").select("user_id").distinct()
      .withColumn("px", expr(coordSpark("px", "user_id")))
      .withColumn("py", expr(coordSpark("py", "user_id")))

  /** Stations: the 25 nations, PRF-placed in the same space. */
  private def stations(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "nation").select(col("n_nationkey").cast("long").as("station"))
      .withColumn("sx", expr(coordSpark("sx", "station")))
      .withColumn("sy", expr(coordSpark("sy", "station")))

  private val PointsSql: String =
    s"""pts AS (
       |  SELECT user_id, ${coordSql("px", "user_id")} AS px,
       |         ${coordSql("py", "user_id")} AS py
       |  FROM (SELECT DISTINCT user_id FROM events)
       |)""".stripMargin

  private val StationsSql: String =
    s"""st AS (
       |  SELECT CAST(n_nationkey AS BIGINT) AS station,
       |         ${coordSql("sx", "CAST(n_nationkey AS BIGINT)")} AS sx,
       |         ${coordSql("sy", "CAST(n_nationkey AS BIGINT)")} AS sy
       |  FROM nation
       |)""".stripMargin

  /** Curve order for the locality comparison (16×16 grid). */
  private val HilbOrder = 4
  private val HilbN = 1 << HilbOrder

  /** Morton SQL twin of `interleave_bits` on [[HilbOrder]]-bit coords
    * (x at even bit positions — the expression's convention). */
  private def mortonSql(cx: String, cy: String): String =
    (0 until HilbOrder).map { b =>
      val p = 1 << b
      s"(($cx // $p) % 2) * ${1L << (2 * b)} + (($cy // $p) % 2) * ${1L << (2 * b + 1)}"
    }.mkString("(", " + ", ")")

  /** One unrolled Hilbert xy→d round (scale `s`) for the oracle — the
    * exact rotate/reflect/accumulate step of plans.Hilbert.xy2d. */
  private def hilbRoundSql(i: Int, s: Int): String =
    s"""h$i AS (
       |  SELECT cx, cy,
       |    d + CAST(${s.toLong * s} AS BIGINT) *
       |      (CASE WHEN rx = 0 AND ry = 0 THEN 0 WHEN rx = 0 THEN 1
       |            WHEN ry = 0 THEN 3 ELSE 2 END) AS d,
       |    CASE WHEN ry = 1 THEN hx
       |         ELSE CASE WHEN rx = 1 THEN ${HilbN - 1} - hy ELSE hy END
       |    END AS hx,
       |    CASE WHEN ry = 1 THEN hy
       |         ELSE CASE WHEN rx = 1 THEN ${HilbN - 1} - hx ELSE hx END
       |    END AS hy
       |  FROM (SELECT cx, cy, hx, hy, d,
       |          CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
       |          CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry
       |        FROM h${i - 1})
       |)""".stripMargin

  val queries: Map[String, Q] = strictMap(

    // Hilbert vs Morton curve-walk locality over the full 16×16 grid
    // (+ the point density of each cell at that resolution): for every
    // pair of CONSECUTIVE curve positions (d, d+1), the spatial step
    // |Δcx|+|Δcy| — the quantity that decides how contiguous a
    // curve-ordered file layout is on disk. The Hilbert walk steps to an
    // orthogonal neighbor EVERY time (max step = 1 — this output row
    // doubles as a correctness proof of the transform), while the Z walk
    // jumps across quadrant seams (max step = n−1 on an n×n grid). Both
    // indices are native codegen'd expressions (plans.HilbertExpression /
    // InterleaveBitsExpression); the oracle unrolls the 4 xy→d rotate
    // rounds in SQL.
    "q_geo_hilbert" -> ((s, dir) => {
      val cw = Space / HilbN
      val occ = points(s, dir)
        .select((col("px") / cw).cast("int").as("cx"),
          (col("py") / cw).cast("int").as("cy"))
        .groupBy("cx", "cy").agg(count(lit(1)).as("n_points"))
      val grid = s.range(0, HilbN.toLong * HilbN)
        .select((col("id") / HilbN).cast("int").as("cx"),
          (col("id") % HilbN).cast("int").as("cy"))
        .join(occ, Seq("cx", "cy"), "left")
        .withColumn("n_points", coalesce(col("n_points"), lit(0L)))
        .withColumn("h", expr(s"hilbert_index(cx, cy, $HilbOrder)"))
        .withColumn("z", expr("interleave_bits(cx, cy)"))
      def walk(idxCol: String) = grid.alias("a")
        .join(grid.alias("b"), col(s"b.$idxCol") === col(s"a.$idxCol") + 1)
        .select((abs(col("a.cx") - col("b.cx"))
          + abs(col("a.cy") - col("b.cy"))).cast("long").as("step"))
        .agg(count(lit(1)).as("n"), sum("step").as("sum_step"),
          max("step").as("max_step"))
      val h = walk("h").select(col("n").as("n_steps"),
        col("sum_step").as("hilbert_sum"), col("max_step").as("hilbert_max"))
      val z = walk("z").select(col("sum_step").as("morton_sum"),
        col("max_step").as("morton_max"))
      h.crossJoin(broadcast(z)).crossJoin(broadcast(
          grid.agg(sum("n_points").as("n_points"),
            count_distinct(col("h")).as("n_cells"))))
        .select(col("n_cells"), col("n_steps"), col("n_points"),
          col("hilbert_sum"), col("hilbert_max"),
          col("morton_sum"), col("morton_max"))
    }),

    // Grid density + Morton locality key: points bucket into 8×8 cells,
    // one partial-agg'd shuffle on the cell, and each cell carries the
    // z-order key a layout pass (q_zorder) would cluster files by —
    // integer bit interleave, no UDF. The per-cell profile a spatial
    // workload consults before choosing probe order.
    "q_geo_cell" -> ((s, dir) => {
      points(s, dir)
        .withColumn("cx", expr(s"px div $CellW"))
        .withColumn("cy", expr(s"py div $CellW"))
        .groupBy("cx", "cy")
        .agg(count(lit(1)).as("n_points"), min("user_id").as("min_uid"))
        .withColumn("zcell", expr(ZCellExpr))
        .select("zcell", "cx", "cy", "n_points", "min_uid")
        .orderBy("zcell")
    }),

    // Radius join: stations × points within r — candidates from a cell
    // equi-join against the broadcast 9-cell station neighborhood (the
    // 3×3 probe is COMPLETE because cell width = r), exact BIGINT
    // distance only on candidates. One narrow pass over points; no
    // point×station cross join at any scale.
    "q_geo_radius_join" -> ((s, dir) => {
      val pts = points(s, dir)
        .withColumn("cx", expr(s"px div $CellW"))
        .withColumn("cy", expr(s"py div $CellW"))
      val sc = stations(s, dir)
        .select(col("station"), col("sx"), col("sy"),
          explode(expr("sequence(-1, 1)")).as("dx"))
        .select(col("station"), col("sx"), col("sy"), col("dx"),
          explode(expr("sequence(-1, 1)")).as("dy"))
        .select(col("station"), col("sx"), col("sy"),
          (expr(s"sx div $CellW") + col("dx")).as("cx"),
          (expr(s"sy div $CellW") + col("dy")).as("cy"))
      pts.join(broadcast(sc), Seq("cx", "cy"))
        .withColumn("d2", expr("(px - sx)*(px - sx) + (py - sy)*(py - sy)"))
        .where(col("d2") <= R2)
        .groupBy("station")
        .agg(count(lit(1)).as("n_within"),
          min(struct(col("d2"), col("user_id"))).as("m"))
        .select(col("station"), col("n_within"),
          col("m.user_id").as("closest_uid"), col("m.d2").as("closest_d2"))
        .orderBy("station")
    }),

    // k-nearest (k=3) per station within the 9-cell probe window — the
    // grid-bounded kNN an IVF-style spatial index answers (exact kNN
    // would ring-expand; the bounded probe is the documented contract,
    // same as q_ann_ivf's probe-1 approximation). Selection rides the
    // native bounded-heap TopKPerKey, never a per-station window sort.
    "q_geo_knn" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pts = points(s, dir)
        .withColumn("cx", expr(s"px div $CellW"))
        .withColumn("cy", expr(s"py div $CellW"))
      val sc = stations(s, dir)
        .select(col("station"), col("sx"), col("sy"),
          explode(expr("sequence(-1, 1)")).as("dx"))
        .select(col("station"), col("sx"), col("sy"), col("dx"),
          explode(expr("sequence(-1, 1)")).as("dy"))
        .select(col("station"), col("sx"), col("sy"),
          (expr(s"sx div $CellW") + col("dx")).as("cx"),
          (expr(s"sy div $CellW") + col("dy")).as("cy"))
      val cand = pts.join(broadcast(sc), Seq("cx", "cy"))
        .withColumn("d2", expr("(px - sx)*(px - sx) + (py - sy)*(py - sy)"))
        .select("station", "user_id", "d2")
      graft.operators.TopK.perKey(cand, Seq("station"),
          Seq(("d2", true), ("user_id", true)), 3)
        .withColumn("rank", row_number().over(Window.partitionBy("station")
          .orderBy(asc("d2"), asc("user_id"))).cast("long"))
        .select(col("station"), col("rank"), col("user_id").as("uid"),
          col("d2"))
        .orderBy("station", "rank")
    }),

    // Grid-density clustering (DBSCAN's grid formulation): cells with
    // ≥ 3 points are core; core cells that touch (8-neighborhood) merge
    // into one cluster — pointer-doubled ConnectedComponents over the
    // cell-adjacency edges, so cluster diameter costs O(log d) rounds,
    // never a per-cluster loop. Adjacency is an EQUI-join: each core
    // cell explodes its 8 neighbor offsets and joins on the neighbor's
    // cell id (bounded ×8 fan-out — no spatial cross join). The cell
    // table is the AGGREGATED grid (sublinear in points at any scale);
    // isolated core cells stay their own single-cell cluster. The oracle
    // recomputes components with a recursive-CTE reachability closure —
    // a different algorithm, same fixpoint.
    "q_dbscan" -> ((s, dir) => {
      val grid = Space / DbCellW
      // event-level points on a finer 64×64 grid: dense enough for core
      // cells to exist at every harness scale (users alone are too few
      // at sf0.001)
      val core = table(s, dir, "events").select("event_id")
        .withColumn("px", expr(coordSpark("px", "event_id")))
        .withColumn("py", expr(coordSpark("py", "event_id")))
        .groupBy(expr(s"px div $DbCellW").as("gx"),
          expr(s"py div $DbCellW").as("gy"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") >= 3)
        .withColumn("cell", expr(s"gx * $grid + gy"))
      val nbr = core.select(col("cell").as("a"), col("gx"), col("gy"),
          explode(expr("sequence(-1, 1)")).as("dx"))
        .select(col("a"), col("gy"), (col("gx") + col("dx")).as("nx"),
          explode(expr("sequence(-1, 1)")).as("dy"))
        .select(col("a"), col("nx"), (col("gy") + col("dy")).as("ny"))
        // stay on the grid: the flat cell id must not wrap across rows
        .where(col("nx") >= 0 && col("nx") < grid &&
          col("ny") >= 0 && col("ny") < grid)
        .select(col("a"), (col("nx") * grid + col("ny")).as("b"))
        .where(col("a") =!= col("b"))
      val edges = nbr.join(core.select(col("cell").as("b")), "b")
        .select("a", "b")
      val (labels, _) = graft.operators.ConnectedComponents.labels(edges)
      core.join(labels.withColumnRenamed("v", "cell"), Seq("cell"), "left")
        .withColumn("comp_id", coalesce(col("l"), col("cell")))
        .groupBy("comp_id")
        .agg(count(lit(1)).as("n_cells"), sum("n").as("n_points"))
        .orderBy("comp_id")
    }))

  val oracle: Map[String, String] = strictMap(

    "q_geo_hilbert" -> {
      val cw = Space / HilbN
      val rounds = (1 to HilbOrder).map(i =>
        hilbRoundSql(i, HilbN >> i)).mkString(",\n")
      s"""WITH $PointsSql,
         |occ AS (
         |  SELECT CAST(px // $cw AS INT) AS cx, CAST(py // $cw AS INT) AS cy,
         |    count(*) AS n_points
         |  FROM pts GROUP BY 1, 2
         |),
         |grid AS (
         |  SELECT CAST(i // $HilbN AS INT) AS cx, CAST(i % $HilbN AS INT) AS cy,
         |    CAST(coalesce(n_points, 0) AS BIGINT) AS n_points
         |  FROM (SELECT unnest(generate_series(0, ${HilbN * HilbN - 1})) AS i)
         |  LEFT JOIN occ ON occ.cx = i // $HilbN AND occ.cy = i % $HilbN
         |),
         |h0 AS (SELECT cx, cy, cx AS hx, cy AS hy, CAST(0 AS BIGINT) AS d
         |       FROM grid),
         |$rounds,
         |idx AS (
         |  SELECT g.cx AS cx, g.cy AS cy, g.n_points AS n_points,
         |    hh.d AS h, CAST(${mortonSql("g.cx", "g.cy")} AS BIGINT) AS z
         |  FROM grid g JOIN h$HilbOrder hh ON g.cx = hh.cx AND g.cy = hh.cy
         |),
         |hw AS (
         |  SELECT count(*) AS n_steps,
         |    CAST(sum(abs(a.cx - b.cx) + abs(a.cy - b.cy)) AS BIGINT)
         |      AS hilbert_sum,
         |    CAST(max(abs(a.cx - b.cx) + abs(a.cy - b.cy)) AS BIGINT)
         |      AS hilbert_max
         |  FROM idx a JOIN idx b ON b.h = a.h + 1
         |),
         |zw AS (
         |  SELECT CAST(sum(abs(a.cx - b.cx) + abs(a.cy - b.cy)) AS BIGINT)
         |      AS morton_sum,
         |    CAST(max(abs(a.cx - b.cx) + abs(a.cy - b.cy)) AS BIGINT)
         |      AS morton_max
         |  FROM idx a JOIN idx b ON b.z = a.z + 1
         |)
         |SELECT
         |  (SELECT CAST(count(DISTINCT h) AS BIGINT) FROM idx) AS n_cells,
         |  n_steps,
         |  (SELECT CAST(sum(n_points) AS BIGINT) FROM idx) AS n_points,
         |  hilbert_sum, hilbert_max, morton_sum, morton_max
         |FROM hw CROSS JOIN zw""".stripMargin
    },

    "q_geo_cell" ->
      s"""WITH $PointsSql,
         |cells AS (
         |  SELECT px // $CellW AS cx, py // $CellW AS cy,
         |    count(*) AS n_points, min(user_id) AS min_uid
         |  FROM pts GROUP BY 1, 2
         |)
         |SELECT $zcellSql AS zcell, cx, cy, n_points, min_uid
         |FROM cells ORDER BY zcell""".stripMargin,

    "q_geo_radius_join" ->
      s"""WITH $PointsSql,
         |$StationsSql,
         |sc AS (
         |  SELECT station, sx, sy,
         |    sx // $CellW + dx.x AS cx, sy // $CellW + dy.y AS cy
         |  FROM st,
         |    (VALUES (-1), (0), (1)) AS dx(x),
         |    (VALUES (-1), (0), (1)) AS dy(y)
         |),
         |cand AS (
         |  SELECT station, user_id,
         |    (px - sx)*(px - sx) + (py - sy)*(py - sy) AS d2
         |  FROM pts JOIN sc ON pts.px // $CellW = sc.cx
         |                  AND pts.py // $CellW = sc.cy
         |  WHERE (px - sx)*(px - sx) + (py - sy)*(py - sy) <= $R2
         |),
         |agg AS (SELECT station, count(*) AS n_within FROM cand
         |        GROUP BY station),
         |best AS (
         |  SELECT station, user_id AS closest_uid, d2 AS closest_d2
         |  FROM (SELECT station, user_id, d2,
         |          row_number() OVER (PARTITION BY station
         |            ORDER BY d2, user_id) AS rn
         |        FROM cand)
         |  WHERE rn = 1
         |)
         |SELECT station, n_within, closest_uid,
         |  CAST(closest_d2 AS BIGINT) AS closest_d2
         |FROM agg JOIN best USING (station) ORDER BY station""".stripMargin,

    "q_geo_knn" ->
      s"""WITH $PointsSql,
         |$StationsSql,
         |sc AS (
         |  SELECT station, sx, sy,
         |    sx // $CellW + dx.x AS cx, sy // $CellW + dy.y AS cy
         |  FROM st,
         |    (VALUES (-1), (0), (1)) AS dx(x),
         |    (VALUES (-1), (0), (1)) AS dy(y)
         |),
         |cand AS (
         |  SELECT station, user_id,
         |    (px - sx)*(px - sx) + (py - sy)*(py - sy) AS d2
         |  FROM pts JOIN sc ON pts.px // $CellW = sc.cx
         |                  AND pts.py // $CellW = sc.cy
         |)
         |SELECT station, CAST(rank AS BIGINT) AS rank, user_id AS uid, d2
         |FROM (SELECT station, user_id, d2,
         |        row_number() OVER (PARTITION BY station
         |          ORDER BY d2, user_id) AS rank
         |      FROM cand)
         |WHERE rank <= 3 ORDER BY station, rank""".stripMargin,

    "q_dbscan" -> {
      val grid = Space / DbCellW
      s"""WITH RECURSIVE epts AS (
         |  SELECT event_id, ${coordSql("px", "event_id")} AS px,
         |         ${coordSql("py", "event_id")} AS py
         |  FROM events
         |),
         |cells AS (
         |  SELECT px // $DbCellW AS gx, py // $DbCellW AS gy, count(*) AS n
         |  FROM epts GROUP BY 1, 2
         |),
         |core AS (SELECT gx, gy, gx * $grid + gy AS cell, n
         |         FROM cells WHERE n >= 3),
         |edges AS (
         |  SELECT a.cell AS a, b.cell AS b
         |  FROM core a JOIN core b
         |    ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1
         |   AND a.cell <> b.cell
         |),
         |reach AS (
         |  SELECT cell AS v, cell AS l FROM core
         |  UNION
         |  SELECT e.b AS v, r.l FROM reach r JOIN edges e ON e.a = r.v
         |),
         |comp AS (SELECT v, min(l) AS comp_id FROM reach GROUP BY v)
         |SELECT comp_id, count(*) AS n_cells,
         |  CAST(sum(core.n) AS BIGINT) AS n_points
         |FROM comp JOIN core ON core.cell = comp.v
         |GROUP BY 1 ORDER BY comp_id""".stripMargin
    })
}
