package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spatial join strategies.
  *
  * The reference ships the index primitives users compose into a join —
  * R-tree bulk-load + `intersection_candidates_with_other`
  * (rust/geoarrow-old/src/indexed/array.rs:20-57). On Spark the same idea
  * becomes two physical strategies:
  *
  *  - [[broadcast]]: the small side is broadcast through a real
  *    `BroadcastExchange` and probed via a per-task STRtree
  *    ([[graft.plans.SpatialJoinExec]], planned by
  *    [[graft.plans.SpatialJoinStrategy]]). O(n log m) instead of the
  *    O(n·m) BroadcastNestedLoopJoin Spark would plan for a θ-join on ST_*.
  *  - [[grid]]: big×big at the caller's cell size
  *    ([[graft.plans.GridSpatialJoinExec]], the exec the planner also picks
  *    when neither side fits a broadcast). Both sides shuffle by the grid
  *    cells their envelopes cover, each cell is refined with the exact
  *    predicate, and multi-cell matches are deduped with the
  *    reference-point rule (a pair is emitted only in the cell containing
  *    the min corner of the envelope intersection) — no DISTINCT pass.
  *
  * Predicates: intersects | contains | within | covers | dwithin:<d>.
  * `contains`/`covers`/`within` are evaluated as SMALL pred BIG
  * (the indexed side is the predicate's first argument).
  */
object SpatialJoin {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** driver-side fail-fast validation of a predicate name. */
  private def pred(name: String): Unit = name match {
    case "intersects" | "contains" | "covers" | "within" => ()
    case d if d.startsWith("dwithin:") => d.stripPrefix("dwithin:").toDouble; ()
    case other => throw new IllegalArgumentException(s"unknown spatial predicate: $other")
  }

  /** Inner join `big ⋈ small ON pred(small.geom, big.geom)` with the small
    * side broadcast and probed through an STRtree. Column names must be
    * disjoint.
    *
    * Sugar over the auto-planned path: the small side gets a broadcast
    * hint and the predicate becomes the matching `ST_*` expression, which
    * [[graft.plans.SpatialJoinStrategy]] plans as
    * [[graft.plans.SpatialJoinExec]] — the build side arrives through a
    * real `BroadcastExchange` (reused across stages, AQE-visible, no
    * driver-side `collect()`), each task bulk-loads one STRtree over it,
    * and output rows are `UnsafeRow`s Catalyst can prune above and below.
    *
    * `project` (optional) lists the output columns to keep, in order —
    * with the planner path this is ordinary column pruning (the narrowed
    * projection reaches inside the join), so it exists purely as API
    * convenience. Empty = all columns of both sides. */
  def broadcast(big: DataFrame, small: DataFrame,
                bigGeomCol: String, smallGeomCol: String,
                predicate: String = "intersects",
                project: Seq[String] = Nil): DataFrame = {
    pred(predicate) // validate on the driver: fail fast, not inside a task
    val spark = big.sparkSession
    graft.functions.GeoFunctions.register(spark)
    // refuse a misjudged "small" side early with an actionable message (conf
    // `graft.spatialJoin.maxBuildBytes`, default 512 MiB) rather than letting
    // the broadcast build run into executor memory pressure. RDD-backed plans
    // without stats report the defaultSizeInBytes sentinel (Long.MaxValue) —
    // an UNKNOWN size must not refuse a legitimately tiny side, so the guard
    // only fires on known estimates (same stance as Spark's own
    // broadcast-hint handling).
    val maxBuild = spark.conf.get("graft.spatialJoin.maxBuildBytes", (512L << 20).toString).toLong
    val est = small.queryExecution.optimizedPlan.stats.sizeInBytes
    val known = est < BigInt(Long.MaxValue) / 4
    require(!known || est <= maxBuild,
      s"SpatialJoin.broadcast: build side estimated at $est bytes exceeds " +
        s"graft.spatialJoin.maxBuildBytes=$maxBuild; use SpatialJoin.grid or a " +
        "plain `JOIN ON ST_pred(...)` (auto-planned grid join) for big×big")
    val (fn, extra) = predicate match {
      case d if d.startsWith("dwithin:") =>
        ("st_dwithin", Seq(lit(d.stripPrefix("dwithin:").toDouble)))
      case p => (s"st_$p", Nil)
    }
    val cond = call_function(fn, (small(smallGeomCol) +: big(bigGeomCol) +: extra): _*)
    val joined = big.join(org.apache.spark.sql.functions.broadcast(small), cond)
    if (project.isEmpty) joined else joined.select(project.map(col): _*)
  }

  /** k-nearest-neighbor join: for every left row, the `k` right rows with
    * the smallest planar `ST_Distance`, ranked (ties broken by `rightIdCol`
    * so the result is deterministic). Emits `knn_dist` and `knn_rank`
    * columns after the two sides' columns (which must be disjoint).
    *
    * `leftIdCol`/`rightIdCol` MUST be unique per row: the round resolution
    * keys on the left id and the pair dedup + tie-break on the right id (a
    * duplicated right id would make its rows indistinguishable to the
    * ranking in EVERY metric — round 21 aligned geodesic with planar here;
    * the auto-planned path, [[graft.plans.KnnTopKExec]], synthesizes unique
    * ids so SQL callers never see this constraint).
    *
    * Topology (the 100 TB shape): iterative radius doubling over a grid
    * join. Round i buckets both sides into cells of size r_i; a left row
    * probes the cells its envelope expanded by r_i covers, a right row
    * lands in its envelope's cells; candidates are an equi-shuffle on
    * (cx, cy), refined by `dist <= r_i`. A left row whose k-th candidate
    * sits within r_i is RESOLVED — no unseen right row can beat it (every
    * non-candidate is strictly farther than r_i). Unresolved rows re-probe
    * with r_{i+1} = 2·r_i. Each bounded round is a pure equi-join — never
    * an all-pairs product — and the unresolved side shrinks geometrically;
    * r_0 is estimated from the right side's density (expected k neighbors
    * per probe window), so most rows resolve in one round. Driver-side
    * loop with localCheckpoint between rounds (same pattern as
    * ConnectedComponents). Hot cells at a given radius carry the usual
    * keyed-shuffle skew caveat.
    *
    * Rows still unresolved once the radius would exceed the global bound
    * (combined-extent diagonal planar; half the earth's circumference
    * geodesic) take a FINAL broadcast pass instead of a degenerate grid
    * round: at that radius every grid key is constant, so the old
    * one-more-round topology put |unresolved|×|right| in a single task.
    * The remainder is by construction the small side (the rows that found
    * < k neighbors within every bounded radius), so it broadcasts; each
    * right partition ranks it against a bounded per-left heap map-side and
    * only |remainder|·k·partitions rows reach the merge shuffle. A
    * remainder larger than `graft.knn.broadcastRemainderMaxRows` (default
    * 1M; note the driver broadcast is |remainder| rows and each task's
    * heap memory is |remainder|·k entries, so size the cap down for large
    * k) falls back to the grid round with a warning.
    *
    * `rankMode` selects the per-row cut semantics, matching the SQL window
    * function of the same name:
    *  - `"row_number"` (default): exactly k rows, ties broken by rightId.
    *  - `"rank"`: every right row whose distance ≤ the k-th smallest
    *    (counted WITH multiplicity) — boundary ties kept, the result SET
    *    is fully deterministic, `knn_rank` carries RANK values (ties share
    *    a rank, the next rank skips).
    *  - `"dense_rank"`: every right row whose distance ≤ the k-th smallest
    *    DISTINCT distance — k whole distance classes per row.
    * Exactness argument (both ties modes): a row resolves only when its
    * candidate pool — all right rows within the round radius r — proves
    * the k-th threshold ≤ r (rank: pool holds ≥ k entries; dense_rank:
    * pool holds ≥ k distinct distances), so every row at or under the
    * threshold is already in the pool and the windowed cut never misses
    * a tie.
    */
  def knn(left: DataFrame, right: DataFrame,
          leftGeomCol: String, rightGeomCol: String, k: Int,
          leftIdCol: String, rightIdCol: String,
          initialRadius: Double = 0.0,
          metric: String = "planar",
          rankMode: String = "row_number"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(Set("row_number", "rank", "dense_rank")(rankMode),
      s"knn rankMode '$rankMode' (row_number|rank|dense_rank)")
    val withTies = rankMode != "row_number"
    val dense = rankMode == "dense_rank"
    // the tie-break (knn_dist asc, right id asc) runs through BOTH a SQL
    // window (any orderable type) and the broadcast-remainder heap (JVM
    // comparison) — restrict to atomic scalars so the two paths cannot
    // disagree; struct/array ids would compare differently or not at all
    locally {
      import org.apache.spark.sql.types._
      val ridType = right.schema(rightIdCol).dataType
      // WHITELIST of scalars both tie-break paths order identically, not a
      // container blacklist: a UDT or year-month interval would pass a
      // blacklist, survive the SQL-window path, then throw
      // ClassCastException only in the broadcast-remainder heap's
      // comparator — the same query succeeding or failing depending on
      // which round resolves a row. Every type here maps to a Comparable
      // JVM value (or Array[Byte], compared unsigned like SQL binary).
      val orderableAtomic = ridType match {
        case _: NumericType | StringType | BooleanType | DateType |
             TimestampType | TimestampNTZType | BinaryType | NullType => true
        case _ => false
      }
      require(orderableAtomic,
        s"knn: rightIdCol '$rightIdCol' must be an atomic (orderable scalar) type for the " +
          s"rank tie-break, is ${ridType.simpleString}")
    }
    // metric: "planar" ranks by euclidean coordinate distance (the
    // default); the geodesic metrics rank by METERS on the named earth
    // model — radii are then meters, and the candidate grid converts
    // meters→degrees conservatively with a RADIUS-dependent latitude
    // allowance (see lonGrid). Geodesic lon cells tile the circle exactly
    // and wrap modulo the cell count, so the ±180 antimeridian seam is
    // adjacent — a probe at lon 179.9 reaches candidates at −179.9.
    val distFn = metric match {
      case "planar" => "st_distance"
      case "sphere" | "spherical" => "st_distancesphere"
      case "karney" => "st_distancegeodesic"
      case "spheroid" | "andoyer" | "thomas" => "st_distancespheroid"
      case "vincenty" => "st_distancevincenty"
      case other => throw new IllegalArgumentException(
        s"knn metric '$other' (planar|sphere|karney|spheroid|vincenty)")
    }
    val geodesic = metric != "planar"
    val outCols =
      left.columns.map(col) ++ right.columns.map(col) ++
        Seq(col("knn_dist"), col("knn_rank"))

    // one tiny agg per side: combined extent bounds the search, right
    // density seeds r0
    val Array(le) = left.agg(call_function("st_extent_agg", col(leftGeomCol)).as("e"))
      .select("e.xmin", "e.ymin", "e.xmax", "e.ymax").collect()
    val Array(re) = right.agg(call_function("st_extent_agg", col(rightGeomCol)).as("e"),
        count(lit(1)).as("n"),
        approx_count_distinct(col(rightGeomCol)).as("ndv"))
      .select("e.xmin", "e.ymin", "e.xmax", "e.ymax", "n", "ndv").collect()
    val nRight = re.getLong(4)
    // distinct-LOCATION count (round 20): a duplicate-heavy right side
    // (co-located sensors, tie-class fixtures) makes the ROW density
    // overestimate spatial density — r0 comes out far too small and the
    // loop burns empty doubling rounds (each one a full candidate pass)
    // before the first neighbor appears. HLL ndv of the geometry bytes
    // rides the same extent aggregate for free; for duplicate-free data
    // ndv ≈ n and nothing changes. r0 only seeds the search — the loop is
    // exact for any r0.
    val ndvRight = math.max(1L, math.min(nRight, re.getLong(5)))
    if (nRight == 0 || le.isNullAt(0))
      return left.limit(0).crossJoin(right.limit(0))
        .withColumn("knn_dist", lit(0.0)).withColumn("knn_rank", lit(1L))
        .select(outCols: _*)

    val (xmin, ymin) = (math.min(le.getDouble(0), re.getDouble(0)), math.min(le.getDouble(1), re.getDouble(1)))
    val (xmax, ymax) = (math.max(le.getDouble(2), re.getDouble(2)), math.max(le.getDouble(3), re.getDouble(3)))
    val maxAbsLat = math.max(math.abs(ymin), math.abs(ymax))
    val diagDeg = math.hypot(xmax - xmin, ymax - ymin)
    val rMax =
      if (!geodesic) { if (diagDeg > 0) diagDeg else 1.0 }
      else 2.0031e7 // half the earth's circumference: the global distance bound
    val density = (xmax - xmin) * (ymax - ymin) / ndvRight
    // k in LOCATION units: resolution needs k ROWS per left, and with the
    // right side duplicated ~n/ndv deep, k·ndv/n locations already carry k
    // rows (floor 1 — at least one location must fall inside the radius).
    // Duplicate-free data: ndv ≈ n so kLoc ≈ k, the round-18 formula.
    val kLoc = math.max(1.0, k.toDouble * ndvRight / math.max(1L, nRight))
    val r0 =
      if (initialRadius > 0) math.min(initialRadius, rMax)
      else if (density > 0) {
        val r0Deg = math.sqrt(density * kLoc / math.Pi) * 2.0
        math.min(if (geodesic) r0Deg * 111320.0 else r0Deg, rMax)
      }
      else rMax / 64

    def candidates(lhs: DataFrame, r: Double, unresCount: Long = -1L): DataFrame = {
      // grid in coordinate units: geodesic rounds use the exact-divisor
      // lon cell (wrapped mod nLon, see lonGrid) and a latitude cell
      // bounding the r-meter displacement; planar rounds use r both axes
      val (csXv, nLon, csYv) =
        if (geodesic) { val (cx, n) = lonGrid(maxAbsLat, r); (cx, n, latCell(r)) }
        else (r, 0L, r)
      val csx = lit(csXv)
      val csy = lit(csYv)
      val nL = lit(nLon)
      def wrapX(c: org.apache.spark.sql.Column) =
        if (geodesic) pmod(c, nL) else c
      // unwrapped lon-cell range endpoints per side, in CELL INDEX space.
      // Geodesic upper bounds are CLAMPED to nLon consecutive cells (round
      // 21): an envelope wider than the circle would otherwise emit the
      // same wrapped key several times per row — wasted join rows before,
      // and the seam-aware reference rule below needs each wrapped key
      // exactly once per row per side. The wrapped key SET is unchanged.
      val lx0 = floor((col("__lb.xmin") - csx) / csx).cast("long")
      val lx1raw = floor((col("__lb.xmax") + csx) / csx).cast("long")
      val lx1 = if (geodesic) least(lx1raw, lx0 + nL - 1) else lx1raw
      val rx0 = floor(col("__rb.xmin") / csx).cast("long")
      val rx1raw = floor(col("__rb.xmax") / csx).cast("long")
      val rx1 = if (geodesic) least(rx1raw, rx0 + nL - 1) else rx1raw
      val l = lhs.withColumn("__lb", call_function("st_bbox", col(leftGeomCol)))
        .withColumn("__cx", explode(sequence(lx0, lx1)))
        .withColumn("__cx", wrapX(col("__cx")))
        .withColumn("__cy", explode(sequence(
          floor((col("__lb.ymin") - csy) / csy).cast("long"),
          floor((col("__lb.ymax") + csy) / csy).cast("long"))))
      val rr0 = right.withColumn("__rb", call_function("st_bbox", col(rightGeomCol)))
        .withColumn("__rcx", explode(sequence(rx0, rx1)))
        .withColumn("__rcx", wrapX(col("__rcx")))
        .withColumn("__rcy", explode(sequence(
          floor(col("__rb.ymin") / csy).cast("long"),
          floor(col("__rb.ymax") / csy).cast("long"))))
      // Cell pre-filter for the shrinking-remainder rounds (round 21, guide
      // §3.2): every round re-explodes and re-shuffles the ENTIRE right
      // side, even when only a handful of left rows remain unresolved — at
      // scale that is O(rounds × |right|) shuffle for a geometrically
      // shrinking candidate need. When the loop KNOWS the unresolved count
      // (rounds after the first) and it is small enough to broadcast
      // ([[CellPrefilterMaxRows]], 100k lefts ≈ ≤1M cell keys for
      // point-ish data) and clearly asymmetric vs the right side
      // (20×), a broadcast LEFT-SEMI join on the exact candidate cell keys
      // drops non-candidate right rows map-side, BEFORE the shuffle. A
      // pure superset reduction on the join key — results are identical by
      // construction; only shuffle bytes move. Engages only when the right
      // side is big enough for its shuffle to outweigh the ~2 extra driver
      // jobs of the broadcast build (`graft.knn.cellPrefilterMinRight`,
      // default 1M rows — measured on the bench fixtures, where engaging on
      // a 40-row right side costs 6 extra jobs for nothing; at the 100 TB
      // shape the right-side shuffle dominates rounds by orders of
      // magnitude). Spec-exercised with the conf lowered to 0.
      val conf = right.sparkSession.conf
      val prefilterMinRight = conf.get("graft.knn.cellPrefilterMinRight", "1000000").toLong
      val rr =
        if (unresCount >= 0 && unresCount <= CellPrefilterMaxRows &&
            nRight >= prefilterMinRight && unresCount * 20 <= nRight) {
          // bound the broadcast's KEY count, not just the row count
          // (round-21 review fix): wide multi-cell left envelopes at a
          // small round radius could otherwise blow the distinct-cells
          // broadcast past driver memory. Past [[CellPrefilterMaxKeys]]
          // the round keeps the plain unfiltered shuffle (slower, never
          // wrong, never OOM).
          val ly0 = floor((col("__lb.ymin") - csy) / csy).cast("long")
          val ly1 = floor((col("__lb.ymax") + csy) / csy).cast("long")
          if (cellKeysWithin(lhs.withColumn("__lb", call_function("st_bbox", col(leftGeomCol))),
                lx0, lx1, ly0, ly1, CellPrefilterMaxKeys)) {
            cellPrefilterCount.increment()
            val cells = l.select(col("__cx").as("__pcx"), col("__cy").as("__pcy")).distinct()
            rr0.join(org.apache.spark.sql.functions.broadcast(cells),
              col("__rcx") === col("__pcx") && col("__rcy") === col("__pcy"), "left_semi")
          } else rr0
        } else rr0
      val joined0 = l.join(rr, col("__cx") === col("__rcx") && col("__cy") === col("__rcy"))
      // a pair can meet in several cells (envelopes span cells) — keep one
      // copy. Planar rounds use the REFERENCE-POINT rule (round 20, the
      // GridSpatialJoinExec dedup): the min corner of (padded-left ∩ right)
      // routing envelopes lies in exactly one cell, and that cell is always
      // one of the pair's shared cells, so a plain filter replaces the old
      // dropDuplicates — which re-shuffled the ENTIRE candidate pair stream
      // (the operator's widest intermediate) by (leftId, rightId) every
      // round. Geodesic rounds (round 21) use the SEAM-AWARE form of the
      // same rule, in unwrapped lon-cell space modulo nLon: take m = the
      // smallest integer with rx1 + m·nLon ≥ lx0 (= ceil((lx0−rx1)/nLon)).
      // For any pair the wrapped join matched, the right range shifted by
      // m·nLon MUST intersect [lx0, lx1]: if it missed above
      // (rx0 + m·nLon > lx1) the next copy starts a full circle higher and
      // misses too, and every copy below m ends under lx0 — so no copy
      // would intersect and the wrapped keys could not have matched (both
      // ranges are clamped to ≤ nLon cells, so wrapped-key match ⟺ some
      // shifted copy intersects). The intersection min
      // max(lx0, rx0 + m·nLon) is therefore a unique per-pair cell both
      // sides emitted — a plain filter on its pmod replaces the old
      // per-round dropDuplicates Exchange of the full candidate stream.
      // Both cell sizes are at least [[MinCellDeg]], so cell indices and
      // nLon stay ≤ 2^31 ≪ 2^53 and the double-division ceil is exact.
      // Latitude cells never wrap: the planar min-corner rule applies
      // unchanged on y.
      val once =
        if (geodesic) {
          val m = ceil((lx0 - rx1).cast("double") / nL.cast("double")).cast("long")
          val refU = greatest(lx0, rx0 + m * nL)
          joined0.where(
            pmod(refU, nL) === col("__cx") &&
            floor(greatest(col("__lb.ymin") - csy, col("__rb.ymin")) / csy).cast("long") === col("__cy"))
        }
        else joined0.where(
          floor(greatest(col("__lb.xmin") - csx, col("__rb.xmin")) / csx).cast("long") === col("__cx") &&
          floor(greatest(col("__lb.ymin") - csy, col("__rb.ymin")) / csy).cast("long") === col("__cy"))
      once
        .withColumn("knn_dist",
          call_function(distFn, col(leftGeomCol), col(rightGeomCol)))
        // a NaN from a kernel edge case must fail LOUDLY — `NaN <= r` is
        // silently false and would return plausible-but-wrong neighbors
        .withColumn("knn_dist", when(isnan(col("knn_dist")), raise_error(lit(
            s"graft.knn: NaN distance from $distFn — kernel regression, refusing to rank")))
          .otherwise(col("knn_dist")))
        .where(col("knn_dist") <= lit(r))
        .drop("__lb", "__cx", "__cy", "__rb", "__rcx", "__rcy")
    }

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(leftIdCol)).orderBy(col("knn_dist").asc, col(rightIdCol).asc)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(leftIdCol))
    // ties mode ranks by DISTANCE ALONE — rank() ties share a value, so
    // `<= k` keeps every boundary tie and the output set is deterministic
    val wTies = org.apache.spark.sql.expressions.Window
      .partitionBy(col(leftIdCol)).orderBy(col("knn_dist").asc)
    /** per-row cut in the selected rank semantics, plus the resolution
      * counter `__cnt`: row_number/rank resolve on POOL SIZE ≥ k (k-th
      * with multiplicity inside the proven radius), dense_rank on
      * DISTINCT-DISTANCE count ≥ k (its own max rank, for free). */
    def cut(pool: DataFrame): DataFrame = rankMode match {
      case "row_number" =>
        pool.withColumn("knn_rank", row_number().over(w).cast("long"))
          .withColumn("__cnt", max(col("knn_rank")).over(wAll))
      case "rank" =>
        pool.withColumn("__rn", row_number().over(w))
          .withColumn("__cnt", max(col("__rn")).over(wAll))
          .withColumn("knn_rank", rank().over(wTies).cast("long"))
          .drop("__rn")
      case _ => // dense_rank
        pool.withColumn("knn_rank", dense_rank().over(wTies).cast("long"))
          .withColumn("__cnt", max(col("knn_rank")).over(wAll))
    }

    val spark = left.sparkSession

    /** Final pass for rows unresolved at the global radius bound: rank the
      * (small, broadcast) remainder against every right partition with a
      * bounded per-left max-heap — the |remainder|×|right| work distributes
      * over the right side's partitions instead of landing on the one task
      * that owned the old rMax grid round's constant cell key, and only
      * |remainder|·k·partitions rows reach the merge shuffle. The kernel is
      * the SAME WKB distance the SQL rounds rank by. */
    def broadcastRemainder(unres: DataFrame): DataFrame = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
      val lSchema = unres.schema
      // bounded collect: caller guards |unres| ≤ graft.knn.broadcastRemainderMaxRows,
      // and only the two needed columns come to the driver — a wide left
      // schema must not inflate what the cap actually bounds
      val uRows = unres.select(col(leftIdCol), col(leftGeomCol)).collect()
      val bu = spark.sparkContext.broadcast(uRows.map(row =>
        (row.get(0), row.getAs[Array[Byte]](1))))
      val rSchema = right.schema
      val rGeomIdx = rSchema.fieldIndex(rightGeomCol)
      val rIdIdx = rSchema.fieldIndex(rightIdCol)
      val dk = distKernel(metric)
      val kk = k
      val mName = metric
      val ties = withTies
      val dMode = dense
      val partial = right.rdd.mapPartitions { it =>
        val lefts = bu.value
        // row_number mode: max-heap ordered like the rank window (dist asc,
        // right id asc): top = current worst of the best k, evicted when
        // beaten. Tie-break identical to the SQL rounds' orderBy(dist asc,
        // rid asc): Spark asc puts nulls FIRST, and binary compares
        // unsigned lexicographic — the entry require() pins rid to atomic
        // types, so everything else is Comparable
        def cmpRid(x: Any, y: Any): Int =
          if (x == null) { if (y == null) 0 else -1 }
          else if (y == null) 1
          else (x, y) match {
            case (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)
            case _ => x.asInstanceOf[Comparable[Any]].compareTo(y)
          }
        val ord = new Ordering[(Double, Any, Row)] {
          def compare(a: (Double, Any, Row), b: (Double, Any, Row)): Int = {
            val c = java.lang.Double.compare(a._1, b._1)
            if (c != 0) c else cmpRid(a._2, b._2)
          }
        }
        val heaps = if (ties) null else lefts.map(_ =>
          new scala.collection.mutable.PriorityQueue[(Double, Any, Row)]()(ord))
        // ties modes: membership is decided by DISTANCE ALONE (no rid
        // tie-break ever drops a row), so kept rows bucket by exact
        // distance in a TreeMap. Invariants between inserts —
        //   rank:       kept = all entries with dist ≤ k-th smallest seen
        //               (with multiplicity); evict the LAST class while
        //               the remaining total still covers k
        //   dense_rank: kept = the k smallest distance CLASSES; evict the
        //               last class when a new class pushes past k
        val buckets = if (!ties) null else lefts.map(_ =>
          new java.util.TreeMap[Double, scala.collection.mutable.ArrayBuffer[Row]]())
        val totals = new Array[Long](lefts.length) // rank mode: kept rows
        it.foreach { rrow =>
          if (!rrow.isNullAt(rGeomIdx)) {
            val rwkb = rrow.getAs[Array[Byte]](rGeomIdx)
            val rid = rrow.get(rIdIdx)
            var i = 0
            while (i < lefts.length) {
              val lwkb = lefts(i)._2
              if (lwkb != null) {
                val d = dk(lwkb, rwkb)
                if (java.lang.Double.isNaN(d)) throw new IllegalStateException(
                  s"graft.knn: NaN distance from the $mName kernel — kernel regression, refusing to rank")
                if (!ties) {
                  val h = heaps(i)
                  if (h.size < kk) h.enqueue((d, rid, rrow))
                  else if (ord.compare((d, rid, rrow), h.head) < 0) {
                    h.dequeue(); h.enqueue((d, rid, rrow))
                  }
                } else {
                  val m = buckets(i)
                  val admit =
                    if (dMode) m.size < kk || d <= m.lastKey
                    else totals(i) < kk || d <= m.lastKey
                  if (admit) {
                    var bucket = m.get(d)
                    if (bucket == null) {
                      bucket = scala.collection.mutable.ArrayBuffer.empty[Row]
                      m.put(d, bucket)
                    }
                    bucket += rrow
                    if (dMode) {
                      // dense: admit/evict on CLASS count alone
                      if (m.size > kk) m.pollLastEntry()
                    } else {
                      totals(i) += 1
                      while (totals(i) - m.lastEntry().getValue.length >= kk)
                        totals(i) -= m.pollLastEntry().getValue.length
                    }
                  }
                }
              }
              i += 1
            }
          }
        }
        if (!ties)
          heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
            val uid = lefts(i)._1
            h.iterator.map { case (d, _, rrow) => Row.fromSeq(uid +: (rrow.toSeq :+ d)) }
          }
        else
          buckets.iterator.zipWithIndex.flatMap { case (m, i) =>
            val uid = lefts(i)._1
            scala.jdk.CollectionConverters.MapHasAsScala(m).asScala.iterator.flatMap {
              case (d, rows) => rows.iterator.map(rrow => Row.fromSeq(uid +: (rrow.toSeq :+ d)))
            }
          }
      }
      val partSchema = StructType(
        StructField("__graft_knn_uid", lSchema(leftIdCol).dataType) +:
          (rSchema.fields :+ StructField("knn_dist", DoubleType)))
      // merge: per-partition kept sets are supersets of the global answer
      // (every pair with global rank ≤ k survives its own partition's cut),
      // so one bounded global re-rank restores exactness in both modes
      val wMerge = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__graft_knn_uid"))
      val mergeRank = rankMode match {
        case "row_number" =>
          row_number().over(wMerge.orderBy(col("knn_dist").asc, col(rightIdCol).asc))
        case "rank" => rank().over(wMerge.orderBy(col("knn_dist").asc))
        case _ => dense_rank().over(wMerge.orderBy(col("knn_dist").asc))
      }
      val merged = spark.createDataFrame(partial, partSchema)
        .withColumn("knn_rank", mergeRank.cast("long"))
        .where(col("knn_rank") <= kk)
      // reattach the left columns: the remainder is small by construction
      merged.join(org.apache.spark.sql.functions.broadcast(unres),
          col("__graft_knn_uid") === unres(leftIdCol))
        .select(outCols: _*)
    }

    val maxRemainder = spark.conf.get(
      "graft.knn.broadcastRemainderMaxRows", "1000000").toLong
    var unresolved = left
    // exact unresolved count, known from the previous round's count() —
    // -1 for the first round (never counted; the cell pre-filter in
    // candidates() only engages once the remainder is provably small)
    var unresolvedN = -1L
    // blocks pinned by the current `unresolved` checkpoint — released the
    // moment the next round's checkpoint supersedes it (the per-round `part`
    // checkpoints back the returned result and must outlive the loop;
    // graft.core.Blocks.scrub at harness boundaries reclaims them)
    var unresolvedIds = Set.empty[Int]
    var acc: DataFrame = null
    var r = r0
    var done = false
    while (!done) {
      if (r >= rMax) {
        // every bounded round is exhausted: brute-force the remainder,
        // distributed (see broadcastRemainder). Grid fallback only if the
        // remainder is too large to broadcast — that round's constant cell
        // key funnels |unresolved|×|right| through one task, so warn.
        val nRem = unresolved.count()
        // eager checkpoint: the plan references the `unresolved` checkpoint
        // whose blocks are released right after the loop — cut the lineage
        // here like every bounded round's part does
        val finalPart =
          if (nRem == 0) null
          else if (nRem <= maxRemainder)
            broadcastRemainder(unresolved).localCheckpoint(true)
          else {
            gridFallbackCount.increment()
            log.warn(s"graft.knn: remainder $nRem > graft.knn.broadcastRemainderMaxRows=" +
              s"$maxRemainder; falling back to the degenerate single-cell grid " +
              "round (single-task hotspot)")
            cut(candidates(unresolved, rMax, nRem))
              .where(col("knn_rank") <= k)
              .select(outCols: _*)
              .localCheckpoint(true)
          }
        if (finalPart != null)
          acc = if (acc == null) finalPart else acc.unionByName(finalPart)
        if (acc == null)
          acc = left.limit(0).crossJoin(right.limit(0))
            .withColumn("knn_dist", lit(0.0)).withColumn("knn_rank", lit(1L))
            .select(outCols: _*)
        done = true
      } else {
        val ranked = cut(candidates(unresolved, r, unresolvedN))
        val part = ranked
          .where(col("__cnt") >= k && col("knn_rank") <= k)
          .select(outCols: _*)
          .localCheckpoint(true)
        acc = if (acc == null) part else acc.unionByName(part)
        val resolved = part.select(col(leftIdCol).as("__res_id")).distinct()
        // lazy checkpoint + count (round 20): the count job materializes the
        // anti-join checkpoint AND answers the loop's empty test in one pass
        // — the old eager checkpoint + isEmpty paid two jobs per round
        val (next, nextIds) = graft.core.Blocks.checkpointLazy(
          unresolved.join(resolved, col(leftIdCol) === col("__res_id"), "left_anti"))
        val nUnres = next.count()
        graft.core.Blocks.releaseSuperseded(spark, unresolvedIds, nextIds)
        unresolved = next
        unresolvedIds = nextIds
        unresolvedN = nUnres
        if (nUnres == 0) done = true else r = math.min(r * 2, rMax)
      }
    }
    graft.core.Blocks.release(spark, unresolvedIds)
    acc
  }

  /** Spec probe: number of oversized-remainder grid fallbacks taken (the
    * single-task-hotspot path behind graft.knn.broadcastRemainderMaxRows). */
  private[graft] val gridFallbackCount = new java.util.concurrent.atomic.LongAdder

  /** Spec probe: number of rounds that engaged the shrinking-remainder
    * cell pre-filter (round 21, behind graft.knn.cellPrefilterMinRight). */
  private[graft] val cellPrefilterCount = new java.util.concurrent.atomic.LongAdder

  /** Most unresolved left rows a kNN round's cell pre-filter broadcasts. */
  private val CellPrefilterMaxRows = 100000L

  /** Most covering-cell keys the cell pre-filter's broadcast may hold. */
  private val CellPrefilterMaxKeys = 2000000L

  /** Grid cells the farthest-k operator buckets the right side into. */
  private val FarthestCells = 1024

  /** Smallest geodesic kNN cell edge in degrees, for both axes: at most
    * 2^31 cells span the circle, so cell indices and seam shifts stay
    * exact in a double. A tiny radius would otherwise ask for ~4e16 lon
    * cells (past 2^53), and the seam-aware dedup could pick the wrong
    * copy. A larger cell only adds candidates. */
  private val MinCellDeg = 360.0 / (1L << 31)

  /** Whether the rows' covering-cell counts, (x1 − x0 + 1)·(y1 − y0 + 1)
    * each, sum to at most `maxKeys`: an upper bound on the distinct keys
    * the cell pre-filter would broadcast. The counts are computed in
    * doubles and capped at maxKeys + 1 per row before the sum, so a range,
    * product or sum past the long range reads as "too many" (skip the
    * pre-filter) instead of an ANSI overflow error or a wrapped small
    * count. No rows, or only null envelopes, also read as "too many". */
  private[graft] def cellKeysWithin(rows: DataFrame, x0: Column, x1: Column, y0: Column,
                                    y1: Column, maxKeys: Long): Boolean = {
    def cells(lo: Column, hi: Column) = hi.cast("double") - lo.cast("double") + 1
    val b = rows.agg(sum(least(cells(x0, x1) * cells(y0, y1), lit(maxKeys + 1.0)))).first()
    !b.isNullAt(0) && b.getDouble(0) <= maxKeys
  }

  /** Farthest-k join (round 19 — the last warned-not-planned window
    * shape): per left row, the k rows of `right` with the LARGEST planar
    * `ST_Distance`. Exact, one candidate pass, never a cartesian:
    *
    *  1. the right side buckets into ≤ [[FarthestCells]] grid
    *     cells (envelope-center assignment); per-cell stats — row count +
    *     the union bbox of member envelopes — collect to the driver
    *     (bounded) and broadcast;
    *  2. per left row, each cell gets distance BOUNDS from pure box
    *     arithmetic: `lo` = box-gap distance (every member's distance ≥
    *     lo), `hi` = max corner-pair distance (every member's distance ≤
    *     hi). τ = the k-th largest value of the {lo × count} multiset —
    *     at least k rows sit at distance ≥ τ, so the true k-th farthest
    *     distance d_k ≥ τ, and every top-k row (ties included) lives in a
    *     cell with hi ≥ d_k ≥ τ: candidate cells = {hi ≥ τ}, exact;
    *  3. candidates explode to (left, cell) pairs, equi-join the bucketed
    *     right side on the cell id, and a per-left-id window (dist DESC)
    *     cuts rank ≤ k in the chosen mode.
    *
    * Metrics (round 20): `planar` keeps the exact euclidean box bounds
    * (min/max over a box product is attained at vertices). The GEODESIC
    * metrics (sphere/karney/spheroid/vincenty) bound by the TRIANGLE
    * INEQUALITY instead — every geodesic distance family is a metric, so
    * with per-box enclosing circles (center c, radius r = max corner
    * distance, spheroid-padded) the bounds
    * `lo = d(cL,cC) − rL − rC`, `hi = d(cL,cC) + rL + rC` are sound with
    * no corner rule and no antipode special-casing; boxes too wide for a
    * meaningful circle (≥ 180° of lon) cap r at half the circumference
    * (those rows simply prune nothing). Looser than the planar corner
    * arithmetic, but exact-superset candidates all the same. The τ
    * pruning is sound for row_number and rank; dense_rank (k-th DISTINCT
    * distance) has no box bound and scans every cell per left row —
    * correct but unpruned, so the strategy doesn't claim that shape
    * (documented + spec-pinned divergence). Null/EMPTY
    * geometries are excluded on both sides (the documented kNN
    * divergence: the literal plan window-ranks their null distances).
    * Scale shape: one stats aggregate, one ≤`FarthestCells`-row collect,
    * one equi-shuffle join over the candidate pairs, one bounded window —
    * no driver loop, no radius iteration. */
  def farthestK(left: DataFrame, right: DataFrame,
                leftGeomCol: String, rightGeomCol: String, k: Int,
                leftIdCol: String, rightIdCol: String,
                rankMode: String = "row_number",
                metric: String = "planar"): DataFrame = {
    require(k >= 1, s"farthestK: k must be >= 1, got $k")
    require(Set("row_number", "rank", "dense_rank")(rankMode),
      s"farthestK rankMode '$rankMode' (row_number|rank|dense_rank)")
    val spark = left.sparkSession
    graft.functions.GeoFunctions.register(spark)
    val outCols =
      left.columns.map(col) ++ right.columns.map(col) ++
        Seq(col("knn_dist"), col("knn_rank"))
    def nonEmptyGeom(c: org.apache.spark.sql.Column) =
      c.isNotNull && !call_function("st_isempty", c)

    val Array(re) = right.where(nonEmptyGeom(col(rightGeomCol)))
      .agg(call_function("st_extent_agg", col(rightGeomCol)).as("e"),
        count(lit(1)).as("n"))
      .select("e.xmin", "e.ymin", "e.xmax", "e.ymax", "n").collect()
    val nRight = re.getLong(4)
    if (nRight == 0)
      return left.limit(0).crossJoin(right.limit(0))
        .withColumn("knn_dist", lit(0.0)).withColumn("knn_rank", lit(1L))
        .select(outCols: _*)
    val (xmin, ymin, xmax, ymax) =
      (re.getDouble(0), re.getDouble(1), re.getDouble(2), re.getDouble(3))
    val perAxis = math.max(1, math.sqrt(FarthestCells.toDouble).toInt)
    val csx = math.max((xmax - xmin) / perAxis, 1e-9)
    val csy = math.max((ymax - ymin) / perAxis, 1e-9)
    def cellOf(cxCol: org.apache.spark.sql.Column, cyCol: org.apache.spark.sql.Column) = {
      val cx = least(greatest(floor((cxCol - lit(xmin)) / lit(csx)), lit(0.0)),
        lit((perAxis - 1).toDouble)).cast("long")
      val cy = least(greatest(floor((cyCol - lit(ymin)) / lit(csy)), lit(0.0)),
        lit((perAxis - 1).toDouble)).cast("long")
      cx * lit(perAxis.toLong) + cy
    }
    val rBucketed = right.where(nonEmptyGeom(col(rightGeomCol)))
      .withColumn("__fb", call_function("st_bbox", col(rightGeomCol)))
      .withColumn("__fcell", cellOf(
        (col("__fb.xmin") + col("__fb.xmax")) / 2,
        (col("__fb.ymin") + col("__fb.ymax")) / 2))
    // per-cell stats: count + union bbox of member ENVELOPES (the bounds
    // below need geom ⊆ env ⊆ cell box, which envelope-union guarantees
    // regardless of which cell the center landed in)
    val stats = rBucketed.groupBy("__fcell").agg(
      count(lit(1)).as("n"),
      min("__fb.xmin").as("bxmin"), min("__fb.ymin").as("bymin"),
      max("__fb.xmax").as("bxmax"), max("__fb.ymax").as("bymax"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    // ≤ FarthestCells rows (~50 KB): ship inside the task closure — a
    // Broadcast here would live as long as the lazy plan (the UDF closure
    // pins it), accumulating driver/executor blocks across repeated
    // farthest-k queries in a long session.
    val kk = k
    val denseMode = rankMode == "dense_rank"
    if (denseMode)
      log.warn("graft.farthestK: dense_rank mode has no sound cell bound " +
        "for the k-th DISTINCT distance — every candidate cell is scanned " +
        "per left row (correct, but no pruning)")
    val planarMetric = metric match {
      case "planar" => true
      case "sphere" | "spherical" | "karney" | "spheroid" | "andoyer" |
           "thomas" | "vincenty" => false
      case other => throw new IllegalArgumentException(s"farthestK metric '$other'")
    }
    val candCells = udf { (lxmin: Double, lymin: Double, lxmax: Double, lymax: Double) =>
      val cs = stats
      // per cell: lo = min possible member distance, hi = max possible.
      // Planar: exact box arithmetic (extremes at vertices). Geodesic:
      // triangle inequality on enclosing circles — center distance by
      // haversine with a ±1% earth-model pad (covers every supported
      // metric's deviation from the mean-radius great circle), radius =
      // meridian+parallel path bound (≥ any surface distance center→box
      // point, no corner rule needed) + 100 m approximation slack
      // (Andoyer is a near-metric). Sound, metric-free soundness proofs,
      // slightly looser pruning than the planar corner arithmetic.
      val lo = new Array[Double](cs.length)
      val hi = new Array[Double](cs.length)
      val halfCirc = 2.1e7
      def radiusOf(x0: Double, y0: Double, x1: Double, y1: Double): Double =
        math.min(halfCirc,
          6.4e6 * (math.toRadians((x1 - x0) / 2) + math.toRadians((y1 - y0) / 2)) + 100.0)
      val lcx = (lxmin + lxmax) / 2; val lcy = (lymin + lymax) / 2
      val lr = radiusOf(lxmin, lymin, lxmax, lymax)
      var i = 0
      while (i < cs.length) {
        val (_, _, bx0, by0, bx1, by1) = cs(i)
        if (planarMetric) {
          val dx = math.max(0.0, math.max(bx0 - lxmax, lxmin - bx1))
          val dy = math.max(0.0, math.max(by0 - lymax, lymin - by1))
          lo(i) = math.hypot(dx, dy)
          val fx = math.max(math.abs(bx1 - lxmin), math.abs(lxmax - bx0))
          val fy = math.max(math.abs(by1 - lymin), math.abs(lymax - by0))
          hi(i) = math.hypot(fx, fy)
        } else {
          val ccx = (bx0 + bx1) / 2; val ccy = (by0 + by1) / 2
          val cr = radiusOf(bx0, by0, bx1, by1)
          val d = graft.core.Geodesy.haversineMeters(lcx, lcy, ccx, ccy)
          lo(i) = math.max(0.0, 0.99 * d - lr - cr)
          hi(i) = math.min(halfCirc * 1.02, 1.01 * d + lr + cr)
        }
        i += 1
      }
      // τ = k-th largest of the {lo × count} multiset — sound for
      // row_number and rank (both cut at the k-th largest distance WITH
      // multiplicity, which is ≥ τ by the prefix-count argument). NOT
      // sound for dense_rank: the k-th DISTINCT distance has no box
      // bound (arbitrarily many far rows can share one distance on a
      // circle arc), so dense mode keeps every cell (τ = 0) — correct,
      // at full per-left candidate cost.
      var tau = 0.0
      if (!denseMode) {
        val order = cs.indices.sortBy(j => -lo(j))
        var acc = 0L
        val it = order.iterator
        while (it.hasNext && acc < kk) {
          val j = it.next()
          acc += cs(j)._2
          tau = lo(j)
        }
        if (acc < kk) tau = 0.0 // fewer than k rows total: keep every cell
      }
      cs.indices.collect { case j if hi(j) >= tau => cs(j)._1 }.toArray
    }
    val lCand = left.where(nonEmptyGeom(col(leftGeomCol)))
      .withColumn("__lb", call_function("st_bbox", col(leftGeomCol)))
      .withColumn("__fcell", explode(candCells(
        col("__lb.xmin"), col("__lb.ymin"), col("__lb.xmax"), col("__lb.ymax"))))
    val distFn = metric match {
      case "planar" => "st_distance"
      case "sphere" | "spherical" => "st_distancesphere"
      case "karney" => "st_distancegeodesic"
      case "spheroid" | "andoyer" | "thomas" => "st_distancespheroid"
      case "vincenty" => "st_distancevincenty"
    }
    val pool = lCand.join(rBucketed.drop("__fb"), Seq("__fcell"))
      .withColumn("knn_dist",
        call_function(distFn, col(leftGeomCol), col(rightGeomCol)))
      .withColumn("knn_dist", when(isnan(col("knn_dist")), raise_error(lit(
          "graft.farthestK: NaN distance — kernel regression, refusing to rank")))
        .otherwise(col("knn_dist")))
    val wDesc = org.apache.spark.sql.expressions.Window.partitionBy(col(leftIdCol))
    val rankCol = rankMode match {
      case "row_number" => row_number().over(
        wDesc.orderBy(col("knn_dist").desc, col(rightIdCol).asc))
      case "rank" => rank().over(wDesc.orderBy(col("knn_dist").desc))
      case _ => dense_rank().over(wDesc.orderBy(col("knn_dist").desc))
    }
    pool.withColumn("knn_rank", rankCol.cast("long"))
      .where(col("knn_rank") <= k)
      .select(outCols: _*)
  }

  /** Lon-cell layout for a geodesic [[knn]] round: the cell size snaps to
    * an EXACT divisor of 360 so cells tile the circle and pmod-wrapped
    * keys make the ±180 seam adjacent (snapping rounds the cell UP, which
    * keeps the ≤1-cell displacement guarantee). The meters→degrees
    * allowance is RADIUS-dependent: the far endpoint of an r-meter
    * geodesic can sit r/110574° poleward of the data's extreme latitude,
    * so the cos(φ) lon scaling must use that padded latitude — a fixed
    * extent-derived allowance under-sizes cells for multi-1000-km rounds
    * at mid/high latitude and silently drops true neighbors. Rounds whose
    * padded latitude reaches the pole collapse to a single lon cell:
    * meridians converge there and no bounded lon cell is correct. The
    * cell is never smaller than [[MinCellDeg]], so cellCount ≤ 2^31.
    * Returns (cellSizeDegrees, cellCount); package-visible for the fuzz
    * property pinning the ≤1-wrapped-cell displacement guarantee. */
  private[graft] def lonGrid(maxAbsLat: Double, rM: Double): (Double, Long) = {
    val phi = maxAbsLat + 1.0 + rM / 110000.0
    lazy val raw = math.max(MinCellDeg, rM / (110000.0 * math.cos(math.toRadians(phi))))
    if (phi >= 89.0 || raw >= 360.0) (360.0, 1L)
    else {
      val n = math.max(1L, math.floor(360.0 / raw).toLong)
      (360.0 / n, n)
    }
  }

  /** Latitude cell edge in degrees for a geodesic [[knn]] round of radius
    * `rM` meters: one cell bounds the r-meter displacement (a degree of
    * latitude is ≥ 110.5 km), floored at [[MinCellDeg]]. */
  private[graft] def latCell(rM: Double): Double = math.max(MinCellDeg, rM / 110000.0)

  /** WKB→meters (or planar units) distance kernel matching the SQL
    * function the grid rounds rank by — the broadcast remainder pass must
    * use the IDENTICAL metric or ranks flip at the seam between paths. */
  private def distKernel(metric: String): (Array[Byte], Array[Byte]) => Double =
    metric match {
      case "planar" => graft.core.GeomOps.distance
      case "sphere" | "spherical" => graft.core.Geodesy.distanceSphere
      case "karney" => graft.core.Geodesy.distanceGeodesic
      case "spheroid" | "andoyer" | "thomas" => graft.core.Geodesy.distanceSpheroid
      case "vincenty" => graft.core.Geodesy.distanceVincenty
      case other => throw new IllegalArgumentException(s"knn metric '$other'")
    }

  /** Big×big inner join `left ⋈ right ON ST_Intersects(leftGeom,
    * rightGeom)` on a grid of square cells of edge `cellSize`, in the
    * geometries' own units. The cell size is the caller's: no sampling job
    * runs and no cell is sub-split. Planned as
    * [[graft.plans.GridSpatialJoinExec]]: both sides are partitioned by the
    * cells their envelopes cover (never broadcast), each cell is refined
    * with the exact predicate, and each pair is emitted once, in the cell
    * holding the min corner of its envelope intersection (reference-point
    * rule). Null and empty geometries match nothing. Output: every column
    * of `left`, then of `right`; column names must be disjoint. */
  def grid(left: DataFrame, right: DataFrame,
           leftGeomCol: String, rightGeomCol: String,
           cellSize: Double): DataFrame = {
    require(cellSize > 0 && !cellSize.isInfinite,
      s"SpatialJoin.grid: cellSize must be positive and finite, got $cellSize")
    val spark = left.sparkSession
    graft.functions.GeoFunctions.register(spark) // installs the planner strategy
    val (l, r) = (left.queryExecution.analyzed, right.queryExecution.analyzed)
    require(l.outputSet.intersect(r.outputSet).isEmpty,
      "SpatialJoin.grid: the two sides share columns; rename one side's columns")
    def geom(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, c: String) = {
      val e = p.resolveQuoted(c, spark.sessionState.conf.resolver)
        .getOrElse(throw new IllegalArgumentException(s"SpatialJoin.grid: no column $c"))
      require(e.dataType == org.apache.spark.sql.types.BinaryType,
        s"SpatialJoin.grid: $c must be a WKB binary column, is ${e.dataType.simpleString}")
      e
    }
    graft.plans.GraftInternal.ofRows(spark,
      graft.plans.GridJoin(l, r, geom(l, leftGeomCol), geom(r, rightGeomCol), cellSize))
  }
}
