package graft

import org.apache.spark.sql.DataFrame

/** Scale-slope evidence harness (BASELINE.md "time vs rows"): generates
  * k× synthetic blow-ups of the sf0.1 inputs for the four heaviest shuffle
  * families — t07 banded-LSH dedup, g33 big×big grid join, q16 PageRank,
  * e13 SemDeDup — and times each family at 1×/3×/10×, printing one JSON
  * line per (family, factor). The 100×-cluster claims in the scaladocs are
  * design arguments; this turns them into measured slopes.
  *
  * Blow-up construction preserves each family's work DISTRIBUTION instead
  * of stacking duplicates:
  *  - documents: copy c salts text by inserting a per-copy token between
  *    every word pair, so no shingle survives across copies (copies are
  *    NOT near-dups of their originals — the dup rate per row stays the
  *    corpus's own), while within-copy near-dup structure is preserved.
  *  - lineitem (q16 edges): copy c offsets l_partkey/l_suppkey by
  *    c·maxKey, growing the node set with the edge set (an offset-free
  *    copy would only thicken the same graph and collapse the DISTINCT).
  *  - orders (g33 probe side): copy c offsets o_orderkey, spreading new
  *    points uniformly over the same 500×500 grid — candidate pairs and
  *    output grow ~k× (the build side stays fixed, as a stable zone table
  *    would; growing both sides k× densifies cells and costs k², which is
  *    a density change, not a data-volume change).
  *  - embeddings: copy c jitters every lane by an id-seeded ±1.5% step —
  *    new vectors cluster like the originals without being their dups.
  * Untouched tables are copied through so `views()` finds the full set.
  */
object ScaleSlope {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val base = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // AQE exchange sizing: shuffle.partitions pins the FLOOR the bench
    // harness uses, but at the sf10 decade the iterated 150M-edge joins
    // (q16) spill at 32 partitions — the round-19 finding. Exchanges
    // start at `initialPartitionNum` and AQE coalesces each one down to
    // the advisory size, so small stages still run at ~32 while the big
    // decades fan out. This is exactly what a 1000-executor cluster
    // does; the env knob keeps the pinned-32 floor reproducible.
    val initParts = sys.env.getOrElse("SPARK_GRAFT_INIT_PARTITIONS", cpus)
    val spark = LocalSession(cpus, "ERROR",
      Seq("spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> initParts))

    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val blown = Set("documents", "lineitem", "orders", "embeddings")

    def gen(factor: Int): String = {
      if (factor == 1) return sfDir
      val dir = s"$base/x$factor"
      val done = new java.io.File(s"$dir/_DONE")
      if (done.exists()) return dir
      new java.io.File(dir).mkdirs()
      tables.filterNot(blown).foreach { t =>
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$sfDir/$t.parquet"),
          java.nio.file.Paths.get(s"$dir/$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      import org.apache.spark.sql.functions.expr
      def src(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")
        .crossJoin(spark.range(factor).selectExpr("CAST(id AS BIGINT) AS c"))
      // documents: per-copy salt token between every word (see scaladoc)
      src("documents")
        .withColumn("doc_id", expr("doc_id + c * 1000000"))
        .withColumn("text", expr(
          "CASE WHEN c = 0 THEN text ELSE regexp_replace(text, ' ', concat(' zsalt', CAST(c AS STRING), ' ')) END"))
        .withColumn("n_chars", expr("CAST(length(text) AS BIGINT)"))
        .drop("c")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // lineitem: offset part/supp keys per copy (q16 node growth); other
      // columns ride along unchanged (only the edge columns matter here)
      src("lineitem")
        .withColumn("l_orderkey", expr("l_orderkey + c * 10000000"))
        .withColumn("l_partkey", expr("l_partkey + c * 1000000"))
        .withColumn("l_suppkey", expr("l_suppkey + c * 1000000"))
        .drop("c")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      // orders: offset orderkey per copy (g33 probe-side growth)
      src("orders")
        .withColumn("o_orderkey", expr("o_orderkey + c * 10000000"))
        .drop("c")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      // embeddings: id-seeded jitter per lane, same clustering shape
      src("embeddings")
        .withColumn("embedding", expr(
          """CASE WHEN c = 0 THEN embedding ELSE transform(embedding, (x, i) ->
             CAST(x + CAST((vec_id * 31 + i * 7 + c * 13) % 11 - 5 AS FLOAT) * CAST(0.003 AS FLOAT) AS FLOAT)) END"""))
        .withColumn("vec_id", expr("vec_id + c * 1000000"))
        .drop("c")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      done.createNewFile()
      dir
    }

    val families: Seq[String] =
      if (args.length > 2) args(2).split(",").toSeq
      else Seq("t07_minhash_lsh", "g33_grid_join_bigbig",
        "q16_pagerank", "e13_semdedup")
    val factors: Seq[Int] =
      if (args.length > 3) args(3).split(",").toSeq.map(_.toInt)
      else Seq(1, 3, 10)
    def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt)
    val out = new StringBuilder
    // ONE timing methodology for every family (scrub outside the window,
    // min over reps) — keep this the single copy so slopes stay comparable
    def best(mk: => DataFrame): Double = {
      var b = Double.MaxValue
      (0 until reps).foreach { _ =>
        graft.core.Blocks.scrub(spark, blocking = true)
        val t0 = System.nanoTime()
        run(mk)
        b = math.min(b, (System.nanoTime() - t0) / 1e9)
      }
      b
    }

    /** Native-stats row-group pruning slope (the g81 path at growing data
      * size): per factor, a spatially-sorted native covering-less file of
      * 1_048_576·k points; the FIXED corner window's pruned read should stay
      * ~flat (reads only the window's row groups + footers) while the full
      * scan grows ~linearly — the measured form of the 100-TB claim. */
    def statsPruneSlope(factor: Int): Unit = {
      val n = 1048576L * factor
      val side = math.max(1L, math.round(math.sqrt(n.toDouble)))
      val dir = s"$base/gpq2m_x$factor" // 2m = 2 MB row groups; layout version keys the cache
      if (!new java.io.File(s"$dir/_DONE").exists()) {
        val pts = spark.sql(
          s"""SELECT CAST(id AS BIGINT) AS fid,
                     ST_Point(CAST(id % $side AS DOUBLE), CAST(CAST(id / $side AS INT) AS DOUBLE)) AS geometry
              FROM range($n)""")
        // hold ROW-GROUP size constant as data grows (production: ~100 MB
        // groups, growing FILE COUNT) — without this, bigger factors write
        // single giant row groups and granularity, not the reader, degrades
        val hc = spark.sparkContext.hadoopConfiguration
        val prev = hc.get("parquet.block.size")
        hc.setInt("parquet.block.size", 2 << 20)
        try graft.sources.GeoParquet.write(
          graft.sources.GeoParquet.spatialSort(pts, numPartitions = 8), s"$dir/data",
          covering = false, encoding = "point")
        finally { if (prev == null) hc.unset("parquet.block.size") else hc.set("parquet.block.size", prev) }
        new java.io.File(s"$dir/_DONE").createNewFile()
      }
      // fixed 8×8 window in the grid's corner regardless of extent
      val pruned = best(graft.sources.GeoParquet.read(spark, s"$dir/data",
        bbox = Some((10.5, 20.5, 18.5, 28.5))))
      val full = best(graft.sources.GeoParquet.read(spark, s"$dir/data"))
      val line = f"""{"family":"gp_stats_prune","factor":$factor,"sec":$pruned%.2f,"full_sec":$full%.2f}"""
      println(line); out ++= line += '\n'
    }

    /** Geodesic (meters-metric) kNN join slope — the g87 adaptive
      * radius-doubling operator: both sides grow k× over a FIXED
      * lat-40..70 extent, so per-probe density (and r0) track the data and
      * the candidate count per left row stays ~k. Sub-linear wall growth
      * is the measured form of "the conservative meters→degrees pads don't
      * blow up candidates at high latitude". */
    def geoKnnSlope(factor: Int): Unit = {
      val nl = 10000L * factor
      val nr = 30000L * factor
      def pts(n: Long, salt: Int, idCol: String, geomCol: String) = spark.sql(
        s"""SELECT CAST(id AS BIGINT) AS $idCol,
                   ST_Point(CAST((id * 2654435761 + $salt * 999331) % 6000000 AS DOUBLE) / 100000.0 - 30.0,
                            40.0 + CAST((id * 40503 + $salt * 7919) % 3000000 AS DOUBLE) / 100000.0)
                     AS $geomCol
            FROM range($n)""")
      val sec = best(graft.operators.SpatialJoin.knn(
        pts(nl, 1, "lid", "lg"), pts(nr, 2, "rid", "rg"),
        "lg", "rg", 4, "lid", "rid", metric = "sphere"))
      val line = f"""{"family":"geo_knn_sphere","factor":$factor,"sec":$sec%.2f}"""
      println(line); out ++= line += '\n'
    }

    /** Geodesic dWithin grid-join slope — the g84 planner family over a
      * SPHERICAL-stamped GeoParquet table: the probe side grows k× against
      * a fixed 50k right side (the g33 convention — growing both sides
      * densifies cells, a density change, not a volume change). Broadcast
      * is disabled so the slope pins the GRID exec, the 100 TB path. */
    def geoDWithinSlope(factor: Int): Unit = {
      val nl = 100000L * factor
      val dir = s"$base/geodw_x$factor"
      if (!new java.io.File(s"$dir/_DONE").exists()) {
        val l = spark.sql(s"""
          SELECT CAST(id AS BIGINT) AS lid,
                 ST_Point(CAST((id * 2654435761) % 6000000 AS DOUBLE) / 100000.0 - 30.0,
                          40.0 + CAST((id * 40503) % 3000000 AS DOUBLE) / 100000.0) AS geometry
          FROM range($nl)""")
        graft.sources.GeoParquet.write(l, s"$dir/data", edges = Some("spherical"))
        new java.io.File(s"$dir/_DONE").createNewFile()
      }
      graft.sources.GeoParquet.read(spark, s"$dir/data")
        .createOrReplaceTempView("geodw_l")
      spark.sql("""
        SELECT CAST(id AS BIGINT) AS rid,
               ST_Point(CAST((id * 48271 + 7) % 6000000 AS DOUBLE) / 100000.0 - 30.0,
                        40.0 + CAST((id * 69621 + 11) % 3000000 AS DOUBLE) / 100000.0) AS rg
        FROM range(50000)""").createOrReplaceTempView("geodw_r")
      val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val q = spark.sql(
          "SELECT l.lid, r.rid FROM geodw_l l JOIN geodw_r r ON ST_DWithin(l.geometry, r.rg, 2000.0)")
        require(q.queryExecution.executedPlan.toString.contains("GridSpatialJoin"),
          "geo_dwithin_sphere must plan the grid exec")
        val sec = best(q)
        val line = f"""{"family":"geo_dwithin_sphere","factor":$factor,"sec":$sec%.2f}"""
        println(line); out ++= line += '\n'
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }

    factors.foreach { factor =>
      // the gp_stats_prune family writes its own fixture; only materialize
      // the blown-up table set when a table-driven family is requested
      lazy val dir = gen(factor)
      families.foreach { fam =>
        if (fam == "gp_stats_prune") statsPruneSlope(factor)
        else if (fam == "geo_knn_sphere") geoKnnSlope(factor)
        else if (fam == "geo_dwithin_sphere") geoDWithinSlope(factor)
        else {
          val sec = best(SparkEntry.queries(fam)(spark, dir))
          val line = f"""{"family":"$fam","factor":$factor,"sec":$sec%.2f}"""
          println(line); out ++= line += '\n'
        }
      }
    }
    spark.stop()
    println("SCALE_SLOPE_DONE")
    print(out)
  }
}
