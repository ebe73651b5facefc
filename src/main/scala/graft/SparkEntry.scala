package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.GeoFunctions

/** Driver contract — queries + DuckDB-oracle SQL (see SURVEY.md §7).
  *
  * Every query is written so its result is bit-deterministic across engines:
  *  - money sums go through DECIMAL(18,6) (exact, tie-free rounding)
  *  - integral measures aggregate as BIGINT
  *  - irrational outputs (distances, mercator y) are ROUND()ed with the
  *    rounding margin chosen against the cross-engine libm error (~1 ulp)
  *  - every result has a total ORDER BY
  * DuckDB has no spatial extension in this environment, so geometry oracles
  * are closed-form math over the same synthesized coordinates.
  */
object SparkEntry {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // one views() registration per (session, dir) — ~10 parquet footer reads
  // otherwise repeat on every query
  private val viewsDone =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Boolean]()

  /** `s` with graft's SQL surface installed: the one place the catalogue
    * registers a session. Every query runs through it, so a body never
    * registers, and a session that already has the surface pays only name
    * lookups. */
  private def withSurface(s: SparkSession): SparkSession = {
    GeoFunctions.register(s)
    s
  }

  private def views(s: SparkSession, dir: String): Unit = {
    if (viewsDone.containsKey((s, dir))) return
    tables.foreach { n =>
      if (n == "events") {
        val raw = readNanosAsLong(s, s"$dir/$n.parquet")
        val tsExpr = raw.schema("ts").dataType match {
          // TIMESTAMP(NANOS) parquet surfaced as a long: integer DIV, not
          // `/` — float division of ~1.7e18 ns loses sub-µs precision
          // (double ulp ≈ 256 ns there), which would skew exact microsecond
          // lags (a01) vs DuckDB's integral ns→µs truncation
          case org.apache.spark.sql.types.LongType =>
            "timestamp_micros(ts DIV 1000) AS ts"
          // native timestamp[us] parquet (NTZ or instant): normalize to
          // TimestampType — under the UTC session both carry the identical
          // microsecond value, and downstream window()/date_format()/
          // unix_micros() keep their pinned-oracle semantics
          case _ => "CAST(ts AS TIMESTAMP) AS ts"
        }
        raw.selectExpr("event_id", tsExpr,
          "user_id", "event_type", "value", "props").createOrReplaceTempView(n)
      } else s.read.parquet(s"$dir/$n.parquet").createOrReplaceTempView(n)
    }
    // mark AFTER success — a throw above (bad path, schema drift) must not
    // poison the cache and surface as "table not found" on the next query
    viewsDone.put((s, dir), java.lang.Boolean.TRUE)
  }

  /** Read a parquet file whose timestamps are TIMESTAMP(NANOS) — which
    * Spark's reader rejects by default — with nanos exposed as plain longs.
    * The `nanosAsLong` legacy conf is needed only while the schema is
    * INFERRED (it turns the nanos column into LongType); re-reading with
    * that schema made explicit needs no conf at execution time, so the
    * session conf is restored immediately — a user session that later reads
    * other nanos parquet keeps Spark's default strictness. */
  private def readNanosAsLong(s: SparkSession, path: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    val schema =
      try s.read.parquet(path).schema
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    s.read.schema(schema).parquet(path)
  }

  // ── streaming harness (shared by the s-suite) ─────────────────────────

  /** Stage each DataFrame as ONE parquet file under `tmp`/src with strictly
    * increasing mtimes — the s-suite's deterministic micro-batch script
    * (with maxFilesPerTrigger=1 each staged file becomes its own batch, in
    * mtime order). Returns the source directory path. */
  private def stageBatches(tmp: String, dfs: Seq[DataFrame]): String = {
    val src = new java.io.File(tmp, "src"); src.mkdirs()
    dfs.zipWithIndex.foreach { case (df, i) =>
      val stage = new java.io.File(tmp, s"stage$i")
      df.coalesce(1).write.parquet(stage.getPath)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(src, s"f$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L) // strict batch order
    }
    src.getPath
  }

  /** JSON progress of the last completed [[runStream]] query — spec hook
    * (StreamingStateSpec asserts the RocksDB provider actually ran). */
  @volatile private[graft] var lastStreamProgress: String = ""

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
  }

  /** Run a streaming pipeline built by `build(session, tmpDir)` through an
    * in-memory sink to completion and return the sink table.
    *
    * Isolation and hygiene (round-10 advice): the pipeline runs on a
    * FORKED session (`SparkSession.newSession` — same SparkContext, own
    * SQLConf/catalog), so the per-query conf below never touches the
    * caller's session (the old global set/restore flip was racy under
    * concurrent query execution), and the staging + checkpoint temp dir is
    * deleted once the query terminates (repeated verify/bench sweeps used
    * to leak disk). Per-query conf:
    *  - shuffle partitions 4: the state store shards per shuffle partition
    *    per micro-batch, so at 32 session partitions a 200-row fixture
    *    stream pays ~100 empty state-store tasks; the count binds to the
    *    fresh checkpoint at first batch, so the narrowing is local here.
    *  - RocksDB state-store provider: at 100-TB key cardinality (s03 dedup
    *    keys, s08 band keys) the default HDFS-backed IN-HEAP store is the
    *    first streaming scale-killer — state must live off-heap and spill;
    *    the s-suite therefore runs the provider a production cluster would,
    *    not just the toy default. */
  private def runStream(parent: SparkSession, prefix: String)(
      build: (SparkSession, String) => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    val sess = withSurface(parent.newSession())
    sess.conf.set("spark.sql.shuffle.partitions", "4")
    sess.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Changelog checkpointing (round 20, guide §1.2-3): the default RocksDB
    // commit synchronously snapshots the full store (zip + fsync of every
    // SST) on EVERY micro-batch — at 100-TB state that upload is the
    // streaming commit-latency killer, which is exactly why it's the
    // production-recommended setting; locally it's also the dominant
    // fixed cost of the s-suite's 4-6-batch scripts (profiled ~170 ms/task,
    // nearly all store lifecycle). With changelog mode a commit appends the
    // batch's delta only; snapshots move to the background maintenance
    // thread. Results are identical — only the checkpoint wire format
    // changes.
    sess.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    val qname = prefix + "_" + java.util.UUID.randomUUID().toString.take(8).replace("-", "")
    try {
      val q = build(sess, tmp).writeStream.format("memory").queryName(qname)
        .option("checkpointLocation", tmp + "/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      lastStreamProgress = Option(q.lastProgress).map(_.json).getOrElse("")
    } finally {
      // The providers loaded by this query bind to the throwaway checkpoint
      // below and can never be reused; left loaded they accumulate across
      // bench reps / verify sweeps (native RocksDB handles included) and the
      // maintenance thread churns on their deleted directories. Unload
      // before the delete. (A concurrently-running stream elsewhere just
      // reloads its provider from its checkpoint on the next batch — the
      // executor-loss path — so the global unload is safe.)
      // (unloadAll is private[sql] at the Scala level but public in
      // bytecode; reflection keeps graft out of Spark's package namespace)
      try {
        val ss = Class.forName("org.apache.spark.sql.execution.streaming.state.StateStore$")
        ss.getMethod("unloadAll").invoke(ss.getField("MODULE$").get(null))
      } catch { case _: ReflectiveOperationException => /* hygiene only */ }
      deleteRecursively(new java.io.File(tmp))
    }
    sess.table(qname)
  }

  /** {{P}} in query text becomes the session default parallelism — used in
    * REPARTITION hints on compute-bound per-row kernels. The driver's
    * single-file testdata parquet arrives as ONE scan partition (one row
    * group), which would pin JTS/md5-heavy projections to a single core. */
  private def q(sqlText: String): (SparkSession, String) => DataFrame =
    (s, dir) => { views(s, dir)
      s.sql(sqlText.replace("{{P}}", s.sparkContext.defaultParallelism.toString)) }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The SURVEY.md §7 "minimum end-to-end slice": spatial filter → measure →
    * aggregate, over a real table. */
  def entry(spark: SparkSession): DataFrame = {
    withSurface(spark)
    views(spark, "/root/testdata/sf0.001")
    spark.sql("""
      SELECT l_returnflag,
             COUNT(*) AS n,
             ROUND(MIN(ST_X(pt)), 6) AS min_x,
             ROUND(MAX(ST_Distance(pt, ST_Point(0, 0))), 6) AS max_d
      FROM (SELECT l_returnflag,
                   ST_Point(CAST(l_partkey % 100 AS DOUBLE),
                            CAST(l_suppkey % 100 AS DOUBLE)) AS pt
            FROM lineitem)
      WHERE ST_Contains(ST_GeomFromText('POLYGON((-1 -1, 120 -1, 120 120, -1 120, -1 -1))'), pt)
      GROUP BY l_returnflag ORDER BY l_returnflag
    """)
  }

  // ── relational floor (Spark built-ins; SURVEY.md §2.8) ────────────────

  private val q01Spark = """
    SELECT l_returnflag, l_linestatus,
           SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
                          (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  private val q01Duck = """
    SELECT l_returnflag, l_linestatus,
           SUM(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty,
           ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2)::DOUBLE AS sum_base_price,
           ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
                     (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2)::DOUBLE AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  private val q02Spark = """
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
                          (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
           COUNT(DISTINCT o_orderkey) AS orders
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name"""

  private val q02Duck = """
    SELECT n_name,
           ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
                     (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2)::DOUBLE AS revenue,
           COUNT(DISTINCT o_orderkey)::BIGINT AS orders
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name"""

  private val q03Spark = """
    SELECT o_custkey, o_orderkey, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders) t
    WHERE rnk <= 3 ORDER BY o_custkey, rnk"""

  private val q03Duck = """
    SELECT o_custkey, o_orderkey, rnk::BIGINT AS rnk FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders) t
    WHERE rnk <= 3 ORDER BY o_custkey, rnk"""

  private val q04Spark = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  private val q04Duck = """
    SELECT o_orderpriority, COUNT(*)::BIGINT AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  private val q05Spark = """
    SELECT p_brand,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt,
           SUM(CAST(l_quantity AS BIGINT)) AS sum_qty
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY p_brand ORDER BY p_brand"""

  private val q05Duck = """
    SELECT p_brand,
           COUNT(DISTINCT l_suppkey)::BIGINT AS supplier_cnt,
           SUM(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY p_brand ORDER BY p_brand"""

  // ── geometry kernels over synthesized coordinates ─────────────────────
  // (oracle = closed-form math; DuckDB spatial is unavailable by design)

  /** Windowed revenue leaderboard (q08): top-3 customers per nation by
    * exact decimal revenue, with rank and a running within-nation total —
    * the stacked-window OLAP shape (q03 covers per-group top-k, this adds
    * the cumulative frame + a second ordering key). All money stays
    * DECIMAL(18,2) end-to-end (sums and running sums are exact, no FP
    * order sensitivity); the single shuffle is the nation-keyed window.
    * Cast to DOUBLE only at the surface, after ROUND. */
  private val q08Spark = """
    WITH rev AS (SELECT c.c_nationkey, c.c_custkey,
                        COUNT(o.o_orderkey) AS n_orders,
                        SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
                 FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
                 GROUP BY c.c_nationkey, c.c_custkey),
    ranked AS (SELECT c_nationkey, c_custkey, n_orders, revenue,
                      ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                         ORDER BY revenue DESC, c_custkey) AS rnk,
                      SUM(revenue) OVER (PARTITION BY c_nationkey
                                         ORDER BY revenue DESC, c_custkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
               FROM rev)
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey, CAST(rnk AS BIGINT) AS rnk,
           c_custkey AS custkey, n_orders,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(running AS DOUBLE) AS running_revenue
    FROM ranked WHERE rnk <= 3 ORDER BY nationkey, rnk"""

  private val q08Duck = """
    WITH rev AS (SELECT c.c_nationkey, c.c_custkey,
                        COUNT(o.o_orderkey) AS n_orders,
                        SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
                 FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
                 GROUP BY c.c_nationkey, c.c_custkey),
    ranked AS (SELECT c_nationkey, c_custkey, n_orders, revenue,
                      ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                         ORDER BY revenue DESC, c_custkey) AS rnk,
                      SUM(revenue) OVER (PARTITION BY c_nationkey
                                         ORDER BY revenue DESC, c_custkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
               FROM rev)
    SELECT c_nationkey::BIGINT AS nationkey, rnk::BIGINT AS rnk,
           c_custkey::BIGINT AS custkey, n_orders::BIGINT AS n_orders,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(running AS DOUBLE) AS running_revenue
    FROM ranked WHERE rnk <= 3 ORDER BY nationkey, rnk"""

  /** Multi-dimensional revenue report (q09): GROUPING SETS over
    * (nation), (segment), (nation, segment) and the grand total in ONE
    * aggregation pass — Spark expands the sets into a single
    * Expand+HashAggregate (one shuffle carrying every grouping
    * combination), vs four separate scans+shuffles for the UNION ALL
    * formulation. q06 covers ROLLUP; this covers the general set lattice
    * + GROUPING() disambiguation of real NULLs vs subtotal NULLs. Money
    * stays DECIMAL(18,2) to the surface. */
  private val q09Spark = """
    SELECT COALESCE(CAST(c.c_nationkey AS STRING), 'ALL') AS nation,
           COALESCE(c.c_mktsegment, 'ALL') AS segment,
           CAST(GROUPING(c.c_nationkey) * 2 + GROUPING(c.c_mktsegment) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY GROUPING SETS ((c.c_nationkey), (c.c_mktsegment),
                            (c.c_nationkey, c.c_mktsegment), ())
    ORDER BY gid, nation, segment"""

  private val q09Duck = """
    SELECT COALESCE(CAST(c.c_nationkey AS VARCHAR), 'ALL') AS nation,
           COALESCE(c.c_mktsegment, 'ALL') AS segment,
           (GROUPING(c.c_nationkey) * 2 + GROUPING(c.c_mktsegment))::BIGINT AS gid,
           COUNT(*)::BIGINT AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY GROUPING SETS ((c.c_nationkey), (c.c_mktsegment),
                            (c.c_nationkey, c.c_mktsegment), ())
    ORDER BY gid, nation, segment"""

  private val g01Spark = """
    SELECT l_returnflag, COUNT(*) AS n,
           ROUND(MIN(d), 6) AS min_d, ROUND(MAX(d), 6) AS max_d,
           ROUND(AVG(d), 6) AS avg_d
    FROM (SELECT /*+ REPARTITION({{P}}) */ l_returnflag,
                 ST_Distance(ST_Point(CAST(l_partkey % 100 AS DOUBLE),
                                      CAST(l_suppkey % 100 AS DOUBLE)),
                             ST_Point(50.0, 50.0)) AS d
          FROM lineitem) t
    GROUP BY l_returnflag ORDER BY l_returnflag"""

  private val g01Duck = """
    SELECT l_returnflag, COUNT(*)::BIGINT AS n,
           ROUND(MIN(d), 6) AS min_d, ROUND(MAX(d), 6) AS max_d,
           ROUND(AVG(d), 6) AS avg_d
    FROM (SELECT l_returnflag,
                 sqrt((CAST(l_partkey % 100 AS DOUBLE) - 50.0) * (CAST(l_partkey % 100 AS DOUBLE) - 50.0)
                    + (CAST(l_suppkey % 100 AS DOUBLE) - 50.0) * (CAST(l_suppkey % 100 AS DOUBLE) - 50.0)) AS d
          FROM lineitem) t
    GROUP BY l_returnflag ORDER BY l_returnflag"""

  private val g02Spark = """
    SELECT p_brand,
           SUM(CAST(ST_Area(ST_MakeEnvelope(0.0, 0.0,
                 CAST(p_size AS DOUBLE), CAST(p_size + 3 AS DOUBLE))) AS BIGINT)) AS area_sum,
           COUNT(*) AS n
    FROM part GROUP BY p_brand ORDER BY p_brand"""

  private val g02Duck = """
    SELECT p_brand,
           SUM(CAST(p_size * (p_size + 3) AS BIGINT))::BIGINT AS area_sum,
           COUNT(*)::BIGINT AS n
    FROM part GROUP BY p_brand ORDER BY p_brand"""

  private val g03Spark = """
    SELECT /*+ BROADCAST(zones) */ n_name, COUNT(*) AS n
    FROM (SELECT CAST(c_custkey % 100 AS DOUBLE) AS px,
                 CAST((c_custkey * 7) % 100 AS DOUBLE) AS py
          FROM customer) pts
    JOIN (SELECT n_name,
                 (n_nationkey % 5) * 20.0 AS zxmin,
                 FLOOR(n_nationkey / 5) * 20.0 AS zymin
          FROM nation) zones
      ON ST_Covers(ST_MakeEnvelope(zxmin, zymin, zxmin + 20.0, zymin + 20.0),
                   ST_Point(px, py))
    GROUP BY n_name ORDER BY n_name"""

  private val g03Duck = """
    SELECT n_name, COUNT(*)::BIGINT AS n
    FROM (SELECT CAST(c_custkey % 100 AS DOUBLE) AS px,
                 CAST((c_custkey * 7) % 100 AS DOUBLE) AS py
          FROM customer) pts
    JOIN (SELECT n_name,
                 (n_nationkey % 5) * 20.0 AS zxmin,
                 FLOOR(n_nationkey / 5) * 20.0 AS zymin
          FROM nation) zones
      ON px >= zxmin AND px <= zxmin + 20.0 AND py >= zymin AND py <= zymin + 20.0
    GROUP BY n_name ORDER BY n_name"""

  private val q06Spark = """
    SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    ORDER BY region, nation"""

  private val q06Duck = """
    SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
           ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2)::DOUBLE AS total,
           COUNT(*)::BIGINT AS n
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    ORDER BY region, nation"""

  private val q07Spark = """
    SELECT date_format(window.start, 'yyyy-MM-dd HH:mm') AS hour_start, event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
    FROM (SELECT window(ts, '1 hour') AS window, event_type, value FROM events) t
    GROUP BY window, event_type
    ORDER BY hour_start, event_type
    LIMIT 500"""

  private val q07Duck = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start, event_type,
           COUNT(*)::BIGINT AS n,
           ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4)::DOUBLE AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour_start, event_type
    LIMIT 500"""

  /** Cumulative distinct reach (q24): daily active users PLUS the running
    * count of distinct users ever seen — the growth-dashboard curve. A
    * naive cumulative COUNT(DISTINCT) re-scans all history per day; the
    * scalable form is the FIRST-OCCURRENCE trick: each user contributes to
    * exactly one day (their min day), so cumulative reach = running sum of
    * per-day first-occurrence counts — one user-keyed aggregate + a
    * handful-of-rows window, history never re-scanned. */
  private val q24Spark = """
    WITH f AS (SELECT user_id, MIN(date_format(ts, 'yyyy-MM-dd')) AS first_day
               FROM events GROUP BY user_id),
    days AS (SELECT date_format(ts, 'yyyy-MM-dd') AS day,
                    COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS dau
             FROM events GROUP BY 1),
    nf AS (SELECT first_day AS day, COUNT(*) AS n_new FROM f GROUP BY 1)
    SELECT d.day, d.n_events, d.dau, COALESCE(nf.n_new, 0) AS n_new,
           SUM(COALESCE(nf.n_new, 0)) OVER (ORDER BY d.day) AS cumulative_reach
    FROM days d LEFT JOIN nf ON nf.day = d.day
    ORDER BY d.day"""

  private val q24Duck = """
    WITH f AS (SELECT user_id, MIN(strftime(date_trunc('day', ts), '%Y-%m-%d')) AS first_day
               FROM events GROUP BY user_id),
    days AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                    COUNT(*)::BIGINT AS n_events, COUNT(DISTINCT user_id)::BIGINT AS dau
             FROM events GROUP BY 1),
    nf AS (SELECT first_day AS day, COUNT(*) AS n_new FROM f GROUP BY 1)
    SELECT d.day, d.n_events, d.dau, COALESCE(nf.n_new, 0)::BIGINT AS n_new,
           SUM(COALESCE(nf.n_new, 0)) OVER (ORDER BY d.day)::BIGINT AS cumulative_reach
    FROM days d LEFT JOIN nf ON nf.day = d.day
    ORDER BY d.day"""

  private val g04Spark = """
    SELECT CAST(1 + s_suppkey % 3 AS DOUBLE) AS r, COUNT(*) AS n,
           ROUND(MIN(a), 6) AS buf_area
    FROM (SELECT s_suppkey,
                 ST_Area(ST_Buffer(ST_Point(CAST(s_suppkey AS DOUBLE), 0.0),
                                   CAST(1 + s_suppkey % 3 AS DOUBLE))) AS a
          FROM supplier) t
    GROUP BY 1 ORDER BY r"""

  private val g04Duck = """
    SELECT CAST(1 + s_suppkey % 3 AS DOUBLE) AS r, COUNT(*)::BIGINT AS n,
           ROUND(MIN(0.5 * 32 * (1 + s_suppkey % 3) * (1 + s_suppkey % 3)
                     * sin(2 * pi() / 32)), 6) AS buf_area
    FROM supplier
    GROUP BY 1 ORDER BY r"""

  private val g05Spark = """
    SELECT o_orderpriority,
           SUM(CAST(2 * ST_X(c) AS BIGINT)) AS sum_2cx,
           SUM(CAST(2 * ST_Y(c) AS BIGINT)) AS sum_2cy,
           COUNT(*) AS n
    FROM (SELECT /*+ REPARTITION({{P}}) */ o_orderpriority,
                 ST_Centroid(ST_MakeEnvelope(
                   CAST(o_orderkey % 50 AS DOUBLE), CAST(o_orderkey % 30 AS DOUBLE),
                   CAST(o_orderkey % 50 + 1 + o_orderkey % 7 AS DOUBLE),
                   CAST(o_orderkey % 30 + 2 + o_orderkey % 5 AS DOUBLE))) AS c
          FROM orders) t
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  private val g05Duck = """
    SELECT o_orderpriority,
           SUM(CAST(2 * (o_orderkey % 50) + 1 + o_orderkey % 7 AS BIGINT))::BIGINT AS sum_2cx,
           SUM(CAST(2 * (o_orderkey % 30) + 2 + o_orderkey % 5 AS BIGINT))::BIGINT AS sum_2cy,
           COUNT(*)::BIGINT AS n
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  private val g06Spark = """
    SELECT c_mktsegment,
           MIN(ST_XMin(pt)) AS xmin, MIN(ST_YMin(pt)) AS ymin,
           MAX(ST_XMax(pt)) AS xmax, MAX(ST_YMax(pt)) AS ymax,
           COUNT(*) AS n
    FROM (SELECT c_mktsegment,
                 ST_Point(CAST(c_custkey % 97 AS DOUBLE),
                          CAST((c_custkey * 13) % 89 AS DOUBLE)) AS pt
          FROM customer) t
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  private val g06Duck = """
    SELECT c_mktsegment,
           MIN(CAST(c_custkey % 97 AS DOUBLE)) AS xmin,
           MIN(CAST((c_custkey * 13) % 89 AS DOUBLE)) AS ymin,
           MAX(CAST(c_custkey % 97 AS DOUBLE)) AS xmax,
           MAX(CAST((c_custkey * 13) % 89 AS DOUBLE)) AS ymax,
           COUNT(*)::BIGINT AS n
    FROM customer
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  private val g07Spark = """
    SELECT o_orderstatus, COUNT(*) AS n,
           ROUND(MIN(len), 6) AS min_len, ROUND(MAX(len), 6) AS max_len,
           ROUND(AVG(len), 6) AS avg_len
    FROM (SELECT /*+ REPARTITION({{P}}) */ o_orderstatus,
                 ST_Length(ST_MakeLine(
                   ST_Point(CAST(o_orderkey % 61 AS DOUBLE), CAST(o_orderkey % 53 AS DOUBLE)),
                   ST_Point(CAST(o_custkey % 47 AS DOUBLE), CAST(o_custkey % 43 AS DOUBLE)))) AS len
          FROM orders) t
    GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  private val g07Duck = """
    SELECT o_orderstatus, COUNT(*)::BIGINT AS n,
           ROUND(MIN(len), 6) AS min_len, ROUND(MAX(len), 6) AS max_len,
           ROUND(AVG(len), 6) AS avg_len
    FROM (SELECT o_orderstatus,
                 sqrt((CAST(o_custkey % 47 AS DOUBLE) - CAST(o_orderkey % 61 AS DOUBLE))
                    * (CAST(o_custkey % 47 AS DOUBLE) - CAST(o_orderkey % 61 AS DOUBLE))
                    + (CAST(o_custkey % 43 AS DOUBLE) - CAST(o_orderkey % 53 AS DOUBLE))
                    * (CAST(o_custkey % 43 AS DOUBLE) - CAST(o_orderkey % 53 AS DOUBLE))) AS len
          FROM orders) t
    GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  private val g08Spark = """
    SELECT p_brand,
           SUM(CAST(2 * ST_Area(ST_ConvexHull(ST_Collect(ARRAY(
             ST_Point(0.0, 0.0),
             ST_Point(CAST(p_size AS DOUBLE), 0.0),
             ST_Point(0.0, CAST(p_size + 2 AS DOUBLE)))))) AS BIGINT)) AS sum_2area,
           COUNT(*) AS n
    FROM part GROUP BY p_brand ORDER BY p_brand"""

  private val g08Duck = """
    SELECT p_brand,
           SUM(CAST(p_size * (p_size + 2) AS BIGINT))::BIGINT AS sum_2area,
           COUNT(*)::BIGINT AS n
    FROM part GROUP BY p_brand ORDER BY p_brand"""

  private val g09Spark = """
    SELECT c_custkey, ST_AsText(ST_Point(CAST(c_custkey % 50 AS DOUBLE),
                                         CAST((c_custkey * 3) % 40 AS DOUBLE))) AS wkt
    FROM customer WHERE c_custkey < 50 ORDER BY c_custkey"""

  private val g09Duck = """
    SELECT c_custkey, 'POINT (' || (c_custkey % 50) || ' ' || ((c_custkey * 3) % 40) || ')' AS wkt
    FROM customer WHERE c_custkey < 50 ORDER BY c_custkey"""

  private val g10Spark = """
    SELECT c_nationkey,
           ROUND(MIN(ST_X(m)), 3) + 0.0 AS min_merc_x,
           ROUND(MIN(ST_Y(m)), 3) + 0.0 AS merc_y,
           COUNT(*) AS n
    FROM (SELECT c_nationkey,
                 ST_Transform(ST_Point(CAST(c_custkey % 360 - 180 AS DOUBLE),
                                       CAST(c_nationkey - 12 AS DOUBLE)),
                              4326, 3857) AS m
          FROM customer) t
    GROUP BY c_nationkey ORDER BY c_nationkey"""

  private val g10Duck = """
    SELECT c_nationkey,
           ROUND(MIN(CAST(c_custkey % 360 - 180 AS DOUBLE) / 180.0 * (pi() * 6378137.0)), 3) + 0.0 AS min_merc_x,
           ROUND(MIN(ln(tan((90.0 + CAST(c_nationkey - 12 AS DOUBLE)) * pi() / 360.0)) * 6378137.0), 3) + 0.0 AS merc_y,
           COUNT(*)::BIGINT AS n
    FROM customer
    GROUP BY c_nationkey ORDER BY c_nationkey"""

  private val g11Spark = """
    SELECT o_orderpriority, COUNT(*) AS n_parts, SUM(CAST(ST_X(part) AS BIGINT)) AS sum_x
    FROM (SELECT /*+ REPARTITION({{P}}) */ o_orderpriority, explode(ST_Dump(ST_GeomFromText(
            CASE CAST(o_orderkey % 3 AS INT)
              WHEN 0 THEN CONCAT('MULTIPOINT ((', CAST(o_orderkey % 100 AS STRING), ' 0))')
              WHEN 1 THEN CONCAT('MULTIPOINT ((', CAST(o_orderkey % 100 AS STRING), ' 0), (',
                                 CAST(o_orderkey % 100 AS STRING), ' 1))')
              ELSE CONCAT('MULTIPOINT ((', CAST(o_orderkey % 100 AS STRING), ' 0), (',
                          CAST(o_orderkey % 100 AS STRING), ' 1), (',
                          CAST(o_orderkey % 100 AS STRING), ' 2))')
            END))) AS part
          FROM orders) t
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  private val g11Duck = """
    SELECT o_orderpriority,
           SUM(1 + o_orderkey % 3)::BIGINT AS n_parts,
           SUM((1 + o_orderkey % 3) * (o_orderkey % 100))::BIGINT AS sum_x
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  private val g12Spark = """
    SELECT CAST(l_linenumber % 2 AS INT) AS parity, COUNT(*) AS n,
           MIN(CAST(ST_NPoints(ST_Simplify(ST_GeomFromText(CONCAT(
             'LINESTRING (0 0, 1 ',
             CASE WHEN l_linenumber % 2 = 1 THEN '0.001' ELSE '0' END,
             ', 2 0)')), 0.0001)) AS BIGINT)) AS npoints
    FROM (SELECT /*+ REPARTITION({{P}}) */ l_linenumber FROM lineitem) li GROUP BY 1 ORDER BY parity"""

  private val g12Duck = """
    SELECT CAST(l_linenumber % 2 AS INT) AS parity, COUNT(*)::BIGINT AS n,
           MIN(CASE WHEN l_linenumber % 2 = 1 THEN 3 ELSE 2 END)::BIGINT AS npoints
    FROM lineitem GROUP BY 1 ORDER BY parity"""

  private val g13Spark = """
    SELECT o_orderstatus,
           SUM(CAST(ST_Area(ST_Intersection(a, b)) AS BIGINT)) AS inter_area,
           SUM(CAST(ST_Area(ST_Union(a, b)) AS BIGINT)) AS union_area,
           SUM(CAST(ST_Area(ST_Difference(a, b)) AS BIGINT)) AS diff_area,
           SUM(CAST(ST_Area(ST_SymDifference(a, b)) AS BIGINT)) AS symdiff_area
    FROM (SELECT /*+ REPARTITION({{P}}) */ o_orderstatus,
                 ST_MakeEnvelope(0.0, 0.0, CAST(10 + o_orderkey % 10 AS DOUBLE), 10.0) AS a,
                 ST_MakeEnvelope(CAST(5 + o_custkey % 10 AS DOUBLE), 0.0, 30.0, 10.0) AS b
          FROM orders) t
    GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  private val g13Duck = """
    SELECT o_orderstatus,
           SUM(CAST(GREATEST(0, (10 + o_orderkey % 10) - (5 + o_custkey % 10)) * 10 AS BIGINT))::BIGINT AS inter_area,
           SUM(CAST(((10 + o_orderkey % 10) * 10 + (30 - (5 + o_custkey % 10)) * 10
                     - GREATEST(0, (10 + o_orderkey % 10) - (5 + o_custkey % 10)) * 10) AS BIGINT))::BIGINT AS union_area,
           SUM(CAST(((10 + o_orderkey % 10) * 10
                     - GREATEST(0, (10 + o_orderkey % 10) - (5 + o_custkey % 10)) * 10) AS BIGINT))::BIGINT AS diff_area,
           SUM(CAST(((10 + o_orderkey % 10) * 10 + (30 - (5 + o_custkey % 10)) * 10
                     - 2 * GREATEST(0, (10 + o_orderkey % 10) - (5 + o_custkey % 10)) * 10) AS BIGINT))::BIGINT AS symdiff_area
    FROM orders
    GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  // aggregate union with dedup-first: identical tiles collapse in a cheap
  // hash aggregate BEFORE the expensive geometric union (union is
  // idempotent), so JTS unions 20 tiles per group instead of 30k boxes.
  private val g14Spark = """
    SELECT o_orderpriority,
           CAST(ST_Area(ST_Union(ST_Collect(collect_list(
             ST_MakeEnvelope(CAST(tile * 10 AS DOUBLE), 0.0,
                             CAST(tile * 10 + 10 AS DOUBLE), 10.0))))) AS BIGINT) AS union_area,
           SUM(cnt) AS n
    FROM (SELECT o_orderpriority, o_orderkey % 20 AS tile, COUNT(*) AS cnt
          FROM orders GROUP BY 1, 2) p
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  private val g14Duck = """
    SELECT o_orderpriority,
           (COUNT(DISTINCT o_orderkey % 20) * 100)::BIGINT AS union_area,
           COUNT(*)::BIGINT AS n
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Spatial join written as a PLAIN SQL θ-join — the planner strategy
    * (graft.plans.SpatialJoinStrategy, registered by GeoFunctions.register)
    * rewrites it to SpatialJoinExec: zones broadcast once, one STRtree per
    * task, UnsafeRow output. Spark's own plan for this query is a
    * BroadcastNestedLoopJoin — 12B predicate evaluations at sf0.1; the
    * STRtree probes ~log(20k) per point. The explicit operator API
    * (graft.operators.SpatialJoin) remains for grid big×big joins. */
  private def g15Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(s"""
      SELECT p_brand, COUNT(*) AS n
      FROM (SELECT /*+ REPARTITION(${s.sparkContext.defaultParallelism}) */
                   ST_Point(CAST(l_partkey % 1000 AS DOUBLE),
                            CAST((l_orderkey * 7) % 1000 AS DOUBLE)) AS pt
            FROM lineitem) pts
      JOIN (SELECT p_brand,
                   ST_MakeEnvelope(CAST((p_partkey * 13) % 950 AS DOUBLE),
                                   CAST((p_partkey * 29) % 950 AS DOUBLE),
                                   CAST((p_partkey * 13) % 950 + 50 AS DOUBLE),
                                   CAST((p_partkey * 29) % 950 + 50 AS DOUBLE)) AS zone
            FROM part) zones
        ON ST_Covers(zone, pt)
      GROUP BY p_brand ORDER BY p_brand""")
  }

  private val g15Duck = """
    SELECT p_brand, COUNT(*)::BIGINT AS n
    FROM (SELECT CAST(l_partkey % 1000 AS DOUBLE) AS px,
                 CAST((l_orderkey * 7) % 1000 AS DOUBLE) AS py
          FROM lineitem) pts
    JOIN (SELECT p_brand,
                 CAST((p_partkey * 13) % 950 AS DOUBLE) AS zxmin,
                 CAST((p_partkey * 29) % 950 AS DOUBLE) AS zymin
          FROM part) zones
      ON px >= zxmin AND px <= zxmin + 50 AND py >= zymin AND py <= zymin + 50
    GROUP BY p_brand ORDER BY p_brand"""

  /** The extent aggregate (graft.functions.GeoAggregates.Extent, the
    * reference's BoundingRect accumulator): a min/max fold over each row's
    * ST_BBox with map-side combine, where g06 composes the built-in min/max
    * by hand. Catalyst dedupes the four identical calls into one aggregate. */
  private val g16Spark = """
    SELECT c_mktsegment,
           ST_Extent_Agg(pt).xmin AS xmin, ST_Extent_Agg(pt).ymin AS ymin,
           ST_Extent_Agg(pt).xmax AS xmax, ST_Extent_Agg(pt).ymax AS ymax,
           COUNT(*) AS n
    FROM (SELECT c_mktsegment,
                 ST_Point(CAST(c_custkey % 97 AS DOUBLE),
                          CAST((c_custkey * 13) % 89 AS DOUBLE)) AS pt
          FROM customer) t
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  private val g16Duck = """
    SELECT c_mktsegment,
           MIN(CAST(c_custkey % 97 AS DOUBLE)) AS xmin,
           MIN(CAST((c_custkey * 13) % 89 AS DOUBLE)) AS ymin,
           MAX(CAST(c_custkey % 97 AS DOUBLE)) AS xmax,
           MAX(CAST((c_custkey * 13) % 89 AS DOUBLE)) AS ymax,
           COUNT(*)::BIGINT AS n
    FROM customer
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** Cascaded-union aggregate (ST_Union_Agg): per-partition partials buffer
    * up to 32 geometries then collapse through JTS UnaryUnionOp, so only one
    * WKB blob per group crosses the shuffle — vs g14's collect_list which
    * ships every tile. */
  private val g17Spark = """
    SELECT o_orderpriority,
           CAST(ST_Area(ST_Union_Agg(
             ST_MakeEnvelope(CAST((o_orderkey % 20) * 10 AS DOUBLE), 0.0,
                             CAST((o_orderkey % 20) * 10 + 10 AS DOUBLE), 10.0))) AS BIGINT) AS union_area,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  private val g17Duck = """
    SELECT o_orderpriority,
           (COUNT(DISTINCT o_orderkey % 20) * 100)::BIGINT AS union_area,
           COUNT(*)::BIGINT AS n
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** GeoJSON codec roundtrip (graft.core.GeoJson): encode → parse → measure;
    * the encoded string itself is part of the checked result. */
  private val g18Spark = """
    SELECT n_name,
           ST_AsGeoJSON(pt) AS gj,
           ROUND(ST_X(ST_GeomFromGeoJSON(ST_AsGeoJSON(pt))), 6) AS rx
    FROM (SELECT n_name, ST_Point(CAST(n_nationkey * 3 AS DOUBLE),
                                  CAST(n_nationkey * 7 AS DOUBLE)) AS pt
          FROM nation) t
    ORDER BY n_name"""

  private val g18Duck = """
    SELECT n_name,
           '{"type":"Point","coordinates":[' || CAST(n_nationkey * 3 AS BIGINT)
             || ',' || CAST(n_nationkey * 7 AS BIGINT) || ']}' AS gj,
           ROUND(CAST(n_nationkey * 3 AS DOUBLE), 6) AS rx
    FROM nation ORDER BY n_name"""

  // ── kernel coverage: predicates / linear-ref / affine / validity ──────
  // (each §2 kernel gets a value-checked entry; oracles are closed-form —
  //  geometry parameters are integers so results are FP-exact, verified
  //  against JTS behavior empirically before the oracle was written)

  /** Full binary-predicate matrix on parameterized rectangles: A=(0,0,10,10),
    * B=(s,0,s+10,10) with s=k%20 sweeping equal/overlap/touch/disjoint, plus
    * a vertical line for crosses. */
  private val g19Spark = """
    SELECT n_nationkey AS k,
           CAST(ST_Intersects(a, b) AS INT) AS i_sect,
           CAST(ST_Touches(a, b) AS INT) AS i_touch,
           CAST(ST_Overlaps(a, b) AS INT) AS i_over,
           CAST(ST_Within(b, a) AS INT) AS i_within,
           CAST(ST_Contains(a, b) AS INT) AS i_cont,
           CAST(ST_Covers(a, b) AS INT) AS i_cov,
           CAST(ST_CoveredBy(b, a) AS INT) AS i_covby,
           CAST(ST_Disjoint(a, b) AS INT) AS i_disj,
           CAST(ST_Equals(a, b) AS INT) AS i_eq,
           CAST(ST_Crosses(l, a) AS INT) AS i_cross
    FROM (SELECT n_nationkey,
                 ST_MakeEnvelope(0.0, 0.0, 10.0, 10.0) AS a,
                 ST_MakeEnvelope(CAST(n_nationkey % 20 AS DOUBLE), 0.0,
                                 CAST(n_nationkey % 20 + 10 AS DOUBLE), 10.0) AS b,
                 ST_GeomFromText(CONCAT('LINESTRING (', n_nationkey % 20, ' -5, ',
                                        n_nationkey % 20, ' 15)')) AS l
          FROM nation) t
    ORDER BY k"""

  private val g19Duck = """
    SELECT n_nationkey AS k,
           CASE WHEN s <= 10 THEN 1 ELSE 0 END AS i_sect,
           CASE WHEN s = 10 THEN 1 ELSE 0 END AS i_touch,
           CASE WHEN s BETWEEN 1 AND 9 THEN 1 ELSE 0 END AS i_over,
           CASE WHEN s = 0 THEN 1 ELSE 0 END AS i_within,
           CASE WHEN s = 0 THEN 1 ELSE 0 END AS i_cont,
           CASE WHEN s = 0 THEN 1 ELSE 0 END AS i_cov,
           CASE WHEN s = 0 THEN 1 ELSE 0 END AS i_covby,
           CASE WHEN s > 10 THEN 1 ELSE 0 END AS i_disj,
           CASE WHEN s = 0 THEN 1 ELSE 0 END AS i_eq,
           CASE WHEN s > 0 AND s < 10 THEN 1 ELSE 0 END AS i_cross
    FROM (SELECT n_nationkey, n_nationkey % 20 AS s FROM nation) t
    ORDER BY k"""

  /** Linear referencing: interpolate/locate/substring on integer-length
    * segments — all outputs FP-exact (power-of-two fractions). */
  private val g20Spark = """
    SELECT s_suppkey AS k,
           ST_X(ST_LineInterpolatePoint(line, frac)) AS ip_x,
           ROUND(ST_LineLocatePoint(line, ST_Point(CAST(s_suppkey % 11 AS DOUBLE), 0.0)), 6) AS loc,
           ST_Length(ST_LineSubstring(line, 0.25, 0.75)) AS sub_len
    FROM (SELECT s_suppkey,
                 ST_MakeLine(ST_Point(0.0, 0.0),
                             ST_Point(CAST(10 + s_suppkey % 7 AS DOUBLE), 0.0)) AS line,
                 CAST(s_suppkey % 5 AS DOUBLE) / 4.0 AS frac
          FROM supplier) t
    ORDER BY k"""

  private val g20Duck = """
    SELECT s_suppkey AS k,
           CAST(s_suppkey % 5 AS DOUBLE) / 4.0 * (10 + s_suppkey % 7) AS ip_x,
           ROUND(CAST(s_suppkey % 11 AS DOUBLE) / (10 + s_suppkey % 7), 6) AS loc,
           0.75 * (10 + s_suppkey % 7) - 0.25 * (10 + s_suppkey % 7) AS sub_len
    FROM supplier ORDER BY k"""

  /** Affine family: translate/scale/general-affine (exact integer math) and
    * rotate-by-π/2 of a rectangle (ROUND absorbs the cos(π/2)≈6e-17 noise). */
  private val g21Spark = """
    SELECT c_mktsegment,
           SUM(CAST(ST_X(ST_Translate(p, 5.0, 7.0)) AS BIGINT)) AS tx,
           SUM(CAST(ST_Y(ST_Translate(p, 5.0, 7.0)) AS BIGINT)) AS ty,
           SUM(CAST(ST_X(ST_Scale(p, 2.0, 3.0)) AS BIGINT)) AS sx,
           SUM(CAST(ST_Y(ST_Scale(p, 2.0, 3.0)) AS BIGINT)) AS sy,
           SUM(CAST(ST_X(ST_Affine(p, 0.0, -1.0, 1.0, 0.0, 100.0, 200.0)) AS BIGINT)) AS ax,
           SUM(CAST(ST_Y(ST_Affine(p, 0.0, -1.0, 1.0, 0.0, 100.0, 200.0)) AS BIGINT)) AS ay,
           ROUND(SUM(ST_XMin(ST_Rotate(ST_MakeEnvelope(0.0, 0.0,
                 CAST(1 + c_custkey % 9 AS DOUBLE), CAST(1 + c_custkey % 7 AS DOUBLE)),
               pi() / 2))), 4) AS rot_xmin_sum,
           COUNT(*) AS n
    FROM (SELECT c_mktsegment, c_custkey,
                 ST_Point(CAST(c_custkey % 50 AS DOUBLE), CAST(c_custkey % 30 AS DOUBLE)) AS p
          FROM customer) t
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  private val g21Duck = """
    SELECT c_mktsegment,
           SUM(c_custkey % 50 + 5)::BIGINT AS tx,
           SUM(c_custkey % 30 + 7)::BIGINT AS ty,
           SUM(2 * (c_custkey % 50))::BIGINT AS sx,
           SUM(3 * (c_custkey % 30))::BIGINT AS sy,
           SUM(100 - c_custkey % 30)::BIGINT AS ax,
           SUM(200 + c_custkey % 50)::BIGINT AS ay,
           ROUND(SUM((1 + c_custkey % 9) / 2.0 - (1 + c_custkey % 7) / 2.0), 4) AS rot_xmin_sum,
           COUNT(*)::BIGINT AS n
    FROM customer
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** Validity + repair: self-intersecting bowtie quads → GeometryFixer
    * (ST_MakeValid) yields a 2-triangle MultiPolygon of area w·h/2. */
  private val g22Spark = """
    SELECT p_brand,
           SUM(CAST(ST_IsValid(bow) AS INT)) AS n_valid_raw,
           SUM(CAST(ST_IsValid(ST_MakeValid(bow)) AS INT)) AS n_valid_fixed,
           SUM(CAST(ST_Area(ST_MakeValid(bow)) AS BIGINT)) AS fixed_area,
           SUM(CAST(ST_NumGeometries(ST_MakeValid(bow)) AS BIGINT)) AS n_parts,
           COUNT(*) AS n
    FROM (SELECT p_brand,
                 ST_GeomFromText(CONCAT('POLYGON ((0 0, ', w, ' 0, 0 ', h, ', ',
                                        w, ' ', h, ', 0 0))')) AS bow
          FROM (SELECT p_brand, 2 * (1 + p_partkey % 5) AS w,
                       2 * (1 + p_partkey % 7) AS h FROM part) z) t
    GROUP BY p_brand ORDER BY p_brand"""

  private val g22Duck = """
    SELECT p_brand,
           0::BIGINT AS n_valid_raw,
           COUNT(*)::BIGINT AS n_valid_fixed,
           SUM(CAST(2 * (1 + p_partkey % 5) * (1 + p_partkey % 7) * 2 / 2 AS BIGINT))::BIGINT AS fixed_area,
           (2 * COUNT(*))::BIGINT AS n_parts,
           COUNT(*)::BIGINT AS n
    FROM part
    GROUP BY p_brand ORDER BY p_brand"""

  /** Interior-point family on squares: PointOnSurface, Center, Centroid and
    * PolyLabel all land exactly on the center; OrientedEnvelope/ConcaveHull
    * of a square reproduce its area. */
  private val g23Spark = """
    SELECT n_nationkey AS k,
           ROUND(ST_X(ST_PointOnSurface(sq)), 6) AS pos_x,
           ROUND(ST_Y(ST_PointOnSurface(sq)), 6) AS pos_y,
           ROUND(ST_X(ST_Center(sq)), 6) AS ctr_x,
           ROUND(ST_X(ST_Centroid(sq)), 6) AS cen_x,
           ROUND(ST_X(ST_PolyLabel(sq, 0.01)), 6) AS pl_x,
           ROUND(ST_Area(ST_OrientedEnvelope(sq)), 6) AS oenv_area,
           ROUND(ST_Area(ST_ConcaveHull(sq, 1.0)), 6) AS chull_area
    FROM (SELECT n_nationkey,
                 ST_MakeEnvelope(0.0, 0.0, CAST(2 * (1 + n_nationkey % 6) AS DOUBLE),
                                 CAST(2 * (1 + n_nationkey % 6) AS DOUBLE)) AS sq
          FROM nation) t ORDER BY k"""

  private val g23Duck = """
    SELECT n_nationkey AS k,
           ROUND(CAST(1 + n_nationkey % 6 AS DOUBLE), 6) AS pos_x,
           ROUND(CAST(1 + n_nationkey % 6 AS DOUBLE), 6) AS pos_y,
           ROUND(CAST(1 + n_nationkey % 6 AS DOUBLE), 6) AS ctr_x,
           ROUND(CAST(1 + n_nationkey % 6 AS DOUBLE), 6) AS cen_x,
           ROUND(CAST(1 + n_nationkey % 6 AS DOUBLE), 6) AS pl_x,
           ROUND(CAST(4 * (1 + n_nationkey % 6) * (1 + n_nationkey % 6) AS DOUBLE), 6) AS oenv_area,
           ROUND(CAST(4 * (1 + n_nationkey % 6) * (1 + n_nationkey % 6) AS DOUBLE), 6) AS chull_area
    FROM nation ORDER BY k"""

  /** Spherical measures (haversine + Chamberlain–Duquette) — the oracle
    * replicates the published formulas term-by-term; results reported in km
    * so ROUND headroom ≫ cross-engine libm ulp differences. */
  private val g24Spark = """
    SELECT n_nationkey AS k,
           ROUND(ST_DistanceSphere(ST_Point(lon1, lat1), ST_Point(lon2, lat2)) / 1000.0, 4) AS d_km,
           ROUND(ST_LengthSphere(ST_MakeLine(ST_Point(lon1, lat1), ST_Point(lon2, lat2))) / 1000.0, 4) AS len_km,
           ROUND(ST_AreaSphere(ST_GeomFromText(CONCAT('POLYGON ((', a, ' ', b, ', ',
                 a + 2, ' ', b, ', ', a + 2, ' ', b + 2, ', ', a, ' ', b + 2, ', ',
                 a, ' ', b, '))'))) / 1000000.0, 3) AS area_km2
    FROM (SELECT n_nationkey,
                 CAST(n_nationkey * 3 % 120 - 60 AS DOUBLE) AS lon1,
                 CAST(n_nationkey % 60 - 30 AS DOUBLE) AS lat1,
                 CAST(n_nationkey * 3 % 120 - 59 AS DOUBLE) AS lon2,
                 CAST(n_nationkey % 60 - 29 AS DOUBLE) AS lat2,
                 n_nationkey % 90 - 45 AS a, n_nationkey % 50 - 25 AS b
          FROM nation) t ORDER BY k"""

  private val g24Duck = """
    WITH p AS (SELECT n_nationkey,
                 CAST(n_nationkey * 3 % 120 - 60 AS DOUBLE) AS lon1,
                 CAST(n_nationkey % 60 - 30 AS DOUBLE) AS lat1,
                 CAST(n_nationkey * 3 % 120 - 59 AS DOUBLE) AS lon2,
                 CAST(n_nationkey % 60 - 29 AS DOUBLE) AS lat2,
                 CAST(n_nationkey % 90 - 45 AS DOUBLE) AS a,
                 CAST(n_nationkey % 50 - 25 AS DOUBLE) AS b
               FROM nation),
    hav AS (SELECT n_nationkey,
              2 * 6371008.8 * asin(least(1.0, sqrt(
                pow(sin(radians(lat2 - lat1) / 2), 2) +
                cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(radians(lon2 - lon1) / 2), 2)))) AS d_m,
              abs(((radians(a + 2) - radians(a)) * sin(radians(b))
                 + (radians(a) - radians(a + 2)) * sin(radians(b + 2))
                 + (radians(a) - radians(a + 2)) * sin(radians(b + 2))
                 + (radians(a + 2) - radians(a)) * sin(radians(b)))
                * 6371008.8 * 6371008.8 / 2.0) AS ar_m2
            FROM p)
    SELECT n_nationkey AS k,
           ROUND(d_m / 1000.0, 4) AS d_km,
           ROUND(d_m / 1000.0, 4) AS len_km,
           ROUND(ar_m2 / 1000000.0, 3) AS area_km2
    FROM hav ORDER BY k"""

  /** Discrete Hausdorff/Fréchet distances + DWithin between parallel
    * segments (both equal the integer offset). */
  private val g25Spark = """
    SELECT o_orderpriority,
           SUM(CAST(ST_HausdorffDistance(la, lb) AS BIGINT)) AS sum_h,
           SUM(CAST(ST_FrechetDistance(la, lb) AS BIGINT)) AS sum_f,
           SUM(CAST(ST_DWithin(la, lb, 3.5) AS INT)) AS n_near,
           COUNT(*) AS n
    FROM (SELECT /*+ REPARTITION({{P}}) */ o_orderpriority,
                 ST_MakeLine(ST_Point(0.0, 0.0), ST_Point(10.0, 0.0)) AS la,
                 ST_MakeLine(ST_Point(0.0, CAST(o_orderkey % 7 AS DOUBLE)),
                             ST_Point(10.0, CAST(o_orderkey % 7 AS DOUBLE))) AS lb
          FROM orders) t
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  private val g25Duck = """
    SELECT o_orderpriority,
           SUM(o_orderkey % 7)::BIGINT AS sum_h,
           SUM(o_orderkey % 7)::BIGINT AS sum_f,
           SUM(CASE WHEN o_orderkey % 7 <= 3 THEN 1 ELSE 0 END)::BIGINT AS n_near,
           COUNT(*)::BIGINT AS n
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Vertex-resampling kernels: Densify (L+1 points at maxDist=1), Chaikin
    * corner-cutting (3→6 points, first cut at 0.25·a), Visvalingam–Whyatt
    * (keeps/drops the apex by effective area), topology-preserving VW (even
    * keys get a simple line whose only sub-threshold vertex is guarded —
    * its shortcut (0,0)→(10,0) would cross the (5,-5)→(5,1) tail that ends
    * inside the shortcut triangle — so all 6 points survive; odd keys get
    * the variant whose tail stays below the baseline, which simplifies to
    * 5), RemoveRepeatedPoints. */
  private val g26Spark = """
    SELECT p_brand,
           SUM(CAST(ST_NPoints(ST_Densify(seg, 1.0)) AS BIGINT)) AS densify_pts,
           SUM(CAST(ST_NPoints(ST_ChaikinSmoothing(tri, 1)) AS BIGINT)) AS chaikin_pts,
           SUM(CAST(ST_X(ST_PointN(ST_ChaikinSmoothing(tri, 1), 1)) AS BIGINT)) AS chaikin_x1,
           SUM(CAST(ST_NPoints(ST_SimplifyVW(vwl, 1.0)) AS BIGINT)) AS vw_pts,
           SUM(CAST(ST_NPoints(ST_SimplifyVWPreserve(vwp, 11.0)) AS BIGINT)) AS vwp_pts,
           SUM(CAST(ST_NPoints(ST_RemoveRepeatedPoints(rep, 0.0)) AS BIGINT)) AS rrp_pts,
           COUNT(*) AS n
    FROM (SELECT p_brand,
                 ST_MakeLine(ST_Point(0.0, 0.0), ST_Point(CAST(1 + p_partkey % 9 AS DOUBLE), 0.0)) AS seg,
                 ST_GeomFromText(CONCAT('LINESTRING (0 0, ', 4 * (1 + p_partkey % 5), ' 4, ',
                                        8 * (1 + p_partkey % 5), ' 0)')) AS tri,
                 ST_GeomFromText(CASE WHEN p_partkey % 2 = 0
                    THEN 'LINESTRING (0 0, 1 100, 2 0)'
                    ELSE 'LINESTRING (0 0, 1 0.0001, 2 0)' END) AS vwl,
                 ST_GeomFromText(CASE WHEN p_partkey % 2 = 0
                    THEN 'LINESTRING (0 0, 5 2, 10 0, 11 -5, 5 -5, 5 1)'
                    ELSE 'LINESTRING (0 0, 5 2, 10 0, 11 -5, 5 -5, 5 -1)' END) AS vwp,
                 ST_GeomFromText('LINESTRING (0 0, 0 0, 3 3, 3 3, 6 6)') AS rep
          FROM part) t
    GROUP BY p_brand ORDER BY p_brand"""

  private val g26Duck = """
    SELECT p_brand,
           SUM(1 + p_partkey % 9 + 1)::BIGINT AS densify_pts,
           (6 * COUNT(*))::BIGINT AS chaikin_pts,
           SUM(1 + p_partkey % 5)::BIGINT AS chaikin_x1,
           SUM(CASE WHEN p_partkey % 2 = 0 THEN 3 ELSE 2 END)::BIGINT AS vw_pts,
           SUM(CASE WHEN p_partkey % 2 = 0 THEN 6 ELSE 5 END)::BIGINT AS vwp_pts,
           (3 * COUNT(*))::BIGINT AS rrp_pts,
           COUNT(*)::BIGINT AS n
    FROM part
    GROUP BY p_brand ORDER BY p_brand"""

  /** Type tags, X→Multi promotion, WKB roundtrip, LineMerge, MakePolygon. */
  private val g27Spark = """
    SELECT n_nationkey AS k,
           ST_GeometryType(g) AS tag,
           ST_GeometryType(ST_Multi(g)) AS multi_tag,
           CAST(ST_NumGeometries(ST_Multi(g)) AS INT) AS ngeom,
           CAST(ST_NPoints(ST_GeomFromWKB(ST_AsBinary(g))) AS INT) AS wkb_rt_pts,
           CAST(ST_EqualsExact(g, g, 0.0) AS INT) AS eq_exact,
           CAST(ST_NPoints(ST_LineMerge(ST_GeomFromText(
             'MULTILINESTRING ((0 0, 1 1), (1 1, 2 2))'))) AS INT) AS merged_pts,
           CAST(ST_Area(ST_MakePolygon(ST_GeomFromText(
             'LINESTRING (0 0, 5 0, 5 5, 0 5, 0 0)'))) AS INT) AS ring_area,
           CAST(ST_NPoints(ST_LineFromMultiPoint(ST_GeomFromText(
             'MULTIPOINT ((0 0), (3 1), (2 2))'))) AS INT) AS lfmp_pts,
           CAST(ST_IsEmpty(ST_GeomFromText('POINT EMPTY')) AS INT) AS empty_flag
    FROM (SELECT n_nationkey,
                 ST_GeomFromText(CASE CAST(n_nationkey % 4 AS INT)
                   WHEN 0 THEN 'POINT (1 2)'
                   WHEN 1 THEN 'LINESTRING (0 0, 1 1)'
                   WHEN 2 THEN 'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'
                   ELSE 'MULTIPOINT ((1 1), (2 2))' END) AS g
          FROM nation) t ORDER BY k"""

  private val g27Duck = """
    SELECT n_nationkey AS k,
           CASE n_nationkey % 4 WHEN 0 THEN 'ST_Point' WHEN 1 THEN 'ST_LineString'
                WHEN 2 THEN 'ST_Polygon' ELSE 'ST_MultiPoint' END AS tag,
           CASE n_nationkey % 4 WHEN 0 THEN 'ST_MultiPoint' WHEN 1 THEN 'ST_MultiLineString'
                WHEN 2 THEN 'ST_MultiPolygon' ELSE 'ST_MultiPoint' END AS multi_tag,
           CASE n_nationkey % 4 WHEN 3 THEN 2 ELSE 1 END AS ngeom,
           CASE n_nationkey % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 5 ELSE 2 END AS wkb_rt_pts,
           1 AS eq_exact,
           3 AS merged_pts,
           25 AS ring_area,
           3 AS lfmp_pts,
           1 AS empty_flag
    FROM nation ORDER BY k"""

  /** Ring accessors on a polygon with one square hole (h = 1+k%3). */
  private val g28Spark = """
    SELECT n_nationkey AS k,
           CAST(ST_NumInteriorRings(p) AS INT) AS nrings,
           ST_Length(ST_ExteriorRing(p)) AS shell_len,
           ST_Length(ST_InteriorRingN(p, 0)) AS hole_len,
           ST_Area(p) AS area,
           ST_Perimeter(p) AS perim,
           CAST(ST_NPoints(ST_Boundary(p)) AS INT) AS bpts,
           ST_Area(ST_Reverse(p)) AS rev_area
    FROM (SELECT n_nationkey,
                 ST_GeomFromText(CONCAT('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 2 ',
                   2 + h, ', ', 2 + h, ' ', 2 + h, ', ', 2 + h, ' 2, 2 2))')) AS p
          FROM (SELECT n_nationkey, 1 + n_nationkey % 3 AS h FROM nation) z) t
    ORDER BY k"""

  private val g28Duck = """
    SELECT n_nationkey AS k,
           1 AS nrings,
           CAST(40 AS DOUBLE) AS shell_len,
           CAST(4 * (1 + n_nationkey % 3) AS DOUBLE) AS hole_len,
           CAST(100 - (1 + n_nationkey % 3) * (1 + n_nationkey % 3) AS DOUBLE) AS area,
           CAST(40 + 4 * (1 + n_nationkey % 3) AS DOUBLE) AS perim,
           10 AS bpts,
           CAST(100 - (1 + n_nationkey % 3) * (1 + n_nationkey % 3) AS DOUBLE) AS rev_area
    FROM nation ORDER BY k"""

  /** SRID plumbing: ST_SetSRID survives the EWKB roundtrip; coordinates are
    * untouched (SURVEY.md §7 hard-part 4 — SRID lives in the value). */
  private val g29Spark = """
    SELECT n_nationkey AS k,
           CAST(ST_SRID(ST_SetSRID(ST_Point(1.0, 2.0),
                CAST(4326 + n_nationkey % 3 AS INT))) AS INT) AS srid_out,
           ST_X(ST_SetSRID(ST_Point(CAST(n_nationkey AS DOUBLE), 2.0), 3857)) AS x_preserved
    FROM nation ORDER BY k"""

  private val g29Duck = """
    SELECT n_nationkey AS k,
           CAST(4326 + n_nationkey % 3 AS INTEGER) AS srid_out,
           CAST(n_nationkey AS DOUBLE) AS x_preserved
    FROM nation ORDER BY k"""

  /** XYM/XYZM ordinate fidelity: M survives construction, WKT parse, and the
    * ISO-WKB roundtrip (SURVEY.md §7 hard-part 2; the reference's Dimension
    * axis, rust/geoarrow-schema/src/dimension.rs:12-24). */
  private val g30Spark = """
    SELECT n_nationkey AS k,
           ST_M(ST_PointM(1.0, 2.0, CAST(n_nationkey * 2 AS DOUBLE))) AS m_out,
           CAST(ST_HasM(ST_PointM(1.0, 2.0, 9.0)) AS INT) AS has_m,
           CAST(ST_HasZ(ST_PointM(1.0, 2.0, 9.0)) AS INT) AS hasz_of_m,
           ST_Z(ST_PointZM(1.0, 2.0, CAST(n_nationkey AS DOUBLE), 7.0)) AS z_out,
           ST_M(ST_PointZM(1.0, 2.0, 3.0, CAST(n_nationkey AS DOUBLE))) AS zm_m_out,
           ST_M(ST_GeomFromText(CONCAT('POINT ZM (1 2 3 ', n_nationkey, ')'))) AS wkt_m,
           ST_M(ST_GeomFromWKB(ST_AsBinary(ST_PointZM(1.0, 2.0, 3.0,
                CAST(n_nationkey AS DOUBLE))))) AS wkb_rt_m
    FROM nation ORDER BY k"""

  private val g30Duck = """
    SELECT n_nationkey AS k,
           CAST(n_nationkey * 2 AS DOUBLE) AS m_out,
           1 AS has_m,
           0 AS hasz_of_m,
           CAST(n_nationkey AS DOUBLE) AS z_out,
           CAST(n_nationkey AS DOUBLE) AS zm_m_out,
           CAST(n_nationkey AS DOUBLE) AS wkt_m,
           CAST(n_nationkey AS DOUBLE) AS wkb_rt_m
    FROM nation ORDER BY k"""

  /** Ellipsoidal (spheroid) measures — Andoyer–Lambert, WGS84. The oracle
    * replicates the closed-form term-by-term (rounded to 1 m / 1 km² so
    * cross-engine libm ulp noise is absorbed). */
  private val g31Spark = """
    SELECT n_nationkey AS k,
           ROUND(ST_DistanceSpheroid(ST_Point(lon1, lat1), ST_Point(lon2, lat2)) / 1000.0, 3) AS d_km,
           ROUND(ST_LengthSpheroid(ST_MakeLine(ST_Point(lon1, lat1), ST_Point(lon2, lat2))) / 1000.0, 3) AS len_km,
           ROUND(ST_AreaSphere(ST_MakeEnvelope(lon1, lat1, lon1 + 2.0, lat1 + 2.0)) / 1000000.0, 2) AS area_km2
    FROM (SELECT n_nationkey,
                 CAST(n_nationkey * 7 % 120 - 60 AS DOUBLE) AS lon1,
                 CAST(n_nationkey * 3 % 60 - 30 AS DOUBLE) AS lat1,
                 CAST(n_nationkey * 7 % 120 - 55 AS DOUBLE) AS lon2,
                 CAST(n_nationkey * 3 % 60 - 27 AS DOUBLE) AS lat2
          FROM nation) t ORDER BY k"""

  private val g31Duck = """
    WITH p AS (SELECT n_nationkey,
                 CAST(n_nationkey * 7 % 120 - 60 AS DOUBLE) AS lon1,
                 CAST(n_nationkey * 3 % 60 - 30 AS DOUBLE) AS lat1,
                 CAST(n_nationkey * 7 % 120 - 55 AS DOUBLE) AS lon2,
                 CAST(n_nationkey * 3 % 60 - 27 AS DOUBLE) AS lat2
               FROM nation),
    terms AS (SELECT n_nationkey,
                (radians(lat1) + radians(lat2)) / 2 AS fm,
                (radians(lat1) - radians(lat2)) / 2 AS gm,
                (radians(lon1) - radians(lon2)) / 2 AS lm,
                lon1, lat1 FROM p),
    sc AS (SELECT n_nationkey, fm, gm, lon1, lat1,
             pow(sin(gm), 2) * pow(cos(lm), 2) + pow(cos(fm), 2) * pow(sin(lm), 2) AS s,
             pow(cos(gm), 2) * pow(cos(lm), 2) + pow(sin(fm), 2) * pow(sin(lm), 2) AS c
           FROM terms),
    andoyer AS (SELECT n_nationkey, lon1, lat1,
             2 * atan(sqrt(s / c)) * 6378137.0 *
             (1 + (1.0 / 298.257223563) *
               (((3 * (sqrt(s * c) / atan(sqrt(s / c))) - 1) / (2 * c)) * pow(sin(fm), 2) * pow(cos(gm), 2)
              - ((3 * (sqrt(s * c) / atan(sqrt(s / c))) + 1) / (2 * s)) * pow(cos(fm), 2) * pow(sin(gm), 2))) AS d_m
           FROM sc),
    cd AS (SELECT n_nationkey,
             abs(((radians(lon1 + 2) - radians(lon1)) * sin(radians(lat1))
                + (radians(lon1) - radians(lon1 + 2)) * sin(radians(lat1 + 2))
                + (radians(lon1) - radians(lon1 + 2)) * sin(radians(lat1 + 2))
                + (radians(lon1 + 2) - radians(lon1)) * sin(radians(lat1)))
               * 6371008.8 * 6371008.8 / 2.0) AS ar_m2
           FROM andoyer)
    SELECT a.n_nationkey AS k,
           ROUND(a.d_m / 1000.0, 3) AS d_km,
           ROUND(a.d_m / 1000.0, 3) AS len_km,
           ROUND(cd.ar_m2 / 1000000.0, 2) AS area_km2
    FROM andoyer a JOIN cd ON a.n_nationkey = cd.n_nationkey ORDER BY k"""

  /** Compact-type inference (rust/geoarrow-cast/src/downcast.rs:82):
    * {Point, MultiPoint} promotes to MultiPoint; mixed families erase to
    * Geometry. Runs the distributed collect_set pass twice. */
  private def g32Fn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    views(s, dir)
    val nation = s.read.parquet(s"$dir/nation.parquet")
    val sameFamily = nation.selectExpr(
      """ST_GeomFromText(CASE WHEN n_nationkey % 2 = 0 THEN 'POINT (1 2)'
         ELSE 'MULTIPOINT ((1 1), (2 2))' END) AS g""")
    val mixed = nation.selectExpr(
      """ST_GeomFromText(CASE WHEN n_nationkey % 2 = 0 THEN 'POINT (1 2)'
         ELSE 'LINESTRING (0 0, 1 1)' END) AS g""")
    val a = graft.operators.Downcast.inferDowncastType(sameFamily, col("g"))
    val b = graft.operators.Downcast.inferDowncastType(mixed, col("g"))
    s.createDataFrame(java.util.List.of(org.apache.spark.sql.Row(a, b)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("inferred_family", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("inferred_mixed", org.apache.spark.sql.types.StringType))))
  }

  private val g32Duck = """
    SELECT 'MultiPoint' AS inferred_family, 'Geometry' AS inferred_mixed"""

  /** Big×big spatial join through the auto-planner with the broadcast
    * threshold disabled — exercises the GridSpatialJoinExec path (sampled
    * cell size, grid shuffle, reference-point dedup). The conf overrides
    * live in a dedicated `newSession()` (isolated SQLConf, shared
    * SparkContext), so queries planned concurrently on the parent session
    * keep broadcast joins and AQE. */
  private def g33Fn(parent: SparkSession, dir: String): DataFrame = {
    val s = withSurface(parent.newSession())
    views(s, dir)
    val p = s.sparkContext.defaultParallelism
    s.conf.set("spark.sql.shuffle.partitions",
      parent.conf.get("spark.sql.shuffle.partitions", "32"))
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE would re-plan the join at execution time (broadcast instead of
    // grid) if the threshold changed; keeping it off in this isolated
    // session freezes the grid plan so that path genuinely executes
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val df = s.sql(s"""
        SELECT c_nationkey, COUNT(*) AS n, SUM(CAST(o_orderkey % 97 AS BIGINT)) AS s
        FROM (SELECT /*+ REPARTITION($p) */ c_nationkey,
                     ST_MakeEnvelope(CAST(c_custkey % 500 AS DOUBLE),
                                     CAST((c_custkey * 7) % 500 AS DOUBLE),
                                     CAST(c_custkey % 500 + 2 AS DOUBLE),
                                     CAST((c_custkey * 7) % 500 + 2 AS DOUBLE)) AS cz
              FROM customer) c
        JOIN (SELECT /*+ REPARTITION($p) */ o_orderkey,
                     ST_MakeEnvelope(CAST(o_orderkey % 500 AS DOUBLE),
                                     CAST((o_orderkey * 11) % 500 AS DOUBLE),
                                     CAST(o_orderkey % 500 + 1 AS DOUBLE),
                                     CAST((o_orderkey * 11) % 500 + 1 AS DOUBLE)) AS oz
              FROM orders) o
          ON ST_Intersects(cz, oz)
        GROUP BY c_nationkey ORDER BY c_nationkey""")
    df.queryExecution.executedPlan // force (non-adaptive) planning now
    df
  }

  private val g33Duck = """
    SELECT c_nationkey, COUNT(*)::BIGINT AS n, SUM(o_orderkey % 97)::BIGINT AS s
    FROM (SELECT c_nationkey, CAST(c_custkey % 500 AS DOUBLE) AS cx,
                 CAST((c_custkey * 7) % 500 AS DOUBLE) AS cy FROM customer) c
    JOIN (SELECT o_orderkey, CAST(o_orderkey % 500 AS DOUBLE) AS ox,
                 CAST((o_orderkey * 11) % 500 AS DOUBLE) AS oy FROM orders) o
      ON cx <= ox + 1 AND ox <= cx + 2 AND cy <= oy + 1 AND oy <= cy + 2
    GROUP BY c_nationkey ORDER BY c_nationkey"""

  /** Karney-exact geodesic measures over fixed geometries. The oracle values
    * are literals anchored by the REFERENCE's own doctests
    * (geodesic_area.rs:68 → O2 polygon; :110 → earth-minus-1°-square
    * 510053312945726.94 m²; geodesic_length.rs:51 → NYC→London→Osaka
    * 15,109,158 m), i.e. independent geographiclib ground truth at 8+
    * significant digits (KarneyGeodesicSpec holds the full-precision
    * asserts). */
  private val g34Spark = """
    SELECT
      ROUND(ST_AreaSpheroidSigned(ST_GeomFromText(
        'POLYGON ((0.00388383 51.501574, 0.00538587 51.502278, 0.00553607 51.503299,
                   0.00467777 51.504181, 0.00327229 51.504435, 0.00187754 51.504168,
                   0.00087976 51.503380, 0.00107288 51.502324, 0.00185608 51.501770,
                   0.00388383 51.501574))')), 3) AS o2_m2,
      ROUND(ST_AreaSpheroid(ST_GeomFromText(
        'POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))')) / 1000000.0, 3) AS sq_cw_unsigned_km2,
      ROUND(ST_AreaSpheroidSigned(ST_GeomFromText(
        'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))')) / 1000000.0, 3) AS sq_ccw_km2,
      ROUND(ST_AreaSpheroidSigned(ST_GeomFromText(
        'POLYGON ((10 45, 11 45, 11 46, 10 46, 10 45))')) / 1000000.0, 3) AS sq45_km2,
      ROUND(ST_DistanceGeodesic(ST_Point(-74.006, 40.7128), ST_Point(-0.1278, 51.5074)), 3) AS d_nyc_lon_m,
      ROUND(ST_LengthGeodesic(ST_GeomFromText(
        'LINESTRING (-74.006 40.7128, -0.1278 51.5074, 135.5244559 34.687455)'))) AS len_nyc_osa_m"""

  // literals from KarneyGeodesic on these exact inputs; anchored to the
  // reference doctests (see g34Spark scaladoc). len_nyc_osa_m IS the
  // geodesic_length.rs doctest value.
  private val g34Duck = """
    SELECT 78595.939 AS o2_m2,
           510053312.946 AS sq_cw_unsigned_km2,
           12308.778 AS sq_ccw_km2,
           8686.379 AS sq45_km2,
           5585233.579 AS d_nyc_lon_m,
           15109158.0 AS len_nyc_osa_m"""

  /** Planar signed shoelace area (CCW positive) with data-driven winding —
    * DuckDB mirrors the shoelace arithmetic directly. */
  private val g35Spark = """
    SELECT n_nationkey AS k,
           ROUND(ST_SignedArea(ST_GeomFromText(CASE WHEN n_nationkey % 2 = 0
             THEN CONCAT('POLYGON ((0 0, ', w, ' 0, ', w, ' ', h, ', 0 ', h, ', 0 0))')
             ELSE CONCAT('POLYGON ((0 0, 0 ', h, ', ', w, ' ', h, ', ', w, ' 0, 0 0))')
           END)), 6) AS signed_area
    FROM (SELECT n_nationkey, CAST(1 + n_nationkey % 5 AS INT) AS w,
                 CAST(1 + n_nationkey % 3 AS INT) AS h FROM nation) t
    ORDER BY k"""

  private val g35Duck = """
    SELECT n_nationkey AS k,
           ROUND(CASE WHEN n_nationkey % 2 = 0 THEN 1.0 ELSE -1.0 END
                 * (1 + n_nationkey % 5) * (1 + n_nationkey % 3), 6) AS signed_area
    FROM nation ORDER BY k"""

  /** Ring/simplicity predicates + DE-9IM relate, previously spec-only.
    * Three line shapes per key: closed ring (k%3=0), simple open (1),
    * self-crossing (2); relate over unit-height rectangles with a sliding
    * offset — `'T********'` (interiors intersect) mirrors as dx < width,
    * and the equal-rectangles DE-9IM matrix is the textbook `2FFF1FFF2`. */
  private val g36Spark = """
    SELECT k,
           ST_IsRing(line) AS is_ring,
           ST_IsSimple(line) AS is_simple,
           ST_Relate(boxa, boxa) AS rel_eq,
           ST_Relate(boxa, boxb, 'T********') AS interiors_meet
    FROM (SELECT n_nationkey AS k,
                 ST_GeomFromText(CASE CAST(n_nationkey % 3 AS INT)
                   WHEN 0 THEN CONCAT('LINESTRING (0 0, ', w, ' 0, ', w, ' ', h, ', 0 ', h, ', 0 0)')
                   WHEN 1 THEN CONCAT('LINESTRING (0 0, ', w, ' ', h, ')')
                   ELSE CONCAT('LINESTRING (0 0, ', w, ' ', h, ', ', w, ' 0, 0 ', h, ')')
                 END) AS line,
                 ST_MakeEnvelope(0.0, 0.0, 4.0, 3.0) AS boxa,
                 ST_MakeEnvelope(CAST(n_nationkey % 6 AS DOUBLE), 0.0,
                                 CAST(n_nationkey % 6 + 4 AS DOUBLE), 3.0) AS boxb
          FROM (SELECT n_nationkey, CAST(1 + n_nationkey % 4 AS INT) AS w,
                       CAST(1 + n_nationkey % 3 AS INT) AS h FROM nation) t0) t
    ORDER BY k"""

  private val g36Duck = """
    SELECT n_nationkey AS k,
           n_nationkey % 3 = 0 AS is_ring,
           n_nationkey % 3 != 2 AS is_simple,
           '2FFF1FFF2' AS rel_eq,
           n_nationkey % 6 < 4 AS interiors_meet
    FROM nation ORDER BY k"""

  /** KNN join through [[graft.operators.SpatialJoin.knn]]: 3 nearest part
    * points for each sampled customer point, via the iterative
    * radius-doubling grid join (equi-shuffle per round, never all-pairs —
    * see the operator scaladoc for the 100 TB argument). The oracle is the
    * brute-force cross join + rank, which DuckDB can afford at the bounded
    * left-side size. */
  private def g37Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val l = s.sql("""
      SELECT c_custkey AS lid,
             ST_Point(CAST(c_custkey % 97 AS DOUBLE),
                      CAST((c_custkey * 13) % 89 AS DOUBLE)) AS lg
      FROM customer WHERE c_custkey % 15 = 1""")
    val r = s.sql(s"""
      SELECT /*+ REPARTITION(${s.sparkContext.defaultParallelism}) */
             p_partkey AS rid,
             ST_Point(CAST((p_partkey * 13) % 101 AS DOUBLE),
                      CAST((p_partkey * 29) % 97 AS DOUBLE)) AS rg
      FROM part""")
    graft.operators.SpatialJoin.knn(l, r, "lg", "rg", 3, "lid", "rid")
      .createOrReplaceTempView("g37_knn")
    s.sql("""
      SELECT lid, CAST(knn_rank AS BIGINT) AS rnk, rid, ROUND(knn_dist, 6) AS dist
      FROM g37_knn ORDER BY lid, rnk""")
  }

  private val g37Duck = """
    WITH l AS (SELECT c_custkey AS lid,
                      CAST(c_custkey % 97 AS DOUBLE) AS lx,
                      CAST((c_custkey * 13) % 89 AS DOUBLE) AS ly
               FROM customer WHERE c_custkey % 15 = 1),
    r AS (SELECT p_partkey AS rid,
                 CAST((p_partkey * 13) % 101 AS DOUBLE) AS rx,
                 CAST((p_partkey * 29) % 97 AS DOUBLE) AS ry
          FROM part),
    pairs AS (SELECT lid, rid,
                     sqrt((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry)) AS d
              FROM l CROSS JOIN r),
    rk AS (SELECT lid, rid, d,
                  ROW_NUMBER() OVER (PARTITION BY lid ORDER BY d, rid) AS rnk
           FROM pairs)
    SELECT lid, rnk::BIGINT AS rnk, rid, ROUND(d, 6) AS dist
    FROM rk WHERE rnk <= 3 ORDER BY lid, rnk"""

  /** FlatGeobuf packed-Hilbert-R-tree read path under the driver's hash
    * gate (the m03 build-fixture-in-query pattern): a fixed point grid is
    * written as an indexed .fgb inside the query, read back through
    * `readBbox` — header parse, R-tree traversal, candidate feature range
    * reads (sources/FlatGeobuf.scala readSelective) — and the surviving
    * rows are pinned by a closed-form oracle. Any index layout or
    * traversal regression changes the row set and hash-mismatches. */
  private def g38Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g38_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val pts = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_Point(CAST(id % 100 AS DOUBLE), CAST(CAST(id / 100 AS INT) AS DOUBLE)) AS geometry
      FROM range(1000)""").coalesce(1) // one partition → one indexed file
    graft.sources.FlatGeobufWriter.write(pts, out, index = true)
    graft.sources.FlatGeobuf.readBbox(s, out, 20.5, 2.5, 24.5, 6.5)
      .selectExpr("fid",
        "CAST(ST_X(geometry) AS BIGINT) AS x",
        "CAST(ST_Y(geometry) AS BIGINT) AS y")
      .orderBy("fid")
  }

  // the 100×10 grid's points strictly inside (20.5, 2.5, 24.5, 6.5):
  // x ∈ 21..24, y ∈ 3..6, fid = y*100 + x
  private val g38Duck = """
    SELECT (y.y * 100 + x.x)::BIGINT AS fid, x.x::BIGINT AS x, y.y::BIGINT AS y
    FROM (SELECT unnest(range(21, 25)) AS x) x
    CROSS JOIN (SELECT unnest(range(3, 7)) AS y) y
    ORDER BY fid"""

  /** DSv2 FlatGeobuf read (`format("flatgeobuf")`) under the hash gate: a
    * generated indexed file read back through the TableProvider with a
    * pruned projection (id, score — label and geometry never decode,
    * FlatGeobufSpec proves the decoder-level skip). score = id * 0.5 is
    * exact in binary, so the double SUM is order-independent and
    * closed-form. */
  private def g51Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g51_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val pts = s.sql("""
      SELECT CAST(id AS INT) AS id, CONCAT('label-', id) AS label,
             CAST(id * 0.5 AS DOUBLE) AS score,
             ST_Point(CAST(id AS DOUBLE), 1.0D) AS geometry
      FROM range(1000)""").coalesce(1)
    graft.sources.FlatGeobufWriter.write(pts, out, index = true)
    s.read.format("flatgeobuf").load(out)
      .where("id % 7 = 0")
      .groupBy()
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("id").cast("bigint").as("sum_id"),
        org.apache.spark.sql.functions.sum("score").as("sum_score"))
  }

  private val g51Duck = """
    SELECT COUNT(*)::BIGINT AS n, SUM(id)::BIGINT AS sum_id, SUM(id * 0.5)::DOUBLE AS sum_score
    FROM (SELECT unnest(range(0, 1000)) AS id) t WHERE id % 7 = 0"""

  /** Shapefile through the DSv2 face (g54): `format("shapefile")` over the
    * g40 ESRI-whitepaper fixture with an attribute-only projection —
    * Catalyst's required-columns pushdown reaches the decoder, so the
    * geometry records are never JTS-built (ShapefileSpec proves the skip
    * with decode counters; this query hash-gates the values through the
    * pruned path end-to-end). */
  private def g54Fn(s: SparkSession, dir: String): DataFrame = {
    def unhex(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val d = java.nio.file.Files.createTempDirectory("graft_g54")
    // files must outlive this call (the returned plan reads them lazily);
    // deleteOnExit runs in reverse registration order — dir last
    d.toFile.deleteOnExit()
    java.nio.file.Files.write(d.resolve("pts.shp"), unhex(g40Shp)).toFile.deleteOnExit()
    java.nio.file.Files.write(d.resolve("pts.dbf"), unhex(g40Dbf)).toFile.deleteOnExit()
    s.read.format("shapefile").load(d.resolve("pts.shp").toString)
      .selectExpr("NAME AS name", "CAST(VAL AS BIGINT) AS val")
      .orderBy("name")
  }

  private val g54Duck = """
    SELECT * FROM (VALUES
      ('alpha', 10::BIGINT), ('beta', 20::BIGINT),
      ('delta', 40::BIGINT), ('gamma', 30::BIGINT)
    ) t(name, val) ORDER BY name"""

  /** ST_Subdivide: PostGIS-style envelope-halving decomposition, the 100-TB
    * spatial-join enabler — a multi-MB polygon becomes many bounded-vertex
    * pieces that index/broadcast/probe in O(piece). Each order row builds a
    * top-densified w×1 rectangle (w+4 vertices, w ∈ {8,16,24,32}); with a
    * 10-vertex budget the halving recursion is closed-form (splits land on
    * integer midpoints, JTS overlay preserves collinear vertices):
    * f(8)=2, f(16)=4, f(24)=4, f(32)=8 pieces, every piece ≤10 vertices,
    * areas exact. The oracle pins all three. */
  /** Polygonize + LineMerge (g56): linework → areas, the PostGIS
    * topology-assembly pair (JTS Polygonizer / LineMerger; beyond the
    * reference's op set — its overlay story stops at union/intersection).
    * The 25 nation rows derive a 5×5 unit grid's DISTINCT edge set (shared
    * edges appear once — Polygonizer requires noded, non-duplicated
    * linework), which assembles into exactly 25 unit cells; separately a
    * 3-segment chain per nation merges into one 4-point line each. All
    * surfaced values are order-insensitive collection aggregates
    * (count/area/npoints/length), and `GeomOps.polygonize` normalizes and
    * WKT-sorts its output polygons, so the result is deterministic under
    * any `collect_list` order. Oracle = closed-form grid arithmetic. */
  private val g56Spark = """
    WITH cells AS (SELECT CAST(n_nationkey % 5 AS INT) AS cx,
                          CAST(n_nationkey DIV 5 AS INT) AS cy FROM nation),
    ew AS (SELECT DISTINCT wkt FROM cells LATERAL VIEW explode(array(
             concat('LINESTRING(', cx, ' ', cy, ',', cx + 1, ' ', cy, ')'),
             concat('LINESTRING(', cx, ' ', cy + 1, ',', cx + 1, ' ', cy + 1, ')'),
             concat('LINESTRING(', cx, ' ', cy, ',', cx, ' ', cy + 1, ')'),
             concat('LINESTRING(', cx + 1, ' ', cy, ',', cx + 1, ' ', cy + 1, ')'))) t AS wkt),
    polys AS (SELECT ST_Polygonize(ST_Collect(collect_list(ST_GeomFromText(wkt)))) AS g FROM ew),
    cseg AS (SELECT wkt FROM (SELECT n_nationkey AS n FROM nation) LATERAL VIEW explode(array(
             concat('LINESTRING(', n, ' 0,', n, ' 0.25)'),
             concat('LINESTRING(', n, ' 0.25,', n, ' 0.5)'),
             concat('LINESTRING(', n, ' 0.5,', n, ' 1)'))) t AS wkt),
    merged AS (SELECT ST_LineMerge(ST_Collect(collect_list(ST_GeomFromText(wkt)))) AS g FROM cseg)
    SELECT CAST(ST_NumGeometries(p.g) AS BIGINT) AS n_polys,
           ROUND(ST_Area(p.g), 6) AS total_area,
           CAST(ST_NumGeometries(m.g) AS BIGINT) AS n_merged,
           CAST(ST_NPoints(m.g) AS BIGINT) AS merged_npoints,
           ROUND(ST_Length(m.g), 6) AS merged_len
    FROM polys p CROSS JOIN merged m"""

  private val g56Duck = """
    WITH cells AS (SELECT n_nationkey % 5 AS cx, n_nationkey // 5 AS cy FROM nation)
    SELECT COUNT(*)::BIGINT AS n_polys,
           ROUND(CAST(COUNT(*) AS DOUBLE), 6) AS total_area,
           COUNT(*)::BIGINT AS n_merged,
           (COUNT(*) * 4)::BIGINT AS merged_npoints,
           ROUND(CAST(COUNT(*) AS DOUBLE), 6) AS merged_len
    FROM cells"""

  /** Delaunay triangulation (g57): surface the triangulation INVARIANTS —
    * triangle count 2n − h − 2 (n distinct sites, h hull sites) and total
    * area = convex-hull area — which hold for EVERY maximal triangulation,
    * so the oracle derives them arithmetically without re-implementing the
    * triangulator even though the cocircular grid makes the triangle
    * CHOICE implementation-defined. Nation's guaranteed-complete 0..24 key
    * range builds a full 5×5 lattice (n=25, h=16 → 32 triangles, area 16);
    * region's 0..4 keys build a collinear degenerate (0 triangles, hull is
    * a zero-area line). Collect-then-kernel per group, the g08/g14
    * shape. */
  private val g57Spark = """
    WITH np AS (SELECT ST_Point(CAST(n_nationkey % 5 AS DOUBLE),
                                CAST(n_nationkey DIV 5 AS DOUBLE)) AS p FROM nation),
    gt AS (SELECT ST_DelaunayTriangles(ST_Collect(collect_list(p))) AS g,
                  ST_ConvexHull(ST_Collect(collect_list(p))) AS hull FROM np),
    rp AS (SELECT ST_Point(CAST(r_regionkey AS DOUBLE),
                           CAST(r_regionkey AS DOUBLE)) AS p FROM region),
    rt AS (SELECT ST_DelaunayTriangles(ST_Collect(collect_list(p))) AS g,
                  ST_ConvexHull(ST_Collect(collect_list(p))) AS hull FROM rp)
    SELECT 'grid' AS part, CAST(ST_NumGeometries(g) AS BIGINT) AS n_triangles,
           ROUND(ST_Area(g), 6) AS tri_area, ROUND(ST_Area(hull), 6) AS hull_area
    FROM gt
    UNION ALL
    SELECT 'line', CAST(ST_NumGeometries(g) AS BIGINT),
           ROUND(ST_Area(g), 6), ROUND(ST_Area(hull), 6)
    FROM rt
    ORDER BY part"""

  /** Voronoi partition (g58): cells of the nation 5×5 lattice clipped to
    * a surrounding box. The clipped cells PARTITION the box, so cell
    * count (= 25 sites) and total area (= box area 49) hold regardless of
    * construction details — the g57 invariant-oracle approach; individual
    * cell shapes are deliberately NOT pinned (boundary-cell geometry is a
    * construction detail). */
  private val g58Spark = """
    WITH np AS (SELECT ST_Point(CAST(n_nationkey % 5 AS DOUBLE),
                                CAST(n_nationkey DIV 5 AS DOUBLE)) AS p FROM nation),
    vt AS (SELECT ST_VoronoiPolygons(ST_Collect(collect_list(p)),
                                     -1.5D, -1.5D, 5.5D, 5.5D) AS g FROM np)
    SELECT CAST(ST_NumGeometries(g) AS BIGINT) AS n_cells,
           ROUND(ST_Area(g), 6) AS total_area
    FROM vt"""

  private val g58Duck = """
    WITH g AS (SELECT DISTINCT n_nationkey % 5 AS x, n_nationkey // 5 AS y FROM nation)
    SELECT COUNT(*)::BIGINT AS n_cells,
           ROUND(CAST(7 * 7 AS DOUBLE), 6) AS total_area
    FROM g"""

  private val g57Duck = """
    WITH g AS (SELECT DISTINCT n_nationkey % 5 AS x, n_nationkey // 5 AS y FROM nation),
    ga AS (SELECT COUNT(*) AS n, MAX(x) - MIN(x) AS w, MAX(y) - MIN(y) AS h FROM g),
    ra AS (SELECT COUNT(*) AS n FROM (SELECT DISTINCT r_regionkey FROM region))
    SELECT 'grid' AS part,
           (2 * n - (2 * w + 2 * h) - 2)::BIGINT AS n_triangles,
           ROUND(CAST(w * h AS DOUBLE), 6) AS tri_area,
           ROUND(CAST(w * h AS DOUBLE), 6) AS hull_area
    FROM ga
    UNION ALL
    SELECT 'line', 0::BIGINT, 0.0::DOUBLE, 0.0::DOUBLE FROM ra
    ORDER BY part"""

  private val g52Spark = """
    SELECT CAST(w AS INT) AS w, COUNT(*) AS n_pieces,
           CAST(SUM(ST_Area(p)) AS BIGINT) AS sum_area,
           MAX(CAST(ST_NPoints(p) AS INT)) AS max_np
    FROM (
      SELECT w, explode(ST_Subdivide(ST_GeomFromText(CONCAT(
               'POLYGON ((0 0, ', w, ' 0, ',
               concat_ws(', ', transform(sequence(w, 0, -1), x -> concat(CAST(x AS STRING), ' 1'))),
               ', 0 0))')), 10)) AS p
      FROM (SELECT /*+ REPARTITION({{P}}) */ CAST(8 * (1 + o_orderkey % 4) AS INT) AS w FROM orders)
    )
    GROUP BY w ORDER BY w"""

  private val g52Duck = """
    SELECT (8 * (1 + o_orderkey % 4))::INT AS w,
           SUM(CASE o_orderkey % 4 WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 4 ELSE 8 END)::BIGINT AS n_pieces,
           SUM(8 * (1 + o_orderkey % 4))::BIGINT AS sum_area,
           MAX(CASE WHEN o_orderkey % 4 = 2 THEN 10 ELSE 8 END)::INT AS max_np
    FROM orders GROUP BY 1 ORDER BY w"""

  /** Distributed DBSCAN (operators/Dbscan: DWithin grid join → ε-degree →
    * connected components → border adoption). Fixture: six 300-point blobs
    * 10 apart (every in-blob pair within ε=1 → all core, cluster label =
    * min id = blob index) plus 200 isolated points 50 apart (→ noise, -1).
    * The oracle reproduces the blob arithmetic; counts, min/max ids, and
    * labels are all closed-form. */
  private def g53Fn(s: SparkSession, dir: String): DataFrame = {
    val pts = s.sql("""
      SELECT id,
             ST_Point(CASE WHEN id < 1800 THEN (id % 6) * 10.0 + (id % 7) * 0.05
                           ELSE 1000.0 + (id - 1800) * 50.0 END,
                      CASE WHEN id < 1800 THEN (id % 11) * 0.05 ELSE 0.0 END) AS geom
      FROM range(2000)""")
    graft.operators.Dbscan.cluster(pts, "id", "geom", eps = 1.0, minPts = 10)
      .selectExpr("coalesce(cluster_id, -1) AS cluster_id", "id")
      .groupBy("cluster_id")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min("id").as("min_id"),
        org.apache.spark.sql.functions.max("id").as("max_id"))
      .orderBy("cluster_id")
  }

  private val g53Duck = """
    SELECT (CASE WHEN id < 1800 THEN id % 6 ELSE -1 END)::BIGINT AS cluster_id,
           COUNT(*)::BIGINT AS n, MIN(id)::BIGINT AS min_id, MAX(id)::BIGINT AS max_id
    FROM (SELECT unnest(range(0, 2000)) AS id) t
    GROUP BY 1 ORDER BY cluster_id"""

  /** Arrow IPC write→read roundtrip under the hash gate: a fixed point set
    * goes out through ArrowIpc.write (GeoArrow WKB layout, file-format IPC)
    * and back through ArrowIpc.read; values are pinned by a closed-form
    * oracle. Previously spec-only (ArrowIpcSpec vs the reference fixture). */
  private def g39Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g39_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_Point(CAST(id % 10 AS DOUBLE), CAST(id AS DOUBLE) / 4) AS geometry
      FROM range(100)""")
    // both wire formats roundtrip: footer-bearing FILE (.arrow) and
    // bare-message STREAM (.arrows — schema + batches + EOS, no footer)
    graft.sources.ArrowIpc.write(df, out)
    graft.sources.ArrowIpc.write(df, out + "_s", streamFormat = true)
    def back(p: String, fmt: String): DataFrame =
      graft.sources.ArrowIpc.read(s, p)
        .selectExpr(s"'$fmt' AS fmt", "fid",
          "CAST(ST_X(geometry) AS BIGINT) AS x",
          "ROUND(ST_Y(geometry), 2) AS y")
    back(out, "file").unionAll(back(out + "_s", "stream")).orderBy("fmt", "fid")
  }

  private val g39Duck = """
    SELECT f.fmt, i::BIGINT AS fid, (i % 10)::BIGINT AS x, ROUND(i / 4.0, 2) AS y
    FROM range(100) t(i), (VALUES ('file'), ('stream')) f(fmt) ORDER BY fmt, fid"""

  /** Arrow IPC through the DSv2 face (g55): write a geometry + wide
    * property file, read back with `format("arrowipc")` under an
    * attribute-only projection — required-columns pushdown reaches the
    * decoder (no JTS build for the pruned geometry; ArrowIpcSpec proves
    * the skip with decode counters, this query hash-gates the values
    * through the pruned path end-to-end). */
  private def g55Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g55_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid, CAST(id % 7 AS INT) AS grp,
             CAST(id AS DOUBLE) / 8 AS score,
             ST_Point(CAST(id % 10 AS DOUBLE), CAST(id AS DOUBLE) / 4) AS geometry
      FROM range(200)""")
    graft.sources.ArrowIpc.write(df, out)
    s.read.format("arrowipc").load(out)
      .groupBy("grp")
      .agg(org.apache.spark.sql.functions.expr("COUNT(*)").as("n"),
        org.apache.spark.sql.functions.expr("SUM(fid)").as("sum_fid"),
        org.apache.spark.sql.functions.expr("ROUND(SUM(score), 6)").as("sum_score"))
      .orderBy("grp")
  }

  private val g55Duck = """
    SELECT (i % 7)::INT AS grp, COUNT(*)::BIGINT AS n, SUM(i)::BIGINT AS sum_fid,
           ROUND(SUM(i / 8.0), 6) AS sum_score
    FROM range(200) t(i) GROUP BY 1 ORDER BY 1"""

  // a 4-point .shp + typed .dbf, built byte-for-byte from the public ESRI
  // whitepaper layout (the ShapefileSpec builders, serialized once to hex):
  // points (1 2) (3 4) (5 6) (7 8); NAME C(8) alpha/beta/gamma/delta,
  // VAL N(6) 10/20/30/40
  private val g40Shp =
    "0000270A00000000000000000000000000000000000000000000006AE803000001000000000000000000" +
    "000000000000000000000000000000000000000000000000000000000000000000000000000000000000" +
    "00000000000000000000000000000000000000010000000A01000000000000000000F03F000000000000" +
    "0040000000020000000A0100000000000000000008400000000000001040000000030000000A01000000" +
    "00000000000014400000000000001840000000040000000A010000000000000000001C40000000000000" +
    "2040"
  private val g40Dbf =
    "037E01010400000061000F0000000000000000000000000000000000000000004E414D45000000000000" +
    "0043000000000800000000000000000000000000000056414C00000000000000004E0000000006000000" +
    "0000000000000000000000000D20616C7068612020202020202031302062657461202020202020202032" +
    "302067616D6D612020202020202033302064656C74612020202020202034301A"

  /** Shapefile source under the hash gate: the fixture above is materialized
    * to a temp dir in-query, read through sources/Shapefile (.shp geometry +
    * .dbf typed attributes), and pinned to literals. Previously spec-only. */
  private def g40Fn(s: SparkSession, dir: String): DataFrame = {
    def unhex(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val d = java.nio.file.Files.createTempDirectory("graft_g40")
    d.toFile.deleteOnExit() // see g54 — plan reads lazily, clean at JVM exit
    java.nio.file.Files.write(d.resolve("pts.shp"), unhex(g40Shp)).toFile.deleteOnExit()
    java.nio.file.Files.write(d.resolve("pts.dbf"), unhex(g40Dbf)).toFile.deleteOnExit()
    graft.sources.Shapefile.read(s, d.resolve("pts.shp").toString)
      .selectExpr("NAME AS name", "CAST(VAL AS BIGINT) AS val",
        "ST_AsText(geometry) AS wkt")
      .orderBy("name")
  }

  private val g40Duck = """
    SELECT * FROM (VALUES
      ('alpha', 10::BIGINT, 'POINT (1 2)'),
      ('beta',  20::BIGINT, 'POINT (3 4)'),
      ('delta', 40::BIGINT, 'POINT (7 8)'),
      ('gamma', 30::BIGINT, 'POINT (5 6)')
    ) t(name, val, wkt) ORDER BY name"""

  // Z/M shapefile fixtures (ESRI whitepaper byte layout, ShapefileSpec's
  // builders serialized to hex): PointZ with/without the optional M slot,
  // PolyLineZ with and without the optional M band, PolygonZ (shell+hole,
  // Z only), MultiPointZ with M. The reference reader materializes XYZ for
  // all four Z types (rust/geoarrow-old/src/io/shapefile/reader.rs:100-230);
  // decoding the M band on top is this repo's extension.
  private val g93Files: Seq[(String, String)] = Seq(
    "pz.shp" -> ("0000270A00000000000000000000000000000000000000000000005AE80300000B000000000000000000" +
      "000000000000000000000000000000000000000000000000000000000000000000000000000000000000" +
      "0000000000000000000000000000000000000001000000120B000000000000000000F03F000000000000" +
      "00400000000000003E400000000000001E40000000020000000E0B000000000000000000084000000000" +
      "000010400000000000004940"),
    "pz.dbf" -> ("037E01010200000041000500000000000000000000000000000000000000000049440000000000000000" +
      "004E00000000040000000000000000000000000000000D202020203120202020321A"),
    "lz.shp" -> ("0000270A0000000000000000000000000000000000000000000000ECE80300000D000000000000000000" +
      "000000000000000000000000000000000000000000000000000000000000000000000000000000000000" +
      "00000000000000000000000000000000000000010000007A0D0000000000000000000000000000000000" +
      "000000000000000028400000000000001440020000000500000000000000020000000000000000000000" +
      "000000000000000000000000000008400000000000001040000000000000244000000000000000000000" +
      "000000002440000000000000144000000000000028400000000000001440000000000000F03F00000000" +
      "0000344000000000000024400000000000003440000000000000F03F0000000000000040000000000000" +
      "084000000000000059400000000000407F40000000000000594000000000000069400000000000C07240" +
      "00000000000079400000000000407F4000000002000000380D0000000000000000001440000000000000" +
      "144000000000000018400000000000001840010000000200000000000000000000000000144000000000" +
      "00001440000000000000184000000000000018400000000000001C400000000000002040000000000000" +
      "1C400000000000002040"),
    "lz.dbf" -> ("037E01010200000041000500000000000000000000000000000000000000000049440000000000000000" +
      "004E00000000040000000000000000000000000000000D202020203120202020321A"),
    "gz.shp" -> ("0000270A0000000000000000000000000000000000000000000000D0E80300000F000000000000000000" +
      "000000000000000000000000000000000000000000000000000000000000000000000000000000000000" +
      "00000000000000000000000000000000000000010000009A0F0000000000000000000000000000000000" +
      "000000000000000024400000000000002440020000000A00000000000000050000000000000000000000" +
      "000000000000000000000000000000000000000000002440000000000000244000000000000024400000" +
      "000000002440000000000000000000000000000000000000000000000000000000000000004000000000" +
      "000000400000000000001040000000000000004000000000000010400000000000001040000000000000" +
      "004000000000000010400000000000000040000000000000004000000000000014400000000000001440" +
      "000000000000144000000000000014400000000000001440000000000000144000000000000014400000" +
      "0000000014400000000000001440000000000000144000000000000014400000000000001440"),
    "gz.dbf" -> ("037E01010100000041000500000000000000000000000000000000000000000049440000000000000000" +
      "004E00000000040000000000000000000000000000000D20202020311A"),
    "mz.shp" -> ("0000270A00000000000000000000000000000000000000000000007AE803000012000000000000000000" +
      "000000000000000000000000000000000000000000000000000000000000000000000000000000000000" +
      "00000000000000000000000000000000000000010000004412000000000000000000F03F000000000000" +
      "00400000000000000840000000000000104002000000000000000000F03F000000000000004000000000" +
      "000008400000000000001040000000000000264000000000000036400000000000002640000000000000" +
      "3640000000000000E03F000000000000F83F000000000000E03F000000000000F83F"),
    "mz.dbf" -> ("037E01010100000041000500000000000000000000000000000000000000000049440000000000000000" +
      "004E00000000040000000000000000000000000000000D20202020311A"))

  /** Shapefile Z/M band fidelity under the hash gate (g93): all four Z
    * record types (PointZ/PolyLineZ/PolygonZ/MultiPointZ) decode their Z
    * band — and the OPTIONAL trailing M band when the record's content
    * length holds one — into JTS XYZ/XYZM sequences, pinned to WKT
    * literals that carry every ordinate. Covers the per-record M-slot
    * distinction (pz rec 1 vs 2; lz rec 1 vs 2) that content-length
    * band detection keys on. */
  private def g93Fn(s: SparkSession, dir: String): DataFrame = {
    def unhex(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val d = java.nio.file.Files.createTempDirectory("graft_g93")
    d.toFile.deleteOnExit()
    g93Files.foreach { case (name, hex) =>
      java.nio.file.Files.write(d.resolve(name), unhex(hex)).toFile.deleteOnExit()
    }
    Seq("pz", "lz", "gz", "mz").map { src =>
      graft.sources.Shapefile.read(s, d.resolve(s"$src.shp").toString)
        .selectExpr(s"'$src' AS src", "CAST(ID AS BIGINT) AS id",
          "ST_AsText(geometry) AS wkt",
          "ST_HasZ(geometry) AS has_z", "ST_HasM(geometry) AS has_m")
    }.reduce(_ unionAll _).orderBy("src", "id")
  }

  private val g93Duck = """
    SELECT * FROM (VALUES
      ('gz', 1::BIGINT, 'POLYGON Z((0 0 5, 0 10 5, 10 10 5, 10 0 5, 0 0 5), (2 2 5, 4 2 5, 4 4 5, 2 4 5, 2 2 5))', true, false),
      ('lz', 1::BIGINT, 'MULTILINESTRING ZM((0 0 10 100, 3 4 20 200), (10 0 1 300, 10 5 2 400, 12 5 3 500))', true, true),
      ('lz', 2::BIGINT, 'LINESTRING Z(5 5 7, 6 6 8)', true, false),
      ('mz', 1::BIGINT, 'MULTIPOINT ZM((1 2 11 0.5), (3 4 22 1.5))', true, true),
      ('pz', 1::BIGINT, 'POINT ZM(1 2 30 7.5)', true, true),
      ('pz', 2::BIGINT, 'POINT Z(3 4 50)', true, false)
    ) t(src, id, wkt, has_z, has_m) ORDER BY src, id"""

  /** Conic pivot-matrix closure (g94): arbitrary projected↔projected pairs
    * involving the round-15 conic grids compose through the 4326 pivot
    * (Geodesy.transform's composition case). Pinned as ZERO-DELTA gates —
    * the 4326→X→Y→4326 round trip returns the input at the 0.1-µdeg grid
    * (inverse iterations converge to 1e-13 rad, so the deltas are ~1e5×
    * under the grid), and 4326→5070→2154 equals the direct 4326→2154 leg
    * at the millimeter grid. Any wiring error in the composition case
    * (wrong leg order, missed domain check, constants resolved for the
    * wrong CRS) breaks a pin by many grid steps. */
  private val g94Spark = """
    WITH pts AS (SELECT * FROM VALUES
        (0, -100.0D, 40.0D), (1, -80.0D, 35.0D), (2, 2.35D, 48.85D),
        (3, 5.0D, 44.0D), (4, -120.0D, 49.0D)
      AS t(id, lon, lat)),
    t AS (SELECT id, lon, lat,
            ST_Transform(ST_Transform(ST_Transform(
              ST_Point(lon, lat), 4326, 5070), 5070, 2154), 2154, 4326) AS rt,
            ST_Transform(ST_Point(lon, lat), 4326, 2154) AS direct,
            ST_Transform(ST_Transform(
              ST_Point(lon, lat), 4326, 5070), 5070, 2154) AS composed
          FROM pts)
    SELECT id,
      CAST(ROUND(ABS(ST_X(rt) - lon) * 1e7, 0) AS BIGINT) AS dlon_01udeg,
      CAST(ROUND(ABS(ST_Y(rt) - lat) * 1e7, 0) AS BIGINT) AS dlat_01udeg,
      CAST(ROUND(ABS(ST_X(composed) - ST_X(direct)) * 1e3, 0) AS BIGINT) AS dx_mm,
      CAST(ROUND(ABS(ST_Y(composed) - ST_Y(direct)) * 1e3, 0) AS BIGINT) AS dy_mm
    FROM t ORDER BY id"""

  private val g94Duck = """
    SELECT * FROM (VALUES
      (0, 0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT),
      (1, 0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT),
      (2, 0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT),
      (3, 0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT),
      (4, 0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT)
    ) t(id, dlon_01udeg, dlat_01udeg, dx_mm, dy_mm) ORDER BY id"""

  /** EPSG:27700 British National Grid (g104) — the first non-WGS84-datum
    * CRS: WGS84 geodetic → ECEF → 7-param Helmert (position-vector, the
    * published OS national parameters) → Airy 1830 geodetic (fixed-point
    * iteration) → Krüger-series transverse Mercator with the 49°N/2°W
    * false origin. The DuckDB oracle REPLAYS the entire chain from the
    * published formulas (the g92 discipline) with hyperbolics in exp/ln
    * form; both sides gate at integer metres on ~1e5-1e6 m values, a grid
    * ~1e9× above JVM-vs-libm ulp noise. */
  private val g104Spark = """
    SELECT id, ROUND(ST_X(g), 0) AS easting, ROUND(ST_Y(g), 0) AS northing
    FROM (SELECT c_custkey AS id,
                 ST_Transform(ST_Point(-6.0 + CAST(c_custkey % 76 AS DOUBLE) / 10.0,
                                       50.0 + CAST(c_custkey % 85 AS DOUBLE) / 10.0),
                              4326, 27700) AS g
          FROM customer)
    ORDER BY id"""

  private val g104Duck = """
    WITH k AS (
      SELECT 6378137.0 AS aw,
             (1.0/298.257223563)*(2.0 - 1.0/298.257223563) AS e2w,
             6377563.396 AS aa,
             (6377563.396 - 6356256.909)/6377563.396 AS fa,
             -446.448 AS tx, 125.157 AS ty, -542.060 AS tz, 20.4894*1e-6 AS hs,
             radians(-0.1502/3600.0) AS rx, radians(-0.2470/3600.0) AS ry,
             radians(-0.8421/3600.0) AS rz,
             0.9996012717 AS k0, radians(-2.0) AS lam0, radians(49.0) AS phi0,
             400000.0 AS e00, -100000.0 AS n00
    ), k2 AS (
      SELECT *, fa*(2.0-fa) AS e2a, sqrt(fa*(2.0-fa)) AS ea, fa/(2.0-fa) AS tn FROM k
    ), k3 AS (
      SELECT *,
        aa/(1.0+tn)*(1.0 + tn*tn/4.0 + (tn*tn)*(tn*tn)/64.0
                     + (tn*tn)*(tn*tn)*(tn*tn)/256.0) AS biga,
        tn/2.0 - 2.0*tn*tn/3.0 + 5.0*tn*tn*tn/16.0 + 41.0*tn*tn*tn*tn/180.0
          - 127.0*tn*tn*tn*tn*tn/288.0 + 7891.0*tn*tn*tn*tn*tn*tn/37800.0 AS c1,
        13.0*tn*tn/48.0 - 3.0*tn*tn*tn/5.0 + 557.0*tn*tn*tn*tn/1440.0
          + 281.0*tn*tn*tn*tn*tn/630.0 - 1983433.0*tn*tn*tn*tn*tn*tn/1935360.0 AS c2,
        61.0*tn*tn*tn/240.0 - 103.0*tn*tn*tn*tn/140.0 + 15061.0*tn*tn*tn*tn*tn/26880.0
          + 167603.0*tn*tn*tn*tn*tn*tn/181440.0 AS c3,
        49561.0*tn*tn*tn*tn/161280.0 - 179.0*tn*tn*tn*tn*tn/168.0
          + 6601661.0*tn*tn*tn*tn*tn*tn/7257600.0 AS c4,
        34729.0*tn*tn*tn*tn*tn/80640.0 - 3418889.0*tn*tn*tn*tn*tn*tn/1995840.0 AS c5,
        212378941.0*tn*tn*tn*tn*tn*tn/319334400.0 AS c6
      FROM k2
    ), k4 AS (
      SELECT *, 0.5*ln((1.0+sin(phi0))/(1.0-sin(phi0)))
                - ea*0.5*ln((1.0+ea*sin(phi0))/(1.0-ea*sin(phi0))) AS u0
      FROM k3
    ), k5 AS (
      SELECT *, atan((exp(u0)-exp(-u0))/2.0) AS xip0 FROM k4
    ), k6 AS (
      SELECT *, xip0 + c1*sin(2.0*xip0) + c2*sin(4.0*xip0) + c3*sin(6.0*xip0)
              + c4*sin(8.0*xip0) + c5*sin(10.0*xip0) + c6*sin(12.0*xip0) AS xi0
      FROM k5
    ), pts AS (
      SELECT c_custkey AS id,
             radians(-6.0 + (c_custkey % 76)/10.0) AS lam,
             radians(50.0 + (c_custkey % 85)/10.0) AS phi
      FROM customer
    ), ecef AS (
      SELECT id,
             (aw/sqrt(1.0-e2w*sin(phi)*sin(phi)))*cos(phi)*cos(lam) AS x1,
             (aw/sqrt(1.0-e2w*sin(phi)*sin(phi)))*cos(phi)*sin(lam) AS y1,
             (aw/sqrt(1.0-e2w*sin(phi)*sin(phi)))*(1.0-e2w)*sin(phi) AS z1
      FROM pts, k6
    ), helm AS (
      SELECT id,
             tx + (1.0+hs)*x1 - rz*y1 + ry*z1 AS x2,
             ty + rz*x1 + (1.0+hs)*y1 - rx*z1 AS y2,
             tz - ry*x1 + rx*y1 + (1.0+hs)*z1 AS z2
      FROM ecef, k6
    ), g0 AS (
      SELECT id, atan2(y2, x2) AS lam2, sqrt(x2*x2+y2*y2) AS p, z2,
             atan2(z2, sqrt(x2*x2+y2*y2)*(1.0-e2a)) AS f
      FROM helm, k6
    ), g1 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g0, k6),
    g2 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g1, k6),
    g3 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g2, k6),
    g4 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g3, k6),
    g5 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g4, k6),
    g6 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g5, k6),
    g7 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g6, k6),
    g8 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g7, k6),
    g9 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g8, k6),
    tm0 AS (
      SELECT id, lam2 - lam0 AS dl, sin(f) AS sf FROM g9, k6
    ), tm1 AS (
      SELECT id, dl, 0.5*ln((1.0+sf)/(1.0-sf)) - ea*0.5*ln((1.0+ea*sf)/(1.0-ea*sf)) AS u
      FROM tm0, k6
    ), tm2 AS (
      SELECT id, dl, (exp(u)-exp(-u))/2.0 AS t FROM tm1
    ), tm3 AS (
      SELECT id, atan2(t, cos(dl)) AS xip,
             ln(sin(dl)/sqrt(t*t + cos(dl)*cos(dl))
                + sqrt((sin(dl)/sqrt(t*t + cos(dl)*cos(dl)))
                       *(sin(dl)/sqrt(t*t + cos(dl)*cos(dl))) + 1.0)) AS etap
      FROM tm2
    ), tm4 AS (
      SELECT id,
             xip + c1*sin(2.0*xip)*(exp(2.0*etap)+exp(-2.0*etap))/2.0
                 + c2*sin(4.0*xip)*(exp(4.0*etap)+exp(-4.0*etap))/2.0
                 + c3*sin(6.0*xip)*(exp(6.0*etap)+exp(-6.0*etap))/2.0
                 + c4*sin(8.0*xip)*(exp(8.0*etap)+exp(-8.0*etap))/2.0
                 + c5*sin(10.0*xip)*(exp(10.0*etap)+exp(-10.0*etap))/2.0
                 + c6*sin(12.0*xip)*(exp(12.0*etap)+exp(-12.0*etap))/2.0 AS xi,
             etap + c1*cos(2.0*xip)*(exp(2.0*etap)-exp(-2.0*etap))/2.0
                  + c2*cos(4.0*xip)*(exp(4.0*etap)-exp(-4.0*etap))/2.0
                  + c3*cos(6.0*xip)*(exp(6.0*etap)-exp(-6.0*etap))/2.0
                  + c4*cos(8.0*xip)*(exp(8.0*etap)-exp(-8.0*etap))/2.0
                  + c5*cos(10.0*xip)*(exp(10.0*etap)-exp(-10.0*etap))/2.0
                  + c6*cos(12.0*xip)*(exp(12.0*etap)-exp(-12.0*etap))/2.0 AS eta
      FROM tm3, k6
    )
    SELECT id, ROUND(e00 + k0*biga*eta, 0) AS easting,
           ROUND(n00 + k0*biga*(xi - xi0), 0) AS northing
    FROM tm4, k6 ORDER BY id"""

  /** Parameterized projections (g112, round 18): custom grids from RAW
    * parameters — the escape hatch for CRSs outside the EPSG registry
    * (`ST_TransformTM` / `ST_TransformLAEA`, graft.core.Geodesy
    * `transformTm`/`transformLaea`; projections cached per parameter
    * tuple). The fixture uses deliberately NON-EPSG constants (made-up
    * ellipsoid a=6378200 1/f=297.5, k0=1.0003, offset false origins) so
    * nothing can secretly route through a registered code; the oracle
    * replays both chains from the same raw constants (the g104/g107
    * discipline). */
  private val g112Spark = """
    SELECT id, ROUND(ST_X(t), 0) AS tm_e, ROUND(ST_Y(t), 0) AS tm_n,
           ROUND(ST_X(l), 0) AS la_e, ROUND(ST_Y(l), 0) AS la_n
    FROM (SELECT c_custkey AS id,
                 ST_TransformTM(pt, 6378200.0D, 297.5D, 1.0003D, 13.5D, 0.0D,
                                123456.0D, -50000.0D) AS t,
                 ST_TransformLAEA(pt, 6378200.0D, 297.5D, 47.0D, 13.5D,
                                  500000.0D, 400000.0D) AS l
          FROM (SELECT c_custkey,
                       ST_Point(10.0 + CAST(c_custkey % 70 AS DOUBLE) / 10.0,
                                40.0 + CAST(c_custkey % 150 AS DOUBLE) / 10.0) AS pt
                FROM customer) t0)
    ORDER BY id"""

  private val g112Duck = """
    WITH k AS (
      SELECT 6378200.0 AS aa, 1.0/297.5 AS fa,
             1.0003 AS k0, radians(13.5) AS lam0, 123456.0 AS e00, -50000.0 AS n00,
             radians(47.0) AS lphi0, radians(13.5) AS llam0,
             500000.0 AS lfe, 400000.0 AS lfn
    ), k2 AS (
      SELECT *, fa*(2.0-fa) AS e2a, sqrt(fa*(2.0-fa)) AS ea, fa/(2.0-fa) AS tn FROM k
    ), k3 AS (
      SELECT *,
        aa/(1.0+tn)*(1.0 + tn*tn/4.0 + (tn*tn)*(tn*tn)/64.0
                     + (tn*tn)*(tn*tn)*(tn*tn)/256.0) AS biga,
        tn/2.0 - 2.0*tn*tn/3.0 + 5.0*tn*tn*tn/16.0 + 41.0*tn*tn*tn*tn/180.0
          - 127.0*tn*tn*tn*tn*tn/288.0 + 7891.0*tn*tn*tn*tn*tn*tn/37800.0 AS c1,
        13.0*tn*tn/48.0 - 3.0*tn*tn*tn/5.0 + 557.0*tn*tn*tn*tn/1440.0
          + 281.0*tn*tn*tn*tn*tn/630.0 - 1983433.0*tn*tn*tn*tn*tn*tn/1935360.0 AS c2,
        61.0*tn*tn*tn/240.0 - 103.0*tn*tn*tn*tn/140.0 + 15061.0*tn*tn*tn*tn*tn/26880.0
          + 167603.0*tn*tn*tn*tn*tn*tn/181440.0 AS c3,
        49561.0*tn*tn*tn*tn/161280.0 - 179.0*tn*tn*tn*tn*tn/168.0
          + 6601661.0*tn*tn*tn*tn*tn*tn/7257600.0 AS c4,
        34729.0*tn*tn*tn*tn*tn/80640.0 - 3418889.0*tn*tn*tn*tn*tn*tn/1995840.0 AS c5,
        212378941.0*tn*tn*tn*tn*tn*tn/319334400.0 AS c6,
        (1.0-e2a)*(sin(lphi0)/(1.0-e2a*sin(lphi0)*sin(lphi0))
          - (1.0/(2.0*ea))*ln((1.0-ea*sin(lphi0))/(1.0+ea*sin(lphi0)))) AS q1,
        (1.0-e2a)*(1.0/(1.0-e2a) - (1.0/(2.0*ea))*ln((1.0-ea)/(1.0+ea))) AS qp
      FROM k2
    ), k4 AS (
      SELECT *, asin(q1/qp) AS b1, aa*sqrt(qp/2.0) AS rq,
             cos(lphi0)/sqrt(1.0-e2a*sin(lphi0)*sin(lphi0)) AS m1
      FROM k3
    ), k5 AS (
      SELECT *, aa*m1/(rq*cos(b1)) AS d FROM k4
    ), pts AS (
      SELECT c_custkey AS id,
             radians(10.0 + (c_custkey % 70)/10.0) AS lam,
             radians(40.0 + (c_custkey % 150)/10.0) AS phi
      FROM customer
    ), tm1 AS (
      SELECT id, lam, phi, lam - lam0 AS dl, sin(phi) AS sf FROM pts, k5
    ), tm2 AS (
      SELECT id, lam, phi, dl,
             (exp(0.5*ln((1.0+sf)/(1.0-sf)) - ea*0.5*ln((1.0+ea*sf)/(1.0-ea*sf)))
              - exp(-(0.5*ln((1.0+sf)/(1.0-sf)) - ea*0.5*ln((1.0+ea*sf)/(1.0-ea*sf)))))/2.0 AS t
      FROM tm1, k5
    ), tm3 AS (
      SELECT id, lam, phi, atan2(t, cos(dl)) AS xip,
             ln(sin(dl)/sqrt(t*t + cos(dl)*cos(dl))
                + sqrt((sin(dl)/sqrt(t*t + cos(dl)*cos(dl)))
                       *(sin(dl)/sqrt(t*t + cos(dl)*cos(dl))) + 1.0)) AS etap
      FROM tm2
    ), tm4 AS (
      SELECT id, lam, phi,
             xip + c1*sin(2.0*xip)*(exp(2.0*etap)+exp(-2.0*etap))/2.0
                 + c2*sin(4.0*xip)*(exp(4.0*etap)+exp(-4.0*etap))/2.0
                 + c3*sin(6.0*xip)*(exp(6.0*etap)+exp(-6.0*etap))/2.0
                 + c4*sin(8.0*xip)*(exp(8.0*etap)+exp(-8.0*etap))/2.0
                 + c5*sin(10.0*xip)*(exp(10.0*etap)+exp(-10.0*etap))/2.0
                 + c6*sin(12.0*xip)*(exp(12.0*etap)+exp(-12.0*etap))/2.0 AS xi,
             etap + c1*cos(2.0*xip)*(exp(2.0*etap)-exp(-2.0*etap))/2.0
                  + c2*cos(4.0*xip)*(exp(4.0*etap)-exp(-4.0*etap))/2.0
                  + c3*cos(6.0*xip)*(exp(6.0*etap)-exp(-6.0*etap))/2.0
                  + c4*cos(8.0*xip)*(exp(8.0*etap)-exp(-8.0*etap))/2.0
                  + c5*cos(10.0*xip)*(exp(10.0*etap)-exp(-10.0*etap))/2.0
                  + c6*cos(12.0*xip)*(exp(12.0*etap)-exp(-12.0*etap))/2.0 AS eta
      FROM tm3, k5
    ), laea AS (
      SELECT id, lam - llam0 AS dl,
             asin(((1.0-e2a)*(sin(phi)/(1.0-e2a*sin(phi)*sin(phi))
               - (1.0/(2.0*ea))*ln((1.0-ea*sin(phi))/(1.0+ea*sin(phi)))))/qp) AS beta
      FROM pts, k5
    ), laea2 AS (
      SELECT id, dl, beta,
             rq*sqrt(2.0/(1.0 + sin(b1)*sin(beta) + cos(b1)*cos(beta)*cos(dl))) AS bb
      FROM laea, k5
    )
    SELECT t.id,
           ROUND(e00 + k0*biga*eta, 0) AS tm_e,
           ROUND(n00 + k0*biga*xi, 0) AS tm_n,
           ROUND(lfe + bb*d*cos(beta)*sin(l2.dl), 0) AS la_e,
           ROUND(lfn + (bb/d)*(cos(b1)*sin(beta) - sin(b1)*cos(beta)*cos(l2.dl)), 0) AS la_n
    FROM tm4 t JOIN laea2 l2 ON l2.id = t.id, k5
    ORDER BY t.id"""

  /** NAD27 datum family (g111, round 18) — the THIRD non-WGS84 datum:
    * EPSG:4267 (NAD27 geographic, Clarke 1866) via the inverse of the
    * published CONUS-mean geocentric translation (EPSG tfm 1173) and
    * EPSG:26714 (NAD27/UTM 14N). Same oracle discipline as g108: DuckDB
    * replays ECEF → translate → unrolled geodetic inverse → Krüger on
    * Clarke 1866 over a CONUS grid. */
  private val g111Spark = """
    SELECT id, ROUND(ST_X(g), 6) AS nad_lon, ROUND(ST_Y(g), 6) AS nad_lat,
           ROUND(ST_X(u), 0) AS easting, ROUND(ST_Y(u), 0) AS northing
    FROM (SELECT c_custkey AS id,
                 ST_Transform(pt, 4326, 4267) AS g,
                 ST_Transform(pt, 4326, 26714) AS u
          FROM (SELECT c_custkey,
                       ST_Point(-102.0 + CAST(c_custkey % 58 AS DOUBLE) / 10.0,
                                27.0 + CAST(c_custkey % 220 AS DOUBLE) / 10.0) AS pt
                FROM customer) t0)
    ORDER BY id"""

  private val g111Duck = """
    WITH k AS (
      SELECT 6378137.0 AS aw,
             (1.0/298.257223563)*(2.0 - 1.0/298.257223563) AS e2w,
             6378206.4 AS aa, (6378206.4 - 6356583.8)/6378206.4 AS fa,
             8.0 AS tx, -160.0 AS ty, -176.0 AS tz,
             0.9996 AS k0, radians(-99.0) AS lam0, 500000.0 AS e00, 0.0 AS n00
    ), k2 AS (
      SELECT *, fa*(2.0-fa) AS e2a, sqrt(fa*(2.0-fa)) AS ea, fa/(2.0-fa) AS tn FROM k
    ), k3 AS (
      SELECT *,
        aa/(1.0+tn)*(1.0 + tn*tn/4.0 + (tn*tn)*(tn*tn)/64.0
                     + (tn*tn)*(tn*tn)*(tn*tn)/256.0) AS biga,
        tn/2.0 - 2.0*tn*tn/3.0 + 5.0*tn*tn*tn/16.0 + 41.0*tn*tn*tn*tn/180.0
          - 127.0*tn*tn*tn*tn*tn/288.0 + 7891.0*tn*tn*tn*tn*tn*tn/37800.0 AS c1,
        13.0*tn*tn/48.0 - 3.0*tn*tn*tn/5.0 + 557.0*tn*tn*tn*tn/1440.0
          + 281.0*tn*tn*tn*tn*tn/630.0 - 1983433.0*tn*tn*tn*tn*tn*tn/1935360.0 AS c2,
        61.0*tn*tn*tn/240.0 - 103.0*tn*tn*tn*tn/140.0 + 15061.0*tn*tn*tn*tn*tn/26880.0
          + 167603.0*tn*tn*tn*tn*tn*tn/181440.0 AS c3,
        49561.0*tn*tn*tn*tn/161280.0 - 179.0*tn*tn*tn*tn*tn/168.0
          + 6601661.0*tn*tn*tn*tn*tn*tn/7257600.0 AS c4,
        34729.0*tn*tn*tn*tn*tn/80640.0 - 3418889.0*tn*tn*tn*tn*tn*tn/1995840.0 AS c5,
        212378941.0*tn*tn*tn*tn*tn*tn/319334400.0 AS c6
      FROM k2
    ), pts AS (
      SELECT c_custkey AS id,
             radians(-102.0 + (c_custkey % 58)/10.0) AS lam,
             radians(27.0 + (c_custkey % 220)/10.0) AS phi
      FROM customer
    ), ecef AS (
      SELECT id,
             (aw/sqrt(1.0-e2w*sin(phi)*sin(phi)))*cos(phi)*cos(lam) AS x1,
             (aw/sqrt(1.0-e2w*sin(phi)*sin(phi)))*cos(phi)*sin(lam) AS y1,
             (aw/sqrt(1.0-e2w*sin(phi)*sin(phi)))*(1.0-e2w)*sin(phi) AS z1
      FROM pts, k3
    ), helm AS (
      SELECT id, x1 + tx AS x2, y1 + ty AS y2, z1 + tz AS z2 FROM ecef, k3
    ), g0 AS (
      SELECT id, atan2(y2, x2) AS lam2, sqrt(x2*x2+y2*y2) AS p, z2,
             atan2(z2, sqrt(x2*x2+y2*y2)*(1.0-e2a)) AS f
      FROM helm, k3
    ), g1 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g0, k3),
    g2 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g1, k3),
    g3 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g2, k3),
    g4 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g3, k3),
    g5 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g4, k3),
    g6 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g5, k3),
    g7 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g6, k3),
    g8 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g7, k3),
    g9 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g8, k3),
    tm0 AS (
      SELECT id, lam2, f AS phi, lam2 - lam0 AS dl, sin(f) AS sf FROM g9, k3
    ), tm1 AS (
      SELECT id, lam2, phi, dl,
             0.5*ln((1.0+sf)/(1.0-sf)) - ea*0.5*ln((1.0+ea*sf)/(1.0-ea*sf)) AS u
      FROM tm0, k3
    ), tm2 AS (
      SELECT id, lam2, phi, dl, (exp(u)-exp(-u))/2.0 AS t FROM tm1
    ), tm3 AS (
      SELECT id, lam2, phi, atan2(t, cos(dl)) AS xip,
             ln(sin(dl)/sqrt(t*t + cos(dl)*cos(dl))
                + sqrt((sin(dl)/sqrt(t*t + cos(dl)*cos(dl)))
                       *(sin(dl)/sqrt(t*t + cos(dl)*cos(dl))) + 1.0)) AS etap
      FROM tm2
    ), tm4 AS (
      SELECT id, lam2, phi,
             xip + c1*sin(2.0*xip)*(exp(2.0*etap)+exp(-2.0*etap))/2.0
                 + c2*sin(4.0*xip)*(exp(4.0*etap)+exp(-4.0*etap))/2.0
                 + c3*sin(6.0*xip)*(exp(6.0*etap)+exp(-6.0*etap))/2.0
                 + c4*sin(8.0*xip)*(exp(8.0*etap)+exp(-8.0*etap))/2.0
                 + c5*sin(10.0*xip)*(exp(10.0*etap)+exp(-10.0*etap))/2.0
                 + c6*sin(12.0*xip)*(exp(12.0*etap)+exp(-12.0*etap))/2.0 AS xi,
             etap + c1*cos(2.0*xip)*(exp(2.0*etap)-exp(-2.0*etap))/2.0
                  + c2*cos(4.0*xip)*(exp(4.0*etap)-exp(-4.0*etap))/2.0
                  + c3*cos(6.0*xip)*(exp(6.0*etap)-exp(-6.0*etap))/2.0
                  + c4*cos(8.0*xip)*(exp(8.0*etap)-exp(-8.0*etap))/2.0
                  + c5*cos(10.0*xip)*(exp(10.0*etap)-exp(-10.0*etap))/2.0
                  + c6*cos(12.0*xip)*(exp(12.0*etap)-exp(-12.0*etap))/2.0 AS eta
      FROM tm3, k3
    )
    SELECT id, ROUND(degrees(lam2), 6) AS nad_lon, ROUND(degrees(phi), 6) AS nad_lat,
           ROUND(e00 + k0*biga*eta, 0) AS easting,
           ROUND(n00 + k0*biga*xi, 0) AS northing
    FROM tm4, k3 ORDER BY id"""

  /** Shapefile WRITE → READ under the hash gate (g110, round 18 — the
    * reference reads shapefiles only; [[graft.sources.ShapefileWriter]]
    * closes the asymmetry). Builds a PointZ fixture with typed .dbf
    * properties in-query (the g38 discipline), writes a full .shp/.shx/
    * .dbf set, reads it back through the ordinary [[graft.sources.
    * Shapefile.read]] split-planned path, and pins ids, adaptive-N ints,
    * value-exact F doubles, C strings, and X/Y/Z coordinates against a
    * closed-form oracle. */
  private def g110Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g110_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS INT) AS fid,
             CONCAT('tag-', CAST(id % 7 AS STRING)) AS tag,
             CAST(id AS DOUBLE) / 4.0 AS score,
             ST_PointZ(CAST(id % 50 AS DOUBLE), CAST(CAST(id / 50 AS INT) AS DOUBLE),
                       CAST(id % 10 AS DOUBLE)) AS geometry
      FROM range(600)""").coalesce(1)
    graft.sources.ShapefileWriter.write(df, out)
    graft.sources.Shapefile.read(s, out)
      .selectExpr("CAST(fid AS BIGINT) AS fid", "tag", "score",
        "CAST(ST_X(geometry) AS BIGINT) AS x",
        "CAST(ST_Y(geometry) AS BIGINT) AS y",
        "CAST(ST_Z(geometry) AS BIGINT) AS z")
      .orderBy("fid")
  }

  private val g110Duck = """
    SELECT i::BIGINT AS fid, CONCAT('tag-', CAST(i % 7 AS VARCHAR)) AS tag,
           i / 4.0 AS score, (i % 50)::BIGINT AS x, (i // 50)::BIGINT AS y,
           (i % 10)::BIGINT AS z
    FROM range(600) t(i) ORDER BY fid"""

  /** DENSE_RANK()-kNN join (g109, round 18): the third rank function over
    * the same cross-join window shape, planned as KnnTopKExec in
    * dense_rank mode — the k smallest distance CLASSES per probe (the
    * operator resolves on distinct-distance count, i.e. the pool's own
    * max dense_rank). Same duplicate-heavy fixture as g106, so each class
    * holds ~40 exact copies and `rk <= 2` returns ~80 rows per probe. */
  private val g109Spark = """
    SELECT lid, CAST(rk AS BIGINT) AS rnk, rid, ROUND(d, 6) AS dist
    FROM (SELECT l.lid, r.rid, ST_Distance(l.lg, r.rg) AS d,
                 DENSE_RANK() OVER (PARTITION BY l.lid ORDER BY ST_Distance(l.lg, r.rg)) AS rk
          FROM (SELECT c_custkey AS lid,
                       ST_Point(CAST(c_custkey % 41 AS DOUBLE),
                                CAST((c_custkey * 7) % 37 AS DOUBLE)) AS lg
                FROM customer WHERE c_custkey % 60 = 1) l
          CROSS JOIN (SELECT p_partkey AS rid,
                             ST_Point(CAST(p_partkey % 50 AS DOUBLE),
                                      CAST((p_partkey * 7) % 50 AS DOUBLE)) AS rg
                      FROM part) r) t
    WHERE rk <= 2
    ORDER BY lid, rnk, rid"""

  private val g109Duck = """
    WITH l AS (SELECT c_custkey AS lid,
                      CAST(c_custkey % 41 AS DOUBLE) AS lx,
                      CAST((c_custkey * 7) % 37 AS DOUBLE) AS ly
               FROM customer WHERE c_custkey % 60 = 1),
    r AS (SELECT p_partkey AS rid,
                 CAST(p_partkey % 50 AS DOUBLE) AS rx,
                 CAST((p_partkey * 7) % 50 AS DOUBLE) AS ry
          FROM part),
    pairs AS (SELECT lid, rid,
                     sqrt((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry)) AS d
              FROM l CROSS JOIN r),
    rk AS (SELECT lid, rid, d,
                  DENSE_RANK() OVER (PARTITION BY lid ORDER BY d) AS rnk
           FROM pairs)
    SELECT lid, rnk::BIGINT AS rnk, rid, ROUND(d, 6) AS dist
    FROM rk WHERE rnk <= 2 ORDER BY lid, rnk, rid"""

  /** EPSG:3035 LAEA Europe (g107, round 18) — the third projection family
    * (azimuthal equal-area; [[graft.core.LaeaProjection]], Snyder 24-17..
    * 24-20 + 3-12). The oracle REPLAYS the closed-form ellipsoidal forward
    * from the published formulas over a Europe grid (the g104 discipline);
    * both sides gate at integer metres on ~1e6-7 m values. The equal-area
    * physical property and the EPSG worked example are pinned in LaeaSpec. */
  private val g107Spark = """
    SELECT id, ROUND(ST_X(g), 0) AS easting, ROUND(ST_Y(g), 0) AS northing
    FROM (SELECT c_custkey AS id,
                 ST_Transform(ST_Point(-10.0 + CAST(c_custkey % 90 AS DOUBLE) / 2.0,
                                       35.0 + CAST(c_custkey % 70 AS DOUBLE) / 2.0),
                              4326, 3035) AS g
          FROM customer)
    ORDER BY id"""

  private val g107Duck = """
    WITH k AS (
      SELECT 6378137.0 AS a, 1.0/298.257222101 AS f,
             radians(52.0) AS phi0, radians(10.0) AS lam0,
             4321000.0 AS fe, 3210000.0 AS fn
    ), k2 AS (
      SELECT *, f*(2.0-f) AS e2, sqrt(f*(2.0-f)) AS e FROM k
    ), k3 AS (
      SELECT *,
        (1.0-e2)*(sin(phi0)/(1.0-e2*sin(phi0)*sin(phi0))
          - (1.0/(2.0*e))*ln((1.0-e*sin(phi0))/(1.0+e*sin(phi0)))) AS q1,
        (1.0-e2)*(1.0/(1.0-e2) - (1.0/(2.0*e))*ln((1.0-e)/(1.0+e))) AS qp
      FROM k2
    ), k4 AS (
      SELECT *, asin(q1/qp) AS b1, a*sqrt(qp/2.0) AS rq,
             cos(phi0)/sqrt(1.0-e2*sin(phi0)*sin(phi0)) AS m1
      FROM k3
    ), k5 AS (
      SELECT *, a*m1/(rq*cos(b1)) AS d FROM k4
    ), pts AS (
      SELECT c_custkey AS id,
             radians(-10.0 + (c_custkey % 90)/2.0) AS lam,
             radians(35.0 + (c_custkey % 70)/2.0) AS phi
      FROM customer
    ), t1 AS (
      SELECT id, lam - lam0 AS dl,
             asin(((1.0-e2)*(sin(phi)/(1.0-e2*sin(phi)*sin(phi))
               - (1.0/(2.0*e))*ln((1.0-e*sin(phi))/(1.0+e*sin(phi)))))/qp) AS beta
      FROM pts, k5
    ), t2 AS (
      SELECT id, dl, beta,
             rq*sqrt(2.0/(1.0 + sin(b1)*sin(beta) + cos(b1)*cos(beta)*cos(dl))) AS bb
      FROM t1, k5
    )
    SELECT id,
           ROUND(fe + bb*d*cos(beta)*sin(dl), 0) AS easting,
           ROUND(fn + (bb/d)*(cos(b1)*sin(beta) - sin(b1)*cos(beta)*cos(dl)), 0) AS northing
    FROM t2, k5 ORDER BY id"""

  /** ED50 datum family (g108, round 18) — the SECOND non-WGS84 datum:
    * EPSG:4230 (ED50 geographic, International 1924 ellipsoid) via the
    * inverse of the published mean-European geocentric translation
    * (EPSG tfm 1133), and EPSG:23032 (ED50/UTM 32N) composing that shift
    * with the Krüger TM series on Hayford. The oracle replays BOTH chains:
    * ECEF → translate → unrolled fixed-point geodetic inverse → TM (the
    * g104 discipline, translation-only Helmert, equatorial origin so
    * xi0 = 0). Gates: 1e-6 deg (~0.1 m) on the geographic pair, integer
    * metres on the grid pair. */
  private val g108Spark = """
    SELECT id, ROUND(ST_X(g), 6) AS ed50_lon, ROUND(ST_Y(g), 6) AS ed50_lat,
           ROUND(ST_X(u), 0) AS easting, ROUND(ST_Y(u), 0) AS northing
    FROM (SELECT c_custkey AS id,
                 ST_Transform(pt, 4326, 4230) AS g,
                 ST_Transform(pt, 4326, 23032) AS u
          FROM (SELECT c_custkey,
                       ST_Point(6.0 + CAST(c_custkey % 60 AS DOUBLE) / 10.0,
                                36.0 + CAST(c_custkey % 240 AS DOUBLE) / 10.0) AS pt
                FROM customer) t0)
    ORDER BY id"""

  private val g108Duck = """
    WITH k AS (
      SELECT 6378137.0 AS aw,
             (1.0/298.257223563)*(2.0 - 1.0/298.257223563) AS e2w,
             6378388.0 AS aa, 1.0/297.0 AS fa,
             87.0 AS tx, 98.0 AS ty, 121.0 AS tz,
             0.9996 AS k0, radians(9.0) AS lam0, 500000.0 AS e00, 0.0 AS n00
    ), k2 AS (
      SELECT *, fa*(2.0-fa) AS e2a, sqrt(fa*(2.0-fa)) AS ea, fa/(2.0-fa) AS tn FROM k
    ), k3 AS (
      SELECT *,
        aa/(1.0+tn)*(1.0 + tn*tn/4.0 + (tn*tn)*(tn*tn)/64.0
                     + (tn*tn)*(tn*tn)*(tn*tn)/256.0) AS biga,
        tn/2.0 - 2.0*tn*tn/3.0 + 5.0*tn*tn*tn/16.0 + 41.0*tn*tn*tn*tn/180.0
          - 127.0*tn*tn*tn*tn*tn/288.0 + 7891.0*tn*tn*tn*tn*tn*tn/37800.0 AS c1,
        13.0*tn*tn/48.0 - 3.0*tn*tn*tn/5.0 + 557.0*tn*tn*tn*tn/1440.0
          + 281.0*tn*tn*tn*tn*tn/630.0 - 1983433.0*tn*tn*tn*tn*tn*tn/1935360.0 AS c2,
        61.0*tn*tn*tn/240.0 - 103.0*tn*tn*tn*tn/140.0 + 15061.0*tn*tn*tn*tn*tn/26880.0
          + 167603.0*tn*tn*tn*tn*tn*tn/181440.0 AS c3,
        49561.0*tn*tn*tn*tn/161280.0 - 179.0*tn*tn*tn*tn*tn/168.0
          + 6601661.0*tn*tn*tn*tn*tn*tn/7257600.0 AS c4,
        34729.0*tn*tn*tn*tn*tn/80640.0 - 3418889.0*tn*tn*tn*tn*tn*tn/1995840.0 AS c5,
        212378941.0*tn*tn*tn*tn*tn*tn/319334400.0 AS c6
      FROM k2
    ), pts AS (
      SELECT c_custkey AS id,
             radians(6.0 + (c_custkey % 60)/10.0) AS lam,
             radians(36.0 + (c_custkey % 240)/10.0) AS phi
      FROM customer
    ), ecef AS (
      SELECT id,
             (aw/sqrt(1.0-e2w*sin(phi)*sin(phi)))*cos(phi)*cos(lam) AS x1,
             (aw/sqrt(1.0-e2w*sin(phi)*sin(phi)))*cos(phi)*sin(lam) AS y1,
             (aw/sqrt(1.0-e2w*sin(phi)*sin(phi)))*(1.0-e2w)*sin(phi) AS z1
      FROM pts, k3
    ), helm AS (
      SELECT id, x1 + tx AS x2, y1 + ty AS y2, z1 + tz AS z2 FROM ecef, k3
    ), g0 AS (
      SELECT id, atan2(y2, x2) AS lam2, sqrt(x2*x2+y2*y2) AS p, z2,
             atan2(z2, sqrt(x2*x2+y2*y2)*(1.0-e2a)) AS f
      FROM helm, k3
    ), g1 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g0, k3),
    g2 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g1, k3),
    g3 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g2, k3),
    g4 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g3, k3),
    g5 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g4, k3),
    g6 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g5, k3),
    g7 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g6, k3),
    g8 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g7, k3),
    g9 AS (SELECT id, lam2, p, z2, atan2(z2 + e2a*(aa/sqrt(1.0-e2a*sin(f)*sin(f)))*sin(f), p) AS f FROM g8, k3),
    tm0 AS (
      SELECT id, lam2, f AS phi, lam2 - lam0 AS dl, sin(f) AS sf FROM g9, k3
    ), tm1 AS (
      SELECT id, lam2, phi, dl,
             0.5*ln((1.0+sf)/(1.0-sf)) - ea*0.5*ln((1.0+ea*sf)/(1.0-ea*sf)) AS u
      FROM tm0, k3
    ), tm2 AS (
      SELECT id, lam2, phi, dl, (exp(u)-exp(-u))/2.0 AS t FROM tm1
    ), tm3 AS (
      SELECT id, lam2, phi, atan2(t, cos(dl)) AS xip,
             ln(sin(dl)/sqrt(t*t + cos(dl)*cos(dl))
                + sqrt((sin(dl)/sqrt(t*t + cos(dl)*cos(dl)))
                       *(sin(dl)/sqrt(t*t + cos(dl)*cos(dl))) + 1.0)) AS etap
      FROM tm2
    ), tm4 AS (
      SELECT id, lam2, phi,
             xip + c1*sin(2.0*xip)*(exp(2.0*etap)+exp(-2.0*etap))/2.0
                 + c2*sin(4.0*xip)*(exp(4.0*etap)+exp(-4.0*etap))/2.0
                 + c3*sin(6.0*xip)*(exp(6.0*etap)+exp(-6.0*etap))/2.0
                 + c4*sin(8.0*xip)*(exp(8.0*etap)+exp(-8.0*etap))/2.0
                 + c5*sin(10.0*xip)*(exp(10.0*etap)+exp(-10.0*etap))/2.0
                 + c6*sin(12.0*xip)*(exp(12.0*etap)+exp(-12.0*etap))/2.0 AS xi,
             etap + c1*cos(2.0*xip)*(exp(2.0*etap)-exp(-2.0*etap))/2.0
                  + c2*cos(4.0*xip)*(exp(4.0*etap)-exp(-4.0*etap))/2.0
                  + c3*cos(6.0*xip)*(exp(6.0*etap)-exp(-6.0*etap))/2.0
                  + c4*cos(8.0*xip)*(exp(8.0*etap)-exp(-8.0*etap))/2.0
                  + c5*cos(10.0*xip)*(exp(10.0*etap)-exp(-10.0*etap))/2.0
                  + c6*cos(12.0*xip)*(exp(12.0*etap)-exp(-12.0*etap))/2.0 AS eta
      FROM tm3, k3
    )
    SELECT id, ROUND(degrees(lam2), 6) AS ed50_lon, ROUND(degrees(phi), 6) AS ed50_lat,
           ROUND(e00 + k0*biga*eta, 0) AS easting,
           ROUND(n00 + k0*biga*xi, 0) AS northing
    FROM tm4, k3 ORDER BY id"""

  /** Dictionary-encoded STREAM-format Arrow IPC (g95): the g86 interop
    * shape through the footer-less .arrows wire format — the default of
    * pyarrow's `ipc.new_stream` and Flight-style pipes, where dictionary
    * batches ride INLINE ahead of the record batches (previously refused;
    * round 16 maps the value types from the schema message, which declares
    * them for both wire formats). Write emits inline dictionaries, read
    * decodes index→value per cell; the aggregate pins lookup + geometry
    * against closed forms. */
  private def g95Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g95_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CONCAT('tag-', CAST(id % 7 AS STRING)) AS tag,
             ST_Point(CAST(id AS DOUBLE), 2.0) AS geometry
      FROM range(200)""").coalesce(1)
    graft.sources.ArrowIpc.write(df, out, dictionaryColumns = Seq("tag"),
      streamFormat = true)
    s.read.format("arrowipc").load(out)
      .selectExpr("tag", "ST_X(geometry) AS x")
      .groupBy("tag")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("x").cast("bigint").as("sum_fid"))
      .orderBy("tag")
  }

  private val g95Duck = """
    SELECT CONCAT('tag-', CAST(i % 7 AS VARCHAR)) AS tag, COUNT(*)::BIGINT AS n,
           SUM(i)::BIGINT AS sum_fid
    FROM range(200) t(i) GROUP BY 1 ORDER BY 1"""
  // GeoArrow geometry-UNION fixture (arrow-java-built, serialized to hex):
  // fid BIGINT; twkt Utf8 tagged geoarrow.wkt; bbox struct tagged
  // geoarrow.box; geometry = DENSE UNION tagged geoarrow.geometry with
  // reference type ids (1 Point XY, 12 LineString Z, 24 MultiPoint M —
  // rust/geoarrow-schema/src/type.rs:1064-1106) over interleaved coords;
  // gc = List over a (Point, LineString) union tagged
  // geoarrow.geometrycollection, incl. an EMPTY and a NULL collection.
  private val g96Arrow: String =
      "4152524F57310000FFFFFFFFC00600001000000000000A000E0006000D0008000A000000000004001000" +
      "000000010A000C000000080004000A0000000800000008000000000000000500000044060000B4050000" +
      "48040000E001000004000000E2F9FFFF1400000060000000C001000000000C01BC010000010000000400" +
      "00005CFAFFFF08000000240000001B00000067656F6172726F772E67656F6D65747279636F6C6C656374" +
      "696F6E00140000004152524F573A657874656E73696F6E3A6E616D6500000000010000000400000052FA" +
      "FFFF14000000140000002801000000000E01380100000000000002000000AC000000040000007AFAFFFF" +
      "14000000140000008400000000000C01800000000000000001000000040000009EFAFFFF140000001400" +
      "00004800000000001001480000000000000001000000040000009AFBFFFF140000001400000014000000" +
      "0000000314000000000000000000000086FBFFFF00000200020000007879000022FDFFFF020000000800" +
      "00007665727469636573000000001CFBFFFF0A0000004C696E65537472696E6700001EFBFFFF14000000" +
      "140000004800000000001001480000000000000001000000040000001AFCFFFF14000000140000001400" +
      "00000000000314000000000000000000000006FCFFFF000002000200000078790000A2FDFFFF02000000" +
      "05000000506F696E740000009CFDFFFF08000000000001000200000001000000020000000A0000006765" +
      "6F6D6574726965730000C0FBFFFF0200000067630000BAFBFFFF14000000580000002C02000000000E01" +
      "40020000010000000400000034FCFFFF080000001C0000001100000067656F6172726F772E67656F6D65" +
      "747279000000140000004152524F573A657874656E73696F6E3A6E616D6500000000030000005C010000" +
      "B0000000040000002AFCFFFF14000000140000008400000000000C018000000000000000010000000400" +
      "00004EFCFFFF14000000140000004800000000001001480000000000000001000000040000004AFDFFFF" +
      "1400000014000000140000000000000314000000000000000000000036FDFFFF00000200030000007879" +
      "6D00D2FEFFFF0300000008000000766572746963657300000000CCFCFFFF0C0000004D756C7469506F69" +
      "6E74204D00000000D2FCFFFF14000000140000008400000000000C018000000000000000010000000400" +
      "0000F6FCFFFF1400000014000000480000000000100148000000000000000100000004000000F2FDFFFF" +
      "14000000140000001400000000000003140000000000000000000000DEFDFFFF00000200030000007879" +
      "7A007AFFFFFF030000000800000076657274696365730000000074FDFFFF0C0000004C696E6553747269" +
      "6E67205A000000007AFDFFFF140000001400000050000000000010015000000000000000010000000400" +
      "000076FEFFFF1400000014000000140000000000000314000000000000000000000062FEFFFF00000200" +
      "02000000787900000000060008000400060000000200000005000000506F696E7400000008000C000A00" +
      "040008000000080000000000010003000000010000000C000000180000000800000067656F6D65747279" +
      "000000001EFEFFFF14000000540000004C01000000000D0148010000010000000400000098FEFFFF0800" +
      "0000180000000C00000067656F6172726F772E626F7800000000140000004152524F573A657874656E73" +
      "696F6E3A6E616D650000000004000000BC000000740000003C0000000400000066FFFFFF140000001400" +
      "0000140000000000000314000000000000000000000052FFFFFF0000020004000000796D617800000000" +
      "9AFFFFFF1400000014000000140000000000000314000000000000000000000086FFFFFF000002000400" +
      "0000786D617800000000CEFFFFFF14000000140000001400000000000003140000000000000000000000" +
      "BAFFFFFF0000020004000000796D696E0000120018001400000013000C00000008000400120000001400" +
      "0000140000001C000000000000031C000000000000000000000000000600080006000600000000000200" +
      "04000000786D696E0000000088FFFFFF0400000062626F780000000086FFFFFF140000005C0000006000" +
      "0000000005015C000000010000000C00000008000C00080004000800000008000000180000000C000000" +
      "67656F6172726F772E776B7400000000140000004152524F573A657874656E73696F6E3A6E616D650000" +
      "00000000000004000400040000000400000074776B740000120018001400130012000C00000008000400" +
      "1200000014000000140000001C0000000000020120000000000000000000000008000C00080007000800" +
      "00000000000140000000030000006669640000000000FFFFFFFF5804000014000000000000000C001600" +
      "0E001500100004000C000000C002000000000000000004001000000000030A0018000C00080004000A00" +
      "000014000000A80200000400000000000000000000002900000000000000000000000100000000000000" +
      "080000000000000020000000000000002800000000000000010000000000000030000000000000001400" +
      "00000000000048000000000000003A000000000000008800000000000000010000000000000090000000" +
      "00000000010000000000000098000000000000002000000000000000B800000000000000010000000000" +
      "0000C0000000000000002000000000000000E0000000000000000100000000000000E800000000000000" +
      "200000000000000008010000000000000100000000000000100100000000000020000000000000003001" +
      "000000000000040000000000000038010000000000001000000000000000480100000000000001000000" +
      "000000005001000000000000010000000000000058010000000000002000000000000000780100000000" +
      "000001000000000000008001000000000000080000000000000088010000000000000100000000000000" +
      "9001000000000000010000000000000098010000000000003000000000000000C8010000000000000100" +
      "000000000000D0010000000000000800000000000000D8010000000000000100000000000000E0010000" +
      "000000000100000000000000E80100000000000030000000000000001802000000000000010000000000" +
      "000020020000000000001400000000000000380200000000000003000000000000004002000000000000" +
      "0C0000000000000050020000000000000100000000000000580200000000000001000000000000006002" +
      "000000000000200000000000000080020000000000000100000000000000880200000000000008000000" +
      "000000009002000000000000010000000000000098020000000000000100000000000000A00200000000" +
      "000020000000000000000000000017000000040000000000000000000000000000000400000000000000" +
      "000000000000000004000000000000000000000000000000040000000000000000000000000000000400" +
      "000000000000000000000000000004000000000000000000000000000000040000000000000000000000" +
      "000000000400000000000000000000000000000002000000000000000000000000000000040000000000" +
      "000000000000000000000100000000000000000000000000000002000000000000000000000000000000" +
      "060000000000000000000000000000000100000000000000000000000000000002000000000000000000" +
      "000000000000060000000000000000000000000000000400000000000000010000000000000003000000" +
      "000000000000000000000000020000000000000000000000000000000400000000000000000000000000" +
      "000001000000000000000000000000000000020000000000000000000000000000000400000000000000" +
      "00000000000000000F000000000000000000000000000000010000000000000002000000000000000300" +
      "0000000000000F00000000000000000000000B000000200000002F0000003A00000000000000504F494E" +
      "542028392039294C494E45535452494E4720283020302C2032203229504F494E54205A20283120322033" +
      "29504F494E542028342034290000000000000F000000000000000F000000000000000000000000000000" +
      "000000000000F03F000000000000004000000000000008400F0000000000000000000000000000000000" +
      "000000000000000000000000000000000000000000000F00000000000000000000000000004000000000" +
      "00000840000000000000104000000000000014400F000000000000000000000000000840000000000000" +
      "084000000000000008400000000000000840010C18010000000000000000000000000000000001000000" +
      "03000000000000000F00000000000000000000000000F83F00000000000004400000000000001C400000" +
      "0000000020400100000000000000000000000200000003000000000000003F0000000000000000000000" +
      "000000000000000000000000000000000000244000000000000008400000000000001040000000000000" +
      "34400100000000000000000000000200000003000000000000003F00000000000000000000000000F03F" +
      "000000000000004000000000000014400000000000000840000000000000104000000000000018400700" +
      "000000000000000000000100000003000000030000000300000000000000010102000000000000000000" +
      "01000000000000000000000003000000000000000F00000000000000000000000000F03F000000000000" +
      "F03F00000000000000400000000000000040010000000000000000000000020000000300000000000000" +
      "0F0000000000000000000000000000000000000000000000000000000000F03F000000000000F03FFFFF" +
      "FFFF00000000100000000C001400060010000C0008000C000000000004000C0000002800000034000000" +
      "01000000D0060000000000006004000000000000C002000000000000000000000000000000000A000C00" +
      "0000080004000A0000000800000008000000000000000500000044060000B405000048040000E0010000" +
      "04000000E2F9FFFF1400000060000000C001000000000C01BC01000001000000040000005CFAFFFF0800" +
      "0000240000001B00000067656F6172726F772E67656F6D65747279636F6C6C656374696F6E0014000000" +
      "4152524F573A657874656E73696F6E3A6E616D6500000000010000000400000052FAFFFF140000001400" +
      "00002801000000000E01380100000000000002000000AC000000040000007AFAFFFF1400000014000000" +
      "8400000000000C01800000000000000001000000040000009EFAFFFF1400000014000000480000000000" +
      "1001480000000000000001000000040000009AFBFFFF1400000014000000140000000000000314000000" +
      "000000000000000086FBFFFF00000200020000007879000022FDFFFF0200000008000000766572746963" +
      "6573000000001CFBFFFF0A0000004C696E65537472696E6700001EFBFFFF140000001400000048000000" +
      "00001001480000000000000001000000040000001AFCFFFF140000001400000014000000000000031400" +
      "0000000000000000000006FCFFFF000002000200000078790000A2FDFFFF0200000005000000506F696E" +
      "740000009CFDFFFF08000000000001000200000001000000020000000A00000067656F6D657472696573" +
      "0000C0FBFFFF0200000067630000BAFBFFFF14000000580000002C02000000000E014002000001000000" +
      "0400000034FCFFFF080000001C0000001100000067656F6172726F772E67656F6D657472790000001400" +
      "00004152524F573A657874656E73696F6E3A6E616D6500000000030000005C010000B000000004000000" +
      "2AFCFFFF14000000140000008400000000000C01800000000000000001000000040000004EFCFFFF1400" +
      "0000140000004800000000001001480000000000000001000000040000004AFDFFFF1400000014000000" +
      "140000000000000314000000000000000000000036FDFFFF000002000300000078796D00D2FEFFFF0300" +
      "000008000000766572746963657300000000CCFCFFFF0C0000004D756C7469506F696E74204D00000000" +
      "D2FCFFFF14000000140000008400000000000C0180000000000000000100000004000000F6FCFFFF1400" +
      "000014000000480000000000100148000000000000000100000004000000F2FDFFFF1400000014000000" +
      "1400000000000003140000000000000000000000DEFDFFFF000002000300000078797A007AFFFFFF0300" +
      "00000800000076657274696365730000000074FDFFFF0C0000004C696E65537472696E67205A00000000" +
      "7AFDFFFF140000001400000050000000000010015000000000000000010000000400000076FEFFFF1400" +
      "000014000000140000000000000314000000000000000000000062FEFFFF000002000200000078790000" +
      "0000060008000400060000000200000005000000506F696E7400000008000C000A000400080000000800" +
      "00000000010003000000010000000C000000180000000800000067656F6D65747279000000001EFEFFFF" +
      "14000000540000004C01000000000D0148010000010000000400000098FEFFFF08000000180000000C00" +
      "000067656F6172726F772E626F7800000000140000004152524F573A657874656E73696F6E3A6E616D65" +
      "0000000004000000BC000000740000003C0000000400000066FFFFFF1400000014000000140000000000" +
      "000314000000000000000000000052FFFFFF0000020004000000796D6178000000009AFFFFFF14000000" +
      "14000000140000000000000314000000000000000000000086FFFFFF0000020004000000786D61780000" +
      "0000CEFFFFFF14000000140000001400000000000003140000000000000000000000BAFFFFFF00000200" +
      "04000000796D696E0000120018001400000013000C000000080004001200000014000000140000001C00" +
      "0000000000031C00000000000000000000000000060008000600060000000000020004000000786D696E" +
      "0000000088FFFFFF0400000062626F780000000086FFFFFF140000005C00000060000000000005015C00" +
      "0000010000000C00000008000C00080004000800000008000000180000000C00000067656F6172726F77" +
      "2E776B7400000000140000004152524F573A657874656E73696F6E3A6E616D6500000000000000000400" +
      "0400040000000400000074776B740000120018001400130012000C000000080004001200000014000000" +
      "140000001C0000000000020120000000000000000000000008000C000800070008000000000000014000" +
      "00000300000066696400E80600004152524F5731"


  /** Native-encoding Arrow IPC write→read under the hash gate (g97): the
    * geometry column transcodes to the separated GeoArrow point layout at
    * write (the reference's own array format — zero-copy for its readers)
    * and maps back to WKB on read through the byte-pruning DSv2 face; the
    * aggregate pins coordinates and the null row against closed forms. */
  private def g97Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g97_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE WHEN id % 11 = 0 THEN NULL
                  ELSE ST_Point(CAST(id AS DOUBLE), CAST(id % 5 AS DOUBLE)) END AS geometry
      FROM range(200)""").coalesce(1)
    graft.sources.ArrowIpc.write(df, out, geometryEncoding = "point")
    s.read.format("arrowipc").load(out)
      .selectExpr("CAST(fid % 5 AS BIGINT) AS grp",
        "CASE WHEN geometry IS NULL THEN 0 ELSE 1 END AS present",
        "COALESCE(ST_X(geometry), -1.0D) AS x")
      .groupBy("grp")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("present").as("n_geom"),
        org.apache.spark.sql.functions.sum("x").cast("bigint").as("sum_x"))
      .orderBy("grp")
  }

  private val g97Duck = """
    SELECT (i % 5)::BIGINT AS grp, COUNT(*)::BIGINT AS n,
           SUM(CASE WHEN i % 11 = 0 THEN 0 ELSE 1 END)::BIGINT AS n_geom,
           SUM(CASE WHEN i % 11 = 0 THEN -1 ELSE i END)::BIGINT AS sum_x
    FROM range(200) t(i) GROUP BY 1 ORDER BY 1"""

  /** Native XYZ GeoParquet hop under the hash gate (g98): ST_PointZ rows
    * write through the ga_to_point_z exporter (coord struct {x,y,z}, footer
    * encoding stays the dimensionless 'point'), read back through the
    * scan-time transcode whose zmFlags detect the z field — the aggregate
    * pins x AND z, so a dropped or fabricated ordinate breaks the hash. */
  private def g98Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g98_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_PointZ(CAST(id AS DOUBLE), CAST(id % 3 AS DOUBLE),
                       CAST(id * 7 AS DOUBLE)) AS geometry
      FROM range(120)""").coalesce(1)
    graft.sources.GeoParquet.write(df, out, covering = false, encoding = "point_z")
    graft.sources.GeoParquet.read(s, out)
      .selectExpr("CAST(fid % 3 AS BIGINT) AS grp", "ST_X(geometry) AS x",
        "ST_Z(geometry) AS z", "CASE WHEN ST_HasZ(geometry) THEN 1 ELSE 0 END AS hz")
      .groupBy("grp")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("x").cast("bigint").as("sum_x"),
        org.apache.spark.sql.functions.sum("z").cast("bigint").as("sum_z"),
        org.apache.spark.sql.functions.sum("hz").as("n_z"))
      .orderBy("grp")
  }

  private val g98Duck = """
    SELECT (i % 3)::BIGINT AS grp, COUNT(*)::BIGINT AS n, SUM(i)::BIGINT AS sum_x,
           SUM(i * 7)::BIGINT AS sum_z, COUNT(*)::BIGINT AS n_z
    FROM range(120) t(i) GROUP BY 1 ORDER BY 1"""

  /** Native-point columnar fast path (g105, round 18): coordinate
    * accessors and ST_Extent_Agg over a NATIVE-encoded GeoParquet point
    * column run on the struct leaves directly — [[graft.plans.
    * NativePointFastPath]] removes the ga_point WKB transcode + JTS parse
    * from the plan (asserted in NativePointFastPathSpec; values gated
    * here against DuckDB recomputing from the generator). EMPTY rows ride
    * the NaN sentinel and NULL rows stay NULL; both must stay out of the
    * sums and the extent. */
  private def g105Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g105_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE WHEN id % 17 = 7 THEN ST_GeomFromText('POINT EMPTY')
                  WHEN id % 23 = 11 THEN NULL
                  ELSE ST_Point(CAST(id % 97 AS DOUBLE), CAST(id % 89 AS DOUBLE))
             END AS geometry
      FROM range(500)""").coalesce(1)
    graft.sources.GeoParquet.write(df, out, covering = false, encoding = "point")
    graft.sources.GeoParquet.read(s, out).createOrReplaceTempView("g105_pts")
    s.sql("""
      SELECT sum_x, sum_y, n_pts, ext.xmin AS xmin, ext.ymin AS ymin,
             ext.xmax AS xmax, ext.ymax AS ymax
      FROM (SELECT
              CAST(SUM(CASE WHEN geometry IS NOT NULL AND NOT ST_IsEmpty(geometry)
                            THEN ST_X(geometry) END) AS BIGINT) AS sum_x,
              CAST(SUM(CASE WHEN geometry IS NOT NULL AND NOT ST_IsEmpty(geometry)
                            THEN ST_Y(geometry) END) AS BIGINT) AS sum_y,
              CAST(COUNT(CASE WHEN geometry IS NOT NULL AND NOT ST_IsEmpty(geometry)
                              THEN 1 END) AS BIGINT) AS n_pts,
              ST_Extent_Agg(geometry) AS ext
            FROM g105_pts) t""")
  }

  private val g105Duck = """
    WITH r AS (
      SELECT i, CASE WHEN i % 17 = 7 THEN 'empty'
                     WHEN i % 23 = 11 THEN 'null'
                     ELSE 'pt' END AS kind
      FROM range(500) t(i))
    SELECT SUM(CASE WHEN kind = 'pt' THEN i % 97 END)::BIGINT AS sum_x,
           SUM(CASE WHEN kind = 'pt' THEN i % 89 END)::BIGINT AS sum_y,
           COUNT(CASE WHEN kind = 'pt' THEN 1 END)::BIGINT AS n_pts,
           MIN(CASE WHEN kind = 'pt' THEN i % 97 END)::DOUBLE AS xmin,
           MIN(CASE WHEN kind = 'pt' THEN i % 89 END)::DOUBLE AS ymin,
           MAX(CASE WHEN kind = 'pt' THEN i % 97 END)::DOUBLE AS xmax,
           MAX(CASE WHEN kind = 'pt' THEN i % 89 END)::DOUBLE AS ymax
    FROM r"""

  /** Native NESTED-kind columnar fast path (g113, round 19): measures
    * over NATIVE-encoded linestring and polygon GeoParquet columns —
    * ST_Length/ST_Area/ST_Perimeter/ST_NPoints/bounds — run as
    * [[graft.core.NativeMeasures]] leaf arithmetic over the raw
    * `array<struct<x,y>>` scan values (the `ga_linestring`/`ga_polygon`
    * WKB transcode + JTS parse drops out of the plan; asserted in
    * NativeNestedFastPathSpec, bit-exactness vs the WKB path fuzzed
    * there). The geometries are integer staircases and quarter-offset
    * holed rectangles, so every measure is EXACT in FP and DuckDB can
    * replay the generator arithmetic: staircase length a+b, rectangle
    * area w·h − 1 (unit hole), perimeter 2(w+h) + 4 (hole ring). EMPTY
    * and NULL rows are in the corpus; empties count 0 points and stay
    * out of the bounds via the ST_IsEmpty guard. */
  private def g113Fn(s: SparkSession, dir: String): DataFrame = {
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g113_" + java.util.UUID.randomUUID().toString.take(8))
    val lineOut = new java.io.File(base, "lines").getAbsolutePath
    val polyOut = new java.io.File(base, "polys").getAbsolutePath
    s.sql("""
      SELECT id,
             CAST(id % 13 AS DOUBLE) * 10.0 AS ox,
             CAST(1 + id % 7 AS DOUBLE) AS a,
             CAST(1 + id % 5 AS DOUBLE) AS b,
             CAST(2 + id % 9 AS DOUBLE) AS w,
             CAST(2 + id % 6 AS DOUBLE) AS h,
             CASE WHEN id % 37 = 3 THEN 'null'
                  WHEN id % 31 = 5 THEN 'empty' ELSE 'geom' END AS kind
      FROM range(300)""").createOrReplaceTempView("g113_src")
    val lines = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE WHEN kind = 'null' THEN NULL
                  WHEN kind = 'empty' THEN ST_GeomFromText('LINESTRING EMPTY')
                  ELSE ST_GeomFromText(CONCAT('LINESTRING (', ox, ' 0, ',
                                              ox + a, ' 0, ', ox + a, ' ', b, ')'))
             END AS geometry
      FROM g113_src""").coalesce(1)
    val polys = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE WHEN kind = 'null' THEN NULL
                  WHEN kind = 'empty' THEN ST_GeomFromText('POLYGON EMPTY')
                  ELSE ST_GeomFromText(CONCAT(
                    'POLYGON ((', ox, ' 0, ', ox + w, ' 0, ', ox + w, ' ', h,
                    ', ', ox, ' ', h, ', ', ox, ' 0), (',
                    ox + 0.25, ' 0.25, ', ox + 1.25, ' 0.25, ',
                    ox + 1.25, ' 1.25, ', ox + 0.25, ' 1.25, ',
                    ox + 0.25, ' 0.25))'))
             END AS geometry
      FROM g113_src""").coalesce(1)
    graft.sources.GeoParquet.write(lines, lineOut, covering = false, encoding = "linestring")
    graft.sources.GeoParquet.write(polys, polyOut, covering = false, encoding = "polygon")
    graft.sources.GeoParquet.read(s, lineOut).createOrReplaceTempView("g113_ln")
    graft.sources.GeoParquet.read(s, polyOut).createOrReplaceTempView("g113_pg")
    s.sql("""
      SELECT * FROM
        (SELECT CAST(SUM(CASE WHEN geometry IS NOT NULL AND NOT ST_IsEmpty(geometry)
                              THEN ST_Length(geometry) END) AS BIGINT) AS ln_len,
                CAST(SUM(ST_NPoints(geometry)) AS BIGINT) AS ln_np,
                CAST(MIN(CASE WHEN geometry IS NOT NULL AND NOT ST_IsEmpty(geometry)
                              THEN ST_XMin(geometry) END) AS BIGINT) AS ln_xmin,
                CAST(MAX(CASE WHEN geometry IS NOT NULL AND NOT ST_IsEmpty(geometry)
                              THEN ST_XMax(geometry) END) AS BIGINT) AS ln_xmax,
                CAST(COUNT(CASE WHEN ST_IsEmpty(geometry) THEN 1 END) AS BIGINT) AS ln_empty,
                CAST(COUNT(CASE WHEN geometry IS NULL THEN 1 END) AS BIGINT) AS ln_null
         FROM g113_ln) l
      CROSS JOIN
        (SELECT CAST(SUM(CASE WHEN geometry IS NOT NULL AND NOT ST_IsEmpty(geometry)
                              THEN ST_Area(geometry) END) AS BIGINT) AS pg_area,
                CAST(SUM(CASE WHEN geometry IS NOT NULL AND NOT ST_IsEmpty(geometry)
                              THEN ST_Perimeter(geometry) END) AS BIGINT) AS pg_perim,
                CAST(SUM(ST_NPoints(geometry)) AS BIGINT) AS pg_np,
                CAST(MAX(CASE WHEN geometry IS NOT NULL AND NOT ST_IsEmpty(geometry)
                              THEN ST_YMax(geometry) END) AS BIGINT) AS pg_ymax
         FROM g113_pg) p""")
  }

  private val g113Duck = """
    WITH r AS (
      SELECT i, (i % 13) * 10 AS ox, 1 + i % 7 AS a, 1 + i % 5 AS b,
             2 + i % 9 AS w, 2 + i % 6 AS h,
             CASE WHEN i % 37 = 3 THEN 'null'
                  WHEN i % 31 = 5 THEN 'empty' ELSE 'geom' END AS kind
      FROM range(300) t(i))
    SELECT SUM(CASE WHEN kind = 'geom' THEN a + b END)::BIGINT AS ln_len,
           SUM(CASE WHEN kind = 'geom' THEN 3 WHEN kind = 'empty' THEN 0 END)::BIGINT AS ln_np,
           MIN(CASE WHEN kind = 'geom' THEN ox END)::BIGINT AS ln_xmin,
           MAX(CASE WHEN kind = 'geom' THEN ox + a END)::BIGINT AS ln_xmax,
           COUNT(CASE WHEN kind = 'empty' THEN 1 END)::BIGINT AS ln_empty,
           COUNT(CASE WHEN kind = 'null' THEN 1 END)::BIGINT AS ln_null,
           SUM(CASE WHEN kind = 'geom' THEN w * h - 1 END)::BIGINT AS pg_area,
           SUM(CASE WHEN kind = 'geom' THEN 2 * (w + h) + 4 END)::BIGINT AS pg_perim,
           SUM(CASE WHEN kind = 'geom' THEN 10 WHEN kind = 'empty' THEN 0 END)::BIGINT AS pg_np,
           MAX(CASE WHEN kind = 'geom' THEN h END)::BIGINT AS pg_ymax
    FROM r"""

  /** Meter-true geodesic buffer (g114, round 19): `ST_BufferGeodesic`
    * projects to a local ellipsoidal AEQD (exact Karney geodesic
    * problems, [[graft.core.Aeqd]]), buffers on that plane, and inverts
    * each vertex through the exact direct problem — so every boundary
    * vertex of a POINT buffer lies on the true geodesic circle by
    * construction. The oracle pins that invariant: across 100 centers
    * spanning ±68° latitude and radii 5-24 km, the worst vertex's
    * deviation from its radius is 0 mm (measured back with the
    * independent Karney INVERSE), rings close (33 vertices at the
    * default 8 quadrant segments), results are valid polygons, and the
    * 2r buffer contains the r buffer everywhere. DuckDB states the
    * expected constants (the g34 fixed-anchor discipline). */
  private val g114Spark = """
    WITH c AS (
      SELECT id,
             CAST((id % 36) * 10 AS DOUBLE) - 175.0 AS lon,
             CAST((id % 17) * 8 AS DOUBLE) - 64.0 AS lat,
             CAST((5 + id % 20) * 1000 AS DOUBLE) AS r
      FROM range(100)),
    b AS (
      SELECT id, lon, lat, r,
             ST_BufferGeodesic(ST_Point(lon, lat), r) AS buf
      FROM c),
    v AS (
      SELECT b.id, b.lon, b.lat, b.r,
             ST_PointN(ST_ExteriorRing(b.buf), CAST(k.id AS INT)) AS p
      FROM b CROSS JOIN range(33) k)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
           CAST(MAX(ROUND(ABS(ST_DistanceGeodesic(ST_Point(lon, lat), p) - r) * 1000)) AS BIGINT)
             AS max_dev_mm,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM b
             WHERE ST_IsValid(buf) AND ST_NPoints(buf) = 33
               AND ST_Contains(buf, ST_Point(lon, lat))) AS n_valid,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c
             WHERE ST_Contains(ST_BufferGeodesic(ST_Point(lon, lat), 2 * r),
                               ST_BufferGeodesic(ST_Point(lon, lat), r))) AS n_mono
    FROM v"""

  private val g114Duck = """
    SELECT 3300::BIGINT AS n_vertices, 0::BIGINT AS max_dev_mm,
           100::BIGINT AS n_valid, 100::BIGINT AS n_mono"""

  /** Ellipsoidal AEQD (g115, round 19): `ST_TransformAeqd` is the exact
    * geodesic-problem construction, so along the EQUATOR its easting is
    * the closed-form equatorial arc a·λ (the Karney equatorial branch
    * computes literally `a * toRadians(λ)`), which DuckDB replays with
    * the same IEEE chain; the northing at the pole is the WGS84 meridian
    * quadrant, 10,001,965.729 m (published constant, the g34 fixed-anchor
    * discipline). Roundtrips through ST_TransformAeqdInv recover the
    * input to sub-micro-degree. */
  private val g115Spark = """
    WITH eq AS (SELECT id, 1.0 + CAST(id AS DOUBLE) * 1.5 AS lon FROM range(60)),
    fwd AS (
      SELECT id, lon,
             ST_TransformAeqd(ST_Point(lon, 0.0), 0.0, 0.0) AS p
      FROM eq)
    SELECT id,
           ROUND(ST_X(p), 3) AS x_m,
           ROUND(ST_Y(p), 3) AS y_m,
           ROUND(ST_X(ST_TransformAeqdInv(p, 0.0, 0.0)) - lon, 6) AS lon_rt,
           (SELECT CAST(ROUND(ST_Y(ST_TransformAeqd(ST_Point(0.0, 90.0), 0.0, 0.0))) AS BIGINT))
             AS quadrant_m
    FROM fwd ORDER BY id"""

  private val g115Duck = """
    SELECT i AS id,
           ROUND(6378137.0 * (((1.0 + i * 1.5) / 180.0) * pi()), 3) AS x_m,
           0.0 AS y_m,
           0.0 AS lon_rt,
           10001966::BIGINT AS quadrant_m
    FROM range(60) t(i) ORDER BY id"""

  /** Geodesic segmentize + interpolation (g116, round 19): along the
    * EQUATOR the geodesic is the closed-form arc s = a·λ, so DuckDB can
    * replay everything: `ST_SegmentizeGeodesic` of `LINESTRING (0 0,
    * Δλ 0)` at 200 km yields ⌈a·rad(Δλ)/2·10⁵⌉ hops with the second
    * vertex at Δλ/n (waypoints are exact Karney direct shots — they stay
    * on the equator to the bit, pinned via the nano-degree latitude
    * column), and `ST_LineInterpolatePointGeodesic(·, 0.5)` lands at
    * Δλ/2. Micro-degree rounding absorbs the ~1e-9° direct∘inverse
    * roundtrip noise while still resolving ~0.1 m. */
  private val g116Spark = """
    WITH lines AS (
      SELECT id, CAST(1 + id % 7 AS DOUBLE) * 5.0 AS dlam FROM range(40)),
    seg AS (
      SELECT id, dlam,
             ST_SegmentizeGeodesic(
               ST_GeomFromText(CONCAT('LINESTRING (0 0, ', dlam, ' 0)')),
               200000.0) AS g
      FROM lines)
    SELECT id,
           CAST(ST_NPoints(g) AS BIGINT) AS np,
           CAST(ROUND(ST_X(ST_PointN(g, 1)) * 1e6) AS BIGINT) AS x1_microdeg,
           CAST(ROUND(ST_Y(ST_PointN(g, 1)) * 1e9) AS BIGINT) AS y1_nanodeg,
           CAST(ROUND(ST_X(ST_LineInterpolatePointGeodesic(g, 0.5)) * 1e6) AS BIGINT)
             AS mid_microdeg
    FROM seg ORDER BY id"""

  private val g116Duck = """
    WITH r AS (
      SELECT i AS id, (1 + i % 7) * 5.0 AS dlam,
             CEIL(6378137.0 * radians((1 + i % 7) * 5.0) / 200000.0) AS n
      FROM range(40) t(i))
    SELECT id, (n + 1)::BIGINT AS np,
           ROUND(dlam / n * 1e6)::BIGINT AS x1_microdeg,
           0::BIGINT AS y1_nanodeg,
           ROUND(dlam / 2 * 1e6)::BIGINT AS mid_microdeg
    FROM r ORDER BY id"""

  /** Ellipsoidal forward problem + azimuth (g117, round 19):
    * `ST_ProjectGeodesic` / `ST_AzimuthGeodesic` — the GEOGRAPHY twins of
    * ST_Project/ST_Azimuth on the exact Karney problems. DuckDB replays
    * the closed forms: an eastward equatorial shot advances the longitude
    * by degrees(s/a) (micro-degree gate), cardinal azimuths are exactly
    * π/2 and π, and project∘azimuth closes (initial azimuth recovered to
    * < 1e-9 rad across 40 oblique shots up to 440 km). */
  private val g117Spark = """
    WITH p AS (
      SELECT id, CAST(id AS DOUBLE) * 3.0 - 60.0 AS lon,
             RADIANS(20.0 + CAST(id AS DOUBLE) * 7.0) AS az,
             50000.0 + CAST(id AS DOUBLE) * 10000.0 AS s
      FROM range(40))
    SELECT id,
           ROUND(ST_X(ST_ProjectGeodesic(ST_Point(lon, 0.0), 200000.0, RADIANS(90.0)))
                 - lon, 6) AS eq_dlon,
           ROUND(ST_AzimuthGeodesic(ST_Point(lon, 0.0), ST_Point(lon + 5.0, 0.0)), 9)
             AS az_east,
           ROUND(ST_AzimuthGeodesic(ST_Point(lon, 10.0), ST_Point(lon, -5.0)), 9)
             AS az_south,
           ROUND(ST_AzimuthGeodesic(ST_Point(lon, 0.0),
                                    ST_ProjectGeodesic(ST_Point(lon, 0.0), s, az)) - az, 9)
             AS rt
    FROM p ORDER BY id"""

  private val g117Duck = """
    SELECT i AS id,
           ROUND(degrees(200000.0 / 6378137.0), 6) AS eq_dlon,
           ROUND(pi() / 2, 9) AS az_east,
           ROUND(pi(), 9) AS az_south,
           0.0 AS rt
    FROM range(40) t(i) ORDER BY id"""

  /** Line-editing + offset-curve utilities (g118, round 19):
    * ST_OffsetCurve (JTS OffsetCurve, the PostGIS left-positive
    * convention — inside corners trim exactly on the integer staircase,
    * so DuckDB replays the shifted WKT verbatim), ST_FlipCoordinates,
    * and the PostGIS vertex-editing trio ST_AddPoint (append + insert-at)
    * / ST_SetPoint (negative index from the end) / ST_RemovePoint. All
    * gated by exact WKT text equality against strings DuckDB assembles
    * from the same integer generator. */
  private val g118Spark = """
    WITH p AS (
      SELECT id, CAST(2 + id % 8 AS INT) AS w, CAST(3 + id % 5 AS INT) AS h
      FROM range(60))
    SELECT id,
      ST_AsText(ST_OffsetCurve(ST_GeomFromText(
        CONCAT('LINESTRING (0 0, ', w, ' 0, ', w, ' ', h, ')')), 1.0)) AS oc,
      ST_AsText(ST_FlipCoordinates(ST_GeomFromText(
        CONCAT('LINESTRING (1 2, ', w, ' ', h, ')')))) AS flip,
      ST_AsText(ST_AddPoint(ST_GeomFromText(CONCAT('LINESTRING (0 0, ', w, ' 0)')),
        ST_Point(CAST(w AS DOUBLE), CAST(h AS DOUBLE)))) AS addp,
      ST_AsText(ST_AddPoint(ST_GeomFromText(CONCAT('LINESTRING (0 0, ', w, ' 0)')),
        ST_Point(-1.0, -1.0), 0)) AS addp0,
      ST_AsText(ST_SetPoint(ST_GeomFromText(
        CONCAT('LINESTRING (0 0, ', w, ' 0, ', w, ' ', h, ')')), -1, ST_Point(9.0, 9.0))) AS setp,
      ST_AsText(ST_RemovePoint(ST_GeomFromText(
        CONCAT('LINESTRING (0 0, ', w, ' 0, ', w, ' ', h, ')')), 1)) AS remp
    FROM p ORDER BY id"""

  private val g118Duck = """
    WITH p AS (
      SELECT i AS id, 2 + i % 8 AS w, 3 + i % 5 AS h FROM range(60) t(i))
    SELECT id,
      'LINESTRING (0 1, ' || (w - 1) || ' 1, ' || (w - 1) || ' ' || h || ')' AS oc,
      'LINESTRING (2 1, ' || h || ' ' || w || ')' AS flip,
      'LINESTRING (0 0, ' || w || ' 0, ' || w || ' ' || h || ')' AS addp,
      'LINESTRING (-1 -1, 0 0, ' || w || ' 0)' AS addp0,
      'LINESTRING (0 0, ' || w || ' 0, 9 9)' AS setp,
      'LINESTRING (0 0, ' || w || ' ' || h || ')' AS remp
    FROM p ORDER BY id"""

  /** Geodesic overlay (g119, round 19): ST_IntersectionGeodesic/
    * ST_UnionGeodesic/ST_DifferenceGeodesic on the shared local-AEQD
    * plane — the edges-contract half BOTH engines previously ran planar
    * (edges.rs names overlay; its compute layer doesn't implement it).
    * Oracle pins measure-theoretic invariants that hold because the
    * projection is a bijection and the overlay nodes both inputs on one
    * plane: containment (small ⊂ big → ∩ ≡ small, ∪ ≡ big by area),
    * the partition identity |a|+|b| = |a∪b|+|a∩b| on overlapping pairs,
    * empty intersections for disjoint pairs, and difference-identity —
    * across 50 centers spanning ±60° latitude. Winding is normalized
    * CCW before measuring (JTS emits CW shells; areaSpheroid honors the
    * reference's CW-complement convention). */
  private val g119Spark = """
    WITH c AS (
      SELECT id, -170.0 + CAST(id % 18 AS DOUBLE) * 20.0 AS lon,
             -60.0 + CAST(id % 13 AS DOUBLE) * 10.0 AS lat,
             CAST((5 + id % 7) * 1000 AS DOUBLE) AS r
      FROM range(50)),
    shapes AS (
      SELECT id,
        ST_BufferGeodesic(ST_Point(lon, lat), r) AS small,
        ST_BufferGeodesic(ST_Point(lon, lat), 2 * r) AS big,
        ST_BufferGeodesic(ST_Point(lon + 0.02, lat), r) AS near,
        ST_BufferGeodesic(ST_Point(lon + 1.0, lat), r) AS far
      FROM c)
    SELECT id,
      ROUND(ST_AreaSpheroid(ST_ForcePolygonCCW(ST_IntersectionGeodesic(big, small))) /
            ST_AreaSpheroid(ST_ForcePolygonCCW(small)), 6) AS contain_i,
      ROUND(ST_AreaSpheroid(ST_ForcePolygonCCW(ST_UnionGeodesic(big, small))) /
            ST_AreaSpheroid(ST_ForcePolygonCCW(big)), 6) AS contain_u,
      ROUND((ST_AreaSpheroid(ST_ForcePolygonCCW(small)) +
             ST_AreaSpheroid(ST_ForcePolygonCCW(near))) /
            (ST_AreaSpheroid(ST_ForcePolygonCCW(ST_UnionGeodesic(small, near))) +
             ST_AreaSpheroid(ST_ForcePolygonCCW(ST_IntersectionGeodesic(small, near)))), 6)
        AS partition_id,
      ST_IsEmpty(ST_IntersectionGeodesic(small, far)) AS disjoint_i,
      ROUND(ST_AreaSpheroid(ST_ForcePolygonCCW(ST_DifferenceGeodesic(small, far))) /
            ST_AreaSpheroid(ST_ForcePolygonCCW(small)), 6) AS diff_id
    FROM shapes ORDER BY id"""

  private val g119Duck = """
    SELECT i AS id, 1.0 AS contain_i, 1.0 AS contain_u, 1.0 AS partition_id,
           true AS disjoint_i, 1.0 AS diff_id
    FROM range(50) t(i) ORDER BY id"""

  /** ST_ClusterWithin (g120, round 19): connected components of the
    * within-distance graph via [[graft.operators.Dbscan.clusterWithin]]
    * (DBSCAN at minPts = 1 — the ε-grid pair join + star-rounds
    * components, never all-pairs). The fixture is 40 three-point chains
    * at 0.4° spacing where every even/odd pair of chains overlaps into
    * one six-point component and consecutive pairs sit 5° apart, so the
    * min-id label has the closed form 6·⌊id/6⌋ that DuckDB replays
    * directly — merging across blob boundaries is exactly what the
    * transitive-closure step must get right. */
  private def g120Fn(s: SparkSession, dir: String): DataFrame = {
    val pts = s.sql("""
      SELECT CAST(id AS BIGINT) AS pid,
             ST_Point((CAST(id AS DOUBLE) - CAST(id % 6 AS DOUBLE)) / 6.0 * 7.0
                        + CAST(id % 6 AS DOUBLE) * 0.4,
                      0.0) AS geom
      FROM range(120)""")
    graft.operators.Dbscan.clusterWithin(pts, "pid", "geom", 1.0)
      .selectExpr("pid", "CAST(cluster_id AS BIGINT) AS cluster_id")
      .orderBy("pid")
  }

  private val g120Duck = """
    SELECT i AS pid, (i // 6) * 6 AS cluster_id
    FROM range(120) t(i) ORDER BY pid"""

  /** ST_ClusterIntersecting (g125, round 19 — completes the PostGIS
    * cluster quartet): connected components of the ST_Intersects graph.
    * Chains of 5 envelopes overlap pairwise inside a group (offset 1 <
    * width 1.2) and groups sit 100 apart, so the closed-form component
    * label is the group's minimum id. The pair join rides the planner's
    * grid strategy — candidate generation is O(local overlap). */
  private def g125Fn(s: SparkSession, dir: String): DataFrame = {
    val boxes = s.sql("""
      SELECT CAST(id AS BIGINT) AS pid,
             ST_MakeEnvelope(
               CAST(CAST(id / 5 AS INT) * 100 + id % 5 AS DOUBLE), 0.0,
               CAST(CAST(id / 5 AS INT) * 100 + id % 5 AS DOUBLE) + 1.2, 1.0) AS geom
      FROM range(150)""")
    graft.operators.Dbscan.clusterIntersecting(boxes, "pid", "geom")
      .selectExpr("pid", "CAST(cluster_id AS BIGINT) AS cluster_id")
      .orderBy("pid")
  }

  private val g125Duck = """
    SELECT i AS pid, (i // 5) * 5 AS cluster_id
    FROM range(150) t(i) ORDER BY pid"""

  /** Boolean predicates over edges-stamped POINT columns (g126, round 19):
    * a point has no edges, so predicates are model-independent and the
    * planar kernel answers exactly — the documented decision's oracle
    * half (non-point stamped columns stay planar-with-warning, pinned in
    * GeodesicBoundSpec). Points (id%25, id%10) are equal iff
    * id ≡ id' (mod 50); the ST_Intersects self-join over the stamped
    * read must return exactly those pairs, grid-planned like any
    * predicate join. */
  private def g126Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g126_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    graft.sources.GeoParquet.write(s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_Point(CAST(id % 25 AS DOUBLE), CAST(id % 10 AS DOUBLE)) AS geometry
      FROM range(100)"""), out, edges = Some("spherical"))
    graft.sources.GeoParquet.read(s, out).createOrReplaceTempView("g126_pts")
    s.sql("""
      SELECT a.fid AS aid, b.fid AS bid
      FROM g126_pts a JOIN g126_pts b
        ON ST_Intersects(a.geometry, b.geometry) AND a.fid < b.fid
      ORDER BY aid""")
  }

  private val g126Duck = """
    SELECT i::BIGINT AS aid, (i + 50)::BIGINT AS bid
    FROM range(50) t(i) ORDER BY aid"""

  /** Geodesic closest-point / shortest-line (g121, round 19): on an
    * equator segment the true foot from (λ, φ) is (λ, 0) by meridian
    * perpendicularity, so DuckDB can gate the semantics: the returned
    * foot lies ON the equator (nano-degree), its geodesic distance
    * exceeds the analytic minimum by < 0.5 m at these ≤ 350 km ranges
    * (the documented second-order plane contract), and the shortest
    * line's geodesic length equals that distance to the millimeter. */
  private val g121Spark = """
    WITH p AS (
      SELECT id, 2.0 + CAST(id % 7 AS DOUBLE) AS lon,
             0.5 + CAST(id % 5 AS DOUBLE) * 0.5 AS lat
      FROM range(40)),
    c AS (
      SELECT id, lon, lat,
             ST_ClosestPointGeodesic(ST_GeomFromText('LINESTRING (0 0, 10 0)'),
                                     ST_Point(lon, lat)) AS cp,
             ST_ShortestLineGeodesic(ST_GeomFromText('LINESTRING (0 0, 10 0)'),
                                     ST_Point(lon, lat)) AS sl
      FROM p)
    SELECT id,
           CAST(ROUND(ST_Y(cp) * 1e9) AS BIGINT) AS y_nanodeg,
           CAST(ROUND(ST_DistanceGeodesic(ST_Point(lon, lat), cp)
                      - ST_DistanceGeodesic(ST_Point(lon, lat), ST_Point(lon, 0.0)))
             AS BIGINT) AS excess_m,
           CAST(ROUND((ST_LengthGeodesic(sl)
                       - ST_DistanceGeodesic(ST_Point(lon, lat), cp)) * 1000)
             AS BIGINT) AS len_mm
    FROM c ORDER BY id"""

  private val g121Duck = """
    SELECT i AS id, 0::BIGINT AS y_nanodeg, 0::BIGINT AS excess_m, 0::BIGINT AS len_mm
    FROM range(40) t(i) ORDER BY id"""

  /** K-means (g122, round 19): [[graft.operators.KMeans.cluster]] is
    * deterministic Lloyd — k-smallest-id seeding, fixed iterations,
    * integer-exact FLOOR(coord·1e6) re-centroiding (the e13 discipline),
    * strict-< argmin — so DuckDB replays the ENTIRE unrolled recursion:
    * three assignment/update rounds over four overlapping blobs, the
    * final labels compared row-for-row. The blobs overlap on purpose
    * (centers 6 apart, spread 0..4) so assignments genuinely move
    * between iterations and the replay exercises the full loop, not a
    * converged fixed point. */
  private def g122Fn(s: SparkSession, dir: String): DataFrame = {
    val pts = s.sql("""
      SELECT CAST(id AS BIGINT) AS pid,
             ST_Point(CAST((id % 4) * 6 + (id DIV 4) % 5 AS DOUBLE),
                      CAST((id % 4) * 3 + (id DIV 20) % 5 AS DOUBLE)) AS geom
      FROM range(200)""")
    graft.operators.KMeans.cluster(pts, "pid", "geom", k = 4, iters = 3)
      .selectExpr("pid", "CAST(cluster_id AS INT) AS cid")
      .orderBy("pid")
  }

  private val g122Duck = """
    WITH pts AS (
      SELECT i AS id,
             CAST((i % 4) * 6 + (i // 4) % 5 AS DOUBLE) AS x,
             CAST((i % 4) * 3 + (i // 20) % 5 AS DOUBLE) AS y
      FROM range(200) t(i)),
    c0 AS (SELECT id::INT AS cid, x AS cx, y AS cy FROM pts WHERE id < 4),
    a0 AS (SELECT p.id, p.x, p.y, c.cid FROM pts p CROSS JOIN c0 c
           QUALIFY ROW_NUMBER() OVER (PARTITION BY p.id
             ORDER BY (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy), c.cid) = 1),
    u1 AS (SELECT cid, (SUM(FLOOR(x*1e6))::BIGINT::DOUBLE / COUNT(*)) / 1e6 AS cx,
                  (SUM(FLOOR(y*1e6))::BIGINT::DOUBLE / COUNT(*)) / 1e6 AS cy
           FROM a0 GROUP BY cid),
    c1 AS (SELECT s.cid, COALESCE(u.cx, s.cx) AS cx, COALESCE(u.cy, s.cy) AS cy
           FROM c0 s LEFT JOIN u1 u USING (cid)),
    a1 AS (SELECT p.id, p.x, p.y, c.cid FROM pts p CROSS JOIN c1 c
           QUALIFY ROW_NUMBER() OVER (PARTITION BY p.id
             ORDER BY (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy), c.cid) = 1),
    u2 AS (SELECT cid, (SUM(FLOOR(x*1e6))::BIGINT::DOUBLE / COUNT(*)) / 1e6 AS cx,
                  (SUM(FLOOR(y*1e6))::BIGINT::DOUBLE / COUNT(*)) / 1e6 AS cy
           FROM a1 GROUP BY cid),
    c2 AS (SELECT s.cid, COALESCE(u.cx, s.cx) AS cx, COALESCE(u.cy, s.cy) AS cy
           FROM c1 s LEFT JOIN u2 u USING (cid)),
    a2 AS (SELECT p.id, p.x, p.y, c.cid FROM pts p CROSS JOIN c2 c
           QUALIFY ROW_NUMBER() OVER (PARTITION BY p.id
             ORDER BY (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy), c.cid) = 1),
    u3 AS (SELECT cid, (SUM(FLOOR(x*1e6))::BIGINT::DOUBLE / COUNT(*)) / 1e6 AS cx,
                  (SUM(FLOOR(y*1e6))::BIGINT::DOUBLE / COUNT(*)) / 1e6 AS cy
           FROM a2 GROUP BY cid),
    c3 AS (SELECT s.cid, COALESCE(u.cx, s.cx) AS cx, COALESCE(u.cy, s.cy) AS cy
           FROM c2 s LEFT JOIN u3 u USING (cid)),
    a3 AS (SELECT p.id, c.cid FROM pts p CROSS JOIN c3 c
           QUALIFY ROW_NUMBER() OVER (PARTITION BY p.id
             ORDER BY (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy), c.cid) = 1)
    SELECT id AS pid, cid FROM a3 ORDER BY pid"""

  /** Geodesic line substring (g123, round 19): the equator closed form
    * again — `[from, to]` of `LINESTRING (0 0, Δλ 0)` cuts at exactly
    * from·Δλ and to·Δλ (micro-degree gate over the direct∘inverse
    * roundtrip noise), stays on the equator to the nano-degree, and the
    * piece's geodesic length is (to−from)·a·rad(Δλ) to the millimeter. */
  private val g123Spark = """
    WITH p AS (
      SELECT id, CAST(5 + id % 6 AS DOUBLE) * 5.0 AS dlam,
             0.05 * CAST(1 + id % 5 AS DOUBLE) AS f0,
             1.0 - 0.05 * CAST(1 + id % 7 AS DOUBLE) AS f1
      FROM range(40)),
    c AS (
      SELECT id, dlam, f0, f1,
             ST_LineSubstringGeodesic(
               ST_GeomFromText(CONCAT('LINESTRING (0 0, ', dlam, ' 0)')), f0, f1) AS sub
      FROM p)
    SELECT id,
           CAST(ROUND((ST_X(ST_PointN(sub, 0)) - f0 * dlam) * 1e6) AS BIGINT) AS x0_microdeg,
           CAST(ROUND((ST_X(ST_PointN(sub, 1)) - f1 * dlam) * 1e6) AS BIGINT) AS x1_microdeg,
           CAST(ROUND(ST_Y(ST_PointN(sub, 0)) * 1e9) AS BIGINT) AS y_nanodeg,
           CAST(ROUND((ST_LengthGeodesic(sub)
                       - (f1 - f0) * 6378137.0 * RADIANS(dlam)) * 1000) AS BIGINT) AS len_mm
    FROM c ORDER BY id"""

  private val g123Duck = """
    SELECT i AS id, 0::BIGINT AS x0_microdeg, 0::BIGINT AS x1_microdeg,
           0::BIGINT AS y_nanodeg, 0::BIGINT AS len_mm
    FROM range(40) t(i) ORDER BY id"""

  /** Geodesic BOUNDED bbox read (g124, round 19) — the wrong-answer-by-
    * pruning scenario the edges contract names (edges.rs:3-8 "bounding"):
    * symmetric chords `(-Δλ φ0, Δλ φ0)` are written edges-stamped; their
    * arcs bow poleward to the Clairaut vertex φv = atan(tan φ0 / cos Δλ),
    * far above the chord bbox (lat φ0). A polar window crossed by the ARC
    * but disjoint from every CHORD box must still return those rows: the
    * stamped write pads the covering to the vertex (st_bboxgeodesic) and
    * the stamped read refines along the segmentized arc. Membership is
    * decided with ≥ 1° margin, so the spherical closed form in DuckDB and
    * the engine's Karney-arc refine (≤ 0.2° apart) agree exactly. */
  private def g124Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g124_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val rows = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CAST(30 + 10 * (id % 4) AS DOUBLE) AS dlam,
             CAST(35 + 5 * (CAST(id / 4 AS INT) % 5) AS DOUBLE) AS lat0
      FROM range(20)""")
      .selectExpr("fid",
        "ST_GeomFromText(CONCAT('LINESTRING (-', dlam, ' ', lat0, ', ', dlam, ' ', lat0, ')')) AS geometry")
    graft.sources.GeoParquet.write(rows.coalesce(2), out, edges = Some("spherical"))
    graft.sources.GeoParquet.read(s, out, bbox = Some((-0.5, 64.5, 0.5, 90.0)))
      .selectExpr("fid AS id").orderBy("id")
  }

  private val g124Duck = """
    SELECT i::BIGINT AS id FROM range(20) t(i)
    WHERE DEGREES(ATAN(TAN(RADIANS(35 + 5 * ((i // 4) % 5)))
                       / COS(RADIANS(30 + 10 * (i % 4))))) > 64.5
    ORDER BY id"""

  /** RANK()-with-ties kNN join (g106, round 18): the SQL window shape
    * `RANK() OVER (PARTITION BY lid ORDER BY ST_Distance) <= k` over a
    * cross join is planned as [[graft.plans.KnnTopKExec]] in withTies
    * mode (plan asserted in KnnJoinSpec) — membership is `dist ≤ k-th
    * smallest group distance`, so the output SET is deterministic and
    * boundary ties are kept, unlike the ROW_NUMBER shape's arbitrary
    * tie-break. The right side's modular coordinates collide every 50
    * keys (exact duplicate points), so the rank-k boundary lands inside
    * ~40-member tie classes and the tie extension carries real weight.
    * Squared distances are integers, so tie equality is exact in BOTH
    * engines; the oracle replays the literal cartesian + RANK window. */
  private val g106Spark = """
    SELECT lid, CAST(rk AS BIGINT) AS rnk, rid, ROUND(d, 6) AS dist
    FROM (SELECT l.lid, r.rid, ST_Distance(l.lg, r.rg) AS d,
                 RANK() OVER (PARTITION BY l.lid ORDER BY ST_Distance(l.lg, r.rg)) AS rk
          FROM (SELECT c_custkey AS lid,
                       ST_Point(CAST(c_custkey % 41 AS DOUBLE),
                                CAST((c_custkey * 7) % 37 AS DOUBLE)) AS lg
                FROM customer WHERE c_custkey % 30 = 1) l
          CROSS JOIN (SELECT p_partkey AS rid,
                             ST_Point(CAST(p_partkey % 50 AS DOUBLE),
                                      CAST((p_partkey * 7) % 50 AS DOUBLE)) AS rg
                      FROM part) r) t
    WHERE rk <= 3
    ORDER BY lid, rnk, rid"""

  private val g106Duck = """
    WITH l AS (SELECT c_custkey AS lid,
                      CAST(c_custkey % 41 AS DOUBLE) AS lx,
                      CAST((c_custkey * 7) % 37 AS DOUBLE) AS ly
               FROM customer WHERE c_custkey % 30 = 1),
    r AS (SELECT p_partkey AS rid,
                 CAST(p_partkey % 50 AS DOUBLE) AS rx,
                 CAST((p_partkey * 7) % 50 AS DOUBLE) AS ry
          FROM part),
    pairs AS (SELECT lid, rid,
                     sqrt((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry)) AS d
              FROM l CROSS JOIN r),
    rk AS (SELECT lid, rid, d,
                  RANK() OVER (PARTITION BY lid ORDER BY d) AS rnk
           FROM pairs)
    SELECT lid, rnk::BIGINT AS rnk, rid, ROUND(d, 6) AS dist
    FROM rk WHERE rnk <= 3 ORDER BY lid, rnk, rid"""

  /** Farthest-k join (g127, round 19 — the g106 shape with ORDER BY
    * DESC): `RANK() OVER (… ORDER BY ST_Distance DESC) <= 3` over a cross
    * join plans as [[graft.plans.KnnTopKExec]] in descending mode
    * (plan-asserted in KnnJoinSpec), which runs the exact cell-bound
    * farthest-k operator — candidate cells are those whose max corner
    * distance reaches the k-th largest per-cell lower bound, never a
    * cartesian. Same duplicate-point tie classes as g106, so the RANK
    * boundary extension carries weight; squared distances are integers,
    * making tie equality exact in both engines. */
  private val g127Spark = """
    SELECT lid, CAST(rk AS BIGINT) AS rnk, rid, ROUND(d, 6) AS dist
    FROM (SELECT l.lid, r.rid, ST_Distance(l.lg, r.rg) AS d,
                 RANK() OVER (PARTITION BY l.lid ORDER BY ST_Distance(l.lg, r.rg) DESC) AS rk
          FROM (SELECT c_custkey AS lid,
                       ST_Point(CAST(c_custkey % 41 AS DOUBLE),
                                CAST((c_custkey * 7) % 37 AS DOUBLE)) AS lg
                FROM customer WHERE c_custkey % 30 = 1) l
          CROSS JOIN (SELECT p_partkey AS rid,
                             ST_Point(CAST(p_partkey % 50 AS DOUBLE),
                                      CAST((p_partkey * 7) % 50 AS DOUBLE)) AS rg
                      FROM part) r) t
    WHERE rk <= 3
    ORDER BY lid, rnk, rid"""

  /** GDA2020 datum hop (g128, round 19 — the g104 full-chain replay
    * discipline for the fourth/fifth non-WGS84-aligned datums): WGS84 →
    * EPSG:7844 runs the national 7-param Helmert (EPSG 8048,
    * coordinate-frame → position-vector sign flip) through ECEF on
    * GRS80; DuckDB replays the whole chain — geodetic→ECEF, small-angle
    * position-vector Helmert, ECEF→geodetic by the same unrolled fixed
    * point — from raw constants. The fourth column gates the
    * time-dependent 14-param twin (EPSG 8447) at its reference epoch:
    * ST_TransformGda2020Epoch(p, 2020.0) must be the exact identity. */
  private val g128Spark = """
    SELECT id,
           CAST(ROUND(ST_X(g) * 1e7) AS BIGINT) AS lon20,
           CAST(ROUND(ST_Y(g) * 1e7) AS BIGINT) AS lat20,
           CAST(ROUND((ST_X(ST_TransformGda2020Epoch(p, 2020.0D)) - ST_X(p)) * 1e9) AS BIGINT) AS ident20
    FROM (SELECT c_custkey AS id,
                 ST_Point(114.0 + CAST(c_custkey % 77 AS DOUBLE) / 2.0,
                          -38.0 + CAST(c_custkey % 53 AS DOUBLE) / 2.0) AS p,
                 ST_Transform(ST_Point(114.0 + CAST(c_custkey % 77 AS DOUBLE) / 2.0,
                                       -38.0 + CAST(c_custkey % 53 AS DOUBLE) / 2.0),
                              4326, 7844) AS g
          FROM customer)
    ORDER BY id"""

  /** Editing/analysis parity batch (g129, round 19): ST_Split (line by
    * point + polygon by line), ST_Angle (clockwise-from-north), ST_Snap,
    * ST_Segmentize (planar densify contract), ST_BoundingDiagonal and
    * ST_SharedPaths — every output a closed form DuckDB recomputes from
    * the same fixture arithmetic. */
  private val g129Spark = """
    WITH p AS (
      SELECT CAST(id AS BIGINT) AS id,
             CAST(6 + id % 7 AS DOUBLE) AS L,
             CAST(1 + id % 5 AS DOUBLE) AS c,
             CAST(1 + id % 9 AS DOUBLE) AS v,
             CAST(1 + id % 4 AS DOUBLE) AS x3,
             CAST(1 + id % 3 AS DOUBLE) AS y3,
             CAST(3 + id % 3 AS DOUBLE) AS seg
      FROM range(30)),
    f AS (
      SELECT id, L, c, v, x3, y3, seg,
             ST_Split(ST_GeomFromText(CONCAT('LINESTRING (0 0, ', L, ' 0)')),
                      ST_GeomFromText(CONCAT('POINT (', c, ' 0)'))) AS cutl,
             ST_Split(ST_GeomFromText('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'),
                      ST_GeomFromText(CONCAT('LINESTRING (', v, ' -1, ', v, ' 11)'))) AS cutp,
             ST_SharedPaths(
               ST_GeomFromText('LINESTRING (0 0, 20 0)'),
               ST_GeomFromText(CONCAT('MULTILINESTRING ((', c, ' 0, ', c + 2.0, ' 0), (',
                                      c + 10.0, ' 0, ', c + 8.0, ' 0))'))) AS sp,
             ST_BoundingDiagonal(
               ST_MakeEnvelope(2.0, 1.0, 2.0 + x3, 1.0 + y3)) AS diag,
             ST_Snap(ST_GeomFromText(CONCAT('LINESTRING (0 0, ', L - 0.05, ' 0.05)')),
                     ST_GeomFromText(CONCAT('POINT (', L, ' 0)')), 0.2) AS snapped
      FROM p)
    SELECT id,
           CAST(ST_NumGeometries(cutl) AS BIGINT) AS line_pieces,
           ROUND(LEAST(ST_Length(ST_GeometryN(cutl, 0)), ST_Length(ST_GeometryN(cutl, 1))), 9) AS min_cut,
           CAST(ST_NumGeometries(cutp) AS BIGINT) AS poly_pieces,
           ROUND(LEAST(ST_Area(ST_GeometryN(cutp, 0)), ST_Area(ST_GeometryN(cutp, 1))), 9) AS min_area,
           CAST(ROUND(ST_Angle(ST_Point(0.0, 1.0), ST_Point(0.0, 0.0), ST_Point(x3, y3)) * 1e9) AS BIGINT) AS angle_nano,
           ROUND(ST_Length(ST_GeometryN(sp, 0)), 9) AS shared_same,
           ROUND(ST_Length(ST_GeometryN(sp, 1)), 9) AS shared_opp,
           ROUND(ST_X(ST_PointN(diag, 1)), 9) AS diag_x,
           ROUND(ST_Y(ST_PointN(diag, 1)), 9) AS diag_y,
           CAST(ST_NPoints(ST_Segmentize(ST_GeomFromText('LINESTRING (0 0, 10 0)'), seg)) AS BIGINT) AS seg_np,
           ROUND(ST_X(ST_PointN(snapped, 1)), 9) AS snap_x
    FROM f ORDER BY id"""

  /** 3D measures (g130, round 19): pythagorean closed forms over the
    * Z-preserving WKB — 3D distance/length/perimeter/dwithin replayed
    * arithmetically in DuckDB. */
  private val g130Spark = """
    WITH p AS (
      SELECT CAST(id AS BIGINT) AS id,
             CAST(1 + id % 5 AS DOUBLE) AS a,
             CAST(1 + id % 7 AS DOUBLE) AS b,
             CAST(1 + id % 4 AS DOUBLE) AS c
      FROM range(40))
    SELECT id,
           ROUND(ST_3DDistance(ST_GeomFromText('POINT Z(0 0 0)'),
                               ST_GeomFromText(CONCAT('POINT Z(', a, ' ', b, ' ', c, ')'))), 9) AS d3,
           ROUND(ST_3DLength(ST_GeomFromText(
             CONCAT('LINESTRING Z(0 0 0, ', a, ' ', b, ' ', c, ', ', a, ' ', b, ' 0)'))), 9) AS l3,
           ROUND(ST_3DPerimeter(ST_GeomFromText(
             CONCAT('POLYGON Z((0 0 0, ', a, ' 0 0, ', a, ' 0 ', c, ', 0 0 ', c, ', 0 0 0))'))), 9) AS p3,
           ST_3DDWithin(ST_GeomFromText('POINT Z(0 0 0)'),
                        ST_GeomFromText(CONCAT('POINT Z(', a, ' ', b, ' ', c, ')')), 6.0) AS w3
    FROM p ORDER BY id"""

  /** Measured (LRS) family (g131, round 19): M gets semantics beyond
    * roundtripping — locate-along/between interpolate the measure
    * linearly per segment; Z/M bounds; Force3D stamps. All closed-form
    * in DuckDB. */
  private val g131Spark = """
    WITH p AS (
      SELECT CAST(id AS BIGINT) AS id,
             CAST(10 + id % 5 AS DOUBLE) AS L,
             CAST(10 * (1 + id % 9) AS DOUBLE) AS m0,
             CAST(10 * (1 + id % 4) AS DOUBLE) AS m1,
             CAST(10 * (5 + id % 5) AS DOUBLE) AS m2
      FROM range(36)),
    f AS (
      SELECT id, L, m0, m1, m2,
             ST_GeomFromText(CONCAT('LINESTRING M (0 0 0, ', L, ' 0 100)')) AS g
      FROM p)
    SELECT id,
           ROUND(ST_X(ST_GeometryN(ST_LocateAlong(g, m0), 0)), 9) AS along_x,
           ROUND(ST_Length(ST_LocateBetween(g, m1, m2)), 9) AS between_len,
           ROUND(ST_MMax(g), 9) AS mmax,
           ROUND(ST_MMin(g), 9) AS mmin,
           ROUND(ST_ZMin(ST_Force3D(g, CAST(id AS DOUBLE) + 0.5)), 9) AS forced_z,
           ROUND(ST_3DLength(ST_Force3D(ST_GeomFromText('LINESTRING (0 0, 3 4)'),
                                        0.0)), 9) AS flat3d
    FROM f ORDER BY id"""

  /** Max-distance/longest-line/generate-points (g132, round 19):
    * vertex-pair extremes have exact closed forms; the seeded point
    * generator gates on count, containment, and determinism (boolean
    * closed forms — the coordinates themselves are implementation-seeded
    * and deliberately not oracled). */
  private val g132Spark = """
    WITH p AS (
      SELECT CAST(id AS BIGINT) AS id,
             CAST(3 + id % 6 AS DOUBLE) AS w,
             CAST(2 + id % 4 AS DOUBLE) AS h,
             CAST(10 + id % 7 AS DOUBLE) AS px
      FROM range(30)),
    f AS (
      SELECT id, w, h, px,
             ST_MakeEnvelope(0.0, 0.0, w, h) AS box,
             ST_Point(px, 0.0) AS far,
             ST_GeneratePoints(ST_MakeEnvelope(0.0, 0.0, w, h),
                               CAST(20 + id % 10 AS INT), id) AS pts
      FROM p)
    SELECT id,
           ROUND(ST_MaxDistance(box, box), 9) AS diam,
           ROUND(ST_MaxDistance(box, far), 9) AS reach,
           ROUND(ST_Length(ST_LongestLine(box, far)), 9) AS ll_len,
           CAST(ST_NumGeometries(pts) AS BIGINT) AS npts,
           ST_CoveredBy(pts, ST_MakeEnvelope(0.0, 0.0, w, h)) AS inside,
           ST_Equals(pts, ST_GeneratePoints(ST_MakeEnvelope(0.0, 0.0, w, h),
                                            CAST(20 + id % 10 AS INT), id)) AS deterministic
    FROM f ORDER BY id"""

  /** Trajectory CPA quartet (g133, round 19): two linear motions — A
    * along the x-axis at unit speed, B vertical at x = 5+o — have the
    * closed form t* = (5+c)/2, d = |c−5|/√2, replayed arithmetically. */
  private val g133Spark = """
    WITH p AS (
      SELECT CAST(id AS BIGINT) AS id, CAST(5 + id % 4 AS DOUBLE) AS c
      FROM range(28)),
    f AS (
      SELECT id, c,
             ST_GeomFromText('LINESTRING M (0 0 0, 10 0 10)') AS a,
             ST_GeomFromText(CONCAT('LINESTRING M (', c, ' -5 0, ', c, ' 5 10)')) AS bt
      FROM p)
    SELECT id,
           ST_IsValidTrajectory(a) AS va,
           ROUND(ST_ClosestPointOfApproach(a, bt), 9) AS tstar,
           ROUND(ST_DistanceCPA(a, bt), 9) AS dcpa,
           ST_CPAWithin(a, bt, 1.5) AS near
    FROM f ORDER BY id"""

  private val g133Duck = """
    WITH p AS (SELECT i::BIGINT AS id, (5 + i % 4)::DOUBLE AS c FROM range(28) t(i))
    SELECT id, true AS va,
           ROUND((5.0 + c) / 2.0, 9) AS tstar,
           ROUND((c - 5.0) / sqrt(2.0), 9) AS dcpa,
           (c - 5.0) / sqrt(2.0) <= 1.5 AS near
    FROM p ORDER BY id"""

  /** Geodesic farthest-k, PLANNED (g134, round 20): the ROW_NUMBER /
    * ST_DistanceSphere DESC window over a cross join — the last DESC
    * shape the strategy used to warn about — now takes
    * [[graft.plans.KnnTopKExec]] → farthestK's triangle-inequality
    * circle bounds (EntryViewsSpec pins the plan; this oracle pins the
    * RESULT). Fixture: right points march up a meridian 4° apart, so
    * top-3 farthest distances per left row are hundreds of km apart and
    * rank order is engine-independent; DuckDB replays the exact
    * haversine (IAU radius 6371008.8) and the same window. */
  private val g134Spark = """
    WITH l AS (SELECT CAST(id AS BIGINT) AS lid,
                      ST_Point(CAST(10 * id AS DOUBLE) - 30.0,
                               CAST(7 * id AS DOUBLE) - 20.0) AS lg
               FROM range(6)),
    r AS (SELECT CAST(1000 + id AS BIGINT) AS rid,
                 ST_Point(0.5, CAST(4 * id AS DOUBLE) - 80.0) AS rg
          FROM range(40))
    SELECT lid, rid, CAST(rk AS BIGINT) AS rnk, ROUND(d / 1000.0, 4) AS dist_km
    FROM (SELECT l.lid, r.rid, ST_DistanceSphere(l.lg, r.rg) AS d,
                 ROW_NUMBER() OVER (PARTITION BY l.lid
                                    ORDER BY ST_DistanceSphere(l.lg, r.rg) DESC) AS rk
          FROM l CROSS JOIN r) t
    WHERE rk <= 3
    ORDER BY lid, rnk"""

  private val g134Duck = """
    WITH l AS (SELECT i::BIGINT AS lid, (10 * i)::DOUBLE - 30.0 AS lx,
                      (7 * i)::DOUBLE - 20.0 AS ly
               FROM range(6) t(i)),
    r AS (SELECT (1000 + i)::BIGINT AS rid, 0.5 AS rx,
                 (4 * i)::DOUBLE - 80.0 AS ry
          FROM range(40) t(i)),
    d AS (SELECT lid, rid,
                 2 * 6371008.8 * asin(least(1.0,
                   sqrt(pow(sin(radians(ry - ly) / 2), 2) +
                        cos(radians(ly)) * cos(radians(ry)) *
                        pow(sin(radians(rx - lx) / 2), 2)))) AS d
          FROM l CROSS JOIN r)
    SELECT lid, rid, rnk, ROUND(d / 1000.0, 4) AS dist_km
    FROM (SELECT lid, rid, d,
                 ROW_NUMBER() OVER (PARTITION BY lid ORDER BY d DESC) AS rnk
          FROM d) t
    WHERE rnk <= 3
    ORDER BY lid, rnk"""

  /** 3D predicate batch (g135, round 20): a diagonal Z segment
    * (0 0 0)→(8 0 8) probed by points (t, 0, t+gap). Power-of-two
    * geometry makes the on-line projection EXACT (u = t/8, dyadic), so
    * ST_3DIntersects answers gap = 0 with no epsilon; the vertex-pair
    * max distance has the pythagorean closed form both engines evaluate
    * on identical doubles. Flat-plate polygon caveat documented at the
    * kernel. */
  private val g135Spark = """
    WITH p AS (
      SELECT CAST(id AS BIGINT) AS id,
             CAST(1 + id % 5 AS DOUBLE) AS t,
             CAST(id % 3 AS DOUBLE) AS gap
      FROM range(30)),
    f AS (
      SELECT id, t, gap,
             ST_GeomFromText('LINESTRING Z (0 0 0, 8 0 8)') AS seg,
             ST_GeomFromText(CONCAT('POINT Z(', t, ' 0 ', t + gap, ')')) AS pt
      FROM p)
    SELECT id,
           ST_3DIntersects(seg, pt) AS hits,
           ROUND(ST_3DMaxDistance(seg, pt), 9) AS dmax,
           ROUND(ST_3DLength(ST_3DLongestLine(seg, pt)), 9) AS lll,
           ROUND(ST_3DDistance(seg, pt) * ST_3DDistance(seg, pt) * 2.0, 9) AS gap2x2,
           ROUND(ST_3DLength(ST_3DShortestLine(seg, pt)) *
                 ST_3DLength(ST_3DShortestLine(seg, pt)) * 2.0, 9) AS sl2x2,
           ROUND(ST_X(ST_3DClosestPoint(seg, pt)) * 2.0, 9) AS cp2x
    FROM f ORDER BY id"""

  private val g135Duck = """
    WITH p AS (SELECT i::BIGINT AS id, (1 + i % 5)::DOUBLE AS t,
                      (i % 3)::DOUBLE AS gap
               FROM range(30) t0(i))
    SELECT id, (gap = 0) AS hits,
           ROUND(GREATEST(sqrt(t*t + (t+gap)*(t+gap)),
                          sqrt((8-t)*(8-t) + (8-t-gap)*(8-t-gap))), 9) AS dmax,
           ROUND(GREATEST(sqrt(t*t + (t+gap)*(t+gap)),
                          sqrt((8-t)*(8-t) + (8-t-gap)*(8-t-gap))), 9) AS lll,
           ROUND(gap * gap, 9) AS gap2x2,
           ROUND(gap * gap, 9) AS sl2x2,
           ROUND(2 * t + gap, 9) AS cp2x
    FROM p ORDER BY id"""

  /** LRS inverse pair (g136, round 20): ST_AddMeasure stamps M linearly
    * by 2D length (continuous across multi components), and
    * ST_InterpolatePoint reads M back at the closest approach — the
    * inverse of ST_LocateAlong/ST_LineLocatePoint. Closed forms: on
    * LINESTRING (0 0, L 0) with measures m0→m1, the point (px, 3)
    * projects to fraction px·L/L² and reads m0 + (m1−m0)·frac; the
    * multi fixture pins cross-component continuity at the halfway
    * measure. */
  private val g136Spark = """
    WITH p AS (
      SELECT CAST(id AS BIGINT) AS id,
             CAST(8 + id % 5 AS DOUBLE) AS L,
             CAST(10 * (id % 4) AS DOUBLE) AS m0,
             CAST(id % 7 AS DOUBLE) + 0.5 AS px
      FROM range(35)),
    f AS (
      SELECT id, L, m0, px,
             ST_AddMeasure(ST_GeomFromText(CONCAT('LINESTRING (0 0, ', L, ' 0)')),
                           m0, m0 + 100.0) AS am,
             ST_AddMeasure(ST_GeomFromText('MULTILINESTRING ((0 0, 4 0), (4 0, 8 0))'),
                           0.0, 80.0) AS am2
      FROM p)
    SELECT id,
           ROUND(ST_M(ST_PointN(am, 0)), 9) AS m_start,
           ROUND(ST_M(ST_PointN(am, 1)), 9) AS m_end,
           ROUND(ST_InterpolatePoint(am, ST_Point(px, 3.0)), 9) AS m_at,
           ROUND(ST_InterpolatePoint(am2, ST_Point(6.0, 1.0)), 9) AS m_cont
    FROM f ORDER BY id"""

  private val g136Duck = """
    WITH p AS (SELECT i::BIGINT AS id, (8 + i % 5)::DOUBLE AS L,
                      (10 * (i % 4))::DOUBLE AS m0,
                      (i % 7)::DOUBLE + 0.5 AS px
               FROM range(35) t(i))
    SELECT id,
           ROUND(m0, 9) AS m_start,
           ROUND(m0 + 100.0, 9) AS m_end,
           ROUND(m0 + 100.0 * ((px * L) / (L * L)), 9) AS m_at,
           60.0 AS m_cont
    FROM p ORDER BY id"""

  /** Antimeridian-safe stamped reads (g137, round 20): rows whose
    * SHORTEST geodesic crosses ±180 (vertex lons >180° apart) must
    * survive a bbox window AT the seam and must NOT phantom-match a
    * mid-world window the naive world-spanning chord would cross — the
    * end-to-end proof of the round's geodesicEnvelope widening +
    * ST_ArcIntersectsBox refine. Expected membership is pure
    * arithmetic with NO vertex-latitude dependence: row i wraps iff
    * 2·o > 180, and a wrapping arc crosses the full seam strip
    * longitudinally somewhere in lat [endpoint, vertex] ⊂ [0, 90] — so
    * the seam window spans all northern latitudes and catches exactly
    * the wrapping rows (non-wrap rows never pass lon 90). The second
    * window sits in the SOUTHERN hemisphere: every arc bows poleward of
    * its ≥5°N endpoints, so nothing can match — including the
    * world-spanning planar chord a naive refine would trace. */
  private def g137Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g137_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val rows = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CAST(60 + 10 * (id % 6) AS DOUBLE) AS o,
             CAST(5 + id % 7 AS DOUBLE) AS lat
      FROM range(24)""")
      .selectExpr("fid",
        "ST_GeomFromText(CONCAT('LINESTRING (', o, ' ', lat, ', -', o, ' ', lat + 2, ')')) AS geometry")
    graft.sources.GeoParquet.write(rows.coalesce(2), out, edges = Some("spherical"))
    val seam = graft.sources.GeoParquet.read(s, out, bbox = Some((178.0, 0.0, 180.0, 90.0)))
      .selectExpr("fid AS id", "CAST(1 AS INT) AS win")
    val mid = graft.sources.GeoParquet.read(s, out, bbox = Some((-1.0, -50.0, 1.0, -40.0)))
      .selectExpr("fid AS id", "CAST(2 AS INT) AS win")
    seam.unionAll(mid).orderBy("win", "id")
  }

  private val g137Duck = """
    SELECT i::BIGINT AS id, 1 AS win FROM range(24) t(i)
    WHERE 60 + 10 * (i % 6) > 90
    ORDER BY id"""

  /** Construction/precision parity batch (g139, round 20):
    * ST_MaximumInscribedCircle (square side 2a → radius a, unique
    * center, both within the PostGIS-default tolerance absorbed by
    * ROUND 2 after normalizing by a), ST_LargestEmptyCircle (two
    * obstacles on the bottom edge of a square boundary → unique max at
    * the top-edge midpoint, radius a√5), ST_MinimumClearance(+Line)
    * (rectangle → the short side, exactly), ST_MinimumBoundingCircle
    * (covers its input; 4·quadSegs+1 ring points), ST_TriangulatePolygon
    * (rectangle → 2 triangles whose integer-coordinate areas sum
    * exactly), ST_3DLineInterpolatePoint (3-4-5 segment → dyadic-exact
    * landing), ST_Node (crossing integer segments → 4 pieces, length
    * preserved), ST_UnaryUnion (two overlapping squares → inclusion-
    * exclusion area). */
  private val g139Spark = """
    WITH p AS (SELECT CAST(id AS BIGINT) AS id,
                      CAST(1 + id % 5 AS DOUBLE) AS a
               FROM range(25)),
    f AS (SELECT id, a,
        ST_GeomFromText(CONCAT('POLYGON ((0 0, ', 2*a, ' 0, ', 2*a, ' ', 2*a, ', 0 ', 2*a, ', 0 0))')) AS sq,
        ST_GeomFromText(CONCAT('POLYGON ((0 0, ', 3*a, ' 0, ', 3*a, ' ', a, ', 0 ', a, ', 0 0))')) AS rect,
        ST_GeomFromText(CONCAT('MULTIPOINT ((0 0), (', 2*a, ' 0))')) AS obs,
        ST_GeomFromText(CONCAT('LINESTRING Z (0 0 0, ', 3*a, ' 0 ', 4*a, ')')) AS seg3,
        ST_GeomFromText(CONCAT('MULTILINESTRING ((0 0, ', 2*a, ' ', 2*a, '), (0 ', 2*a, ', ', 2*a, ' 0))')) AS cross_ls,
        ST_GeomFromText(CONCAT('GEOMETRYCOLLECTION (POLYGON ((0 0, ', 2*a, ' 0, ', 2*a, ' ', 2*a, ', 0 ', 2*a, ', 0 0)), POLYGON ((', a, ' ', a, ', ', 3*a, ' ', a, ', ', 3*a, ' ', 3*a, ', ', a, ' ', 3*a, ', ', a, ' ', a, ')))')) AS twosq
      FROM p)
    SELECT id,
           ROUND(ST_MaximumInscribedCircle(sq).radius / a, 2) AS mic_r,
           ROUND(ST_X(ST_GeomFromWKB(ST_MaximumInscribedCircle(sq).center)) / a, 2) AS mic_cx,
           ROUND(ST_LargestEmptyCircle(obs, a * 0.0001, sq).radius / a, 2) AS lec_r,
           ROUND(ST_Y(ST_GeomFromWKB(ST_LargestEmptyCircle(obs, a * 0.0001, sq).center)) / a, 2) AS lec_cy,
           ST_MinimumClearance(rect) AS clr,
           ROUND(ST_Length(ST_MinimumClearanceLine(rect)), 9) AS clr_len,
           ROUND(ST_X(ST_Centroid(ST_MinimumBoundingCircle(sq))) / a, 2) AS mbc_cx,
           ST_NPoints(ST_MinimumBoundingCircle(sq, 12)) AS mbc_np,
           ST_NumGeometries(ST_TriangulatePolygon(rect)) AS tri_n,
           ROUND(ST_Area(ST_TriangulatePolygon(rect)), 9) AS tri_area,
           ROUND(ST_X(ST_3DLineInterpolatePoint(seg3, 0.25)), 9) AS p3d_x,
           ROUND(ST_Z(ST_3DLineInterpolatePoint(seg3, 0.25)), 9) AS p3d_z,
           ST_NumGeometries(ST_Node(cross_ls)) AS node_n,
           ROUND(ST_Length(ST_Node(cross_ls)), 9) AS node_len,
           ROUND(ST_Area(ST_UnaryUnion(twosq)), 9) AS uu_area
    FROM f ORDER BY id"""

  private val g139Duck = """
    WITH p AS (SELECT i::BIGINT AS id, (1 + i % 5)::DOUBLE AS a FROM range(25) t(i))
    SELECT id,
           1.0 AS mic_r,
           1.0 AS mic_cx,
           ROUND(sqrt(5.0), 2) AS lec_r,
           2.0 AS lec_cy,
           a AS clr,
           ROUND(a, 9) AS clr_len,
           1.0 AS mbc_cx,
           49 AS mbc_np,
           2 AS tri_n,
           ROUND(3 * a * a, 9) AS tri_area,
           ROUND(0.75 * a, 9) AS p3d_x,
           ROUND(a, 9) AS p3d_z,
           4 AS node_n,
           ROUND(2 * sqrt(8 * a * a), 9) AS node_len,
           ROUND(7 * a * a, 9) AS uu_area
    FROM p ORDER BY id"""

  /** MVT tile-space quantization (g140, round 20): ST_AsMVTGeom over
    * ST_TileEnvelope bounds — inputs built FROM the envelope corners at
    * dyadic fractions, so the transformed integers are closed-form
    * (Y flips: tile space grows downward); the clip case pins the
    * buffered box, and a point lands on exact integer tile coords. */
  private val g140Spark = """
    WITH p AS (SELECT CAST(id AS BIGINT) AS id,
                      CAST(id % 4 AS INT) AS tx, CAST(id % 3 AS INT) AS ty
               FROM range(24)),
    f AS (SELECT id,
                 ST_TileEnvelope(2, CAST(tx AS BIGINT), CAST(ty AS BIGINT)) AS tile
          FROM p),
    geoms AS (SELECT id, tile,
        ST_MakeEnvelope(ST_XMin(tile) + (ST_XMax(tile) - ST_XMin(tile)) / 4,
                        ST_YMin(tile) + (ST_YMax(tile) - ST_YMin(tile)) / 4,
                        ST_XMin(tile) + 3 * (ST_XMax(tile) - ST_XMin(tile)) / 4,
                        ST_YMin(tile) + (ST_YMax(tile) - ST_YMin(tile)) / 2) AS inner_box,
        ST_MakeEnvelope(ST_XMin(tile) + (ST_XMax(tile) - ST_XMin(tile)) / 2,
                        ST_YMin(tile),
                        ST_XMax(tile) + (ST_XMax(tile) - ST_XMin(tile)),
                        ST_YMax(tile)) AS overflow_box,
        ST_Point((ST_XMin(tile) + ST_XMax(tile)) / 2,
                 (ST_YMin(tile) + ST_YMax(tile)) / 2) AS center
      FROM f)
    SELECT id,
           ROUND(ST_Area(ST_AsMVTGeom(inner_box, tile, 4096, 256, true)), 9) AS a_in,
           ST_BBox(ST_AsMVTGeom(inner_box, tile, 4096, 256, true)).xmin AS in_x0,
           ST_BBox(ST_AsMVTGeom(inner_box, tile, 4096, 256, true)).ymin AS in_y0,
           ST_BBox(ST_AsMVTGeom(overflow_box, tile, 4096, 256, true)).xmax AS ov_x1,
           ST_BBox(ST_AsMVTGeom(overflow_box, tile, 4096, 256, false)).xmax AS ov_x1_noclip,
           ST_AsText(ST_AsMVTGeom(center, tile)) AS ctr
    FROM geoms ORDER BY id"""

  private val g140Duck = """
    SELECT i::BIGINT AS id,
           2048.0 * 1024.0 AS a_in,
           1024.0 AS in_x0,
           2048.0 AS in_y0,
           (4096 + 256)::DOUBLE AS ov_x1,
           8192.0 AS ov_x1_noclip,
           'POINT (2048 2048)' AS ctr
    FROM range(24) t(i) ORDER BY id"""

  /** Polygonal coverage family (g141, round 20): the PostGIS 3.4 /
    * GEOS 3.12 ST_Coverage* surface over per-id unit-cell grids —
    * closed forms everywhere. ST_CoverageUnion_Agg (the map-side-
    * mergeable edge-dissolve union; exterior edges survive bit-exact,
    * so area = nx·ny, perimeter = 2(nx+ny), and EVERY boundary grid
    * vertex is kept: npoints = 2(nx+ny)+1), the scalar
    * ST_CoverageUnion over the collected collection (same answer),
    * ST_CoverageIsValid / ST_CoverageInvalidEdges (a grid IS a valid
    * coverage: all nx·ny per-element linework entries EMPTY), and
    * ST_CoverageSimplify over a two-parcel zigzag fixture (amplitude
    * 0.2a « tolerance a) whose shared edge straightens to x = 5a —
    * both halves land on the exact 20a² rectangle area, and the
    * simplified pair is still a valid coverage (neighbors moved in
    * lockstep — the property plain per-geometry simplify destroys). */
  private val g141Spark = """
    WITH p AS (SELECT CAST(id AS BIGINT) AS id,
                      CAST(2 + id % 4 AS INT) AS nx,
                      CAST(2 + id % 3 AS INT) AS ny,
                      CAST(1 + id % 5 AS DOUBLE) AS a
               FROM range(24)),
    cells AS (SELECT p.id, p.nx, p.ny,
                     ST_MakeEnvelope(CAST(i AS DOUBLE), CAST(j AS DOUBLE),
                                     CAST(i + 1 AS DOUBLE), CAST(j + 1 AS DOUBLE)) AS cell
              FROM p
              LATERAL VIEW explode(sequence(0, p.nx - 1)) t1 AS i
              LATERAL VIEW explode(sequence(0, p.ny - 1)) t2 AS j),
    cov AS (SELECT id, nx, ny,
                   ST_CoverageUnion_Agg(cell) AS u,
                   ST_Collect(collect_list(cell)) AS coll
            FROM cells GROUP BY id, nx, ny),
    zig AS (SELECT p.id, p.a, ST_Collect(array(
        ST_GeomFromText(CONCAT('POLYGON ((0 0, ', 5*a, ' 0, ', 4.8*a, ' ', a,
          ', ', 5.2*a, ' ', 2*a, ', ', 4.8*a, ' ', 3*a, ', ', 5*a, ' ', 4*a,
          ', 0 ', 4*a, ', 0 0))')),
        ST_GeomFromText(CONCAT('POLYGON ((', 5*a, ' 0, ', 10*a, ' 0, ', 10*a,
          ' ', 4*a, ', ', 5*a, ' ', 4*a, ', ', 4.8*a, ' ', 3*a, ', ', 5.2*a,
          ' ', 2*a, ', ', 4.8*a, ' ', a, ', ', 5*a, ' 0))')))) AS parcels
      FROM p),
    simp AS (SELECT id, a, ST_CoverageSimplify(parcels, a) AS s FROM zig)
    SELECT cov.id,
           ROUND(ST_Area(u), 9) AS cov_area,
           ROUND(ST_Perimeter(u), 9) AS cov_perim,
           ST_NPoints(u) AS cov_np,
           ROUND(ST_Area(ST_CoverageUnion(coll)), 9) AS scalar_area,
           ST_CoverageIsValid(coll) AS is_valid,
           ST_NumGeometries(ST_CoverageInvalidEdges(coll)) AS inv_n,
           ST_NumGeometries(s) AS simp_n,
           ROUND(ST_Area(ST_GeometryN(s, 0)) / (simp.a * simp.a), 9) AS simp_a0,
           ROUND(ST_Area(ST_GeometryN(s, 1)) / (simp.a * simp.a), 9) AS simp_a1,
           ST_CoverageIsValid(s) AS simp_valid
    FROM cov JOIN simp ON cov.id = simp.id ORDER BY cov.id"""

  private val g141Duck = """
    WITH p AS (SELECT i::BIGINT AS id,
                      (2 + i % 4)::INT AS nx, (2 + i % 3)::INT AS ny
               FROM range(24) t(i))
    SELECT id,
           ROUND(nx * ny, 9)::DOUBLE AS cov_area,
           ROUND(2 * (nx + ny), 9)::DOUBLE AS cov_perim,
           (2 * (nx + ny) + 1)::INT AS cov_np,
           ROUND(nx * ny, 9)::DOUBLE AS scalar_area,
           true AS is_valid,
           (nx * ny)::INT AS inv_n,
           2 AS simp_n,
           20.0 AS simp_a0,
           20.0 AS simp_a1,
           true AS simp_valid
    FROM p ORDER BY id"""

  /** Geometric median + longitude-convention helpers (g142, round 20).
    * ST_GeometricMedian: Weiszfeld over a CENTRALLY SYMMETRIC dyadic
    * point set {c ± d_k} — the centroid equals the center of symmetry
    * c, the gradient there cancels pairwise, so the iterate starts and
    * stays at c (exact to rounding; ROUND 9 absorbs the ~1e-15 of the
    * reciprocal-distance sums), and the vertex variant adds c ITSELF to
    * the set, making the start a data point the Vardi–Zhang step
    * refuses to leave (r = 0 ≤ η). ST_ShiftLongitude: the [-180,180] ↔
    * [0,360] toggle, involutive. ST_WrapX: a rectangle straddling
    * wrap=0 moved +360 splits into exactly 2 pieces with conserved area
    * and the [0,360] extent. ST_Scroll: ring restarted at an interior
    * vertex — same perimeter, new closed-form start. */
  private val g142Spark = """
    WITH p AS (SELECT CAST(id AS BIGINT) AS id,
                      CAST(id % 7 AS DOUBLE) + 0.5 AS cx,
                      CAST(id % 5 AS DOUBLE) + 0.25 AS cy,
                      CAST(1 + id % 3 AS DOUBLE) AS w
               FROM range(28)),
    f AS (SELECT id, cx, cy, w,
        ST_GeomFromText(CONCAT('MULTIPOINT ((', cx + 1, ' ', cy + 2, '), (', cx - 1, ' ', cy - 2,
          '), (', cx + 3, ' ', cy - 1, '), (', cx - 3, ' ', cy + 1,
          '), (', cx - 2, ' ', cy - 4, '), (', cx + 2, ' ', cy + 4, '))')) AS sym_pts,
        ST_GeomFromText(CONCAT('MULTIPOINT ((', cx, ' ', cy, '), (', cx + 1, ' ', cy + 2,
          '), (', cx - 1, ' ', cy - 2, '), (', cx + 3, ' ', cy - 1, '), (', cx - 3, ' ', cy + 1, '))')) AS vtx_pts,
        ST_GeomFromText(CONCAT('POLYGON ((', -10*w, ' 0, ', 20*w, ' 0, ', 20*w, ' ', 10*w,
          ', ', -10*w, ' ', 10*w, ', ', -10*w, ' 0))')) AS straddle,
        ST_GeomFromText(CONCAT('LINESTRING (', 170 + (id % 9), ' 10, ', -(170 + (id % 9)), ' 20)')) AS seam_line,
        ST_GeomFromText(CONCAT('LINESTRING (0 0, ', w, ' 0, ', w, ' ', w, ', 0 ', w, ', 0 0)')) AS ring,
        ST_Point(CAST(w AS DOUBLE), CAST(w AS DOUBLE)) AS pivot
      FROM p)
    SELECT id,
           ROUND(ST_X(ST_GeometricMedian(sym_pts)), 9) AS med_x,
           ROUND(ST_Y(ST_GeometricMedian(sym_pts)), 9) AS med_y,
           ROUND(ST_X(ST_GeometricMedian(vtx_pts, 1e-12, 50)), 9) AS vtx_x,
           ROUND(ST_Y(ST_GeometricMedian(vtx_pts, 1e-12, 50)), 9) AS vtx_y,
           ST_XMin(ST_ShiftLongitude(seam_line)) AS sl_xmin,
           ST_XMax(ST_ShiftLongitude(seam_line)) AS sl_xmax,
           ST_XMax(ST_ShiftLongitude(ST_ShiftLongitude(seam_line))) AS sl_invol,
           ST_NumGeometries(ST_WrapX(straddle, 0.0, 360.0)) AS wrap_n,
           ROUND(ST_Area(ST_WrapX(straddle, 0.0, 360.0)), 9) AS wrap_area,
           ST_XMin(ST_WrapX(straddle, 0.0, 360.0)) AS wrap_x0,
           ST_XMax(ST_WrapX(straddle, 0.0, 360.0)) AS wrap_x1,
           ST_AsText(ST_PointN(ST_Scroll(ring, pivot), 0)) AS scroll_start,
           ROUND(ST_Length(ST_Scroll(ring, pivot)), 9) AS scroll_len
    FROM f ORDER BY id"""

  private val g142Duck = """
    WITH p AS (SELECT i::BIGINT AS id,
                      (i % 7)::DOUBLE + 0.5 AS cx,
                      (i % 5)::DOUBLE + 0.25 AS cy,
                      (1 + i % 3)::DOUBLE AS w
               FROM range(28) t(i))
    SELECT id,
           ROUND(cx, 9) AS med_x,
           ROUND(cy, 9) AS med_y,
           ROUND(cx, 9) AS vtx_x,
           ROUND(cy, 9) AS vtx_y,
           (170 + (id % 9))::DOUBLE AS sl_xmin,
           (190 - (id % 9))::DOUBLE AS sl_xmax,
           (170 + (id % 9))::DOUBLE AS sl_invol,
           2 AS wrap_n,
           ROUND(300 * w * w, 9) AS wrap_area,
           0.0 AS wrap_x0,
           360.0 AS wrap_x1,
           CONCAT('POINT (', CASE WHEN w = CAST(w AS BIGINT) THEN CAST(CAST(w AS BIGINT) AS VARCHAR) ELSE CAST(w AS VARCHAR) END,
                  ' ', CASE WHEN w = CAST(w AS BIGINT) THEN CAST(CAST(w AS BIGINT) AS VARCHAR) ELSE CAST(w AS VARCHAR) END, ')') AS scroll_start,
           ROUND(4 * w, 9) AS scroll_len
    FROM p ORDER BY id"""

  /** Neighborhood/editing parity quartet (g143, round 20):
    * ST_Expand (envelope ± d as the bbox-prefilter polygon — 2- and
    * 3-arg), ST_DFullyWithin (MAX pairwise distance ≤ d, the complement
    * of ST_DWithin's min test; collinear fixtures make the boundary
    * case d = 3a exact in integer doubles), ST_LineExtend (2- and
    * 3-arg; axis-aligned ends land on exact integers, the 3-4-5
    * hypotenuse extension is dyadic to ROUND 9), ST_Points (every
    * vertex incl. the ring closure repeat). */
  private val g143Spark = """
    WITH p AS (SELECT CAST(id AS BIGINT) AS id,
                      CAST(1 + id % 5 AS DOUBLE) AS a
               FROM range(25)),
    f AS (SELECT id, a,
        ST_GeomFromText(CONCAT('LINESTRING (0 0, ', 4*a, ' ', 3*a, ')')) AS diag,
        ST_GeomFromText(CONCAT('LINESTRING (0 0, ', a, ' 0)')) AS seg1,
        ST_GeomFromText(CONCAT('LINESTRING (', 2*a, ' 0, ', 3*a, ' 0)')) AS seg2,
        ST_GeomFromText(CONCAT('LINESTRING (0 0, ', 3*a, ' 0, ', 3*a, ' ', 4*a, ')')) AS bent,
        ST_GeomFromText(CONCAT('LINESTRING (0 0, ', 3*a, ' ', 4*a, ')')) AS hyp,
        ST_GeomFromText(CONCAT('POLYGON ((0 0, ', a, ' 0, ', a, ' ', a, ', 0 0))')) AS tri
      FROM p)
    SELECT id,
           ROUND(ST_Area(ST_Expand(diag, a)), 9) AS exp_area,
           ST_XMin(ST_Expand(diag, a)) AS exp_x0,
           ROUND(ST_Area(ST_Expand(diag, a, 2 * a)), 9) AS exp_area2,
           ST_DFullyWithin(seg1, seg2, 3 * a) AS dfw_t,
           ST_DFullyWithin(seg1, seg2, 2.5 * a) AS dfw_f,
           ST_XMin(ST_LineExtend(bent, 2 * a, a)) AS ext_x0,
           ST_YMax(ST_LineExtend(bent, 2 * a, a)) AS ext_y1,
           ROUND(ST_Length(ST_LineExtend(bent, 2 * a, a)), 9) AS ext_len,
           ROUND(ST_XMax(ST_LineExtend(hyp, 5 * a)), 9) AS hyp_x1,
           ST_NPoints(ST_Points(tri)) AS np
    FROM f ORDER BY id"""

  private val g143Duck = """
    WITH p AS (SELECT i::BIGINT AS id, (1 + i % 5)::DOUBLE AS a FROM range(25) t(i))
    SELECT id,
           ROUND((4*a + 2*a) * (3*a + 2*a), 9) AS exp_area,
           -a AS exp_x0,
           ROUND((4*a + 2*a) * (3*a + 4*a), 9) AS exp_area2,
           true AS dfw_t,
           false AS dfw_f,
           -a AS ext_x0,
           6*a AS ext_y1,
           ROUND(10*a, 9) AS ext_len,
           ROUND(6*a, 9) AS hyp_x1,
           4 AS np
    FROM p ORDER BY id"""

  /** Dump/measure-filter/grid-cell parity (g144, round 20):
    * ST_DumpSegments (bent line + square ring → 2+4 segments, exact
    * total length), ST_DumpRings (donut → shell-then-hole polygons with
    * closed-form areas), ST_FilterByM (integer measure window keeps the
    * exact interior vertices), ST_Hexagon/ST_Square (the PostGIS grid
    * tiling: flat-topped hexagon of circumradius s — area 3√3/2·s²,
    * center at (1.5si, √3·s·(j + odd(i)/2)) — and the size-aligned
    * square cell; both ROUND-9 exact against arithmetic). */
  private val g144Spark = """
    WITH p AS (SELECT CAST(id AS BIGINT) AS id,
                      CAST(1 + id % 5 AS DOUBLE) AS a,
                      CAST(id % 4 AS INT) AS i,
                      CAST(id % 3 AS INT) AS j
               FROM range(24)),
    f AS (SELECT id, a, i, j,
        ST_GeomFromText(CONCAT('GEOMETRYCOLLECTION (LINESTRING (0 0, ', a, ' 0, ', a, ' ', a,
          '), POLYGON ((0 0, ', 2*a, ' 0, ', 2*a, ' ', 2*a, ', 0 ', 2*a, ', 0 0)))')) AS lw,
        ST_GeomFromText(CONCAT('POLYGON ((0 0, ', 4*a, ' 0, ', 4*a, ' ', 4*a, ', 0 ', 4*a,
          ', 0 0), (', a, ' ', a, ', ', 2*a, ' ', a, ', ', 2*a, ' ', 2*a, ', ', a, ' ', 2*a,
          ', ', a, ' ', a, '))')) AS donut,
        ST_GeomFromText(CONCAT('LINESTRING M (0 0 0, ', a, ' 0 5, ', 2*a, ' 0 10, ', 3*a,
          ' 0 15)')) AS mline
      FROM p)
    SELECT id,
           ST_NumGeometries(ST_DumpSegments(lw)) AS seg_n,
           ROUND(ST_Length(ST_DumpSegments(lw)), 9) AS seg_len,
           ST_NumGeometries(ST_DumpRings(donut)) AS ring_n,
           ROUND(ST_Area(ST_GeometryN(ST_DumpRings(donut), 0)), 9) AS shell_a,
           ROUND(ST_Area(ST_GeometryN(ST_DumpRings(donut), 1)), 9) AS hole_a,
           ST_NPoints(ST_FilterByM(mline, 4, 12)) AS fm_n,
           ROUND(ST_XMax(ST_FilterByM(mline, 4, 12)), 9) AS fm_x1,
           ROUND(ST_Area(ST_Hexagon(a, i, j)) / (a * a), 9) AS hex_a,
           ROUND(ST_X(ST_Centroid(ST_Hexagon(a, i, j))), 9) AS hex_cx,
           ROUND(ST_Y(ST_Centroid(ST_Hexagon(a, i, j))), 9) AS hex_cy,
           ST_XMin(ST_Square(a, i, j, ST_Point(0.5, 0.25))) AS sq_x0,
           ST_YMax(ST_Square(a, i, j, ST_Point(0.5, 0.25))) AS sq_y1
    FROM f ORDER BY id"""

  private val g144Duck = """
    WITH p AS (SELECT i::BIGINT AS id, (1 + i % 5)::DOUBLE AS a,
                      (i % 4)::INT AS ci, (i % 3)::INT AS cj
               FROM range(24) t(i))
    SELECT id,
           6 AS seg_n,
           ROUND(2*a + 8*a, 9) AS seg_len,
           2 AS ring_n,
           ROUND(16*a*a, 9) AS shell_a,
           ROUND(a*a, 9) AS hole_a,
           2 AS fm_n,
           ROUND(2*a, 9) AS fm_x1,
           ROUND(3 * sqrt(3.0) / 2, 9) AS hex_a,
           ROUND(1.5 * a * ci, 9) AS hex_cx,
           ROUND(sqrt(3.0) * a * (cj + 0.5 * (ci % 2)), 9) AS hex_cy,
           (0.5 + a * ci)::DOUBLE AS sq_x0,
           (0.25 + a * (cj + 1))::DOUBLE AS sq_y1
    FROM p ORDER BY id"""

  /** Grid tessellation generators (g145, round 20): ST_SquareGrid /
    * ST_HexagonGrid as array-of-(i,j,geom) for LATERAL VIEW explode —
    * the Spark face of PostGIS's set-returning generators. The square
    * grid over an exactly cell-aligned envelope emits nx·ny cells that
    * TILE it (coverage-union area == envelope area — the generator
    * feeds the coverage aggregate directly); the hexagon grid's count
    * is the padded index-rectangle closed form
    * (ceil(W/1.5s)+3)·(ceil(H/√3s)+3), its cells all share the exact
    * 3√3/2·s² area, and every i is emitted the same number of times
    * (the j-count). Fixture ratios sit far from ceil boundaries so the
    * arithmetic mirrors are fp-safe. */
  private val g145Spark = """
    WITH p AS (SELECT CAST(id AS BIGINT) AS id,
                      CAST(1 + id % 4 AS DOUBLE) AS a,
                      CAST(2 + id % 3 AS INT) AS nx,
                      CAST(2 + id % 2 AS INT) AS ny
               FROM range(24)),
    sq AS (SELECT p.id, p.a, p.nx, p.ny, c.i, c.j, c.geom
           FROM p LATERAL VIEW explode(
             ST_SquareGrid(a, ST_MakeEnvelope(0.0, 0.0, nx * a, ny * a))) t AS c),
    sqa AS (SELECT id, COUNT(*) AS sq_n,
                   MIN(i) AS sq_i0, MAX(i) AS sq_i1,
                   ROUND(SUM(ST_Area(geom)), 9) AS sq_area,
                   ROUND(ST_Area(ST_CoverageUnion_Agg(geom)), 9) AS sq_cov
            FROM sq GROUP BY id),
    hx AS (SELECT p.id, p.a, c.i, c.j, c.geom
           FROM p LATERAL VIEW explode(
             ST_HexagonGrid(a, ST_MakeEnvelope(0.0, 0.0, 6 * a, 7 * a))) t AS c),
    hxa AS (SELECT id, COUNT(*) AS hex_n,
                   COUNT(DISTINCT i) AS hex_ni,
                   ROUND(MAX(ST_Area(geom)) / (MIN(a) * MIN(a)), 9) AS hex_amax,
                   ROUND(MIN(ST_Area(geom)) / (MIN(a) * MIN(a)), 9) AS hex_amin
            FROM hx GROUP BY id)
    SELECT sqa.id, sq_n, sq_i0, sq_i1, sq_area, sq_cov, hex_n, hex_ni, hex_amax, hex_amin
    FROM sqa JOIN hxa ON sqa.id = hxa.id ORDER BY sqa.id"""

  private val g145Duck = """
    WITH p AS (SELECT i::BIGINT AS id, (1 + i % 4)::DOUBLE AS a,
                      (2 + i % 3)::INT AS nx, (2 + i % 2)::INT AS ny
               FROM range(24) t(i))
    SELECT id,
           (nx * ny)::BIGINT AS sq_n,
           0 AS sq_i0,
           (nx - 1) AS sq_i1,
           ROUND(nx * ny * a * a, 9) AS sq_area,
           ROUND(nx * ny * a * a, 9) AS sq_cov,
           ((ceil(6.0 / 1.5) + 3) * (ceil(7.0 / sqrt(3.0)) + 3))::BIGINT AS hex_n,
           (ceil(6.0 / 1.5) + 3)::BIGINT AS hex_ni,
           ROUND(3 * sqrt(3.0) / 2, 9) AS hex_amax,
           ROUND(3 * sqrt(3.0) / 2, 9) AS hex_amin
    FROM p ORDER BY id"""

  /** Introspection/precision utilities (g146, round 20): ST_NRings
    * (shell + holes over multis), ST_IsClosed (every lineal component;
    * puntal/polygonal true by convention), ST_ZMFlag (0/1/2/3 from the
    * value-level dimension tags), ST_ForceCollection (top-level
    * components re-wrapped), ST_MemSize (the stored WKB byte length —
    * the writer emits EWKB with a 4-byte SRID slot, so closed-form:
    * 13 + 16n for a 2D LineString, 25 for a 2D point),
    * ST_QuantizeCoordinates (decimal rounding incl. negative digits;
    * fixture decimals sit away from .5 boundaries so banker's-vs-half-up
    * can't diverge). */
  private val g146Spark = """
    WITH p AS (SELECT CAST(id AS BIGINT) AS id,
                      CAST(1 + id % 5 AS DOUBLE) AS a,
                      CAST(2 + id % 3 AS INT) AS n
               FROM range(25)),
    f AS (SELECT id, a, n,
        ST_GeomFromText(CONCAT('POLYGON ((0 0, ', 4*a, ' 0, ', 4*a, ' ', 4*a, ', 0 ', 4*a,
          ', 0 0), (', a, ' ', a, ', ', 2*a, ' ', a, ', ', 2*a, ' ', 2*a, ', ', a, ' ', 2*a,
          ', ', a, ' ', a, '))')) AS donut,
        ST_GeomFromText(CONCAT('LINESTRING (0 0, ', a, ' 0, ', a, ' ', a, ', 0 0)')) AS ring,
        ST_GeomFromText(CONCAT('LINESTRING (0 0, ', a, ' ', a, ')')) AS open_l,
        ST_GeomFromText(CONCAT('POINT ZM (', a, ' ', 2*a, ' ', 3*a, ' ', 4*a, ')')) AS pzm,
        ST_GeomFromText(CONCAT('POINT M (', a, ' ', 2*a, ' ', 3*a, ')')) AS pm,
        ST_GeomFromText(CONCAT('MULTIPOINT ((0 0), (', a, ' 0), (0 ', a, '))')) AS mp,
        ST_Point(a + 0.4321, a + 0.8765) AS pq,
        ST_GeomFromText(CONCAT('LINESTRING (',
          array_join(transform(sequence(1, n), k -> CONCAT(k, ' 0')), ', '),
          ')')) AS line_n
      FROM p)
    SELECT f.id,
           ST_NRings(donut) AS nrings,
           ST_NRings(open_l) AS nrings0,
           ST_IsClosed(ring) AS closed_t,
           ST_IsClosed(open_l) AS closed_f,
           ST_IsClosed(donut) AS closed_poly,
           ST_ZMFlag(pzm) AS zm3,
           ST_ZMFlag(pm) AS zm1,
           ST_ZMFlag(open_l) AS zm0,
           ST_NumGeometries(ST_ForceCollection(mp)) AS fc_n,
           ST_MemSize(pq) AS msz_pt,
           ST_MemSize(line_n) AS msz_line,
           ROUND(ST_X(ST_QuantizeCoordinates(pq, 2)), 9) AS qx,
           ROUND(ST_Y(ST_QuantizeCoordinates(pq, 0)), 9) AS qy
    FROM f ORDER BY f.id"""

  private val g146Duck = """
    WITH p AS (SELECT i::BIGINT AS id, (1 + i % 5)::DOUBLE AS a,
                      (2 + i % 3)::INT AS n
               FROM range(25) t(i))
    SELECT id,
           2 AS nrings,
           0 AS nrings0,
           true AS closed_t,
           false AS closed_f,
           true AS closed_poly,
           3 AS zm3,
           1 AS zm1,
           0 AS zm0,
           3 AS fc_n,
           25 AS msz_pt,
           (13 + 16 * n) AS msz_line,
           ROUND(a + 0.43, 9) AS qx,
           ROUND(a + 1.0, 9) AS qy
    FROM p ORDER BY id"""

  /** Geohash decode + 3D extent aggregate (g147, round 20):
    * ST_GeomFromGeoHash / ST_PointFromGeoHash invert the round-15
    * encoder — the decoded cell COVERS the encoded point (offsets are
    * non-dyadic so boundary ties cannot occur), its width/height are
    * the exact dyadic 360/2^⌈5p/2⌉ × 180/2^⌊5p/2⌋ (emitted unrounded:
    * both engines produce the identical double), the center sits within
    * a half-cell of the input, and prec-truncation equals prefix
    * decode. ST_3DExtent_Agg: XYZ bounds with closed-form Z from the
    * generated Z ramp. */
  private val g147Spark = """
    WITH p AS (SELECT CAST(id AS BIGINT) AS id,
                      -150.0 + 12.0 * (id % 24) + 0.3 AS lon,
                      -80.0 + 7.0 * (id % 20) + 0.2 AS lat,
                      CAST(4 + id % 6 AS INT) AS pr,
                      CAST(id % 7 AS DOUBLE) AS z0
               FROM range(24)),
    h AS (SELECT id, lon, lat, pr, z0,
                 ST_Point(lon, lat) AS pt,
                 ST_GeoHash(ST_Point(lon, lat), pr) AS gh
          FROM p),
    agg3 AS (SELECT h.id,
                    ST_3DExtent_Agg(ST_GeomFromText(
                      CONCAT('POINT Z (', k, ' ', 2 * k, ' ', z0 + k, ')'))) AS e
             FROM h LATERAL VIEW explode(sequence(1, 5)) t AS k
             GROUP BY h.id)
    SELECT h.id,
           ST_Contains(ST_GeomFromGeoHash(gh), pt) AS cell_covers,
           ST_XMax(ST_GeomFromGeoHash(gh)) - ST_XMin(ST_GeomFromGeoHash(gh)) AS cell_w,
           ST_YMax(ST_GeomFromGeoHash(gh)) - ST_YMin(ST_GeomFromGeoHash(gh)) AS cell_h,
           ABS(ST_X(ST_PointFromGeoHash(gh)) - lon) * POW(2.0, CAST((5 * pr + 1) DIV 2 AS DOUBLE)) <= 180.0 AS ctr_ok,
           ST_XMax(ST_GeomFromGeoHash(gh, 3)) - ST_XMin(ST_GeomFromGeoHash(gh, 3)) AS cell_w3,
           e.zmin AS zmin, e.zmax AS zmax, e.xmax AS xmax, e.ymax AS ymax
    FROM h JOIN agg3 ON h.id = agg3.id ORDER BY h.id"""

  private val g147Duck = """
    WITH p AS (SELECT i::BIGINT AS id, (4 + i % 6)::INT AS pr,
                      (i % 7)::DOUBLE AS z0
               FROM range(24) t(i))
    SELECT id,
           true AS cell_covers,
           360.0 / pow(2.0, ((5 * pr + 1) // 2)::DOUBLE) AS cell_w,
           180.0 / pow(2.0, ((5 * pr) // 2)::DOUBLE) AS cell_h,
           true AS ctr_ok,
           360.0 / pow(2.0, 8.0) AS cell_w3,
           z0 + 1 AS zmin, z0 + 5 AS zmax, 5.0 AS xmax, 10.0 AS ymax
    FROM p ORDER BY id"""

  /** Area construction + DMS text + constructor aliases (g148,
    * round 20): ST_BuildArea over three nested square rings keeps the
    * odd-ring-depth regions (100a² − 36a² + 4a² = 68a², the
    * hole-and-island parity PostGIS documents), ST_AsLatLonText renders
    * the PostGIS default `DD°MM'SS.SSS"C` with dyadic fixtures landing
    * on exact minute marks, and ST_MakePoint (2/3/4-arg) aliases the
    * point constructors. */
  private val g148Spark = """
    WITH p AS (SELECT CAST(id AS BIGINT) AS id,
                      CAST(1 + id % 5 AS DOUBLE) AS a
               FROM range(25)),
    f AS (SELECT id, a,
        ST_GeomFromText(CONCAT('MULTILINESTRING ((0 0, ', 10*a, ' 0, ', 10*a, ' ', 10*a,
          ', 0 ', 10*a, ', 0 0), (', 2*a, ' ', 2*a, ', ', 8*a, ' ', 2*a, ', ', 8*a, ' ', 8*a,
          ', ', 2*a, ' ', 8*a, ', ', 2*a, ' ', 2*a, '), (', 4*a, ' ', 4*a, ', ', 6*a, ' ', 4*a,
          ', ', 6*a, ' ', 6*a, ', ', 4*a, ' ', 6*a, ', ', 4*a, ' ', 4*a, '))')) AS rings
      FROM p)
    SELECT id,
           ROUND(ST_Area(ST_BuildArea(rings)) / (a * a), 9) AS ba,
           ST_NRings(ST_BuildArea(rings)) AS ba_rings,
           ST_AsLatLonText(ST_Point(a + 0.75, -(a + 0.5))) AS dms,
           ST_AsText(ST_MakePoint(a, 2 * a)) AS mk2,
           ST_Z(ST_MakePoint(a, a, 3 * a)) AS mk3,
           ST_M(ST_MakePoint(a, a, a, 4 * a)) AS mk4
    FROM f ORDER BY id"""

  private val g148Duck = """
    WITH p AS (SELECT i::BIGINT AS id, (1 + i % 5)::DOUBLE AS a FROM range(25) t(i))
    SELECT id,
           68.0 AS ba,
           3 AS ba_rings,
           CONCAT(a::BIGINT, '°30''0.000"S ', a::BIGINT, '°45''0.000"E') AS dms,
           CONCAT('POINT (', a::BIGINT, ' ', (2*a)::BIGINT, ')') AS mk2,
           3 * a AS mk3,
           4 * a AS mk4
    FROM p ORDER BY id"""

  /** Reader-level pagination (g138, round 20): GeoParquet.read's
    * limit/offset — the reference's _parquet.pyi:134-135 options —
    * over a deterministically ordered single-partition write. Windows
    * pin exact half-open [offset, offset+limit) contents incl. an
    * offset-only tail and an EOF clamp; expected membership is pure
    * range arithmetic. */
  private def g138Fn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, call_function}
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g138_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val rows = s.range(0, 1000).toDF("fid")
      .withColumn("geometry", call_function("st_point",
        col("fid").cast("double"), lit(0.5)))
      .orderBy("fid").coalesce(1)
    graft.sources.GeoParquet.write(rows, out)
    val a = graft.sources.GeoParquet.read(s, out, limit = 37, offset = 421)
      .selectExpr("fid AS id", "CAST(1 AS INT) AS win", "ST_X(geometry) AS x")
    val b = graft.sources.GeoParquet.read(s, out, limit = -1, offset = 990)
      .selectExpr("fid AS id", "CAST(2 AS INT) AS win", "ST_X(geometry) AS x")
    val c = graft.sources.GeoParquet.read(s, out, limit = 50, offset = 980)
      .selectExpr("fid AS id", "CAST(3 AS INT) AS win", "ST_X(geometry) AS x")
    a.unionAll(b).unionAll(c).orderBy("win", "id")
  }

  private val g138Duck = """
    SELECT i::BIGINT AS id, 1 AS win, i::DOUBLE AS x FROM range(421, 458) t(i)
    UNION ALL
    SELECT i::BIGINT, 2, i::DOUBLE FROM range(990, 1000) t(i)
    UNION ALL
    SELECT i::BIGINT, 3, i::DOUBLE FROM range(980, 1000) t(i)
    ORDER BY win, id"""

  private val g132Duck = """
    WITH p AS (
      SELECT i::BIGINT AS id, (3 + i % 6)::DOUBLE AS w,
             (2 + i % 4)::DOUBLE AS h, (10 + i % 7)::DOUBLE AS px
      FROM range(30) t(i))
    SELECT id,
           ROUND(sqrt(w*w + h*h), 9) AS diam,
           ROUND(sqrt(px*px + h*h), 9) AS reach,
           ROUND(sqrt(px*px + h*h), 9) AS ll_len,
           (20 + id % 10)::BIGINT AS npts,
           true AS inside, true AS deterministic
    FROM p ORDER BY id"""

  private val g131Duck = """
    WITH p AS (
      SELECT i::BIGINT AS id, (10 + i % 5)::DOUBLE AS L,
             (10 * (1 + i % 9))::DOUBLE AS m0,
             (10 * (1 + i % 4))::DOUBLE AS m1,
             (10 * (5 + i % 5))::DOUBLE AS m2
      FROM range(36) t(i))
    SELECT id,
           ROUND(m0 / 100.0 * L, 9) AS along_x,
           ROUND((m2 - m1) / 100.0 * L, 9) AS between_len,
           100.0 AS mmax, 0.0 AS mmin,
           ROUND(id + 0.5, 9) AS forced_z,
           5.0 AS flat3d
    FROM p ORDER BY id"""

  private val g130Duck = """
    WITH p AS (
      SELECT i::BIGINT AS id, (1 + i % 5)::DOUBLE AS a,
             (1 + i % 7)::DOUBLE AS b, (1 + i % 4)::DOUBLE AS c
      FROM range(40) t(i))
    SELECT id,
           ROUND(sqrt(a*a + b*b + c*c), 9) AS d3,
           ROUND(sqrt(a*a + b*b + c*c) + c, 9) AS l3,
           ROUND(2*a + 2*c, 9) AS p3,
           sqrt(a*a + b*b + c*c) <= 6.0 AS w3
    FROM p ORDER BY id"""

  private val g129Duck = """
    WITH p AS (
      SELECT i::BIGINT AS id,
             (6 + i % 7)::DOUBLE AS L, (1 + i % 5)::DOUBLE AS c,
             (1 + i % 9)::DOUBLE AS v, (1 + i % 4)::DOUBLE AS x3,
             (1 + i % 3)::DOUBLE AS y3, (3 + i % 3)::DOUBLE AS seg
      FROM range(30) t(i))
    SELECT id,
           2::BIGINT AS line_pieces,
           ROUND(LEAST(c, L - c), 9) AS min_cut,
           2::BIGINT AS poly_pieces,
           ROUND(LEAST(10.0 * v, 100.0 - 10.0 * v), 9) AS min_area,
           CAST(ROUND(atan2(x3, y3) * 1e9) AS BIGINT) AS angle_nano,
           2.0 AS shared_same, 2.0 AS shared_opp,
           ROUND(2.0 + x3, 9) AS diag_x, ROUND(1.0 + y3, 9) AS diag_y,
           (CEIL(10.0 / seg) + 1)::BIGINT AS seg_np,
           ROUND(L, 9) AS snap_x
    FROM p ORDER BY id"""

  private val g128Duck = """
    WITH k AS (
      SELECT 6378137.0 AS a, (1.0/298.257222101)*(2.0 - 1.0/298.257222101) AS e2,
             0.06155 AS tx, -0.01087 AS ty, -0.04019 AS tz, -0.009994*1e-6 AS hs,
             radians(0.0394924/3600.0) AS rx, radians(0.0327221/3600.0) AS ry,
             radians(0.0328979/3600.0) AS rz
    ), pts AS (
      SELECT c_custkey AS id,
             radians(114.0 + (c_custkey % 77)/2.0) AS lam,
             radians(-38.0 + (c_custkey % 53)/2.0) AS phi
      FROM customer
    ), ecef AS (
      SELECT id,
             (a/sqrt(1.0-e2*sin(phi)*sin(phi)))*cos(phi)*cos(lam) AS x1,
             (a/sqrt(1.0-e2*sin(phi)*sin(phi)))*cos(phi)*sin(lam) AS y1,
             (a/sqrt(1.0-e2*sin(phi)*sin(phi)))*(1.0-e2)*sin(phi) AS z1
      FROM pts, k
    ), helm AS (
      SELECT id,
             tx + (1.0+hs)*x1 - rz*y1 + ry*z1 AS x2,
             ty + rz*x1 + (1.0+hs)*y1 - rx*z1 AS y2,
             tz - ry*x1 + rx*y1 + (1.0+hs)*z1 AS z2
      FROM ecef, k
    ), g0 AS (
      SELECT id, atan2(y2, x2) AS lam2, sqrt(x2*x2+y2*y2) AS p, z2,
             atan2(z2, sqrt(x2*x2+y2*y2)*(1.0-e2)) AS f
      FROM helm, k
    ), g1 AS (SELECT id, lam2, p, z2, atan2(z2 + e2*(a/sqrt(1.0-e2*sin(f)*sin(f)))*sin(f), p) AS f FROM g0, k),
    g2 AS (SELECT id, lam2, p, z2, atan2(z2 + e2*(a/sqrt(1.0-e2*sin(f)*sin(f)))*sin(f), p) AS f FROM g1, k),
    g3 AS (SELECT id, lam2, p, z2, atan2(z2 + e2*(a/sqrt(1.0-e2*sin(f)*sin(f)))*sin(f), p) AS f FROM g2, k),
    g4 AS (SELECT id, lam2, p, z2, atan2(z2 + e2*(a/sqrt(1.0-e2*sin(f)*sin(f)))*sin(f), p) AS f FROM g3, k),
    g5 AS (SELECT id, lam2, p, z2, atan2(z2 + e2*(a/sqrt(1.0-e2*sin(f)*sin(f)))*sin(f), p) AS f FROM g4, k),
    g6 AS (SELECT id, lam2, p, z2, atan2(z2 + e2*(a/sqrt(1.0-e2*sin(f)*sin(f)))*sin(f), p) AS f FROM g5, k),
    g7 AS (SELECT id, lam2, p, z2, atan2(z2 + e2*(a/sqrt(1.0-e2*sin(f)*sin(f)))*sin(f), p) AS f FROM g6, k),
    g8 AS (SELECT id, lam2, p, z2, atan2(z2 + e2*(a/sqrt(1.0-e2*sin(f)*sin(f)))*sin(f), p) AS f FROM g7, k),
    g9 AS (SELECT id, lam2, p, z2, atan2(z2 + e2*(a/sqrt(1.0-e2*sin(f)*sin(f)))*sin(f), p) AS f FROM g8, k)
    SELECT id, CAST(ROUND(degrees(lam2) * 1e7) AS BIGINT) AS lon20,
           CAST(ROUND(degrees(f) * 1e7) AS BIGINT) AS lat20,
           0::BIGINT AS ident20
    FROM g9 ORDER BY id"""

  private val g127Duck = """
    WITH l AS (SELECT c_custkey AS lid,
                      CAST(c_custkey % 41 AS DOUBLE) AS lx,
                      CAST((c_custkey * 7) % 37 AS DOUBLE) AS ly
               FROM customer WHERE c_custkey % 30 = 1),
    r AS (SELECT p_partkey AS rid,
                 CAST(p_partkey % 50 AS DOUBLE) AS rx,
                 CAST((p_partkey * 7) % 50 AS DOUBLE) AS ry
          FROM part),
    pairs AS (SELECT lid, rid,
                     sqrt((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry)) AS d
              FROM l CROSS JOIN r),
    rk AS (SELECT lid, rid, d,
                  RANK() OVER (PARTITION BY lid ORDER BY d DESC) AS rnk
           FROM pairs)
    SELECT lid, rnk::BIGINT AS rnk, rid, ROUND(d, 6) AS dist
    FROM rk WHERE rnk <= 3 ORDER BY lid, rnk, rid"""

  /** Heterogeneous-column union WRITE under the hash gate (g99): a single
    * geometry column mixing points, 3D points, linestrings and polygons —
    * plus nulls — writes as the reference's `geoarrow.geometry` dense
    * union (per-row kind/dimension dispatch into XY/XYZ children) and
    * reads back through [[graft.sources.ArrowIpc.read]]'s vector-level
    * union decode; the aggregate pins coordinates, Z, planar area, and
    * the null count against closed forms. */
  private def g99Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g99_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE CAST(id % 4 AS INT)
               WHEN 0 THEN ST_Point(CAST(id AS DOUBLE), 1.0)
               WHEN 1 THEN ST_PointZ(CAST(id AS DOUBLE), 2.0, CAST(id * 3 AS DOUBLE))
               WHEN 2 THEN ST_MakeEnvelope(0.0, 0.0, CAST(id AS DOUBLE), 2.0)
               ELSE NULL
             END AS geometry
      FROM range(100)""").coalesce(1)
    graft.sources.ArrowIpc.write(df, out, geometryEncoding = "geometry")
    s.read.format("arrowipc").load(out)
      .selectExpr("CAST(fid % 4 AS BIGINT) AS grp",
        "CASE WHEN geometry IS NULL THEN 1 ELSE 0 END AS is_null",
        "COALESCE(ST_X(ST_Centroid(geometry)), 0.0D) AS cx",
        "CASE WHEN ST_HasZ(geometry) THEN ST_Z(geometry) ELSE 0.0D END AS z",
        "COALESCE(ST_Area(geometry), 0.0D) AS area")
      .groupBy("grp")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("is_null").as("n_null"),
        org.apache.spark.sql.functions.sum("cx").cast("bigint").as("sum_cx"),
        org.apache.spark.sql.functions.sum("z").cast("bigint").as("sum_z"),
        org.apache.spark.sql.functions.sum("area").cast("bigint").as("sum_area"))
      .orderBy("grp")
  }

  private val g99Duck = """
    SELECT (i % 4)::BIGINT AS grp, COUNT(*)::BIGINT AS n,
           SUM(CASE WHEN i % 4 = 3 THEN 1 ELSE 0 END)::BIGINT AS n_null,
           SUM(CASE WHEN i % 4 = 0 THEN i WHEN i % 4 = 1 THEN i
                    WHEN i % 4 = 2 THEN i / 2.0 ELSE 0 END)::BIGINT AS sum_cx,
           SUM(CASE WHEN i % 4 = 1 THEN i * 3 ELSE 0 END)::BIGINT AS sum_z,
           SUM(CASE WHEN i % 4 = 2 THEN i * 2 ELSE 0 END)::BIGINT AS sum_area
    FROM range(100) t(i) GROUP BY 1 ORDER BY 1"""

  /** Full-matrix union WRITE under the hash gate (g100): measured (XYM),
    * XYZM and GeometryCollection rows — the type ids the round-16 writer
    * refused (reference ids 21-26/31-36 and the dim*10+7 GC children,
    * rust/geoarrow-schema/src/type_id.rs:28-35,85-91) — plus the
    * EMPTY-vs-NULL fidelity contract (trait_.rs:157-198: `POINT EMPTY` is
    * NOT null): empties write as real child values (NaN-coord point /
    * length-0 lists) and read back as empties, nulls stay null. Every row
    * pins its exact WKT against a DuckDB closed form. */
  private def g100Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g100_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE CAST(id % 6 AS INT)
               WHEN 0 THEN ST_PointM(CAST(id AS DOUBLE), 2.0, CAST(id * 5 AS DOUBLE))
               WHEN 1 THEN ST_GeomFromText(CONCAT('LINESTRING ZM(0 0 1 2, ',
                                                  CAST(id AS STRING), ' 4 5 6)'))
               WHEN 2 THEN ST_GeomFromText(CONCAT('GEOMETRYCOLLECTION (POINT (',
                                                  CAST(id AS STRING),
                                                  ' 2), LINESTRING (0 0, 1 1))'))
               WHEN 3 THEN ST_GeomFromText('POINT EMPTY')
               WHEN 4 THEN ST_GeomFromText('MULTIPOLYGON EMPTY')
               ELSE NULL
             END AS geometry
      FROM range(60)""").coalesce(1)
    graft.sources.ArrowIpc.write(df, out, geometryEncoding = "geometry")
    s.read.format("arrowipc").load(out)
      .selectExpr("fid",
        "COALESCE(ST_AsText(geometry), 'NULL') AS wkt",
        "CAST(CASE WHEN geometry IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_null",
        "CAST(CASE WHEN geometry IS NOT NULL AND ST_IsEmpty(geometry) THEN 1 ELSE 0 END AS BIGINT) AS is_empty")
      .orderBy("fid")
  }

  private val g100Duck = """
    SELECT i::BIGINT AS fid,
           CASE i % 6
             WHEN 0 THEN 'POINT M(' || i || ' 2 ' || (i * 5) || ')'
             WHEN 1 THEN 'LINESTRING ZM(0 0 1 2, ' || i || ' 4 5 6)'
             WHEN 2 THEN 'GEOMETRYCOLLECTION (POINT (' || i || ' 2), LINESTRING (0 0, 1 1))'
             WHEN 3 THEN 'POINT EMPTY'
             WHEN 4 THEN 'MULTIPOLYGON EMPTY'
             ELSE 'NULL'
           END AS wkt,
           (CASE WHEN i % 6 = 5 THEN 1 ELSE 0 END)::BIGINT AS is_null,
           (CASE WHEN i % 6 IN (3, 4) THEN 1 ELSE 0 END)::BIGINT AS is_empty
    FROM range(60) t(i) ORDER BY fid"""

  /** Native XYM/XYZM GeoParquet hops under the hash gate (g101): the
    * measured twins of g98 — point_m writes the {x,y,m} coord struct,
    * point_zm the {x,y,z,m} one (reference writes all four dims,
    * rust/geoparquet/src/writer/encode.rs:21-74); the aggregates pin x, z
    * AND m per hop, so a dropped/fabricated ordinate breaks the hash. */
  private def g101Fn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    def hop(encoding: String, mk: String): DataFrame = {
      val out = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_g101_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
      val df = s.sql(s"SELECT $mk AS geometry FROM range(90)").coalesce(1)
      graft.sources.GeoParquet.write(df, out, covering = false, encoding = encoding)
      graft.sources.GeoParquet.read(s, out)
        .selectExpr("ST_X(geometry) AS x",
          "CASE WHEN ST_HasZ(geometry) THEN ST_Z(geometry) ELSE 0.0D END AS z",
          "CASE WHEN ST_HasM(geometry) THEN ST_M(geometry) ELSE 0.0D END AS m")
        .agg(count(lit(1)).as("n"), sum("x").cast("bigint").as("sum_x"),
          sum("z").cast("bigint").as("sum_z"), sum("m").cast("bigint").as("sum_m"))
        .withColumn("enc", lit(encoding))
        .select("enc", "n", "sum_x", "sum_z", "sum_m")
    }
    hop("point_m",
        "ST_PointM(CAST(id AS DOUBLE), 1.0, CAST(id * 3 AS DOUBLE))")
      .union(hop("point_zm",
        "ST_GeomFromText(CONCAT('POINT ZM(', CAST(id AS STRING), ' 1 ', CAST(id * 7 AS STRING), ' ', CAST(id * 2 AS STRING), ')'))"))
      .orderBy("enc")
  }

  private val g101Duck = """
    SELECT 'point_m' AS enc, COUNT(*)::BIGINT AS n, SUM(i)::BIGINT AS sum_x,
           0::BIGINT AS sum_z, SUM(i * 3)::BIGINT AS sum_m
    FROM range(90) t(i)
    UNION ALL
    SELECT 'point_zm' AS enc, COUNT(*)::BIGINT AS n, SUM(i)::BIGINT AS sum_x,
           SUM(i * 7)::BIGINT AS sum_z, SUM(i * 2)::BIGINT AS sum_m
    FROM range(90) t(i)
    ORDER BY enc"""

  /** Serialized-encoding WRITEs under the hash gate (g102): `geoarrow.wkt`
    * (reference WktType, datatype.rs:60-66) pins exact WKT text — Z/M
    * preserved through the text serialization — and `geoarrow.box`
    * (RectType, array/rect.rs) writes the bbox covering struct and reads
    * back as the envelope, pinned by its four corners. Closes the write
    * face of round 16's decode-only g96 matrix. */
  private def g102Fn(s: SparkSession, dir: String): DataFrame = {
    val wktOut = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g102w_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val boxOut = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g102b_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE CAST(id % 3 AS INT)
               WHEN 0 THEN ST_PointZ(CAST(id AS DOUBLE), 2.0, CAST(id * 3 AS DOUBLE))
               WHEN 1 THEN ST_PointM(CAST(id AS DOUBLE), 4.0, CAST(id * 5 AS DOUBLE))
               ELSE NULL
             END AS geometry,
             ST_MakeEnvelope(CAST(id AS DOUBLE), 0.0,
                             CAST(id + 2 AS DOUBLE), 3.0) AS footprint
      FROM range(45)""").coalesce(1)
    graft.sources.ArrowIpc.write(df.select("fid", "geometry"), wktOut,
      geometryEncoding = "wkt")
    graft.sources.ArrowIpc.write(
      df.select(df.col("fid"), df.col("footprint").as("geometry")), boxOut,
      geometryEncoding = "box")
    val w = s.read.format("arrowipc").load(wktOut)
      .selectExpr("fid", "COALESCE(ST_AsText(geometry), 'NULL') AS wkt")
    val b = s.read.format("arrowipc").load(boxOut)
      .selectExpr("fid",
        "CAST(ST_XMin(geometry) AS BIGINT) AS bxmin",
        "CAST(ST_YMax(geometry) AS BIGINT) AS bymax",
        "CAST(ST_XMax(geometry) AS BIGINT) AS bxmax")
    w.join(b, "fid").orderBy("fid")
  }

  private val g102Duck = """
    SELECT i::BIGINT AS fid,
           CASE i % 3
             WHEN 0 THEN 'POINT Z(' || i || ' 2 ' || (i * 3) || ')'
             WHEN 1 THEN 'POINT M(' || i || ' 4 ' || (i * 5) || ')'
             ELSE 'NULL'
           END AS wkt,
           i::BIGINT AS bxmin, 3::BIGINT AS bymax, (i + 2)::BIGINT AS bxmax
    FROM range(45) t(i) ORDER BY fid"""

  /** Homogeneous-collection WRITE under the hash gate (g103): the last
    * GeoArrow extension type to gain a write face —
    * `geometryEncoding = geometrycollection` emits the reference's
    * GeometryCollectionType (List over a single-dimension geometries
    * union, rust/geoarrow-schema/src/type.rs:700-736). Rows pin exact WKT
    * incl. the EMPTY collection (distinct from the null row) and a
    * two-kind collection whose elements exercise the inner union. */
  private def g103Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g103_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE CAST(id % 4 AS INT)
               WHEN 0 THEN ST_GeomFromText(CONCAT('GEOMETRYCOLLECTION (POINT (',
                                                  CAST(id AS STRING),
                                                  ' 2), LINESTRING (0 0, 1 1))'))
               WHEN 1 THEN ST_GeomFromText('GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))')
               WHEN 2 THEN ST_GeomFromText('GEOMETRYCOLLECTION EMPTY')
               ELSE NULL
             END AS geometry
      FROM range(40)""").coalesce(1)
    graft.sources.ArrowIpc.write(df, out, geometryEncoding = "geometrycollection")
    s.read.format("arrowipc").load(out)
      .selectExpr("fid",
        "COALESCE(ST_AsText(geometry), 'NULL') AS wkt",
        "CAST(CASE WHEN geometry IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_null",
        "CAST(CASE WHEN geometry IS NOT NULL AND ST_IsEmpty(geometry) THEN 1 ELSE 0 END AS BIGINT) AS is_empty")
      .orderBy("fid")
  }

  private val g103Duck = """
    SELECT i::BIGINT AS fid,
           CASE i % 4
             WHEN 0 THEN 'GEOMETRYCOLLECTION (POINT (' || i || ' 2), LINESTRING (0 0, 1 1))'
             WHEN 1 THEN 'GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))'
             WHEN 2 THEN 'GEOMETRYCOLLECTION EMPTY'
             ELSE 'NULL'
           END AS wkt,
           (CASE WHEN i % 4 = 3 THEN 1 ELSE 0 END)::BIGINT AS is_null,
           (CASE WHEN i % 4 = 2 THEN 1 ELSE 0 END)::BIGINT AS is_empty
    FROM range(40) t(i) ORDER BY fid"""

  /** Mixed-geometry Arrow IPC under the hash gate (g96): the reference's
    * heterogeneous-array default — `geoarrow.geometry` dense unions,
    * `geoarrow.geometrycollection` (List over the union), `geoarrow.wkt`
    * serialized text, and `geoarrow.box` bbox structs — decode to WKB
    * through the byte-pruning DSv2 face; every value pinned to WKT
    * literals, including Z and M ordinates carried by the union children's
    * dimension-suffixed names. */
  private def g96Fn(s: SparkSession, dir: String): DataFrame = {
    def unhex(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val d = java.nio.file.Files.createTempDirectory("graft_g96")
    d.toFile.deleteOnExit()
    java.nio.file.Files.write(d.resolve("u.arrow"), unhex(g96Arrow)).toFile.deleteOnExit()
    s.read.format("arrowipc").load(d.resolve("u.arrow").toString)
      .selectExpr("CAST(fid AS BIGINT) AS fid", "ST_AsText(twkt) AS wkt_text",
        "ST_AsText(bbox) AS box_poly", "ST_AsText(geometry) AS geom",
        "COALESCE(ST_AsText(gc), 'NULL') AS coll")
      .orderBy("fid")
  }

  private val g96Duck = """
    SELECT * FROM (VALUES
      (0::BIGINT, 'POINT (9 9)', 'POLYGON ((0 0, 0 3, 2 3, 2 0, 0 0))', 'POINT (1.5 2.5)', 'GEOMETRYCOLLECTION (POINT (1 1))'),
      (1::BIGINT, 'LINESTRING (0 0, 2 2)', 'POLYGON ((1 0, 1 3, 3 3, 3 0, 1 0))', 'LINESTRING Z(0 0 10, 3 4 20)', 'GEOMETRYCOLLECTION (POINT (2 2), LINESTRING (0 0, 1 1))'),
      (2::BIGINT, 'POINT Z(1 2 3)', 'POLYGON ((2 0, 2 3, 4 3, 4 0, 2 0))', 'MULTIPOINT M((1 2 5), (3 4 6))', 'GEOMETRYCOLLECTION EMPTY'),
      (3::BIGINT, 'POINT (4 4)', 'POLYGON ((3 0, 3 3, 5 3, 5 0, 3 0))', 'POINT (7 8)', 'NULL')
    ) t(fid, wkt_text, box_poly, geom, coll) ORDER BY fid"""


  /** ST_AsSVG display surface pinned to literals (PostGIS conventions:
    * y negated for SVG's y-down space, points as cx/cy, rings as M/L…Z with
    * the closing duplicate dropped) — the display half of the reference's
    * `_repr_svg_` (python/geoarrow-core/.../_scalar.pyi). */
  private val g41Spark = """
    SELECT id, ST_AsSVG(ST_GeomFromText(wkt)) AS svg FROM VALUES
      (0, 'POINT (1 2)'),
      (1, 'LINESTRING (0 0, 1 1, 2 0)'),
      (2, 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'),
      (3, 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))'),
      (4, 'MULTIPOINT ((1 1), (2 2))'),
      (5, 'MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))'),
      (6, 'GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 1 0))'),
      (7, 'POINT (1.5 -2.25)')
    AS t(id, wkt) ORDER BY id"""

  private val g41Duck = """
    SELECT * FROM (VALUES
      (0, 'cx="1" cy="-2"'),
      (1, 'M 0 0 L 1 -1 L 2 0'),
      (2, 'M 0 0 L 4 0 L 4 -4 L 0 -4 Z'),
      (3, 'M 0 0 L 10 0 L 10 -10 L 0 -10 Z M 2 -2 L 2 -4 L 4 -4 L 4 -2 Z'),
      (4, 'cx="1" cy="-1" cx="2" cy="-2"'),
      (5, 'M 0 0 L 1 -1 M 2 -2 L 3 -3'),
      (6, 'cx="1" cy="-1" M 0 0 L 1 0'),
      (7, 'cx="1.5" cy="2.25"')
    ) t(id, svg) ORDER BY id"""

  /** PostGIS wire-format decode under the hash gate: canonical hex-EWKB
    * strings (the exact bytes PostGIS sends over JDBC — embedded-SRID flag,
    * Z flag, plain 2D) through PostGis.decodeGeometryColumns, pinned to
    * WKT + SRID literals. The JDBC transport itself needs a live server
    * (spec-mocked); the format decode is the part that can regress. */
  private def g42Fn(s: SparkSession, dir: String): DataFrame = {
    val df = s.sql("""
      SELECT id, hx AS geom FROM VALUES
        (0, '0101000020E6100000000000000000F03F0000000000000040'),
        (1, '0102000020110F00000200000000000000000000000000000000000000000000000000F03F000000000000F03F'),
        (2, '0101000000000000000000F03F0000000000000040'),
        (3, '01010000A0E6100000000000000000F03F00000000000000400000000000000840')
      AS t(id, hx)""")
    graft.sources.PostGis.decodeGeometryColumns(df, Seq("geom"))
      .selectExpr("id", "ST_AsText(geom) AS wkt", "CAST(ST_SRID(geom) AS BIGINT) AS srid")
      .orderBy("id")
  }

  private val g42Duck = """
    SELECT * FROM (VALUES
      (0, 'POINT (1 2)', 4326::BIGINT),
      (1, 'LINESTRING (0 0, 1 1)', 3857::BIGINT),
      (2, 'POINT (1 2)', 0::BIGINT),
      (3, 'POINT Z(1 2 3)', 4326::BIGINT)
    ) t(id, wkt, srid) ORDER BY id"""

  /** GeoJSON SOURCE (newline-delimited features file, not the scalar
    * encode/decode functions g18 covers) under the hash gate: writeLines →
    * readLines roundtrip with a property column, pinned closed-form. */
  private def g43Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g43_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_Point(CAST(id AS DOUBLE), CAST(id % 7 AS DOUBLE)) AS geometry
      FROM range(60)""")
    graft.sources.GeoJsonSource.writeLines(df, out)
    graft.sources.GeoJsonSource.readLines(s, out)
      .selectExpr("fid",
        "CAST(ST_X(geometry) AS BIGINT) AS x",
        "CAST(ST_Y(geometry) AS BIGINT) AS y")
      .orderBy("fid")
  }

  private val g43Duck = """
    SELECT i::BIGINT AS fid, i::BIGINT AS x, (i % 7)::BIGINT AS y
    FROM range(60) t(i) ORDER BY fid"""

  /** GeoParquet covering-bbox PRUNED read under the hash gate (the g38
    * pattern): a Hilbert-sorted dataset is written with the bbox covering
    * struct in-query, read back through `GeoParquet.read(bbox=…)` — whose
    * coarse filter is plain struct-leaf comparisons the parquet reader
    * prunes row groups with (sources/GeoParquet.scala coarse/refine path;
    * reference: rust/geoparquet spatial_filter.rs) — and the surviving row
    * set is pinned closed-form. Spatial sort + multi-part write means the
    * prune actually skips files/row groups, not just rows. */
  private def g44Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g44_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val pts = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_Point(CAST(id % 64 AS DOUBLE), CAST(CAST(id / 64 AS INT) AS DOUBLE)) AS geometry
      FROM range(4096)""")
    graft.sources.GeoParquet.write(
      graft.sources.GeoParquet.spatialSort(pts, numPartitions = 8), out)
    graft.sources.GeoParquet.read(s, out, bbox = Some((10.5, 20.5, 17.5, 27.5)))
      .selectExpr("fid",
        "CAST(ST_X(geometry) AS BIGINT) AS x",
        "CAST(ST_Y(geometry) AS BIGINT) AS y")
      .orderBy("fid")
  }

  // the 64×64 grid's points strictly inside (10.5, 20.5, 17.5, 27.5):
  // x ∈ 11..17, y ∈ 21..27, fid = y*64 + x
  private val g44Duck = """
    SELECT (y.y * 64 + x.x)::BIGINT AS fid, x.x::BIGINT AS x, y.y::BIGINT AS y
    FROM (SELECT unnest(range(11, 18)) AS x) x
    CROSS JOIN (SELECT unnest(range(21, 28)) AS y) y
    ORDER BY fid"""

  /** Native-coord-stats PRUNED read under the hash gate — the g44 shape but
    * with the file written NATIVE-encoded (GeoArrow point layout) and
    * WITHOUT a covering struct, the common shape of externally produced
    * GeoParquet. The read's bbox routes through GeoParquetFileFormat's
    * stats-pruning reader: row groups are planned per task from the x/y
    * leaf columns' own parquet min/max statistics (reference:
    * rust/geoparquet/src/reader/spatial_filter.rs:59-181 — the same leaf
    * is both the minx and maxx source) and the stock vectorized reader
    * runs over exactly the surviving byte ranges. The GeoParquetSpec twin
    * proves the skip via scan metrics; this oracle pins the surviving row
    * set closed-form. */
  private def g81Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g81_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val pts = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_Point(CAST(id % 64 AS DOUBLE), CAST(CAST(id / 64 AS INT) AS DOUBLE)) AS geometry
      FROM range(4096)""")
    graft.sources.GeoParquet.write(
      graft.sources.GeoParquet.spatialSort(pts, numPartitions = 8), out,
      covering = false, encoding = "point")
    graft.sources.GeoParquet.read(s, out, bbox = Some((10.5, 20.5, 17.5, 27.5)))
      .selectExpr("fid",
        "CAST(ST_X(geometry) AS BIGINT) AS x",
        "CAST(ST_Y(geometry) AS BIGINT) AS y")
      .orderBy("fid")
  }

  private val g81Duck = """
    SELECT (y.y * 64 + x.x)::BIGINT AS fid, x.x::BIGINT AS x, y.y::BIGINT AS y
    FROM (SELECT unnest(range(11, 18)) AS x) x
    CROSS JOIN (SELECT unnest(range(21, 28)) AS y) y
    ORDER BY fid"""

  /** FlatGeobuf `promoteToMulti` write option (reference:
    * rust/geoarrow-flatgeobuf/src/writer.rs:59-64) under the hash gate — a
    * MIXED Polygon/MultiPolygon frame is written with promotion on, so
    * every feature becomes MultiPolygon and the file header declares ONE
    * homogeneous geometry type (code 6), which strict readers require.
    * The read-back pins, per feature, the post-promotion type tag, part
    * count, and area; the header's declared type rides along as a literal
    * column so a header regression (back to Unknown, or a wrong code)
    * breaks the hash. */
  private def g82Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g82_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    // even fid → single Polygon cell (area 0.5); odd fid → MultiPolygon of
    // two disjoint cells (area 1.0) via union of separated envelopes
    val mixed = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE WHEN id % 2 = 0
               THEN ST_MakeEnvelope(CAST(id AS DOUBLE), 0.0, CAST(id AS DOUBLE) + 0.5, 1.0)
               ELSE ST_Union(
                 ST_MakeEnvelope(CAST(id AS DOUBLE), 0.0, CAST(id AS DOUBLE) + 0.5, 1.0),
                 ST_MakeEnvelope(CAST(id AS DOUBLE), 2.0, CAST(id AS DOUBLE) + 0.5, 3.0))
             END AS geometry
      FROM range(40)""").coalesce(1)
    graft.sources.FlatGeobufWriter.write(mixed, out, index = false, promoteToMulti = true)
    // declared header type from the written part-file (bounded driver-side
    // metadata read, the g49 footer-literal pattern)
    val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".fgb")).head
    val headerType = graft.sources.FlatGeobuf.parseHeader(
      java.nio.file.Files.readAllBytes(part.toPath)).geometryType
    graft.sources.FlatGeobuf.read(s, out)
      .selectExpr("fid",
        "ST_GeometryType(geometry) AS gtype",
        "CAST(ST_NumGeometries(geometry) AS BIGINT) AS nparts",
        "ROUND(ST_Area(geometry), 6) AS area")
      .withColumn("header_type", org.apache.spark.sql.functions.lit(headerType.toLong))
      .orderBy("fid")
  }

  private val g82Duck = """
    SELECT i::BIGINT AS fid, 'ST_MultiPolygon' AS gtype,
           (CASE WHEN i % 2 = 0 THEN 1 ELSE 2 END)::BIGINT AS nparts,
           ROUND(CASE WHEN i % 2 = 0 THEN 0.5 ELSE 1.0 END, 6) AS area,
           6::BIGINT AS header_type
    FROM range(40) t(i) ORDER BY fid"""

  /** Unicode normalization for dedup hygiene (t51): NFC composition
    * (`graft_nfc`, JDK Normalizer — DuckDB `nfc_normalize` is the oracle
    * twin) + invisible-codepoint strip (`graft_strip_invisible`:
    * zero-widths, bidi embeds, word joiners, BOM, soft hyphen — the RE2
    * class is the oracle twin). The fixture plants the same word in
    * decomposed, precomposed, and zero-width-polluted spellings: without
    * normalization exact dedup sees three documents, with it one — the
    * under-dedup failure this step exists to prevent. */
  private val t51Spark = {
    // Scala's lexer resolves these \u escapes, so the SQL literals carry
    // the REAL code points (Spark's CHAR() clamps to one byte, useless
    // beyond Latin-1)
    val decomposed = "café"        // e + combining acute
    val precomposed = "café"        // é
    val zwPolluted = "caf​é"   // ZWSP inside
    s"""
    WITH raw AS (
      SELECT id,
             CASE CAST(id % 4 AS INT)
               WHEN 0 THEN '$decomposed'
               WHEN 1 THEN '$precomposed'
               WHEN 2 THEN '$zwPolluted'
               ELSE CONCAT('plain-', CAST(id AS STRING))
             END AS txt
      FROM range(40))
    SELECT graft_nfc(graft_strip_invisible(txt)) AS norm,
           COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS sum_id
    FROM raw GROUP BY 1 ORDER BY norm"""
  }

  private val t51Duck = """
    WITH raw AS (SELECT i AS id,
      CASE i % 4
        WHEN 0 THEN 'cafe' || chr(769)
        WHEN 1 THEN 'caf' || chr(233)
        WHEN 2 THEN 'caf' || chr(8203) || chr(233)
        ELSE 'plain-' || CAST(i AS VARCHAR) END AS txt
      FROM range(40) t(i))
    SELECT nfc_normalize(regexp_replace(txt,
             '[\x{200B}-\x{200F}\x{202A}-\x{202E}\x{2060}-\x{2064}\x{FEFF}\x{00AD}]', '', 'g')) AS norm,
           COUNT(*)::BIGINT AS n, SUM(id)::BIGINT AS sum_id
    FROM raw GROUP BY 1 ORDER BY norm"""

  /** Geodesic kNN under the hash gate (g87): the ROW_NUMBER-over-
    * ST_Distance window shape on a SPHERICAL-stamped left table — the
    * edges dispatch rewrites the measure to haversine, the kNN planner
    * intercepts the shape and runs the adaptive radius-doubling operator
    * with the meters metric (never the literal cross join). High-latitude
    * fixture: degree-space and meter-space orderings genuinely differ
    * there, so a planar-metric regression flips neighbors, not just
    * distances. Oracle = closed-form haversine + the same window in
    * DuckDB. */
  private def g87Fn(s: SparkSession, dir: String): DataFrame = {
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g87_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val l = s.sql("""
      SELECT CAST(id AS BIGINT) AS lid,
             ST_Point(CAST(id * 3 - 15 AS DOUBLE), CAST(55 + id AS DOUBLE)) AS geometry
      FROM range(10)""")
    graft.sources.GeoParquet.write(l, base, edges = Some("spherical"))
    val tag = new java.io.File(base).getName.split('_').last
    val vL = "graft_g87_l_" + tag
    val vR = "graft_g87_r_" + tag
    graft.sources.GeoParquet.read(s, base)
      .selectExpr("lid", "geometry AS lg").createOrReplaceTempView(vL)
    // per-rid latitude skew breaks the lon-mirror symmetry that would
    // otherwise produce EXACT haversine ties (rx pairs mirrored about a
    // query meridian) — ties would make the single-key window
    // nondeterministic across engines
    s.sql("""
      SELECT CAST(id AS BIGINT) AS rid,
             ST_Point(CAST((id % 8) * 4 - 16 AS DOUBLE),
                      CAST(54 + CAST(id / 8 AS INT) * 3 AS DOUBLE) + CAST(id AS DOUBLE) * 0.001) AS rg
      FROM range(40)""").createOrReplaceTempView(vR)
    val out = s.sql(s"""
      SELECT lid, rid, ROUND(d, 3) AS meters, CAST(rk AS BIGINT) AS rk FROM (
        SELECT l.lid, r.rid, ST_Distance(l.lg, r.rg) AS d,
               ROW_NUMBER() OVER (PARTITION BY l.lid
                 ORDER BY ST_Distance(l.lg, r.rg)) AS rk
        FROM $vL l CROSS JOIN $vR r) t
      WHERE rk <= 2 ORDER BY lid, rk""")
    // the shape MUST take the adaptive kNN operator — a silent fall-through
    // to the literal cross join would still hash-match, so pin the plan
    require(out.queryExecution.executedPlan.toString.contains("KnnTopK"),
      "g87: stamped kNN window shape must plan as KnnTopKExec")
    val materialized = out.orderBy("lid", "rk")
    materialized.count() // analyze + run before the views drop
    s.catalog.dropTempView(vL)
    s.catalog.dropTempView(vR)
    materialized
  }

  private val g87Duck = """
    WITH l AS (SELECT i AS lid, CAST(i * 3 - 15 AS DOUBLE) AS lx,
                      CAST(55 + i AS DOUBLE) AS ly FROM range(10) t(i)),
         r AS (SELECT i AS rid, CAST((i % 8) * 4 - 16 AS DOUBLE) AS rx,
                      CAST(54 + (i // 8) * 3 AS DOUBLE) + i * 0.001 AS ry
               FROM range(40) t(i)),
         d AS (SELECT lid, rid,
                 2 * 6371008.8 * asin(least(1.0, sqrt(
                   pow(sin(radians(ry - ly) / 2), 2) +
                   cos(radians(ly)) * cos(radians(ry)) *
                     pow(sin(radians(rx - lx) / 2), 2)))) AS hm,
                 ROW_NUMBER() OVER (PARTITION BY lid ORDER BY
                   2 * 6371008.8 * asin(least(1.0, sqrt(
                     pow(sin(radians(ry - ly) / 2), 2) +
                     cos(radians(ly)) * cos(radians(ry)) *
                       pow(sin(radians(rx - lx) / 2), 2))))) AS rk
               FROM l CROSS JOIN r)
    SELECT lid::BIGINT AS lid, rid::BIGINT AS rid, ROUND(hm, 3) AS meters,
           rk::BIGINT AS rk
    FROM d WHERE rk <= 2 ORDER BY lid, rk"""

  /** Antimeridian-seam geodesic kNN (g88): left points sit just EAST of
    * ±180; every true top-2 neighbor sits just WEST of it (~111 km across
    * the seam), while same-side decoys are ≥160 km away. A candidate grid
    * whose lon cells don't wrap resolves each row with the decoys and never
    * sees the true neighbors — the wrapped (exact-divisor, pmod) cell keys
    * are the thing under test. Same planner gate as g87: the window shape
    * over a SPHERICAL-stamped column must run through KnnTopKExec. Oracle =
    * closed-form haversine + the same window in DuckDB. */
  private def g88Fn(s: SparkSession, dir: String): DataFrame = {
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g88_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val l = s.sql("""
      SELECT CAST(id AS BIGINT) AS lid,
             ST_Point(179.9, CAST(40 + id * 2 AS DOUBLE)) AS geometry
      FROM range(8)""")
    graft.sources.GeoParquet.write(l, base, edges = Some("spherical"))
    val tag = new java.io.File(base).getName.split('_').last
    val vL = "graft_g88_l_" + tag
    val vR = "graft_g88_r_" + tag
    graft.sources.GeoParquet.read(s, base)
      .selectExpr("lid", "geometry AS lg").createOrReplaceTempView(vL)
    // cross-seam bands at odd lats 39..57 bracket every left lat from both
    // sides; the 0.0004/0.001 skews keep all pair distances distinct
    s.sql("""
      SELECT CAST(id AS BIGINT) AS rid,
             ST_Point(CASE WHEN id % 5 = 0
                        THEN -179.9 + CAST(id AS DOUBLE) * 0.0004
                        ELSE 176.0 + CAST(id % 5 AS DOUBLE) * 0.5
                               + CAST(id AS DOUBLE) * 0.0004 END,
                      CAST(39 + CAST(id / 5 AS INT) * 2 AS DOUBLE)
                        + CAST(id AS DOUBLE) * 0.001) AS rg
      FROM range(50)""").createOrReplaceTempView(vR)
    val out = s.sql(s"""
      SELECT lid, rid, ROUND(d, 3) AS meters, CAST(rk AS BIGINT) AS rk FROM (
        SELECT l.lid, r.rid, ST_Distance(l.lg, r.rg) AS d,
               ROW_NUMBER() OVER (PARTITION BY l.lid
                 ORDER BY ST_Distance(l.lg, r.rg)) AS rk
        FROM $vL l CROSS JOIN $vR r) t
      WHERE rk <= 2 ORDER BY lid, rk""")
    require(out.queryExecution.executedPlan.toString.contains("KnnTopK"),
      "g88: stamped kNN window shape must plan as KnnTopKExec")
    val materialized = out.orderBy("lid", "rk")
    materialized.count() // analyze + run before the views drop
    s.catalog.dropTempView(vL)
    s.catalog.dropTempView(vR)
    materialized
  }

  private val g88Duck = """
    WITH l AS (SELECT i AS lid, 179.9 AS lx,
                      CAST(40 + i * 2 AS DOUBLE) AS ly FROM range(8) t(i)),
         r AS (SELECT i AS rid,
                      CASE WHEN i % 5 = 0
                        THEN -179.9 + CAST(i AS DOUBLE) * 0.0004
                        ELSE 176.0 + CAST(i % 5 AS DOUBLE) * 0.5
                               + CAST(i AS DOUBLE) * 0.0004 END AS rx,
                      CAST(39 + (i // 5) * 2 AS DOUBLE)
                        + CAST(i AS DOUBLE) * 0.001 AS ry
               FROM range(50) t(i)),
         d AS (SELECT lid, rid,
                 2 * 6371008.8 * asin(least(1.0, sqrt(
                   pow(sin(radians(ry - ly) / 2), 2) +
                   cos(radians(ly)) * cos(radians(ry)) *
                     pow(sin(radians(rx - lx) / 2), 2)))) AS hm,
                 ROW_NUMBER() OVER (PARTITION BY lid ORDER BY
                   2 * 6371008.8 * asin(least(1.0, sqrt(
                     pow(sin(radians(ry - ly) / 2), 2) +
                     cos(radians(ly)) * cos(radians(ry)) *
                       pow(sin(radians(rx - lx) / 2), 2))))) AS rk
               FROM l CROSS JOIN r)
    SELECT lid::BIGINT AS lid, rid::BIGINT AS rid, ROUND(hm, 3) AS meters,
           rk::BIGINT AS rk
    FROM d WHERE rk <= 2 ORDER BY lid, rk"""

  /** Edges-stamp roundtrip audit (g89): a SPHERICAL-stamped point column
    * survives (a) a FlatGeobuf `writeSingle` hop — the model rides the
    * header metadata JSON (`graft:edges`), the header's concrete geometry
    * type supplies the point evidence — and (b) an Arrow IPC
    * dictionary-write hop — extension metadata carries edges +
    * `graft:geometry_types`. The measure is hash-gated: plain ST_Distance
    * over each read-back column must produce HAVERSINE meters (the
    * reference keeps `Metadata` inside every array,
    * rust/geoarrow-schema/src/metadata.rs:16); a dropped stamp or lost
    * point evidence would measure planar degrees and fail the hash. */
  private def g89Fn(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_g89").toString
    val pts = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CONCAT('c', CAST(id % 3 AS STRING)) AS cat,
             ST_Point(CAST(id AS DOUBLE), CAST(50 + id AS DOUBLE)) AS geometry
      FROM range(12)""")
    graft.sources.GeoParquet.write(pts, tmp + "/gp", edges = Some("spherical"))
    val stamped = graft.sources.GeoParquet.read(s, tmp + "/gp")
      .select("fid", "cat", "geometry")
    graft.sources.FlatGeobufWriter.writeSingle(stamped, tmp + "/single.fgb")
    val viaFgb = graft.sources.FlatGeobuf.read(s, tmp + "/single.fgb")
    graft.sources.ArrowIpc.write(stamped, tmp + "/arrow",
      dictionaryColumns = Seq("cat"))
    val viaArrow = graft.sources.ArrowIpc.read(s, tmp + "/arrow")
    val tag = new java.io.File(tmp).getName.split('_').last
    val vF = "graft_g89_f_" + tag
    val vA = "graft_g89_a_" + tag
    viaFgb.createOrReplaceTempView(vF)
    viaArrow.createOrReplaceTempView(vA)
    val out = s.sql(s"""
      SELECT src, fid, meters FROM (
        SELECT 'fgb' AS src, fid,
               ROUND(ST_Distance(geometry, ST_Point(5.0, 55.0)), 3) AS meters FROM $vF
        UNION ALL
        SELECT 'arrow' AS src, fid,
               ROUND(ST_Distance(geometry, ST_Point(5.0, 55.0)), 3) AS meters FROM $vA)
      ORDER BY src, fid""")
    val materialized = out.orderBy("src", "fid")
    materialized.count() // run before the views drop
    s.catalog.dropTempView(vF)
    s.catalog.dropTempView(vA)
    materialized
  }

  private val g89Duck = """
    WITH pts AS (SELECT i AS fid, CAST(i AS DOUBLE) AS x,
                        CAST(50 + i AS DOUBLE) AS y FROM range(12) t(i)),
         d AS (SELECT fid,
                 ROUND(2 * 6371008.8 * asin(least(1.0, sqrt(
                   pow(sin(radians(55.0 - y) / 2), 2) +
                   cos(radians(y)) * cos(radians(55.0)) *
                     pow(sin(radians(5.0 - x) / 2), 2)))), 3) AS meters
               FROM pts)
    SELECT s.src, d.fid::BIGINT AS fid, d.meters
    FROM (VALUES ('arrow'), ('fgb')) s(src) CROSS JOIN d
    ORDER BY s.src, d.fid"""

  /** Distance-comparison join shapes (g90): `ST_Distance(a,b) <= d` and
    * strict `< d` join conditions plan as spatial joins (the strategy
    * rewrites them to the dWithin family; strict keeps the original
    * conjunct as a residual filter). The fixture has pairs at EXACTLY the
    * radius (1.5² + 2² = 2.5²), so `<=` and `<` produce different row
    * sets — a residual regression (boundary pairs leaking into `<`) or a
    * BNLJ fall-through both break the hash. The plan must contain the
    * spatial exec and no BroadcastNestedLoopJoin. */
  private def g90Fn(s: SparkSession, dir: String): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val vP = "graft_g90_p_" + tag
    val vQ = "graft_g90_q_" + tag
    s.sql("""
      SELECT CAST(id AS BIGINT) AS pid,
             ST_Point(CAST(id % 40 AS DOUBLE), CAST(CAST(id / 40 AS INT) AS DOUBLE)) AS pg
      FROM range(1600)""").createOrReplaceTempView(vP)
    s.sql("""
      SELECT CAST(id AS BIGINT) AS qid,
             ST_Point(CAST(CAST(id * 7 AS BIGINT) % 40 AS DOUBLE) + 0.5,
                      CAST(CAST(id * 3 AS BIGINT) % 40 AS DOUBLE) + 0.5) AS qg
      FROM range(8)""").createOrReplaceTempView(vQ)
    val out = s.sql(s"""
      SELECT 'le' AS op, p.pid, q.qid FROM $vP p JOIN $vQ q ON ST_Distance(p.pg, q.qg) <= 2.5
      UNION ALL
      SELECT 'lt' AS op, p.pid, q.qid FROM $vP p JOIN $vQ q ON ST_Distance(p.pg, q.qg) < 2.5
      ORDER BY op, pid, qid""")
    val plan = out.queryExecution.executedPlan.toString
    require(plan.contains("SpatialJoin"),
      "g90: distance-comparison joins must plan as spatial joins")
    require(!plan.contains("BroadcastNestedLoopJoin"),
      "g90: distance-comparison joins must never fall to BNLJ")
    val materialized = out.orderBy("op", "pid", "qid")
    materialized.count()
    s.catalog.dropTempView(vP)
    s.catalog.dropTempView(vQ)
    materialized
  }

  private val g90Duck = """
    WITH p AS (SELECT i AS pid, CAST(i % 40 AS DOUBLE) AS px,
                      CAST(i // 40 AS DOUBLE) AS py FROM range(1600) t(i)),
         q AS (SELECT i AS qid, CAST((i * 7) % 40 AS DOUBLE) + 0.5 AS qx,
                      CAST((i * 3) % 40 AS DOUBLE) + 0.5 AS qy FROM range(8) t(i)),
         d AS (SELECT pid, qid,
                      sqrt((px - qx) * (px - qx) + (py - qy) * (py - qy)) AS dist
               FROM p CROSS JOIN q)
    SELECT op, pid::BIGINT AS pid, qid::BIGINT AS qid FROM (
      SELECT 'le' AS op, pid, qid FROM d WHERE dist <= 2.5
      UNION ALL
      SELECT 'lt' AS op, pid, qid FROM d WHERE dist < 2.5)
    ORDER BY op, pid, qid"""

  /** NFKC compatibility folding (t52): fullwidth digits, ligatures,
    * circled and superscript forms fold onto plain equivalents — without
    * this a tokenizer treats '１２３' and '123' as distinct tokens. The
    * oracle is CLOSED-FORM: DuckDB has no nfkc, so it states the expected
    * post-fold literals; the JDK Normalizer output must match them
    * byte-for-byte under the hash gate. */
  private val t52Spark = {
    val full = "１２３"     // fullwidth １２３
    val lig = "ﬁnd"                // ﬁnd
    val circ = "①②"           // ①②
    val sup = "x²"                 // x²
    s"""
    WITH raw AS (
      SELECT id,
             CASE CAST(id % 4 AS INT)
               WHEN 0 THEN '$full'
               WHEN 1 THEN '$lig'
               WHEN 2 THEN '$circ'
               ELSE '$sup'
             END AS txt
      FROM range(20))
    SELECT graft_nfkc(txt) AS folded, COUNT(*) AS n
    FROM raw GROUP BY 1 ORDER BY folded"""
  }

  private val t52Duck = """
    SELECT folded, n::BIGINT AS n FROM (VALUES
      ('123', 5), ('12', 5), ('find', 5), ('x2', 5)) t(folded, n)
    ORDER BY folded"""

  /** Streaming GeoParquet ingest with native stats pruning (s16): a
    * point stream arrives as NATIVE-encoded covering-less GeoParquet
    * files (the external-producer shape), read through
    * `format("geoparquet")` under Structured Streaming with the
    * bbox-filter option — EACH micro-batch plans row groups from the
    * x/y leaf statistics before decode, then the row-level raw-coordinate
    * refine and the exact WKB test run per batch. At 100 TB/day ingest
    * this is "stream the window, not the firehose": the same pruning
    * contract as the batch path (g81/g44), running inside the stream.
    * Two staged files → two micro-batches; the aggregate pins window
    * membership + coordinates against a closed form. */
  private def s16Fn(s: SparkSession, dir: String): DataFrame = {
    runStream(s, "graft_s16") { (sess, tmp) =>
      val pts = sess.sql("""
        SELECT CAST(id AS BIGINT) AS fid,
               ST_Point(CAST(id % 10 AS DOUBLE), CAST(id % 3 AS DOUBLE)) AS geometry
        FROM range(200)""")
      val src = new java.io.File(tmp, "src"); src.mkdirs()
      Seq(pts.where("fid < 100"), pts.where("fid >= 100")).zipWithIndex.foreach { case (b, i) =>
        val stage = new java.io.File(tmp, s"stage$i").getPath
        graft.sources.GeoParquet.write(b.coalesce(1), stage,
          covering = false, encoding = "point")
        val part = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(src, s"f$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + i * 60000L)
      }
      val schema = sess.read.parquet(src.getPath).schema
      sess.readStream.schema(schema)
        .format(classOf[graft.sources.GeoParquetFileFormat].getName)
        .option(graft.sources.GeoParquetFileFormat.BboxFilterKey,
          "geometry;2.5,-0.5,5.5,1.5")
        .option("maxFilesPerTrigger", 1)
        .load(src.getPath)
        // row-level refine on the raw native coordinates (pre-transcode)
        .where("geometry.x BETWEEN 2.5 AND 5.5 AND geometry.y BETWEEN -0.5 AND 1.5")
        .selectExpr("fid", "ga_point(geometry, false, false) AS wkb")
        // exact refine on the WKB, as the batch path does
        .where("ST_Intersects(wkb, ST_MakeEnvelope(2.5, -0.5, 5.5, 1.5))")
        .selectExpr("fid", "CAST(ST_X(wkb) AS BIGINT) AS x")
    }
      .groupBy("x")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("fid").as("sum_fid"))
      .orderBy("x")
  }

  private val s16Duck = """
    SELECT (i % 10)::BIGINT AS x, COUNT(*)::BIGINT AS n, SUM(i)::BIGINT AS sum_fid
    FROM range(200) t(i)
    WHERE i % 10 BETWEEN 3 AND 5 AND i % 3 != 2
    GROUP BY 1 ORDER BY 1"""

  /** Dictionary-encoded Arrow IPC write→read under the hash gate (GDAL's
    * property-column interop shape): a low-cardinality string column is
    * written dictionary-encoded (driver-scanned values broadcast, one
    * dictionary batch per file, 4-byte indexes on the wire) alongside a
    * geometry column, then read back through the byte-pruning DSv2 path —
    * the aggregate pins both the index→value lookup and the geometry
    * coordinates against closed forms. */
  private def g86Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g86_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CONCAT('cat-', CAST(id % 5 AS STRING)) AS cat,
             ST_Point(CAST(id AS DOUBLE), 1.0) AS geometry
      FROM range(200)""").coalesce(1)
    graft.sources.ArrowIpc.write(df, out, dictionaryColumns = Seq("cat"))
    s.read.format("arrowipc").load(out)
      .selectExpr("cat", "ST_X(geometry) AS x")
      .groupBy("cat")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("x").cast("bigint").as("sum_x"))
      .orderBy("cat")
  }

  private val g86Duck = """
    SELECT CONCAT('cat-', CAST(k AS VARCHAR)) AS cat, 40::BIGINT AS n,
           (40 * k + 3900)::BIGINT AS sum_x
    FROM range(5) t(k) ORDER BY cat"""

  /** Nested property columns through the Arrow IPC write→read hop under
    * the hash gate: an `array<int>` (with null elements) and a
    * `struct{k,w}` write as List/Struct subtrees, read back through the
    * byte-pruning DSv2 path, and aggregate to closed forms — pinning the
    * recursive field mapping, the writer-API population, and the
    * getObject→Spark conversion in one oracle. */
  private def g91Fn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g91_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             array(CAST(id AS INT),
                   CASE WHEN id % 3 = 0 THEN NULL ELSE CAST(id * 2 AS INT) END) AS xs,
             named_struct('k', CONCAT('g', CAST(id % 4 AS STRING)),
                          'w', CAST(id AS DOUBLE) * 0.5) AS meta,
             ST_Point(CAST(id AS DOUBLE), 0.0) AS geometry
      FROM range(240)""").coalesce(1)
    graft.sources.ArrowIpc.write(df, out)
    s.read.format("arrowipc").load(out)
      .selectExpr("meta.k AS k", "CAST(meta.w + ST_X(geometry) AS DOUBLE) AS wgx",
        "explode_outer(xs) AS x")
      .groupBy("k")
      .agg(count(col("x")).as("n_x"),
        sum(col("x")).cast("bigint").as("sum_x"),
        sum(col("wgx")).cast("bigint").as("sum_wgx"))
      .orderBy("k")
  }

  private val g91Duck = """
    WITH e AS (
      SELECT 'g' || CAST(i % 4 AS VARCHAR) AS k, i::BIGINT AS x, 1.5 * i AS wgx
      FROM range(240) s(i)
      UNION ALL
      SELECT 'g' || CAST(i % 4 AS VARCHAR) AS k,
             CASE WHEN i % 3 = 0 THEN NULL ELSE (i * 2)::BIGINT END AS x, 1.5 * i AS wgx
      FROM range(240) s(i))
    SELECT k, COUNT(x)::BIGINT AS n_x, SUM(x)::BIGINT AS sum_x,
           CAST(SUM(wgx) AS BIGINT) AS sum_wgx
    FROM e GROUP BY k ORDER BY k"""

  /** Conic national-grid projections under the hash gate (g92): Albers
    * Equal-Area (EPSG:5070 Conus Albers) and Lambert Conformal Conic 2SP
    * (EPSG:2154 Lambert-93) — the graft extension past the reference's
    * 4326/3857/UTM geodesy subset (core/ConicProjections, Snyder 1987,
    * anchored to the published worked examples in ConicProjectionsSpec).
    * The oracle REPLICATES the closed-form forward formulas in DuckDB SQL
    * (q/m/t, cone constant, rho/theta) over the same generated CONUS and
    * France point grids — a full independent recomputation, not a fixture
    * dump. Gate at INTEGER meters: cross-engine libm (JVM Math vs duck)
    * differs in the last ulps (~1e-8 m on 1e6-m values), and a finer grid
    * puts values measurably close to rounding boundaries across scale
    * factors (the cross-scale-determinism discipline of the verify gate). */
  private val g92Spark = """
    SELECT id, ROUND(ST_X(a), 0) AS ax, ROUND(ST_Y(a), 0) AS ay,
           ROUND(ST_X(l), 0) AS lx, ROUND(ST_Y(l), 0) AS ly
    FROM (SELECT id, ST_Transform(pa, 4326, 5070) AS a, ST_Transform(pl, 4326, 2154) AS l
          FROM (SELECT c_custkey AS id,
                       ST_Point(-124.0 + CAST(c_custkey % 570 AS DOUBLE) / 10.0,
                                24.0 + CAST(c_custkey % 250 AS DOUBLE) / 10.0) AS pa,
                       ST_Point(-5.0 + CAST(c_custkey % 140 AS DOUBLE) / 10.0,
                                41.0 + CAST(c_custkey % 100 AS DOUBLE) / 10.0) AS pl
                FROM customer) p)
    ORDER BY id"""

  private val g92Duck = """
    WITH k AS (
      SELECT 6378137.0 AS a, 1.0/298.257222101 AS f
    ), e AS (
      SELECT a, f*(2-f) AS e2, sqrt(f*(2-f)) AS ee FROM k
    ), alb AS (
      SELECT a, e2, ee,
        cos(radians(29.5))/sqrt(1-e2*sin(radians(29.5))*sin(radians(29.5))) AS m1,
        cos(radians(45.5))/sqrt(1-e2*sin(radians(45.5))*sin(radians(45.5))) AS m2,
        (1-e2)*(sin(radians(29.5))/(1-e2*sin(radians(29.5))*sin(radians(29.5)))
                - (1/(2*ee))*ln((1-ee*sin(radians(29.5)))/(1+ee*sin(radians(29.5))))) AS q1,
        (1-e2)*(sin(radians(45.5))/(1-e2*sin(radians(45.5))*sin(radians(45.5)))
                - (1/(2*ee))*ln((1-ee*sin(radians(45.5)))/(1+ee*sin(radians(45.5))))) AS q2,
        (1-e2)*(sin(radians(23.0))/(1-e2*sin(radians(23.0))*sin(radians(23.0)))
                - (1/(2*ee))*ln((1-ee*sin(radians(23.0)))/(1+ee*sin(radians(23.0))))) AS q0
      FROM e
    ), albc AS (
      SELECT a, e2, ee,
             (m1*m1 - m2*m2)/(q2 - q1) AS n,
             m1*m1 + (m1*m1 - m2*m2)/(q2 - q1)*q1 AS c, q0
      FROM alb
    ), albk AS (
      SELECT a, e2, ee, n, c, a*sqrt(c - n*q0)/n AS rho0 FROM albc
    ), lccp AS (
      SELECT a, e2, ee,
        cos(radians(44.0))/sqrt(1-e2*sin(radians(44.0))*sin(radians(44.0))) AS m1,
        cos(radians(49.0))/sqrt(1-e2*sin(radians(49.0))*sin(radians(49.0))) AS m2,
        tan(pi()/4 - radians(44.0)/2)/pow((1-ee*sin(radians(44.0)))/(1+ee*sin(radians(44.0))), ee/2) AS t1,
        tan(pi()/4 - radians(49.0)/2)/pow((1-ee*sin(radians(49.0)))/(1+ee*sin(radians(49.0))), ee/2) AS t2,
        tan(pi()/4 - radians(46.5)/2)/pow((1-ee*sin(radians(46.5)))/(1+ee*sin(radians(46.5))), ee/2) AS t0
      FROM e
    ), lccc AS (
      SELECT a, e2, ee, (ln(m1) - ln(m2))/(ln(t1) - ln(t2)) AS n,
             m1/(((ln(m1) - ln(m2))/(ln(t1) - ln(t2))) * pow(t1, (ln(m1) - ln(m2))/(ln(t1) - ln(t2)))) AS bf, t0
      FROM lccp
    ), lcck AS (
      SELECT a, e2, ee, n, bf, a*bf*pow(t0, n) AS rho0 FROM lccc
    ), pts AS (
      SELECT c_custkey AS id,
             -124.0 + (c_custkey % 570)/10.0 AS alon, 24.0 + (c_custkey % 250)/10.0 AS alat,
             -5.0 + (c_custkey % 140)/10.0 AS llon, 41.0 + (c_custkey % 100)/10.0 AS llat
      FROM customer
    ), aproj AS (
      SELECT id,
             a*sqrt(c - n*((1-e2)*(sin(radians(alat))/(1-e2*sin(radians(alat))*sin(radians(alat)))
                - (1/(2*ee))*ln((1-ee*sin(radians(alat)))/(1+ee*sin(radians(alat)))))))/n AS rho,
             radians(n*(alon - (-96.0))) AS th, rho0
      FROM pts, albk
    ), lproj AS (
      SELECT id, a*bf*pow(tan(pi()/4 - radians(llat)/2)
               / pow((1-ee*sin(radians(llat)))/(1+ee*sin(radians(llat))), ee/2), n) AS rho,
             radians(n*(llon - 3.0)) AS th, rho0
      FROM pts, lcck
    )
    SELECT p.id,
           ROUND(ap.rho*sin(ap.th), 0) AS ax,
           ROUND(ap.rho0 - ap.rho*cos(ap.th), 0) AS ay,
           ROUND(700000.0 + lp.rho*sin(lp.th), 0) AS lx,
           ROUND(6600000.0 + lp.rho0 - lp.rho*cos(lp.th), 0) AS ly
    FROM pts p JOIN aproj ap ON p.id = ap.id JOIN lproj lp ON p.id = lp.id
    ORDER BY p.id"""

  /** Large-star/small-star connected components under the hash gate
    * (Kiveris et al., SoCC 2014 — diameter-independent O(log² n) rounds,
    * the scale path for chain-shaped graphs where min-label propagation
    * needs O(diameter) shuffles): a planted forest of 20 disjoint 50-node
    * chains labels every vertex with its chain's minimum id. The closed
    * form makes the oracle exact. */
  private def t50Fn(s: SparkSession, dir: String): DataFrame = {
    val edges = s.sql(
      "SELECT CAST(id AS BIGINT) AS src, CAST(id + 1 AS BIGINT) AS dst " +
        "FROM range(1000) WHERE id % 50 != 49")
    graft.operators.ConnectedComponents.runStars(edges, "src", "dst")
      .orderBy("id")
  }

  private val t50Duck = """
    SELECT i::BIGINT AS id, ((i // 50) * 50)::BIGINT AS component
    FROM range(1000) t(i) ORDER BY id"""

  /** Single-file FlatGeobuf artifact under the hash gate (reference:
    * rust/geoarrow-flatgeobuf/src/writer.rs:16-96 writes ONE file): a
    * multi-partition frame goes through `writeSingle` — distributed global
    * Hilbert range-sort, then one spill-backed assembly task — and the
    * result is a single .fgb whose packed index serves a bbox window
    * read-back. Pinned: the window's exact rows, the artifact file count
    * (must be 1), and the header-declared feature count, so a regression
    * to per-partition files or a broken global index breaks the hash. */
  private def g85Fn(s: SparkSession, dir: String): DataFrame = {
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g85_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val out = base + "/dataset.fgb"
    val pts = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_Point(CAST(id % 80 AS DOUBLE), CAST(CAST(id / 80 AS INT) AS DOUBLE)) AS geometry
      FROM range(3200)""").repartition(8)
    graft.sources.FlatGeobufWriter.writeSingle(pts, out)
    val files = new java.io.File(base).listFiles().count(_.getName.endsWith(".fgb"))
    val header = graft.sources.FlatGeobuf.parseHeader(
      java.nio.file.Files.readAllBytes(new java.io.File(out).toPath))
    graft.sources.FlatGeobuf.readBbox(s, out, 10.5, 20.5, 17.5, 27.5)
      .selectExpr("fid",
        "CAST(ST_X(geometry) AS BIGINT) AS x",
        "CAST(ST_Y(geometry) AS BIGINT) AS y")
      .withColumn("n_files", org.apache.spark.sql.functions.lit(files.toLong))
      .withColumn("declared_count", org.apache.spark.sql.functions.lit(header.featuresCount))
      .orderBy("fid")
  }

  private val g85Duck = """
    SELECT (y.y * 80 + x.x)::BIGINT AS fid, x.x::BIGINT AS x, y.y::BIGINT AS y,
           1::BIGINT AS n_files, 3200::BIGINT AS declared_count
    FROM (SELECT unnest(range(11, 18)) AS x) x
    CROSS JOIN (SELECT unnest(range(21, 28)) AS y) y
    ORDER BY fid"""

  /** Edges-metadata measure dispatch under the hash gate (reference:
    * per-column `Edges`, rust/geoarrow-schema/src/edges.rs:35-70): the
    * same lon/lat segments are written twice — once with
    * `edges=spherical`, once planar — and BOTH read back through
    * `GeoParquet.read`, which stamps `geoparquet.edges` column metadata.
    * `GeoFunctions.edgeLength` dispatches each frame by its own stamp:
    * the spherical file measures haversine meters (pinned by the g24
    * closed form), the planar file cartesian degrees (√2 per 1°×1°
    * segment) — no caller-side variant picking. The stamped edges string
    * rides as a literal so the metadata roundtrip itself gates the hash. */
  private def g83Fn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, round}
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g83_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val lines = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_MakeLine(
               ST_Point(CAST(id * 3 % 120 - 60 AS DOUBLE), CAST(id % 60 - 30 AS DOUBLE)),
               ST_Point(CAST(id * 3 % 120 - 59 AS DOUBLE), CAST(id % 60 - 29 AS DOUBLE))
             ) AS geometry
      FROM range(40)""")
    graft.sources.GeoParquet.write(lines, base + "_sph", edges = Some("spherical"))
    graft.sources.GeoParquet.write(lines, base + "_pla")
    val sph = graft.sources.GeoParquet.read(s, base + "_sph")
    val pla = graft.sources.GeoParquet.read(s, base + "_pla")
    val stamped = sph.schema("geometry").metadata.getString("geoparquet.edges")
    val sphLen = sph.select(col("fid"),
      round(graft.functions.GeoFunctions.edgeLength(sph), 4).as("sphere_m"),
      lit(stamped).as("edges"))
    val plaLen = pla.select(col("fid"),
      round(graft.functions.GeoFunctions.edgeLength(pla), 6).as("planar_deg"))
    // plain-SQL dispatch rides the same gate: ST_Length over the stamped
    // view rewrites to haversine at analysis time (builder-level edges
    // dispatch), pinned equal to the Scala helper's column. The view name
    // is run-scoped (UUID) and dropped once the join is analyzed, so
    // concurrent evaluations can't clobber each other.
    val viewName = "graft_g83_sph_" + new java.io.File(base).getName.split('_').last
    sph.createOrReplaceTempView(viewName)
    val sqlLen = s.sql(
      s"SELECT fid, ROUND(ST_Length(geometry), 4) AS sql_sphere_m FROM $viewName")
    val joined = sphLen.join(plaLen, "fid").join(sqlLen, "fid").orderBy("fid")
    s.catalog.dropTempView(viewName) // plans are analyzed eagerly; safe to drop
    joined
  }

  private val g83Duck = """
    WITH p AS (SELECT i,
                 CAST(i * 3 % 120 - 60 AS DOUBLE) AS lon1, CAST(i % 60 - 30 AS DOUBLE) AS lat1,
                 CAST(i * 3 % 120 - 59 AS DOUBLE) AS lon2, CAST(i % 60 - 29 AS DOUBLE) AS lat2
               FROM range(40) t(i))
    SELECT i::BIGINT AS fid,
           ROUND(2 * 6371008.8 * asin(least(1.0, sqrt(
             pow(sin(radians(lat2 - lat1) / 2), 2) +
             cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(radians(lon2 - lon1) / 2), 2)))), 4)
             AS sphere_m,
           'spherical' AS edges,
           ROUND(sqrt(2.0), 6) AS planar_deg,
           ROUND(2 * 6371008.8 * asin(least(1.0, sqrt(
             pow(sin(radians(lat2 - lat1) / 2), 2) +
             cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(radians(lon2 - lon1) / 2), 2)))), 4)
             AS sql_sphere_m
    FROM p ORDER BY fid"""

  /** Edge-aware ST_Distance/ST_DWithin dispatch (the distance half of the
    * edges contract, rust/geoarrow-schema/src/edges.rs:3-8 — "does affect
    * distance …"). The same spherical/planar file pair as g83, points this
    * time: plain-SQL `ST_Distance(geometry, ST_Point(10,20))` over the
    * spherical-stamped view rewrites to haversine meters at analysis time,
    * over the planar file it stays cartesian degrees — both directions
    * hash-gated against closed forms. `ST_DWithin` rides the same rewrite
    * with model-unit thresholds picked to give a true/false MIX under the
    * declared model (3000 km on the sphere, 30° planar), so a
    * wrong-direction dispatch flips rows, not just scales them. The
    * explicit `edgeDistance` helper is pinned equal to the SQL column. */
  private def g84Fn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, round}
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g84_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val pts = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_Point(CAST(id * 3 % 120 - 60 AS DOUBLE), CAST(id % 60 - 30 AS DOUBLE)) AS geometry
      FROM range(40)""")
    graft.sources.GeoParquet.write(pts, base + "_sph", edges = Some("spherical"))
    graft.sources.GeoParquet.write(pts, base + "_pla")
    val sph = graft.sources.GeoParquet.read(s, base + "_sph")
    val pla = graft.sources.GeoParquet.read(s, base + "_pla")
    val tag = new java.io.File(base).getName.split('_').last
    val vS = "graft_g84_sph_" + tag
    val vP = "graft_g84_pla_" + tag
    sph.createOrReplaceTempView(vS)
    pla.createOrReplaceTempView(vP)
    val sqlSph = s.sql(s"""
      SELECT fid,
             ROUND(ST_Distance(geometry, ST_Point(10.0, 20.0)), 4) AS sphere_m,
             ST_DWithin(geometry, ST_Point(10.0, 20.0), 3000000.0) AS within_3000km
      FROM $vS""")
    val sqlPla = s.sql(s"""
      SELECT fid,
             ROUND(ST_Distance(geometry, ST_Point(10.0, 20.0)), 6) AS planar_deg,
             ST_DWithin(geometry, ST_Point(10.0, 20.0), 30.0) AS within_30deg
      FROM $vP""")
    val helper = sph.select(col("fid"),
      round(graft.functions.GeoFunctions.edgeDistance(sph,
        graft.functions.GeoFunctions.st_point(lit(10.0), lit(20.0))), 4).as("helper_m"))
    val joined = sqlSph.join(sqlPla, "fid").join(helper, "fid").orderBy("fid")
    s.catalog.dropTempView(vS) // plans are analyzed eagerly; safe to drop
    s.catalog.dropTempView(vP)
    joined
  }

  private val g84Duck = """
    WITH p AS (SELECT i,
                 CAST(i * 3 % 120 - 60 AS DOUBLE) AS lon, CAST(i % 60 - 30 AS DOUBLE) AS lat
               FROM range(40) t(i)),
         d AS (SELECT i, lon, lat,
                 2 * 6371008.8 * asin(least(1.0, sqrt(
                   pow(sin(radians(20.0 - lat) / 2), 2) +
                   cos(radians(lat)) * cos(radians(20.0)) * pow(sin(radians(10.0 - lon) / 2), 2))))
                   AS hm,
                 sqrt(pow(lon - 10.0, 2) + pow(lat - 20.0, 2)) AS pd
               FROM p)
    SELECT i::BIGINT AS fid,
           ROUND(hm, 4) AS sphere_m,
           hm <= 3000000.0 AS within_3000km,
           ROUND(pd, 6) AS planar_deg,
           pd <= 30.0 AS within_30deg,
           ROUND(hm, 4) AS helper_m
    FROM d ORDER BY fid"""

  /** Multi-geometry-column GeoParquet under the hash gate: a table with a
    * primary point column AND a secondary polygon column roundtrips through
    * the single-pass writer; the reconciled footer metadata (column names +
    * per-column observed geometry_types + primary flag) is pinned as a
    * literal alongside both columns' coordinate data. Reference:
    * multi-entry `columns` map, rust/geoparquet/src/metadata.rs:30. */
  private def g49Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g49_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_Point(CAST(id AS DOUBLE), CAST(id % 3 AS DOUBLE)) AS geometry,
             ST_MakeEnvelope(CAST(id AS DOUBLE), 0.0, CAST(id AS DOUBLE) + 2, 4.0) AS boundary
      FROM range(40)""")
    graft.sources.GeoParquet.write(df, out, secondaryGeometry = Seq("boundary"))
    val m = graft.sources.GeoParquet.metadata(s, out).get
    val metaStr = m.columns.sortBy(_.name).map { c =>
      val primary = if (c.name == m.primaryColumn) "*" else ""
      c.name + primary + ":" + c.geometryTypes.mkString("+")
    }.mkString(",")
    graft.sources.GeoParquet.read(s, out)
      .selectExpr("fid",
        "CAST(ST_X(geometry) AS BIGINT) AS px",
        "CAST(ST_Y(geometry) AS BIGINT) AS py",
        "CAST(ST_Area(boundary) AS BIGINT) AS barea")
      .withColumn("geo_meta", org.apache.spark.sql.functions.lit(metaStr))
      .orderBy("fid")
  }

  private val g49Duck = """
    SELECT i::BIGINT AS fid, i::BIGINT AS px, (i % 3)::BIGINT AS py,
           8::BIGINT AS barea,
           'boundary:Polygon,geometry*:Point' AS geo_meta
    FROM range(40) t(i) ORDER BY fid"""

  /** Single-document GeoJSON FeatureCollection WRITE under the hash gate
    * (reference: rust/geoarrow-geojson/src/writer/mod.rs:51 — the
    * collection writer; writeLines/g43 covers the `:141` lines writer):
    * writeFeatureCollection → readFeatureCollection roundtrip with a string
    * property, pinned closed-form. Uniform geometry type per file — the
    * same header-driven schema-inference constraint as the reference's
    * readers (see GeoIOSpec's mixed-type boundary test). The write path is
    * distributed feature serialization + single-stream document assembly;
    * the read path is Spark's multiLine JSON + features explode. */
  private def g50Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g50_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             concat('tag_', CAST(id % 4 AS STRING)) AS tag,
             ST_GeomFromText(concat('LINESTRING(0 0, ', CAST(id AS STRING),
                                    ' 2, ', CAST(id AS STRING), ' 5)')) AS geometry
      FROM range(45)""")
    graft.sources.GeoJsonSource.writeFeatureCollection(df, out)
    graft.sources.GeoJsonSource.readFeatureCollection(s, out)
      .selectExpr("fid", "tag",
        "ST_GeometryType(geometry) AS gtype",
        "CAST(FLOOR(ST_Length(geometry)) AS BIGINT) AS measure")
      .orderBy("fid")
  }

  // measure: floor(|(0,0)→(i,2)| + |(i,2)→(i,5)|) = floor(sqrt(i²+4) + 3)
  private val g50Duck = """
    SELECT i::BIGINT AS fid, 'tag_' || (i % 4)::VARCHAR AS tag,
           'ST_LineString' AS gtype,
           CAST(floor(sqrt(i*i + 4) + 3) AS BIGINT) AS measure
    FROM range(45) t(i) ORDER BY fid"""

  /** geometry_col discovery under the hash gate (spec-only before round 8):
    * a GeoParquet roundtrip whose read attaches `geoparquet.encoding` field
    * metadata, a renamed binary column that is ONLY discoverable through
    * that metadata (not by the name convention), and a decoy binary column
    * that must NOT be reported. Mirrors the reference's
    * `Table::geometry_column` / python `geometry_col` accessor. */
  private def g48Fn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g48_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid, CAST('ff' AS BINARY) AS payload,
             ST_Point(CAST(id AS DOUBLE), 1.0) AS shape_data
      FROM range(10)""")
    graft.sources.GeoParquet.write(df, out, geometryColumn = "shape_data", covering = false)
    val back = graft.sources.GeoParquet.read(s, out)
    val discovered = graft.functions.GeoFunctions.geometryColumns(back.schema) ++
      graft.functions.GeoFunctions.geometryColumns(
        s.sql("SELECT ST_Point(0.0, 0.0) AS geometry, unhex('ff') AS blob").schema)
    discovered.toDF("col_name").orderBy("col_name")
  }

  private val g48Duck = """
    SELECT col_name FROM (VALUES ('geometry'), ('shape_data')) t(col_name)
    ORDER BY col_name"""

  /** Structured Streaming windowed aggregation under the hash gate
    * (spec-only before round 8): a deterministic event set streams through
    * a real file source (one micro-batch per file via maxFilesPerTrigger),
    * StreamOps.windowedCounts applies watermark + tumbling window + append
    * mode, and Trigger.AvailableNow drains into a memory sink. Two
    * far-future sentinel files advance the watermark past every real
    * window, so the emitted set is exactly ALL real windows — closed-form
    * in DuckDB — regardless of how the engine schedules cleanup batches.
    * This exercises the actual streaming machinery (watermark advance,
    * state eviction, append semantics), not a batch re-expression. */
  private def s02Fn(s: SparkSession, dir: String): DataFrame = {
    runStream(s, "graft_s02") { (sess, tmp) =>
      val ev = sess.sql("""
        SELECT CAST(id AS BIGINT) AS event_id,
               timestamp_seconds(1700000000 + (id % 40) * 60 + CAST(id / 40 AS INT) * 7) AS ts,
               CAST(id % 7 AS BIGINT) AS user_id,
               CASE WHEN id % 3 = 0 THEN 'click' WHEN id % 3 = 1 THEN 'view'
                    ELSE 'buy' END AS event_type,
               CAST(id AS DOUBLE) / 10 AS value
        FROM range(200)""")
      def sentinel(offset: Long) = sess.sql(s"""
        SELECT CAST(9000 + $offset AS BIGINT) AS event_id,
               timestamp_seconds(1700000000 + 86400 + $offset) AS ts,
               CAST(0 AS BIGINT) AS user_id, 'sentinel' AS event_type, 0.0 AS value""")
      val src = stageBatches(tmp, Seq(ev, sentinel(0), sentinel(1)))
      val stream = sess.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      graft.streaming.StreamOps.windowedCounts(
        stream, watermark = "10 minutes", window = "5 minutes")
    }
      .where("event_type <> 'sentinel'")
      .selectExpr("CAST(window.start AS BIGINT) AS win_start", "event_type",
        "n", "ROUND(total, 6) AS total")
      .orderBy("win_start", "event_type")
  }

  private val s02Duck = """
    WITH ev AS (
      SELECT 1700000000 + (i % 40) * 60 + (i // 40) * 7 AS es,
             CASE WHEN i % 3 = 0 THEN 'click' WHEN i % 3 = 1 THEN 'view'
                  ELSE 'buy' END AS event_type,
             i / 10.0 AS value
      FROM range(200) t(i))
    SELECT (es // 300) * 300 AS win_start, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 6) AS total
    FROM ev GROUP BY 1, 2 ORDER BY win_start, event_type"""

  /** Streaming exact-dedup across micro-batches under the hash gate: each
    * logical event arrives THREE times in three separate micro-batch files
    * (maxFilesPerTrigger=1, staged mtimes), so the second and third copies
    * can only be dropped by dropDuplicatesWithinWatermark STATE carried
    * across batches — the streaming form of t02. Copies are byte-identical
    * (all fields derive from event_id), so the emitted set is closed-form
    * regardless of which copy wins; sentinels push the watermark far past
    * every event (the s02 technique). */
  private def s03Fn(s: SparkSession, dir: String): DataFrame = {
    runStream(s, "graft_s03") { (sess, tmp) =>
      def copies = sess.sql("""
        SELECT CAST(id AS BIGINT) AS event_id,
               timestamp_seconds(1700000000 + id) AS ts,
               CAST(id % 7 AS BIGINT) AS user_id,
               CASE WHEN id % 3 = 0 THEN 'click' WHEN id % 3 = 1 THEN 'view'
                    ELSE 'buy' END AS event_type,
               CAST(id AS DOUBLE) / 10 AS value
        FROM range(100)""")
      def sentinel(offset: Long) = sess.sql(s"""
        SELECT CAST(9000 + $offset AS BIGINT) AS event_id,
               timestamp_seconds(1700000000 + 86400 + $offset) AS ts,
               CAST(0 AS BIGINT) AS user_id, 'sentinel' AS event_type, 0.0 AS value""")
      val src = stageBatches(tmp, Seq(copies, copies, copies, sentinel(0), sentinel(1)))
      val stream = sess.readStream.schema(copies.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      graft.streaming.StreamOps.dedupe(stream, watermark = "10 minutes")
    }
      .where("event_type <> 'sentinel'")
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.expr("COUNT(*)").as("n"),
           org.apache.spark.sql.functions.expr("COUNT(DISTINCT event_id)").as("n_ids"),
           org.apache.spark.sql.functions.expr("ROUND(SUM(value), 6)").as("total"))
      .orderBy("event_type")
  }

  private val s03Duck = """
    WITH ev AS (
      SELECT i AS event_id,
             CASE WHEN i % 3 = 0 THEN 'click' WHEN i % 3 = 1 THEN 'view'
                  ELSE 'buy' END AS event_type,
             i / 10.0 AS value
      FROM range(100) t(i))
    SELECT event_type, COUNT(*)::BIGINT AS n, COUNT(DISTINCT event_id)::BIGINT AS n_ids,
           ROUND(SUM(value), 6) AS total
    FROM ev GROUP BY 1 ORDER BY 1"""

  /** Streaming geofence enrichment: a point stream joined per micro-batch
    * against a static zone table on ST_Contains. The join is STATELESS
    * (no watermark, no state store — rows emit as they match), and it
    * plans through SpatialJoinStrategy inside each micro-batch, so every
    * batch probes a broadcast STRtree of the zones rather than a nested
    * loop: per-batch cost O(batch · log zones) at any zone count. Zones
    * are three rectangles + one triangle (overlapping — points can match
    * several zones); fixture coordinates sit ≥0.005 off every zone edge,
    * so JTS and the oracle's closed-form arithmetic containment cannot
    * disagree on boundaries. Per-zone totals aggregate AFTER the stream
    * materializes (batch group-by on the sink table). */
  private def s04Fn(s: SparkSession, dir: String): DataFrame = {
    runStream(s, "graft_s04") { (sess, tmp) =>
      val pts = sess.sql("""
        SELECT CAST(id AS BIGINT) AS point_id,
               timestamp_seconds(1700000000 + id) AS ts,
               (id % 20) * 0.1 + 0.05 AS lon,
               (id % 13) * 0.1 + 0.05 AS lat
        FROM range(200)""")
      // two staged files → two micro-batches through the stateless join
      val src = stageBatches(tmp,
        Seq(pts.where("point_id < 100"), pts.where("point_id >= 100")))
      val stream = sess.readStream.schema(pts.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withColumn("geom", org.apache.spark.sql.functions.expr("ST_Point(lon, lat)"))
      val zones = sess.sql("""
        SELECT zone_id, ST_GeomFromText(wkt) AS zone FROM VALUES
          (CAST(1 AS BIGINT), 'POLYGON((0 0, 1 0, 1 0.7, 0 0.7, 0 0))'),
          (CAST(2 AS BIGINT), 'POLYGON((1 0, 2 0, 2 0.7, 1 0.7, 1 0))'),
          (CAST(3 AS BIGINT), 'POLYGON((0 0.7, 2 0.7, 2 1.4, 0 1.4, 0 0.7))'),
          (CAST(4 AS BIGINT), 'POLYGON((0 0, 2 0, 2 1.4, 0 0))') AS t(zone_id, wkt)""")
      graft.streaming.StreamOps.geofence(stream, zones)
        .select("zone_id", "point_id", "lon")
    }
      .groupBy("zone_id")
      .agg(org.apache.spark.sql.functions.count("*").as("n_points"),
        org.apache.spark.sql.functions.expr("COUNT(DISTINCT point_id)").as("n_ids"),
        // SUM over the DECIMAL lon is exact (no FP order sensitivity);
        // one cast AFTER the sum lands on the same double as the oracle's
        // decimal-sum → float64 conversion. A bare ROUND(SUM(lon), 6)
        // stays DECIMAL and hash-mismatches duck's float64.
        org.apache.spark.sql.functions.expr("ROUND(CAST(SUM(lon) AS DOUBLE), 6)").as("sum_lon"))
      .orderBy("zone_id")
  }

  /** Streaming zone transitions (s07): geofence tagging + per-device
    * custom state composed in ONE streaming query — the stream-static
    * spatial join tags each position with its zone (planner-side, the s04
    * machinery), then [[graft.streaming.StreamOps.zoneTransitions]] emits
    * ENTER/EXIT rows via `flatMapGroupsWithState` (state = last zone per
    * device, O(devices)). Positions arrive in TWO micro-batch files split
    * mid-path, so devices straddle the boundary — a device ending batch 1
    * in 'west' and opening batch 2 in 'east' must emit exactly one
    * west→east row, which only happens if per-device state survives the
    * batch boundary; the closed-form oracle (LAG over the full event set)
    * hash-mismatches on any state loss OR any duplicate emission.
    *
    * 100 TB topology: the zone join broadcasts the (small) zone table per
    * micro-batch; transition state shards by device across executors and
    * holds one string each. Nothing accumulates on the driver. */
  private def s07Fn(s: SparkSession, dir: String): DataFrame = {
    runStream(s, "graft_s07") { (sess, tmp) =>
      val pts = sess.sql("""
        SELECT CAST(d AS BIGINT) AS device_id,
               timestamp_seconds(1700000000 + k * 60) AS ts,
               CAST((d * 7 + k * 3) % 100 AS DOUBLE) AS x,
               CAST((d + k) % 2 * 0.5 + 0.25 AS DOUBLE) AS y,
               CAST(k AS BIGINT) AS k
        FROM (SELECT id AS d FROM range(10)) CROSS JOIN (SELECT id AS k FROM range(40))""")
      val src = stageBatches(tmp,
        Seq(pts.where("k < 20").drop("k"), pts.where("k >= 20").drop("k")))
      val stream = sess.readStream.schema(pts.drop("k").schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withColumn("geom", org.apache.spark.sql.functions.expr("ST_Point(x, y)"))
      val zones = sess.sql("""
        SELECT zone_name, ST_GeomFromText(wkt) AS zone FROM VALUES
          ('west', 'POLYGON((-1 -1, 49.5 -1, 49.5 2, -1 2, -1 -1))'),
          ('east', 'POLYGON((49.5 -1, 101 -1, 101 2, 49.5 2, 49.5 -1))') AS t(zone_name, wkt)""")
      val tagged = graft.streaming.StreamOps.geofence(stream, zones)
        .selectExpr("device_id", "ts", "zone_name AS zone")
      import sess.implicits._
      graft.streaming.StreamOps.zoneTransitions(
        tagged.as[graft.streaming.StreamOps.PosEvent]).toDF()
    }
      .selectExpr("device_id", "CAST(unix_micros(ts) DIV 1000000 AS BIGINT) AS tsec",
        "from_zone", "to_zone")
      .orderBy("device_id", "tsec")
  }

  private val s07Duck = """
    WITH e AS (SELECT d, k, 1700000000 + k * 60 AS tsec, (d * 7 + k * 3) % 100 AS x
               FROM range(10) t1(d) CROSS JOIN range(40) t2(k)),
    z AS (SELECT d AS device_id, tsec,
                 CASE WHEN x <= 49 THEN 'west' ELSE 'east' END AS zone FROM e),
    t AS (SELECT device_id, tsec,
                 LAG(zone) OVER (PARTITION BY device_id ORDER BY tsec) AS from_zone,
                 zone AS to_zone
          FROM z)
    SELECT device_id::BIGINT AS device_id, tsec::BIGINT AS tsec, from_zone, to_zone
    FROM t WHERE from_zone IS DISTINCT FROM to_zone
    ORDER BY device_id, tsec"""

  private val s04Duck = """
    WITH p AS (
      SELECT i AS point_id, (i % 20) * 0.1 + 0.05 AS lon, (i % 13) * 0.1 + 0.05 AS lat
      FROM range(200) t(i)),
    hits AS (
      SELECT 1 AS zone_id, point_id, lon FROM p
      WHERE lon > 0 AND lon < 1 AND lat > 0 AND lat < 0.7
      UNION ALL
      SELECT 2, point_id, lon FROM p
      WHERE lon > 1 AND lon < 2 AND lat > 0 AND lat < 0.7
      UNION ALL
      SELECT 3, point_id, lon FROM p
      WHERE lon > 0 AND lon < 2 AND lat > 0.7 AND lat < 1.4
      UNION ALL
      SELECT 4, point_id, lon FROM p
      WHERE lon > 0 AND lon < 2 AND lat > 0 AND lat < 0.7 * lon)
    SELECT zone_id::BIGINT AS zone_id, COUNT(*)::BIGINT AS n_points,
           COUNT(DISTINCT point_id)::BIGINT AS n_ids,
           ROUND(SUM(lon), 6) AS sum_lon
    FROM hits GROUP BY 1 ORDER BY 1"""

  /** Stream-stream interval join (s05): view→click attribution through
    * [[graft.streaming.StreamOps.intervalJoin]] — every click within 10
    * minutes of a same-user view pairs with it. Two independent file
    * streams over the same two micro-batch files (maxFilesPerTrigger=1),
    * so view-state from batch 1 must survive to meet clicks arriving in
    * batch 2 — the symmetric-hash join state machinery is exactly what's
    * under test; a batch join over the union'd files gives the identical
    * pair set, which is what the closed-form oracle replays. user_id is
    * (id² mod 7) — deliberately NOT id % k: a linear id lattice against
    * the mod-3 view/click type assignment makes user-equality force one
    * fixed lag (or none at all); the quadratic residue breaks the
    * lattice so lags vary 74–518 s across groups.
    * Inner matches emit as the later side arrives (append without
    * watermark flush), so no sentinel files are needed; the watermark
    * still bounds join state for eviction. Aggregation to per-user lag
    * stats happens AFTER the stream materializes (batch group-by on the
    * sink table, the s03/s04 pattern). */
  private def s05Fn(s: SparkSession, dir: String): DataFrame = {
    runStream(s, "graft_s05") { (sess, tmp) =>
      def slice(lo: Int, hi: Int) = sess.sql(s"""
        SELECT CAST(id AS BIGINT) AS event_id,
               timestamp_seconds(1700000000 + id * 37) AS ts,
               (id * id) % 7 AS user_id,
               CASE WHEN id % 3 = 0 THEN 'click' WHEN id % 3 = 1 THEN 'view'
                    ELSE 'buy' END AS event_type,
               CAST(id AS DOUBLE) / 10 AS value
        FROM range($lo, $hi)""")
      val src = stageBatches(tmp, Seq(slice(0, 60), slice(60, 120)))
      val schema = slice(0, 1).schema
      def stream() = sess.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val views = stream().filter("event_type = 'view'")
      val clicks = stream().filter("event_type = 'click'")
      graft.streaming.StreamOps
        .intervalJoin(views, clicks, "user_id", maxLag = "10 minutes", watermark = "20 minutes")
        .selectExpr("l.user_id AS user_id", "l.event_id AS view_id", "r.event_id AS click_id",
          "CAST(r.ts AS LONG) - CAST(l.ts AS LONG) AS lag_s")
    }
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.expr("COUNT(*)").as("n_pairs"),
           org.apache.spark.sql.functions.expr("COUNT(DISTINCT view_id)").as("n_views"),
           org.apache.spark.sql.functions.expr("COUNT(DISTINCT click_id)").as("n_clicks"),
           org.apache.spark.sql.functions.expr("MIN(lag_s)").as("min_lag_s"),
           org.apache.spark.sql.functions.expr("MAX(lag_s)").as("max_lag_s"),
           org.apache.spark.sql.functions.expr("SUM(lag_s)").as("sum_lag_s"))
      .orderBy("user_id")
  }

  private val s05Duck = """
    WITH ev AS (SELECT i AS event_id, i * 37 AS tsec, (i * i) % 7 AS user_id,
                       CASE WHEN i % 3 = 0 THEN 'click' WHEN i % 3 = 1 THEN 'view'
                            ELSE 'buy' END AS et
                FROM range(120) t(i)),
    v AS (SELECT * FROM ev WHERE et = 'view'),
    c AS (SELECT * FROM ev WHERE et = 'click'),
    p AS (SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
                 c.tsec - v.tsec AS lag_s
          FROM v JOIN c ON c.user_id = v.user_id
            AND c.tsec >= v.tsec AND c.tsec <= v.tsec + 600)
    SELECT user_id, COUNT(*)::BIGINT AS n_pairs,
           COUNT(DISTINCT view_id)::BIGINT AS n_views,
           COUNT(DISTINCT click_id)::BIGINT AS n_clicks,
           MIN(lag_s)::BIGINT AS min_lag_s, MAX(lag_s)::BIGINT AS max_lag_s,
           SUM(lag_s)::BIGINT AS sum_lag_s
    FROM p GROUP BY user_id ORDER BY user_id"""

  /** Trajectory statistics (g70): the GPS-track report — per device,
    * consecutive positions (event-time ordered) fold to step distances
    * on the sphere, total path length, longest hop, and cardinal
    * drift counts. Steps come from ONE LAG window over the device
    * partitioning; each haversine step floors to integer millimeters
    * BEFORE the sum (the established order-free trick — the oracle
    * replays the identical IEEE chain per row, g24's precedent, and the
    * BIGINT sum can't drift); direction counts use plain coordinate
    * comparisons, no transcendental ever picks a bucket (the g59 rule).
    * One shuffle, keyed by device. */
  private val g70Spark = """
    WITH p AS (SELECT /*+ REPARTITION({{P}}) */ user_id, ts, event_id,
                      CAST((event_id * 13) % 360 - 180 AS DOUBLE) AS lon,
                      CAST((event_id * 7) % 140 - 70 AS DOUBLE) AS lat
               FROM events),
    s AS (SELECT user_id, lon, lat,
                 LAG(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon,
                 LAG(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat
          FROM p),
    st AS (SELECT user_id, lon, lat, plon, plat,
                  CAST(FLOOR(ST_DistanceSphere(ST_Point(plon, plat),
                                               ST_Point(lon, lat)) * 1000.0D) AS BIGINT) AS d_mm
           FROM s WHERE plon IS NOT NULL)
    SELECT user_id, COUNT(*) AS n_steps,
           SUM(d_mm) AS path_mm, MAX(d_mm) AS max_step_mm,
           SUM(CASE WHEN lon > plon THEN 1 ELSE 0 END) AS n_east,
           SUM(CASE WHEN lat > plat THEN 1 ELSE 0 END) AS n_north
    FROM st GROUP BY user_id ORDER BY user_id"""

  private val g70Duck = """
    WITH p AS (SELECT user_id, ts, event_id,
                      ((event_id * 13) % 360 - 180)::DOUBLE AS lon,
                      ((event_id * 7) % 140 - 70)::DOUBLE AS lat
               FROM events),
    s AS (SELECT user_id, lon, lat,
                 LAG(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon,
                 LAG(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat
          FROM p),
    st AS (SELECT user_id, lon, lat, plon, plat,
                  FLOOR(2 * 6371008.8 * asin(least(1.0, sqrt(
                    pow(sin(radians(lat - plat) / 2), 2) +
                    cos(radians(plat)) * cos(radians(lat)) *
                    pow(sin(radians(lon - plon) / 2), 2)))) * 1000.0)::BIGINT AS d_mm
           FROM s WHERE plon IS NOT NULL)
    SELECT user_id, COUNT(*)::BIGINT AS n_steps,
           SUM(d_mm)::BIGINT AS path_mm, MAX(d_mm)::BIGINT AS max_step_mm,
           SUM(CASE WHEN lon > plon THEN 1 ELSE 0 END)::BIGINT AS n_east,
           SUM(CASE WHEN lat > plat THEN 1 ELSE 0 END)::BIGINT AS n_north
    FROM st GROUP BY user_id ORDER BY user_id"""

  /** Late-data partition backfill (a10): the batch half of the lateness
    * contract s12 pins — the streaming side DROPS rows behind the
    * watermark to bound state, and the backfill job repairs the serving
    * table by recomputing ONLY the partitions the late wave touched (the
    * Hive/Delta dynamic-partition-overwrite pattern; q22's mergeable-agg
    * MERGE is the other repair mechanism, this is the partition-scoped
    * rescan for when aggregates are NOT mergeable or corrections must be
    * exact). Late rows (a second wave of 20 events aimed at the last 10
    * of 40 minutes) derive the affected-window set, untouched windows
    * pass through from the serving table, affected windows recompute from
    * the unioned source — and the result is pinned row-for-row equal to a
    * full recompute by checksum equality emitted as a boolean. The
    * affected-set derivation and both joins are window-keyed (a handful
    * of keys at any scale); only the affected partitions' source rescan
    * grows with the late volume, not the table. */
  private val a10Spark = """
    WITH ontime AS (SELECT /*+ REPARTITION({{P}}) */ id,
                           1700000000 + CAST(id % 40 AS BIGINT) * 60 AS es,
                           CASE WHEN id % 3 = 0 THEN 'click' WHEN id % 3 = 1 THEN 'view'
                                ELSE 'buy' END AS et,
                           CAST(id % 89 AS BIGINT) AS v
                    FROM range(0, 100)),
    late AS (SELECT id, 1700000000 + CAST(30 + id % 10 AS BIGINT) * 60 AS es,
                    CASE WHEN id % 3 = 0 THEN 'click' WHEN id % 3 = 1 THEN 'view'
                         ELSE 'buy' END AS et,
                    CAST(id % 89 AS BIGINT) AS v
             FROM range(100, 120)),
    serving AS (SELECT (es DIV 300) * 300 AS win, et,
                       COUNT(*) AS n, SUM(v) AS tot
                FROM ontime GROUP BY 1, 2),
    affected AS (SELECT DISTINCT (es DIV 300) * 300 AS win FROM late),
    recomputed AS (SELECT (es DIV 300) * 300 AS win, et, COUNT(*) AS n, SUM(v) AS tot
                   FROM (SELECT es, et, v FROM ontime
                         UNION ALL SELECT es, et, v FROM late) u
                   WHERE (es DIV 300) * 300 IN (SELECT win FROM affected)
                   GROUP BY 1, 2),
    merged AS (SELECT s.win, s.et, s.n, s.tot FROM serving s
               WHERE s.win NOT IN (SELECT win FROM affected)
               UNION ALL SELECT win, et, n, tot FROM recomputed),
    full_rc AS (SELECT (es DIV 300) * 300 AS win, et, COUNT(*) AS n, SUM(v) AS tot
                FROM (SELECT es, et, v FROM ontime
                      UNION ALL SELECT es, et, v FROM late) u
                GROUP BY 1, 2)
    SELECT (SELECT COUNT(*) FROM affected) AS n_affected_windows,
           COUNT(*) AS n_rows,
           SUM(m.n) AS total_events, SUM(m.tot) AS value_mass,
           SUM(m.win * m.n) = (SELECT SUM(f.win * f.n) FROM full_rc f) AND
           SUM(m.tot * 31 + m.n) = (SELECT SUM(f.tot * 31 + f.n) FROM full_rc f) AND
           COUNT(*) = (SELECT COUNT(*) FROM full_rc) AS matches_full_recompute
    FROM merged m"""

  private val a10Duck = """
    WITH ontime AS (SELECT i AS id, 1700000000 + (i % 40) * 60 AS es,
                           CASE WHEN i % 3 = 0 THEN 'click' WHEN i % 3 = 1 THEN 'view'
                                ELSE 'buy' END AS et,
                           i % 89 AS v
                    FROM range(0, 100) t(i)),
    late AS (SELECT i AS id, 1700000000 + (30 + i % 10) * 60 AS es,
                    CASE WHEN i % 3 = 0 THEN 'click' WHEN i % 3 = 1 THEN 'view'
                         ELSE 'buy' END AS et,
                    i % 89 AS v
             FROM range(100, 120) t(i)),
    affected AS (SELECT DISTINCT (es // 300) * 300 AS win FROM late),
    full_rc AS (SELECT (es // 300) * 300 AS win, et, COUNT(*) AS n, SUM(v) AS tot
                FROM (SELECT es, et, v FROM ontime
                      UNION ALL SELECT es, et, v FROM late) u
                GROUP BY 1, 2)
    SELECT (SELECT COUNT(*) FROM affected)::BIGINT AS n_affected_windows,
           COUNT(*)::BIGINT AS n_rows,
           SUM(n)::BIGINT AS total_events, SUM(tot)::BIGINT AS value_mass,
           TRUE AS matches_full_recompute
    FROM full_rc"""

  /** Session-scoped attribution (a09): a click attributes to the most
    * recent view INSIDE ITS OWN SESSION — the marketing-attribution rule
    * the unscoped as-of joins (a01) overcount, since a view from hours
    * ago shouldn't claim a click in a fresh session. Built entirely
    * from stacked windows over ONE user-keyed shuffle: the s01
    * gaps-and-islands cumsum assigns sessions, then a LAST_VALUE …
    * IGNORE NULLS carry (the q15 machinery) propagates the latest view
    * timestamp WITHIN the (user, session) partition — no join anywhere.
    * Unattributed clicks (no prior view in session) pin the scoping;
    * lag sums pin WHICH view won. */
  private val a09Spark = """
    WITH e AS (SELECT /*+ REPARTITION({{P}}) */ user_id, ts, event_id, event_type,
                      unix_micros(ts) AS tus
               FROM events WHERE event_type IN ('view', 'click')),
    d AS (SELECT *, CASE WHEN LAG(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL
                           OR tus - LAG(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) > 14400000000
                         THEN 1 ELSE 0 END AS is_new
          FROM e),
    s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM d),
    c AS (SELECT user_id, sid, tus, event_type,
                 LAST_VALUE(CASE WHEN event_type = 'view' THEN tus END) IGNORE NULLS
                   OVER (PARTITION BY user_id, sid ORDER BY tus, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_tus
          FROM s)
    SELECT user_id, COUNT(*) AS n_clicks,
           COUNT(last_view_tus) AS n_attributed,
           COALESCE(SUM(tus - last_view_tus), CAST(0 AS BIGINT)) AS lag_us_sum,
           COUNT(DISTINCT sid) AS n_sessions_with_clicks
    FROM c WHERE event_type = 'click'
    GROUP BY user_id ORDER BY user_id"""

  private val a09Duck = """
    WITH e AS (SELECT user_id, ts, event_id, event_type, epoch_us(ts) AS tus
               FROM events WHERE event_type IN ('view', 'click')),
    d AS (SELECT *, CASE WHEN LAG(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL
                           OR tus - LAG(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) > 14400000000
                         THEN 1 ELSE 0 END AS is_new
          FROM e),
    s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM d),
    c AS (SELECT user_id, sid, tus, event_type,
                 LAST_VALUE(CASE WHEN event_type = 'view' THEN tus END IGNORE NULLS)
                   OVER (PARTITION BY user_id, sid ORDER BY tus, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_tus
          FROM s)
    SELECT user_id, COUNT(*)::BIGINT AS n_clicks,
           COUNT(last_view_tus)::BIGINT AS n_attributed,
           COALESCE(SUM(tus - last_view_tus), 0)::BIGINT AS lag_us_sum,
           COUNT(DISTINCT sid)::BIGINT AS n_sessions_with_clicks
    FROM c WHERE event_type = 'click'
    GROUP BY user_id ORDER BY user_id"""

  /** Dataset normalization constants (m16): the corpus-wide channel
    * mean/std every vision training run hard-codes (the ImageNet
    * 0.485/0.229 numbers) — accumulated as EXACT integer (n, Σv, Σv²)
    * per image through the real codec, merged by plain BIGINT addition
    * (trivially partial-aggregable at 100 TB), with the only floating
    * point two final expressions over the three exact totals. The
    * oracle regenerates the accumulators from the closed-form raster,
    * so a decode or accumulation regression shifts integers, not
    * rounded tails. */
  private val m16Spark = """
    WITH st AS (SELECT /*+ REPARTITION({{P}}) */
                       graft_media_pixstats(graft_media_png(doc_id)) AS s
                FROM documents)
    SELECT COUNT(*) AS n_images, SUM(s.n) AS n_px,
           SUM(s.sum) AS sum_v, SUM(s.sum_sq) AS sum_sq,
           ROUND(CAST(SUM(s.sum) AS DOUBLE) / SUM(s.n) / 255.0D, 6) AS mean_norm,
           ROUND(SQRT(CAST(SUM(s.sum_sq) AS DOUBLE) / SUM(s.n)
                      - CAST(SUM(s.sum) AS DOUBLE) / SUM(s.n)
                        * (CAST(SUM(s.sum) AS DOUBLE) / SUM(s.n))) / 255.0D, 6) AS std_norm
    FROM st"""

  private val m16Duck = """
    WITH m AS (SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id // 16) % 16 AS h
               FROM documents),
    px AS (SELECT doc_id, (doc_id * 31 + i * 7) % 256 AS v
           FROM m CROSS JOIN LATERAL (SELECT unnest(range(w * h)) AS i) t),
    st AS (SELECT doc_id, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS sq
           FROM px GROUP BY doc_id)
    SELECT COUNT(*)::BIGINT AS n_images, SUM(n)::BIGINT AS n_px,
           SUM(s)::BIGINT AS sum_v, SUM(sq)::BIGINT AS sum_sq,
           ROUND(CAST(SUM(s) AS DOUBLE) / SUM(n) / 255.0, 6) AS mean_norm,
           ROUND(SQRT(CAST(SUM(sq) AS DOUBLE) / SUM(n)
                      - CAST(SUM(s) AS DOUBLE) / SUM(n)
                        * (CAST(SUM(s) AS DOUBLE) / SUM(n))) / 255.0, 6) AS std_norm
    FROM st"""

  /** Correlated LATERAL subquery (q23): each customer's two most
    * expensive orders via `JOIN LATERAL (… ORDER BY … LIMIT 2)` — the
    * modern SQL face of per-row top-k. Catalyst DECORRELATES the
    * lateral into a ranked window join, so the plan is the same
    * shuffle-and-rank as q03, not a per-row re-execution — which is the
    * whole reason the surface is usable at scale. DECIMAL totals keep
    * the mass exact. */
  private val q23Spark = """
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_top,
           CAST(COALESCE(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS top_mass,
           COALESCE(MAX(o.o_orderkey), CAST(0 AS BIGINT)) AS max_key
    FROM customer c
    JOIN LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                  WHERE o_custkey = c.c_custkey
                  ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey
                  LIMIT 2) o
    WHERE c.c_custkey % 3 = 0
    GROUP BY c.c_custkey ORDER BY c.c_custkey"""

  private val q23Duck = """
    SELECT c.c_custkey,
           COUNT(o.o_orderkey)::BIGINT AS n_top,
           COALESCE(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2), 0)::DOUBLE AS top_mass,
           COALESCE(MAX(o.o_orderkey), 0)::BIGINT AS max_key
    FROM customer c
    JOIN LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                  WHERE o_custkey = c.c_custkey
                  ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey
                  LIMIT 2) o ON true
    WHERE c.c_custkey % 3 = 0
    GROUP BY c.c_custkey ORDER BY c.c_custkey"""

  /** Detection-style bbox IoU matching (g75): two "detectors" emit
    * integer boxes (B's are A's shifted by 1 in both axes); candidate
    * pairs share a coarse grid cell (map-side key, never all-pairs —
    * the g03 discipline applied to eval tooling), and matches confirm at
    * exact IoU > 0.3. Intersection and union areas of integer boxes are
    * exact integers, so IoU is ONE division of identical ints —
    * bit-identical cross-engine, and the oracle replays the overlap
    * arithmetic in closed form. The mAP-prep shape every detection eval
    * runs, as a relational pipeline. */
  private val g75Spark = """
    WITH a AS (SELECT /*+ REPARTITION({{P}}) */ p_partkey AS id,
                      CAST(p_partkey % 50 AS INT) * 3 AS x,
                      CAST((p_partkey * 3) % 40 AS INT) * 3 AS y,
                      4 + CAST(p_partkey % 5 AS INT) AS w,
                      3 + CAST(p_partkey % 4 AS INT) AS h
               FROM part),
    b AS (SELECT id, x + 1 AS x, y + 1 AS y, w, h FROM a),
    ga AS (SELECT id, x, y, w, h, gx, gy FROM a
           LATERAL VIEW explode(sequence(x DIV 30, (x + w) DIV 30)) tx AS gx
           LATERAL VIEW explode(sequence(y DIV 30, (y + h) DIV 30)) ty AS gy),
    gb AS (SELECT id, x, y, w, h, gx, gy FROM b
           LATERAL VIEW explode(sequence(x DIV 30, (x + w) DIV 30)) tx AS gx
           LATERAL VIEW explode(sequence(y DIV 30, (y + h) DIV 30)) ty AS gy),
    cand AS (SELECT DISTINCT ga.id AS ida, gb.id AS idb,
                    GREATEST(0, LEAST(ga.x + ga.w, gb.x + gb.w) - GREATEST(ga.x, gb.x)) *
                    GREATEST(0, LEAST(ga.y + ga.h, gb.y + gb.h) - GREATEST(ga.y, gb.y)) AS inter,
                    ga.w * ga.h + gb.w * gb.h AS sum_area
             FROM ga JOIN gb ON gb.gx = ga.gx AND gb.gy = ga.gy),
    iou AS (SELECT ida, idb, inter,
                   CAST(inter AS DOUBLE) / (sum_area - inter) AS iou
            FROM cand WHERE inter > 0)
    SELECT COUNT(*) AS n_overlapping,
           SUM(CASE WHEN iou > 0.3D THEN 1 ELSE 0 END) AS n_matched,
           SUM(CASE WHEN ida = idb THEN 1 ELSE 0 END) AS n_self_pairs,
           SUM(CAST(inter AS BIGINT)) AS inter_mass,
           ROUND(SUM(CAST(FLOOR(iou * 1000000.0D) AS BIGINT)) / 1000000.0D, 6) AS iou_mass
    FROM iou"""

  private val g75Duck = """
    WITH a AS (SELECT p_partkey AS id,
                      (p_partkey % 50)::INT * 3 AS x,
                      ((p_partkey * 3) % 40)::INT * 3 AS y,
                      4 + (p_partkey % 5)::INT AS w,
                      3 + (p_partkey % 4)::INT AS h
               FROM part),
    b AS (SELECT id, x + 1 AS x, y + 1 AS y, w, h FROM a),
    ga AS (SELECT id, x, y, w, h, gx, gy FROM a,
           LATERAL (SELECT unnest(range(x // 30, (x + w) // 30 + 1)) AS gx) tx,
           LATERAL (SELECT unnest(range(y // 30, (y + h) // 30 + 1)) AS gy) ty),
    gb AS (SELECT id, x, y, w, h, gx, gy FROM b,
           LATERAL (SELECT unnest(range(x // 30, (x + w) // 30 + 1)) AS gx) tx,
           LATERAL (SELECT unnest(range(y // 30, (y + h) // 30 + 1)) AS gy) ty),
    cand AS (SELECT DISTINCT ga.id AS ida, gb.id AS idb,
                    GREATEST(0, LEAST(ga.x + ga.w, gb.x + gb.w) - GREATEST(ga.x, gb.x)) *
                    GREATEST(0, LEAST(ga.y + ga.h, gb.y + gb.h) - GREATEST(ga.y, gb.y)) AS inter,
                    ga.w * ga.h + gb.w * gb.h AS sum_area
             FROM ga JOIN gb ON gb.gx = ga.gx AND gb.gy = ga.gy),
    iou AS (SELECT ida, idb, inter,
                   CAST(inter AS DOUBLE) / (sum_area - inter) AS iou
            FROM cand WHERE inter > 0)
    SELECT COUNT(*)::BIGINT AS n_overlapping,
           SUM(CASE WHEN iou > 0.3 THEN 1 ELSE 0 END)::BIGINT AS n_matched,
           SUM(CASE WHEN ida = idb THEN 1 ELSE 0 END)::BIGINT AS n_self_pairs,
           SUM(inter)::BIGINT AS inter_mass,
           ROUND(SUM(FLOOR(iou * 1000000.0)::BIGINT) / 1000000.0, 6) AS iou_mass
    FROM iou"""

  /** 1004-vertex "comb" polygon for g76: base slab y∈[0,1] over x∈[0,500]
    * plus a width-1 tooth of height h(c) = 1 + (c·7 mod 13) above every
    * EVEN column c. Rectilinear with integer vertices, so point-in-polygon
    * for half-integer-offset probes has an exact closed form the oracle
    * replays: inside ⟺ j = 0 (slab) OR (i even AND j ≤ h(i)) (tooth). */
  private val g76Poly: String = {
    val sb = new StringBuilder("POLYGON ((0 0, 500 0, 500 1")
    var c = 498
    while (c >= 0) {
      val h = 1 + (c * 7) % 13
      sb ++= s", ${c + 1} 1, ${c + 1} ${1 + h}, $c ${1 + h}, $c 1"
      c -= 2
    }
    sb ++= ", 0 0))"
    sb.toString
  }

  /** Scalar-predicate scan against a COMPLEX LITERAL polygon (g76): the
    * `WHERE ST_pred(geom, lit(1k-vertex polygon))` shape — Catalyst
    * constant-folds the literal to one WKB, and the predicate family's
    * per-thread prepared-geometry cache (GeomOps.cachedRead/pred) promotes
    * the repeating operand to a JTS PreparedGeometry, so the scan runs the
    * indexed point-in-area path instead of re-parsing + unprepared relate
    * per row (a 10-100× constant factor at a 100-TB scan; the reference
    * pre-converts scalar kernel operands once per array call). Probes sit
    * at half-integer offsets — never on a boundary — so JTS and the
    * oracle's closed-form containment cannot disagree. ST_Contains puts
    * the hot literal on the LEFT, ST_Intersects on the RIGHT: both
    * prepared dispatch directions are exercised and must agree. */
  private val g76Spark = s"""
    WITH pts AS (SELECT /*+ REPARTITION({{P}}) */ CAST(l_orderkey % 500 AS INT) AS i,
                        CAST(l_partkey % 16 AS INT) AS j
                 FROM lineitem),
    t AS (SELECT i, j,
                 ST_Contains(ST_GeomFromText('$g76Poly'),
                             ST_Point(i + 0.5D, j + 0.5D)) AS c,
                 ST_Intersects(ST_Point(i + 0.5D, j + 0.5D),
                               ST_GeomFromText('$g76Poly')) AS x
          FROM pts)
    SELECT COUNT(*) AS n_rows,
           SUM(CASE WHEN c THEN 1 ELSE 0 END) AS n_contains,
           SUM(CASE WHEN x THEN 1 ELSE 0 END) AS n_intersects,
           SUM(CASE WHEN c THEN CAST(i AS BIGINT) * 16 + j ELSE 0 END) AS checksum
    FROM t"""

  private val g76Duck = """
    WITH pts AS (SELECT (l_orderkey % 500)::INT AS i, (l_partkey % 16)::INT AS j
                 FROM lineitem),
    t AS (SELECT i, j,
                 (j = 0) OR (i % 2 = 0 AND j <= 1 + (i * 7) % 13) AS c
          FROM pts)
    SELECT COUNT(*)::BIGINT AS n_rows,
           SUM(CASE WHEN c THEN 1 ELSE 0 END)::BIGINT AS n_contains,
           SUM(CASE WHEN c THEN 1 ELSE 0 END)::BIGINT AS n_intersects,
           SUM(CASE WHEN c THEN i::BIGINT * 16 + j ELSE 0 END)::BIGINT AS checksum
    FROM t"""

  /** Geodesic polygon perimeter (g77): `ST_PerimeterSpheroid` — the last
    * reference compute-API function without a named equivalent
    * (geodesic_perimeter, _compute.pyi:272). Donut polygons near the
    * equator: perimeter = exterior ring + hole ring (total boundary
    * walked, holes ADD — the PostGIS ST_Perimeter convention). The oracle
    * replays the Andoyer segment sums in closed form: each ring is a
    * rectangle in degrees, so its perimeter decomposes into two
    * meridian segments (same length at any longitude) and two parallel
    * segments at the two latitudes; ROUND(…, 3) mm-level agreement
    * absorbs cross-engine libm noise. The Karney-exact variant
    * (ST_PerimeterGeodesic) is pinned separately in GeodesySpec against
    * geographiclib values; here the consistency gate is
    * karney − andoyer < 40 m on ~100 km rings (Andoyer's documented
    * error band), computed per row and max-aggregated. */
  private val g77Spark = """
    WITH poly AS (SELECT /*+ REPARTITION({{P}}) */ s_suppkey AS k,
                         CAST(s_suppkey % 30 AS DOUBLE) AS lon0,
                         CAST(s_suppkey % 20 - 10 AS DOUBLE) AS lat0,
                         0.2D + CAST(s_suppkey % 5 AS DOUBLE) * 0.1D AS w,
                         0.3D + CAST(s_suppkey % 3 AS DOUBLE) * 0.1D AS h
                  FROM supplier),
    g AS (SELECT k,
                 ST_MakePolygon(
                   ST_LineFromMultiPoint(ST_Collect(array(
                     ST_Point(lon0, lat0), ST_Point(lon0 + w, lat0),
                     ST_Point(lon0 + w, lat0 + h), ST_Point(lon0, lat0 + h),
                     ST_Point(lon0, lat0)))),
                   array(ST_LineFromMultiPoint(ST_Collect(array(
                     ST_Point(lon0 + w * 0.25D, lat0 + h * 0.25D),
                     ST_Point(lon0 + w * 0.75D, lat0 + h * 0.25D),
                     ST_Point(lon0 + w * 0.75D, lat0 + h * 0.75D),
                     ST_Point(lon0 + w * 0.25D, lat0 + h * 0.75D),
                     ST_Point(lon0 + w * 0.25D, lat0 + h * 0.25D)))))) AS geom
          FROM poly)
    SELECT k, ROUND(ST_PerimeterSpheroid(geom), 3) AS perim_m,
           CAST(FLOOR(ST_PerimeterGeodesic(geom) - ST_PerimeterSpheroid(geom)) AS BIGINT) < 40 AS karney_close
    FROM g ORDER BY k"""

  // Andoyer–Lambert replayed in closed form (the engine's exact IEEE step
  // sequence: Geodesy.andoyerMeters — sin/cos/atan/sqrt over WGS84
  // a=6378137, f=1/298.257223563). A meridian/parallel rectangle's
  // perimeter is 2·(meridian segment) + parallel(lat0) + parallel(lat1),
  // for shell and hole alike; hole spans are w/2, h/2 of the shell's.
  private val g77Duck = """
    WITH poly AS (SELECT s_suppkey AS k,
                         (s_suppkey % 30)::DOUBLE AS lon0,
                         (s_suppkey % 20 - 10)::DOUBLE AS lat0,
                         0.2 + (s_suppkey % 5)::DOUBLE * 0.1 AS w,
                         0.3 + (s_suppkey % 3)::DOUBLE * 0.1 AS h
                  FROM supplier),
    seg AS (SELECT k, lon0, lat0, w, h FROM poly),
    f AS (SELECT 1.0 / 298.257223563 AS fl, 6378137.0 AS a),
    -- andoyer(lon1,lat1,lon2,lat2) expanded inline via a macro-style CTE:
    -- DuckDB has no scalar functions here, so each needed segment is one
    -- row in a lateral list and the formula is applied once, uniformly
    pairs AS (
      SELECT k, seg_id, lon1, lat1, lon2, lat2, mult FROM seg, LATERAL (
        SELECT * FROM (VALUES
          -- shell: two meridians (same length), bottom parallel, top parallel
          (1, lon0, lat0, lon0, lat0 + h, 2.0),
          (2, lon0, lat0, lon0 + w, lat0, 1.0),
          (3, lon0, lat0 + h, lon0 + w, lat0 + h, 1.0),
          -- hole: two meridians of span h/2, two parallels of span w/2
          (4, lon0, lat0 + h * 0.25, lon0, lat0 + h * 0.75, 2.0),
          (5, lon0 + w * 0.25, lat0 + h * 0.25, lon0 + w * 0.75, lat0 + h * 0.25, 1.0),
          (6, lon0 + w * 0.25, lat0 + h * 0.75, lon0 + w * 0.75, lat0 + h * 0.75, 1.0)
        ) v(seg_id, lon1, lat1, lon2, lat2, mult)) s),
    d AS (SELECT k, mult,
                 radians(lat1) AS f1, radians(lat2) AS f2,
                 (radians(lat1) + radians(lat2)) / 2.0 AS fm,
                 (radians(lat1) - radians(lat2)) / 2.0 AS gm,
                 (radians(lon1) - radians(lon2)) / 2.0 AS lm
          FROM pairs),
    sc AS (SELECT k, mult,
                  sin(gm)*sin(gm)*cos(lm)*cos(lm) + cos(fm)*cos(fm)*sin(lm)*sin(lm) AS s,
                  cos(gm)*cos(gm)*cos(lm)*cos(lm) + sin(fm)*sin(fm)*sin(lm)*sin(lm) AS c,
                  fm, gm
           FROM d),
    res AS (SELECT k, mult,
                   CASE WHEN s = 0 OR c = 0 THEN 0.0 ELSE
                     2.0 * atan(sqrt(s / c)) * 6378137.0 *
                     (1.0 + (1.0 / 298.257223563) *
                       ((3.0 * (sqrt(s * c) / atan(sqrt(s / c))) - 1.0) / (2.0 * c)
                          * sin(fm)*sin(fm)*cos(gm)*cos(gm)
                        - (3.0 * (sqrt(s * c) / atan(sqrt(s / c))) + 1.0) / (2.0 * s)
                          * cos(fm)*cos(fm)*sin(gm)*sin(gm)))
                   END AS meters
            FROM sc)
    SELECT k::BIGINT AS k, ROUND(SUM(meters * mult), 3) AS perim_m,
           TRUE AS karney_close
    FROM res GROUP BY k ORDER BY k"""

  /** Dimension + boundary semantics (g78): `ST_Dimension` (topological
    * dim: 0/1/2, collections take the max) and `ST_Boundary` (polygon →
    * rings whose length is the perimeter, line → its 2 endpoints, point →
    * EMPTY) — all closed-form on integer envelopes so the oracle replays
    * exactly. Map-side kernels, bounded rows. */
  private val g78Spark = """
    SELECT n_nationkey AS k,
           ST_Dimension(ST_Point(CAST(n_nationkey AS DOUBLE), 0.0)) AS d_pt,
           ST_Dimension(ln) AS d_ln,
           ST_Dimension(pg) AS d_pg,
           ST_Dimension(ST_Collect(array(ln, pg))) AS d_mix,
           ST_NPoints(ST_Boundary(ln)) AS b_ln_pts,
           CAST(ST_Length(ST_Boundary(pg)) AS BIGINT) AS b_pg_len,
           CASE WHEN ST_IsEmpty(ST_Boundary(ST_Point(0.0, 0.0))) THEN 1 ELSE 0 END AS b_pt_empty
    FROM (SELECT n_nationkey,
                 ST_MakeLine(ST_Point(0.0, 0.0),
                             ST_Point(CAST(3 + n_nationkey % 5 AS DOUBLE), 0.0)) AS ln,
                 ST_MakeEnvelope(0.0, 0.0, CAST(2 + n_nationkey % 7 AS DOUBLE),
                                 CAST(1 + n_nationkey % 4 AS DOUBLE)) AS pg
          FROM nation) t
    ORDER BY k"""

  private val g78Duck = """
    SELECT n_nationkey AS k,
           0 AS d_pt, 1 AS d_ln, 2 AS d_pg, 2 AS d_mix,
           2 AS b_ln_pts,
           (2 * ((2 + n_nationkey % 7) + (1 + n_nationkey % 4)))::BIGINT AS b_pg_len,
           1 AS b_pt_empty
    FROM nation ORDER BY k"""

  /** Voronoi + Delaunay tessellation (g79): `ST_VoronoiPolygons` (cells
    * clipped to the site bbox — an exact PARTITION of it) and
    * `ST_DelaunayTriangles` over per-row integer point grids. The oracle
    * is pure combinatorics: a clipped Voronoi of n sites has n cells
    * summing exactly to the clip-box area, and a Delaunay of an
    * nx×ny unit grid has 2(nx−1)(ny−1) triangles covering the hull —
    * REGARDLESS of which diagonal each cocircular quad picks, so the
    * count is stable where the triangle geometry deliberately isn't.
    * Map-side JTS kernels, bounded per-row site sets. */
  private val g79Spark = """
    WITH cfg AS (SELECT /*+ REPARTITION({{P}}) */ s_suppkey AS k,
                        3 + CAST(s_suppkey % 3 AS INT) AS nx,
                        3 + CAST(s_suppkey % 2 AS INT) AS ny
                 FROM supplier),
    sites AS (SELECT k, nx, ny,
                     ST_Collect(flatten(transform(sequence(0, nx - 1), x ->
                       transform(sequence(0, ny - 1), y ->
                         ST_Point(CAST(x AS DOUBLE), CAST(y AS DOUBLE)))))) AS mp
              FROM cfg),
    v AS (SELECT k, nx, ny,
                 ST_VoronoiPolygons(mp,
                   ST_MakeEnvelope(0.0, 0.0, CAST(nx - 1 AS DOUBLE), CAST(ny - 1 AS DOUBLE))) AS vor,
                 ST_DelaunayTriangles(mp) AS tri
          FROM sites)
    SELECT k, ST_NumGeometries(vor) AS n_cells,
           CAST(ROUND(ST_Area(vor), 0) AS BIGINT) AS vor_area,
           ST_NumGeometries(tri) AS n_tris,
           CAST(ROUND(ST_Area(tri), 0) AS BIGINT) AS tri_area
    FROM v ORDER BY k"""

  private val g79Duck = """
    SELECT s_suppkey AS k,
           ((3 + s_suppkey % 3) * (3 + s_suppkey % 2))::INT AS n_cells,
           ((2 + s_suppkey % 3) * (2 + s_suppkey % 2))::BIGINT AS vor_area,
           (2 * (2 + s_suppkey % 3) * (2 + s_suppkey % 2))::INT AS n_tris,
           ((2 + s_suppkey % 3) * (2 + s_suppkey % 2))::BIGINT AS tri_area
    FROM supplier ORDER BY k"""

  /** Polygonize noded linework (g80): `ST_Polygonize` — the face-building
    * half of the planar-topology pipeline g72's noding starts: an
    * nx×ny integer grid of horizontal+vertical lines, noded through
    * ST_Union (overlay union nodes crossing linework), polygonizes into
    * exactly (nx−1)(ny−1) unit faces whose total area is the grid
    * rectangle — both pure combinatorics, so the oracle is closed-form
    * while the kernel runs the real JTS Polygonizer. */
  private val g80Spark = """
    WITH cfg AS (SELECT /*+ REPARTITION({{P}}) */ n_nationkey AS k,
                        3 + CAST(n_nationkey % 3 AS INT) AS nx,
                        3 + CAST(n_nationkey % 2 AS INT) AS ny
                 FROM nation),
    lines AS (SELECT k, nx, ny,
                     ST_Collect(concat(
                       transform(sequence(0, ny - 1), y ->
                         ST_MakeLine(ST_Point(0.0, CAST(y AS DOUBLE)),
                                     ST_Point(CAST(nx - 1 AS DOUBLE), CAST(y AS DOUBLE)))),
                       transform(sequence(0, nx - 1), x ->
                         ST_MakeLine(ST_Point(CAST(x AS DOUBLE), 0.0),
                                     ST_Point(CAST(x AS DOUBLE), CAST(ny - 1 AS DOUBLE)))))) AS grid
              FROM cfg),
    f AS (SELECT k, nx, ny, ST_Polygonize(ST_Union(grid)) AS faces FROM lines)
    SELECT k, ST_NumGeometries(faces) AS n_faces,
           CAST(ROUND(ST_Area(faces), 0) AS BIGINT) AS total_area
    FROM f ORDER BY k"""

  private val g80Duck = """
    SELECT n_nationkey AS k,
           ((2 + n_nationkey % 3) * (2 + n_nationkey % 2))::INT AS n_faces,
           ((2 + n_nationkey % 3) * (2 + n_nationkey % 2))::BIGINT AS total_area
    FROM nation ORDER BY k"""

  /** Ring-orientation normalization (g74): `ST_ForcePolygonCCW` — the
    * winding-convention fix every OGC export / tessellation pipeline
    * runs (GeoJSON RFC 7946 mandates CCW shells; flipped rings render
    * as holes in shaders). Inputs alternate winding by construction
    * (odd keys reverse the triangle); after forcing, EVERY signed area
    * must come out positive with magnitude |a·b|/2 exactly (integer
    * shoelace), the flip count pins that the kernel only touched the
    * wrong-winding half, and donut rows check holes orient OPPOSITE to
    * shells (signed area = outer − hole exactly). Map-side kernels,
    * bounded agg. */
  private val g74Spark = """
    WITH tri AS (SELECT /*+ REPARTITION({{P}}) */ p_partkey AS k,
                        CAST(2 + p_partkey % 7 AS DOUBLE) AS a,
                        CAST(1 + p_partkey % 5 AS DOUBLE) AS b,
                        p_partkey % 2 AS flip
                 FROM part),
    g AS (SELECT k, a, b, flip,
                 CASE WHEN flip = 0
                      THEN ST_GeomFromText(CONCAT('POLYGON ((0 0, ', CAST(a AS STRING), ' 0, 0 ', CAST(b AS STRING), ', 0 0))'))
                      ELSE ST_GeomFromText(CONCAT('POLYGON ((0 0, 0 ', CAST(b AS STRING), ', ', CAST(a AS STRING), ' 0, 0 0))'))
                 END AS poly
          FROM tri),
    f AS (SELECT k, a, b, flip,
                 ST_SignedArea(poly) AS sa_before,
                 ST_SignedArea(ST_ForcePolygonCCW(poly)) AS sa_ccw,
                 ST_SignedArea(ST_ForcePolygonCW(poly)) AS sa_cw
          FROM g)
    SELECT COUNT(*) AS n,
           SUM(CASE WHEN sa_before < 0 THEN 1 ELSE 0 END) AS n_was_cw,
           SUM(CASE WHEN sa_ccw = a * b / 2.0D THEN 1 ELSE 0 END) AS n_ccw_exact,
           SUM(CASE WHEN sa_cw = -(a * b / 2.0D) THEN 1 ELSE 0 END) AS n_cw_exact,
           SUM(CAST(sa_ccw * 2.0D AS BIGINT)) AS twice_area_sum
    FROM f"""

  private val g74Duck = """
    WITH tri AS (SELECT p_partkey AS k,
                        (2 + p_partkey % 7)::DOUBLE AS a,
                        (1 + p_partkey % 5)::DOUBLE AS b,
                        p_partkey % 2 AS flip
                 FROM part)
    SELECT COUNT(*)::BIGINT AS n,
           SUM(CASE WHEN flip = 1 THEN 1 ELSE 0 END)::BIGINT AS n_was_cw,
           COUNT(*)::BIGINT AS n_ccw_exact,
           COUNT(*)::BIGINT AS n_cw_exact,
           SUM((a * b)::BIGINT)::BIGINT AS twice_area_sum
    FROM tri"""

  /** Span-corruption data prep (t44): the T5/UL2 denoising objective's
    * bookkeeping — tokens group into 3-token blocks, a content-keyed
    * hash coin masks ~1/5 of blocks (deterministic per (doc, block):
    * retry-stable, no RNG, the t17 coin), and each masked block
    * contributes one sentinel to the encoder input and its tokens + a
    * sentinel to the decoder target. The report pins the exact
    * input/target length accounting per source — the numbers that size
    * a training batch: input = kept + sentinels, target = masked +
    * sentinels. Everything integer and map-side; two keyed aggregates
    * (per-doc fold, per-source report). */
  private val t44Spark = """
    WITH tok AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, source, pos, w,
                        CAST(pos AS INT) DIV 3 AS blk
                 FROM documents LATERAL VIEW posexplode(split(text, ' ')) t AS pos, w),
    mk AS (SELECT doc_id, source, pos, blk,
                  CASE WHEN graft_hash(CAST(doc_id AS STRING) || ':' || CAST(blk AS STRING)) % 5 = 0
                       THEN 1 ELSE 0 END AS masked
           FROM tok),
    per_doc AS (SELECT doc_id, source, COUNT(*) AS n_tok,
                       SUM(masked) AS n_masked,
                       COUNT(DISTINCT CASE WHEN masked = 1 THEN blk END) AS n_spans
                FROM mk GROUP BY doc_id, source)
    SELECT source, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens,
           SUM(n_masked) AS n_masked, SUM(n_spans) AS n_spans,
           SUM(n_tok - n_masked + n_spans) AS input_len,
           SUM(n_masked + n_spans) AS target_len,
           ROUND(CAST(SUM(n_masked) AS DOUBLE) / SUM(n_tok), 6) AS corruption_rate
    FROM per_doc GROUP BY source ORDER BY source"""

  private val t44Duck = """
    WITH tok AS (SELECT doc_id, source, pos - 1 AS pos, (pos - 1) // 3 AS blk
                 FROM (SELECT doc_id, source,
                              generate_subscripts(string_split(text, ' '), 1) AS pos
                       FROM documents) t),
    mk AS (SELECT doc_id, source, pos, blk,
                  CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':' || blk::VARCHAR), 1, 8))::BIGINT % 5 = 0
                       THEN 1 ELSE 0 END AS masked
           FROM tok),
    per_doc AS (SELECT doc_id, source, COUNT(*) AS n_tok,
                       SUM(masked) AS n_masked,
                       COUNT(DISTINCT CASE WHEN masked = 1 THEN blk END) AS n_spans
                FROM mk GROUP BY doc_id, source)
    SELECT source, COUNT(*)::BIGINT AS n_docs, SUM(n_tok)::BIGINT AS n_tokens,
           SUM(n_masked)::BIGINT AS n_masked, SUM(n_spans)::BIGINT AS n_spans,
           SUM(n_tok - n_masked + n_spans)::BIGINT AS input_len,
           SUM(n_masked + n_spans)::BIGINT AS target_len,
           ROUND(CAST(SUM(n_masked) AS DOUBLE) / SUM(n_tok), 6) AS corruption_rate
    FROM per_doc GROUP BY source ORDER BY source"""

  /** Bigram-LM pseudo-perplexity scoring (t45): the CCNet/KenLM quality
    * gate t23's novelty rate approximates — an actual smoothed language
    * model trained ON the corpus, each document scored by its total bigram
    * log-probability. Add-one smoothing: P(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V)
    * with V = corpus vocabulary size, so every probability is a ratio of
    * BIGINTs and each bigram contributes floor(1e6·ln P) micro-nats — a
    * BIGINT whose per-doc SUM is reduce-order-free (the t40/g10
    * transcendental-floor precedent). The keep rule compares total
    * micro-nats against threshold×n_bigrams by integer MULTIPLY (never
    * integer division: Spark DIV truncates toward zero, DuckDB // floors —
    * they disagree on negatives). Topology: the model is two
    * vocabulary-bounded content-keyed aggregates (c12, c1 — same cost
    * class as t23's df table); scoring re-joins doc bigrams to the model
    * on content keys; one report agg. At 100 TB the model tables are the
    * square-root-scale side and broadcast or shuffle by ngram — never by
    * document. */
  private val t45Spark = """
    WITH tok AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, lang, graft_tokens(text) AS ts
                 FROM documents),
    bg AS (SELECT doc_id, lang, p.w1 AS w1, p.w2 AS w2
           FROM tok LATERAL VIEW explode(transform(sequence(1, size(ts) - 1),
                  i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))) t AS p
           WHERE size(ts) >= 2),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT w) AS v
          FROM (SELECT explode(ts) AS w FROM tok)),
    scored AS (SELECT b.doc_id, b.lang, COUNT(*) AS n_bg,
                      SUM(CAST(FLOOR(ln((m.c12 + 1.0D) / (p.c1 + v.v)) * 1000000.0D) AS BIGINT)) AS logp_micro
               FROM bg b JOIN c12 m ON m.w1 = b.w1 AND m.w2 = b.w2
                         JOIN c1 p ON p.w1 = b.w1
                         CROSS JOIN v
               GROUP BY b.doc_id, b.lang)
    SELECT lang, COUNT(*) AS n_docs, SUM(n_bg) AS total_bigrams,
           SUM(logp_micro) AS logp_mass,
           SUM(CASE WHEN logp_micro >= -3400000 * n_bg THEN 1 ELSE 0 END) AS n_keep
    FROM scored GROUP BY lang ORDER BY lang"""

  private val t45Duck = """
    WITH tok AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ts
                 FROM documents),
    bg AS (SELECT doc_id, lang, ts[i] AS w1, ts[i + 1] AS w2
           FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS i) t
           WHERE len(ts) >= 2),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT w) AS v
          FROM (SELECT unnest(ts) AS w FROM tok)),
    scored AS (SELECT b.doc_id, b.lang, COUNT(*) AS n_bg,
                      SUM(FLOOR(ln((m.c12 + 1.0) / (p.c1 + v.v)) * 1000000.0)::BIGINT) AS logp_micro
               FROM bg b JOIN c12 m ON m.w1 = b.w1 AND m.w2 = b.w2
                         JOIN c1 p ON p.w1 = b.w1
                         CROSS JOIN v
               GROUP BY b.doc_id, b.lang)
    SELECT lang, COUNT(*)::BIGINT AS n_docs, SUM(n_bg)::BIGINT AS total_bigrams,
           SUM(logp_micro)::BIGINT AS logp_mass,
           SUM(CASE WHEN logp_micro >= -3400000 * n_bg THEN 1 ELSE 0 END)::BIGINT AS n_keep
    FROM scored GROUP BY lang ORDER BY lang"""

  /** Graded n-gram contamination score (t47): t20 decontaminates by EXACT
    * benchmark membership (bloom prefilter + exact confirm); this is the
    * GPT-3-appendix graded variant — for every training doc, the FRACTION
    * of its 8-gram shingles that appear anywhere in the held-out benchmark
    * set (docs with doc_id ≡ 0 mod 97, excluded from scoring), bucketed
    * into clean / partial / quarantine bands. Contamination is PLANTED
    * deterministically so the bands discriminate at every scale: docs with
    * id ≡ 3 (mod 11) get a 15%-length benchmark prefix prepended (~13%
    * shingle overlap → partial band), id ≡ 7 (mod 11) a 70% prefix (~41%
    * → quarantine), everything else stays organic (clean). Shape: the
    * benchmark's DISTINCT shingle set is the square-root-scale side
    * (broadcast or shingle-keyed); doc shingles LEFT JOIN it on content
    * key; per-doc fraction is exact integers; band cuts compare by
    * integer MULTIPLY (20·hits vs n, 100·hits vs 20·n), never division. */
  private val t47Spark = """
    WITH bench_docs AS (SELECT ROW_NUMBER() OVER (ORDER BY doc_id) AS rb, text AS btext
                        FROM documents WHERE doc_id % 97 = 0),
    nb AS (SELECT COUNT(*) AS n FROM bench_docs),
    corpus AS (SELECT /*+ REPARTITION({{P}}) */ d.doc_id, d.source,
                      -- INTEGER prefix arithmetic (len·k DIV 100), never
                      -- len*0.7 in doubles: 350*0.7 is 244.999… as an IEEE
                      -- double but exactly 245 in DuckDB's DECIMAL literal
                      -- arithmetic — the floor then disagrees by one char
                      -- whenever the product is an exact integer (first
                      -- seen at sf0.1, where bench lengths hit multiples
                      -- of 10)
                      CASE WHEN d.doc_id % 11 = 3
                             THEN concat(substring(b.btext, 1, CAST(length(b.btext) * 15 DIV 100 AS INT)), ' ', d.text)
                           WHEN d.doc_id % 11 = 7
                             THEN concat(substring(b.btext, 1, CAST(length(b.btext) * 70 DIV 100 AS INT)), ' ', d.text)
                           ELSE d.text END AS text
               FROM documents d CROSS JOIN nb
               JOIN bench_docs b ON b.rb = d.doc_id % nb.n + 1
               WHERE d.doc_id % 97 != 0),
    bench AS (SELECT DISTINCT explode(graft_shingles(btext, 8)) AS s FROM bench_docs),
    sh AS (SELECT doc_id, source, explode(graft_shingles(text, 8)) AS s FROM corpus),
    scored AS (SELECT t.doc_id, t.source, COUNT(*) AS n_sh,
                      SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
               FROM sh t LEFT JOIN bench b ON b.s = t.s
               GROUP BY t.doc_id, t.source)
    SELECT source, COUNT(*) AS n_docs,
           SUM(n_sh) AS total_shingles, SUM(n_hit) AS total_hits,
           SUM(CASE WHEN n_hit = 0 THEN 1 ELSE 0 END) AS n_clean,
           SUM(CASE WHEN n_hit > 0 AND n_hit * 5 <= n_sh THEN 1 ELSE 0 END) AS n_partial,
           SUM(CASE WHEN n_hit * 5 > n_sh THEN 1 ELSE 0 END) AS n_quarantine
    FROM scored GROUP BY source ORDER BY source"""

  private val t47Duck = """
    WITH bench_docs AS (SELECT ROW_NUMBER() OVER (ORDER BY doc_id) AS rb, text AS btext
                        FROM documents WHERE doc_id % 97 = 0),
    nb AS (SELECT COUNT(*) AS n FROM bench_docs),
    corpus AS (SELECT d.doc_id, d.source,
                      CASE WHEN d.doc_id % 11 = 3
                             THEN substring(b.btext, 1, ((length(b.btext) * 15) // 100)::INT) || ' ' || d.text
                           WHEN d.doc_id % 11 = 7
                             THEN substring(b.btext, 1, ((length(b.btext) * 70) // 100)::INT) || ' ' || d.text
                           ELSE d.text END AS text
               FROM documents d CROSS JOIN nb
               JOIN bench_docs b ON b.rb = d.doc_id % nb.n + 1
               WHERE d.doc_id % 97 != 0),
    btok AS (SELECT string_split_regex(trim(btext), '\s+') AS ts FROM bench_docs),
    bench AS (SELECT DISTINCT list_reduce(ts[i:i+7], (a, b) -> a || ' ' || b) AS s
              FROM btok, LATERAL (SELECT unnest(range(1, len(ts) - 6)) AS i) t
              WHERE len(ts) >= 8),
    tok AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS ts FROM corpus),
    sh AS (SELECT doc_id, source, list_reduce(ts[i:i+7], (a, b) -> a || ' ' || b) AS s
           FROM tok, LATERAL (SELECT unnest(range(1, len(ts) - 6)) AS i) t
           WHERE len(ts) >= 8),
    scored AS (SELECT t.doc_id, t.source, COUNT(*) AS n_sh,
                      SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
               FROM sh t LEFT JOIN bench b ON b.s = t.s
               GROUP BY t.doc_id, t.source)
    SELECT source, COUNT(*)::BIGINT AS n_docs,
           SUM(n_sh)::BIGINT AS total_shingles, SUM(n_hit)::BIGINT AS total_hits,
           SUM(CASE WHEN n_hit = 0 THEN 1 ELSE 0 END)::BIGINT AS n_clean,
           SUM(CASE WHEN n_hit > 0 AND n_hit * 5 <= n_sh THEN 1 ELSE 0 END)::BIGINT AS n_partial,
           SUM(CASE WHEN n_hit * 5 > n_sh THEN 1 ELSE 0 END)::BIGINT AS n_quarantine
    FROM scored GROUP BY source ORDER BY source"""

  /** HTML-to-text extraction (t48): the raw-crawl → training-text step the
    * t-suite assumed away — `graft_strip_html` drops script/style BODIES
    * (their content is code; an unstripped `<` inside would corrupt the
    * tag pass — the fixture's script contains a bare `1 < 2` to prove it),
    * comments, and tags, decodes the six common entities, collapses
    * whitespace. Each doc is wrapped in a deterministic page skeleton
    * (title, style, script-with-angle-bracket, h1 with `&amp;`, footer
    * comment), so the oracle can build the EXPECTED extraction directly
    * and both sides compare md5-prefix checksums — any divergence in any
    * doc's extraction hash-mismatches. Pure map-side kernel + one report
    * agg; the corpus was pre-checked free of `<>&` so the closed form is
    * total. */
  private val t48Spark = """
    WITH page AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, lang,
                         concat('<html><head><title>T', CAST(doc_id AS STRING),
                                '</title><style type="text/css">body { margin: 0; }</style>',
                                '<script>if (1 < 2) { x(); }</script></head>',
                                '<body><h1>Doc &amp; ', CAST(doc_id AS STRING),
                                '</h1><p>', text, '</p><!-- footer --></body></html>') AS html,
                         text
                  FROM documents),
    ext AS (SELECT doc_id, lang, graft_strip_html(html) AS stripped FROM page)
    SELECT lang, COUNT(*) AS n_docs,
           SUM(length(stripped)) AS total_chars,
           SUM(CAST(graft_token_count(stripped) AS BIGINT)) AS total_tokens,
           SUM(CAST(conv(substring(md5(stripped), 1, 8), 16, 10) AS BIGINT)) AS content_checksum
    FROM ext GROUP BY lang ORDER BY lang"""

  private val t48Duck = """
    WITH ext AS (SELECT doc_id, lang,
                        'T' || doc_id || ' Doc & ' || doc_id || ' ' ||
                        trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')) AS stripped
                 FROM documents)
    SELECT lang, COUNT(*)::BIGINT AS n_docs,
           SUM(length(stripped))::BIGINT AS total_chars,
           SUM(len(string_split_regex(trim(stripped), '\s+')))::BIGINT AS total_tokens,
           SUM(('0x' || substr(md5(stripped), 1, 8))::BIGINT)::BIGINT AS content_checksum
    FROM ext GROUP BY lang ORDER BY lang"""

  /** Canonical-URL dedup (t49): the crawl-frontier dedup that runs BEFORE
    * any content fetch — URLs normalize (lowercase host, strip `www.`,
    * strip trailing slash, drop `utm_*` tracking params keeping the rest,
    * drop fragments) and duplicates collapse on the canonical form. The
    * Spark side exercises the real codegen'd `parse_url`
    * (HOST/PATH/QUERY) over deterministically synthesized messy URLs
    * (mixed-case hosts, tracking params in both positions, fragments,
    * trailing slashes); the oracle builds the canonical forms closed-form
    * from the same id arithmetic, so a parse_url or filter divergence
    * hash-mismatches on the md5 checksum. Map-side normalize, one
    * content-keyed distinct — the same shuffle class as t02. */
  private val t49Spark = """
    WITH u AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, source,
                      concat('https://',
                        CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'WWW.Example'
                             WHEN 1 THEN 'example' ELSE 'Blog.Example' END,
                        '.COM/p', CAST(doc_id % 50 AS STRING),
                        CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
                        CASE WHEN doc_id % 5 = 0 THEN concat('?utm_source=x&id=', CAST(doc_id % 7 AS STRING))
                             WHEN doc_id % 5 = 1 THEN concat('?id=', CAST(doc_id % 7 AS STRING), '&utm_medium=z')
                             ELSE '' END,
                        CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
               FROM documents),
    p AS (SELECT doc_id, source,
                 lower(parse_url(url, 'HOST')) AS host,
                 parse_url(url, 'PATH') AS path,
                 parse_url(url, 'QUERY') AS qs
          FROM u),
    canon AS (SELECT doc_id, source,
                     concat(regexp_replace(host, '^www\.', ''),
                            regexp_replace(path, '/$', ''),
                            CASE WHEN qs IS NULL THEN ''
                                 WHEN array_join(filter(split(qs, '&'), x -> NOT x LIKE 'utm%'), '&') = '' THEN ''
                                 ELSE concat('?', array_join(filter(split(qs, '&'), x -> NOT x LIKE 'utm%'), '&')) END) AS curl
              FROM p)
    SELECT source, COUNT(*) AS n_urls, COUNT(DISTINCT curl) AS n_canonical,
           SUM(CAST(conv(substring(md5(curl), 1, 8), 16, 10) AS BIGINT)) AS checksum
    FROM canon GROUP BY source ORDER BY source"""

  private val t49Duck = """
    WITH canon AS (SELECT doc_id, source,
                          (CASE doc_id % 3 WHEN 0 THEN 'example.com' WHEN 1 THEN 'example.com'
                                ELSE 'blog.example.com' END)
                          || '/p' || (doc_id % 50)
                          || (CASE WHEN doc_id % 5 IN (0, 1) THEN '?id=' || (doc_id % 7) ELSE '' END) AS curl
                   FROM documents)
    SELECT source, COUNT(*)::BIGINT AS n_urls,
           COUNT(DISTINCT curl)::BIGINT AS n_canonical,
           SUM(('0x' || substr(md5(curl), 1, 8))::BIGINT)::BIGINT AS checksum
    FROM canon GROUP BY source ORDER BY source"""

  /** Sketch-accuracy audit (t46): at 100 TB the exact operators this suite
    * verifies with (COUNT(DISTINCT …), exact percentiles) are what you pay
    * for ONCE to calibrate the sketches you then run always —
    * HyperLogLog++ (`approx_count_distinct`, rsd 0.01) for cardinality and
    * the GK/KLL `percentile_approx` for quantiles, both Spark-native
    * partial-aggregating. This query runs sketch and exact side by side
    * per source and emits the exact values plus error-band BOOLEANS
    * computed Spark-side (|est − exact| within 3% / p50 within 2 tokens);
    * the oracle replays the exact values and pins the booleans TRUE — a
    * sketch regression (hash change, merge bug, rsd drift) hash-
    * mismatches. The disclosure pattern of e05's recall gate applied to
    * the relational sketches; complements t25's count-min heavy hitters.
    * HLL rsd is 0.02, not 0.01: halving the rsd quadruples the register
    * file and the partial-buffer merges with it (3.7 → 1.7 s measured on
    * this fixture) while staying comfortably inside the 3% gate.
    * Booleans compare by integer MULTIPLY (100·|Δ| ≤ 3·exact), never
    * division. */
  private val t46Spark = """
    WITH d AS (SELECT /*+ REPARTITION({{P}}) */ source, text,
                      CAST(graft_token_count(text) AS BIGINT) AS toks
               FROM documents),
    cnt AS (SELECT source, toks, COUNT(*) AS c FROM d GROUP BY source, toks),
    cum AS (SELECT source, toks,
                   SUM(c) OVER (PARTITION BY source ORDER BY toks) AS cum,
                   SUM(c) OVER (PARTITION BY source) AS n
            FROM cnt),
    ex AS (SELECT source, MIN(toks) AS exact_p50
           FROM cum WHERE cum >= (n + 1) DIV 2 GROUP BY source),
    per AS (SELECT source,
                   COUNT(DISTINCT md5(text)) AS n_distinct,
                   approx_count_distinct(md5(text), 0.02) AS est_distinct,
                   CAST(percentile_approx(toks, 0.5D, 10000) AS BIGINT) AS est_p50,
                   COUNT(*) AS n_docs
            FROM d GROUP BY source)
    SELECT p.source, p.n_docs, p.n_distinct, e.exact_p50,
           ABS(p.est_distinct - p.n_distinct) * 100 <= p.n_distinct * 3
             OR ABS(p.est_distinct - p.n_distinct) <= 3 AS hll_within_3pct,
           ABS(p.est_p50 - e.exact_p50) <= 2 AS p50_within_2
    FROM per p JOIN ex e ON e.source = p.source
    ORDER BY p.source"""

  private val t46Duck = """
    WITH d AS (SELECT source, text, len(string_split_regex(trim(text), '\s+')) AS toks
               FROM documents),
    cnt AS (SELECT source, toks, COUNT(*) AS c FROM d GROUP BY source, toks),
    cum AS (SELECT source, toks,
                   SUM(c) OVER (PARTITION BY source ORDER BY toks) AS cum,
                   SUM(c) OVER (PARTITION BY source) AS n
            FROM cnt),
    ex AS (SELECT source, MIN(toks) AS exact_p50
           FROM cum WHERE cum >= (n + 1) // 2 GROUP BY source),
    per AS (SELECT source, COUNT(DISTINCT md5(text)) AS n_distinct, COUNT(*) AS n_docs
            FROM d GROUP BY source)
    SELECT p.source, p.n_docs::BIGINT AS n_docs, p.n_distinct::BIGINT AS n_distinct,
           e.exact_p50::BIGINT AS exact_p50,
           TRUE AS hll_within_3pct, TRUE AS p50_within_2
    FROM per p JOIN ex e ON e.source = p.source
    ORDER BY p.source"""

  /** Image mip pyramid (m15): the antialiased multi-resolution build
    * (mipmaps / thumbnail chains) the nearest-neighbor resize of m02
    * is not — each level box-averages complete 2×2 blocks
    * (floor-average, odd edges truncate) through the REAL codec, and
    * every level carries the m12 position-weighted checksum so a
    * shifted window, transposed axis, or wrong rounding direction
    * hash-mismatches. The oracle replays level 1 directly from the
    * closed-form raster and level 2 by re-aggregating level 1's
    * complete 2×2 groups — floor(Σv1 / 4) is exactly the kernel's
    * nested floor-average. Map-side decode + explode; one bounded agg
    * per level. */
  private val m15Spark = """
    WITH py AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, p.level AS level, p.w AS w, p.h AS h,
                       p.checksum AS cs
                FROM documents
                LATERAL VIEW explode(graft_media_pyramid(graft_media_png(doc_id), 2)) t AS p)
    SELECT CAST(level AS BIGINT) AS level, COUNT(*) AS n_images,
           SUM(CAST(w AS BIGINT) * h) AS total_px,
           SUM(cs) AS checksum_sum, MAX(cs) AS checksum_max
    FROM py GROUP BY level ORDER BY level"""

  private val m15Duck = """
    WITH m AS (SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id // 16) % 16 AS h
               FROM documents),
    l1 AS (SELECT doc_id, w // 2 AS w1, h // 2 AS h1, x1, y1,
                  (  (doc_id * 31 + ((2 * y1) * w + 2 * x1) * 7) % 256
                   + (doc_id * 31 + ((2 * y1) * w + 2 * x1 + 1) * 7) % 256
                   + (doc_id * 31 + ((2 * y1 + 1) * w + 2 * x1) * 7) % 256
                   + (doc_id * 31 + ((2 * y1 + 1) * w + 2 * x1 + 1) * 7) % 256) // 4 AS v1
           FROM m,
           LATERAL (SELECT unnest(range(w // 2)) AS x1) tx,
           LATERAL (SELECT unnest(range(h // 2)) AS y1) ty
           WHERE w // 2 >= 1 AND h // 2 >= 1),
    c1 AS (SELECT doc_id, 1 AS level, SUM(v1 * (1 + x1 + 1000 * y1)) AS cs,
                  MAX(w1) AS w, MAX(h1) AS h
           FROM l1 GROUP BY doc_id),
    l2 AS (SELECT doc_id, w1 // 2 AS w2, h1 // 2 AS h2, x1 // 2 AS x2, y1 // 2 AS y2,
                  SUM(v1) // 4 AS v2
           FROM l1
           WHERE x1 < 2 * (w1 // 2) AND y1 < 2 * (h1 // 2)
                 AND w1 // 2 >= 1 AND h1 // 2 >= 1
           GROUP BY doc_id, w1 // 2, h1 // 2, x1 // 2, y1 // 2),
    c2 AS (SELECT doc_id, 2 AS level, SUM(v2 * (1 + x2 + 1000 * y2)) AS cs,
                  MAX(w2) AS w, MAX(h2) AS h
           FROM l2 GROUP BY doc_id),
    allc AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
    SELECT level::BIGINT AS level, COUNT(*)::BIGINT AS n_images,
           SUM(w * h)::BIGINT AS total_px,
           SUM(cs)::BIGINT AS checksum_sum, MAX(cs)::BIGINT AS checksum_max
    FROM allc GROUP BY level ORDER BY level"""

  /** Index staleness monitor (e29): the "when do I rebuild" signal for the
    * e16 append-only IVF lifecycle — after a delta lands (vec_id ≡ 7 mod
    * 10 plays the new 10%), each list reports (a) CENTROID DRIFT, the
    * cosine gap between the stored centroid and the current assigned-set
    * mean, and (b) the fraction of delta vectors whose nearest list would
    * CHANGE under the drifted means — the recall-loss proxy. Everything
    * routes through milli-quantized BIGINT lanes: per-lane sums are exact
    * integers (reduce-order-free — a double mean would be shuffle-order
    * nondeterministic), cosine is scale-invariant so the SUM vector stands
    * in for the mean with no division, and each reported cosine is one
    * IEEE expression over exact integer dots. Rebuild flags compare by
    * integer multiply. Cross joins are corpus × K centroids — the e04
    * shape, linear in the corpus at any scale. */
  private val e29Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id,
                      transform(graft_vec(embedding), x -> CAST(FLOOR(x * 1000.0D) AS BIGINT)) AS iv,
                      CASE WHEN vec_id % 10 = 7 THEN 1 ELSE 0 END AS is_delta
               FROM embeddings),
    c AS (SELECT vec_id AS cid, iv AS civ FROM v WHERE vec_id < 4 AND is_delta = 0),
    asgn AS (SELECT /*+ BROADCAST(c) */ vec_id, iv, is_delta, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
                      CAST(aggregate(zip_with(iv, civ, (a, b) -> a * b), CAST(0 AS BIGINT), (s, x) -> s + x) AS DOUBLE)
                        / (sqrt(aggregate(zip_with(iv, iv, (a, b) -> a * b), CAST(0 AS BIGINT), (s, x) -> s + x))
                           * sqrt(aggregate(zip_with(civ, civ, (a, b) -> a * b), CAST(0 AS BIGINT), (s, x) -> s + x))) DESC,
                      cid) AS rn
             FROM v CROSS JOIN c),
    a AS (SELECT vec_id, iv, is_delta, cid FROM asgn WHERE rn = 1),
    lanes AS (SELECT cid, p.i AS lane, SUM(p.x) AS sx
              FROM a LATERAL VIEW posexplode(iv) p AS i, x
              GROUP BY cid, p.i),
    sums AS (SELECT cid, transform(array_sort(collect_list(struct(lane, sx))), s -> s.sx) AS siv
             FROM lanes GROUP BY cid),
    drift AS (SELECT c.cid,
                     CAST(FLOOR((1.0D -
                       CAST(aggregate(zip_with(c.civ, s.siv, (a, b) -> a * b), CAST(0 AS BIGINT), (s2, x) -> s2 + x) AS DOUBLE)
                         / (sqrt(aggregate(zip_with(c.civ, c.civ, (a, b) -> a * b), CAST(0 AS BIGINT), (s2, x) -> s2 + x))
                            * sqrt(aggregate(zip_with(s.siv, s.siv, (a, b) -> a * b), CAST(0 AS BIGINT), (s2, x) -> s2 + x)))) * 1000000.0D) AS BIGINT) AS drift_micro
              FROM c JOIN sums s ON s.cid = c.cid),
    renew AS (SELECT /*+ BROADCAST(s) */ d.vec_id, d.cid AS old_cid, s.cid AS new_cid,
                     ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
                       CAST(aggregate(zip_with(d.iv, s.siv, (a, b) -> a * b), CAST(0 AS BIGINT), (s2, x) -> s2 + x) AS DOUBLE)
                         / (sqrt(aggregate(zip_with(d.iv, d.iv, (a, b) -> a * b), CAST(0 AS BIGINT), (s2, x) -> s2 + x))
                            * sqrt(aggregate(zip_with(s.siv, s.siv, (a, b) -> a * b), CAST(0 AS BIGINT), (s2, x) -> s2 + x))) DESC,
                       s.cid) AS rn
              FROM (SELECT * FROM a WHERE is_delta = 1) d CROSS JOIN sums s),
    moved AS (SELECT old_cid AS cid,
                     COUNT(*) AS n_delta,
                     SUM(CASE WHEN new_cid != old_cid THEN 1 ELSE 0 END) AS n_moved
              FROM renew WHERE rn = 1 GROUP BY old_cid),
    pop AS (SELECT cid, COUNT(*) AS n_total FROM a GROUP BY cid)
    SELECT p.cid, p.n_total, m.n_delta, m.n_moved, d.drift_micro,
           d.drift_micro > 2000 OR m.n_moved * 5 > m.n_delta AS rebuild
    FROM pop p JOIN moved m ON m.cid = p.cid JOIN drift d ON d.cid = p.cid
    ORDER BY p.cid"""

  private val e29Duck = """
    WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> FLOOR(x::DOUBLE * 1000.0)::BIGINT) AS iv,
                       CASE WHEN vec_id % 10 = 7 THEN 1 ELSE 0 END AS is_delta
                FROM embeddings),
    c AS (SELECT vec_id AS cid, iv AS civ FROM v0 WHERE vec_id < 4 AND is_delta = 0),
    asgn AS (SELECT vec_id, iv, is_delta, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
                      list_reduce(list_prepend(0::BIGINT, list_transform(range(1, len(iv) + 1), i -> iv[i] * civ[i])), (a, b) -> a + b)::DOUBLE
                        / (sqrt(list_reduce(list_prepend(0::BIGINT, list_transform(range(1, len(iv) + 1), i -> iv[i] * iv[i])), (a, b) -> a + b))
                           * sqrt(list_reduce(list_prepend(0::BIGINT, list_transform(range(1, len(civ) + 1), i -> civ[i] * civ[i])), (a, b) -> a + b))) DESC,
                      cid) AS rn
             FROM v0 CROSS JOIN c),
    a AS (SELECT vec_id, iv, is_delta, cid FROM asgn WHERE rn = 1),
    lanes AS (SELECT cid, i AS lane, SUM(iv[i + 1]) AS sx
              FROM a, LATERAL (SELECT unnest(range(0, len(iv))) AS i) t
              GROUP BY cid, i),
    sums AS (SELECT cid, list(sx ORDER BY lane) AS siv FROM lanes GROUP BY cid),
    drift AS (SELECT c.cid,
                     FLOOR((1.0 -
                       list_reduce(list_prepend(0::BIGINT, list_transform(range(1, len(c.civ) + 1), i -> c.civ[i] * s.siv[i])), (a, b) -> a + b)::DOUBLE
                         / (sqrt(list_reduce(list_prepend(0::BIGINT, list_transform(range(1, len(c.civ) + 1), i -> c.civ[i] * c.civ[i])), (a, b) -> a + b))
                            * sqrt(list_reduce(list_prepend(0::BIGINT, list_transform(range(1, len(s.siv) + 1), i -> s.siv[i] * s.siv[i])), (a, b) -> a + b)))) * 1000000.0)::BIGINT AS drift_micro
              FROM c JOIN sums s ON s.cid = c.cid),
    renew AS (SELECT d.vec_id, d.cid AS old_cid, s.cid AS new_cid,
                     ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
                       list_reduce(list_prepend(0::BIGINT, list_transform(range(1, len(d.iv) + 1), i -> d.iv[i] * s.siv[i])), (a, b) -> a + b)::DOUBLE
                         / (sqrt(list_reduce(list_prepend(0::BIGINT, list_transform(range(1, len(d.iv) + 1), i -> d.iv[i] * d.iv[i])), (a, b) -> a + b))
                            * sqrt(list_reduce(list_prepend(0::BIGINT, list_transform(range(1, len(s.siv) + 1), i -> s.siv[i] * s.siv[i])), (a, b) -> a + b))) DESC,
                       s.cid) AS rn
              FROM (SELECT * FROM a WHERE is_delta = 1) d CROSS JOIN sums s),
    moved AS (SELECT old_cid AS cid, COUNT(*) AS n_delta,
                     SUM(CASE WHEN new_cid != old_cid THEN 1 ELSE 0 END) AS n_moved
              FROM renew WHERE rn = 1 GROUP BY old_cid),
    pop AS (SELECT cid, COUNT(*) AS n_total FROM a GROUP BY cid)
    SELECT p.cid::BIGINT AS cid, p.n_total::BIGINT AS n_total,
           m.n_delta::BIGINT AS n_delta, m.n_moved::BIGINT AS n_moved,
           d.drift_micro::BIGINT AS drift_micro,
           (d.drift_micro > 2000 OR m.n_moved * 5 > m.n_delta) AS rebuild
    FROM pop p JOIN moved m ON m.cid = p.cid JOIN drift d ON d.cid = p.cid
    ORDER BY p.cid"""

  /** Hard-negative mining (e28): the contrastive-training data-prep
    * step — for every query, the most-similar vectors of a DIFFERENT
    * label (the negatives that actually teach a margin), each scored
    * with its margin below the query's best same-label positive. A
    * negative with margin <= 0 outranks the positive — exactly the
    * pairs a triplet loss needs most. Bounded query set against the
    * corpus (the e01 eval discipline); per-query top-3 negatives +
    * positive cosine and margin, every value a single division of
    * identical IEEE dots. */
  private val e28Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, label, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS qlabel, e AS qe, nrm AS qnrm
          FROM v WHERE vec_id >= 8 AND vec_id < 16),
    pos AS (SELECT query_id, MAX(cos) AS pos_cos FROM (
              SELECT q.query_id, graft_dot(q.qe, x.e) / (q.qnrm * x.nrm) AS cos
              FROM q JOIN v x ON x.label = q.qlabel AND x.vec_id != q.query_id) t
            GROUP BY query_id),
    neg AS (SELECT query_id, neg_id, neg_label, cos, rnk FROM (
              SELECT q.query_id, x.vec_id AS neg_id, x.label AS neg_label,
                     graft_dot(q.qe, x.e) / (q.qnrm * x.nrm) AS cos,
                     ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY graft_dot(q.qe, x.e) / (q.qnrm * x.nrm) DESC, x.vec_id) AS rnk
              FROM q JOIN v x ON x.label != q.qlabel) t WHERE rnk <= 3)
    SELECT n.query_id, CAST(n.rnk AS BIGINT) AS rnk, n.neg_id,
           CAST(n.neg_label AS BIGINT) AS neg_label,
           ROUND(n.cos, 6) AS neg_cos, ROUND(p.pos_cos, 6) AS pos_cos,
           ROUND(p.pos_cos - n.cos, 6) AS margin
    FROM neg n JOIN pos p ON p.query_id = n.query_id
    ORDER BY n.query_id, n.rnk"""

  private val e28Duck = """
    WITH v0 AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    v AS (SELECT vec_id, label, e,
                 sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * e[i])), (x, y) -> x + y)) AS nrm
          FROM v0),
    q AS (SELECT vec_id AS query_id, label AS qlabel, e AS qe, nrm AS qnrm
          FROM v WHERE vec_id >= 8 AND vec_id < 16),
    pos AS (SELECT query_id, MAX(cos) AS pos_cos FROM (
              SELECT q.query_id,
                     list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] * x.e[i])), (a, b) -> a + b) / (q.qnrm * x.nrm) AS cos
              FROM q JOIN v x ON x.label = q.qlabel AND x.vec_id != q.query_id) t
            GROUP BY query_id),
    neg AS (SELECT query_id, neg_id, neg_label, cos, rnk FROM (
              SELECT q.query_id, x.vec_id AS neg_id, x.label AS neg_label,
                     list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] * x.e[i])), (a, b) -> a + b) / (q.qnrm * x.nrm) AS cos,
                     ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] * x.e[i])), (a, b) -> a + b) / (q.qnrm * x.nrm) DESC, x.vec_id) AS rnk
              FROM q JOIN v x ON x.label != q.qlabel) t WHERE rnk <= 3)
    SELECT n.query_id, n.rnk::BIGINT AS rnk, n.neg_id,
           n.neg_label::BIGINT AS neg_label,
           ROUND(n.cos, 6) AS neg_cos, ROUND(p.pos_cos, 6) AS pos_cos,
           ROUND(p.pos_cos - n.cos, 6) AS margin
    FROM neg n JOIN pos p ON p.query_id = n.query_id
    ORDER BY n.query_id, n.rnk"""

  /** Buffer endcap styles (g73): `ST_Buffer(line, d, 'endcap=…')` — the
    * PostGIS style-parameter surface. On integer horizontal segments the
    * flat and square caps are closed-form EXACT (axis-aligned rectangle
    * shoelace: 2dL and 2d(L+2d)), and the round cap adds the inscribed
    * 4·quadrantSegments-gon of the circle, bounded in (π−0.05, π)·d² —
    * the area inequality pins the cap actually emitted (flat ⊂ round ⊂
    * square strictly, per segment). Map-side kernels, one bounded agg
    * per style. */
  private val g73Spark = """
    WITH s AS (SELECT /*+ REPARTITION({{P}}) */ p_partkey AS k,
                      CAST(4 + p_partkey % 12 AS DOUBLE) AS len
               FROM part),
    g AS (SELECT k, len, style,
                 ST_Area(ST_Buffer(ST_GeomFromText(CONCAT('LINESTRING (0 0, ',
                   CAST(len AS STRING), ' 0)')), 1.0D, style)) AS area
          FROM s LATERAL VIEW explode(array('endcap=flat', 'endcap=square', 'endcap=round')) t AS style)
    SELECT style, COUNT(*) AS n,
           SUM(CASE WHEN style = 'endcap=flat' AND area = 2.0D * len THEN 1
                    WHEN style = 'endcap=square' AND area = 2.0D * (len + 2.0D) THEN 1
                    WHEN style = 'endcap=round'
                         AND area - 2.0D * len > 3.09D AND area - 2.0D * len < 3.1416D THEN 1
                    ELSE 0 END) AS n_exact,
           SUM(CAST(FLOOR(area) AS BIGINT)) AS floor_area_sum
    FROM g GROUP BY style ORDER BY style"""

  private val g73Duck = """
    WITH s AS (SELECT p_partkey AS k, (4 + p_partkey % 12)::DOUBLE AS len FROM part),
    g AS (SELECT k, len, style,
                 CASE style WHEN 'endcap=flat' THEN 2.0 * len
                            WHEN 'endcap=square' THEN 2.0 * (len + 2.0)
                            ELSE 2.0 * len + 3.1 END AS area_class
          FROM s, (SELECT unnest(['endcap=flat', 'endcap=square', 'endcap=round']) AS style) st)
    SELECT style, COUNT(*)::BIGINT AS n, COUNT(*)::BIGINT AS n_exact,
           SUM(CASE style WHEN 'endcap=round' THEN FLOOR(2.0 * len + 3.0)
                          ELSE FLOOR(area_class) END)::BIGINT AS floor_area_sum
    FROM g GROUP BY style ORDER BY style"""

  /** Hashed-feature linear classifier (t43): the fastText-style quality
    * gate production corpora actually ship (LLaMA's CCNet filter) — a
    * LINEAR model over hashed token features, inference entirely
    * map-side: score = Σ w[hash(token) mod 64] via one aggregate() fold
    * over the split array, integer weights w[h] = (h·37 mod 21) − 10,
    * keep iff score > 0. No per-token shuffle, no model broadcast (the
    * weights are a closed-form function of the bucket — a learned model
    * would broadcast a 64-entry map, same topology); the only exchange
    * is the bounded per-source report. Everything integer, the oracle
    * replays the fold exactly. */
  private val t43Spark = """
    WITH sc AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, source,
                       aggregate(split(text, ' '), CAST(0 AS BIGINT),
                         (acc, w) -> acc + (graft_hash(w) % 64) * 37 % 21 - 10) AS score
                FROM documents)
    SELECT source, COUNT(*) AS n_docs,
           SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS n_kept,
           SUM(score) AS score_sum,
           MIN(score) AS score_min, MAX(score) AS score_max
    FROM sc GROUP BY source ORDER BY source"""

  private val t43Duck = """
    WITH sc AS (SELECT doc_id, source,
                       list_reduce(list_prepend(0::BIGINT, list_transform(string_split(text, ' '),
                         w -> (('0x' || substr(md5(w), 1, 8))::BIGINT % 64) * 37 % 21 - 10)),
                         (a, b) -> a + b) AS score
                FROM documents)
    SELECT source, COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           SUM(score)::BIGINT AS score_sum,
           MIN(score)::BIGINT AS score_min, MAX(score)::BIGINT AS score_max
    FROM sc GROUP BY source ORDER BY source"""

  /** Incremental aggregate maintenance (q22): the nightly-ETL identity —
    * a base aggregate plus a delta batch's aggregate MERGE into exactly
    * the full recompute (count/sum add, min/max fold; avg re-derives
    * from merged sums — never averaged averages). The merged and direct
    * paths both surface per user with an equality flag the oracle pins
    * TRUE for every row — a merge rule that drifts (the classic
    * incremental-ETL bug) hash-mismatches. DECIMAL sums keep the
    * addition exact; at 100 TB only the delta is rescanned, which is
    * the point. */
  private val q22Spark = """
    WITH olda AS (SELECT user_id, COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,6))) AS s,
                         MIN(value) AS mn, MAX(value) AS mx
                  FROM events WHERE event_id % 10 < 7 GROUP BY user_id),
    newa AS (SELECT user_id, COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,6))) AS s,
                    MIN(value) AS mn, MAX(value) AS mx
             FROM events WHERE event_id % 10 >= 7 GROUP BY user_id),
    merged AS (SELECT COALESCE(o.user_id, nn.user_id) AS user_id,
                      COALESCE(o.n, 0) + COALESCE(nn.n, 0) AS n,
                      COALESCE(o.s, 0) + COALESCE(nn.s, 0) AS s,
                      LEAST(COALESCE(o.mn, nn.mn), COALESCE(nn.mn, o.mn)) AS mn,
                      GREATEST(COALESCE(o.mx, nn.mx), COALESCE(nn.mx, o.mx)) AS mx
               FROM olda o FULL OUTER JOIN newa nn ON nn.user_id = o.user_id),
    direct AS (SELECT user_id, COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,6))) AS s,
                      MIN(value) AS mn, MAX(value) AS mx
               FROM events GROUP BY user_id)
    SELECT d.user_id, d.n, CAST(ROUND(d.s, 2) AS DOUBLE) AS mass,
           ROUND(d.mn, 6) AS vmin, ROUND(d.mx, 6) AS vmax,
           CAST(CASE WHEN m.n = d.n AND m.s = d.s AND m.mn = d.mn AND m.mx = d.mx
                     THEN 1 ELSE 0 END AS BIGINT) AS merge_ok
    FROM direct d JOIN merged m ON m.user_id = d.user_id
    ORDER BY d.user_id"""

  private val q22Duck = """
    WITH olda AS (SELECT user_id, COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,6))) AS s,
                         MIN(value) AS mn, MAX(value) AS mx
                  FROM events WHERE event_id % 10 < 7 GROUP BY user_id),
    newa AS (SELECT user_id, COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,6))) AS s,
                    MIN(value) AS mn, MAX(value) AS mx
             FROM events WHERE event_id % 10 >= 7 GROUP BY user_id),
    merged AS (SELECT COALESCE(o.user_id, nn.user_id) AS user_id,
                      COALESCE(o.n, 0) + COALESCE(nn.n, 0) AS n,
                      COALESCE(o.s, 0) + COALESCE(nn.s, 0) AS s,
                      LEAST(COALESCE(o.mn, nn.mn), COALESCE(nn.mn, o.mn)) AS mn,
                      GREATEST(COALESCE(o.mx, nn.mx), COALESCE(nn.mx, o.mx)) AS mx
               FROM olda o FULL OUTER JOIN newa nn ON nn.user_id = o.user_id),
    direct AS (SELECT user_id, COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,6))) AS s,
                      MIN(value) AS mn, MAX(value) AS mx
               FROM events GROUP BY user_id)
    SELECT d.user_id, d.n::BIGINT AS n, ROUND(d.s, 2)::DOUBLE AS mass,
           ROUND(d.mn, 6) AS vmin, ROUND(d.mx, 6) AS vmax,
           (CASE WHEN m.n = d.n AND m.s = d.s AND m.mn = d.mn AND m.mx = d.mx
                 THEN 1 ELSE 0 END)::BIGINT AS merge_ok
    FROM direct d JOIN merged m ON m.user_id = d.user_id
    ORDER BY d.user_id"""

  /** Linework noding (g72): PostGIS `ST_Node` semantics via the overlay
    * union — two crossing segments split at their intersection, the
    * topology-cleaning step in front of polygonization (g56 consumes
    * noded linework). Constructed crosses make the edge count
    * closed-form: a vertical at interior x splits both lines (4 edges),
    * at x = 0 or 10 it touches the horizontal's endpoint and only the
    * vertical splits (3), beyond the span nothing splits (2); noding
    * preserves total length exactly (integer 20 per pair), which pins
    * that splitting never duplicates or drops pieces. Map-side kernels
    * + one bounded agg keyed by edge count. */
  private val g72Spark = """
    WITH s AS (SELECT /*+ REPARTITION({{P}}) */ p_partkey AS k,
                      CAST(p_partkey % 12 AS DOUBLE) AS x,
                      CAST(1 + (p_partkey * 3) % 8 AS DOUBLE) AS y
               FROM part),
    g AS (SELECT k, x, ST_Union(
            ST_GeomFromText(CONCAT('LINESTRING (0 ', CAST(y AS STRING), ', 10 ', CAST(y AS STRING), ')')),
            ST_GeomFromText(CONCAT('LINESTRING (', CAST(x AS STRING), ' 0, ', CAST(x AS STRING), ' 10)'))) AS u
          FROM s)
    SELECT CAST(size(ST_Dump(u)) AS BIGINT) AS n_edges, COUNT(*) AS n,
           SUM(CAST(ST_Length(u) AS BIGINT)) AS total_len, SUM(CAST(x AS BIGINT)) AS x_sum
    FROM g GROUP BY 1 ORDER BY 1"""

  private val g72Duck = """
    WITH s AS (SELECT p_partkey AS k, p_partkey % 12 AS x FROM part)
    SELECT (CASE WHEN x >= 1 AND x <= 9 THEN 4
                 WHEN x = 0 OR x = 10 THEN 3 ELSE 2 END)::BIGINT AS n_edges,
           COUNT(*)::BIGINT AS n, SUM(20)::BIGINT AS total_len, SUM(x)::BIGINT AS x_sum
    FROM s GROUP BY 1 ORDER BY 1"""

  /** Cross-track distance (g71): for every point, the signed spherical
    * distance to a great-circle route — the fleet-monitoring "how far
    * off the corridor" report (and the pruning predicate behind
    * route-buffer joins at scale: |xt| < w is the corridor test). The
    * kernel chains haversine + two initial bearings + asin, every step
    * a plain libm call the oracle replays IEEE-identically (g24/g62
    * precedent); per-point magnitudes floor to mm before summing
    * (order-free), and the side split uses the SIGN of the identical
    * double, so the report is deterministic cross-engine. Map-side
    * kernel + one bounded agg. */
  private val g71Spark = """
    WITH p AS (SELECT /*+ REPARTITION({{P}}) */ s_suppkey AS k,
                      ST_Point(CAST(s_suppkey % 80 - 40 AS DOUBLE),
                               CAST((s_suppkey * 3) % 80 - 40 AS DOUBLE)) AS pt
               FROM supplier),
    x AS (SELECT k, ST_CrossTrackDistance(pt, ST_Point(-30.0D, -10.0D),
                                          ST_Point(30.0D, 15.0D)) AS xt
          FROM p)
    SELECT CASE WHEN xt >= 0 THEN 'right' ELSE 'left' END AS side,
           COUNT(*) AS n,
           SUM(CAST(FLOOR(ABS(xt) * 1000.0D) AS BIGINT)) AS dist_mm,
           MAX(CAST(FLOOR(ABS(xt) * 1000.0D) AS BIGINT)) AS max_mm
    FROM x GROUP BY 1 ORDER BY 1"""

  private val g71Duck = """
    WITH p AS (SELECT s_suppkey AS k,
                      (s_suppkey % 80 - 40)::DOUBLE AS plon,
                      ((s_suppkey * 3) % 80 - 40)::DOUBLE AS plat
               FROM supplier),
    x AS (SELECT k,
            asin(sin((2 * 6371008.8 * asin(least(1.0, sqrt(
                   pow(sin(radians(plat - (-10.0)) / 2), 2) +
                   cos(radians(-10.0)) * cos(radians(plat)) *
                   pow(sin(radians(plon - (-30.0)) / 2), 2))))) / 6371008.8)
               * sin(atan2(sin(radians(plon - (-30.0))) * cos(radians(plat)),
                           cos(radians(-10.0)) * sin(radians(plat))
                         - sin(radians(-10.0)) * cos(radians(plat)) * cos(radians(plon - (-30.0))))
                   - atan2(sin(radians(30.0 - (-30.0))) * cos(radians(15.0)),
                           cos(radians(-10.0)) * sin(radians(15.0))
                         - sin(radians(-10.0)) * cos(radians(15.0)) * cos(radians(30.0 - (-30.0))))))
            * 6371008.8 AS xt
          FROM p)
    SELECT CASE WHEN xt >= 0 THEN 'right' ELSE 'left' END AS side,
           COUNT(*)::BIGINT AS n,
           SUM(FLOOR(ABS(xt) * 1000.0)::BIGINT)::BIGINT AS dist_mm,
           MAX(FLOOR(ABS(xt) * 1000.0)::BIGINT)::BIGINT AS max_mm
    FROM x GROUP BY 1 ORDER BY 1"""

  /** Built-in session windows (s14): `session_window(ts, gap)` — the
    * state-store-native sessionization Spark added in 3.2, the third
    * face of the session triangle next to s01 (batch gaps-and-islands)
    * and the flatMapGroupsWithState sessionizer (custom state): the
    * engine MERGES overlapping per-key session fragments in the state
    * store and finalizes a session only when the watermark passes its
    * gap-extended end. Events arrive in TWO interleaved micro-batch
    * files (even ids then odd ids), so fragments from both batches must
    * merge before any session closes — a state backend that failed to
    * merge emits split sessions and hash-mismatches against the
    * gaps-and-islands oracle. Sentinels close every session (two
    * trailing batches, the s12 propagation lesson). */
  /** Streaming windowed approx-distinct (s15): the t46 sketch-audit
    * discipline applied to STREAMING state — per 5-minute window,
    * `approx_count_distinct` (HLL++) counts distinct visitor ids with its
    * partial sketches living IN the state store and merging across
    * micro-batches (events for each window arrive split across two
    * batches, so a state-loss regression undercounts), under the RocksDB
    * provider like the rest of the s-suite. The finalized append output
    * then joins a batch EXACT distinct per window and the report emits the
    * exact value plus a within-5% boolean the oracle pins TRUE — the
    * production shape (sketch online, exact calibration offline). At
    * 100-TB event rates the HLL sketch is what makes per-window distinct
    * feasible: state is O(windows × sketch bytes), not O(distinct ids). */
  private def s15Fn(s: SparkSession, dir: String): DataFrame = {
    val fin = runStream(s, "graft_s15") { (sess, tmp) =>
      // ids 0..599: window = (id % 30) minute-pairs → 6 windows of 5 min;
      // visitor = id² % 101 gives per-window distinct counts in the 40-90
      // band with heavy repeats (quadratic residues collide)
      def slice(par: Int) = sess.sql(s"""
        SELECT CAST(id AS BIGINT) AS event_id,
               timestamp_seconds(1700000000 + CAST(id % 30 AS BIGINT) * 60) AS ts,
               CAST((id * id) % 101 AS BIGINT) AS visitor
        FROM range(600) WHERE id % 2 = $par""")
      def sentinel(offset: Long) = sess.sql(s"""
        SELECT CAST(9000 + $offset AS BIGINT) AS event_id,
               timestamp_seconds(1700000000 + 86400 + $offset) AS ts,
               CAST(-1 AS BIGINT) AS visitor""")
      val src = stageBatches(tmp, Seq(slice(0), slice(1), sentinel(0), sentinel(1)))
      val stream = sess.readStream.schema(slice(0).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      import org.apache.spark.sql.functions.{window, col, count, approx_count_distinct}
      // rsd 0.05, not 0.01: a tighter rsd inflates the HLL register array
      // ~16× and the per-row streaming state-buffer serialization with it
      // (measured 9.0 s vs 2.5 s on this fixture); at per-window
      // cardinalities this small HLL++'s sparse/bias-corrected mode is
      // near-exact at either setting, so the 5% gate holds regardless
      stream.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"))
        .agg(count("*").as("n_events"),
             approx_count_distinct("visitor", 0.05).as("est_distinct"))
    }
    fin.selectExpr("CAST(window.start AS BIGINT) AS win_start", "n_events", "est_distinct")
      .where("win_start < 1700000000 + 86400")
      .createOrReplaceTempView("graft_s15_fin")
    fin.sparkSession.sql("""
      WITH exact AS (
        SELECT (1700000000 + CAST(id % 30 AS BIGINT) * 60) DIV 300 * 300 AS win_start,
               COUNT(DISTINCT (id * id) % 101) AS n_distinct
        FROM range(600) GROUP BY 1)
      SELECT f.win_start, f.n_events, e.n_distinct,
             ABS(f.est_distinct - e.n_distinct) * 100 <= e.n_distinct * 5
               OR ABS(f.est_distinct - e.n_distinct) <= 3 AS hll_within_5pct
      FROM graft_s15_fin f JOIN exact e ON e.win_start = f.win_start
      ORDER BY f.win_start""")
  }

  private val s15Duck = """
    WITH ev AS (SELECT i, 1700000000 + (i % 30) * 60 AS es, (i * i) % 101 AS visitor
                FROM range(600) t(i)),
    w AS (SELECT (es // 300) * 300 AS win_start, COUNT(*) AS n_events,
                 COUNT(DISTINCT visitor) AS n_distinct
          FROM ev GROUP BY 1)
    SELECT win_start::BIGINT AS win_start, n_events::BIGINT AS n_events,
           n_distinct::BIGINT AS n_distinct, TRUE AS hll_within_5pct
    FROM w ORDER BY win_start"""

  private def s14Fn(s: SparkSession, dir: String): DataFrame = {
    runStream(s, "graft_s14") { (sess, tmp) =>
      // per user: bursts of 3 events 60 s apart, bursts separated by 1 h
      def slice(par: Int) = sess.sql(s"""
        SELECT CAST(id AS BIGINT) AS event_id,
               timestamp_seconds(1700000000 + (id DIV 21) * 3600 + (id % 21) * 60) AS ts,
               CAST(id % 5 AS BIGINT) AS user_id,
               'tap' AS event_type,
               CAST(id AS DOUBLE) / 10 AS value
        FROM range(200) WHERE id % 2 = $par""")
      def sentinel(offset: Long) = sess.sql(s"""
        SELECT CAST(9000 + $offset AS BIGINT) AS event_id,
               timestamp_seconds(1700000000 + 864000 + $offset) AS ts,
               CAST(0 AS BIGINT) AS user_id, 'sentinel' AS event_type, 0.0 AS value""")
      val src = stageBatches(tmp, Seq(slice(0), slice(1), sentinel(0), sentinel(1)))
      val stream = sess.readStream.schema(slice(0).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      import org.apache.spark.sql.functions.{session_window, col, count, sum}
      stream
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"), col("event_type"))
        .agg(count("*").as("n_events"), sum("value").as("mass"))
    }
      .where("event_type <> 'sentinel'")
      .selectExpr("user_id", "CAST(session_window.start AS BIGINT) AS sess_start",
        "CAST(session_window.end AS BIGINT) AS sess_end",
        "n_events", "ROUND(mass, 6) AS mass")
      .orderBy("user_id", "sess_start")
  }

  private val s14Duck = """
    WITH ev AS (SELECT 1700000000 + (i // 21) * 3600 + (i % 21) * 60 AS es,
                       i % 5 AS user_id, i / 10.0 AS value
                FROM range(200) t(i)),
    d AS (SELECT user_id, es, value,
            CASE WHEN LAG(es) OVER (PARTITION BY user_id ORDER BY es) IS NULL
                   OR es - LAG(es) OVER (PARTITION BY user_id ORDER BY es) >= 600
                 THEN 1 ELSE 0 END AS is_new
          FROM ev),
    g AS (SELECT user_id, es, value,
            SUM(is_new) OVER (PARTITION BY user_id ORDER BY es
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM d)
    SELECT user_id::BIGINT AS user_id, MIN(es)::BIGINT AS sess_start,
           (MAX(es) + 600)::BIGINT AS sess_end,
           COUNT(*)::BIGINT AS n_events, ROUND(SUM(value), 6) AS mass
    FROM g GROUP BY user_id, sid ORDER BY user_id, sess_start"""

  /** Stream-stream LEFT OUTER interval join (s13): the attribution shape
    * of s05 with the unmatched side KEPT — a view with no click inside
    * its 10-minute window must still emit, null-padded, and it can only
    * do so once the watermark proves no matching click can still arrive
    * (Spark holds the view in state until watermark > view.ts + maxLag,
    * then flushes). Sentinel view/click rows a day ahead (user 99,
    * filtered from the report) push the watermark past every real
    * interval across TWO trailing micro-batches (the s12
    * one-batch-propagation lesson), so the unmatched set is total and
    * closed-form. The oracle replays the outer join in batch: per user,
    * matched pairs AND viewless counts must both agree — an engine that
    * dropped unmatched rows (inner-join semantics) or double-emitted
    * them on the flush hash-mismatches. */
  private def s13Fn(s: SparkSession, dir: String): DataFrame = {
    runStream(s, "graft_s13") { (sess, tmp) =>
      def slice(lo: Int, hi: Int) = sess.sql(s"""
        SELECT CAST(id AS BIGINT) AS event_id,
               timestamp_seconds(1700000000 + id * 37) AS ts,
               (id * id) % 7 AS user_id,
               CASE WHEN id % 3 = 0 THEN 'click' WHEN id % 3 = 1 THEN 'view'
                    ELSE 'buy' END AS event_type,
               CAST(id AS DOUBLE) / 10 AS value
        FROM range($lo, $hi)""")
      def sentinel(offset: Long) = sess.sql(s"""
        SELECT CAST(9000 + $offset AS BIGINT) AS event_id,
               timestamp_seconds(1700000000 + 86400 + $offset) AS ts,
               CAST(99 AS BIGINT) AS user_id, t.et AS event_type, 0.0 AS value
        FROM (SELECT explode(array('view', 'click')) AS et) t""")
      val src = stageBatches(tmp, Seq(slice(0, 60), slice(60, 120), sentinel(0), sentinel(1)))
      val schema = slice(0, 1).schema
      def stream() = sess.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val viewsS = stream().filter("event_type = 'view'")
      val clicksS = stream().filter("event_type = 'click'")
      graft.streaming.StreamOps
        .intervalJoinOuter(viewsS, clicksS, "user_id",
          maxLag = "10 minutes", watermark = "20 minutes")
        .selectExpr("l.user_id AS user_id", "l.event_id AS view_id", "r.event_id AS click_id",
          "CAST(r.ts AS LONG) - CAST(l.ts AS LONG) AS lag_s")
    }
      .where("user_id != 99")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.expr("COUNT(*)").as("n_rows"),
           org.apache.spark.sql.functions.expr("COUNT(click_id)").as("n_matched"),
           org.apache.spark.sql.functions.expr("SUM(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END)").as("n_unmatched"),
           org.apache.spark.sql.functions.expr("COALESCE(SUM(lag_s), 0)").as("sum_lag_s"))
      .orderBy("user_id")
  }

  private val s13Duck = """
    WITH ev AS (SELECT i AS event_id, i * 37 AS tsec, (i * i) % 7 AS user_id,
                       CASE WHEN i % 3 = 0 THEN 'click' WHEN i % 3 = 1 THEN 'view'
                            ELSE 'buy' END AS et
                FROM range(120) t(i)),
    v AS (SELECT * FROM ev WHERE et = 'view'),
    c AS (SELECT * FROM ev WHERE et = 'click'),
    p AS (SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
                 c.tsec - v.tsec AS lag_s
          FROM v LEFT JOIN c ON c.user_id = v.user_id
            AND c.tsec >= v.tsec AND c.tsec <= v.tsec + 600)
    SELECT user_id, COUNT(*)::BIGINT AS n_rows,
           COUNT(click_id)::BIGINT AS n_matched,
           SUM(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_unmatched,
           COALESCE(SUM(lag_s), 0)::BIGINT AS sum_lag_s
    FROM p GROUP BY user_id ORDER BY user_id"""

  /** Streaming trending-terms top-k (s06): tokens explode from a
    * document-event stream into watermarked tumbling-window counts
    * (StreamOps.windowedTokenCounts — state keyed by (window, token),
    * sharded across executors), then the FINALIZED append output ranks
    * top-3 per window as a batch step — the production dashboard shape
    * (rank is not incremental; finalized windows are a batch table).
    * Events arrive in TWO interleaved micro-batch files (even ids then
    * odd ids, maxFilesPerTrigger=1), so every window's counts are only
    * correct if per-(window, token) state MERGES across batches; the
    * oracle pins the closed-form token distribution, so a state-loss
    * regression hash-mismatches. Sentinels advance the watermark past
    * every window (the s02 technique). */
  private def s06Fn(s: SparkSession, dir: String): DataFrame = {
    val fin = runStream(s, "graft_s06") { (sess, tmp) =>
      def slice(parity: Int) = sess.sql(s"""
        SELECT CAST(id AS BIGINT) AS event_id,
               timestamp_seconds(1700000000 + id * 7) AS ts,
               array(concat('tok_', CAST(id % 5 AS STRING)),
                     concat('tok_', CAST((id * 3) % 7 AS STRING)),
                     concat('tok_', CAST((id * 7) % 11 AS STRING))) AS toks
        FROM range(240) WHERE id % 2 = $parity""")
      def sentinel(offset: Long) = sess.sql(s"""
        SELECT CAST(9000 + $offset AS BIGINT) AS event_id,
               timestamp_seconds(1700000000 + 86400 + $offset) AS ts,
               array('sentinel') AS toks""")
      val src = stageBatches(tmp, Seq(slice(0), slice(1), sentinel(0), sentinel(1)))
      val stream = sess.readStream.schema(sentinel(0).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      graft.streaming.StreamOps.windowedTokenCounts(
        stream, watermark = "2 minutes", window = "1 minute")
    }
    fin.where("token <> 'sentinel'")
      .selectExpr("CAST(window.start AS BIGINT) AS win_start", "token", "n")
      .createOrReplaceTempView("graft_s06_fin")
    fin.sparkSession.sql("""
      SELECT win_start, CAST(rnk AS BIGINT) AS rnk, token, n
      FROM (SELECT win_start, token, n,
                   ROW_NUMBER() OVER (PARTITION BY win_start ORDER BY n DESC, token) AS rnk
            FROM graft_s06_fin) t
      WHERE rnk <= 3 ORDER BY win_start, rnk""")
  }

  private val s06Duck = """
    WITH ev AS (SELECT i, 1700000000 + i * 7 AS es FROM range(240) t(i)),
    tok AS (SELECT es, 'tok_' || (i % 5) AS token FROM ev
            UNION ALL SELECT es, 'tok_' || ((i * 3) % 7) FROM ev
            UNION ALL SELECT es, 'tok_' || ((i * 7) % 11) FROM ev),
    cnt AS (SELECT (es // 60) * 60 AS win_start, token, COUNT(*) AS n
            FROM tok GROUP BY 1, 2),
    r AS (SELECT win_start, token, n,
                 ROW_NUMBER() OVER (PARTITION BY win_start ORDER BY n DESC, token) AS rnk
          FROM cnt)
    SELECT win_start::BIGINT AS win_start, rnk::BIGINT AS rnk, token, n::BIGINT AS n
    FROM r WHERE rnk <= 3 ORDER BY win_start, rnk"""

  /** GeoParquet NATIVE (GeoArrow separated-coordinate) encoding write→read
    * under the hash gate: points go out with `encoding = "point"` — the
    * nested list/struct layout GeoPandas reads zero-copy — and come back
    * through the scan-time `ga_point` transcode
    * (sources/GeoParquet.scala nativeTranscoder; reference:
    * rust/geoparquet/src/reader/parse.rs infer_geoarrow_schema). Values
    * pinned closed-form; was spec-only before round 8. */
  private def g46Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g46_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val pts = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_Point(CAST(id AS DOUBLE) / 8, CAST(id % 16 AS DOUBLE)) AS geometry
      FROM range(256)""")
    graft.sources.GeoParquet.write(pts, out, encoding = "point", covering = false)
    graft.sources.GeoParquet.read(s, out)
      .selectExpr("fid",
        "ROUND(ST_X(geometry), 3) AS x",
        "CAST(ST_Y(geometry) AS BIGINT) AS y")
      .orderBy("fid")
  }

  private val g46Duck = """
    SELECT i::BIGINT AS fid, ROUND(i / 8.0, 3) AS x, (i % 16)::BIGINT AS y
    FROM range(256) t(i) ORDER BY fid"""

  /** FlatGeobuf Z/M fidelity through the WRITER (spec-only before round 8):
    * XYZM points go out through FlatGeobufWriter (separate z/m vectors,
    * Header.has_z/has_m — sources/FlatGeobufWriter.scala:241-294) and back
    * through the source; all four ordinates pinned closed-form. */
  private def g47Fn(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_g47_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val pts = s.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_PointZM(CAST(id AS DOUBLE), CAST(id % 5 AS DOUBLE),
                        CAST(id AS DOUBLE) / 2, CAST(id * 3 AS DOUBLE)) AS geometry
      FROM range(80)""").coalesce(1)
    graft.sources.FlatGeobufWriter.write(pts, out, index = false)
    graft.sources.FlatGeobuf.read(s, out)
      .selectExpr("fid",
        "CAST(ST_X(geometry) AS BIGINT) AS x",
        "CAST(ST_Y(geometry) AS BIGINT) AS y",
        "ROUND(ST_Z(geometry), 3) AS z",
        "CAST(ST_M(geometry) AS BIGINT) AS m")
      .orderBy("fid")
  }

  private val g47Duck = """
    SELECT i::BIGINT AS fid, i::BIGINT AS x, (i % 5)::BIGINT AS y,
           ROUND(i / 2.0, 3) AS z, (i * 3)::BIGINT AS m
    FROM range(80) t(i) ORDER BY fid"""

  /** UTM reprojection (4326↔326xx/327xx, Krüger series to n^6 —
    * core/TransverseMercator.scala) pinned at full working precision:
    * eastings/northings to 0.1 mm, the round trip to 1e-7°. The series is
    * independently verified in TransverseMercatorSpec (integrated meridian
    * arc, conformality, textbook UTM-31N anchor); these literals gate
    * regressions. */
  private val g45Spark = """
    SELECT
      ROUND(ST_X(ST_Transform(ST_Point(13.4050, 52.5200), 4326, 32633)), 4) AS berlin_e,
      ROUND(ST_Y(ST_Transform(ST_Point(13.4050, 52.5200), 4326, 32633)), 4) AS berlin_n,
      ROUND(ST_X(ST_Transform(ST_Point(151.2093, -33.8688), 4326, 32756)), 4) AS syd_e,
      ROUND(ST_Y(ST_Transform(ST_Point(151.2093, -33.8688), 4326, 32756)), 4) AS syd_n,
      ROUND(ST_X(ST_Transform(ST_Point(-74.006, 40.7128), 4326, 32618)), 4) AS nyc_e,
      ROUND(ST_Y(ST_Transform(ST_Point(-74.006, 40.7128), 4326, 32618)), 4) AS nyc_n,
      ROUND(ST_X(ST_Transform(ST_Transform(ST_Point(9.1829, 48.7758), 4326, 32632),
                              32632, 4326)), 7) AS rt_lon,
      ROUND(ST_Y(ST_Transform(ST_Transform(ST_Point(9.1829, 48.7758), 4326, 32632),
                              32632, 4326)), 7) AS rt_lat,
      -- cross-zone pivot (32633 -> 32632 composes through 4326): must land
      -- on the direct 4326 -> 32632 analytic leg to 0.1 mm. berlin32_e is
      -- an engine-pinned regression literal for the out-of-zone case
      -- (dLambda = 4.4 deg), cross-checked by magnitude: 500 km false
      -- easting + 4.405 deg * cos(52.52) * 111.32 km * 0.9996 = ~798.6 km
      ROUND(ST_X(ST_Transform(ST_Transform(ST_Point(13.4050, 52.5200), 4326, 32633),
                              32633, 32632))
            - ST_X(ST_Transform(ST_Point(13.4050, 52.5200), 4326, 32632)), 4) AS xzone_de,
      ROUND(ST_Y(ST_Transform(ST_Transform(ST_Point(13.4050, 52.5200), 4326, 32633),
                              32633, 32632))
            - ST_Y(ST_Transform(ST_Point(13.4050, 52.5200), 4326, 32632)), 4) AS xzone_dn,
      ROUND(ST_X(ST_Transform(ST_Point(13.4050, 52.5200), 4326, 32632)), 4) AS berlin32_e,
      -- web-mercator pivot (3857 -> 32633 composes through 4326)
      ROUND(ST_X(ST_Transform(ST_Transform(ST_Point(13.4050, 52.5200), 4326, 3857),
                              3857, 32633))
            - ST_X(ST_Transform(ST_Point(13.4050, 52.5200), 4326, 32633)), 4) AS merc_de,
      ROUND(ST_Y(ST_Transform(ST_Transform(ST_Point(13.4050, 52.5200), 4326, 3857),
                              3857, 32633))
            - ST_Y(ST_Transform(ST_Point(13.4050, 52.5200), 4326, 32633)), 4) AS merc_dn"""

  private val g45Duck = """
    SELECT 391779.2593 AS berlin_e, 5820072.1592 AS berlin_n,
           334368.6336 AS syd_e, 6250948.3454 AS syd_n,
           583959.3723 AS nyc_e, 4507350.9982 AS nyc_n,
           9.1829 AS rt_lon, 48.7758 AS rt_lat,
           0.0 AS xzone_de, 0.0 AS xzone_dn, 798812.8026 AS berlin32_e,
           0.0 AS merc_de, 0.0 AS merc_dn"""

  // ── training-data pipeline ops: text analysis / dedup ─────────────────

  private val t01Spark = """
    SELECT lang, COUNT(*) AS n_docs,
           SUM(CAST(graft_token_count(text) AS BIGINT)) AS total_tokens,
           ROUND(CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) / COUNT(*), 6) AS avg_chars,
           COUNT(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang ORDER BY lang"""

  private val t01Duck = """
    SELECT lang, COUNT(*)::BIGINT AS n_docs,
           SUM(len(string_split_regex(trim(text), '\s+'))::BIGINT)::BIGINT AS total_tokens,
           ROUND(CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) / COUNT(*), 6) AS avg_chars,
           COUNT(DISTINCT source)::BIGINT AS n_sources
    FROM documents GROUP BY lang ORDER BY lang"""

  private val t02Spark = """
    SELECT n_copies, COUNT(*) AS n_groups
    FROM (SELECT md5(text) AS h, COUNT(*) AS n_copies
          FROM (SELECT text FROM documents
                UNION ALL SELECT text FROM documents WHERE doc_id % 10 = 0) aug
          GROUP BY md5(text)) grp
    GROUP BY n_copies ORDER BY n_copies"""

  private val t02Duck = """
    SELECT n_copies, COUNT(*)::BIGINT AS n_groups
    FROM (SELECT md5(text) AS h, COUNT(*)::BIGINT AS n_copies
          FROM (SELECT text FROM documents
                UNION ALL SELECT text FROM documents WHERE doc_id % 10 = 0) aug
          GROUP BY md5(text)) grp
    GROUP BY n_copies ORDER BY n_copies"""

  /** n-gram arrays are built once per doc and cached: the self-join
    * references the table twice and Spark inlines CTEs per reference. */
  private def t03Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql("SELECT /*+ REPARTITION(" + s.sparkContext.defaultParallelism + ") */ doc_id, graft_ngrams(text, 3) AS g FROM documents")
      .cache().createOrReplaceTempView("t03_ng")
    s.sql("""
      SELECT CAST(FLOOR(j * 20) AS INT) AS bucket, COUNT(*) AS n
      FROM (SELECT graft_jaccard(a.g, b.g) AS j
            FROM t03_ng a JOIN t03_ng b ON b.doc_id = a.doc_id + 1) t
      GROUP BY 1 ORDER BY bucket""")
  }

  private val t03Duck = """
    WITH ng AS (
      SELECT doc_id,
             CASE WHEN length(text) >= 3
               THEN list_transform(range(1, length(text) - 3 + 2), i -> substr(text, i, 3))
               ELSE [] END AS g
      FROM documents)
    SELECT CAST(FLOOR(j * 20) AS INT) AS bucket, COUNT(*)::BIGINT AS n
    FROM (SELECT CASE WHEN len(list_distinct(list_concat(a.g, b.g))) = 0 THEN 0.0::DOUBLE
                      ELSE len(list_intersect(a.g, b.g)) / len(list_distinct(list_concat(a.g, b.g))) END AS j
          FROM ng a JOIN ng b ON b.doc_id = a.doc_id + 1) t
    GROUP BY 1 ORDER BY bucket"""

  private val t04Spark = """
    SELECT source, COUNT(*) AS n, ROUND(AVG(graft_quality(text)), 6) AS avg_quality
    FROM documents GROUP BY source ORDER BY source"""

  private val t04Duck = """
    WITH q AS (
      SELECT source,
             0.3::DOUBLE * (len(list_filter(string_split_regex(trim(text), '\s+'),
                                t -> t IN ('the','a','of','and','in','to','is')))
                            / greatest(len(string_split_regex(trim(text), '\s+')), 1))
           + 0.4::DOUBLE * least(1.0::DOUBLE, len(string_split_regex(trim(text), '\s+')) / 100.0::DOUBLE)
           + 0.3::DOUBLE * (1.0::DOUBLE - least(1.0::DOUBLE,
                 len(regexp_extract_all(text, '[.,!?;]'))
                 / CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE))) AS quality
      FROM documents)
    SELECT source, COUNT(*)::BIGINT AS n, ROUND(AVG(quality), 6) AS avg_quality
    FROM q GROUP BY source ORDER BY source"""

  private val t05Spark = """
    SELECT lang, predicted, COUNT(*) AS n FROM (
      SELECT lang,
             CASE WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_de THEN 'en'
                  WHEN c_es >= c_fr AND c_es >= c_de THEN 'es'
                  WHEN c_fr >= c_de THEN 'fr' ELSE 'de' END AS predicted
      FROM (SELECT lang,
                   size(filter(graft_tokens(text), t -> t IN ('the','and','of','is','to'))) AS c_en,
                   size(filter(graft_tokens(text), t -> t IN ('el','la','de','los','y'))) AS c_es,
                   size(filter(graft_tokens(text), t -> t IN ('le','les','des','et','un'))) AS c_fr,
                   size(filter(graft_tokens(text), t -> t IN ('der','die','das','und','ein'))) AS c_de
            FROM documents) x) y
    GROUP BY lang, predicted ORDER BY lang, predicted"""

  private val t05Duck = """
    SELECT lang, predicted, COUNT(*)::BIGINT AS n FROM (
      SELECT lang,
             CASE WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_de THEN 'en'
                  WHEN c_es >= c_fr AND c_es >= c_de THEN 'es'
                  WHEN c_fr >= c_de THEN 'fr' ELSE 'de' END AS predicted
      FROM (SELECT lang,
                   len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('the','and','of','is','to'))) AS c_en,
                   len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('el','la','de','los','y'))) AS c_es,
                   len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('le','les','des','et','un'))) AS c_fr,
                   len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('der','die','das','und','ein'))) AS c_de
            FROM documents) x) y
    GROUP BY lang, predicted ORDER BY lang, predicted"""

  private val t06Spark = """
    SELECT ham, COUNT(*) AS n FROM (
      SELECT /*+ REPARTITION({{P}}) */ CAST(bit_count(graft_simhash(text) ^
               graft_simhash(substring(text, 1, CAST(FLOOR(n_chars * 0.8D) AS INT)))) AS INT) AS ham
      FROM documents) t
    GROUP BY ham ORDER BY ham"""

  private val t06Duck = """
    WITH sh AS (
      SELECT doc_id, s AS full_text, substr(s, 1, CAST(FLOOR(n_chars * 0.8::DOUBLE) AS INT)) AS trunc_text
      FROM (SELECT doc_id, text AS s, n_chars FROM documents) z),
    hs AS (
      SELECT doc_id,
             list_transform(string_split_regex(trim(full_text), '\s+'),
                            t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS h_full,
             list_transform(string_split_regex(trim(trunc_text), '\s+'),
                            t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS h_trunc
      FROM sh),
    sims AS (
      SELECT doc_id,
        list_sum(list_transform(range(0, 32), b -> CASE WHEN
           list_sum(list_transform(h_full,
             hh -> CASE WHEN ((hh >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
           THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS sim_full,
        list_sum(list_transform(range(0, 32), b -> CASE WHEN
           list_sum(list_transform(h_trunc,
             hh -> CASE WHEN ((hh >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
           THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS sim_trunc
      FROM hs)
    SELECT CAST(bit_count(xor(sim_full::BIGINT, sim_trunc::BIGINT)) AS INT) AS ham, COUNT(*)::BIGINT AS n
    FROM sims GROUP BY ham ORDER BY ham"""

  /** Minhash-LSH dedup. Built in Scala (not one SQL string) so the
    * signature table can be persisted: Spark inlines a WITH-CTE into every
    * reference, and `sigs` is referenced three times (band explode + both
    * sides of the verify join). localCheckpoint (not cache) both
    * materializes it once AND truncates lineage — with cache alone every
    * downstream action still re-analyzes/re-optimizes the lambda-heavy
    * minhash subplan 3×, which profiled at ~2 s of pure driver planning. At
    * 100 TB this is exactly the "persist signatures to a stage table,
    * shuffle on (band, bucket)" LSH topology. */
  private def t07Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    // One md5 per shingle; 16 seeds are affine permutations (a_k·x+b_k) mod
    // 4294967311 folded in a single pass (graft_minhash_sigs static — was
    // an interpreted aggregate/transform/zip_with lambda pipeline, 16 array
    // ops per shingle).
    val sigs = s.sql("""
      SELECT id, graft_minhash_sigs(ng, 16) AS sig, ng
      FROM (SELECT /*+ REPARTITION(64) */ id, graft_shingles(text, 3) AS ng
            FROM (SELECT doc_id AS id, text FROM documents
                  UNION ALL
                  SELECT doc_id + 100000, substring(text, 1, CAST(FLOOR(n_chars * 0.8D) AS INT))
                  FROM documents) aug) t""").localCheckpoint()
    sigs.createOrReplaceTempView("t07_sigs")
    s.sql("""
      WITH bands AS (
        SELECT id, b, graft_hash(concat_ws(',', transform(slice(sig, b * 4 + 1, 4), x -> CAST(x AS STRING)))) AS bkey
        FROM t07_sigs LATERAL VIEW explode(sequence(0, 3)) bt AS b),
      cand AS (
        SELECT DISTINCT x.id AS i, y.id AS j
        FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.id < y.id)
      SELECT COUNT(*) AS n_cand,
             SUM(CASE WHEN j = i + 100000 THEN 1 ELSE 0 END) AS planted,
             SUM(CASE WHEN jac >= 0.5D THEN 1 ELSE 0 END) AS verified
      FROM (SELECT c.i, c.j, graft_jaccard(si.ng, sj.ng) AS jac
            FROM cand c JOIN t07_sigs si ON si.id = c.i JOIN t07_sigs sj ON sj.id = c.j) t""")
  }

  /** Cross-split near-dup leakage audit (t39): hash splitting (t13)
    * guarantees EXACT-document separation between train/valid/test, but
    * near-duplicates cross the boundary freely — the classic silent eval
    * inflation. The audit runs t07's banded-LSH candidate generation
    * over the split-tagged corpus, keeps only pairs whose members landed
    * in DIFFERENT splits, and confirms at exact Jaccard >= 0.5 — the
    * per-split-pair confirmed counts are the "did test leak into train"
    * numbers an eval readout must disclose. The 80%-prefix twins split
    * independently of their originals (the split hash sees the augmented
    * id), so cross-split leakage exists by construction and the planted
    * count pins recall. Same scale topology as t07: signatures persist
    * once (localCheckpoint), candidates shuffle on (band, bucket) keys,
    * the split filter is a residual predicate on the bounded candidate
    * set. */
  private def t39Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val sigs = s.sql("""
      SELECT id, graft_minhash_sigs(ng, 16) AS sig, ng,
             CASE WHEN graft_hash(CAST(id AS STRING) || ':split') % 100 < 80 THEN 'train'
                  WHEN graft_hash(CAST(id AS STRING) || ':split') % 100 < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM (SELECT /*+ REPARTITION(64) */ id, graft_shingles(text, 3) AS ng
            FROM (SELECT doc_id AS id, text FROM documents
                  UNION ALL
                  SELECT doc_id + 100000, substring(text, 1, CAST(FLOOR(n_chars * 0.8D) AS INT))
                  FROM documents) aug) t""").localCheckpoint()
    sigs.createOrReplaceTempView("t39_sigs")
    s.sql("""
      WITH bands AS (
        SELECT id, b, graft_hash(concat_ws(',', transform(slice(sig, b * 4 + 1, 4), x -> CAST(x AS STRING)))) AS bkey
        FROM t39_sigs LATERAL VIEW explode(sequence(0, 3)) bt AS b),
      cand AS (
        SELECT DISTINCT x.id AS i, y.id AS j
        FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.id < y.id),
      scored AS (
        SELECT least(si.split, sj.split) AS split_a, greatest(si.split, sj.split) AS split_b,
               CASE WHEN c.j = c.i + 100000 THEN 1 ELSE 0 END AS planted,
               CASE WHEN graft_jaccard(si.ng, sj.ng) >= 0.5D THEN 1 ELSE 0 END AS confirmed
        FROM cand c JOIN t39_sigs si ON si.id = c.i JOIN t39_sigs sj ON sj.id = c.j
        WHERE si.split != sj.split)
      SELECT split_a, split_b, COUNT(*) AS n_cand,
             SUM(planted) AS n_planted, SUM(confirmed) AS n_confirmed
      FROM scored GROUP BY split_a, split_b ORDER BY split_a, split_b""")
  }

  private val t39Duck = """
    WITH aug AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, substr(text, 1, CAST(FLOOR(n_chars * 0.8::DOUBLE) AS INT)) FROM documents),
    sigs AS (
      SELECT id,
             list_transform(range(0, 16), k -> coalesce(list_min(list_transform(
               list_transform(ng, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT),
               x -> (((k + 1) * 1000003 % 16777216) * x + k * 30011 + 1) % 4294967311)), 4294967311)) AS sig,
             ng,
             CASE WHEN ('0x' || substr(md5(id::VARCHAR || ':split'), 1, 8))::BIGINT % 100 < 80 THEN 'train'
                  WHEN ('0x' || substr(md5(id::VARCHAR || ':split'), 1, 8))::BIGINT % 100 < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM (SELECT id,
              CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 3
                THEN list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 3 + 2),
                       i -> array_to_string(array_slice(string_split_regex(trim(text), '\s+'), i, i + 2), ' '))
                ELSE [] END AS ng
            FROM aug) augng),
    bands AS (
      SELECT id, split, b,
             ('0x' || substr(md5(array_to_string(list_transform(
                array_slice(sig, b * 4 + 1, b * 4 + 4), x -> x::VARCHAR), ',')), 1, 8))::BIGINT AS bkey
      FROM sigs, (SELECT unnest(range(0, 4)) AS b) bs),
    cand AS (
      SELECT DISTINCT x.id AS i, y.id AS j
      FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.id < y.id),
    scored AS (
      SELECT LEAST(si.split, sj.split) AS split_a, GREATEST(si.split, sj.split) AS split_b,
             CASE WHEN c.j = c.i + 100000 THEN 1 ELSE 0 END AS planted,
             CASE WHEN (CASE WHEN len(list_distinct(list_concat(si.ng, sj.ng))) = 0 THEN 0.0::DOUBLE
                             ELSE len(list_intersect(si.ng, sj.ng)) / len(list_distinct(list_concat(si.ng, sj.ng))) END) >= 0.5::DOUBLE
                  THEN 1 ELSE 0 END AS confirmed
      FROM cand c JOIN sigs si ON si.id = c.i JOIN sigs sj ON sj.id = c.j
      WHERE si.split != sj.split)
    SELECT split_a, split_b, COUNT(*)::BIGINT AS n_cand,
           SUM(planted)::BIGINT AS n_planted, SUM(confirmed)::BIGINT AS n_confirmed
    FROM scored GROUP BY split_a, split_b ORDER BY split_a, split_b"""

  /** Minhash estimator calibration (t27): the text-side analog of the
    * e05/e08 ANN recall gates — for every LSH candidate pair, the
    * signature-agreement estimate of Jaccard (matching positions / 16,
    * the MinHash unbiased estimator) side-by-side with the EXACT shingle
    * Jaccard, so estimator drift (a broken permutation, a biased hash) is
    * a hash mismatch, not a silent recall regression. Same aug corpus and
    * banding as t07 (80%-prefix twins are the known-similar pairs); both
    * surfaced doubles are single divisions of exact integers, so the
    * DuckDB replay is bit-identical. Bounded output: one row per
    * candidate pair. */
  private def t27Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val sigs = s.sql("""
      SELECT id, graft_minhash_sigs(ng, 16) AS sig, ng
      FROM (SELECT /*+ REPARTITION(64) */ id, graft_shingles(text, 3) AS ng
            FROM (SELECT doc_id AS id, text FROM documents
                  UNION ALL
                  SELECT doc_id + 100000, substring(text, 1, CAST(FLOOR(n_chars * 0.8D) AS INT))
                  FROM documents) aug) t""").localCheckpoint()
    sigs.createOrReplaceTempView("t27_sigs")
    s.sql("""
      WITH bands AS (
        SELECT id, b, graft_hash(concat_ws(',', transform(slice(sig, b * 4 + 1, 4), x -> CAST(x AS STRING)))) AS bkey
        FROM t27_sigs LATERAL VIEW explode(sequence(0, 3)) bt AS b),
      cand AS (
        SELECT DISTINCT x.id AS i, y.id AS j
        FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.id < y.id),
      pairs AS (
        SELECT c.i, c.j,
               size(filter(zip_with(si.sig, sj.sig, (x, y) -> x = y), v -> v)) AS sig_matches,
               graft_jaccard(si.ng, sj.ng) AS jac
        FROM cand c JOIN t27_sigs si ON si.id = c.i JOIN t27_sigs sj ON sj.id = c.j)
      SELECT i, j, CAST(sig_matches AS BIGINT) AS sig_matches,
             ROUND(sig_matches / 16.0D, 6) AS est_jaccard,
             ROUND(jac, 6) AS exact_jaccard
      FROM pairs ORDER BY i, j""")
  }

  private val t27Duck = """
    WITH aug AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, substr(text, 1, CAST(FLOOR(n_chars * 0.8::DOUBLE) AS INT)) FROM documents),
    sigs AS (
      SELECT id,
             list_transform(range(0, 16), k -> coalesce(list_min(list_transform(
               list_transform(ng, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT),
               x -> (((k + 1) * 1000003 % 16777216) * x + k * 30011 + 1) % 4294967311)), 4294967311)) AS sig,
             ng
      FROM (SELECT id,
              CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 3
                THEN list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 3 + 2),
                       i -> array_to_string(array_slice(string_split_regex(trim(text), '\s+'), i, i + 2), ' '))
                ELSE [] END AS ng
            FROM aug) augng),
    bands AS (
      SELECT id, b,
             ('0x' || substr(md5(array_to_string(list_transform(
                array_slice(sig, b * 4 + 1, b * 4 + 4), x -> x::VARCHAR), ',')), 1, 8))::BIGINT AS bkey
      FROM sigs, (SELECT unnest(range(0, 4)) AS b) bs),
    cand AS (
      SELECT DISTINCT x.id AS i, y.id AS j
      FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.id < y.id),
    pairs AS (
      SELECT c.i, c.j,
             len(list_filter(list_transform(range(1, 17), idx -> si.sig[idx] = sj.sig[idx]), v -> v)) AS sig_matches,
             CASE WHEN len(list_distinct(list_concat(si.ng, sj.ng))) = 0 THEN 0.0::DOUBLE
                  ELSE len(list_intersect(si.ng, sj.ng)) / len(list_distinct(list_concat(si.ng, sj.ng))) END AS jac
      FROM cand c JOIN sigs si ON si.id = c.i JOIN sigs sj ON sj.id = c.j)
    SELECT i::BIGINT AS i, j::BIGINT AS j, sig_matches::BIGINT AS sig_matches,
           ROUND(sig_matches / 16.0, 6) AS est_jaccard,
           ROUND(jac, 6) AS exact_jaccard
    FROM pairs ORDER BY i, j"""

  private val t07Duck = """
    WITH aug AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, substr(text, 1, CAST(FLOOR(n_chars * 0.8::DOUBLE) AS INT)) FROM documents),
    sigs AS (
      SELECT id,
             list_transform(range(0, 16), k -> coalesce(list_min(list_transform(
               list_transform(ng, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT),
               x -> (((k + 1) * 1000003 % 16777216) * x + k * 30011 + 1) % 4294967311)), 4294967311)) AS sig,
             ng
      FROM (SELECT id,
              CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 3
                THEN list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 3 + 2),
                       i -> array_to_string(array_slice(string_split_regex(trim(text), '\s+'), i, i + 2), ' '))
                ELSE [] END AS ng
            FROM aug) augng),
    bands AS (
      SELECT id, b,
             ('0x' || substr(md5(array_to_string(list_transform(
                array_slice(sig, b * 4 + 1, b * 4 + 4), x -> x::VARCHAR), ',')), 1, 8))::BIGINT AS bkey
      FROM sigs, (SELECT unnest(range(0, 4)) AS b) bs),
    cand AS (
      SELECT DISTINCT x.id AS i, y.id AS j
      FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.id < y.id)
    SELECT COUNT(*)::BIGINT AS n_cand,
           SUM(CASE WHEN j = i + 100000 THEN 1 ELSE 0 END)::BIGINT AS planted,
           SUM(CASE WHEN jac >= 0.5::DOUBLE THEN 1 ELSE 0 END)::BIGINT AS verified
    FROM (SELECT c.i, c.j,
                 CASE WHEN len(list_distinct(list_concat(si.ng, sj.ng))) = 0 THEN 0.0::DOUBLE
                      ELSE len(list_intersect(si.ng, sj.ng)) / len(list_distinct(list_concat(si.ng, sj.ng))) END AS jac
          FROM cand c JOIN sigs si ON si.id = c.i JOIN sigs sj ON sj.id = c.j) t"""

  // ── embedding similarity search ───────────────────────────────────────

  /** Embedding-cosine near-dup dedup: LSH-bucketed candidate join, cosine
    * threshold, keep-min-id canonical, removal accounting. The corpus has no
    * natural near-dups (max pairwise cosine < 0.7), so duplicates are
    * planted deterministically (every third vector re-appears under
    * vec_id+1000) — identical embeddings make the threshold decision
    * FP-exact while the natural pairs stay far below it, so the oracle is
    * closed-form. Scale path: 12-bit seeded random-hyperplane buckets
    * (graft_bucketk — data-independent, so no corpus can collapse it into
    * one quadratic bucket; cardinality 2^12 per band grows shuffle
    * parallelism with the data) × 2 independent bands (seeds 1,2 — the t07
    * minhash-band recall pattern; identical vectors collide in every band,
    * so planted-dup recall stays exact and the GROUP BY dedups cross-band
    * repeats). The equi-join shuffles on (band, bucket) — no cross join;
    * e01 separately value-checks the cosine math. */
  private val t08Spark = """
    WITH base AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e, label
                  FROM embeddings),
    v AS (SELECT vec_id, e, label, sqrt(graft_dot(e, e)) AS nrm
          FROM (SELECT * FROM base
                UNION ALL
                SELECT vec_id + 1000 AS vec_id, e, label FROM base WHERE vec_id % 3 = 0)),
    banded AS (SELECT vec_id, e, label, nrm, band, graft_bucketk(e, 12, band) AS bucket
               FROM v CROSS JOIN (SELECT 1 AS band UNION ALL SELECT 2) bands),
    pairs AS (SELECT b.vec_id AS dup_id, b.label AS label
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
              WHERE graft_dot(a.e, b.e) / (a.nrm * b.nrm) >= 0.9999),
    removed AS (SELECT dup_id, label FROM pairs GROUP BY dup_id, label),
    totals AS (SELECT label, COUNT(*) AS n_total FROM v GROUP BY label)
    SELECT t.label, t.n_total,
           COUNT(r.dup_id) AS n_removed,
           COALESCE(SUM(r.dup_id), 0) AS sum_removed
    FROM totals t LEFT JOIN removed r ON r.label = t.label
    GROUP BY t.label, t.n_total ORDER BY t.label"""

  private val t08Duck = """
    SELECT label,
           (COUNT(*) + SUM(CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0 END))::BIGINT AS n_total,
           SUM(CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_removed,
           SUM(CASE WHEN vec_id % 3 = 0 THEN vec_id + 1000 ELSE 0 END)::BIGINT AS sum_removed
    FROM embeddings GROUP BY label ORDER BY label"""

  private val e01Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
               FROM embeddings),
    pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     graft_dot(q.e, c.e) / (q.nrm * c.nrm) AS cos
              FROM (SELECT * FROM v WHERE vec_id < 8) q
              JOIN v c ON c.vec_id != q.vec_id)
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, ROUND(cos, 6) AS cos
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
          FROM pairs) t
    WHERE rnk <= 5 ORDER BY query_id, rnk"""

  private val e01Duck = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> q.e[i] * c.e[i])), (x, y) -> x + y)
             / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> q.e[i] * q.e[i])), (x, y) -> x + y))
                * sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(c.e) + 1), i -> c.e[i] * c.e[i])), (x, y) -> x + y))) AS cos
      FROM (SELECT * FROM v WHERE vec_id < 8) q
      JOIN v c ON c.vec_id != q.vec_id)
    SELECT query_id, neighbor_id, rnk::BIGINT AS rnk, ROUND(cos, 6) AS cos
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
          FROM pairs) t
    WHERE rnk <= 5 ORDER BY query_id, rnk"""

  private val e02Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm,
                      graft_bucketk(graft_vec(embedding), 8, 7) AS bucket FROM embeddings),
    pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket AS bucket,
                     graft_dot(q.e, c.e) / (q.nrm * c.nrm) AS cos
              FROM (SELECT * FROM v WHERE vec_id < 8) q
              JOIN v c ON c.bucket = q.bucket AND c.vec_id != q.vec_id)
    SELECT query_id, neighbor_id, bucket, CAST(rnk AS BIGINT) AS rnk, ROUND(cos, 6) AS cos
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
          FROM pairs) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  private val e02Duck = """
    WITH planes AS (
      SELECT j, list_transform(list_transform(list_transform(list_transform(
               range(0, 64), i -> ((7 * 1000003 + j * 4099 + i) % 2147483648 * 2654435761) % 2147483648),
               h -> xor(h, h >> 15)),
               h -> (h * 2246822519) % 2147483648),
               h -> (xor(h, h >> 13) - 1073741824)::DOUBLE) AS w
      FROM (SELECT unnest(range(0, 8)) AS j) js),
    ve AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    vb AS (SELECT vec_id, e,
                  SUM(CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
                        list_transform(range(1, len(e) + 1), i -> e[i] * w[i])), (x, y) -> x + y) > 0.0::DOUBLE
                      THEN (1::BIGINT << j) ELSE 0::BIGINT END)::BIGINT AS bucket
           FROM ve CROSS JOIN planes GROUP BY vec_id, e),
    v AS (SELECT vec_id, e, bucket FROM vb),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket AS bucket,
             list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> q.e[i] * c.e[i])), (x, y) -> x + y)
             / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> q.e[i] * q.e[i])), (x, y) -> x + y))
                * sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(c.e) + 1), i -> c.e[i] * c.e[i])), (x, y) -> x + y))) AS cos
      FROM (SELECT * FROM v WHERE vec_id < 8) q
      JOIN v c ON c.bucket = q.bucket AND c.vec_id != q.vec_id)
    SELECT query_id, neighbor_id, bucket, rnk::BIGINT AS rnk, ROUND(cos, 6) AS cos
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
          FROM pairs) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  private val e03Spark = """
    SELECT bucket, COUNT(*) AS n, COUNT(DISTINCT label) AS n_labels
    FROM (SELECT /*+ REPARTITION({{P}}) */ graft_bucketk(graft_vec(embedding), 10, 42) AS bucket, label FROM embeddings) t
    GROUP BY bucket ORDER BY bucket"""

  private val e03Duck = """
    WITH planes AS (
      SELECT j, list_transform(list_transform(list_transform(list_transform(
               range(0, 64), i -> ((42 * 1000003 + j * 4099 + i) % 2147483648 * 2654435761) % 2147483648),
               h -> xor(h, h >> 15)),
               h -> (h * 2246822519) % 2147483648),
               h -> (xor(h, h >> 13) - 1073741824)::DOUBLE) AS w
      FROM (SELECT unnest(range(0, 10)) AS j) js),
    ve AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    vb AS (SELECT vec_id, ANY_VALUE(label) AS label,
                  SUM(CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
                        list_transform(range(1, len(e) + 1), i -> e[i] * w[i])), (x, y) -> x + y) > 0.0::DOUBLE
                      THEN (1::BIGINT << j) ELSE 0::BIGINT END)::BIGINT AS bucket
           FROM ve CROSS JOIN planes GROUP BY vec_id, e)
    SELECT bucket, COUNT(*)::BIGINT AS n, COUNT(DISTINCT label)::BIGINT AS n_labels
    FROM vb GROUP BY bucket ORDER BY bucket"""

  // ── time-series joins & sessionization (batch analogs of streaming/) ──

  /** As-of join through [[graft.operators.AsofJoin]]: every 'view' event
    * matched to the user's latest preceding (or simultaneous) 'click'.
    * One shuffle on user_id (union-and-window — see AsofJoin scaladoc for
    * the 100 TB argument); the oracle is DuckDB's native ASOF LEFT JOIN.
    * Aggregated per user so the result is small and FP-exact (decimal sums,
    * integral microsecond lags). */
  private def a01Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val v = s.sql("SELECT user_id, ts, value FROM events WHERE event_type = 'view'")
    val c = s.sql("SELECT user_id, ts, value FROM events WHERE event_type = 'click'")
    graft.operators.AsofJoin.asof(v, c, Seq("user_id"), "ts", "ts", Seq("value"), prefix = "click_")
      .createOrReplaceTempView("a01_asof")
    s.sql("""
      SELECT user_id,
             COUNT(*) AS n_views,
             COUNT(click_ts) AS n_matched,
             CAST(COALESCE(ROUND(SUM(CAST(click_value AS DECIMAL(18,6))), 2), 0) AS DOUBLE) AS sum_click_val,
             COALESCE(MAX(unix_micros(ts) - unix_micros(click_ts)), 0) AS max_lag_us
      FROM a01_asof GROUP BY user_id ORDER BY user_id""")
  }

  private val a01Duck = """
    WITH v AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view'),
         c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT v.user_id,
           COUNT(*)::BIGINT AS n_views,
           COUNT(c.ts)::BIGINT AS n_matched,
           COALESCE(ROUND(SUM(CAST(c.value AS DECIMAL(18,6))), 2), 0)::DOUBLE AS sum_click_val,
           COALESCE(MAX(epoch_us(v.ts) - epoch_us(c.ts)), 0)::BIGINT AS max_lag_us
    FROM v ASOF LEFT JOIN c ON v.user_id = c.user_id AND v.ts >= c.ts
    GROUP BY v.user_id ORDER BY v.user_id"""

  /** Forward as-of join with tolerance (a03): every 'view' matched to the
    * user's EARLIEST following click within 10 minutes — the attribution
    * shape (pandas `merge_asof(direction='forward', tolerance=...)`),
    * exercising the two [[graft.operators.AsofJoin]] modes a01 does not:
    * forward scan order and the tolerance null-out (inclusive bound, so a
    * click exactly 600 s later still matches). Same single-shuffle
    * union-and-window topology as a01. The oracle is DuckDB's native ASOF
    * LEFT JOIN in the <= direction with the tolerance applied as a
    * post-filter — exactly the operator's documented semantics (nearest
    * match dropped when too far, never replaced by a farther one). */
  private def a03Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val v = s.sql("SELECT user_id, ts, value FROM events WHERE event_type = 'view'")
    val c = s.sql("SELECT user_id, ts, value FROM events WHERE event_type = 'click'")
    graft.operators.AsofJoin.asof(v, c, Seq("user_id"), "ts", "ts", Seq("value"),
        prefix = "click_", direction = "forward", toleranceMicros = Some(600000000L))
      .createOrReplaceTempView("a03_asof")
    s.sql("""
      SELECT user_id,
             COUNT(*) AS n_views,
             COUNT(click_ts) AS n_matched,
             CAST(COALESCE(ROUND(SUM(CAST(click_value AS DECIMAL(18,6))), 2), 0) AS DOUBLE) AS sum_click_val,
             COALESCE(MAX(unix_micros(click_ts) - unix_micros(ts)), 0) AS max_lead_us
      FROM a03_asof GROUP BY user_id ORDER BY user_id""")
  }

  private val a03Duck = """
    WITH v AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view'),
         c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
    raw AS (SELECT v.user_id, v.ts, c.ts AS cts, c.value AS cval
            FROM v ASOF LEFT JOIN c ON v.user_id = c.user_id AND v.ts <= c.ts),
    f AS (SELECT user_id, ts,
                 CASE WHEN cts IS NOT NULL AND epoch_us(cts) - epoch_us(ts) <= 600000000
                      THEN cts END AS cts,
                 CASE WHEN cts IS NOT NULL AND epoch_us(cts) - epoch_us(ts) <= 600000000
                      THEN cval END AS cval
          FROM raw)
    SELECT user_id, COUNT(*)::BIGINT AS n_views, COUNT(cts)::BIGINT AS n_matched,
           COALESCE(ROUND(SUM(CAST(cval AS DECIMAL(18,6))), 2), 0)::DOUBLE AS sum_click_val,
           COALESCE(MAX(epoch_us(cts) - epoch_us(ts)), 0)::BIGINT AS max_lead_us
    FROM f GROUP BY user_id ORDER BY user_id"""

  /** Interval join through [[graft.operators.RangeJoin]]: every click
    * matched to ALL views in the preceding 10 minutes — deliberately
    * key-less, the shape Spark itself would plan as an O(n·m)
    * BroadcastNestedLoopJoin. The operator band-buckets both sides and
    * shuffles on the bucket id instead (see RangeJoin scaladoc for the
    * 100 TB argument). Aggregated per hour; DuckDB's native inequality
    * join is the oracle. */
  private def a02Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val clicks = s.sql("SELECT event_id, ts FROM events WHERE event_type = 'click'")
    val vw = s.sql("SELECT ts AS vts, value FROM events WHERE event_type = 'view'")
    graft.operators.RangeJoin.interval(clicks, vw, Nil, "ts", "vts",
        -600000000L, 0L, Seq("value"), prefix = "v_")
      .createOrReplaceTempView("a02_rj")
    s.sql("""
      SELECT date_trunc('hour', ts) AS hr,
             COUNT(DISTINCT event_id) AS n_clicks,
             COUNT(*) AS n_pairs,
             CAST(ROUND(SUM(CAST(v_value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_view_val,
             MAX(unix_micros(ts) - unix_micros(v_vts)) AS max_lag_us
      FROM a02_rj GROUP BY 1 ORDER BY hr""")
  }

  private val a02Duck = """
    WITH c AS (SELECT event_id, ts FROM events WHERE event_type = 'click'),
         v AS (SELECT ts AS vts, value FROM events WHERE event_type = 'view')
    SELECT date_trunc('hour', c.ts) AS hr,
           COUNT(DISTINCT c.event_id)::BIGINT AS n_clicks,
           COUNT(*)::BIGINT AS n_pairs,
           ROUND(SUM(CAST(v.value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_view_val,
           MAX(epoch_us(c.ts) - epoch_us(v.vts))::BIGINT AS max_lag_us
    FROM c JOIN v ON v.vts BETWEEN c.ts - INTERVAL 10 MINUTE AND c.ts
    GROUP BY 1 ORDER BY hr"""

  /** Keyed interval join (a04): per-user view→click attribution within
    * [ts, ts+10min] through [[graft.operators.RangeJoin]]'s KEYED path —
    * a02 exercises the key-less band-bucket topology, this pins the
    * compound (key, band) shuffle key the operator uses when an equi-key
    * exists (the batch analog of s05's symmetric-hash stream join; at
    * scale the key bounds each band-bucket's population, which is what
    * keeps hot time-bands from concentrating on one task). DuckDB's
    * native key+inequality join is the oracle. */
  private def a04Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val v = s.sql("SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'")
    val c = s.sql("SELECT user_id, ts AS cts, value FROM events WHERE event_type = 'click'")
    graft.operators.RangeJoin.interval(v, c, Seq("user_id"), "ts", "cts",
        0L, 600000000L, Seq("value"), prefix = "c_")
      .createOrReplaceTempView("a04_rj")
    s.sql("""
      SELECT user_id,
             COUNT(*) AS n_pairs,
             COUNT(DISTINCT event_id) AS n_views,
             CAST(ROUND(SUM(CAST(c_value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_click_val,
             MAX(unix_micros(c_cts) - unix_micros(ts)) AS max_lead_us
      FROM a04_rj GROUP BY user_id ORDER BY user_id""")
  }

  private val a04Duck = """
    WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
         c AS (SELECT user_id, ts AS cts, value FROM events WHERE event_type = 'click')
    SELECT v.user_id,
           COUNT(*)::BIGINT AS n_pairs,
           COUNT(DISTINCT v.event_id)::BIGINT AS n_views,
           ROUND(SUM(CAST(c.value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_click_val,
           MAX(epoch_us(c.cts) - epoch_us(v.ts))::BIGINT AS max_lead_us
    FROM v JOIN c ON c.user_id = v.user_id
      AND c.cts BETWEEN v.ts AND v.ts + INTERVAL 10 MINUTE
    GROUP BY v.user_id ORDER BY v.user_id"""

  /** Batch gaps-and-islands sessionization (4 h inactivity gap) — the batch
    * analog of streaming/StreamOps.sessionize, oracle-checked (the streaming
    * path is spec-checked; this pins the session semantics cross-engine).
    * Scale shape: two stacked windows + one aggregation, all partitioned by
    * user_id — a single shuffle, no self-join. */
  private val s01Spark = """
    WITH e AS (SELECT user_id, unix_micros(ts) AS tus FROM events),
    d AS (SELECT user_id, tus,
            CASE WHEN LAG(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
                   OR tus - LAG(tus) OVER (PARTITION BY user_id ORDER BY tus) > 14400000000
                 THEN 1 ELSE 0 END AS is_new
          FROM e),
    s AS (SELECT user_id, tus,
            SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM d),
    sess AS (SELECT user_id, sid, COUNT(*) AS n_events,
                    (MAX(tus) - MIN(tus)) DIV 1000000 AS dur_s
             FROM s GROUP BY user_id, sid)
    SELECT user_id, COUNT(*) AS n_sessions,
           SUM(n_events) AS n_events,
           MAX(n_events) AS max_session_events,
           MAX(dur_s) AS max_session_dur_s,
           SUM(dur_s) AS total_dur_s
    FROM sess GROUP BY user_id ORDER BY user_id"""

  private val s01Duck = """
    WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
    d AS (SELECT user_id, tus,
            CASE WHEN LAG(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
                   OR tus - LAG(tus) OVER (PARTITION BY user_id ORDER BY tus) > 14400000000
                 THEN 1 ELSE 0 END AS is_new
          FROM e),
    s AS (SELECT user_id, tus,
            SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM d),
    sess AS (SELECT user_id, sid, COUNT(*) AS n_events,
                    (MAX(tus) - MIN(tus)) // 1000000 AS dur_s
             FROM s GROUP BY user_id, sid)
    SELECT user_id, COUNT(*)::BIGINT AS n_sessions,
           SUM(n_events)::BIGINT AS n_events,
           MAX(n_events)::BIGINT AS max_session_events,
           MAX(dur_s)::BIGINT AS max_session_dur_s,
           SUM(dur_s)::BIGINT AS total_dur_s
    FROM sess GROUP BY user_id ORDER BY user_id"""

  /** IVF-style ANN (e04): coarse-quantize every vector to its nearest of K
    * deterministic centroids (the first 4 vectors), then search the
    * query's nProbe = 2 closest lists (round 10; was nearest-list-only).
    * The 100 TB topology: centroids broadcast (tiny), assignment is
    * map-side, candidate generation is an equi-join on (probed) list id —
    * the shuffle stays keyed by list, never all-pairs; nProbe scales
    * recall against probe cost linearly and e05 gates the trade. e01 is
    * the brute-force recall baseline for this. */
  private val e04Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
               FROM embeddings),
    c AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM v WHERE vec_id < 4),
    asgn AS (SELECT vec_id, e, nrm, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY graft_dot(e, ce) / (nrm * cnrm) DESC, cid) AS rn
             FROM v CROSS JOIN c),
    a AS (SELECT vec_id, e, nrm, cid AS list_id FROM asgn WHERE rn = 1),
    qp AS (SELECT vec_id, e, nrm, cid AS probe_list FROM asgn
           WHERE rn <= 2 AND vec_id >= 8 AND vec_id < 16),
    pairs AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id, x.list_id AS list_id,
                     graft_dot(q.e, x.e) / (q.nrm * x.nrm) AS cos
              FROM qp q
              JOIN a x ON x.list_id = q.probe_list AND x.vec_id != q.vec_id)
    SELECT query_id, neighbor_id, list_id, CAST(rnk AS BIGINT) AS rnk, ROUND(cos, 6) AS cos
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
          FROM pairs) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  private val e04Duck = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    n AS (SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * e[i])), (x, y) -> x + y)) AS nrm
          FROM v),
    c AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM n WHERE vec_id < 4),
    asgn AS (SELECT vec_id, e, nrm, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * ce[i])), (x, y) -> x + y) / (nrm * cnrm) DESC, cid) AS rn
             FROM n CROSS JOIN c),
    a AS (SELECT vec_id, e, nrm, cid AS list_id FROM asgn WHERE rn = 1),
    qp AS (SELECT vec_id, e, nrm, cid AS probe_list FROM asgn
           WHERE rn <= 2 AND vec_id >= 8 AND vec_id < 16),
    pairs AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id, x.list_id AS list_id,
                     list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> q.e[i] * x.e[i])), (x, y) -> x + y) / (q.nrm * x.nrm) AS cos
              FROM qp q
              JOIN a x ON x.list_id = q.probe_list AND x.vec_id != q.vec_id)
    SELECT query_id, neighbor_id, list_id, rnk::BIGINT AS rnk, ROUND(cos, 6) AS cos
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
          FROM pairs) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  /** ANN quality evaluation: recall@3 of the IVF path (e04's nProbe=2
    * search) against the exact brute-force top-3 — the standard offline
    * eval for an approximate index. The exact side is bounded by the
    * 8-query set (the same deliberate bound as e01); the ANN side is the
    * equi-joined IVF topology, so the whole eval stays shuffle-keyed.
    * Recall can still fall short of 1 (the gate's point): neighbors in
    * lists beyond the two probed stay invisible. */
  private val e05Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
               FROM embeddings),
    ex3 AS (SELECT query_id, neighbor_id FROM (
              SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY graft_dot(q.e, x.e) / (q.nrm * x.nrm) DESC, x.vec_id) AS rnk
              FROM (SELECT * FROM v WHERE vec_id >= 8 AND vec_id < 16) q
              JOIN v x ON x.vec_id != q.vec_id) t WHERE rnk <= 3),
    c AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM v WHERE vec_id < 4),
    asgn AS (SELECT vec_id, e, nrm, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY graft_dot(e, ce) / (nrm * cnrm) DESC, cid) AS rn
             FROM v CROSS JOIN c),
    a AS (SELECT vec_id, e, nrm, cid AS list_id FROM asgn WHERE rn = 1),
    qp AS (SELECT vec_id, e, nrm, cid AS probe_list FROM asgn
           WHERE rn <= 2 AND vec_id >= 8 AND vec_id < 16),
    ann3 AS (SELECT query_id, neighbor_id FROM (
               SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY q.vec_id
                        ORDER BY graft_dot(q.e, x.e) / (q.nrm * x.nrm) DESC, x.vec_id) AS rnk
               FROM qp q
               JOIN a x ON x.list_id = q.probe_list AND x.vec_id != q.vec_id) t WHERE rnk <= 3)
    SELECT e.query_id, COUNT(a.neighbor_id) AS n_hit,
           ROUND(COUNT(a.neighbor_id) / 3.0D, 6) AS recall_at_3
    FROM ex3 e LEFT JOIN ann3 a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id"""

  private val e05Duck = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    n AS (SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * e[i])), (x, y) -> x + y)) AS nrm
          FROM v),
    ex3 AS (SELECT query_id, neighbor_id FROM (
              SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> q.e[i] * x.e[i])), (x, y) -> x + y) / (q.nrm * x.nrm) DESC, x.vec_id) AS rnk
              FROM (SELECT * FROM n WHERE vec_id >= 8 AND vec_id < 16) q
              JOIN n x ON x.vec_id != q.vec_id) t WHERE rnk <= 3),
    c AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM n WHERE vec_id < 4),
    asgn AS (SELECT vec_id, e, nrm, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * ce[i])), (x, y) -> x + y) / (nrm * cnrm) DESC, cid) AS rn
             FROM n CROSS JOIN c),
    a AS (SELECT vec_id, e, nrm, cid AS list_id FROM asgn WHERE rn = 1),
    qp AS (SELECT vec_id, e, nrm, cid AS probe_list FROM asgn
           WHERE rn <= 2 AND vec_id >= 8 AND vec_id < 16),
    ann3 AS (SELECT query_id, neighbor_id FROM (
               SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY q.vec_id
                        ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> q.e[i] * x.e[i])), (x, y) -> x + y) / (q.nrm * x.nrm) DESC, x.vec_id) AS rnk
               FROM qp q
               JOIN a x ON x.list_id = q.probe_list AND x.vec_id != q.vec_id) t WHERE rnk <= 3)
    SELECT e.query_id, COUNT(a.neighbor_id)::BIGINT AS n_hit,
           ROUND(COUNT(a.neighbor_id) / 3.0::DOUBLE, 6) AS recall_at_3
    FROM ex3 e LEFT JOIN ann3 a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id"""

  /** Product-quantization ADC search (e07): the compressed-domain ANN
    * standard (Jégou et al. 2011, "Product Quantization for Nearest
    * Neighbor Search"). The 64-d vectors split into M = 8 subspaces of 8
    * dims; each subspace gets a K = 4-entry codebook (training-free:
    * the first 4 vectors' subvectors — the e04 determinism trick, so the
    * DuckDB oracle regenerates it); every vector encodes to its
    * per-subspace argmin-L2 code. A query builds an M×K distance table
    * and scores the corpus by Asymmetric Distance Computation —
    * Σ_m dtable[m, code_m(x)] — then the ADC top-32 re-rank by exact L2
    * to a final top-3 (the standard refine step; e08 measures why the
    * pool is 32 — this corpus's subspaces quantize poorly under the
    * training-free codebook, so pure-ADC recall@3 is ~0.04 and the
    * refine pool does the lifting, ~0.29 at 32; production would train
    * codebooks with per-subspace k-means, traded away here for the
    * cross-engine bit-identical oracle).
    *
    * 100 TB topology: codes are M small ints per vector (8 codes ≈ 2
    * bytes vs 512 bytes of floats — the ADC scan reads ~256× fewer
    * bytes than a flat scan); distance tables are Q×M×K rows (tiny →
    * broadcast side of the ADC equi-join on (m, code)); the refine
    * fetches full vectors for ≤32 candidate ids per query via an id
    * equi-join. Nothing is ever all-pairs. The ADC sum pivots through
    * one MAX(CASE m=k) singleton per subspace added left-to-right —
    * a deterministic FP order both engines replay exactly (a bare
    * SUM over the group would be shuffle-order-dependent).
    *
    * SQL form: the per-(vec_id, m) window argmin mirrors e04's
    * assignment shape; a production build would broadcast the codebook
    * into a map-side argmin expression instead (no window shuffle) —
    * the window keys on (vec_id, m), never on pairs, so the shape
    * scales the same way e04 does. */
  private val e07Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e FROM embeddings),
    sub AS (SELECT vec_id, m, slice(e, m * 8 + 1, 8) AS sv
            FROM v LATERAL VIEW explode(sequence(0, 7)) t AS m),
    cb AS (SELECT m, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < 4),
    enc AS (SELECT vec_id, m, cid AS code FROM (
              SELECT s.vec_id, s.m, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY graft_l2(s.sv, c.cv), c.cid) AS rn
              FROM sub s JOIN cb c ON c.m = s.m) t WHERE rn = 1),
    qd AS (SELECT s.vec_id AS query_id, s.m, c.cid, graft_l2(s.sv, c.cv) AS dq
           FROM sub s JOIN cb c ON c.m = s.m
           WHERE s.vec_id >= 8 AND s.vec_id < 16),
    adc AS (SELECT /*+ BROADCAST(d) */ d.query_id, x.vec_id AS neighbor_id,
                   MAX(CASE WHEN d.m = 0 THEN d.dq END) + MAX(CASE WHEN d.m = 1 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 2 THEN d.dq END) + MAX(CASE WHEN d.m = 3 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 4 THEN d.dq END) + MAX(CASE WHEN d.m = 5 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 6 THEN d.dq END) + MAX(CASE WHEN d.m = 7 THEN d.dq END) AS adc_d
            FROM enc x JOIN qd d ON d.m = x.m AND d.cid = x.code
            WHERE x.vec_id != d.query_id
            GROUP BY d.query_id, x.vec_id),
    cand AS (SELECT query_id, neighbor_id, adc_d,
                    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d, neighbor_id) AS arnk
             FROM adc),
    ref AS (SELECT c.query_id, c.neighbor_id, c.adc_d, graft_l2(qv.e, xv.e) AS exact_d
            FROM cand c JOIN v qv ON qv.vec_id = c.query_id
                        JOIN v xv ON xv.vec_id = c.neighbor_id
            WHERE c.arnk <= 32)
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk,
           ROUND(adc_d, 6) AS adc_d, ROUND(exact_d, 6) AS exact_d
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY exact_d, neighbor_id) AS rnk
          FROM ref) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  private val e07Duck = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    sub AS (SELECT vec_id, m, e[m * 8 + 1 : m * 8 + 8] AS sv
            FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
    cb AS (SELECT m, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < 4),
    enc AS (SELECT vec_id, m, cid AS code FROM (
              SELECT s.vec_id, s.m, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(s.sv) + 1), i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))), (x, y) -> x + y), c.cid) AS rn
              FROM sub s JOIN cb c ON c.m = s.m) t WHERE rn = 1),
    qd AS (SELECT s.vec_id AS query_id, s.m, c.cid,
                  list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(s.sv) + 1), i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))), (x, y) -> x + y) AS dq
           FROM sub s JOIN cb c ON c.m = s.m
           WHERE s.vec_id >= 8 AND s.vec_id < 16),
    adc AS (SELECT d.query_id, x.vec_id AS neighbor_id,
                   MAX(CASE WHEN d.m = 0 THEN d.dq END) + MAX(CASE WHEN d.m = 1 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 2 THEN d.dq END) + MAX(CASE WHEN d.m = 3 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 4 THEN d.dq END) + MAX(CASE WHEN d.m = 5 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 6 THEN d.dq END) + MAX(CASE WHEN d.m = 7 THEN d.dq END) AS adc_d
            FROM enc x JOIN qd d ON d.m = x.m AND d.cid = x.code
            WHERE x.vec_id != d.query_id
            GROUP BY d.query_id, x.vec_id),
    cand AS (SELECT query_id, neighbor_id, adc_d,
                    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d, neighbor_id) AS arnk
             FROM adc),
    ref AS (SELECT c.query_id, c.neighbor_id, c.adc_d,
                   list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(qv.e) + 1), i -> (qv.e[i] - xv.e[i]) * (qv.e[i] - xv.e[i]))), (x, y) -> x + y) AS exact_d
            FROM cand c JOIN v qv ON qv.vec_id = c.query_id
                        JOIN v xv ON xv.vec_id = c.neighbor_id
            WHERE c.arnk <= 32)
    SELECT query_id, neighbor_id, rnk::BIGINT AS rnk,
           ROUND(adc_d, 6) AS adc_d, ROUND(exact_d, 6) AS exact_d
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY exact_d, neighbor_id) AS rnk
          FROM ref) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  /** PQ quality gate (e08): recall@3 of the PURE ADC ranking vs the
    * re-ranked pipeline (e07's ADC top-32 → exact-L2 top-3), both against
    * exact brute-force L2 top-3 — the two numbers that decide codebook
    * size / subspace count / refine pool before anyone trusts the
    * compressed scan. On this corpus pure ADC lands ~0.04 (subspaces
    * quantize poorly under the training-free 8×4 codebook — exactly what
    * the gate exists to expose) and the 32-wide refine lifts it to ~0.29:
    * the pool, not the codes, carries the recall here. Same harness shape
    * as e05 (IVF recall); the exact side stays bounded by the 8-query
    * probe set. */
  private val e08Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e FROM embeddings),
    sub AS (SELECT vec_id, m, slice(e, m * 8 + 1, 8) AS sv
            FROM v LATERAL VIEW explode(sequence(0, 7)) t AS m),
    cb AS (SELECT m, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < 4),
    enc AS (SELECT vec_id, m, cid AS code FROM (
              SELECT s.vec_id, s.m, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY graft_l2(s.sv, c.cv), c.cid) AS rn
              FROM sub s JOIN cb c ON c.m = s.m) t WHERE rn = 1),
    qd AS (SELECT s.vec_id AS query_id, s.m, c.cid, graft_l2(s.sv, c.cv) AS dq
           FROM sub s JOIN cb c ON c.m = s.m
           WHERE s.vec_id >= 8 AND s.vec_id < 16),
    adc AS (SELECT /*+ BROADCAST(d) */ d.query_id, x.vec_id AS neighbor_id,
                   MAX(CASE WHEN d.m = 0 THEN d.dq END) + MAX(CASE WHEN d.m = 1 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 2 THEN d.dq END) + MAX(CASE WHEN d.m = 3 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 4 THEN d.dq END) + MAX(CASE WHEN d.m = 5 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 6 THEN d.dq END) + MAX(CASE WHEN d.m = 7 THEN d.dq END) AS adc_d
            FROM enc x JOIN qd d ON d.m = x.m AND d.cid = x.code
            WHERE x.vec_id != d.query_id
            GROUP BY d.query_id, x.vec_id),
    ranked AS (SELECT query_id, neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d, neighbor_id) AS rnk
               FROM adc),
    ann3 AS (SELECT query_id, neighbor_id FROM ranked WHERE rnk <= 3),
    rr3 AS (SELECT query_id, neighbor_id FROM (
              SELECT c.query_id, c.neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY c.query_id
                       ORDER BY graft_l2(qv.e, xv.e), c.neighbor_id) AS rrnk
              FROM (SELECT query_id, neighbor_id FROM ranked WHERE rnk <= 32) c
              JOIN v qv ON qv.vec_id = c.query_id
              JOIN v xv ON xv.vec_id = c.neighbor_id) t WHERE rrnk <= 3),
    ex3 AS (SELECT query_id, neighbor_id FROM (
              SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY graft_l2(q.e, x.e), x.vec_id) AS rnk
              FROM (SELECT * FROM v WHERE vec_id >= 8 AND vec_id < 16) q
              JOIN v x ON x.vec_id != q.vec_id) t WHERE rnk <= 3)
    SELECT e.query_id,
           COUNT(a.neighbor_id) AS adc_hits,
           ROUND(COUNT(a.neighbor_id) / 3.0D, 6) AS adc_recall_at_3,
           COUNT(r.neighbor_id) AS rerank_hits,
           ROUND(COUNT(r.neighbor_id) / 3.0D, 6) AS rerank_recall_at_3
    FROM ex3 e
    LEFT JOIN ann3 a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    LEFT JOIN rr3 r ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id"""

  private val e08Duck = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    sub AS (SELECT vec_id, m, e[m * 8 + 1 : m * 8 + 8] AS sv
            FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
    cb AS (SELECT m, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < 4),
    enc AS (SELECT vec_id, m, cid AS code FROM (
              SELECT s.vec_id, s.m, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(s.sv) + 1), i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))), (x, y) -> x + y), c.cid) AS rn
              FROM sub s JOIN cb c ON c.m = s.m) t WHERE rn = 1),
    qd AS (SELECT s.vec_id AS query_id, s.m, c.cid,
                  list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(s.sv) + 1), i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))), (x, y) -> x + y) AS dq
           FROM sub s JOIN cb c ON c.m = s.m
           WHERE s.vec_id >= 8 AND s.vec_id < 16),
    adc AS (SELECT d.query_id, x.vec_id AS neighbor_id,
                   MAX(CASE WHEN d.m = 0 THEN d.dq END) + MAX(CASE WHEN d.m = 1 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 2 THEN d.dq END) + MAX(CASE WHEN d.m = 3 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 4 THEN d.dq END) + MAX(CASE WHEN d.m = 5 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 6 THEN d.dq END) + MAX(CASE WHEN d.m = 7 THEN d.dq END) AS adc_d
            FROM enc x JOIN qd d ON d.m = x.m AND d.cid = x.code
            WHERE x.vec_id != d.query_id
            GROUP BY d.query_id, x.vec_id),
    ranked AS (SELECT query_id, neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d, neighbor_id) AS rnk
               FROM adc),
    ann3 AS (SELECT query_id, neighbor_id FROM ranked WHERE rnk <= 3),
    rr3 AS (SELECT query_id, neighbor_id FROM (
              SELECT c.query_id, c.neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY c.query_id
                       ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(qv.e) + 1), i -> (qv.e[i] - xv.e[i]) * (qv.e[i] - xv.e[i]))), (x, y) -> x + y), c.neighbor_id) AS rrnk
              FROM (SELECT query_id, neighbor_id FROM ranked WHERE rnk <= 32) c
              JOIN v qv ON qv.vec_id = c.query_id
              JOIN v xv ON xv.vec_id = c.neighbor_id) t WHERE rrnk <= 3),
    ex3 AS (SELECT query_id, neighbor_id FROM (
              SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i]))), (x, y) -> x + y), x.vec_id) AS rnk
              FROM (SELECT * FROM v WHERE vec_id >= 8 AND vec_id < 16) q
              JOIN v x ON x.vec_id != q.vec_id) t WHERE rnk <= 3)
    SELECT e.query_id,
           COUNT(a.neighbor_id)::BIGINT AS adc_hits,
           ROUND(COUNT(a.neighbor_id) / 3.0::DOUBLE, 6) AS adc_recall_at_3,
           COUNT(r.neighbor_id)::BIGINT AS rerank_hits,
           ROUND(COUNT(r.neighbor_id) / 3.0::DOUBLE, 6) AS rerank_recall_at_3
    FROM ex3 e
    LEFT JOIN ann3 a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    LEFT JOIN rr3 r ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id"""

  /** IVF-PQ composite (e09): the production ANN architecture (FAISS
    * IVFPQ) — e04's coarse quantizer routes the search to nProbe = 2
    * inverted lists, and within the probed lists scoring runs in the
    * compressed domain via e07's PQ-ADC tables, then the ADC top-16
    * re-rank by exact L2. At 100 TB this is the shape that works: the
    * corpus scan is (a) PARTITION-pruned to the probed lists (e06 shows
    * the same pruning persisted) and (b) reads 2-byte codes, not 512-byte
    * vectors, inside them; distance tables stay broadcast; the refine
    * join touches ≤16 ids per query. Both quantizers reuse the
    * first-K-vectors determinism trick so the DuckDB oracle regenerates
    * the whole index bit-identically. */
  private val e09Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
               FROM embeddings),
    c AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM v WHERE vec_id < 4),
    asgn AS (SELECT vec_id, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY graft_dot(e, ce) / (nrm * cnrm) DESC, cid) AS rn
             FROM v CROSS JOIN c),
    a AS (SELECT vec_id, cid AS list_id FROM asgn WHERE rn = 1),
    qp AS (SELECT vec_id, cid AS probe_list FROM asgn
           WHERE rn <= 2 AND vec_id >= 8 AND vec_id < 16),
    sub AS (SELECT vec_id, m, slice(e, m * 8 + 1, 8) AS sv
            FROM v LATERAL VIEW explode(sequence(0, 7)) t AS m),
    cb AS (SELECT m, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < 4),
    enc AS (SELECT vec_id, m, cid AS code FROM (
              SELECT s.vec_id, s.m, k.cid,
                     ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY graft_l2(s.sv, k.cv), k.cid) AS rn
              FROM sub s JOIN cb k ON k.m = s.m) t WHERE rn = 1),
    qd AS (SELECT s.vec_id AS query_id, s.m, k.cid, graft_l2(s.sv, k.cv) AS dq
           FROM sub s JOIN cb k ON k.m = s.m
           WHERE s.vec_id >= 8 AND s.vec_id < 16),
    pairs AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id, x.list_id
              FROM qp q JOIN a x ON x.list_id = q.probe_list AND x.vec_id != q.vec_id),
    adc AS (SELECT /*+ BROADCAST(d) */ p.query_id, p.neighbor_id, p.list_id,
                   MAX(CASE WHEN d.m = 0 THEN d.dq END) + MAX(CASE WHEN d.m = 1 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 2 THEN d.dq END) + MAX(CASE WHEN d.m = 3 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 4 THEN d.dq END) + MAX(CASE WHEN d.m = 5 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 6 THEN d.dq END) + MAX(CASE WHEN d.m = 7 THEN d.dq END) AS adc_d
            FROM pairs p
            JOIN enc x ON x.vec_id = p.neighbor_id
            JOIN qd d ON d.query_id = p.query_id AND d.m = x.m AND d.cid = x.code
            GROUP BY p.query_id, p.neighbor_id, p.list_id),
    cand AS (SELECT query_id, neighbor_id, list_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d, neighbor_id) AS arnk
             FROM adc),
    ref AS (SELECT c2.query_id, c2.neighbor_id, c2.list_id, graft_l2(qv.e, xv.e) AS exact_d
            FROM cand c2 JOIN v qv ON qv.vec_id = c2.query_id
                         JOIN v xv ON xv.vec_id = c2.neighbor_id
            WHERE c2.arnk <= 16)
    SELECT query_id, neighbor_id, CAST(list_id AS BIGINT) AS list_id,
           CAST(rnk AS BIGINT) AS rnk, ROUND(exact_d, 6) AS exact_d
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY exact_d, neighbor_id) AS rnk
          FROM ref) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  private val e09Duck = """
    WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    v AS (SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * e[i])), (x, y) -> x + y)) AS nrm
          FROM v0),
    c AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM v WHERE vec_id < 4),
    asgn AS (SELECT vec_id, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * ce[i])), (x, y) -> x + y) / (nrm * cnrm) DESC, cid) AS rn
             FROM v CROSS JOIN c),
    a AS (SELECT vec_id, cid AS list_id FROM asgn WHERE rn = 1),
    qp AS (SELECT vec_id, cid AS probe_list FROM asgn
           WHERE rn <= 2 AND vec_id >= 8 AND vec_id < 16),
    sub AS (SELECT vec_id, m, e[m * 8 + 1 : m * 8 + 8] AS sv
            FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
    cb AS (SELECT m, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < 4),
    enc AS (SELECT vec_id, m, cid AS code FROM (
              SELECT s.vec_id, s.m, k.cid,
                     ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(s.sv) + 1), i -> (s.sv[i] - k.cv[i]) * (s.sv[i] - k.cv[i]))), (x, y) -> x + y), k.cid) AS rn
              FROM sub s JOIN cb k ON k.m = s.m) t WHERE rn = 1),
    qd AS (SELECT s.vec_id AS query_id, s.m, k.cid,
                  list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(s.sv) + 1), i -> (s.sv[i] - k.cv[i]) * (s.sv[i] - k.cv[i]))), (x, y) -> x + y) AS dq
           FROM sub s JOIN cb k ON k.m = s.m
           WHERE s.vec_id >= 8 AND s.vec_id < 16),
    pairs AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id, x.list_id
              FROM qp q JOIN a x ON x.list_id = q.probe_list AND x.vec_id != q.vec_id),
    adc AS (SELECT p.query_id, p.neighbor_id, p.list_id,
                   MAX(CASE WHEN d.m = 0 THEN d.dq END) + MAX(CASE WHEN d.m = 1 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 2 THEN d.dq END) + MAX(CASE WHEN d.m = 3 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 4 THEN d.dq END) + MAX(CASE WHEN d.m = 5 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 6 THEN d.dq END) + MAX(CASE WHEN d.m = 7 THEN d.dq END) AS adc_d
            FROM pairs p
            JOIN enc x ON x.vec_id = p.neighbor_id
            JOIN qd d ON d.query_id = p.query_id AND d.m = x.m AND d.cid = x.code
            GROUP BY p.query_id, p.neighbor_id, p.list_id),
    cand AS (SELECT query_id, neighbor_id, list_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d, neighbor_id) AS arnk
             FROM adc),
    ref AS (SELECT c2.query_id, c2.neighbor_id, c2.list_id,
                   list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(qv.e) + 1), i -> (qv.e[i] - xv.e[i]) * (qv.e[i] - xv.e[i]))), (x, y) -> x + y) AS exact_d
            FROM cand c2 JOIN v qv ON qv.vec_id = c2.query_id
                         JOIN v xv ON xv.vec_id = c2.neighbor_id
            WHERE c2.arnk <= 16)
    SELECT query_id, neighbor_id, list_id::BIGINT AS list_id,
           rnk::BIGINT AS rnk, ROUND(exact_d, 6) AS exact_d
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY exact_d, neighbor_id) AS rnk
          FROM ref) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  /** Scalar-quantization ANN (e10): the FAISS `SQ8` shape — every
    * dimension is affinely mapped onto an 8-bit integer grid using the
    * corpus per-dimension min/max ("training" = one 64-group partial
    * aggregate with map-side combine, broadcast back as two 64-entry
    * arrays), and the approximate search runs ENTIRELY in the integer
    * domain: symmetric distance = Σ_i (qcode_i − xcode_i)², a BIGINT —
    * no floating point anywhere in the compressed phase, so Spark and
    * the DuckDB oracle agree bit-for-bit with no rounding pivot at all
    * (PQ's e07 needs the MAX(CASE) FP-order trick; SQ8 doesn't). The
    * SQ top-32 then re-rank by exact L2 to a final top-3, same refine
    * shape as e07/e09.
    *
    * 100 TB topology: codes are 64 bytes/vector vs 512 bytes of
    * doubles — the compressed scan reads 8× fewer bytes (PQ reads
    * ~256× fewer but loses far more recall; SQ8 is the standard
    * middle point, and e07/e08/e09/e10 together span the
    * accuracy-vs-bytes spectrum a production deployment tunes over).
    * The dim-stats aggregate touches 64 keys regardless of corpus
    * size; the 8-query code table broadcasts into the scan; the
    * refine is a bounded id equi-join. Nothing is all-pairs. */
  private val e10Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e FROM embeddings),
    dims AS (SELECT i, MIN(element_at(e, i)) AS mn, MAX(element_at(e, i)) AS mx
             FROM v LATERAL VIEW explode(sequence(1, 64)) t AS i GROUP BY i),
    sarr AS (SELECT transform(array_sort(collect_list(struct(i, mn))), s -> s.mn) AS mn_arr,
                    transform(array_sort(collect_list(struct(i, mx))), s -> s.mx) AS mx_arr
             FROM dims),
    codes AS (SELECT /*+ BROADCAST(sarr) */ vec_id, e,
                     transform(sequence(1, 64), i -> CAST(
                       CASE WHEN element_at(mx_arr, i) = element_at(mn_arr, i) THEN 0.0
                            ELSE least(255.0, greatest(0.0,
                              floor((element_at(e, i) - element_at(mn_arr, i)) * 255.0
                                    / (element_at(mx_arr, i) - element_at(mn_arr, i)))))
                       END AS INT)) AS c
              FROM v CROSS JOIN sarr),
    qc AS (SELECT vec_id AS query_id, c AS q FROM codes WHERE vec_id >= 8 AND vec_id < 16),
    sq AS (SELECT /*+ BROADCAST(qc) */ qc.query_id, x.vec_id AS neighbor_id,
                  aggregate(zip_with(qc.q, x.c, (a, b) -> CAST((a - b) * (a - b) AS BIGINT)),
                            CAST(0 AS BIGINT), (acc, d) -> acc + d) AS sq_d
           FROM codes x JOIN qc ON x.vec_id != qc.query_id),
    cand AS (SELECT query_id, neighbor_id, sq_d,
                    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sq_d, neighbor_id) AS arnk
             FROM sq),
    ref AS (SELECT c2.query_id, c2.neighbor_id, c2.sq_d, graft_l2(qv.e, xv.e) AS exact_d
            FROM cand c2 JOIN v qv ON qv.vec_id = c2.query_id
                         JOIN v xv ON xv.vec_id = c2.neighbor_id
            WHERE c2.arnk <= 32)
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk,
           sq_d, ROUND(exact_d, 6) AS exact_d
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY exact_d, neighbor_id) AS rnk
          FROM ref) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  private val e10Duck = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    dims AS (SELECT i, MIN(e[i]) AS mn, MAX(e[i]) AS mx
             FROM v CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t GROUP BY i),
    sarr AS (SELECT list(mn ORDER BY i) AS mn_arr, list(mx ORDER BY i) AS mx_arr FROM dims),
    codes AS (SELECT vec_id, e,
                     list_transform(range(1, 65), i -> (
                       CASE WHEN mx_arr[i] = mn_arr[i] THEN 0.0
                            ELSE least(255.0, greatest(0.0,
                              floor((e[i] - mn_arr[i]) * 255.0 / (mx_arr[i] - mn_arr[i]))))
                       END)::INT) AS c
              FROM v CROSS JOIN sarr),
    qc AS (SELECT vec_id AS query_id, c AS q FROM codes WHERE vec_id >= 8 AND vec_id < 16),
    sq AS (SELECT qc.query_id, x.vec_id AS neighbor_id,
                  list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 65),
                    i -> ((qc.q[i] - x.c[i]) * (qc.q[i] - x.c[i]))::BIGINT)), (a, b) -> a + b) AS sq_d
           FROM codes x JOIN qc ON x.vec_id != qc.query_id),
    cand AS (SELECT query_id, neighbor_id, sq_d,
                    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sq_d, neighbor_id) AS arnk
             FROM sq),
    ref AS (SELECT c2.query_id, c2.neighbor_id, c2.sq_d,
                   list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(qv.e) + 1), i -> (qv.e[i] - xv.e[i]) * (qv.e[i] - xv.e[i]))), (x, y) -> x + y) AS exact_d
            FROM cand c2 JOIN v qv ON qv.vec_id = c2.query_id
                         JOIN v xv ON xv.vec_id = c2.neighbor_id
            WHERE c2.arnk <= 32)
    SELECT query_id, neighbor_id, rnk::BIGINT AS rnk,
           sq_d, ROUND(exact_d, 6) AS exact_d
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY exact_d, neighbor_id) AS rnk
          FROM ref) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  /** Persisted IVF index, build-once/probe-many (e06): e04's coarse
    * quantization written as a LIST-PARTITIONED parquet table (inverted
    * lists = partition directories, centroids alongside), then probed by
    * reading it back. The distinct probed lists of a query batch are
    * bounded by K, so collecting them is a metadata collect (the kNN
    * radius-seed pattern) and `list_id IN (…)` prunes index partitions
    * STATICALLY — probe IO is O(nProbe lists), not a corpus scan. At
    * 100 TB this is the lifecycle that matters: one build pass, then
    * every query batch touches only its lists. Results are pinned to be
    * byte-identical to the in-query e04 (persistence must not change
    * answers); the oracle is therefore e04's oracle. */
  private def e06Fn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    views(s, dir)
    val p = s.sparkContext.defaultParallelism
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_e06_" + java.util.UUID.randomUUID().toString.take(8)).getPath
    s.sql(s"""
      WITH v AS (SELECT /*+ REPARTITION($p) */ vec_id, graft_vec(embedding) AS e,
                        sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
                 FROM embeddings),
      c AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM v WHERE vec_id < 4),
      asgn AS (SELECT vec_id, e, nrm, cid,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY graft_dot(e, ce) / (nrm * cnrm) DESC, cid) AS rn
               FROM v CROSS JOIN c)
      SELECT vec_id, e, nrm, CAST(cid AS BIGINT) AS list_id
      FROM asgn WHERE rn = 1""")
      .write.partitionBy("list_id").parquet(out + "/lists")
    s.sql("""
      SELECT vec_id AS cid, graft_vec(embedding) AS ce,
             sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS cnrm
      FROM embeddings WHERE vec_id < 4""")
      .coalesce(1).write.parquet(out + "/centroids")
    // probe side: the query batch quantizes against the read-back centroids
    s.read.parquet(out + "/centroids").createOrReplaceTempView("e06_centroids")
    val qp = s.sql("""
      WITH q AS (SELECT vec_id, graft_vec(embedding) AS e,
                        sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
                 FROM embeddings WHERE vec_id >= 8 AND vec_id < 16)
      SELECT vec_id, e, nrm, cid AS probe_list FROM (
        SELECT q.vec_id, q.e, q.nrm, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY graft_dot(q.e, c.ce) / (q.nrm * c.cnrm) DESC, c.cid) AS rn
        FROM q CROSS JOIN e06_centroids c) t WHERE rn <= 2""")
    qp.createOrReplaceTempView("e06_probes")
    // ≤ K distinct lists per batch — bounded metadata collect, NOT data
    val probed = qp.select("probe_list").distinct().collect().map(_.getLong(0))
    s.read.parquet(out + "/lists")
      .where(col("list_id").isin(probed: _*))
      .withColumn("list_id", col("list_id").cast("bigint"))
      .createOrReplaceTempView("e06_index")
    s.sql("""
      WITH pairs AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id, x.list_id,
                            graft_dot(q.e, x.e) / (q.nrm * x.nrm) AS cos
                     FROM e06_probes q
                     JOIN e06_index x ON x.list_id = q.probe_list AND x.vec_id != q.vec_id)
      SELECT query_id, neighbor_id, list_id, CAST(rnk AS BIGINT) AS rnk, ROUND(cos, 6) AS cos
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
            FROM pairs) t
      WHERE rnk <= 3 ORDER BY query_id, rnk""")
  }

  /** IVF index maintenance (e16): the build-once / APPEND-deltas / probe
    * lifecycle — 90% of the corpus builds the persisted list-partitioned
    * index (e06's layout), the remaining 10% arrives later as a delta
    * batch quantized against the READ-BACK persisted centroids (no
    * retrain, no rebuild) and appended into the same list partitions; the
    * probe then reads the merged index. Results are pinned byte-identical
    * to the in-query e04 (and e06): an append must never change answers —
    * that is the invariant that makes incremental ingestion safe at
    * 100 TB, where rebuilding the index per batch is a non-starter.
    * Shuffle/IO topology is e06's: partition-pruned probe, bounded
    * metadata collect of ≤K probed lists. */
  private def e16Fn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    views(s, dir)
    val p = s.sparkContext.defaultParallelism
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_e16_" + java.util.UUID.randomUUID().toString.take(8)).getPath
    // build: main index from the 90% slice, centroids persisted alongside
    s.sql(s"""
      WITH v AS (SELECT /*+ REPARTITION($p) */ vec_id, graft_vec(embedding) AS e,
                        sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
                 FROM embeddings WHERE vec_id % 10 != 0),
      c AS (SELECT vec_id AS cid, graft_vec(embedding) AS ce,
                   sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS cnrm
            FROM embeddings WHERE vec_id < 4),
      asgn AS (SELECT vec_id, e, nrm, cid,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY graft_dot(e, ce) / (nrm * cnrm) DESC, cid) AS rn
               FROM v CROSS JOIN c)
      SELECT vec_id, e, nrm, CAST(cid AS BIGINT) AS list_id
      FROM asgn WHERE rn = 1""")
      .write.partitionBy("list_id").parquet(out + "/lists")
    s.sql("""
      SELECT vec_id AS cid, graft_vec(embedding) AS ce,
             sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS cnrm
      FROM embeddings WHERE vec_id < 4""")
      .coalesce(1).write.parquet(out + "/centroids")
    s.read.parquet(out + "/centroids").createOrReplaceTempView("e16_centroids")
    // delta: the late 10% quantizes against the PERSISTED centroids and
    // appends into the same list partitions — no retrain, no rebuild
    s.sql(s"""
      WITH d AS (SELECT /*+ REPARTITION($p) */ vec_id, graft_vec(embedding) AS e,
                        sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
                 FROM embeddings WHERE vec_id % 10 = 0),
      asgn AS (SELECT vec_id, e, nrm, cid,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY graft_dot(e, ce) / (nrm * cnrm) DESC, cid) AS rn
               FROM d CROSS JOIN e16_centroids)
      SELECT vec_id, e, nrm, CAST(cid AS BIGINT) AS list_id
      FROM asgn WHERE rn = 1""")
      .write.mode("append").partitionBy("list_id").parquet(out + "/lists")
    // probe the MERGED index exactly as e06 does
    val qp = s.sql("""
      WITH q AS (SELECT vec_id, graft_vec(embedding) AS e,
                        sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
                 FROM embeddings WHERE vec_id >= 8 AND vec_id < 16)
      SELECT vec_id, e, nrm, cid AS probe_list FROM (
        SELECT q.vec_id, q.e, q.nrm, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY graft_dot(q.e, c.ce) / (q.nrm * c.cnrm) DESC, c.cid) AS rn
        FROM q CROSS JOIN e16_centroids c) t WHERE rn <= 2""")
    qp.createOrReplaceTempView("e16_probes")
    val probed = qp.select("probe_list").distinct().collect().map(_.getLong(0))
    s.read.parquet(out + "/lists")
      .where(col("list_id").isin(probed: _*))
      .withColumn("list_id", col("list_id").cast("bigint"))
      .createOrReplaceTempView("e16_index")
    s.sql("""
      WITH pairs AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id, x.list_id,
                            graft_dot(q.e, x.e) / (q.nrm * x.nrm) AS cos
                     FROM e16_probes q
                     JOIN e16_index x ON x.list_id = q.probe_list AND x.vec_id != q.vec_id)
      SELECT query_id, neighbor_id, list_id, CAST(rnk AS BIGINT) AS rnk, ROUND(cos, 6) AS cos
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
            FROM pairs) t
      WHERE rnk <= 3 ORDER BY query_id, rnk""")
  }

  // ── registry ──────────────────────────────────────────────────────────

  // ── multimodal (graft.operators.Multimodal; decode = documented stub) ──

  /** Media metadata + pixel checksum through the MM_* SQL surface. Payload
    * is a synthesized 16-byte blob (md5 of the document body) — the decode
    * stub's fake raster is mirrorable in the DuckDB oracle via hex
    * arithmetic, so the whole decode→meta→aggregate path is value-checked. */
  /** Video frame sampling with a REAL container and a REAL codec under the
    * hash gate: per document, `graft_video_avi(doc_id)` builds an
    * MJPEG-in-AVI clip (RIFF container, 6 uniform-gray 48×32 JPEG frames —
    * JDK-encoded; frame f's gray = (doc_id·31 + f·41) mod 256), then
    * `MM_Frame(avi, 4, i)` parses the container and returns sampled frame
    * floor(i·6/4) as a standalone JPEG, which `graft_media_pixstats`
    * decodes through `javax.imageio`. Uniform frames are DC-only JPEG
    * blocks and roundtrip bit-exact (MultimodalSpec proves it for all 256
    * grays), so the oracle pins the decoded pixel sums — container parse,
    * frame sampling arithmetic, and JPEG decode all gate the hash.
    * Encode/sample/decode are map-side statics; the only shuffle is the
    * bounded 4-row report agg. */
  private val m04Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, graft_video_avi(doc_id) AS avi
               FROM documents),
    -- MM_FrameSample parses the container ONCE per document and returns all
    -- sampled frames; posexplode fans them out — vs per-(row,frame) calls
    -- that each re-walk the RIFF chunks (12 parses/doc → 2). OUTER matters:
    -- a non-outer Generate lets InferFiltersFromGenerate clone the whole
    -- encode+sample expression into a pre-filter below the exchange (3×
    -- re-evaluation, measured 1.45 → 3.1 s); the sample is never empty, so
    -- OUTER is value-identical and keeps the expression evaluated once
    f AS (SELECT doc_id, MM_FrameCount(avi) AS nf, graft_video_meta(avi) AS vm,
                 MM_FrameSample(avi, 4) AS frames FROM v),
    g AS (SELECT doc_id, nf, vm, i,
                 graft_media_pixstats(frame) AS s,
                 graft_media_meta(frame) AS m
          FROM f LATERAL VIEW OUTER posexplode(frames) t AS i, frame)
    SELECT CAST(i AS BIGINT) AS i, COUNT(*) AS n,
           SUM(CAST(m.width AS BIGINT)) AS sum_w,
           SUM(CAST(m.height AS BIGINT)) AS sum_h,
           SUM(CAST(nf AS BIGINT)) AS sum_frames,
           -- header-only probe cross-checks the per-frame decode: the avih
           -- declares the same frame count/usec without touching pixels
           SUM(CAST(vm.frames AS BIGINT)) AS sum_hdr_frames,
           SUM(CAST(vm.usec_per_frame AS BIGINT)) AS sum_usec,
           SUM(s.sum) AS sum_pix
    FROM g GROUP BY 1 ORDER BY 1"""

  private val m04Duck = """
    SELECT i::BIGINT AS i, COUNT(*)::BIGINT AS n,
           SUM(48)::BIGINT AS sum_w, SUM(32)::BIGINT AS sum_h,
           SUM(6)::BIGINT AS sum_frames,
           SUM(6)::BIGINT AS sum_hdr_frames,
           SUM(100000)::BIGINT AS sum_usec,
           SUM(((doc_id * 31 + ((i * 6) // 4) * 41) % 256) * 1536)::BIGINT AS sum_pix
    FROM documents CROSS JOIN (SELECT unnest(range(4)) AS i) t
    GROUP BY 1 ORDER BY 1"""

  /** Audio branch of the multimodal pipeline (m05), REAL codec end-to-end:
    * one WAV per document — the JDK `javax.sound.sampled` WAVE writer over
    * the closed-form PCM16 signal sample(i) = ((doc_id·31 + i²) mod 2000)
    * − 1000 — then a header-only metadata probe (no sample decode) and a
    * full decode through `AudioSystem.getAudioInputStream` folding to
    * exact integer stats. The oracle regenerates the signal arithmetically
    * and pins peak/sum/sum-of-squares per duration bucket, so a container
    * or PCM decode regression hash-mismatches. Encode+decode are per-row
    * statics: map-side, the only shuffle is the bounded report agg. */
  private val m05Spark = """
    WITH a AS (SELECT /*+ REPARTITION({{P}}) */ doc_id,
                      graft_audio_wav(doc_id) AS wav
               FROM documents),
    d AS (SELECT doc_id, graft_audio_meta(wav) AS m, graft_audio_stats(wav) AS s FROM a)
    SELECT CAST(m.rate AS BIGINT) AS rate, CAST(m.channels AS BIGINT) AS channels,
           CAST(m.bits AS BIGINT) AS bits,
           CAST(m.frames * 1000 DIV m.rate AS BIGINT) AS dur_ms,
           COUNT(*) AS n_files,
           SUM(s.n_samples) AS total_samples,
           CAST(MAX(s.peak_abs) AS BIGINT) AS max_peak,
           SUM(s.sum_abs) AS total_abs,
           SUM(s.sum_sq) AS total_sq
    FROM d GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4"""

  private val m05Duck = """
    WITH s AS (SELECT doc_id, i, ((doc_id * 31 + i * i) % 2000) - 1000 AS smp
               FROM documents CROSS JOIN (SELECT unnest(range(0, 256)) AS i) t),
    st AS (SELECT doc_id, COUNT(*) AS n_samples, MAX(abs(smp)) AS peak_abs,
                  SUM(abs(smp)) AS sum_abs, SUM(smp * smp) AS sum_sq
           FROM s GROUP BY doc_id)
    SELECT 8000::BIGINT AS rate, 1::BIGINT AS channels, 16::BIGINT AS bits,
           32::BIGINT AS dur_ms, COUNT(*)::BIGINT AS n_files,
           SUM(n_samples)::BIGINT AS total_samples,
           MAX(peak_abs)::BIGINT AS max_peak,
           SUM(sum_abs)::BIGINT AS total_abs,
           SUM(sum_sq)::BIGINT AS total_sq
    FROM st GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4"""

  /** Perceptual-hash image dedup (m06): the image twin of exact text
    * dedup — every document's REAL PNG (JDK encoder) is decoded by the
    * REAL codec and fingerprinted with a 64-bit average-hash
    * (`graft_media_phash`: decode → gray → 8×8 nearest-neighbor resize →
    * integer mean threshold, operators/Multimodal.phash64), and duplicate
    * images are found by an EQUI-JOIN on the hash. The corpus contains
    * true duplicates by construction (seeds s and s+256 raster
    * identically: 256·31 ≡ 0 mod 256), so the pair join has real work.
    * Output pins both the hash content (popcount histogram + per-bucket
    * doc-id sums) and the dedup result (pair counts by id gap).
    *
    * 100 TB topology: encode/decode/hash are per-row map-side statics;
    * the only shuffles are a hash-keyed equi-join (key cardinality grows
    * with the corpus — never all-pairs; hamming-tolerant near-dup would
    * band the 64 bits into sub-keys like t07's minhash bands) and two
    * bounded report aggs. The oracle regenerates every hash
    * arithmetically from the closed-form raster — all steps integer-exact
    * (threshold is p·64 > Σp, no division). */
  /** Format-conversion roundtrip (m07): every corpus PNG transcodes to
    * BMP through the REAL codec (`graft_media_transcode` — decode,
    * rebuild raster, re-encode) and back out through the real decoder;
    * the gate is pixel-level: decode(bmp).pixels must BINARY-EQUAL
    * decode(png).pixels (both containers lossless), the header probe must
    * identify the new container, and the BMP byte size must hit the
    * closed-form 8-bit-palette layout (1078 + h·ceil(w/4)·4) exactly —
    * so a codec regression (palette change, row padding, channel
    * promotion) is a hash mismatch. All kernels map-side; one bounded
    * aggregate. */
  private val m07Spark = """
    WITH im AS (SELECT /*+ REPARTITION({{P}}) */ doc_id,
                       graft_media_png(doc_id) AS png FROM documents),
    t AS (SELECT doc_id, png, graft_media_transcode(png, 'bmp') AS bmp FROM im),
    d AS (SELECT doc_id,
                 graft_media_decode(png) AS dp,
                 graft_media_decode(bmp) AS db,
                 graft_media_meta(bmp).format AS bfmt,
                 length(bmp) AS blen FROM t)
    SELECT COUNT(*) AS n_files,
           SUM(CASE WHEN dp.pixels = db.pixels AND dp.width = db.width
                     AND dp.height = db.height AND dp.channels = db.channels
                    THEN 1 ELSE 0 END) AS n_lossless,
           SUM(CASE WHEN bfmt = 'bmp' THEN 1 ELSE 0 END) AS n_bmp,
           SUM(CAST(blen AS BIGINT)) AS total_bmp_bytes
    FROM d"""

  private val m07Duck = """
    WITH dims AS (SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id // 16) % 16 AS h
                  FROM documents)
    SELECT COUNT(*)::BIGINT AS n_files,
           COUNT(*)::BIGINT AS n_lossless,
           COUNT(*)::BIGINT AS n_bmp,
           SUM(1078 + h * ((w + 3) // 4 * 4))::BIGINT AS total_bmp_bytes
    FROM dims"""

  private val m06Spark = """
    WITH pc AS (SELECT doc_id, phash,
                       CAST(length(replace(phash, '0', '')) AS BIGINT) AS nbits
                FROM (SELECT /*+ REPARTITION({{P}}) */ doc_id,
                             graft_media_phash(graft_media_png(doc_id)) AS phash
                      FROM documents) t),
    pairs AS (SELECT a.doc_id AS da, b.doc_id AS db
              FROM pc a JOIN pc b ON a.phash = b.phash AND b.doc_id > a.doc_id)
    SELECT 'popcnt' AS part, nbits AS k, COUNT(*) AS n, SUM(doc_id) AS s
    FROM pc GROUP BY nbits
    UNION ALL
    SELECT 'pair_gap' AS part, CAST(db - da AS BIGINT) AS k, COUNT(*) AS n, SUM(da) AS s
    FROM pairs GROUP BY db - da
    ORDER BY part, k"""

  private val m06Duck = """
    WITH m AS (SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id // 16) % 16 AS h
               FROM documents),
    r AS (SELECT doc_id, list_transform(range(64),
            i -> (doc_id * 31 + ((((i // 8) * h) // 8) * w + ((i % 8) * w) // 8) * 7) % 256) AS rp
          FROM m),
    t AS (SELECT doc_id, rp, list_sum(rp) AS sm FROM r),
    pc AS (SELECT doc_id,
                  list_reduce(list_transform(range(64),
                    i -> CASE WHEN rp[i + 1] * 64 > sm THEN '1' ELSE '0' END), (a, b) -> a || b) AS phash,
                  list_sum(list_transform(range(64),
                    i -> CASE WHEN rp[i + 1] * 64 > sm THEN 1 ELSE 0 END))::BIGINT AS nbits
           FROM t),
    pairs AS (SELECT a.doc_id AS da, b.doc_id AS db
              FROM pc a JOIN pc b ON a.phash = b.phash AND b.doc_id > a.doc_id)
    SELECT 'popcnt' AS part, nbits AS k, COUNT(*)::BIGINT AS n, SUM(doc_id)::BIGINT AS s
    FROM pc GROUP BY nbits
    UNION ALL
    SELECT 'pair_gap' AS part, (db - da)::BIGINT AS k, COUNT(*)::BIGINT AS n, SUM(da)::BIGINT AS s
    FROM pairs GROUP BY db - da
    ORDER BY part, k"""

  /** REAL-header media metadata over a REAL PNG corpus: one PNG per
    * document (graft_media_png(doc_id) — JDK encoder, closed-form raster,
    * operators/Multimodal.encodePngGray), probed by graft_media_meta
    * (ImageIO header read, NO pixel decode — the O(header) metadata op a
    * 100 TB corpus scan wants). The oracle derives width/height from the
    * same closed form and pins format = 'png', so a header-parse regression
    * hash-mismatches. */
  private val m01Spark = """
    SELECT CAST(m.width AS BIGINT) AS w,
           CAST(m.height AS BIGINT) AS h,
           m.format AS fmt,
           COUNT(*) AS n,
           SUM(CAST(m.width AS BIGINT) * CAST(m.height AS BIGINT)) AS npixels
    FROM (SELECT /*+ REPARTITION({{P}}) */ graft_media_meta(graft_media_png(doc_id)) AS m
          FROM documents) t
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""

  private val m01Duck = """
    WITH m AS (
      SELECT 1 + doc_id % 16 AS w, 1 + (doc_id // 16) % 16 AS h FROM documents)
    SELECT w::BIGINT AS w, h::BIGINT AS h, 'png' AS fmt, COUNT(*)::BIGINT AS n,
           SUM(w * h)::BIGINT AS npixels
    FROM m GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""

  /** Full decode→resize→histogram pipeline through the mapPartitions
    * operator on the REAL codec: one real PNG per document
    * (graft_media_png(doc_id), JDK encoder) decoded by
    * Multimodal.decodeImage (javax.imageio — the m03 codec), then
    * resizeNN(4×4) and an 8-bin histogram. Because the encoded raster is
    * the closed form pixel(i) = (doc_id*31 + i*7) % 256 with
    * w = 1 + doc_id % 16, h = 1 + (doc_id/16) % 16, the DuckDB oracle pins
    * pixel_sum, the resized sample sum, and the bin-weighted histogram mass
    * by plain arithmetic — any pixel-level codec regression (e.g. the
    * round-5 gray→sRGB gamma bug) hash-mismatches. */
  private def m02Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val media = s.sql(s"""
      SELECT /*+ REPARTITION(${s.sparkContext.defaultParallelism}) */
             doc_id, graft_media_png(doc_id) AS payload FROM documents""")
    val feats = graft.operators.Multimodal.imageFeatures(
      media, "payload", targetW = 4, targetH = 4, bins = 8,
      decoder = graft.operators.Multimodal.decodeImage)
    feats.selectExpr("CAST(features.width AS BIGINT) AS w",
        "features.pixel_sum AS ps", "features.resized_sum AS rs", "features.hist AS hist")
      .groupBy("w")
      .agg(org.apache.spark.sql.functions.expr("SUM(ps)").as("sum_pixels"),
           org.apache.spark.sql.functions.expr("SUM(rs)").as("sum_resized"),
           org.apache.spark.sql.functions.expr(
             "SUM(aggregate(zip_with(hist, sequence(0L, 7L), (c, i) -> c * i), 0L, (a, x) -> a + x))")
             .as("hist_weighted"),
           org.apache.spark.sql.functions.expr("COUNT(*)").as("n"))
      .orderBy("w")
  }

  /** DuckDB mirror of m02Fn: the closed-form raster, no codec. pixel(i) =
    * (doc_id*31 + i*7) % 256 over w*h pixels; resizeNN(4×4) output pixel
    * (x = i%4, y = i//4) samples source index ((y*h)//4)*w + ((x*w)//4);
    * the 8-bin histogram weighted by bin index is Σ pixel // 32. */
  private val m02Duck = """
    WITH m AS (
      SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id // 16) % 16 AS h
      FROM documents),
    r AS (
      SELECT w, h,
             list_sum(list_transform(range(w * h),
               i -> (doc_id * 31 + i * 7) % 256)) AS ps,
             list_sum(list_transform(range(16),
               i -> (doc_id * 31 + ((((i // 4) * h) // 4) * w + ((i % 4) * w) // 4) * 7) % 256)) AS rs,
             list_sum(list_transform(range(w * h),
               i -> ((doc_id * 31 + i * 7) % 256) // 32)) AS hw
      FROM m)
    SELECT w::BIGINT AS w, SUM(ps)::BIGINT AS sum_pixels,
           SUM(rs)::BIGINT AS sum_resized, SUM(hw)::BIGINT AS hist_weighted,
           COUNT(*)::BIGINT AS n
    FROM r GROUP BY 1 ORDER BY 1"""

  /** REAL-codec decode under the hash gate (the g34 literal-anchor pattern).
    * The payloads are fixed PNG byte strings (hex literals, generated once
    * with the JDK's own `ImageIO.write` — PNG is deterministic here), decoded
    * in-query by `graft_media_decode` (javax.imageio, operators/Multimodal
    * .decodeImage — NOT the stub). One payload per decode-matrix branch:
    * 8-bit gray (raw raster samples), 16-bit gray (high-byte widening),
    * palette (color-table expansion to RGB), 8-bit RGB. The oracle pins
    * width/height/channels and the full pixel buffer (as hex) to literals,
    * so any pixel-level regression — e.g. the round-5 gray→sRGB gamma bug —
    * hash-mismatches. */
  private val m03Spark = """
    SELECT CAST(id AS BIGINT) AS id,
           CAST(d.width AS BIGINT) AS w,
           CAST(d.height AS BIGINT) AS h,
           CAST(d.channels AS BIGINT) AS c,
           hex(d.pixels) AS px
    FROM (SELECT id, graft_media_decode(unhex(hx)) AS d FROM VALUES
      (0, '89504E470D0A1A0A0000000D49484452000000040000000408000000008C9AC1A20000001D49444154785E63601050306070084828606898B06003C3810B0F3E000030D407811611AE690000000049454E44AE426082'),
      (1, '89504E470D0A1A0A0000000D4948445200000002000000021000000000074D8EBB0000001249444154785E636060103261587DF6FF7F0009D003BD8F93BEFF0000000049454E44AE426082'),
      (2, '89504E470D0A1A0A0000000D49484452000000020000000208030000004568FD160000000C504C5445FF000000FF000000FF10203054C5F19A0000000E49444154785E6360606464620400001200065FDA0ADB0000000049454E44AE426082'),
      (3, '89504E470D0A1A0A0000000D4948445200000002000000020802000000FDD49A730000001349444154785E63F8CFC0C000C20CFF05140C001A94035ECDA0268B0000000049454E44AE426082')
      AS t(id, hx))
    ORDER BY id"""

  // literals: the PNGs above encode exactly these rasters (4×4 gray ramp
  // 0..240 step 16; 2×2 16-bit 0000/1234/ABCD/FFFF → high bytes; 2×2 palette
  // and 2×2 RGB both red/green/blue/0x102030)
  private val m03Duck = """
    SELECT * FROM (VALUES
      (0::BIGINT, 4::BIGINT, 4::BIGINT, 1::BIGINT, '00102030405060708090A0B0C0D0E0F0'),
      (1::BIGINT, 2::BIGINT, 2::BIGINT, 1::BIGINT, '0012ABFF'),
      (2::BIGINT, 2::BIGINT, 2::BIGINT, 3::BIGINT, 'FF000000FF000000FF102030'),
      (3::BIGINT, 2::BIGINT, 2::BIGINT, 3::BIGINT, 'FF000000FF000000FF102030')
    ) t(id, w, h, c, px) ORDER BY id"""

  /** Near-dup cluster resolution: candidate-pair edges → connected
    * components (operators/ConnectedComponents, iterative min-label
    * propagation) → cluster-size histogram. Edges = doc chains of 5 via
    * self-join, so both engines derive the identical graph; the DuckDB
    * oracle computes the same components with a recursive CTE. */
  private def t09Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val edges = s.sql("""
      SELECT d1.doc_id AS src, d2.doc_id AS dst
      FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
      WHERE d1.doc_id % 5 != 4 AND d1.doc_id % 3 != 1""")
    val comps = graft.operators.ConnectedComponents.run(edges, "src", "dst")
    comps.groupBy("component")
      .agg(org.apache.spark.sql.functions.expr("COUNT(*)").as("csize"))
      .groupBy("csize")
      .agg(org.apache.spark.sql.functions.expr("COUNT(*)").as("n_clusters"),
           org.apache.spark.sql.functions.expr("SUM(component)").as("sum_min_id"))
      .orderBy("csize")
  }

  private val t09Duck = """
    WITH RECURSIVE und AS (
      SELECT d1.doc_id AS a, d2.doc_id AS b
      FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
      WHERE d1.doc_id % 5 != 4 AND d1.doc_id % 3 != 1
      UNION ALL
      SELECT d2.doc_id, d1.doc_id
      FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
      WHERE d1.doc_id % 5 != 4 AND d1.doc_id % 3 != 1
    ),
    reach(id, r) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.a, reach.r FROM und u JOIN reach ON reach.id = u.b
    ),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    sizes AS (SELECT component, COUNT(*) AS csize FROM comp GROUP BY component)
    SELECT csize::BIGINT AS csize, COUNT(*)::BIGINT AS n_clusters,
           SUM(component)::BIGINT AS sum_min_id
    FROM sizes GROUP BY 1 ORDER BY 1"""

  /** Winnowing fingerprints (MOSS) + df-capped posting-list pair counts.
    *
    * The pair topology is the 100-TB-safe one: explode fingerprints, drop
    * ubiquitous values (df > 50 — stop-grams whose posting lists would
    * drive the bucket join quadratic) and singletons (df < 2 — can't
    * pair), then equi-join on the fingerprint value. Same shape as the
    * minhash-LSH candidate join (t07): shuffle on the value, never
    * doc×doc. */
  private def t10Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val p = s.sparkContext.defaultParallelism
    s.sql(s"""
      SELECT /*+ REPARTITION($p) */ doc_id, explode(graft_fingerprints(text, 8, 4)) AS f
      FROM documents""").createOrReplaceTempView("t10_ex")
    s.sql("""
      WITH keep AS (SELECT f FROM t10_ex GROUP BY f HAVING COUNT(*) BETWEEN 2 AND 50),
      exk AS (SELECT e.doc_id, e.f FROM t10_ex e JOIN keep k ON e.f = k.f)
      SELECT shared, COUNT(*) AS n_pairs
      FROM (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
            FROM exk a JOIN exk b ON a.f = b.f AND b.doc_id > a.doc_id
            GROUP BY 1, 2) p
      GROUP BY shared ORDER BY shared""")
  }

  private val t10Duck = """
    WITH h AS (
      SELECT doc_id,
             CASE WHEN length(text) >= 8 THEN
               list_transform(range(1, length(text) - 8 + 2),
                 p -> list_sum(list_transform(range(0, 8),
                        j -> ord(substr(text, p + j, 1)) * CAST(power(31, 7 - j) AS BIGINT))))
             ELSE [] END AS hs
      FROM documents),
    fp AS (
      SELECT doc_id,
             CASE WHEN len(hs) = 0 THEN []
             ELSE list_distinct(list_transform(
                    range(1, greatest(len(hs) - 4 + 1, 1) + 1),
                    i -> list_min(hs[i : i + 3]))) END AS fps
      FROM h),
    ex AS (SELECT doc_id, unnest(fps) AS f FROM fp),
    keep AS (SELECT f FROM ex GROUP BY f HAVING COUNT(*) BETWEEN 2 AND 50),
    exk AS (SELECT e.doc_id, e.f FROM ex e JOIN keep k ON e.f = k.f)
    SELECT shared, COUNT(*)::BIGINT AS n_pairs
    FROM (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
          FROM exk a JOIN exk b ON a.f = b.f AND b.doc_id > a.doc_id
          GROUP BY 1, 2) p
    GROUP BY shared ORDER BY shared"""

  /** Gopher/MassiveText-style repetition quality signals: top-bigram
    * fraction and duplicate-trigram fraction per doc, aggregated per
    * source. Per-row kernels (codegen-inlined statics) — embarrassingly
    * parallel, no shuffle beyond the final aggregate. */
  private val t11Spark = """
    SELECT source, COUNT(*) AS n_docs,
           ROUND(AVG(graft_top_ngram_frac(text, 2)), 6) AS avg_top2,
           ROUND(AVG(graft_dup_ngram_frac(text, 3)), 6) AS avg_dup3,
           SUM(CASE WHEN graft_dup_ngram_frac(text, 3) > 0.5D THEN 1 ELSE 0 END) AS n_flagged
    FROM documents GROUP BY source ORDER BY source"""

  private val t11Duck = """
    WITH toks AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS ts FROM documents),
    g2 AS (SELECT doc_id, CASE WHEN len(ts) >= 2
             THEN list_transform(range(1, len(ts) - 2 + 2), i -> array_to_string(ts[i : i + 1], ' '))
             ELSE [] END AS gs FROM toks),
    g3 AS (SELECT doc_id, CASE WHEN len(ts) >= 3
             THEN list_transform(range(1, len(ts) - 3 + 2), i -> array_to_string(ts[i : i + 2], ' '))
             ELSE [] END AS gs FROM toks),
    c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM (SELECT doc_id, unnest(gs) AS g FROM g2) GROUP BY 1, 2),
    s2 AS (SELECT doc_id, MAX(c)::DOUBLE / SUM(c) AS top2 FROM c2 GROUP BY 1),
    c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM (SELECT doc_id, unnest(gs) AS g FROM g3) GROUP BY 1, 2),
    s3 AS (SELECT doc_id, 1.0::DOUBLE - COUNT(*)::DOUBLE / SUM(c) AS dup3 FROM c3 GROUP BY 1),
    per AS (SELECT t.source, COALESCE(s2.top2, 0.0::DOUBLE) AS top2, COALESCE(s3.dup3, 0.0::DOUBLE) AS dup3
            FROM toks t LEFT JOIN s2 ON s2.doc_id = t.doc_id LEFT JOIN s3 ON s3.doc_id = t.doc_id)
    SELECT source, COUNT(*)::BIGINT AS n_docs,
           ROUND(AVG(top2), 6) AS avg_top2,
           ROUND(AVG(dup3), 6) AS avg_dup3,
           SUM(CASE WHEN dup3 > 0.5::DOUBLE THEN 1 ELSE 0 END)::BIGINT AS n_flagged
    FROM per GROUP BY source ORDER BY source"""

  /** PII detection + redaction. The synthetic corpus carries no natural
    * PII, so emails/phones/IPs are planted deterministically from doc_id on
    * BOTH engine sides; the kernels (Java-regex ∩ RE2 common-subset
    * patterns) then count and redact them. Per-row — no shuffle. */
  private val t12Spark = """
    WITH aug AS (SELECT source,
        text || CASE WHEN doc_id % 3 = 0 THEN ' Contact user' || CAST(doc_id AS STRING) || '@example.org now.' ELSE '' END
             || CASE WHEN doc_id % 4 = 1 THEN ' Call +1-202-555-' || LPAD(CAST(doc_id % 10000 AS STRING), 4, '0') || ' today.' ELSE '' END
             || CASE WHEN doc_id % 5 = 2 THEN ' Host 10.' || CAST(doc_id % 256 AS STRING) || '.0.1 up.' ELSE '' END AS t
      FROM documents)
    SELECT source,
           SUM(CAST(graft_pii_emails(t) AS BIGINT)) AS n_emails,
           SUM(CAST(graft_pii_phones(t) AS BIGINT)) AS n_phones,
           SUM(CAST(graft_pii_ipv4(t) AS BIGINT)) AS n_ips,
           SUM(CASE WHEN graft_pii_emails(t) + graft_pii_phones(t) + graft_pii_ipv4(t) > 0 THEN 1 ELSE 0 END) AS n_pii_docs,
           SUM(CAST(LENGTH(graft_redact(t)) AS BIGINT)) AS redacted_chars
    FROM aug GROUP BY source ORDER BY source"""

  private val t12Duck = """
    WITH aug AS (SELECT source,
        text || CASE WHEN doc_id % 3 = 0 THEN ' Contact user' || doc_id::VARCHAR || '@example.org now.' ELSE '' END
             || CASE WHEN doc_id % 4 = 1 THEN ' Call +1-202-555-' || LPAD((doc_id % 10000)::VARCHAR, 4, '0') || ' today.' ELSE '' END
             || CASE WHEN doc_id % 5 = 2 THEN ' Host 10.' || (doc_id % 256)::VARCHAR || '.0.1 up.' ELSE '' END AS t
      FROM documents),
    cnt AS (SELECT source, t,
              len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
              len(regexp_extract_all(t, '\+\d{1,2}-\d{3}-\d{3}-\d{4}')) AS np,
              len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ni
            FROM aug)
    SELECT source,
           SUM(ne)::BIGINT AS n_emails, SUM(np)::BIGINT AS n_phones, SUM(ni)::BIGINT AS n_ips,
           SUM(CASE WHEN ne + np + ni > 0 THEN 1 ELSE 0 END)::BIGINT AS n_pii_docs,
           SUM(length(regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+\d{1,2}-\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')))::BIGINT AS redacted_chars
    FROM cnt GROUP BY source ORDER BY source"""

  /** Deterministic hash-based train/valid/test split (the 100 TB split
    * primitive: no global sort, no RNG state — membership is a pure
    * function of the stable id, reproducible across reruns and engines). */
  private val t13Spark = """
    WITH s AS (SELECT lang, n_chars,
        CASE WHEN graft_hash(CAST(doc_id AS STRING) || ':split') % 100 < 80 THEN 'train'
             WHEN graft_hash(CAST(doc_id AS STRING) || ':split') % 100 < 90 THEN 'valid'
             ELSE 'test' END AS split
      FROM documents)
    SELECT split, lang, COUNT(*) AS n_docs, SUM(CAST(n_chars AS BIGINT)) AS sum_chars
    FROM s GROUP BY split, lang ORDER BY split, lang"""

  private val t13Duck = """
    WITH s AS (SELECT lang, n_chars,
        CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 8))::BIGINT % 100 < 80 THEN 'train'
             WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 8))::BIGINT % 100 < 90 THEN 'valid'
             ELSE 'test' END AS split
      FROM documents)
    SELECT split, lang, COUNT(*)::BIGINT AS n_docs, SUM(n_chars)::BIGINT AS sum_chars
    FROM s GROUP BY split, lang ORDER BY split, lang"""

  /** Train/eval contamination check: eval items are 120-char prefixes of
    * every 25th doc (leaked-by-construction), overlap = shared word
    * 8-grams. Topology is the decontamination standard: explode DISTINCT
    * shingle hashes per side, equi-join on the hash — shuffle keyed by
    * shingle, never doc×doc. The source doc itself is the planted leak. */
  private def t14Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val p = s.sparkContext.defaultParallelism
    s.sql(s"""
      WITH ev AS (SELECT doc_id AS eval_id, substring(text, 1, 120) AS etext
                  FROM documents WHERE doc_id % 25 = 3),
      esh AS (SELECT DISTINCT eval_id, graft_hash(sh) AS h
              FROM (SELECT eval_id, explode(graft_shingles(etext, 8)) AS sh FROM ev)),
      tsh AS (SELECT DISTINCT doc_id, graft_hash(sh) AS h
              FROM (SELECT /*+ REPARTITION($p) */ doc_id, explode(graft_shingles(text, 8)) AS sh
                    FROM documents)),
      hits AS (SELECT e.eval_id, t.doc_id, COUNT(*) AS shared
               FROM esh e JOIN tsh t ON t.h = e.h
               GROUP BY e.eval_id, t.doc_id)
      SELECT v.eval_id,
             COUNT(h.doc_id) AS n_train_matches,
             COALESCE(SUM(h.shared), 0) AS n_shared_ngrams
      FROM (SELECT DISTINCT eval_id FROM ev) v
      LEFT JOIN hits h ON h.eval_id = v.eval_id
      GROUP BY v.eval_id ORDER BY v.eval_id""")
  }

  private val t14Duck = """
    WITH ev AS (SELECT doc_id AS eval_id, substr(text, 1, 120) AS etext
                FROM documents WHERE doc_id % 25 = 3),
    etk AS (SELECT eval_id, string_split_regex(trim(etext), '\s+') AS ts FROM ev),
    esh AS (SELECT DISTINCT eval_id, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h
            FROM (SELECT eval_id, unnest(CASE WHEN len(ts) >= 8
                    THEN list_transform(range(1, len(ts) - 8 + 2), i -> array_to_string(ts[i : i + 7], ' '))
                    ELSE [] END) AS g FROM etk)),
    ttk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents),
    tsh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h
            FROM (SELECT doc_id, unnest(CASE WHEN len(ts) >= 8
                    THEN list_transform(range(1, len(ts) - 8 + 2), i -> array_to_string(ts[i : i + 7], ' '))
                    ELSE [] END) AS g FROM ttk)),
    hits AS (SELECT e.eval_id, t.doc_id, COUNT(*) AS shared
             FROM esh e JOIN tsh t ON t.h = e.h
             GROUP BY e.eval_id, t.doc_id)
    SELECT v.eval_id,
           COUNT(h.doc_id)::BIGINT AS n_train_matches,
           COALESCE(SUM(h.shared), 0)::BIGINT AS n_shared_ngrams
    FROM (SELECT DISTINCT eval_id FROM ev) v
    LEFT JOIN hits h ON h.eval_id = v.eval_id
    GROUP BY v.eval_id ORDER BY v.eval_id"""

  /** CROSS-document duplicated-chunk analysis (the corpus-level C4/
    * RefinedWeb signal; t11's repetition statics are per-document). Text
    * splits into non-overlapping 5-word chunks; chunk document-frequency
    * comes from a group-by on the chunk value (shuffle keyed on content —
    * the posting-list topology, never doc×doc); each document then gets a
    * duplicated-chunk ratio decile. At 100 TB the chunk table is the only
    * shuffle and stop-chunks stay bounded by the vocabulary. */
  private val t15Spark = """
    WITH base AS (
      SELECT /*+ REPARTITION({{P}}) */ doc_id, split(text, ' ') AS ws FROM documents),
    chunks AS (
      SELECT doc_id, array_join(slice(ws, i * 5 + 1, 5), ' ') AS chunk
      FROM base
      LATERAL VIEW explode(sequence(0, GREATEST(CAST(size(ws) / 5 AS INT) - 1, 0))) t AS i
      WHERE (i + 1) * 5 <= size(ws)),
    df AS (SELECT chunk, COUNT(*) AS df FROM chunks GROUP BY chunk),
    per_doc AS (
      SELECT c.doc_id, COUNT(*) AS n_chunks,
             SUM(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS dup_chunks
      FROM chunks c JOIN df d ON c.chunk = d.chunk
      GROUP BY c.doc_id)
    SELECT CAST(dup_chunks * 10 / n_chunks AS BIGINT) AS dup_decile,
           COUNT(*) AS n_docs,
           SUM(n_chunks) AS total_chunks,
           SUM(dup_chunks) AS total_dup
    FROM per_doc GROUP BY 1 ORDER BY 1"""

  private val t15Duck = """
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    chunks AS (
      SELECT doc_id, array_to_string(ws[i*5+1 : i*5+5], ' ') AS chunk
      FROM base, LATERAL (SELECT unnest(range(len(ws) // 5)) AS i) t
      WHERE (i + 1) * 5 <= len(ws)),
    df AS (SELECT chunk, COUNT(*) AS df FROM chunks GROUP BY chunk),
    per_doc AS (
      SELECT c.doc_id, COUNT(*) AS n_chunks,
             SUM(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS dup_chunks
      FROM chunks c JOIN df d ON c.chunk = d.chunk
      GROUP BY c.doc_id)
    SELECT (dup_chunks * 10 // n_chunks)::BIGINT AS dup_decile,
           COUNT(*)::BIGINT AS n_docs,
           SUM(n_chunks)::BIGINT AS total_chunks,
           SUM(dup_chunks)::BIGINT AS total_dup
    FROM per_doc GROUP BY 1 ORDER BY 1"""

  /** Sequence packing: bin documents into fixed token-budget training
    * sequences (the pre-tokenization packing step of an LLM data pipeline).
    * Docs hash into 8 independent shards; inside a shard a deterministic
    * hash order + running token sum assigns each doc to bin
    * floor(tokens_before / 2048) — greedy append where the doc that crosses
    * a boundary overflows its bin. No global sort: each shard packs
    * independently under a window, so at 100 TB the shard count (a
    * constant here, proportional-to-corpus in production) is the
    * parallelism and the only shuffle is the hash partition itself. */
  private val t16Spark = """
    WITH d AS (
      SELECT /*+ REPARTITION({{P}}) */ doc_id,
             CAST(graft_token_count(text) AS BIGINT) AS toks,
             graft_hash(CAST(doc_id AS STRING) || ':pack') % 8 AS shard
      FROM documents),
    w AS (
      SELECT shard, toks,
             SUM(toks) OVER (PARTITION BY shard
                             ORDER BY graft_hash(CAST(doc_id AS STRING) || ':ord'), doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks
               AS cum_before
      FROM d),
    b AS (
      SELECT shard, CAST(FLOOR(cum_before / 2048.0) AS BIGINT) AS bin_id,
             COUNT(*) AS n_docs, SUM(toks) AS bin_tokens
      FROM w GROUP BY shard, CAST(FLOOR(cum_before / 2048.0) AS BIGINT))
    SELECT shard, COUNT(*) AS n_bins, SUM(n_docs) AS n_docs,
           SUM(bin_tokens) AS total_tokens,
           MAX(bin_tokens) AS max_bin_tokens,
           ROUND(CAST(SUM(n_docs) AS DOUBLE) / COUNT(*), 6) AS avg_docs_per_bin
    FROM b GROUP BY shard ORDER BY shard"""

  private val t16Duck = """
    WITH d AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\s+'))::BIGINT AS toks,
             ('0x' || substr(md5(doc_id::VARCHAR || ':pack'), 1, 8))::BIGINT % 8 AS shard
      FROM documents),
    w AS (
      SELECT shard, toks,
             SUM(toks) OVER (PARTITION BY shard
                             ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || ':ord'), 1, 8))::BIGINT, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks
               AS cum_before
      FROM d),
    b AS (
      SELECT shard, FLOOR(cum_before / 2048.0)::BIGINT AS bin_id,
             COUNT(*) AS n_docs, SUM(toks) AS bin_tokens
      FROM w GROUP BY shard, FLOOR(cum_before / 2048.0)::BIGINT)
    SELECT shard, COUNT(*)::BIGINT AS n_bins, SUM(n_docs)::BIGINT AS n_docs,
           SUM(bin_tokens)::BIGINT AS total_tokens,
           MAX(bin_tokens)::BIGINT AS max_bin_tokens,
           ROUND(CAST(SUM(n_docs) AS DOUBLE) / COUNT(*), 6) AS avg_docs_per_bin
    FROM b GROUP BY shard ORDER BY shard"""

  /** Corpus mixture sampling (t17): re-weight a multi-source corpus to
    * target per-source sampling rates — the step that turns raw crawl
    * proportions into a training mixture (up-sample high-quality
    * sources past 1.0 "epochs", down-sample the rest; cf. the
    * data-mixture tables in the Pile / LLaMA corpus reports). Rates are
    * per source tier here (2.5 / 1.0 / 0.5 / 0.25 epochs); a doc emits
    * floor(rate) full copies plus one more iff a content-keyed hash
    * coin lands under the fractional part, so expectation hits the rate
    * exactly and the decision is a pure function of (doc_id, salt).
    *
    * 100 TB notes: sampling is entirely map-side — no shuffle, no
    * state, no RNG; a deterministic hash coin means task retries and
    * speculative duplicates reproduce the same sample (a real
    * correctness hazard with rand()-based sampling at scale), and the
    * same corpus+salt always yields the same mixture for training
    * reproducibility. Up-sampled copies materialize as (doc, epoch)
    * rows that downstream sequence packing (t16) consumes. The only
    * shuffle is the final bounded reporting aggregate. */
  private val t17Spark = """
    WITH s AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, lang, n_chars,
                      CAST(substring(source, 4) AS INT) % 4 AS tier,
                      graft_hash(CAST(doc_id AS STRING) || ':mix') % 1000 AS h
               FROM documents),
    r AS (SELECT *, CASE tier WHEN 0 THEN 2500 WHEN 1 THEN 1000 WHEN 2 THEN 500 ELSE 250 END AS permille
          FROM s),
    c AS (SELECT doc_id, lang, n_chars, tier,
                 permille DIV 1000 + CASE WHEN h < permille % 1000 THEN 1 ELSE 0 END AS n_copies
          FROM r),
    ex AS (SELECT doc_id, lang, n_chars, tier, explode(sequence(1, n_copies)) AS epoch
           FROM c WHERE n_copies > 0)
    SELECT CAST(tier AS BIGINT) AS tier, lang,
           COUNT(DISTINCT doc_id) AS docs_out,
           COUNT(*) AS rows_out,
           SUM(CAST(n_chars AS BIGINT)) AS chars_out,
           CAST(MAX(epoch) AS BIGINT) AS max_epoch
    FROM ex GROUP BY tier, lang ORDER BY tier, lang"""

  private val t17Duck = """
    WITH s AS (SELECT doc_id, lang, n_chars, substr(source, 4)::INT % 4 AS tier,
                      ('0x' || substr(md5(doc_id::VARCHAR || ':mix'), 1, 8))::BIGINT % 1000 AS h
               FROM documents),
    r AS (SELECT *, CASE tier WHEN 0 THEN 2500 WHEN 1 THEN 1000 WHEN 2 THEN 500 ELSE 250 END AS permille
          FROM s),
    c AS (SELECT doc_id, lang, n_chars, tier,
                 permille // 1000 + CASE WHEN h < permille % 1000 THEN 1 ELSE 0 END AS n_copies
          FROM r),
    ex AS (SELECT doc_id, lang, n_chars, tier, unnest(generate_series(1, n_copies)) AS epoch
           FROM c WHERE n_copies > 0)
    SELECT tier::BIGINT AS tier, lang,
           COUNT(DISTINCT doc_id)::BIGINT AS docs_out,
           COUNT(*)::BIGINT AS rows_out,
           SUM(n_chars)::BIGINT AS chars_out,
           MAX(epoch)::BIGINT AS max_epoch
    FROM ex GROUP BY tier, lang ORDER BY tier, lang"""

  /** Context-window chunking (t18): split every document into overlapping
    * fixed-size character windows (200 chars, stride 150 → 50-char
    * overlap) — the preprocessing step in front of every embedding /
    * retrieval pipeline — then audit the chunk inventory per language.
    * Chunking is a per-row static (`graft_chunks`) + explode: map-side
    * only, no shuffle until the bounded reporting aggregate, and chunk
    * boundaries are code-point-indexed so multi-byte (zh) text chunks
    * identically in both engines. */
  private val t18Spark = """
    WITH c AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, lang,
                      explode(graft_chunks(text, 200, 150)) AS chunk
               FROM documents)
    SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_chunks,
           SUM(CAST(graft_token_count(chunk) AS BIGINT)) AS chunk_tokens,
           CAST(MAX(length(chunk)) AS BIGINT) AS max_chunk_chars,
           CAST(MIN(length(chunk)) AS BIGINT) AS min_chunk_chars,
           ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id), 6) AS chunks_per_doc
    FROM c GROUP BY lang ORDER BY lang"""

  private val t18Duck = """
    WITH ks AS (SELECT doc_id, lang, text,
                       unnest(generate_series(0, (len(text) - 1) // 150)) AS k
                FROM documents WHERE len(text) > 0),
    c AS (SELECT doc_id, lang, substr(text, k * 150 + 1, 200) AS chunk FROM ks)
    SELECT lang, COUNT(DISTINCT doc_id)::BIGINT AS n_docs, COUNT(*)::BIGINT AS n_chunks,
           SUM(len(string_split_regex(trim(chunk), '\s+'))::BIGINT)::BIGINT AS chunk_tokens,
           MAX(len(chunk))::BIGINT AS max_chunk_chars,
           MIN(len(chunk))::BIGINT AS min_chunk_chars,
           ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id), 6) AS chunks_per_doc
    FROM c GROUP BY lang ORDER BY lang"""

  /** Corpus vocabulary + OOV scoring (t19): build the top-K (16 here —
    * the synthetic corpus has ~31 distinct tokens, so K=16 leaves a
    * discriminating OOV tail; production K would be 10^5-ish) token
    * vocabulary by global frequency (ties broken by token — fully
    * deterministic), then score every document's vocabulary coverage —
    * the CCNet-style corpus-quality signal (docs full of out-of-vocab
    * tokens are boilerplate/noise/wrong-language candidates). All
    * integer arithmetic (counts, ranks) except one final ratio of exact
    * BIGINTs, so the oracle matches bit-for-bit without FP-order
    * concerns (no logs — a unigram-LM logprob would hinge on cross-
    * engine libm ulps).
    *
    * 100 TB topology: token counts are a map-side-combining shuffle
    * keyed by token; the vocabulary is tiny by construction (top-K) →
    * BROADCAST into the coverage join; per-doc re-aggregation keys on
    * doc_id. Nothing is all-pairs, no driver collect. */
  private val t19Spark = """
    WITH tok AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, lang,
                        explode(graft_tokens(text)) AS tok
                 FROM documents),
    cnt AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok),
    vocab AS (SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rnk
              FROM (SELECT tok, n FROM cnt ORDER BY n DESC, tok LIMIT 16) top),
    scored AS (SELECT /*+ BROADCAST(v) */ t.doc_id, t.lang,
                      COUNT(*) AS n_tokens,
                      SUM(CASE WHEN v.rnk IS NULL THEN 1 ELSE 0 END) AS n_oov,
                      SUM(COALESCE(v.rnk, 0)) AS sum_rank
               FROM tok t LEFT JOIN vocab v ON v.tok = t.tok
               GROUP BY t.doc_id, t.lang)
    SELECT lang, COUNT(*) AS n_docs,
           SUM(n_tokens) AS total_tokens, SUM(n_oov) AS total_oov,
           ROUND(CAST(SUM(n_oov) AS DOUBLE) / SUM(n_tokens), 6) AS oov_rate,
           SUM(sum_rank) AS total_rank
    FROM scored GROUP BY lang ORDER BY lang"""

  private val t19Duck = """
    WITH tok AS (SELECT doc_id, lang, unnest(string_split_regex(trim(text), '\s+')) AS tok
                 FROM documents),
    cnt AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok),
    vocab AS (SELECT tok, rnk FROM (
                SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rnk
                FROM cnt) t WHERE rnk <= 16),
    scored AS (SELECT t.doc_id, t.lang,
                      COUNT(*) AS n_tokens,
                      SUM(CASE WHEN v.rnk IS NULL THEN 1 ELSE 0 END) AS n_oov,
                      SUM(COALESCE(v.rnk, 0)) AS sum_rank
               FROM tok t LEFT JOIN vocab v ON v.tok = t.tok
               GROUP BY t.doc_id, t.lang)
    SELECT lang, COUNT(*)::BIGINT AS n_docs,
           SUM(n_tokens)::BIGINT AS total_tokens, SUM(n_oov)::BIGINT AS total_oov,
           ROUND(CAST(SUM(n_oov) AS DOUBLE) / SUM(n_tokens), 6) AS oov_rate,
           SUM(sum_rank)::BIGINT AS total_rank
    FROM scored GROUP BY lang ORDER BY lang"""

  /** Bloom-prefiltered contamination check (t20): the 100-TB execution
    * shape for benchmark decontamination. t14 shuffles EVERY training
    * shingle into the probe join; here the eval set's shingle hashes
    * build ONE Bloom filter (Spark's native BloomFilterAggregate — the
    * runtime-filter machinery — via `graft_bloom_agg`, computed once by a
    * scalar subquery and broadcast as a binary literal), and the training
    * scan drops non-candidate shingles MAP-SIDE with
    * `graft_might_contain` BEFORE the dedup shuffle — so shuffle volume
    * is O(candidates), not O(corpus shingles). Bloom filters have no
    * false negatives and the exact equi-join downstream removes false
    * positives, so the RESULT is bloom-independent — which is exactly
    * what lets the DuckDB oracle pin it with plain exact SQL.
    * PipelinePlanSpec proves the pruning (survivor count « corpus) and
    * the bloom-independence (filtered result == unfiltered result). */
  private val t20Spark = """
    WITH ev AS (SELECT doc_id AS eval_id, substring(text, 1, 160) AS etext
                FROM documents WHERE doc_id % 25 = 7),
    esh AS (SELECT DISTINCT eval_id, graft_hash(sh) AS h
            FROM (SELECT eval_id, explode(graft_shingles(etext, 6)) AS sh FROM ev)),
    tsh AS (SELECT DISTINCT doc_id, h FROM (
              SELECT /*+ REPARTITION({{P}}) */ doc_id, graft_hash(sh) AS h
              FROM (SELECT doc_id, explode(graft_shingles(text, 6)) AS sh FROM documents) x)
            WHERE graft_might_contain((SELECT graft_bloom_agg(h, 65536) FROM esh), h)),
    hits AS (SELECT e.eval_id, t.doc_id, COUNT(*) AS shared
             FROM esh e JOIN tsh t ON t.h = e.h
             GROUP BY e.eval_id, t.doc_id)
    SELECT v.eval_id,
           COUNT(h.doc_id) AS n_train_matches,
           COALESCE(SUM(h.shared), 0) AS n_shared_ngrams
    FROM (SELECT DISTINCT eval_id FROM ev) v
    LEFT JOIN hits h ON h.eval_id = v.eval_id
    GROUP BY v.eval_id ORDER BY v.eval_id"""

  private val t20Duck = """
    WITH ev AS (SELECT doc_id AS eval_id, substr(text, 1, 160) AS etext
                FROM documents WHERE doc_id % 25 = 7),
    etk AS (SELECT eval_id, string_split_regex(trim(etext), '\s+') AS ts FROM ev),
    esh AS (SELECT DISTINCT eval_id, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h
            FROM (SELECT eval_id, unnest(CASE WHEN len(ts) >= 6
                    THEN list_transform(range(1, len(ts) - 6 + 2), i -> array_to_string(ts[i : i + 5], ' '))
                    ELSE [] END) AS g FROM etk)),
    ttk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents),
    tsh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h
            FROM (SELECT doc_id, unnest(CASE WHEN len(ts) >= 6
                    THEN list_transform(range(1, len(ts) - 6 + 2), i -> array_to_string(ts[i : i + 5], ' '))
                    ELSE [] END) AS g FROM ttk)),
    hits AS (SELECT e.eval_id, t.doc_id, COUNT(*) AS shared
             FROM esh e JOIN tsh t ON t.h = e.h
             GROUP BY e.eval_id, t.doc_id)
    SELECT v.eval_id,
           COUNT(h.doc_id)::BIGINT AS n_train_matches,
           COALESCE(SUM(h.shared), 0)::BIGINT AS n_shared_ngrams
    FROM (SELECT DISTINCT eval_id FROM ev) v
    LEFT JOIN hits h ON h.eval_id = v.eval_id
    GROUP BY v.eval_id ORDER BY v.eval_id"""

  /** Canonical-document selection (t21): the dedup-resolution step that
    * closes the near-dup pipeline — after clustering (t09's connected
    * components over candidate-pair edges), each cluster keeps ONE
    * representative: the highest-quality member (t04's quality signal),
    * doc-id as the deterministic tie-break; docs in no cluster survive as
    * their own singletons. This is the step that turns "these documents
    * are duplicates" into an actual training corpus.
    *
    * 100 TB topology: components are the t09 iterative min-label
    * propagation (checkpointed, O(diameter) rounds); the argmax per
    * cluster is one window over rows shuffled by component id — key
    * cardinality is the number of clusters, skew bounded by the largest
    * cluster (itself bounded by the LSH candidate generation upstream).
    * Quality ranks on ROUND(q, 6) so the cross-engine comparison never
    * depends on sub-ulp float ordering. */
  private def t21Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val edges = s.sql("""
      SELECT d1.doc_id AS src, d2.doc_id AS dst
      FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
      WHERE d1.doc_id % 5 != 4 AND d1.doc_id % 3 != 1""")
    graft.operators.ConnectedComponents.run(edges, "src", "dst")
      .createOrReplaceTempView("t21_comps")
    s.sql("""
      WITH q AS (SELECT doc_id, ROUND(graft_quality(text), 6) AS ql FROM documents),
      c AS (SELECT d.doc_id, COALESCE(tc.component, d.doc_id) AS component
            FROM documents d LEFT JOIN t21_comps tc ON tc.id = d.doc_id),
      ranked AS (SELECT c.component, c.doc_id, q.ql,
                        ROW_NUMBER() OVER (PARTITION BY c.component
                          ORDER BY q.ql DESC, c.doc_id) AS rn,
                        COUNT(*) OVER (PARTITION BY c.component) AS csize
                 FROM c JOIN q ON q.doc_id = c.doc_id)
      SELECT CAST(component AS BIGINT) AS component, CAST(csize AS BIGINT) AS csize,
             CAST(doc_id AS BIGINT) AS canonical_id, ql AS canonical_quality
      FROM ranked WHERE rn = 1 ORDER BY component""")
  }

  private val t21Duck = """
    WITH RECURSIVE und AS (
      SELECT d1.doc_id AS a, d2.doc_id AS b
      FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
      WHERE d1.doc_id % 5 != 4 AND d1.doc_id % 3 != 1
      UNION ALL
      SELECT d2.doc_id, d1.doc_id
      FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
      WHERE d1.doc_id % 5 != 4 AND d1.doc_id % 3 != 1
    ),
    reach(id, r) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.a, reach.r FROM und u JOIN reach ON reach.id = u.b
    ),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    q AS (SELECT doc_id,
                 ROUND(0.3::DOUBLE * (len(list_filter(string_split_regex(trim(text), '\s+'),
                                          t -> t IN ('the','a','of','and','in','to','is')))
                                      / greatest(len(string_split_regex(trim(text), '\s+')), 1))
                     + 0.4::DOUBLE * least(1.0::DOUBLE, len(string_split_regex(trim(text), '\s+')) / 100.0::DOUBLE)
                     + 0.3::DOUBLE * (1.0::DOUBLE - least(1.0::DOUBLE,
                           len(regexp_extract_all(text, '[.,!?;]'))
                           / CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE))), 6) AS ql
          FROM documents),
    c AS (SELECT d.doc_id, COALESCE(cm.component, d.doc_id) AS component
          FROM documents d LEFT JOIN comp cm ON cm.id = d.doc_id),
    ranked AS (SELECT c.component, c.doc_id, q.ql,
                      ROW_NUMBER() OVER (PARTITION BY c.component
                        ORDER BY q.ql DESC, c.doc_id) AS rn,
                      COUNT(*) OVER (PARTITION BY c.component) AS csize
               FROM c JOIN q ON q.doc_id = c.doc_id)
    SELECT component::BIGINT AS component, csize::BIGINT AS csize,
           doc_id::BIGINT AS canonical_id, ql AS canonical_quality
    FROM ranked WHERE rn = 1 ORDER BY component"""

  /** End-to-end corpus build (t22): the four pipeline stages every
    * training-data run chains — quality filter (t04's signal) → exact
    * dedup on a prefix fingerprint (C4-style near-exact key; min doc-id
    * wins) → benchmark decontamination (t20's bloom-prefiltered shingle
    * semi-join, exact confirm) → fixed-budget sequence packing (t16's
    * per-shard hash-order cumsum) — composed in ONE declarative query so
    * Catalyst plans the whole flow. Output pins each stage's attrition
    * (docs + tokens surviving) and the packed result per shard, so a
    * regression in ANY stage hash-mismatches.
    *
    * 100 TB topology: stage 1 is map-side; stage 2 shuffles on the
    * dedup key (content-keyed, cardinality grows with corpus); stage 3
    * prunes map-side through the broadcast bloom before its equi-join;
    * stage 4 shuffles on shard. Four shuffles total for a four-stage
    * corpus build, every one on a scalable key. */
  private val t22Spark = """
    WITH q AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, text,
                      CAST(graft_token_count(text) AS BIGINT) AS toks,
                      ROUND(graft_quality(text), 6) AS ql
               FROM documents),
    s1 AS (SELECT doc_id, text, toks FROM q WHERE ql >= 0.5),
    s2 AS (SELECT doc_id, text, toks FROM (
             SELECT doc_id, text, toks,
                    ROW_NUMBER() OVER (PARTITION BY substring(text, 1, 80)
                                       ORDER BY doc_id) AS rn
             FROM s1) t WHERE rn = 1),
    ev AS (SELECT substring(text, 1, 160) AS etext FROM documents WHERE doc_id % 25 = 7),
    esh AS (SELECT DISTINCT graft_hash(sh) AS h
            FROM (SELECT explode(graft_shingles(etext, 6)) AS sh FROM ev)),
    cont AS (SELECT DISTINCT x.doc_id FROM (
               SELECT s2.doc_id, graft_hash(sh) AS h
               FROM s2 LATERAL VIEW explode(graft_shingles(text, 6)) t AS sh) x
             WHERE graft_might_contain((SELECT graft_bloom_agg(h, 65536) FROM esh), x.h)
               AND x.h IN (SELECT h FROM esh)),
    s3 AS (SELECT s2.doc_id, s2.toks FROM s2 LEFT ANTI JOIN cont ON cont.doc_id = s2.doc_id),
    d AS (SELECT doc_id, toks,
                 graft_hash(CAST(doc_id AS STRING) || ':pack') % 4 AS shard
          FROM s3),
    w AS (SELECT shard, toks,
                 SUM(toks) OVER (PARTITION BY shard
                                 ORDER BY graft_hash(CAST(doc_id AS STRING) || ':ord'), doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks
                   AS cum_before
          FROM d),
    b AS (SELECT shard, CAST(FLOOR(cum_before / 1024.0) AS BIGINT) AS bin_id,
                 COUNT(*) AS n_docs, SUM(toks) AS bin_tokens
          FROM w GROUP BY shard, CAST(FLOOR(cum_before / 1024.0) AS BIGINT)),
    packed AS (SELECT shard, COUNT(*) AS n_bins, SUM(n_docs) AS n_docs,
                      SUM(bin_tokens) AS total_tokens
               FROM b GROUP BY shard)
    SELECT 'stage' AS part, CAST(1 AS BIGINT) AS k, COUNT(*) AS a,
           SUM(toks) AS b, CAST(0 AS BIGINT) AS c FROM s1
    UNION ALL
    SELECT 'stage', CAST(2 AS BIGINT), COUNT(*), SUM(toks), CAST(0 AS BIGINT) FROM s2
    UNION ALL
    SELECT 'stage', CAST(3 AS BIGINT), COUNT(*), SUM(toks), CAST(0 AS BIGINT) FROM s3
    UNION ALL
    SELECT 'pack', shard, n_bins, n_docs, total_tokens FROM packed
    ORDER BY part, k"""

  private val t22Duck = """
    WITH q AS (SELECT doc_id, text,
                      len(string_split_regex(trim(text), '\s+'))::BIGINT AS toks,
                      ROUND(0.3::DOUBLE * (len(list_filter(string_split_regex(trim(text), '\s+'),
                                               t -> t IN ('the','a','of','and','in','to','is')))
                                           / greatest(len(string_split_regex(trim(text), '\s+')), 1))
                          + 0.4::DOUBLE * least(1.0::DOUBLE, len(string_split_regex(trim(text), '\s+')) / 100.0::DOUBLE)
                          + 0.3::DOUBLE * (1.0::DOUBLE - least(1.0::DOUBLE,
                                len(regexp_extract_all(text, '[.,!?;]'))
                                / CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE))), 6) AS ql
               FROM documents),
    s1 AS (SELECT doc_id, text, toks FROM q WHERE ql >= 0.5),
    s2 AS (SELECT doc_id, text, toks FROM (
             SELECT doc_id, text, toks,
                    ROW_NUMBER() OVER (PARTITION BY substr(text, 1, 80)
                                       ORDER BY doc_id) AS rn
             FROM s1) t WHERE rn = 1),
    ev AS (SELECT substr(text, 1, 160) AS etext FROM documents WHERE doc_id % 25 = 7),
    etk AS (SELECT string_split_regex(trim(etext), '\s+') AS ts FROM ev),
    esh AS (SELECT DISTINCT ('0x' || substr(md5(g), 1, 8))::BIGINT AS h
            FROM (SELECT unnest(CASE WHEN len(ts) >= 6
                    THEN list_transform(range(1, len(ts) - 6 + 2), i -> array_to_string(ts[i : i + 5], ' '))
                    ELSE [] END) AS g FROM etk)),
    ttk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM s2),
    tsh AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h
            FROM (SELECT doc_id, unnest(CASE WHEN len(ts) >= 6
                    THEN list_transform(range(1, len(ts) - 6 + 2), i -> array_to_string(ts[i : i + 5], ' '))
                    ELSE [] END) AS g FROM ttk)),
    cont AS (SELECT DISTINCT t.doc_id FROM tsh t JOIN esh e ON e.h = t.h),
    s3 AS (SELECT s2.doc_id, s2.toks FROM s2 ANTI JOIN cont ON cont.doc_id = s2.doc_id),
    d AS (SELECT doc_id, toks,
                 ('0x' || substr(md5(doc_id::VARCHAR || ':pack'), 1, 8))::BIGINT % 4 AS shard
          FROM s3),
    w AS (SELECT shard, toks,
                 SUM(toks) OVER (PARTITION BY shard
                                 ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || ':ord'), 1, 8))::BIGINT, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks
                   AS cum_before
          FROM d),
    b AS (SELECT shard, FLOOR(cum_before / 1024.0)::BIGINT AS bin_id,
                 COUNT(*) AS n_docs, SUM(toks) AS bin_tokens
          FROM w GROUP BY shard, FLOOR(cum_before / 1024.0)::BIGINT),
    packed AS (SELECT shard, COUNT(*)::BIGINT AS n_bins, SUM(n_docs)::BIGINT AS n_docs,
                      SUM(bin_tokens)::BIGINT AS total_tokens
               FROM b GROUP BY shard)
    SELECT 'stage' AS part, 1::BIGINT AS k, COUNT(*)::BIGINT AS a,
           SUM(toks)::BIGINT AS b, 0::BIGINT AS c FROM s1
    UNION ALL
    SELECT 'stage', 2::BIGINT, COUNT(*)::BIGINT, SUM(toks)::BIGINT, 0::BIGINT FROM s2
    UNION ALL
    SELECT 'stage', 3::BIGINT, COUNT(*)::BIGINT, SUM(toks)::BIGINT, 0::BIGINT FROM s3
    UNION ALL
    SELECT 'pack', shard, n_bins, n_docs, total_tokens FROM packed
    ORDER BY part, k"""

  /** Bigram novelty scoring (t23): the n-gram-LM quality proxy — global
    * bigram document frequencies (the "language model" is the corpus
    * itself), then each document scores by how many of its bigrams are
    * corpus-unique (df = 1). High novelty = unusual text (often noise or
    * boilerplate-free prose); near-zero novelty = templated/duplicated
    * content. The CCNet/KenLM filtering signal, reduced to integer-exact
    * corpus statistics. Topology: ONE tokenize+explode of the corpus, one
    * bigram-keyed shuffle where `COUNT(*) OVER (PARTITION BY bg)` attaches
    * each bigram's corpus df in place (the t24 single-scan discipline — the
    * earlier df-as-CTE join form inlined `big` twice and re-tokenized the
    * whole corpus per run, a 2× corpus scan at 100 TB), then one
    * doc_id-keyed agg and a broadcast-scale report agg per language. */
  private val t23Spark = """
    WITH tok AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, lang, graft_tokens(text) AS ts
                 FROM documents),
    big AS (SELECT doc_id, lang, explode(transform(sequence(1, size(ts) - 1),
                     i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))) AS bg
            FROM tok WHERE size(ts) >= 2),
    wdf AS (SELECT doc_id, lang, COUNT(*) OVER (PARTITION BY bg) AS df FROM big),
    scored AS (SELECT doc_id, lang,
                      COUNT(*) AS n_bigrams,
                      SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_novel
               FROM wdf
               GROUP BY doc_id, lang)
    SELECT lang, COUNT(*) AS n_docs,
           SUM(n_bigrams) AS total_bigrams, SUM(n_novel) AS total_novel,
           ROUND(CAST(SUM(n_novel) AS DOUBLE) / SUM(n_bigrams), 6) AS novelty_rate
    FROM scored GROUP BY lang ORDER BY lang"""

  private val t23Duck = """
    WITH tok AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ts
                 FROM documents),
    big AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(ts)),
                     i -> ts[i] || ' ' || ts[i + 1])) AS bg
            FROM tok WHERE len(ts) >= 2),
    df AS (SELECT bg, COUNT(*) AS df FROM big GROUP BY bg),
    scored AS (SELECT b.doc_id, b.lang,
                      COUNT(*) AS n_bigrams,
                      SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS n_novel
               FROM big b JOIN df d ON d.bg = b.bg
               GROUP BY b.doc_id, b.lang)
    SELECT lang, COUNT(*)::BIGINT AS n_docs,
           SUM(n_bigrams)::BIGINT AS total_bigrams, SUM(n_novel)::BIGINT AS total_novel,
           ROUND(CAST(SUM(n_novel) AS DOUBLE) / SUM(n_bigrams), 6) AS novelty_rate
    FROM scored GROUP BY lang ORDER BY lang"""

  /** Truncated-dimension two-stage ANN (e11): the Matryoshka-embedding
    * retrieval shape — stage 1 scores the corpus on only the FIRST 16 of
    * 64 dimensions (with MRL-trained embeddings the information-dense
    * prefix; stored as its own column, the stage-1 scan reads 4× fewer
    * bytes and column pruning keeps the full vector out of it), stage 2
    * re-ranks the prefix top-32 by exact full-dimension L2. Same
    * refine topology as e07/e10 — the three queries span the
    * compressed-domain spectrum: subspace codes (PQ), quantized scalars
    * (SQ8), truncated prefix (MRL). Prefix distances are ordered-fold
    * FP, identical in both engines; ROUND(_, 6) guards the surfaced
    * values. */
  private val e11Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e,
                      slice(graft_vec(embedding), 1, 16) AS p
               FROM embeddings),
    qv AS (SELECT vec_id AS query_id, e AS qe, p AS qp FROM v
           WHERE vec_id >= 8 AND vec_id < 16),
    pre AS (SELECT /*+ BROADCAST(qv) */ qv.query_id, x.vec_id AS neighbor_id,
                   graft_l2(qv.qp, x.p) AS pre_d
            FROM v x JOIN qv ON x.vec_id != qv.query_id),
    cand AS (SELECT query_id, neighbor_id, pre_d,
                    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pre_d, neighbor_id) AS arnk
             FROM pre),
    ref AS (SELECT c.query_id, c.neighbor_id, c.pre_d, graft_l2(qv.qe, xv.e) AS full_d
            FROM cand c JOIN qv ON qv.query_id = c.query_id
                        JOIN v xv ON xv.vec_id = c.neighbor_id
            WHERE c.arnk <= 32)
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk,
           ROUND(pre_d, 6) AS pre_d, ROUND(full_d, 6) AS full_d
    FROM (SELECT query_id, neighbor_id, pre_d, full_d,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY full_d, neighbor_id) AS rnk
          FROM ref) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  private val e11Duck = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e,
                      list_transform(embedding, x -> x::DOUBLE)[1:16] AS p
               FROM embeddings),
    qv AS (SELECT vec_id AS query_id, e AS qe, p AS qp FROM v
           WHERE vec_id >= 8 AND vec_id < 16),
    pre AS (SELECT qv.query_id, x.vec_id AS neighbor_id,
                   list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 17), i -> (qv.qp[i] - x.p[i]) * (qv.qp[i] - x.p[i]))), (a, b) -> a + b) AS pre_d
            FROM v x JOIN qv ON x.vec_id != qv.query_id),
    cand AS (SELECT query_id, neighbor_id, pre_d,
                    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pre_d, neighbor_id) AS arnk
             FROM pre),
    ref AS (SELECT c.query_id, c.neighbor_id, c.pre_d,
                   list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), i -> (qv.qe[i] - xv.e[i]) * (qv.qe[i] - xv.e[i]))), (a, b) -> a + b) AS full_d
            FROM cand c JOIN qv ON qv.query_id = c.query_id
                        JOIN v xv ON xv.vec_id = c.neighbor_id
            WHERE c.arnk <= 32)
    SELECT query_id, neighbor_id, rnk::BIGINT AS rnk,
           ROUND(pre_d, 6) AS pre_d, ROUND(full_d, 6) AS full_d
    FROM (SELECT query_id, neighbor_id, pre_d, full_d,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY full_d, neighbor_id) AS rnk
          FROM ref) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  /** BPE-ish pre-tokenization (t26): the second tokenizer the brief's
    * token-counting op calls for — a GPT-2-style pre-tokenizer regex
    * (contractions, space-prefixed letter/digit/punctuation runs;
    * `graft_bpe_tokens`/`graft_bpe_count`, core/TextOps.BpePattern)
    * restricted to the Java∩RE2 regex subset so DuckDB's
    * regexp_extract_all replays it byte-identically (no lookahead, ASCII
    * classes). Each doc gets a punctuation-bearing suffix appended so the
    * two tokenizers genuinely diverge ("it's 3.14, ok!" is 3 whitespace
    * tokens but 8 BPE pre-tokens) and the per-language fertility ratio
    * (bpe/ws — the tokenizer-cost signal a pipeline budgets context by)
    * pins the full pattern semantics. Map-side per-row kernels + one
    * bounded per-lang agg; single corpus scan. */
  private val t26Spark = """
    WITH d AS (SELECT /*+ REPARTITION({{P}}) */ lang,
                      concat(text, " it's 3.14, ok!") AS t FROM documents)
    SELECT lang, COUNT(*) AS n_docs,
           SUM(CAST(graft_token_count(t) AS BIGINT)) AS ws_tokens,
           SUM(CAST(graft_bpe_count(t) AS BIGINT)) AS bpe_tokens,
           ROUND(CAST(SUM(CAST(graft_bpe_count(t) AS BIGINT)) AS DOUBLE)
                 / SUM(CAST(graft_token_count(t) AS BIGINT)), 6) AS fertility
    FROM d GROUP BY lang ORDER BY lang"""

  private val t26Duck = """
    WITH d AS (SELECT lang, text || ' it''s 3.14, ok!' AS t FROM documents)
    SELECT lang, COUNT(*)::BIGINT AS n_docs,
           SUM(len(string_split_regex(trim(t), '\s+')))::BIGINT AS ws_tokens,
           SUM(len(regexp_extract_all(t, '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\r]+|[ \t\n\r]+')))::BIGINT AS bpe_tokens,
           ROUND(CAST(SUM(len(regexp_extract_all(t, '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\r]+|[ \t\n\r]+'))) AS DOUBLE)
                 / SUM(len(string_split_regex(trim(t), '\s+'))), 6) AS fertility
    FROM d GROUP BY lang ORDER BY lang"""

  /** CMS-prefiltered heavy hitters (t25): exact tokens above 1% of the
    * corpus token mass, found WITHOUT shuffling the token long tail. A
    * Count-Min sketch of the token stream builds in one pass through
    * Spark's native `count_min_sketch` aggregate (ObjectHashAggregate —
    * partial sketches merge map-side, the exchange carries kilobytes) and
    * folds into a scalar-subquery literal; the probe
    * (`graft_cms_estimate`, core/SketchOps — thread-local parse cache, one
    * deserialization per task) then drops sub-threshold tokens MAP-SIDE
    * before the exact GROUP BY. CMS error is one-sided (estimate >= true
    * count, the Bloom no-false-negatives analog), so every true heavy
    * hitter survives the prefilter and the exact HAVING confirm makes the
    * result sketch-INDEPENDENT — plain exact SQL is the oracle, the t20
    * pattern applied to aggregation pruning.
    *
    * 100 TB topology: real corpora have billion-key token tails (typos,
    * URLs, numbers) — a plain GROUP BY shuffles all of them to find the
    * handful of heavy keys. Here the exchange after the prefilter carries
    * only tokens the sketch already believes heavy (vocabulary-bounded ×
    * false-positive rate); the threshold is a fraction of corpus mass, so
    * the query is scale-invariant. PipelinePlanSpec pins the probe below
    * the exchange and the sketch-independence. */
  private val t25Spark = """
    WITH tok AS (SELECT /*+ REPARTITION({{P}}) */ explode(graft_tokens(text)) AS tok
                 FROM documents),
    sk AS (SELECT count_min_sketch(tok, 0.0005D, 0.99D, 42) AS s FROM tok),
    tot AS (SELECT COUNT(*) AS n FROM tok),
    cand AS (SELECT tok FROM tok
             WHERE graft_cms_estimate((SELECT s FROM sk), tok) * 100 >= (SELECT n FROM tot))
    SELECT tok, COUNT(*) AS n
    FROM cand GROUP BY tok
    HAVING COUNT(*) * 100 >= (SELECT n FROM tot)
    ORDER BY n DESC, tok"""

  private val t25Duck = """
    WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
                 FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM tok)
    SELECT tok, COUNT(*)::BIGINT AS n
    FROM tok, tot GROUP BY tok, tot.n
    HAVING COUNT(*) * 100 >= tot.n
    ORDER BY n DESC, tok"""

  /** TF-IDF distinctive-term extraction (t24): per-document top-3
    * keywords — the tagging/topic-labelling step in front of corpus
    * curation and retrieval indexing. Classic TF-IDF ranks by
    * tf·log(N/df); log is transcendental and its last ulp differs across
    * libm implementations, so the score here is the order-equivalent*
    * tf/df (one IEEE division of two exact integers — bit-identical in
    * any engine; *equivalent for fixed tf ordering, and monotone in
    * (tf↑, df↓) which is the part of the ranking that matters), with
    * (score DESC, token ASC) as the total tie-break.
    *
    * 100 TB topology: tf is one (doc, token)-keyed shuffle, and df is a
    * COUNT window PARTITION BY token over the SAME tf table — no join and
    * no second corpus scan (a df-as-CTE formulation inlines twice in
    * Spark and re-tokenizes the corpus; the window form is
    * plan-asserted single-scan/zero-join in PipelinePlanSpec). Top-3 is
    * a per-doc window. Three content-keyed shuffles total — (doc,tok),
    * tok, doc — every key scales with content, never corpus². */
  private val t24Spark = """
    WITH tok AS (SELECT /*+ REPARTITION({{P}}) */ doc_id,
                        explode(graft_tokens(text)) AS tok
                 FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
    scored AS (SELECT doc_id, tok, tf,
                      COUNT(*) OVER (PARTITION BY tok) AS df,
                      CAST(tf AS DOUBLE) / COUNT(*) OVER (PARTITION BY tok) AS score
               FROM tf),
    top AS (SELECT doc_id, tok, tf, df, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, tok) AS rnk
            FROM scored)
    SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, tok,
           CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           ROUND(score, 6) AS score
    FROM top WHERE rnk <= 3 ORDER BY doc_id, rnk"""

  private val t24Duck = """
    WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
                 FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
    scored AS (SELECT doc_id, tok, tf,
                      COUNT(*) OVER (PARTITION BY tok) AS df,
                      CAST(tf AS DOUBLE) / COUNT(*) OVER (PARTITION BY tok) AS score
               FROM tf),
    top AS (SELECT doc_id, tok, tf, df, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, tok) AS rnk
            FROM scored)
    SELECT doc_id, rnk::BIGINT AS rnk, tok, tf::BIGINT AS tf, df::BIGINT AS df,
           ROUND(score, 6) AS score
    FROM top WHERE rnk <= 3 ORDER BY doc_id, rnk"""

  /** Multi-probe LSH ANN (e12): Lv et al. 2007 — instead of `L`
    * independent hash tables (each of which re-buckets the CORPUS), probe
    * the query's base bucket plus the buckets reached by flipping the
    * sign bits with the smallest hyperplane margin |v·r_j| (the bits most
    * likely to differ between near-identical vectors;
    * `graft_bucket_probes`, core/VecOps.bucketProbes). The corpus is
    * bucketed ONCE; only the (tiny) probe side multiplies by nprobe=4.
    * Output is a per-query recall scorecard: candidate counts and
    * recall@3 vs the exact top-3 for base-bucket-only vs multi-probe —
    * pinning both that probing strictly widens the candidate set
    * (n_cand_base <= n_cand_probe on every row) and the recall it buys
    * (sf0.01: base 1/24 exact-top-3 hits → probe 3/24 at nprobe=4 —
    * bits=8 is deliberately coarse here; the e05 harness is the recall
    * gate, this query pins the probing MACHINERY).
    *
    * 100 TB topology: candidate generation is an equi-join on the bucket
    * key (cardinality 2^bits, scaled by `bits`); probes multiply the
    * 8-query side only. The exact side (brute force over the corpus) is
    * the bounded value-check, same as e01/e05 — a production run keeps
    * only the bucket-join branch. Probe buckets are pairwise distinct and
    * a corpus vector lives in exactly one bucket, so no candidate dedup
    * is needed (VecOps scaladoc contract). */
  private def e12Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    // candidate set and exact top-3 are each referenced by several
    // downstream CTEs; as plain CTEs Spark inlines every reference and the
    // corpus gets re-scanned/re-bucketed per use (2 brute-force passes + 3
    // bucket joins). A localCheckpoint boundary materializes each ONCE —
    // the t07 signature-table pattern; both tables are query-side-sized
    // (candidates ~ nprobe × bucket occupancy per query, ex3 = 3 rows/query)
    s.sql("""
      WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e,
                        sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm,
                        graft_bucketk(graft_vec(embedding), 8, 7) AS bucket
                 FROM embeddings),
      q AS (SELECT vec_id, e, nrm, bucket FROM v WHERE vec_id < 8),
      qp AS (SELECT vec_id, e, nrm, bucket,
                    explode(graft_bucket_probes(e, 8, 7, 4)) AS pb FROM q),
      cand AS (SELECT /*+ BROADCAST(qp) */ qp.vec_id AS query_id, c.vec_id AS neighbor_id,
                      graft_dot(qp.e, c.e) / (qp.nrm * c.nrm) AS cos,
                      CASE WHEN c.bucket = qp.bucket THEN 1 ELSE 0 END AS in_base
               FROM v c JOIN qp ON c.bucket = qp.pb AND c.vec_id != qp.vec_id)
      SELECT query_id, neighbor_id, cos, in_base FROM cand
      """.replace("{{P}}", s.sparkContext.defaultParallelism.toString))
      .localCheckpoint().createOrReplaceTempView("e12_cand")
    s.sql("""
      WITH v AS (SELECT vec_id, graft_vec(embedding) AS e,
                        sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
                 FROM embeddings),
      q AS (SELECT vec_id, e, nrm FROM v WHERE vec_id < 8),
      ex AS (SELECT /*+ BROADCAST(q) */ q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    graft_dot(q.e, c.e) / (q.nrm * c.nrm) AS cos
             FROM v c JOIN q ON c.vec_id != q.vec_id)
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM ex) t WHERE rnk <= 3
      """).localCheckpoint().createOrReplaceTempView("e12_ex3")
    s.sql("""
      WITH mp3 AS (SELECT query_id, neighbor_id FROM (
                     SELECT query_id, neighbor_id,
                            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
                     FROM e12_cand) t WHERE rnk <= 3),
      sp3 AS (SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
                FROM e12_cand WHERE in_base = 1) t WHERE rnk <= 3),
      agg AS (SELECT query_id, COUNT(*) AS n_cand_probe, SUM(in_base) AS n_cand_base
              FROM e12_cand GROUP BY query_id),
      bh AS (SELECT e3.query_id, COUNT(s.neighbor_id) AS base_hits
             FROM e12_ex3 e3 LEFT JOIN sp3 s
               ON s.query_id = e3.query_id AND s.neighbor_id = e3.neighbor_id
             GROUP BY e3.query_id),
      ph AS (SELECT e3.query_id, COUNT(m.neighbor_id) AS probe_hits
             FROM e12_ex3 e3 LEFT JOIN mp3 m
               ON m.query_id = e3.query_id AND m.neighbor_id = e3.neighbor_id
             GROUP BY e3.query_id)
      SELECT a.query_id, CAST(a.n_cand_base AS BIGINT) AS n_cand_base,
             CAST(a.n_cand_probe AS BIGINT) AS n_cand_probe,
             CAST(bh.base_hits AS BIGINT) AS base_hits,
             CAST(ph.probe_hits AS BIGINT) AS probe_hits,
             ROUND(bh.base_hits / 3.0D, 6) AS base_recall_at_3,
             ROUND(ph.probe_hits / 3.0D, 6) AS probe_recall_at_3
      FROM agg a JOIN bh ON bh.query_id = a.query_id
                 JOIN ph ON ph.query_id = a.query_id
      ORDER BY a.query_id""")
  }

  private val e12Duck = """
    WITH planes AS (
      SELECT j, list_transform(list_transform(list_transform(list_transform(
               range(0, 64), i -> ((7 * 1000003 + j * 4099 + i) % 2147483648 * 2654435761) % 2147483648),
               h -> xor(h, h >> 15)),
               h -> (h * 2246822519) % 2147483648),
               h -> (xor(h, h >> 13) - 1073741824)::DOUBLE) AS w
      FROM (SELECT unnest(range(0, 8)) AS j) js),
    ve AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    nv AS (SELECT vec_id, e,
                  sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * e[i])), (x, y) -> x + y)) AS nrm
           FROM ve),
    vd AS (SELECT vec_id, j,
                  list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * w[i])), (x, y) -> x + y) AS d
           FROM ve CROSS JOIN planes),
    vb AS (SELECT vec_id, SUM(CASE WHEN d > 0.0::DOUBLE THEN (1::BIGINT << j) ELSE 0::BIGINT END)::BIGINT AS bucket
           FROM vd GROUP BY vec_id),
    q AS (SELECT vec_id FROM ve WHERE vec_id < 8),
    qord AS (SELECT vd.vec_id, vd.j,
                    ROW_NUMBER() OVER (PARTITION BY vd.vec_id ORDER BY abs(vd.d), vd.j) AS r
             FROM vd JOIN q ON q.vec_id = vd.vec_id),
    probes AS (SELECT b.vec_id, b.bucket AS pb FROM vb b JOIN q ON q.vec_id = b.vec_id
               UNION ALL
               SELECT o.vec_id, xor(b.bucket, (1::BIGINT << o.j)) AS pb
               FROM qord o JOIN vb b ON b.vec_id = o.vec_id WHERE o.r <= 3),
    cand AS (SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
                    list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(qe.e) + 1), i -> qe.e[i] * c.e[i])), (x, y) -> x + y)
                      / (qe.nrm * c.nrm) AS cos,
                    CASE WHEN cb.bucket = qb2.bucket THEN 1 ELSE 0 END AS in_base
             FROM probes p
             JOIN vb qb2 ON qb2.vec_id = p.vec_id
             JOIN nv qe ON qe.vec_id = p.vec_id
             JOIN vb cb ON cb.bucket = p.pb
             JOIN nv c ON c.vec_id = cb.vec_id AND c.vec_id != p.vec_id),
    ex AS (SELECT qe.vec_id AS query_id, c.vec_id AS neighbor_id,
                  list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(qe.e) + 1), i -> qe.e[i] * c.e[i])), (x, y) -> x + y)
                    / (qe.nrm * c.nrm) AS cos
           FROM nv qe JOIN q ON q.vec_id = qe.vec_id
           JOIN nv c ON c.vec_id != qe.vec_id),
    ex3 AS (SELECT query_id, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
              FROM ex) t WHERE rnk <= 3),
    mp3 AS (SELECT query_id, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
              FROM cand) t WHERE rnk <= 3),
    sp3 AS (SELECT query_id, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
              FROM cand WHERE in_base = 1) t WHERE rnk <= 3),
    agg AS (SELECT query_id, COUNT(*) AS n_cand_probe, SUM(in_base) AS n_cand_base
            FROM cand GROUP BY query_id),
    bh AS (SELECT e3.query_id, COUNT(s.neighbor_id) AS base_hits
           FROM ex3 e3 LEFT JOIN sp3 s
             ON s.query_id = e3.query_id AND s.neighbor_id = e3.neighbor_id
           GROUP BY e3.query_id),
    ph AS (SELECT e3.query_id, COUNT(m.neighbor_id) AS probe_hits
           FROM ex3 e3 LEFT JOIN mp3 m
             ON m.query_id = e3.query_id AND m.neighbor_id = e3.neighbor_id
           GROUP BY e3.query_id)
    SELECT a.query_id, a.n_cand_base::BIGINT AS n_cand_base,
           a.n_cand_probe::BIGINT AS n_cand_probe,
           bh.base_hits::BIGINT AS base_hits, ph.probe_hits::BIGINT AS probe_hits,
           ROUND(bh.base_hits / 3.0, 6) AS base_recall_at_3,
           ROUND(ph.probe_hits / 3.0, 6) AS probe_recall_at_3
    FROM agg a JOIN bh ON bh.query_id = a.query_id
               JOIN ph ON ph.query_id = a.query_id
    ORDER BY a.query_id"""

  /** Semantic deduplication (e13): the SemDeDup recipe (Abbas et al. 2023,
    * arXiv:2303.09540) — cluster the embedding space with k-means, then
    * deduplicate ONLY within each cluster by pairwise cosine, keeping the
    * lowest-id member of every near-duplicate group. One deterministic
    * Lloyd iteration from fixed seeds (centroids = the first 8 vectors,
    * then per-dimension member means) makes the whole pipeline
    * SQL-expressible and hash-checkable against DuckDB; the mean is
    * computed over FLOOR(x*1e6) BIGINTs so the re-centroid step is an
    * EXACT integer sum — order-independent across Spark partial
    * aggregation vs DuckDB's sequential fold (a raw double AVG would be
    * summation-order-dependent and could flip a borderline assignment).
    *
    * 100 TB topology (the reason SemDeDup beats naive all-pairs): the
    * 8x64 centroid table broadcasts; assignment is map-side; the Lloyd
    * recompute is one keyed aggregate over (cid, dim) = 512 keys with
    * map-side combine; and the O(n^2) cosine work is confined WITHIN each
    * cluster by an equi-join on cluster_id — the shuffle is keyed by
    * cluster, never corpus-wide all-pairs. Cluster-size skew is the knob:
    * raise K until the largest cluster's self-join fits an executor. */
  private val e13Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
               FROM embeddings),
    c0 AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM v WHERE vec_id < 8),
    a0 AS (SELECT vec_id, e, cid FROM (
             SELECT v.vec_id, v.e, c0.cid,
                    ROW_NUMBER() OVER (PARTITION BY v.vec_id
                      ORDER BY graft_dot(v.e, c0.ce) / (v.nrm * c0.cnrm) DESC, c0.cid) AS rn
             FROM v CROSS JOIN c0) t0 WHERE rn = 1),
    m AS (SELECT cid, i, SUM(CAST(FLOOR(element_at(e, i) * 1000000.0D) AS BIGINT)) AS s,
                 COUNT(*) AS cnt
          FROM a0 LATERAL VIEW explode(sequence(1, 64)) ex AS i
          GROUP BY cid, i),
    c1 AS (SELECT cid,
                  transform(array_sort(collect_list(struct(i, s, cnt))),
                            p -> CAST(p.s AS DOUBLE) / (1000000.0D * CAST(p.cnt AS DOUBLE))) AS ce
           FROM m GROUP BY cid),
    c1n AS (SELECT cid, ce, sqrt(graft_dot(ce, ce)) AS cnrm FROM c1),
    a1 AS (SELECT vec_id, e, nrm, cid AS cluster_id FROM (
             SELECT v.vec_id, v.e, v.nrm, c.cid,
                    ROW_NUMBER() OVER (PARTITION BY v.vec_id
                      ORDER BY graft_dot(v.e, c.ce) / (v.nrm * c.cnrm) DESC, c.cid) AS rn
             FROM v CROSS JOIN c1n c) t1 WHERE rn = 1),
    dup AS (SELECT b.vec_id
            FROM a1 a JOIN a1 b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
            WHERE graft_dot(a.e, b.e) / (a.nrm * b.nrm) > 0.4D
            GROUP BY b.vec_id)
    SELECT a1.cluster_id, COUNT(*) AS n_members,
           COUNT(dup.vec_id) AS n_dupped,
           COUNT(*) - COUNT(dup.vec_id) AS n_kept,
           MIN(a1.vec_id) AS min_id
    FROM a1 LEFT JOIN dup ON a1.vec_id = dup.vec_id
    GROUP BY a1.cluster_id ORDER BY a1.cluster_id"""

  private val e13Duck = """
    WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    v AS (SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * e[i])), (x, y) -> x + y)) AS nrm
          FROM v0),
    c0 AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM v WHERE vec_id < 8),
    a0 AS (SELECT vec_id, e, cid FROM (
             SELECT v.vec_id, v.e, c0.cid,
                    ROW_NUMBER() OVER (PARTITION BY v.vec_id
                      ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(v.e) + 1), i -> v.e[i] * c0.ce[i])), (x, y) -> x + y) / (v.nrm * c0.cnrm) DESC, c0.cid) AS rn
             FROM v CROSS JOIN c0) t0 WHERE rn = 1),
    m AS (SELECT cid, i, SUM(FLOOR(e[i] * 1000000.0)::BIGINT) AS s, COUNT(*) AS cnt
          FROM a0 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ix
          GROUP BY cid, i),
    c1 AS (SELECT cid, list(s::DOUBLE / (1000000.0 * cnt::DOUBLE) ORDER BY i) AS ce
           FROM m GROUP BY cid),
    c1n AS (SELECT cid, ce,
                   sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(ce) + 1), i -> ce[i] * ce[i])), (x, y) -> x + y)) AS cnrm
            FROM c1),
    a1 AS (SELECT vec_id, e, nrm, cid AS cluster_id FROM (
             SELECT v.vec_id, v.e, v.nrm, c.cid,
                    ROW_NUMBER() OVER (PARTITION BY v.vec_id
                      ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(v.e) + 1), i -> v.e[i] * c.ce[i])), (x, y) -> x + y) / (v.nrm * c.cnrm) DESC, c.cid) AS rn
             FROM v CROSS JOIN c1n c) t1 WHERE rn = 1),
    dup AS (SELECT b.vec_id
            FROM a1 a JOIN a1 b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
            WHERE list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i])), (x, y) -> x + y) / (a.nrm * b.nrm) > 0.4
            GROUP BY b.vec_id)
    SELECT a1.cluster_id, COUNT(*)::BIGINT AS n_members,
           COUNT(dup.vec_id)::BIGINT AS n_dupped,
           (COUNT(*) - COUNT(dup.vec_id))::BIGINT AS n_kept,
           MIN(a1.vec_id) AS min_id
    FROM a1 LEFT JOIN dup ON a1.vec_id = dup.vec_id
    GROUP BY a1.cluster_id ORDER BY a1.cluster_id"""

  /** Duplicated-span analysis (t28): the document-internal face of exact
    * substring dedup (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499) approximated at
    * token-shingle granularity — every 6-token shingle that occurs in >= 2
    * distinct documents marks its positions as duplicated, and
    * overlapping-or-adjacent duplicated positions merge into maximal spans
    * per document (gaps-and-islands over the position stream). The output
    * is what a span-removal pass would consume: per doc, how many maximal
    * duplicated spans, how many tokens they cover, and the duplicated
    * fraction.
    *
    * 100 TB topology: the duplicated-shingle set is a keyed aggregate on
    * shingle content (map-side combine collapses within-doc repeats), the
    * position re-join is an equi-join on the same key, and the island
    * merge is a per-doc window — nothing all-pairs. Shingles in more than
    * 64 distinct docs are excluded as boilerplate (t10's posting-list-cap
    * move): a degenerate navigation-chrome shingle would otherwise funnel
    * every document's positions through one shuffle key. At scale the
    * join key would be a 64-bit shingle hash instead of the string; the
    * string key keeps the oracle exact here. */
  private val t28Spark = """
    WITH sh AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, p, s
                FROM documents
                LATERAL VIEW posexplode(graft_shingles(text, 6)) t AS p, s),
    dup AS (SELECT s FROM sh GROUP BY s
            HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 64),
    dp AS (SELECT sh.doc_id, sh.p FROM sh JOIN dup ON sh.s = dup.s),
    isl AS (SELECT doc_id, p,
                   CASE WHEN MAX(p + 5) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                        OR p > MAX(p + 5) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                        THEN 1 ELSE 0 END AS is_new
            FROM dp),
    grp AS (SELECT doc_id, p,
                   SUM(is_new) OVER (PARTITION BY doc_id ORDER BY p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
            FROM isl),
    spans AS (SELECT doc_id, span_id, MIN(p) AS s0, MAX(p) + 5 AS s1
              FROM grp GROUP BY doc_id, span_id)
    SELECT sp.doc_id, COUNT(*) AS n_spans,
           SUM(sp.s1 - sp.s0 + 1) AS dup_tokens,
           MAX(CAST(graft_token_count(d.text) AS BIGINT)) AS n_tokens,
           ROUND(CAST(SUM(sp.s1 - sp.s0 + 1) AS DOUBLE)
                 / MAX(CAST(graft_token_count(d.text) AS BIGINT)), 6) AS dup_frac
    FROM spans sp JOIN documents d ON d.doc_id = sp.doc_id
    GROUP BY sp.doc_id ORDER BY sp.doc_id"""

  private val t28Duck = """
    WITH sh AS (
      SELECT doc_id, p, array_to_string(toks[p+1:p+6], ' ') AS s
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents) t
      CROSS JOIN LATERAL (SELECT unnest(range(0, greatest(len(toks)-5, 0))) AS p) ps),
    dup AS (SELECT s FROM sh GROUP BY s
            HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 64),
    dp AS (SELECT sh.doc_id, sh.p FROM sh JOIN dup ON sh.s = dup.s),
    isl AS (SELECT doc_id, p,
                   CASE WHEN MAX(p + 5) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                        OR p > MAX(p + 5) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                        THEN 1 ELSE 0 END AS is_new
            FROM dp),
    grp AS (SELECT doc_id, p,
                   SUM(is_new) OVER (PARTITION BY doc_id ORDER BY p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
            FROM isl),
    spans AS (SELECT doc_id, span_id, MIN(p) AS s0, MAX(p) + 5 AS s1
              FROM grp GROUP BY doc_id, span_id)
    SELECT sp.doc_id, COUNT(*)::BIGINT AS n_spans,
           SUM(sp.s1 - sp.s0 + 1)::BIGINT AS dup_tokens,
           MAX(len(string_split_regex(trim(d.text), '\s+'))::BIGINT) AS n_tokens,
           ROUND(SUM(sp.s1 - sp.s0 + 1)::DOUBLE
                 / MAX(len(string_split_regex(trim(d.text), '\s+'))::BIGINT), 6) AS dup_frac
    FROM spans sp JOIN documents d ON d.doc_id = sp.doc_id
    GROUP BY sp.doc_id ORDER BY sp.doc_id"""

  /** Data selection via importance resampling (t29): the DSIR recipe
    * (Xie et al. 2023, arXiv:2302.03169) — score every raw document by how
    * much its hashed-unigram profile looks like a curated target slice
    * (here sources src0-src2) versus the raw corpus, then keep the top
    * scorers. Features are 512 hashed token buckets; each bucket carries a
    * Laplace-smoothed likelihood ratio (target vs raw), and a document's
    * score is its token-weighted mean ratio.
    *
    * Determinism contract (the cross-engine hash gate): no transcendental
    * anywhere — the classic sum-of-log-ratios is replaced by a
    * ratio-weighted mean whose per-bucket contribution is integer
    * products with ONE IEEE division, floored to micro-units and summed
    * as BIGINT (exact, order-independent across Spark partial aggregation
    * vs DuckDB's fold; a double SUM of log terms would be both
    * summation-order- and libm-dependent).
    *
    * 100 TB topology: bucket statistics are a 512-key aggregate with
    * map-side combine (two tiny broadcast tables); per-doc scoring is an
    * equi-join of (doc, bucket) counts against the broadcast stats; the
    * top-k is one ORDER BY LIMIT (Spark's TakeOrdered, no full sort).
    * Nothing scales super-linearly in corpus size and the target slice
    * never needs to fit anywhere — only its 512-row histogram does. */
  private val t29Spark = """
    WITH tok AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, source,
                        CAST(graft_hash(tok) % 512 AS INT) AS b
                 FROM (SELECT doc_id, source, explode(graft_tokens(text)) AS tok
                       FROM documents)),
    rstat AS (SELECT b, COUNT(*) AS rc FROM tok GROUP BY b),
    tstat AS (SELECT b, COUNT(*) AS tc FROM tok
              WHERE source IN ('src0', 'src1', 'src2') GROUP BY b),
    tots AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nr,
                    CAST(COUNT(IF(source IN ('src0', 'src1', 'src2'), 1, NULL)) AS DOUBLE) AS nt
             FROM tok),
    dc AS (SELECT doc_id, b, COUNT(*) AS cnt FROM tok GROUP BY doc_id, b),
    contrib AS (SELECT dc.doc_id,
                       CAST(FLOOR((CAST(dc.cnt AS DOUBLE)
                         * (((CAST(COALESCE(ts.tc, 0) AS DOUBLE) + 1.0D) * (tots.nr + 512.0D))
                            / ((CAST(rs.rc AS DOUBLE) + 1.0D) * (tots.nt + 512.0D))))
                         * 1000000.0D) AS BIGINT) AS mu
                FROM dc
                JOIN rstat rs ON rs.b = dc.b
                LEFT JOIN tstat ts ON ts.b = dc.b
                CROSS JOIN tots),
    score AS (SELECT c.doc_id, d.source,
                     CAST(graft_token_count(d.text) AS BIGINT) AS n_tokens,
                     SUM(c.mu) AS mu
              FROM contrib c JOIN documents d ON d.doc_id = c.doc_id
              GROUP BY c.doc_id, d.source, d.text)
    SELECT doc_id, source, n_tokens,
           -- integer micro-units, not ROUND(double, 6): the two engines
           -- round half-way doubles differently (BigDecimal HALF_UP vs
           -- std::round on the scaled binary value), which flipped a 6th
           -- decimal at sf0.1 — DIV is exact and order-independent
           mu DIV n_tokens AS dsir_score_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY CAST(mu AS DOUBLE) / CAST(n_tokens AS DOUBLE) DESC, doc_id) AS BIGINT) AS rnk
    FROM (SELECT * FROM score
          ORDER BY CAST(mu AS DOUBLE) / CAST(n_tokens AS DOUBLE) DESC, doc_id
          LIMIT 20) top
    ORDER BY rnk"""

  private val t29Duck = """
    WITH tok AS (SELECT doc_id, source,
                        (('0x' || substr(md5(tk), 1, 8))::BIGINT % 512)::INT AS b
                 FROM (SELECT doc_id, source, unnest(string_split_regex(trim(text), '\s+')) AS tk
                       FROM documents) u),
    rstat AS (SELECT b, COUNT(*) AS rc FROM tok GROUP BY b),
    tstat AS (SELECT b, COUNT(*) AS tc FROM tok
              WHERE source IN ('src0', 'src1', 'src2') GROUP BY b),
    tots AS (SELECT COUNT(*)::DOUBLE AS nr,
                    COUNT(*) FILTER (source IN ('src0', 'src1', 'src2'))::DOUBLE AS nt
             FROM tok),
    dc AS (SELECT doc_id, b, COUNT(*) AS cnt FROM tok GROUP BY doc_id, b),
    contrib AS (SELECT dc.doc_id,
                       FLOOR((dc.cnt::DOUBLE
                         * (((COALESCE(ts.tc, 0)::DOUBLE + 1.0) * (tots.nr + 512.0))
                            / ((rs.rc::DOUBLE + 1.0) * (tots.nt + 512.0))))
                         * 1000000.0)::BIGINT AS mu
                FROM dc
                JOIN rstat rs ON rs.b = dc.b
                LEFT JOIN tstat ts ON ts.b = dc.b
                CROSS JOIN tots),
    score AS (SELECT c.doc_id, d.source,
                     len(string_split_regex(trim(d.text), '\s+'))::BIGINT AS n_tokens,
                     SUM(c.mu) AS mu
              FROM contrib c JOIN documents d ON d.doc_id = c.doc_id
              GROUP BY c.doc_id, d.source, d.text)
    SELECT doc_id, source, n_tokens,
           (mu // n_tokens)::BIGINT AS dsir_score_micro,
           rnk::BIGINT AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY mu::DOUBLE / n_tokens::DOUBLE DESC, doc_id) AS rnk
          FROM score) t
    WHERE rnk <= 20 ORDER BY rnk"""

  /** Nearest as-of join (a05): pandas `merge_asof(direction='nearest')` —
    * each click matched to the closest view in time (either direction, tie
    * to backward) for the same user, within a ±5 min tolerance. Completes
    * the as-of family: backward (a01), forward+tolerance (a03), keyed
    * interval (a04). Both sides are deduplicated to distinct (user, ts)
    * first so the nearest choice is unique and the DuckDB oracle (a
    * rank-over-pairs formulation) is exact. The operator cost is unchanged
    * from one-directional as-of: ONE shuffle of |L|+|R| keyed rows — the
    * two candidate scans are windows over the same hash partitioning. */
  private def a05Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val c = s.sql("SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'click'")
    val v = s.sql("""SELECT user_id, ts, MAX(value) AS value FROM events
                     WHERE event_type = 'view' GROUP BY user_id, ts""")
    graft.operators.AsofJoin.asof(c, v, Seq("user_id"), "ts", "ts", Seq("value"),
        prefix = "view_", direction = "nearest", toleranceMicros = Some(300000000L))
      .createOrReplaceTempView("a05_nearest")
    s.sql("""
      SELECT user_id,
             COUNT(*) AS n_clicks,
             COUNT(view_ts) AS n_matched,
             COUNT(IF(view_ts <= ts, 1, NULL)) AS n_backward,
             COALESCE(SUM(abs(unix_micros(ts) - unix_micros(view_ts)) DIV 1000000), 0) AS sum_abs_lag_s,
             CAST(COALESCE(ROUND(SUM(CAST(view_value AS DECIMAL(18,6))), 2), 0) AS DOUBLE) AS sum_view_val
      FROM a05_nearest GROUP BY user_id ORDER BY user_id""")
  }

  private val a05Duck = """
    WITH c AS (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'click'),
    v AS (SELECT user_id, ts, MAX(value) AS value FROM events
          WHERE event_type = 'view' GROUP BY user_id, ts),
    pairs AS (SELECT c.user_id, c.ts AS cts, v.ts AS vts, v.value,
                     abs(epoch_us(c.ts) - epoch_us(v.ts)) AS au
              FROM c JOIN v ON v.user_id = c.user_id
              WHERE abs(epoch_us(c.ts) - epoch_us(v.ts)) <= 300000000),
    best AS (SELECT user_id, cts, vts, value, au,
                    ROW_NUMBER() OVER (PARTITION BY user_id, cts
                      ORDER BY au, CASE WHEN vts <= cts THEN 0 ELSE 1 END) AS rn
             FROM pairs),
    m AS (SELECT c.user_id, c.ts AS cts, b.vts, b.value, b.au
          FROM c LEFT JOIN best b ON b.user_id = c.user_id AND b.cts = c.ts AND b.rn = 1)
    SELECT user_id,
           COUNT(*)::BIGINT AS n_clicks,
           COUNT(vts)::BIGINT AS n_matched,
           COUNT(CASE WHEN vts <= cts THEN 1 END)::BIGINT AS n_backward,
           COALESCE(SUM(au // 1000000), 0)::BIGINT AS sum_abs_lag_s,
           COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2), 0)::DOUBLE AS sum_view_val
    FROM m GROUP BY user_id ORDER BY user_id"""

  /** Stratified exact-quota sampling (t30): k docs per language stratum,
    * chosen by ranking on a salted content-independent hash — the
    * distributed form of per-stratum sampling WITHOUT replacement (t17 is
    * the rate-based cousin: Bernoulli by hash threshold; this one is exact
    * quota, the shape eval-set construction needs where "exactly 100 per
    * language" is a hard requirement, not an expectation). Deterministic:
    * same corpus, same salt, same sample — reproducibility is the whole
    * point vs rand().
    *
    * 100 TB topology: one shuffle keyed by stratum for the rank window.
    * For small k << stratum size the window sort can be replaced by a
    * per-partition top-k + merge (TakeOrdered per key); at 5 strata the
    * window is already the right plan. */
  private val t30Spark = """
    WITH ranked AS (
      SELECT /*+ REPARTITION({{P}}) */ doc_id, lang, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY graft_hash(CONCAT(CAST(doc_id AS STRING), ':t30')), doc_id) AS rnk,
             COUNT(*) OVER (PARTITION BY lang) AS stratum_n
      FROM documents)
    SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rnk AS BIGINT) AS rnk, CAST(stratum_n AS BIGINT) AS stratum_n
    FROM ranked WHERE rnk <= 10 ORDER BY lang, rnk"""

  private val t30Duck = """
    WITH ranked AS (
      SELECT doc_id, lang, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || ':t30'), 1, 8))::BIGINT, doc_id) AS rnk,
             COUNT(*) OVER (PARTITION BY lang) AS stratum_n
      FROM documents)
    SELECT doc_id, lang, source, n_chars::BIGINT AS n_chars,
           rnk::BIGINT AS rnk, stratum_n::BIGINT AS stratum_n
    FROM ranked WHERE rnk <= 10 ORDER BY lang, rnk"""

  /** Streaming near-dup suppression (s08): documents arrive over 5
    * micro-batches; each fans out to 4 simhash band keys and a state-store
    * boolean per band key suppresses any doc sharing a band with anything
    * earlier — cross-batch near-dup dedup ON ARRIVAL, the streaming face of
    * the batch LSH dedup family (t06-t08). The synthetic corpus has 25
    * templates x 4 arrivals, with every 4th doc perturbed in one word:
    * perturbed docs still share unchanged bands, so they are caught as
    * near-dups (an exact-key streaming dedup like s03 would pass them).
    * Oracle: batch replay — kept iff the doc holds the minimum doc_id in
    * EVERY one of its band groups (arrival order is doc_id order). */
  private def s08Fn(s: SparkSession, dir: String): DataFrame = {
    val fin = runStream(s, "graft_s08") { (sess, tmp) =>
      def gen(lo: Int, hi: Int) = sess.sql(s"""
        SELECT CAST(id AS BIGINT) AS doc_id,
               timestamp_seconds(1700000000 + id) AS ts,
               CAST(graft_simhash(concat_ws(' ', transform(sequence(0, 19), j ->
                 CASE WHEN j = 0 AND id % 4 = 3 THEN concat('v', CAST(id AS STRING))
                      ELSE concat('w', CAST((id % 25) * 31 + j AS STRING)) END))) AS BIGINT) AS sim
        FROM range($lo, $hi)""")
      val src = stageBatches(tmp, (0 until 5).map(i => gen(i * 20, (i + 1) * 20)))
      val stream = sess.readStream.schema(gen(0, 1).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      graft.streaming.StreamOps.neardupSuppress(stream).toDF()
    }
    fin.createOrReplaceTempView("graft_s08_fin")
    fin.sparkSession.sql("""
      WITH kept AS (SELECT doc_id, every(first) AS kept
                    FROM graft_s08_fin GROUP BY doc_id)
      SELECT CAST(doc_id % 25 AS BIGINT) AS tmpl,
             COUNT(*) AS n_docs,
             COUNT(IF(kept, 1, NULL)) AS n_kept,
             MIN(IF(kept, doc_id, NULL)) AS min_kept_id
      FROM kept GROUP BY doc_id % 25 ORDER BY tmpl""")
  }

  private val s08Duck = """
    WITH d AS (SELECT i AS doc_id,
                 list_transform(range(0, 20), j ->
                   CASE WHEN j = 0 AND i % 4 = 3 THEN 'v' || i
                        ELSE 'w' || ((i % 25) * 31 + j) END) AS toks
               FROM range(100) t(i)),
    hs AS (SELECT doc_id, list_transform(toks, tk -> ('0x' || substr(md5(tk), 1, 8))::BIGINT) AS h
           FROM d),
    sims AS (SELECT doc_id,
               list_sum(list_transform(range(0, 32), b -> CASE WHEN
                  list_sum(list_transform(h,
                    hh -> CASE WHEN ((hh >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
                  THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS sim
             FROM hs),
    bands AS (SELECT doc_id, b, (sim >> (b * 8)) & 255 AS bk
              FROM sims CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
    firsts AS (SELECT b, bk, MIN(doc_id) AS first_doc FROM bands GROUP BY b, bk),
    verdict AS (SELECT bands.doc_id, bool_and(bands.doc_id = f.first_doc) AS kept
                FROM bands JOIN firsts f ON f.b = bands.b AND f.bk = bands.bk
                GROUP BY bands.doc_id)
    SELECT (doc_id % 25)::BIGINT AS tmpl,
           COUNT(*)::BIGINT AS n_docs,
           COUNT(CASE WHEN kept THEN 1 END)::BIGINT AS n_kept,
           MIN(CASE WHEN kept THEN doc_id END)::BIGINT AS min_kept_id
    FROM verdict GROUP BY doc_id % 25 ORDER BY tmpl"""

  /** Windowed audio energy segmentation (m08): each clip decodes through
    * the REAL `javax.sound.sampled` codec and folds into fixed 64-sample
    * windows (`graft_audio_windows`) with exact integer stats — the
    * segmentation in front of VAD / silence trimming / energy gating in an
    * audio training pipeline. Windows classify active by integer peak
    * threshold (no sqrt, no RMS float), so the closed-form PCM16 signal
    * oracle pins every window arithmetically. Decode+window is map-side;
    * the only shuffle is the 4-key report aggregate. */
  private val m08Spark = """
    WITH a AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, graft_audio_wav(doc_id) AS wav
               FROM documents),
    w AS (SELECT doc_id, wi.win_idx, wi.n_samples, wi.peak_abs, wi.sum_abs, wi.sum_sq
          FROM a LATERAL VIEW explode(graft_audio_windows(wav, 64)) t AS wi)
    SELECT CAST(win_idx AS BIGINT) AS win_idx, COUNT(*) AS n_windows,
           SUM(n_samples) AS total_samples,
           COUNT(IF(peak_abs >= 900, 1, NULL)) AS n_active,
           CAST(MAX(peak_abs) AS BIGINT) AS max_peak,
           SUM(sum_abs) AS total_abs, SUM(sum_sq) AS total_sq
    FROM w GROUP BY win_idx ORDER BY win_idx"""

  private val m08Duck = """
    WITH s AS (SELECT doc_id, i, i // 64 AS win_idx,
                      ((doc_id * 31 + i * i) % 2000) - 1000 AS smp
               FROM documents CROSS JOIN (SELECT unnest(range(0, 256)) AS i) t),
    w AS (SELECT doc_id, win_idx, COUNT(*) AS n_samples, MAX(abs(smp)) AS peak_abs,
                 SUM(abs(smp)) AS sum_abs, SUM(smp * smp) AS sum_sq
          FROM s GROUP BY doc_id, win_idx)
    SELECT win_idx::BIGINT AS win_idx, COUNT(*)::BIGINT AS n_windows,
           SUM(n_samples)::BIGINT AS total_samples,
           COUNT(CASE WHEN peak_abs >= 900 THEN 1 END)::BIGINT AS n_active,
           MAX(peak_abs)::BIGINT AS max_peak,
           SUM(sum_abs)::BIGINT AS total_abs, SUM(sum_sq)::BIGINT AS total_sq
    FROM w GROUP BY win_idx ORDER BY win_idx"""

  /** Reciprocal-rank fusion of two ANN paths (e14): the standard hybrid
    * retrieval combiner (Cormack et al. 2009) — candidates from the LSH
    * bucket route (e02's seeded hyperplanes) and the IVF nearest-list
    * route (e04's deterministic centroids) merge by
    * RRF(d) = Σ_method 1/(60 + rank_method(d)), a method-agnostic score
    * needing no calibration between the two cosine scales. Ranks are
    * integers and each term is ONE IEEE division added in fixed order, so
    * the score is bit-deterministic cross-engine.
    *
    * 100 TB topology: both candidate routes stay keyed shuffles (bucket
    * equi-join, list equi-join); the fusion is a (query, neighbor)
    * full-outer equi-join of two already-small candidate sets; nothing
    * rescans the corpus. The union of two cheap diverse routes is the
    * production recall lever when no single index is trusted alone. */
  private val e14Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm,
                      graft_bucketk(graft_vec(embedding), 8, 7) AS bucket FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id >= 8 AND vec_id < 16),
    lshr AS (SELECT query_id, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS r
             FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                          graft_dot(q.e, c.e) / (q.nrm * c.nrm) AS cos
                   FROM q JOIN v c ON c.bucket = q.bucket AND c.vec_id != q.vec_id) lc),
    c0 AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM v WHERE vec_id < 4),
    asgn AS (SELECT vec_id, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY graft_dot(e, ce) / (nrm * cnrm) DESC, cid) AS rn
             FROM v CROSS JOIN c0),
    a AS (SELECT vec_id, cid AS list_id FROM asgn WHERE rn = 1),
    ivfr AS (SELECT query_id, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS r
             FROM (SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
                          graft_dot(qq.e, c.e) / (qq.nrm * c.nrm) AS cos
                   FROM q qq
                   JOIN a qa ON qa.vec_id = qq.vec_id
                   JOIN a xa ON xa.list_id = qa.list_id AND xa.vec_id != qq.vec_id
                   JOIN v c ON c.vec_id = xa.vec_id) ic),
    fused AS (SELECT COALESCE(l.query_id, i.query_id) AS query_id,
                     COALESCE(l.neighbor_id, i.neighbor_id) AS neighbor_id,
                     IF(l.r IS NULL, 0, 1) AS in_lsh,
                     IF(i.r IS NULL, 0, 1) AS in_ivf,
                     COALESCE(1.0D / (60.0D + CAST(l.r AS DOUBLE)), 0.0D)
                       + COALESCE(1.0D / (60.0D + CAST(i.r AS DOUBLE)), 0.0D) AS rrf
              FROM lshr l FULL OUTER JOIN ivfr i
                ON i.query_id = l.query_id AND i.neighbor_id = l.neighbor_id)
    SELECT query_id, neighbor_id, CAST(in_lsh AS BIGINT) AS in_lsh,
           CAST(in_ivf AS BIGINT) AS in_ivf,
           ROUND(rrf, 6) AS rrf, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rnk
          FROM fused) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  private val e14Duck = """
    WITH planes AS (
      SELECT j, list_transform(list_transform(list_transform(list_transform(
               range(0, 64), i -> ((7 * 1000003 + j * 4099 + i) % 2147483648 * 2654435761) % 2147483648),
               h -> xor(h, h >> 15)),
               h -> (h * 2246822519) % 2147483648),
               h -> (xor(h, h >> 13) - 1073741824)::DOUBLE) AS w
      FROM (SELECT unnest(range(0, 8)) AS j) js),
    ve AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    vb AS (SELECT vec_id, e,
                  SUM(CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
                        list_transform(range(1, len(e) + 1), i -> e[i] * w[i])), (x, y) -> x + y) > 0.0::DOUBLE
                      THEN (1::BIGINT << j) ELSE 0::BIGINT END)::BIGINT AS bucket
           FROM ve CROSS JOIN planes GROUP BY vec_id, e),
    v AS (SELECT vb.vec_id, vb.e, vb.bucket,
                 sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(vb.e) + 1), i -> vb.e[i] * vb.e[i])), (x, y) -> x + y)) AS nrm
          FROM vb),
    q AS (SELECT * FROM v WHERE vec_id >= 8 AND vec_id < 16),
    lshr AS (SELECT query_id, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS r
             FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                          list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> q.e[i] * c.e[i])), (x, y) -> x + y) / (q.nrm * c.nrm) AS cos
                   FROM q JOIN v c ON c.bucket = q.bucket AND c.vec_id != q.vec_id) lc),
    c0 AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM v WHERE vec_id < 4),
    asgn AS (SELECT v.vec_id, c0.cid,
                    ROW_NUMBER() OVER (PARTITION BY v.vec_id
                      ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(v.e) + 1), i -> v.e[i] * c0.ce[i])), (x, y) -> x + y) / (v.nrm * c0.cnrm) DESC, c0.cid) AS rn
             FROM v CROSS JOIN c0),
    a AS (SELECT vec_id, cid AS list_id FROM asgn WHERE rn = 1),
    ivfr AS (SELECT query_id, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS r
             FROM (SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
                          list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(qq.e) + 1), i -> qq.e[i] * c.e[i])), (x, y) -> x + y) / (qq.nrm * c.nrm) AS cos
                   FROM q qq
                   JOIN a qa ON qa.vec_id = qq.vec_id
                   JOIN a xa ON xa.list_id = qa.list_id AND xa.vec_id != qq.vec_id
                   JOIN v c ON c.vec_id = xa.vec_id) ic),
    fused AS (SELECT COALESCE(l.query_id, i.query_id) AS query_id,
                     COALESCE(l.neighbor_id, i.neighbor_id) AS neighbor_id,
                     CASE WHEN l.r IS NULL THEN 0 ELSE 1 END AS in_lsh,
                     CASE WHEN i.r IS NULL THEN 0 ELSE 1 END AS in_ivf,
                     COALESCE(1.0 / (60.0 + l.r::DOUBLE), 0.0)
                       + COALESCE(1.0 / (60.0 + i.r::DOUBLE), 0.0) AS rrf
              FROM lshr l FULL OUTER JOIN ivfr i
                ON i.query_id = l.query_id AND i.neighbor_id = l.neighbor_id)
    SELECT query_id, neighbor_id, in_lsh::BIGINT AS in_lsh, in_ivf::BIGINT AS in_ivf,
           ROUND(rrf, 6) AS rrf, rnk::BIGINT AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rnk
          FROM fused) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  /** Waiting-supplier report (q10): the TPC-H Q21 shape on this schema —
    * for finalized orders, suppliers whose line was returned ('R') while
    * at least one OTHER supplier served the same order (EXISTS → left
    * semi join) and no other supplier's line was returned (NOT EXISTS →
    * left anti join). Exercises the correlated-subquery planning surface
    * the q-family hadn't covered: Catalyst rewrites both subqueries to
    * semi/anti hash joins keyed on l_orderkey — never a per-row probe —
    * and the supplier dim broadcasts. Top-20 by (numwait DESC, s_name)
    * is a TakeOrdered. */
  private val q10Spark = """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name LIMIT 20"""

  private val q10Duck = """
    SELECT s.s_name, COUNT(*)::BIGINT AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name LIMIT 20"""

  /** Bearing analysis (g59): `ST_Azimuth` (PostGIS convention — radians
    * clockwise from north, [0, 2π)) over synthetic point pairs, reported
    * as an 8-sector compass histogram. The sector of each pair is decided
    * by INTEGER comparisons on (dx, dy) — sign and |dx| vs |dy| — never by
    * flooring the transcendental angle, so a 1-ulp atan2 divergence
    * between libm implementations cannot flip a bucket; the angle itself
    * is only surfaced through ROUND(…, 6) min/max per sector, where ulp
    * noise is far below the rounding grain (the g10 mercator oracle
    * establishes the trig-in-oracle precedent). Map-side kernel, one
    * 8-key aggregate. */
  private val g59Spark = """
    WITH p AS (SELECT /*+ REPARTITION({{P}}) */
                 l_partkey % 100 AS axi, l_suppkey % 100 AS ayi,
                 (l_partkey * 7) % 100 AS bxi, (l_suppkey * 13) % 100 AS byi
               FROM lineitem),
    d AS (SELECT axi, ayi, bxi, byi, bxi - axi AS dx, byi - ayi AS dy FROM p
          WHERE NOT (axi = bxi AND ayi = byi)),
    az AS (SELECT
             CASE WHEN dx >= 0 AND dy > 0 AND dx < dy THEN 0
                  WHEN dx > 0 AND dy > 0 AND dx >= dy THEN 1
                  WHEN dx > 0 AND dy <= 0 AND -dy < dx THEN 2
                  WHEN dx > 0 AND dy < 0 AND -dy >= dx THEN 3
                  WHEN dx <= 0 AND dy < 0 AND -dx < -dy THEN 4
                  WHEN dx < 0 AND dy < 0 AND -dx >= -dy THEN 5
                  WHEN dx < 0 AND dy >= 0 AND dy < -dx THEN 6
                  ELSE 7 END AS sector,
             ST_Azimuth(ST_Point(CAST(axi AS DOUBLE), CAST(ayi AS DOUBLE)),
                        ST_Point(CAST(bxi AS DOUBLE), CAST(byi AS DOUBLE)))
               * 180.0D / pi() AS deg
           FROM d)
    SELECT CAST(sector AS BIGINT) AS sector, COUNT(*) AS n,
           ROUND(MIN(deg), 6) AS min_deg, ROUND(MAX(deg), 6) AS max_deg
    FROM az GROUP BY sector ORDER BY sector"""

  private val g59Duck = """
    WITH p AS (SELECT l_partkey % 100 AS axi, l_suppkey % 100 AS ayi,
                      (l_partkey * 7) % 100 AS bxi, (l_suppkey * 13) % 100 AS byi
               FROM lineitem),
    d AS (SELECT axi, ayi, bxi, byi, bxi - axi AS dx, byi - ayi AS dy FROM p
          WHERE NOT (axi = bxi AND ayi = byi)),
    az AS (SELECT
             CASE WHEN dx >= 0 AND dy > 0 AND dx < dy THEN 0
                  WHEN dx > 0 AND dy > 0 AND dx >= dy THEN 1
                  WHEN dx > 0 AND dy <= 0 AND -dy < dx THEN 2
                  WHEN dx > 0 AND dy < 0 AND -dy >= dx THEN 3
                  WHEN dx <= 0 AND dy < 0 AND -dx < -dy THEN 4
                  WHEN dx < 0 AND dy < 0 AND -dx >= -dy THEN 5
                  WHEN dx < 0 AND dy >= 0 AND dy < -dx THEN 6
                  ELSE 7 END AS sector,
             (CASE WHEN atan2(dx::DOUBLE, dy::DOUBLE) < 0.0
                   THEN atan2(dx::DOUBLE, dy::DOUBLE) + 2.0 * pi()
                   ELSE atan2(dx::DOUBLE, dy::DOUBLE) END) * 180.0 / pi() AS deg
           FROM d)
    SELECT sector::BIGINT AS sector, COUNT(*)::BIGINT AS n,
           ROUND(MIN(deg), 6) AS min_deg, ROUND(MAX(deg), 6) AS max_deg
    FROM az GROUP BY sector ORDER BY sector"""

  /** Closest-point / shortest-line kernels (g60): `ST_ClosestPoint(A, B)`
    * (nearest point ON A to B — JTS DistanceOp) and `ST_ShortestLine`,
    * driven against an axis-aligned box where the nearest point has the
    * closed-form clamp(x, y) — inside points map to themselves (zero-length
    * shortest line), outside points clamp to the boundary. All checked
    * values stay integer-exact (coordinate sums as BIGINT, squared
    * distances as BIGINT); the only float is one sqrt of the MAX square.
    * Map-side kernels, one small-key aggregate. */
  private val g60Spark = """
    WITH p AS (SELECT /*+ REPARTITION({{P}}) */ l_returnflag AS flag,
                      l_partkey % 100 AS xi, l_suppkey % 100 AS yi FROM lineitem),
    c AS (SELECT flag, xi, yi,
                 CAST(ST_X(ST_ClosestPoint(ST_MakeEnvelope(10, 10, 90, 90),
                                           ST_Point(CAST(xi AS DOUBLE), CAST(yi AS DOUBLE)))) AS BIGINT) AS cx,
                 CAST(ST_Y(ST_ClosestPoint(ST_MakeEnvelope(10, 10, 90, 90),
                                           ST_Point(CAST(xi AS DOUBLE), CAST(yi AS DOUBLE)))) AS BIGINT) AS cy,
                 ST_Length(ST_ShortestLine(ST_Point(CAST(xi AS DOUBLE), CAST(yi AS DOUBLE)),
                                           ST_MakeEnvelope(10, 10, 90, 90))) AS slen
          FROM p),
    d AS (SELECT flag, cx, cy, slen,
                 (xi - cx) * (xi - cx) + (yi - cy) * (yi - cy) AS sq FROM c)
    SELECT flag, COUNT(*) AS n,
           SUM(cx) AS sum_cpx, SUM(cy) AS sum_cpy,
           COUNT(IF(sq = 0, 1, NULL)) AS n_inside,
           COUNT(IF(slen = 0.0D, 1, NULL)) AS n_zero_line,
           SUM(sq) AS sum_sq,
           ROUND(SQRT(CAST(MAX(sq) AS DOUBLE)), 6) AS max_dist
    FROM d GROUP BY flag ORDER BY flag"""

  private val g60Duck = """
    WITH p AS (SELECT l_returnflag AS flag,
                      l_partkey % 100 AS xi, l_suppkey % 100 AS yi FROM lineitem),
    c AS (SELECT flag, xi, yi,
                 least(greatest(xi, 10), 90) AS cx,
                 least(greatest(yi, 10), 90) AS cy FROM p),
    d AS (SELECT flag, cx, cy,
                 (xi - cx) * (xi - cx) + (yi - cy) * (yi - cy) AS sq FROM c)
    SELECT flag, COUNT(*)::BIGINT AS n,
           SUM(cx)::BIGINT AS sum_cpx, SUM(cy)::BIGINT AS sum_cpy,
           COUNT(CASE WHEN sq = 0 THEN 1 END)::BIGINT AS n_inside,
           COUNT(CASE WHEN sq = 0 THEN 1 END)::BIGINT AS n_zero_line,
           SUM(sq)::BIGINT AS sum_sq,
           ROUND(sqrt(MAX(sq)::DOUBLE), 6) AS max_dist
    FROM d GROUP BY flag ORDER BY flag"""

  /** Filtered ANN: pre-filter vs post-filter (e15): every production
    * vector search carries a metadata predicate (here: neighbor must share
    * the query's label), and the two standard execution strategies
    * diverge in recall — PRE-filter restricts the corpus then ranks
    * (exact ground truth), POST-filter takes the unfiltered global top-10
    * and then applies the predicate, losing any constrained neighbor that
    * didn't crack the global list. The report quantifies that loss per
    * query: survivors of the post-filter cut and recall@3 against the
    * pre-filtered truth. Bounded like e01 (8 probe queries x corpus,
    * broadcast probe side); integer counts + one division, deterministic.
    * At 100 TB the pre-filter side is the argument for label-partitioned
    * or label-bucketed layouts (e06's partition pruning applies). */
  private val e15Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, label, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
               FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id >= 8 AND vec_id < 16),
    pairs AS (SELECT /*+ BROADCAST(q) */ q.vec_id AS qid, q.label AS ql,
                     x.vec_id AS nid, x.label AS nl,
                     graft_dot(q.e, x.e) / (q.nrm * x.nrm) AS cos
              FROM q JOIN v x ON x.vec_id != q.vec_id),
    exact3 AS (SELECT qid, nid FROM (
                 SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cos DESC, nid) AS r
                 FROM pairs WHERE nl = ql) t WHERE r <= 3),
    glob10 AS (SELECT qid, ql, nid, nl, cos FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cos DESC, nid) AS r
                 FROM pairs) t WHERE r <= 10),
    post AS (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY cos DESC, nid) AS pr
             FROM glob10 WHERE nl = ql)
    SELECT q.vec_id AS query_id, CAST(q.label AS BIGINT) AS label,
           COALESCE(ps.n_post, 0) AS n_post,
           COALESCE(h.hits, 0) AS hits,
           ROUND(CAST(COALESCE(h.hits, 0) AS DOUBLE) / 3.0D, 6) AS post_recall_at_3
    FROM q
    LEFT JOIN (SELECT qid, COUNT(*) AS n_post FROM post GROUP BY qid) ps ON ps.qid = q.vec_id
    LEFT JOIN (SELECT e3.qid, COUNT(p.nid) AS hits
               FROM exact3 e3 LEFT JOIN (SELECT * FROM post WHERE pr <= 3) p
                 ON p.qid = e3.qid AND p.nid = e3.nid
               GROUP BY e3.qid) h ON h.qid = q.vec_id
    ORDER BY query_id"""

  private val e15Duck = """
    WITH v0 AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    v AS (SELECT vec_id, label, e,
                 sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * e[i])), (x, y) -> x + y)) AS nrm
          FROM v0),
    q AS (SELECT * FROM v WHERE vec_id >= 8 AND vec_id < 16),
    pairs AS (SELECT q.vec_id AS qid, q.label AS ql, x.vec_id AS nid, x.label AS nl,
                     list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> q.e[i] * x.e[i])), (x, y) -> x + y) / (q.nrm * x.nrm) AS cos
              FROM q JOIN v x ON x.vec_id != q.vec_id),
    exact3 AS (SELECT qid, nid FROM (
                 SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cos DESC, nid) AS r
                 FROM pairs WHERE nl = ql) t WHERE r <= 3),
    glob10 AS (SELECT qid, ql, nid, nl, cos FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cos DESC, nid) AS r
                 FROM pairs) t WHERE r <= 10),
    post AS (SELECT qid, nid, cos, ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY cos DESC, nid) AS pr
             FROM glob10 WHERE nl = ql)
    SELECT q.vec_id AS query_id, q.label::BIGINT AS label,
           COALESCE(ps.n_post, 0)::BIGINT AS n_post,
           COALESCE(h.hits, 0)::BIGINT AS hits,
           ROUND(COALESCE(h.hits, 0)::DOUBLE / 3.0, 6) AS post_recall_at_3
    FROM q
    LEFT JOIN (SELECT qid, COUNT(*) AS n_post FROM post GROUP BY qid) ps ON ps.qid = q.vec_id
    LEFT JOIN (SELECT e3.qid, COUNT(p.nid) AS hits
               FROM exact3 e3 LEFT JOIN (SELECT * FROM post WHERE pr <= 3) p
                 ON p.qid = e3.qid AND p.nid = e3.nid
               GROUP BY e3.qid) h ON h.qid = q.vec_id
    ORDER BY query_id"""

  /** Cross-source overlap matrix (t31): for every pair of corpus sources,
    * how much 6-token shingle vocabulary they share — the provenance
    * signal behind source-level dedup decisions (mirror sites, scrapes of
    * scrapes) and the corpus-composition complement to t15's chunk-level
    * view. Overlap coefficient = |A∩B| / min(|A|,|B|) — one division of
    * exact integers. The shuffle is keyed by shingle (distinct-pairs
    * aggregate, then an equi-join on shingle); pair output is bounded by
    * sources², never documents². Top-20 pairs by overlap. */
  private val t31Spark = """
    WITH ss AS (SELECT /*+ REPARTITION({{P}}) */ DISTINCT source, s
                FROM documents LATERAL VIEW explode(graft_shingles(text, 6)) t AS s),
    sz AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY source),
    inter AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
              FROM ss a JOIN ss b ON b.s = a.s AND a.source < b.source
              GROUP BY a.source, b.source)
    SELECT src_a, src_b, n_shared, n_a, n_b,
           ROUND(CAST(n_shared AS DOUBLE) / CAST(LEAST(n_a, n_b) AS DOUBLE), 6) AS overlap,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT i.src_a, i.src_b, i.n_shared, za.n AS n_a, zb.n AS n_b,
                 ROW_NUMBER() OVER (ORDER BY CAST(i.n_shared AS DOUBLE)
                   / CAST(LEAST(za.n, zb.n) AS DOUBLE) DESC, i.src_a, i.src_b) AS rnk
          FROM inter i
          JOIN sz za ON za.source = i.src_a
          JOIN sz zb ON zb.source = i.src_b) ranked
    WHERE rnk <= 20 ORDER BY rnk"""

  private val t31Duck = """
    WITH ss AS (SELECT DISTINCT source, array_to_string(toks[p+1:p+6], ' ') AS s
                FROM (SELECT source, string_split_regex(trim(text), '\s+') AS toks FROM documents) t
                CROSS JOIN LATERAL (SELECT unnest(range(0, greatest(len(toks)-5, 0))) AS p) ps),
    sz AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY source),
    inter AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
              FROM ss a JOIN ss b ON b.s = a.s AND a.source < b.source
              GROUP BY a.source, b.source)
    SELECT src_a, src_b, n_shared::BIGINT AS n_shared,
           n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
           ROUND(n_shared::DOUBLE / LEAST(n_a, n_b)::DOUBLE, 6) AS overlap,
           rnk::BIGINT AS rnk
    FROM (SELECT i.src_a, i.src_b, i.n_shared, za.n AS n_a, zb.n AS n_b,
                 ROW_NUMBER() OVER (ORDER BY i.n_shared::DOUBLE
                   / LEAST(za.n, zb.n)::DOUBLE DESC, i.src_a, i.src_b) AS rnk
          FROM inter i
          JOIN sz za ON za.source = i.src_a
          JOIN sz zb ON zb.source = i.src_b) ranked
    WHERE rnk <= 20 ORDER BY rnk"""

  /** Streaming latest-value enrichment (s09): one stream interleaves
    * profile updates and click facts across 5 micro-batches; every click
    * is tagged with the most recent profile value for its user —
    * `StreamOps.latestValueEnrich`, the CDC enrichment shape where the
    * dimension rides per-key state (ONE value per user) instead of a
    * join. Clicks before any profile emit NULL; cross-batch state carry
    * is what the oracle's as-of-backward batch replay checks. */
  private def s09Fn(s: SparkSession, dir: String): DataFrame = {
    val fin = runStream(s, "graft_s09") { (sess, tmp) =>
      def gen(lo: Int, hi: Int) = sess.sql(s"""
        SELECT CAST(id % 7 AS BIGINT) AS user_id,
               timestamp_seconds(1700000000 + id) AS ts,
               IF(id % 3 = 0, 'profile', 'click') AS kind,
               CAST(id AS BIGINT) AS value
        FROM range($lo, $hi)""")
      val src = stageBatches(tmp, (0 until 5).map(i => gen(i * 30, (i + 1) * 30)))
      import org.apache.spark.sql.Encoders
      val stream = sess.readStream.schema(gen(0, 1).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .as[graft.streaming.StreamOps.EnrichEvent](
          Encoders.product[graft.streaming.StreamOps.EnrichEvent])
      graft.streaming.StreamOps.latestValueEnrich(stream).toDF()
    }
    fin.createOrReplaceTempView("graft_s09_fin")
    fin.sparkSession.sql("""
      SELECT user_id, COUNT(*) AS n_clicks,
             COUNT(profile_value) AS n_enriched,
             COALESCE(SUM(profile_value), 0) AS sum_profile,
             COALESCE(MAX(value - profile_value), 0) AS max_staleness
      FROM graft_s09_fin GROUP BY user_id ORDER BY user_id""")
  }

  private val s09Duck = """
    WITH ev AS (SELECT i % 7 AS user_id, i AS ord,
                       CASE WHEN i % 3 = 0 THEN 'profile' ELSE 'click' END AS kind,
                       i AS value
                FROM range(150) t(i)),
    clk AS (SELECT c.user_id, c.value,
                   (SELECT MAX(p.value) FROM ev p
                    WHERE p.user_id = c.user_id AND p.kind = 'profile'
                      AND p.ord <= c.ord) AS profile_value
            FROM ev c WHERE c.kind = 'click')
    SELECT user_id, COUNT(*)::BIGINT AS n_clicks,
           COUNT(profile_value)::BIGINT AS n_enriched,
           COALESCE(SUM(profile_value), 0)::BIGINT AS sum_profile,
           COALESCE(MAX(value - profile_value), 0)::BIGINT AS max_staleness
    FROM clk GROUP BY user_id ORDER BY user_id"""

  /** Grid snapping (g61): `ST_ReducePrecision` (JTS
    * GeometryPrecisionReducer — the ST_SnapToGrid shape) drives points
    * onto a 5-unit grid; the oracle replays JTS's exact arithmetic —
    * Math.round(v·scale)/scale with scale = 1.0/5.0 — as
    * FLOOR(v·(1.0/5.0) + 0.5)/(1.0/5.0) in the same IEEE double ops, then
    * both sides integer-round the near-integer grid multiples before
    * summing (BIGINT-exact, order-independent). Snapped-cell cardinality
    * per flag is the dedup-compression measure a tiling pipeline reads. */
  private val g61Spark = """
    WITH p AS (SELECT /*+ REPARTITION({{P}}) */ l_returnflag AS flag,
                      CAST(l_partkey % 100 AS DOUBLE) + 0.3D AS x,
                      CAST(l_suppkey % 100 AS DOUBLE) + 0.7D AS y
               FROM lineitem),
    sn AS (SELECT flag,
                  CAST(ROUND(ST_X(ST_ReducePrecision(ST_Point(x, y), 5.0D))) AS BIGINT) AS gx,
                  CAST(ROUND(ST_Y(ST_ReducePrecision(ST_Point(x, y), 5.0D))) AS BIGINT) AS gy
           FROM p)
    SELECT flag, COUNT(*) AS n, COUNT(DISTINCT gx * 1000 + gy) AS n_cells,
           SUM(gx) AS sum_gx, SUM(gy) AS sum_gy,
           MIN(gx) AS min_gx, MAX(gy) AS max_gy
    FROM sn GROUP BY flag ORDER BY flag"""

  private val g61Duck = """
    WITH p AS (SELECT l_returnflag AS flag,
                      (l_partkey % 100)::DOUBLE + 0.3 AS x,
                      (l_suppkey % 100)::DOUBLE + 0.7 AS y
               FROM lineitem),
    sn AS (SELECT flag,
                  ROUND(FLOOR(x * (1.0 / 5.0) + 0.5) / (1.0 / 5.0))::BIGINT AS gx,
                  ROUND(FLOOR(y * (1.0 / 5.0) + 0.5) / (1.0 / 5.0))::BIGINT AS gy
           FROM p)
    SELECT flag, COUNT(*)::BIGINT AS n,
           COUNT(DISTINCT gx * 1000 + gy)::BIGINT AS n_cells,
           SUM(gx)::BIGINT AS sum_gx, SUM(gy)::BIGINT AS sum_gy,
           MIN(gx)::BIGINT AS min_gx, MAX(gy)::BIGINT AS max_gy
    FROM sn GROUP BY flag ORDER BY flag"""

  /** Shot-boundary detection (m09): the video face of the media pipeline —
    * each document is a 6-frame clip whose frames are REAL PNGs (JDK
    * encoder), the scene changes at a per-doc position b ∈ {2,3,4}
    * (frame seed jumps by 311), every frame is decoded and fingerprinted
    * by the real-codec perceptual hash (`graft_media_phash`), and a
    * boundary is any frame whose phash differs from its predecessor (LAG
    * window per clip — the temporal-diff shape of every shot detector).
    * The oracle regenerates both scene phashes arithmetically (m06's
    * closed-form fragment) — a doc reports a boundary at b iff the two
    * scenes' hashes differ, so a codec or hash regression mismatches.
    * Decode+hash is map-side per frame; the only shuffles are the per-clip
    * LAG window and a 3-key report. At scale identical frames would
    * dedup through a distinct-seed phash table joined back (m06's
    * equi-join pattern). */
  private val m09Spark = """
    WITH f AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, j,
                      graft_media_phash(graft_media_png(
                        (doc_id % 97) + IF(j < 2 + doc_id % 3, 0, 311))) AS ph
               FROM documents LATERAL VIEW explode(sequence(0, 5)) t AS j),
    d AS (SELECT doc_id, j, ph,
                 LAG(ph) OVER (PARTITION BY doc_id ORDER BY j) AS prev FROM f),
    b AS (SELECT doc_id, j FROM d WHERE prev IS NOT NULL AND ph != prev)
    SELECT CAST(j AS BIGINT) AS boundary_frame, COUNT(*) AS n_docs,
           SUM(doc_id) AS sum_doc
    FROM b GROUP BY j ORDER BY boundary_frame"""

  private val m09Duck = """
    WITH dd AS (SELECT doc_id, doc_id % 97 AS sa, doc_id % 97 + 311 AS sb,
                       2 + doc_id % 3 AS b FROM documents),
    u AS (SELECT DISTINCT s FROM (SELECT sa AS s FROM dd UNION ALL SELECT sb AS s FROM dd) z),
    m AS (SELECT s, 1 + s % 16 AS w, 1 + (s // 16) % 16 AS h FROM u),
    r AS (SELECT s, list_transform(range(64),
            i -> (s * 31 + ((((i // 8) * h) // 8) * w + ((i % 8) * w) // 8) * 7) % 256) AS rp
          FROM m),
    t AS (SELECT s, rp, list_sum(rp) AS sm FROM r),
    pc AS (SELECT s,
                  list_reduce(list_transform(range(64),
                    i -> CASE WHEN rp[i + 1] * 64 > sm THEN '1' ELSE '0' END), (a, b) -> a || b) AS phash
           FROM t),
    bnd AS (SELECT dd.doc_id, dd.b
            FROM dd JOIN pc pa ON pa.s = dd.sa
                    JOIN pc pb ON pb.s = dd.sb
            WHERE pa.phash != pb.phash)
    SELECT b::BIGINT AS boundary_frame, COUNT(*)::BIGINT AS n_docs,
           SUM(doc_id)::BIGINT AS sum_doc
    FROM bnd GROUP BY b ORDER BY boundary_frame"""

  /** Exact per-group quantiles (t32): the corpus-datasheet numbers
    * (p25/p50/p90 token counts per source) computed EXACTLY at scale —
    * rank windows over the group instead of `percentile_approx` (whose
    * error is unbounded adversarially) or the buffering exact
    * `percentile` aggregate. Quantile def: value at rank
    * ceil(p·n) (type-1 / lower empirical quantile) — integer rank
    * selection, no interpolation, so results are integers and the oracle
    * is exact. One (source)-keyed window sort; selection is a filter. */
  private val t32Spark = """
    WITH tc AS (SELECT /*+ REPARTITION({{P}}) */ source,
                       CAST(graft_token_count(text) AS BIGINT) AS nt
                FROM documents),
    rk AS (SELECT source, nt,
                  ROW_NUMBER() OVER (PARTITION BY source ORDER BY nt, source) AS r,
                  COUNT(*) OVER (PARTITION BY source) AS n
           FROM tc)
    SELECT source, MAX(n) AS n_docs,
           MAX(IF(r = CAST(CEIL(n * 0.25D) AS BIGINT), nt, NULL)) AS p25,
           MAX(IF(r = CAST(CEIL(n * 0.5D) AS BIGINT), nt, NULL)) AS p50,
           MAX(IF(r = CAST(CEIL(n * 0.9D) AS BIGINT), nt, NULL)) AS p90,
           MIN(nt) AS min_nt, MAX(nt) AS max_nt
    FROM rk GROUP BY source ORDER BY source"""

  private val t32Duck = """
    WITH tc AS (SELECT source,
                       len(string_split_regex(trim(text), '\s+'))::BIGINT AS nt
                FROM documents),
    rk AS (SELECT source, nt,
                  ROW_NUMBER() OVER (PARTITION BY source ORDER BY nt, source) AS r,
                  COUNT(*) OVER (PARTITION BY source) AS n
           FROM tc)
    SELECT source, MAX(n)::BIGINT AS n_docs,
           MAX(CASE WHEN r = CEIL(n * 0.25)::BIGINT THEN nt END)::BIGINT AS p25,
           MAX(CASE WHEN r = CEIL(n * 0.5)::BIGINT THEN nt END)::BIGINT AS p50,
           MAX(CASE WHEN r = CEIL(n * 0.9)::BIGINT THEN nt END)::BIGINT AS p90,
           MIN(nt)::BIGINT AS min_nt, MAX(nt)::BIGINT AS max_nt
    FROM rk GROUP BY source ORDER BY source"""

  /** Rolling time-range windows (q11): per-user 1-hour trailing burst
    * stats via RANGE BETWEEN INTERVAL frames — the event-time rolling
    * window the ROWS-frame q08 can't express (frame membership depends on
    * timestamps, not row offsets; the burst-detection shape for rate
    * limiting and anomaly screens). Sums ride DECIMAL so the rolling
    * values are exact; the report keeps per-user maxima. One user-keyed
    * window shuffle. */
  private val q11Spark = """
    WITH r AS (SELECT /*+ REPARTITION({{P}}) */ user_id,
                      COUNT(*) OVER w AS n_1h,
                      SUM(CAST(value AS DECIMAL(18,6))) OVER w AS sum_1h
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts
                            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW))
    SELECT user_id, COUNT(*) AS n_events,
           MAX(n_1h) AS max_burst_1h,
           CAST(MAX(sum_1h) AS DOUBLE) AS max_sum_1h,
           CAST(MIN(n_1h) AS BIGINT) AS min_burst_1h
    FROM r GROUP BY user_id ORDER BY user_id"""

  private val q11Duck = """
    WITH r AS (SELECT user_id,
                      COUNT(*) OVER w AS n_1h,
                      SUM(CAST(value AS DECIMAL(18,6))) OVER w AS sum_1h
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts
                            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW))
    SELECT user_id, COUNT(*)::BIGINT AS n_events,
           MAX(n_1h)::BIGINT AS max_burst_1h,
           MAX(sum_1h)::DOUBLE AS max_sum_1h,
           MIN(n_1h)::BIGINT AS min_burst_1h
    FROM r GROUP BY user_id ORDER BY user_id"""

  /** Great-circle projection (g62): `ST_Project(point, dist, azimuth)` —
    * the spherical forward problem on the IAU sphere — fired at the four
    * cardinal bearings from a world-spanning point cloud, with a
    * closed-loop consistency gate: the haversine distance back to the
    * origin must be within 0.5 mm-per-km of the requested 100 km for
    * EVERY row (forward and inverse kernels must agree). The oracle
    * replays the identical double formulas in DuckDB; surfaced values go
    * through ROUND(…, 6) so cross-libm ulp noise is far below the grain
    * (g10/g24 precedent). Map-side kernels, 4-key report. */
  private val g62Spark = """
    WITH p AS (SELECT /*+ REPARTITION({{P}}) */
                 CAST(c_custkey % 360 AS DOUBLE) - 180.0D + 0.5D AS lon,
                 CAST(c_custkey % 140 AS DOUBLE) - 70.0D + 0.25D AS lat
               FROM customer),
    b AS (SELECT lon, lat, bearing FROM p
          LATERAL VIEW explode(array(0, 90, 180, 270)) t AS bearing),
    pr AS (SELECT bearing, lon, lat,
                  ST_X(ST_Project(ST_Point(lon, lat), 100000.0D,
                                  radians(CAST(bearing AS DOUBLE)))) AS lon2,
                  ST_Y(ST_Project(ST_Point(lon, lat), 100000.0D,
                                  radians(CAST(bearing AS DOUBLE)))) AS lat2
           FROM b)
    SELECT CAST(bearing AS BIGINT) AS bearing, COUNT(*) AS n,
           ROUND(MIN(lat2), 6) AS min_lat2, ROUND(MAX(lat2), 6) AS max_lat2,
           ROUND(MIN(lon2), 6) AS min_lon2, ROUND(MAX(lon2), 6) AS max_lon2,
           COUNT(IF(abs(ST_DistanceSphere(ST_Point(lon, lat), ST_Point(lon2, lat2))
                        - 100000.0D) < 0.05D, 1, NULL)) AS n_roundtrip_ok
    FROM pr GROUP BY bearing ORDER BY bearing"""

  private val g62Duck = """
    WITH p AS (SELECT (c_custkey % 360)::DOUBLE - 180.0 + 0.5 AS lon,
                      (c_custkey % 140)::DOUBLE - 70.0 + 0.25 AS lat
               FROM customer),
    b AS (SELECT lon, lat, bearing FROM p
          CROSS JOIN (SELECT unnest([0, 90, 180, 270]) AS bearing) t),
    pr0 AS (SELECT bearing, lon, lat,
                   radians(lat) AS la1, radians(lon) AS lo1,
                   radians(bearing::DOUBLE) AS az,
                   100000.0 / 6371008.8 AS delta
            FROM b),
    pr1 AS (SELECT bearing, lon, lat, la1, lo1, az, delta,
                   sin(la1) * cos(delta) + cos(la1) * sin(delta) * cos(az) AS sinla2
            FROM pr0),
    pr AS (SELECT bearing, lon, lat,
                  degrees(asin(sinla2)) AS lat2,
                  CASE WHEN degrees(lo1 + atan2(sin(az) * sin(delta) * cos(la1),
                                                cos(delta) - sin(la1) * sinla2)) > 180.0
                       THEN degrees(lo1 + atan2(sin(az) * sin(delta) * cos(la1),
                                                cos(delta) - sin(la1) * sinla2)) - 360.0
                       WHEN degrees(lo1 + atan2(sin(az) * sin(delta) * cos(la1),
                                                cos(delta) - sin(la1) * sinla2)) <= -180.0
                       THEN degrees(lo1 + atan2(sin(az) * sin(delta) * cos(la1),
                                                cos(delta) - sin(la1) * sinla2)) + 360.0
                       ELSE degrees(lo1 + atan2(sin(az) * sin(delta) * cos(la1),
                                                cos(delta) - sin(la1) * sinla2)) END AS lon2
           FROM pr1),
    d AS (SELECT bearing, lat2, lon2,
                 2.0 * 6371008.8 * asin(least(1.0, sqrt(
                   pow(sin(radians(lat2 - lat) / 2), 2) +
                   cos(radians(lat)) * cos(radians(lat2)) *
                   pow(sin(radians(lon2 - lon) / 2), 2)))) AS hav
          FROM pr)
    SELECT bearing::BIGINT AS bearing, COUNT(*)::BIGINT AS n,
           ROUND(MIN(lat2), 6) AS min_lat2, ROUND(MAX(lat2), 6) AS max_lat2,
           ROUND(MIN(lon2), 6) AS min_lon2, ROUND(MAX(lon2), 6) AS max_lon2,
           COUNT(CASE WHEN abs(hav - 100000.0) < 0.05 THEN 1 END)::BIGINT AS n_roundtrip_ok
    FROM d GROUP BY bearing ORDER BY bearing"""

  /** ViT-style patchification (m10): every corpus PNG decodes through the
    * real codec and tiles into a 4x4 patch grid
    * (`graft_media_patches` — row-major patch order, truncated edge
    * patches), the step in front of patch-embedding an image for
    * transformer training. Integer channel-0 sums per patch keep the
    * closed-form raster oracle exact; the report aggregates per patch
    * index so a tiling/indexing regression (transposed grid, wrong edge
    * handling) hash-mismatches. Decode+tile map-side; one patch-keyed
    * report aggregate. */
  private val m10Spark = """
    WITH pt AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, p, s
                FROM (SELECT doc_id, graft_media_patches(graft_media_png(doc_id), 4, 4) AS ps
                      FROM documents) t
                LATERAL VIEW posexplode(ps) e AS p, s)
    SELECT CAST(p AS BIGINT) AS patch_idx, COUNT(*) AS n_images,
           SUM(s) AS total, MAX(s) AS max_sum
    FROM pt GROUP BY p ORDER BY patch_idx"""

  private val m10Duck = """
    WITH m AS (SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id // 16) % 16 AS h
               FROM documents),
    px AS (SELECT doc_id,
                  ((i // w) // 4) * ((w + 3) // 4) + ((i % w) // 4) AS p,
                  (doc_id * 31 + i * 7) % 256 AS v
           FROM m CROSS JOIN LATERAL (SELECT unnest(range(w * h)) AS i) t),
    ps AS (SELECT doc_id, p, SUM(v) AS s FROM px GROUP BY doc_id, p)
    SELECT p::BIGINT AS patch_idx, COUNT(*)::BIGINT AS n_images,
           SUM(s)::BIGINT AS total, MAX(s)::BIGINT AS max_sum
    FROM ps GROUP BY p ORDER BY patch_idx"""

  /** Binary-quantized ANN (e17): 1 bit per dimension — the sign bit of
    * each of the 64 coords packs into two 32-bit words, approximate distance is
    * Hamming (bit_count of XOR, pure integer — zero FP in the compressed
    * phase, like e10's SQ8 but 8x smaller again at 1 byte/vector), the
    * Hamming top-16 re-ranks by exact cosine to a final top-3. This is
    * the modern "binary embedding" storage path (64x smaller than
    * doubles): the whole corpus's codes fit in memory at scales where
    * even SQ8 spills. Sign-of-coordinate is the textbook BQ for
    * zero-centered embeddings; for skewed corpora the e02 seeded
    * hyperplanes are the drop-in (data-independent) alternative. */
  private val e17Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
               FROM embeddings),
    bq AS (SELECT vec_id, e, nrm,
                  aggregate(sequence(1, 32), CAST(0 AS BIGINT),
                            (acc, i) -> acc + IF(element_at(e, i) > 0.0D,
                                                 shiftleft(CAST(1 AS BIGINT), i - 1),
                                                 CAST(0 AS BIGINT))) AS code_lo,
                  aggregate(sequence(33, 64), CAST(0 AS BIGINT),
                            (acc, i) -> acc + IF(element_at(e, i) > 0.0D,
                                                 shiftleft(CAST(1 AS BIGINT), i - 33),
                                                 CAST(0 AS BIGINT))) AS code_hi
           FROM v),
    q AS (SELECT * FROM bq WHERE vec_id >= 8 AND vec_id < 16),
    ham AS (SELECT /*+ BROADCAST(q) */ q.vec_id AS query_id, x.vec_id AS neighbor_id,
                   bit_count(q.code_lo ^ x.code_lo) + bit_count(q.code_hi ^ x.code_hi) AS hd,
                   graft_dot(q.e, x.e) / (q.nrm * x.nrm) AS cos
            FROM bq x JOIN q ON x.vec_id != q.vec_id),
    cand AS (SELECT query_id, neighbor_id, hd, cos,
                    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hd, neighbor_id) AS hrnk
             FROM ham)
    SELECT query_id, neighbor_id, CAST(hd AS BIGINT) AS hd,
           CAST(rnk AS BIGINT) AS rnk, ROUND(cos, 6) AS cos
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
          FROM cand WHERE hrnk <= 16) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  private val e17Duck = """
    WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    v AS (SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * e[i])), (x, y) -> x + y)) AS nrm
          FROM v0),
    bq AS (SELECT vec_id, e, nrm,
                  list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 33),
                    i -> CASE WHEN e[i] > 0.0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END)),
                    (a, b) -> a + b) AS code_lo,
                  list_reduce(list_prepend(0::BIGINT, list_transform(range(33, 65),
                    i -> CASE WHEN e[i] > 0.0 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END)),
                    (a, b) -> a + b) AS code_hi
           FROM v),
    q AS (SELECT * FROM bq WHERE vec_id >= 8 AND vec_id < 16),
    ham AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                   bit_count(xor(q.code_lo, x.code_lo)) + bit_count(xor(q.code_hi, x.code_hi)) AS hd,
                   list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> q.e[i] * x.e[i])), (x2, y2) -> x2 + y2) / (q.nrm * x.nrm) AS cos
            FROM bq x JOIN q ON x.vec_id != q.vec_id),
    cand AS (SELECT query_id, neighbor_id, hd, cos,
                    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hd, neighbor_id) AS hrnk
             FROM ham)
    SELECT query_id, neighbor_id, hd::BIGINT AS hd,
           rnk::BIGINT AS rnk, ROUND(cos, 6) AS cos
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
          FROM cand WHERE hrnk <= 16) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  /** As-of interpolation (a06): each click samples the view-value signal
    * at its own timestamp — linear interpolation between the bracketing
    * views per user (`AsofJoin.interpolate`), hold-last after the final
    * view, backfill before the first. The per-row interpolated double is
    * identical cross-engine (exact integer micros into one division +
    * multiply + add in fixed order), and the report sums
    * FLOOR(v·1e6) BIGINTs so aggregation order cannot matter. One
    * shuffle (union + two windows over one partitioning). */
  private def a06Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val c = s.sql("SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'click'")
    val v = s.sql("""SELECT user_id, ts, MAX(value) AS value FROM events
                     WHERE event_type = 'view' GROUP BY user_id, ts""")
    graft.operators.AsofJoin.interpolate(c, v, Seq("user_id"), "ts", "ts", "value",
        prefix = "iv_")
      .createOrReplaceTempView("a06_interp")
    s.sql("""
      SELECT user_id, COUNT(*) AS n_clicks,
             COUNT(iv_value) AS n_valued,
             COALESCE(SUM(CAST(FLOOR(iv_value * 1000000.0D) AS BIGINT)), 0) AS sum_iv_micros,
             ROUND(MIN(iv_value), 6) AS min_iv, ROUND(MAX(iv_value), 6) AS max_iv
      FROM a06_interp GROUP BY user_id ORDER BY user_id""")
  }

  private val a06Duck = """
    WITH c AS (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'click'),
    v AS (SELECT user_id, ts, MAX(value) AS value FROM events
          WHERE event_type = 'view' GROUP BY user_id, ts),
    m AS (SELECT c.user_id, c.ts AS cts,
            (SELECT v1.ts FROM v v1 WHERE v1.user_id = c.user_id AND v1.ts <= c.ts
             ORDER BY v1.ts DESC LIMIT 1) AS tb,
            (SELECT v2.ts FROM v v2 WHERE v2.user_id = c.user_id AND v2.ts >= c.ts
             ORDER BY v2.ts ASC LIMIT 1) AS tf
          FROM c),
    j AS (SELECT m.user_id, m.cts, m.tb, m.tf, vb.value AS vvb, vf.value AS vvf
          FROM m
          LEFT JOIN v vb ON vb.user_id = m.user_id AND vb.ts = m.tb
          LEFT JOIN v vf ON vf.user_id = m.user_id AND vf.ts = m.tf),
    i AS (SELECT user_id, cts,
            CASE WHEN tb IS NOT NULL AND tf IS NOT NULL AND epoch_us(tf) != epoch_us(tb)
                 THEN vvb + (vvf - vvb) *
                      ((epoch_us(cts)::DOUBLE - epoch_us(tb)::DOUBLE)
                       / (epoch_us(tf)::DOUBLE - epoch_us(tb)::DOUBLE))
                 WHEN tb IS NOT NULL AND tf IS NOT NULL THEN vvb
                 WHEN tb IS NOT NULL THEN vvb
                 WHEN tf IS NOT NULL THEN vvf END AS iv
          FROM j)
    SELECT user_id, COUNT(*)::BIGINT AS n_clicks,
           COUNT(iv)::BIGINT AS n_valued,
           COALESCE(SUM(FLOOR(iv * 1000000.0)::BIGINT), 0)::BIGINT AS sum_iv_micros,
           ROUND(MIN(iv), 6) AS min_iv, ROUND(MAX(iv), 6) AS max_iv
    FROM i GROUP BY user_id ORDER BY user_id"""

  /** Hexagonal binning (g63): `ST_HexBin(x, y, size)` — H3-style flat-top
    * hex aggregation (the standard 100 TB point-density layout: every
    * point maps to one orderable bin id map-side, then ONE keyed
    * aggregate; hexes beat squares on neighbor-distance uniformity).
    * Axial fractional coords + cube rounding, with rounding written as
    * floor(v + 0.5) explicitly so the oracle replays the identical IEEE
    * ops (library round() halves away from zero and would flip negative
    * .5 cases). Top-15 densest hexes, count-then-id tie-break. */
  private val g63Spark = """
    WITH p AS (SELECT /*+ REPARTITION({{P}}) */
                 CAST(l_partkey % 200 AS DOUBLE) - 100.0D AS x,
                 CAST(l_suppkey % 200 AS DOUBLE) - 100.0D AS y
               FROM lineitem),
    b AS (SELECT ST_HexBin(x, y, 7.0D) AS hex_bin FROM p),
    c AS (SELECT hex_bin, COUNT(*) AS n FROM b GROUP BY hex_bin)
    SELECT hex_bin, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, hex_bin) AS BIGINT) AS rnk
    FROM (SELECT hex_bin, n FROM c ORDER BY n DESC, hex_bin LIMIT 15) top
    ORDER BY rnk"""

  private val g63Duck = """
    WITH p AS (SELECT (l_partkey % 200)::DOUBLE - 100.0 AS x,
                      (l_suppkey % 200)::DOUBLE - 100.0 AS y
               FROM lineitem),
    f AS (SELECT (2.0 / 3.0 * x) / 7.0 AS fq,
                 (-1.0 / 3.0 * x + sqrt(3.0) / 3.0 * y) / 7.0 AS fr
          FROM p),
    g AS (SELECT fq, fr, -fq - fr AS fs,
                 FLOOR(fq + 0.5) AS rq0, FLOOR(fr + 0.5) AS rr0,
                 FLOOR(-fq - fr + 0.5) AS rs0
          FROM f),
    h AS (SELECT *, abs(rq0 - fq) AS dq, abs(rr0 - fr) AS dr, abs(rs0 - fs) AS ds FROM g),
    bin AS (SELECT (CASE WHEN dq > dr AND dq > ds THEN -rr0 - rs0 ELSE rq0 END)::BIGINT * 2097152
                   + (CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds THEN -rq0 - rs0 ELSE rr0 END)::BIGINT AS hex_bin
            FROM h),
    c AS (SELECT hex_bin, COUNT(*)::BIGINT AS n FROM bin GROUP BY hex_bin)
    SELECT hex_bin, n, rnk::BIGINT AS rnk
    FROM (SELECT hex_bin, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, hex_bin) AS rnk FROM c) t
    WHERE rnk <= 15 ORDER BY rnk"""

  /** IVF tuning curve (e18): recall@3 and probe cost swept over
    * nProbe ∈ {1, 2, 3} in ONE query — the offline tuning artifact that
    * picks an operating point on the recall-vs-IO curve (e05 is the
    * single-point gate; this is the curve it sits on). The sweep is an
    * inequality filter on the SAME ranked assignment table — the corpus
    * is scanned and quantized once, not once per setting. */
  private val e18Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
               FROM embeddings),
    c AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM v WHERE vec_id < 4),
    asgn AS (SELECT vec_id, e, nrm, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY graft_dot(e, ce) / (nrm * cnrm) DESC, cid) AS rn
             FROM v CROSS JOIN c),
    a AS (SELECT vec_id, e, nrm, cid AS list_id FROM asgn WHERE rn = 1),
    q AS (SELECT vec_id, e, nrm FROM v WHERE vec_id >= 8 AND vec_id < 16),
    ex3 AS (SELECT query_id, neighbor_id FROM (
              SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY graft_dot(q.e, x.e) / (q.nrm * x.nrm) DESC, x.vec_id) AS rnk
              FROM q JOIN v x ON x.vec_id != q.vec_id) t WHERE rnk <= 3),
    np AS (SELECT explode(array(1, 2, 3)) AS nprobe),
    cand AS (SELECT np.nprobe, qa.vec_id AS query_id, x.vec_id AS neighbor_id,
                    graft_dot(qq.e, x.e) / (qq.nrm * x.nrm) AS cos
             FROM np
             JOIN asgn qa ON qa.rn <= np.nprobe AND qa.vec_id >= 8 AND qa.vec_id < 16
             JOIN q qq ON qq.vec_id = qa.vec_id
             JOIN a x ON x.list_id = qa.cid AND x.vec_id != qa.vec_id),
    top3 AS (SELECT nprobe, query_id, neighbor_id FROM (
               SELECT nprobe, query_id, neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                        ORDER BY cos DESC, neighbor_id) AS rnk
               FROM cand) t WHERE rnk <= 3),
    costs AS (SELECT nprobe, COUNT(*) AS n_cand FROM cand GROUP BY nprobe),
    hits AS (SELECT t3.nprobe, COUNT(e3.neighbor_id) AS n_hits
             FROM top3 t3 JOIN ex3 e3
               ON e3.query_id = t3.query_id AND e3.neighbor_id = t3.neighbor_id
             GROUP BY t3.nprobe)
    SELECT CAST(c2.nprobe AS BIGINT) AS nprobe, c2.n_cand,
           COALESCE(h.n_hits, 0) AS n_hits,
           ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 24.0D, 6) AS recall_at_3
    FROM costs c2 LEFT JOIN hits h ON h.nprobe = c2.nprobe
    ORDER BY nprobe"""

  private val e18Duck = """
    WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    v AS (SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * e[i])), (x, y) -> x + y)) AS nrm
          FROM v0),
    c AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM v WHERE vec_id < 4),
    asgn AS (SELECT v.vec_id, v.e, v.nrm, c.cid,
                    ROW_NUMBER() OVER (PARTITION BY v.vec_id
                      ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(v.e) + 1), i -> v.e[i] * c.ce[i])), (x, y) -> x + y) / (v.nrm * c.cnrm) DESC, c.cid) AS rn
             FROM v CROSS JOIN c),
    a AS (SELECT vec_id, e, nrm, cid AS list_id FROM asgn WHERE rn = 1),
    q AS (SELECT vec_id, e, nrm FROM v WHERE vec_id >= 8 AND vec_id < 16),
    ex3 AS (SELECT query_id, neighbor_id FROM (
              SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> q.e[i] * x.e[i])), (x, y) -> x + y) / (q.nrm * x.nrm) DESC, x.vec_id) AS rnk
              FROM q JOIN v x ON x.vec_id != q.vec_id) t WHERE rnk <= 3),
    np AS (SELECT unnest([1, 2, 3]) AS nprobe),
    cand AS (SELECT np.nprobe, qa.vec_id AS query_id, x.vec_id AS neighbor_id,
                    list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(qq.e) + 1), i -> qq.e[i] * x.e[i])), (x2, y2) -> x2 + y2) / (qq.nrm * x.nrm) AS cos
             FROM np
             JOIN asgn qa ON qa.rn <= np.nprobe AND qa.vec_id >= 8 AND qa.vec_id < 16
             JOIN q qq ON qq.vec_id = qa.vec_id
             JOIN a x ON x.list_id = qa.cid AND x.vec_id != qa.vec_id),
    top3 AS (SELECT nprobe, query_id, neighbor_id FROM (
               SELECT nprobe, query_id, neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                        ORDER BY cos DESC, neighbor_id) AS rnk
               FROM cand) t WHERE rnk <= 3),
    costs AS (SELECT nprobe, COUNT(*) AS n_cand FROM cand GROUP BY nprobe),
    hits AS (SELECT t3.nprobe, COUNT(e3.neighbor_id) AS n_hits
             FROM top3 t3 JOIN ex3 e3
               ON e3.query_id = t3.query_id AND e3.neighbor_id = t3.neighbor_id
             GROUP BY t3.nprobe)
    SELECT c2.nprobe::BIGINT AS nprobe, c2.n_cand::BIGINT AS n_cand,
           COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
           ROUND(COALESCE(h.n_hits, 0)::DOUBLE / 24.0, 6) AS recall_at_3
    FROM costs c2 LEFT JOIN hits h ON h.nprobe = c2.nprobe
    ORDER BY nprobe"""

  /** PIVOT report (q12): user-cohort x event-type matrix through Spark's
    * native PIVOT clause (DuckDB oracle spells the same rotation as
    * conditional aggregation — the two forms are defined to agree, which
    * is exactly what the gate checks). Decimal sums keep values exact.
    * One grouped aggregate; PIVOT is a planning-surface feature, not a
    * new shuffle shape. */
  private val q12Spark = """
    SELECT cohort,
           COALESCE(click_n, 0) AS click_n, COALESCE(click_sum, 0.0D) AS click_sum,
           COALESCE(view_n, 0) AS view_n, COALESCE(view_sum, 0.0D) AS view_sum,
           COALESCE(buy_n, 0) AS buy_n, COALESCE(buy_sum, 0.0D) AS buy_sum
    FROM (
      SELECT /*+ REPARTITION({{P}}) */ user_id % 10 AS cohort, event_type,
             CAST(value AS DECIMAL(18,6)) AS v
      FROM events)
    PIVOT (COUNT(*) AS n, CAST(ROUND(SUM(v), 2) AS DOUBLE) AS sum
           FOR event_type IN ('click' AS click, 'view' AS view, 'buy' AS buy))
    ORDER BY cohort"""

  private val q12Duck = """
    SELECT user_id % 10 AS cohort,
           COUNT(*) FILTER (event_type = 'click')::BIGINT AS click_n,
           COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,6))) FILTER (event_type = 'click'), 2), 0)::DOUBLE AS click_sum,
           COUNT(*) FILTER (event_type = 'view')::BIGINT AS view_n,
           COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,6))) FILTER (event_type = 'view'), 2), 0)::DOUBLE AS view_sum,
           COUNT(*) FILTER (event_type = 'buy')::BIGINT AS buy_n,
           COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,6))) FILTER (event_type = 'buy'), 2), 0)::DOUBLE AS buy_sum
    FROM events GROUP BY cohort ORDER BY cohort"""

  /** MMR diversified retrieval (e19): maximal marginal relevance
    * (Carbonell & Goldstein 1998) — from each query's cosine top-10 pool,
    * greedily pick 3 results where pick k maximizes
    * λ·cos(q,d) − (1−λ)·max_{s∈picked} cos(d,s), λ = 0.7: the RAG-time
    * diversifier that stops near-duplicate passages from filling the
    * context window. The greedy loop is unrolled to its 3 steps in plain
    * SQL (each step = one ranked window over the pool joined to the
    * already-picked set), which keeps the whole thing declarative and
    * hash-checkable; scores are fixed-shape double arithmetic over the
    * same cosines both engines compute. Pool is bounded (8 queries x 10),
    * so every join is tiny; the corpus is scanned once for the pool. */
  private val e19Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
               FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id >= 8 AND vec_id < 16),
    pool AS (SELECT query_id, neighbor_id, cos FROM (
               SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                      graft_dot(q.e, x.e) / (q.nrm * x.nrm) AS cos,
                      ROW_NUMBER() OVER (PARTITION BY q.vec_id
                        ORDER BY graft_dot(q.e, x.e) / (q.nrm * x.nrm) DESC, x.vec_id) AS r
               FROM q JOIN v x ON x.vec_id != q.vec_id) t WHERE r <= 10),
    s1 AS (SELECT query_id, neighbor_id AS p1, cos AS c1 FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS r FROM pool) t WHERE r = 1),
    m2 AS (SELECT p.query_id, p.neighbor_id, p.cos,
                  (0.7D * p.cos) - (0.3D * (graft_dot(a.e, b.e) / (a.nrm * b.nrm))) AS mmr
           FROM pool p
           JOIN s1 ON s1.query_id = p.query_id AND p.neighbor_id != s1.p1
           JOIN v a ON a.vec_id = p.neighbor_id
           JOIN v b ON b.vec_id = s1.p1),
    s2 AS (SELECT query_id, neighbor_id AS p2, mmr AS mmr2 FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY mmr DESC, neighbor_id) AS r FROM m2) t WHERE r = 1),
    m3 AS (SELECT p.query_id, p.neighbor_id,
                  (0.7D * p.cos) - (0.3D * GREATEST(
                    graft_dot(a.e, b1.e) / (a.nrm * b1.nrm),
                    graft_dot(a.e, b2.e) / (a.nrm * b2.nrm))) AS mmr
           FROM pool p
           JOIN s1 ON s1.query_id = p.query_id
           JOIN s2 ON s2.query_id = p.query_id
           JOIN v a ON a.vec_id = p.neighbor_id
           JOIN v b1 ON b1.vec_id = s1.p1
           JOIN v b2 ON b2.vec_id = s2.p2
           WHERE p.neighbor_id != s1.p1 AND p.neighbor_id != s2.p2),
    s3 AS (SELECT query_id, neighbor_id AS p3, mmr AS mmr3 FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY mmr DESC, neighbor_id) AS r FROM m3) t WHERE r = 1)
    SELECT s1.query_id, s1.p1, ROUND(s1.c1, 6) AS c1,
           s2.p2, ROUND(s2.mmr2, 6) AS mmr2,
           s3.p3, ROUND(s3.mmr3, 6) AS mmr3
    FROM s1 JOIN s2 ON s2.query_id = s1.query_id
            JOIN s3 ON s3.query_id = s1.query_id
    ORDER BY s1.query_id"""

  private val e19Duck = """
    WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    v AS (SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * e[i])), (x, y) -> x + y)) AS nrm
          FROM v0),
    q AS (SELECT * FROM v WHERE vec_id >= 8 AND vec_id < 16),
    pool AS (SELECT query_id, neighbor_id, cos FROM (
               SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                      list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> q.e[i] * x.e[i])), (a2, b2) -> a2 + b2) / (q.nrm * x.nrm) AS cos,
                      ROW_NUMBER() OVER (PARTITION BY q.vec_id
                        ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> q.e[i] * x.e[i])), (a2, b2) -> a2 + b2) / (q.nrm * x.nrm) DESC, x.vec_id) AS r
               FROM q JOIN v x ON x.vec_id != q.vec_id) t WHERE r <= 10),
    s1 AS (SELECT query_id, neighbor_id AS p1, cos AS c1 FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS r FROM pool) t WHERE r = 1),
    m2 AS (SELECT p.query_id, p.neighbor_id, p.cos,
                  (0.7 * p.cos) - (0.3 * (list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i])), (a2, b2) -> a2 + b2) / (a.nrm * b.nrm))) AS mmr
           FROM pool p
           JOIN s1 ON s1.query_id = p.query_id AND p.neighbor_id != s1.p1
           JOIN v a ON a.vec_id = p.neighbor_id
           JOIN v b ON b.vec_id = s1.p1),
    s2 AS (SELECT query_id, neighbor_id AS p2, mmr AS mmr2 FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY mmr DESC, neighbor_id) AS r FROM m2) t WHERE r = 1),
    m3 AS (SELECT p.query_id, p.neighbor_id,
                  (0.7 * p.cos) - (0.3 * GREATEST(
                    list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b1.e[i])), (a2, b2) -> a2 + b2) / (a.nrm * b1.nrm),
                    list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b2.e[i])), (a2, b2) -> a2 + b2) / (a.nrm * b2.nrm))) AS mmr
           FROM pool p
           JOIN s1 ON s1.query_id = p.query_id
           JOIN s2 ON s2.query_id = p.query_id
           JOIN v a ON a.vec_id = p.neighbor_id
           JOIN v b1 ON b1.vec_id = s1.p1
           JOIN v b2 ON b2.vec_id = s2.p2
           WHERE p.neighbor_id != s1.p1 AND p.neighbor_id != s2.p2),
    s3 AS (SELECT query_id, neighbor_id AS p3, mmr AS mmr3 FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY mmr DESC, neighbor_id) AS r FROM m3) t WHERE r = 1)
    SELECT s1.query_id, s1.p1, ROUND(s1.c1, 6) AS c1,
           s2.p2, ROUND(s2.mmr2, 6) AS mmr2,
           s3.p3, ROUND(s3.mmr3, 6) AS mmr3
    FROM s1 JOIN s2 ON s2.query_id = s1.query_id
            JOIN s3 ON s3.query_id = s1.query_id
    ORDER BY s1.query_id"""

  /** Streaming anomaly detection (s10): events arrive over 5 micro-batches
    * with periodic injected spikes; each event tests k-sigma against the
    * running per-user statistics carried in state
    * (`StreamOps.anomalies` — exact integer milli-units, BigInt
    * cross-multiplied test, zero FP in the decision). The oracle replays
    * the identical test with HUGEINT cumulative windows — any FP in
    * either path, or any state loss across batches, hash-mismatches. */
  private def s10Fn(s: SparkSession, dir: String): DataFrame = {
    val fin = runStream(s, "graft_s10") { (sess, tmp) =>
      def gen(lo: Int, hi: Int) = sess.sql(s"""
        SELECT CAST(id % 7 AS BIGINT) AS user_id,
               timestamp_seconds(1700000000 + id) AS ts,
               CAST(id AS BIGINT) AS event_id,
               CAST((id % 97) * 100 + IF(id % 50 = 3, 500000, 0) AS BIGINT) AS vmilli
        FROM range($lo, $hi)""")
      val src = stageBatches(tmp, (0 until 5).map(i => gen(i * 70, (i + 1) * 70)))
      import org.apache.spark.sql.Encoders
      val stream = sess.readStream.schema(gen(0, 1).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .as[graft.streaming.StreamOps.AnomEvent](
          Encoders.product[graft.streaming.StreamOps.AnomEvent])
      graft.streaming.StreamOps.anomalies(stream).toDF()
    }
    fin.createOrReplaceTempView("graft_s10_fin")
    fin.sparkSession.sql("""
      SELECT user_id, COUNT(*) AS n_events,
             COUNT(IF(anomaly, 1, NULL)) AS n_anomalies,
             COALESCE(SUM(IF(anomaly, vmilli, NULL)), 0) AS sum_anom_vmilli,
             MAX(n_prior) AS max_prior
      FROM graft_s10_fin GROUP BY user_id ORDER BY user_id""")
  }

  private val s10Duck = """
    WITH e AS (SELECT i % 7 AS user_id, i AS event_id, i AS ord,
                      (i % 97) * 100 + CASE WHEN i % 50 = 3 THEN 500000 ELSE 0 END AS v
               FROM range(350) t(i)),
    w AS (SELECT user_id, event_id, v,
                 COUNT(*) OVER win AS np,
                 COALESCE(SUM(v) OVER win, 0) AS s,
                 COALESCE(SUM(v * v) OVER win, 0) AS q
          FROM e
          WINDOW win AS (PARTITION BY user_id ORDER BY ord
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    a AS (SELECT user_id, event_id, v, np,
                 CASE WHEN np >= 5 AND
                      (v::HUGEINT * np - s::HUGEINT) * (v::HUGEINT * np - s::HUGEINT)
                        > 9::HUGEINT * (np::HUGEINT * q::HUGEINT - s::HUGEINT * s::HUGEINT)
                      THEN 1 ELSE 0 END AS anom
          FROM w)
    SELECT user_id, COUNT(*)::BIGINT AS n_events,
           SUM(anom)::BIGINT AS n_anomalies,
           COALESCE(SUM(CASE WHEN anom = 1 THEN v END), 0)::BIGINT AS sum_anom_vmilli,
           MAX(np)::BIGINT AS max_prior
    FROM a GROUP BY user_id ORDER BY user_id"""

  /** Incremental near-dup dedup (t33): the text twin of e16's index
    * lifecycle — 90% of the corpus builds a PERSISTED minhash signature
    * store (parquet: id, 16-perm signature, shingles), then an incoming
    * batch (the 10% holdout plus planted 80%-prefix clones of stored
    * docs) is deduplicated AGAINST THE STORE: incoming bands equi-join
    * ONLY store bands (asymmetric — incoming never self-joins), and an
    * incoming doc drops iff a banded candidate confirms at exact
    * Jaccard >= 0.5. This is how production dedup actually runs —
    * signatures are computed once per doc ever, each new crawl batch
    * joins the accumulated store, O(batch x collisions) not
    * O(corpus^2). Planted clones must drop; the report separates them
    * from organic incoming. */
  private def t33Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val store = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_t33_" + java.util.UUID.randomUUID().toString.take(8)).getPath
    val storeDf = s.sql("""
      SELECT id, graft_minhash_sigs(ng, 16) AS sig, ng
      FROM (SELECT /*+ REPARTITION(64) */ doc_id AS id, graft_shingles(text, 3) AS ng
            FROM documents WHERE doc_id % 10 != 0) t""")
    storeDf.write.parquet(store + "/sigs")
    // file sources force nullable on read-back; the non-null-array kernel
    // signature (graft_jaccard) rejects the widened element type, so
    // re-assert element non-nullness through a coalescing transform
    s.read.parquet(store + "/sigs")
      .selectExpr("id", "sig", "transform(ng, x -> coalesce(x, '')) AS ng")
      .createOrReplaceTempView("t33_store")
    s.sql("""
      SELECT id, graft_minhash_sigs(ng, 16) AS sig, ng
      FROM (SELECT /*+ REPARTITION(64) */ id, graft_shingles(text, 3) AS ng
            FROM (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 = 0
                  UNION ALL
                  SELECT doc_id + 200000, substring(text, 1, CAST(FLOOR(n_chars * 0.8D) AS INT))
                  FROM documents WHERE doc_id % 10 = 5) inc) t""")
      .localCheckpoint().createOrReplaceTempView("t33_inc")
    s.sql("""
      WITH sb AS (SELECT id, b, graft_hash(concat_ws(',', transform(slice(sig, b * 4 + 1, 4), x -> CAST(x AS STRING)))) AS bkey
                  FROM t33_store LATERAL VIEW explode(sequence(0, 3)) bt AS b),
      ib AS (SELECT id, b, graft_hash(concat_ws(',', transform(slice(sig, b * 4 + 1, 4), x -> CAST(x AS STRING)))) AS bkey
             FROM t33_inc LATERAL VIEW explode(sequence(0, 3)) bt AS b),
      cand AS (SELECT DISTINCT i.id AS inc_id, st.id AS store_id
               FROM ib i JOIN sb st ON st.b = i.b AND st.bkey = i.bkey),
      confirmed AS (SELECT c.inc_id
                    FROM cand c
                    JOIN t33_inc si ON si.id = c.inc_id
                    JOIN t33_store ss ON ss.id = c.store_id
                    WHERE graft_jaccard(si.ng, ss.ng) >= 0.5D
                    GROUP BY c.inc_id)
      SELECT CAST(i.id >= 200000 AS INT) AS is_planted,
             COUNT(*) AS n_incoming,
             COUNT(cf.inc_id) AS n_dropped,
             COUNT(*) - COUNT(cf.inc_id) AS n_kept
      FROM t33_inc i LEFT JOIN confirmed cf ON cf.inc_id = i.id
      GROUP BY CAST(i.id >= 200000 AS INT) ORDER BY is_planted""")
  }

  private val t33Duck = """
    WITH stx AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 != 0),
    inc AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + 200000, substr(text, 1, CAST(FLOOR(n_chars * 0.8::DOUBLE) AS INT))
            FROM documents WHERE doc_id % 10 = 5),
    sng AS (SELECT id,
              CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 3
                THEN list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 3 + 2),
                       i -> array_to_string(array_slice(string_split_regex(trim(text), '\s+'), i, i + 2), ' '))
                ELSE [] END AS ng
            FROM stx),
    ing AS (SELECT id,
              CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 3
                THEN list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 3 + 2),
                       i -> array_to_string(array_slice(string_split_regex(trim(text), '\s+'), i, i + 2), ' '))
                ELSE [] END AS ng
            FROM inc),
    ssig AS (SELECT id, ng,
               list_transform(range(0, 16), k -> coalesce(list_min(list_transform(
                 list_transform(ng, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT),
                 x -> (((k + 1) * 1000003 % 16777216) * x + k * 30011 + 1) % 4294967311)), 4294967311)) AS sig
             FROM sng),
    isig AS (SELECT id, ng,
               list_transform(range(0, 16), k -> coalesce(list_min(list_transform(
                 list_transform(ng, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT),
                 x -> (((k + 1) * 1000003 % 16777216) * x + k * 30011 + 1) % 4294967311)), 4294967311)) AS sig
             FROM ing),
    sb AS (SELECT id, b,
             ('0x' || substr(md5(array_to_string(list_transform(
                array_slice(sig, b * 4 + 1, b * 4 + 4), x -> x::VARCHAR), ',')), 1, 8))::BIGINT AS bkey
           FROM ssig, (SELECT unnest(range(0, 4)) AS b) bs),
    ib AS (SELECT id, b,
             ('0x' || substr(md5(array_to_string(list_transform(
                array_slice(sig, b * 4 + 1, b * 4 + 4), x -> x::VARCHAR), ',')), 1, 8))::BIGINT AS bkey
           FROM isig, (SELECT unnest(range(0, 4)) AS b) bs),
    cand AS (SELECT DISTINCT i.id AS inc_id, st.id AS store_id
             FROM ib i JOIN sb st ON st.b = i.b AND st.bkey = i.bkey),
    confirmed AS (SELECT c.inc_id
                  FROM cand c
                  JOIN isig si ON si.id = c.inc_id
                  JOIN ssig ss ON ss.id = c.store_id
                  WHERE (CASE WHEN len(list_distinct(list_concat(si.ng, ss.ng))) = 0 THEN 0.0::DOUBLE
                              ELSE len(list_intersect(si.ng, ss.ng)) / len(list_distinct(list_concat(si.ng, ss.ng))) END) >= 0.5
                  GROUP BY c.inc_id)
    SELECT (i.id >= 200000)::INT AS is_planted,
           COUNT(*)::BIGINT AS n_incoming,
           COUNT(cf.inc_id)::BIGINT AS n_dropped,
           (COUNT(*) - COUNT(cf.inc_id))::BIGINT AS n_kept
    FROM isig i LEFT JOIN confirmed cf ON cf.inc_id = i.id
    GROUP BY (i.id >= 200000)::INT ORDER BY is_planted"""

  /** Edit-distance confirmation (t34): the fuzzy-matching tail of the
    * dedup family — LSH banding proposes candidates (t07's machinery),
    * but near-identical SHORT strings (titles, names, URLs) confirm by
    * LEVENSHTEIN, not Jaccard: shingle sets barely overlap on a
    * one-typo 8-char string while edit distance is exactly 1. Candidates
    * here are banded minhash pairs over 64-char prefixes; each confirms
    * at levenshtein <= 8 (both engines' implementations compute the same
    * well-defined integer DP, so the gate is exact). The report
    * histograms candidate pairs by edit distance — banding recall and the
    * edit metric cross-check each other. */
  private val t34Spark = """
    WITH d AS (SELECT /*+ REPARTITION({{P}}) */ doc_id AS id,
                      substring(text, 1, 64) AS s
               FROM documents
               UNION ALL
               SELECT doc_id + 300000,
                      concat(substring(text, 1, 30), 'X', substring(text, 32, 33))
               FROM documents WHERE doc_id % 5 = 0),
    sig AS (SELECT id, s, graft_minhash_sigs(graft_shingles(s, 2), 16) AS sg FROM d),
    bands AS (SELECT id, s, b,
                     graft_hash(concat_ws(',', transform(slice(sg, b * 4 + 1, 4), x -> CAST(x AS STRING)))) AS bkey
              FROM sig LATERAL VIEW explode(sequence(0, 3)) t AS b),
    cand AS (SELECT DISTINCT x.id AS i, x.s AS si, y.id AS j, y.s AS sj
             FROM bands x JOIN bands y ON y.b = x.b AND y.bkey = x.bkey AND x.id < y.id),
    ed AS (SELECT i, j, levenshtein(si, sj) AS dist FROM cand)
    SELECT CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_pairs,
           COUNT(IF(j = i + 300000, 1, NULL)) AS n_planted,
           COUNT(IF(dist <= 8, 1, NULL)) AS n_confirmed
    FROM ed GROUP BY dist ORDER BY dist"""

  private val t34Duck = """
    WITH d AS (SELECT doc_id AS id, substr(text, 1, 64) AS s FROM documents
               UNION ALL
               SELECT doc_id + 300000,
                      substr(text, 1, 30) || 'X' || substr(text, 32, 33)
               FROM documents WHERE doc_id % 5 = 0),
    sng AS (SELECT id, s,
              CASE WHEN len(string_split_regex(trim(s), '\s+')) >= 2
                THEN list_transform(range(1, len(string_split_regex(trim(s), '\s+')) - 2 + 2),
                       i -> array_to_string(array_slice(string_split_regex(trim(s), '\s+'), i, i + 1), ' '))
                ELSE [] END AS ng
            FROM d),
    sig AS (SELECT id, s,
              list_transform(range(0, 16), k -> coalesce(list_min(list_transform(
                list_transform(ng, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT),
                x -> (((k + 1) * 1000003 % 16777216) * x + k * 30011 + 1) % 4294967311)), 4294967311)) AS sg
            FROM sng),
    bands AS (SELECT id, s, b,
                ('0x' || substr(md5(array_to_string(list_transform(
                   array_slice(sg, b * 4 + 1, b * 4 + 4), x -> x::VARCHAR), ',')), 1, 8))::BIGINT AS bkey
              FROM sig, (SELECT unnest(range(0, 4)) AS b) bs),
    cand AS (SELECT DISTINCT x.id AS i, x.s AS si, y.id AS j, y.s AS sj
             FROM bands x JOIN bands y ON y.b = x.b AND y.bkey = x.bkey AND x.id < y.id),
    ed AS (SELECT i, j, levenshtein(si, sj) AS dist FROM cand)
    SELECT dist::BIGINT AS dist, COUNT(*)::BIGINT AS n_pairs,
           COUNT(CASE WHEN j = i + 300000 THEN 1 END)::BIGINT AS n_planted,
           COUNT(CASE WHEN dist <= 8 THEN 1 END)::BIGINT AS n_confirmed
    FROM ed GROUP BY dist ORDER BY dist"""

  /** Set-operation report (q13): INTERSECT / EXCEPT between two derived
    * customer cohorts (buyers of high-priority orders vs big spenders) —
    * the relational set-op planning surface (Spark rewrites both to
    * semi/anti aggregates under the hood). Pure keys, exact counts. */
  private val q13Spark = """
    WITH hi AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
    big AS (SELECT o_custkey FROM orders GROUP BY o_custkey
            HAVING SUM(CAST(o_totalprice AS DECIMAL(18,2))) > 300000)
    SELECT 'both' AS cohort, COUNT(*) AS n FROM (SELECT o_custkey FROM hi INTERSECT SELECT o_custkey FROM big) a
    UNION ALL
    SELECT 'hi_only', COUNT(*) FROM (SELECT o_custkey FROM hi EXCEPT SELECT o_custkey FROM big) b
    UNION ALL
    SELECT 'big_only', COUNT(*) FROM (SELECT o_custkey FROM big EXCEPT SELECT o_custkey FROM hi) c
    ORDER BY cohort"""

  private val q13Duck = """
    WITH hi AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
    big AS (SELECT o_custkey FROM orders GROUP BY o_custkey
            HAVING SUM(CAST(o_totalprice AS DECIMAL(18,2))) > 300000)
    SELECT 'both' AS cohort, COUNT(*)::BIGINT AS n FROM (SELECT o_custkey FROM hi INTERSECT SELECT o_custkey FROM big) a
    UNION ALL
    SELECT 'hi_only', COUNT(*)::BIGINT FROM (SELECT o_custkey FROM hi EXCEPT SELECT o_custkey FROM big) b
    UNION ALL
    SELECT 'big_only', COUNT(*)::BIGINT FROM (SELECT o_custkey FROM big EXCEPT SELECT o_custkey FROM hi) c
    ORDER BY cohort"""

  /** Minimum bounding circle (g64): `ST_MinimumBoundingRadius` over
    * two-point segments, where the smallest enclosing circle has the
    * CLOSED FORM the oracle replays exactly — center = midpoint,
    * radius = half the segment length (JTS's Welzl construct must agree
    * with the geometry theorem). Coordinates are integers, so centers are
    * exact halves (BIGINT-safe after doubling) and radii square to exact
    * quarter-integers; the only float surfaced is ROUND(radius, 6). */
  private val g64Spark = """
    WITH p AS (SELECT /*+ REPARTITION({{P}}) */ l_returnflag AS flag,
                      CAST(l_partkey % 100 AS DOUBLE) AS ax, CAST(l_suppkey % 100 AS DOUBLE) AS ay,
                      CAST((l_partkey * 7) % 100 AS DOUBLE) AS bx, CAST((l_suppkey * 13) % 100 AS DOUBLE) AS by
               FROM lineitem),
    m AS (SELECT flag,
                 ST_MinimumBoundingRadius(ST_MakeLine(ST_Point(ax, ay), ST_Point(bx, by))) AS c
          FROM p)
    SELECT flag, COUNT(*) AS n,
           SUM(CAST(c.center_x * 2.0D AS BIGINT)) AS sum_2cx,
           SUM(CAST(c.center_y * 2.0D AS BIGINT)) AS sum_2cy,
           SUM(CAST(ROUND(c.radius * c.radius * 4.0D) AS BIGINT)) AS sum_4r2,
           ROUND(MAX(c.radius), 6) AS max_r
    FROM m GROUP BY flag ORDER BY flag"""

  private val g64Duck = """
    WITH p AS (SELECT l_returnflag AS flag,
                      (l_partkey % 100)::DOUBLE AS ax, (l_suppkey % 100)::DOUBLE AS ay,
                      ((l_partkey * 7) % 100)::DOUBLE AS bx, ((l_suppkey * 13) % 100)::DOUBLE AS by
               FROM lineitem),
    m AS (SELECT flag, (ax + bx) / 2.0 AS cx, (ay + by) / 2.0 AS cy,
                 sqrt((bx - ax) * (bx - ax) + (by - ay) * (by - ay)) / 2.0 AS r
          FROM p)
    SELECT flag, COUNT(*)::BIGINT AS n,
           SUM((cx * 2.0)::BIGINT)::BIGINT AS sum_2cx,
           SUM((cy * 2.0)::BIGINT)::BIGINT AS sum_2cy,
           SUM(ROUND(r * r * 4.0)::BIGINT)::BIGINT AS sum_4r2,
           ROUND(MAX(r), 6) AS max_r
    FROM m GROUP BY flag ORDER BY flag"""

  /** XYZ tile-pyramid binning (g65): `ST_TileX`/`ST_TileY` assign every
    * point its slippy-map (OSM/XYZ) tile at zooms 2 and 6, and
    * `ST_TileEnvelope` (the PostGIS function) recovers each tile's
    * web-mercator square. The 100 TB shape is the map-tile layout job:
    * tile ids are map-side scalar kernels, the only shuffle is ONE
    * aggregate keyed by (z, tx, ty) — key cardinality grows with zoom,
    * never with corpus size beyond 4^z. Three independent gates ride the
    * hash: per-tile membership (count + key sum — the transcendental
    * floor must agree cross-engine, the g10 ln/tan precedent), the
    * envelope edges (pure arithmetic once the id is known: each zoom-z
    * tile is an exact 2πa/2^z square), and id↔envelope consistency —
    * every point's mercator projection must be ST_Covers-ed by its own
    * tile's envelope, so `n_covered` must equal `n` (covers, not
    * contains: integer-degree lons land exactly ON tile edges at 45°
    * multiples, and an edge point belongs to the tile it floor-assigned
    * to). */
  private val g65Spark = """
    WITH p AS (SELECT /*+ REPARTITION({{P}}) */ c_custkey,
                      CAST(c_custkey % 360 - 180 AS DOUBLE) AS lon,
                      CAST((c_custkey * 7) % 140 - 70 AS DOUBLE) AS lat
               FROM customer),
    t AS (SELECT c_custkey, lon, lat, z,
                 ST_TileX(lon, z) AS tx, ST_TileY(lat, z) AS ty
          FROM p LATERAL VIEW explode(array(2, 6)) zz AS z),
    e AS (SELECT c_custkey, z, tx, ty,
                 ST_TileEnvelope(z, tx, ty) AS env,
                 ST_Transform(ST_Point(lon, lat), 4326, 3857) AS m
          FROM t)
    SELECT CAST(z AS BIGINT) AS z, tx, ty,
           COUNT(*) AS n, SUM(c_custkey) AS sum_key,
           SUM(CASE WHEN ST_Covers(env, m) THEN 1 ELSE 0 END) AS n_covered,
           ROUND(MIN(ST_XMin(env)), 3) + 0.0 AS west,
           ROUND(MIN(ST_YMin(env)), 3) + 0.0 AS south
    FROM e GROUP BY z, tx, ty ORDER BY z, tx, ty"""

  private val g65Duck = """
    WITH p AS (SELECT c_custkey,
                      (c_custkey % 360 - 180)::DOUBLE AS lon,
                      ((c_custkey * 7) % 140 - 70)::DOUBLE AS lat
               FROM customer),
    t AS (SELECT c_custkey, lon, lat, z, (1 << z) AS nt,
                 LEAST(GREATEST(floor((lon + 180.0) / 360.0 * (1 << z)), 0), (1 << z) - 1)::BIGINT AS tx,
                 LEAST(GREATEST(floor((1.0 - ln(tan(lat * pi() / 180.0) + 1.0 / cos(lat * pi() / 180.0)) / pi()) / 2.0 * (1 << z)), 0), (1 << z) - 1)::BIGINT AS ty
          FROM p CROSS JOIN (SELECT unnest([2, 6]) AS z) zz)
    SELECT z::BIGINT AS z, tx, ty,
           COUNT(*)::BIGINT AS n, SUM(c_custkey)::BIGINT AS sum_key,
           COUNT(*)::BIGINT AS n_covered,
           ROUND(MIN((pi() * 6378137.0) * (2.0 * tx / nt - 1.0)), 3) + 0.0 AS west,
           ROUND(MIN((pi() * 6378137.0) * (1.0 - 2.0 * (ty + 1) / nt)), 3) + 0.0 AS south
    FROM t GROUP BY z, tx, ty, nt ORDER BY z, tx, ty"""

  /** Cascade retrieval funnel (e20): the production 3-stage shape that
    * e17 (binary) and e10 (SQ8) are stages of — stage 1 scans 1-bit codes
    * (64 bits/vector) and keeps the Hamming top-64; stage 2 re-scores
    * ONLY those with 8-bit SQ codes (integer symmetric distance) and
    * keeps the top-16; stage 3 re-ranks those few by exact L2. Bytes
    * touched shrink ~8x per stage while each stage's candidate set
    * bounds the next stage's work — the funnel is how a 100 TB corpus
    * serves kNN from a compressed scan without ever computing exact
    * distance on more than a handful of rows. Integer distances at
    * stages 1-2 keep the whole funnel bit-deterministic. */
  private val e20Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e FROM embeddings),
    bq AS (SELECT vec_id, e,
                  aggregate(sequence(1, 32), CAST(0 AS BIGINT),
                            (acc, i) -> acc + IF(element_at(e, i) > 0.0D,
                                                 shiftleft(CAST(1 AS BIGINT), i - 1),
                                                 CAST(0 AS BIGINT))) AS lo,
                  aggregate(sequence(33, 64), CAST(0 AS BIGINT),
                            (acc, i) -> acc + IF(element_at(e, i) > 0.0D,
                                                 shiftleft(CAST(1 AS BIGINT), i - 33),
                                                 CAST(0 AS BIGINT))) AS hi
           FROM v),
    dims AS (SELECT i, MIN(element_at(e, i)) AS mn, MAX(element_at(e, i)) AS mx
             FROM v LATERAL VIEW explode(sequence(1, 64)) t AS i GROUP BY i),
    sarr AS (SELECT transform(array_sort(collect_list(struct(i, mn))), s -> s.mn) AS mn_arr,
                    transform(array_sort(collect_list(struct(i, mx))), s -> s.mx) AS mx_arr
             FROM dims),
    codes AS (SELECT /*+ BROADCAST(sarr) */ vec_id,
                     transform(sequence(1, 64), i -> CAST(
                       CASE WHEN element_at(mx_arr, i) = element_at(mn_arr, i) THEN 0.0
                            ELSE least(255.0, greatest(0.0,
                              floor((element_at(e, i) - element_at(mn_arr, i)) * 255.0
                                    / (element_at(mx_arr, i) - element_at(mn_arr, i)))))
                       END AS INT)) AS c
              FROM v CROSS JOIN sarr),
    q AS (SELECT vec_id FROM v WHERE vec_id >= 8 AND vec_id < 16),
    st1 AS (SELECT query_id, neighbor_id, hd FROM (
              SELECT qb.vec_id AS query_id, x.vec_id AS neighbor_id,
                     bit_count(qb.lo ^ x.lo) + bit_count(qb.hi ^ x.hi) AS hd,
                     ROW_NUMBER() OVER (PARTITION BY qb.vec_id ORDER BY
                       bit_count(qb.lo ^ x.lo) + bit_count(qb.hi ^ x.hi), x.vec_id) AS r
              FROM bq x JOIN (SELECT bq.* FROM bq JOIN q ON q.vec_id = bq.vec_id) qb
                ON x.vec_id != qb.vec_id) t WHERE r <= 64),
    st2 AS (SELECT query_id, neighbor_id, hd, sq FROM (
              SELECT s1.query_id, s1.neighbor_id, s1.hd,
                     aggregate(zip_with(qc.c, xc.c, (a, b) -> CAST((a - b) * (a - b) AS BIGINT)),
                               CAST(0 AS BIGINT), (acc, d) -> acc + d) AS sq,
                     ROW_NUMBER() OVER (PARTITION BY s1.query_id ORDER BY
                       aggregate(zip_with(qc.c, xc.c, (a, b) -> CAST((a - b) * (a - b) AS BIGINT)),
                                 CAST(0 AS BIGINT), (acc, d) -> acc + d), s1.neighbor_id) AS r
              FROM st1 s1
              JOIN codes qc ON qc.vec_id = s1.query_id
              JOIN codes xc ON xc.vec_id = s1.neighbor_id) t WHERE r <= 16),
    st3 AS (SELECT query_id, neighbor_id, hd, sq, graft_l2(qv.e, xv.e) AS exact_d
            FROM st2
            JOIN v qv ON qv.vec_id = st2.query_id
            JOIN v xv ON xv.vec_id = st2.neighbor_id)
    SELECT query_id, neighbor_id, CAST(hd AS BIGINT) AS hd, sq,
           CAST(rnk AS BIGINT) AS rnk, ROUND(exact_d, 6) AS exact_d
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY exact_d, neighbor_id) AS rnk
          FROM st3) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  private val e20Duck = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    bq AS (SELECT vec_id, e,
                  list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 33),
                    i -> CASE WHEN e[i] > 0.0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END)),
                    (a, b) -> a + b) AS lo,
                  list_reduce(list_prepend(0::BIGINT, list_transform(range(33, 65),
                    i -> CASE WHEN e[i] > 0.0 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END)),
                    (a, b) -> a + b) AS hi
           FROM v),
    dims AS (SELECT i, MIN(e[i]) AS mn, MAX(e[i]) AS mx
             FROM v CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t GROUP BY i),
    sarr AS (SELECT list(mn ORDER BY i) AS mn_arr, list(mx ORDER BY i) AS mx_arr FROM dims),
    codes AS (SELECT vec_id,
                     list_transform(range(1, 65), i -> (
                       CASE WHEN mx_arr[i] = mn_arr[i] THEN 0.0
                            ELSE least(255.0, greatest(0.0,
                              floor((e[i] - mn_arr[i]) * 255.0 / (mx_arr[i] - mn_arr[i]))))
                       END)::INT) AS c
              FROM v CROSS JOIN sarr),
    q AS (SELECT vec_id FROM v WHERE vec_id >= 8 AND vec_id < 16),
    st1 AS (SELECT query_id, neighbor_id, hd FROM (
              SELECT qb.vec_id AS query_id, x.vec_id AS neighbor_id,
                     bit_count(xor(qb.lo, x.lo)) + bit_count(xor(qb.hi, x.hi)) AS hd,
                     ROW_NUMBER() OVER (PARTITION BY qb.vec_id ORDER BY
                       bit_count(xor(qb.lo, x.lo)) + bit_count(xor(qb.hi, x.hi)), x.vec_id) AS r
              FROM bq x JOIN (SELECT bq.* FROM bq JOIN q ON q.vec_id = bq.vec_id) qb
                ON x.vec_id != qb.vec_id) t WHERE r <= 64),
    st2 AS (SELECT query_id, neighbor_id, hd, sq FROM (
              SELECT s1.query_id, s1.neighbor_id, s1.hd,
                     list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 65),
                       i -> ((qc.c[i] - xc.c[i]) * (qc.c[i] - xc.c[i]))::BIGINT)), (a, b) -> a + b) AS sq,
                     ROW_NUMBER() OVER (PARTITION BY s1.query_id ORDER BY
                       list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 65),
                         i -> ((qc.c[i] - xc.c[i]) * (qc.c[i] - xc.c[i]))::BIGINT)), (a, b) -> a + b), s1.neighbor_id) AS r
              FROM st1 s1
              JOIN codes qc ON qc.vec_id = s1.query_id
              JOIN codes xc ON xc.vec_id = s1.neighbor_id) t WHERE r <= 16),
    st3 AS (SELECT query_id, neighbor_id, hd, sq,
                   list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(qv.e) + 1), i -> (qv.e[i] - xv.e[i]) * (qv.e[i] - xv.e[i]))), (x, y) -> x + y) AS exact_d
            FROM st2
            JOIN v qv ON qv.vec_id = st2.query_id
            JOIN v xv ON xv.vec_id = st2.neighbor_id)
    SELECT query_id, neighbor_id, hd::BIGINT AS hd, sq,
           rnk::BIGINT AS rnk, ROUND(exact_d, 6) AS exact_d
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY exact_d, neighbor_id) AS rnk
          FROM st3) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  /** Dedup-method consensus (t35): the model-selection artifact for the
    * near-dup family — run BOTH candidate generators over the same
    * aug corpus (80%-prefix twins planted), simhash 2x16-bit band keys
    * (t06's fingerprint) vs minhash 4x4 banding (t07's), and score each
    * method's candidate set against exact shingle Jaccard >= 0.5: per
    * method and per agreement class (both proposed / only one), how many
    * candidates and how many verify. The numbers that pick a dedup
    * config: a pair found by both methods verifies far more often than a
    * single-method pair. All joins stay band-keyed; the exact confirm
    * touches only proposed candidates. */
  private val t35Spark = """
    WITH aug AS (SELECT doc_id AS id, text FROM documents
                 UNION ALL
                 SELECT doc_id + 100000, substring(text, 1, CAST(FLOOR(n_chars * 0.8D) AS INT))
                 FROM documents),
    base AS (SELECT /*+ REPARTITION({{P}}) */ id, graft_shingles(text, 3) AS ng,
                    CAST(graft_simhash(text) AS BIGINT) AS sh,
                    graft_minhash_sigs(graft_shingles(text, 3), 16) AS sig
             FROM aug),
    simb AS (SELECT id, b, (sh >> (b * 16)) & 65535 AS bk
             FROM base LATERAL VIEW explode(sequence(0, 1)) t AS b),
    simc AS (SELECT DISTINCT x.id AS i, y.id AS j
             FROM simb x JOIN simb y ON y.b = x.b AND y.bk = x.bk AND x.id < y.id),
    mhb AS (SELECT id, b, graft_hash(concat_ws(',', transform(slice(sig, b * 4 + 1, 4), x -> CAST(x AS STRING)))) AS bk
            FROM base LATERAL VIEW explode(sequence(0, 3)) t AS b),
    mhc AS (SELECT DISTINCT x.id AS i, y.id AS j
            FROM mhb x JOIN mhb y ON y.b = x.b AND y.bk = x.bk AND x.id < y.id),
    allc AS (SELECT COALESCE(s.i, m.i) AS i, COALESCE(s.j, m.j) AS j,
                    IF(s.i IS NULL, 0, 1) AS by_sim, IF(m.i IS NULL, 0, 1) AS by_mh
             FROM simc s FULL OUTER JOIN mhc m ON m.i = s.i AND m.j = s.j),
    ver AS (SELECT a.by_sim, a.by_mh,
                   IF(graft_jaccard(bi.ng, bj.ng) >= 0.5D, 1, 0) AS verified
            FROM allc a
            JOIN base bi ON bi.id = a.i
            JOIN base bj ON bj.id = a.j)
    SELECT CAST(by_sim AS BIGINT) AS by_sim, CAST(by_mh AS BIGINT) AS by_mh,
           COUNT(*) AS n_cand, SUM(verified) AS n_verified,
           ROUND(CAST(SUM(verified) AS DOUBLE) / COUNT(*), 6) AS precision
    FROM ver GROUP BY by_sim, by_mh ORDER BY by_sim, by_mh"""

  private val t35Duck = """
    WITH aug AS (SELECT doc_id AS id, text FROM documents
                 UNION ALL
                 SELECT doc_id + 100000, substr(text, 1, CAST(FLOOR(n_chars * 0.8::DOUBLE) AS INT))
                 FROM documents),
    tk AS (SELECT id, text, string_split_regex(trim(text), '\s+') AS toks FROM aug),
    base AS (SELECT id,
               CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 3 + 2),
                        i -> array_to_string(array_slice(toks, i, i + 2), ' '))
                 ELSE [] END AS ng,
               list_sum(list_transform(range(0, 32), b -> CASE WHEN
                  list_sum(list_transform(list_transform(toks, t2 -> ('0x' || substr(md5(t2), 1, 8))::BIGINT),
                    hh -> CASE WHEN ((hh >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
                  THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS sh
             FROM tk),
    sig AS (SELECT id, ng, sh,
              list_transform(range(0, 16), k -> coalesce(list_min(list_transform(
                list_transform(ng, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT),
                x -> (((k + 1) * 1000003 % 16777216) * x + k * 30011 + 1) % 4294967311)), 4294967311)) AS mh
            FROM base),
    simb AS (SELECT id, b, (sh >> (b * 16)) & 65535 AS bk
             FROM sig, (SELECT unnest(range(0, 2)) AS b) bs),
    simc AS (SELECT DISTINCT x.id AS i, y.id AS j
             FROM simb x JOIN simb y ON y.b = x.b AND y.bk = x.bk AND x.id < y.id),
    mhb AS (SELECT id, b,
              ('0x' || substr(md5(array_to_string(list_transform(
                 array_slice(mh, b * 4 + 1, b * 4 + 4), x -> x::VARCHAR), ',')), 1, 8))::BIGINT AS bk
            FROM sig, (SELECT unnest(range(0, 4)) AS b) bs),
    mhc AS (SELECT DISTINCT x.id AS i, y.id AS j
            FROM mhb x JOIN mhb y ON y.b = x.b AND y.bk = x.bk AND x.id < y.id),
    allc AS (SELECT COALESCE(s.i, m.i) AS i, COALESCE(s.j, m.j) AS j,
                    CASE WHEN s.i IS NULL THEN 0 ELSE 1 END AS by_sim,
                    CASE WHEN m.i IS NULL THEN 0 ELSE 1 END AS by_mh
             FROM simc s FULL OUTER JOIN mhc m ON m.i = s.i AND m.j = s.j),
    ver AS (SELECT a.by_sim, a.by_mh,
                   CASE WHEN (CASE WHEN len(list_distinct(list_concat(bi.ng, bj.ng))) = 0 THEN 0.0::DOUBLE
                                   ELSE len(list_intersect(bi.ng, bj.ng)) / len(list_distinct(list_concat(bi.ng, bj.ng))) END) >= 0.5
                        THEN 1 ELSE 0 END AS verified
            FROM allc a
            JOIN sig bi ON bi.id = a.i
            JOIN sig bj ON bj.id = a.j)
    SELECT by_sim::BIGINT AS by_sim, by_mh::BIGINT AS by_mh,
           COUNT(*)::BIGINT AS n_cand, SUM(verified)::BIGINT AS n_verified,
           ROUND(SUM(verified)::DOUBLE / COUNT(*), 6) AS precision
    FROM ver GROUP BY by_sim, by_mh ORDER BY by_sim, by_mh"""

  /** Recursive CTE (q14): Spark 4's WITH RECURSIVE — each customer walks
    * its halving ancestor chain (node → node/2 → … → 1, an implicit
    * binary-tree hierarchy over the key space) and the report histograms
    * chain depth. The iterative-join shape (org charts, BOM explosions,
    * graph reachability) that previously needed driver-side loops
    * (t09's components operator) now plans declaratively; depth is
    * bounded by log2(maxkey) so the recursion is ~17 levels at any SF. */
  private val q14Spark = """
    WITH RECURSIVE anc AS (
      SELECT c_custkey AS node, c_custkey AS cur, 0 AS hops FROM customer
      UNION ALL
      SELECT node, cur DIV 2 AS cur, hops + 1 AS hops FROM anc WHERE cur > 1)
    SELECT depth, COUNT(*) AS n, SUM(node) AS sum_nodes
    FROM (SELECT node, CAST(MAX(hops) AS BIGINT) AS depth FROM anc GROUP BY node) d
    GROUP BY depth ORDER BY depth"""

  private val q14Duck = """
    WITH RECURSIVE anc AS (
      SELECT c_custkey AS node, c_custkey AS cur, 0 AS hops FROM customer
      UNION ALL
      SELECT node, cur // 2 AS cur, hops + 1 AS hops FROM anc WHERE cur > 1)
    SELECT depth, COUNT(*)::BIGINT AS n, SUM(node)::BIGINT AS sum_nodes
    FROM (SELECT node, MAX(hops)::BIGINT AS depth FROM anc GROUP BY node) d
    GROUP BY depth ORDER BY depth"""

  /** Text-vs-embedding consistency (t36): the cross-modal audit — minhash
    * banding proposes text near-dup candidates over the documents table,
    * and each candidate pair is then scored by the COSINE of the two
    * docs' embedding vectors (vec_id = doc_id in the synthetic corpus).
    * Jaccard-verified pairs should sit higher in embedding similarity
    * than unverified band collisions; the report buckets candidates by
    * (verified, cosine decile) so a drift between the text and embedding
    * views of "similar" is a hash mismatch. Candidates are band-keyed,
    * the embedding lookup is an id equi-join — nothing all-pairs. */
  private val t36Spark = """
    WITH sg AS (SELECT /*+ REPARTITION({{P}}) */ doc_id AS id,
                       graft_shingles(text, 3) AS ng,
                       graft_minhash_sigs(graft_shingles(text, 3), 16) AS sig
                FROM documents),
    bands AS (SELECT id, b, graft_hash(concat_ws(',', transform(slice(sig, b * 4 + 1, 4), x -> CAST(x AS STRING)))) AS bkey
              FROM sg LATERAL VIEW explode(sequence(0, 3)) t AS b),
    cand AS (SELECT DISTINCT x.id AS i, y.id AS j
             FROM bands x JOIN bands y ON y.b = x.b AND y.bkey = x.bkey AND x.id < y.id),
    v AS (SELECT vec_id, graft_vec(embedding) AS e,
                 sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
          FROM embeddings),
    scored AS (SELECT c.i, c.j,
                      IF(graft_jaccard(si.ng, sj.ng) >= 0.5D, 1, 0) AS verified,
                      graft_dot(vi.e, vj.e) / (vi.nrm * vj.nrm) AS cos
               FROM cand c
               JOIN sg si ON si.id = c.i JOIN sg sj ON sj.id = c.j
               JOIN v vi ON vi.vec_id = c.i JOIN v vj ON vj.vec_id = c.j)
    SELECT CAST(verified AS BIGINT) AS verified,
           CAST(FLOOR(cos * 5.0D) AS BIGINT) AS cos_bucket,
           COUNT(*) AS n, ROUND(MIN(cos), 6) AS min_cos, ROUND(MAX(cos), 6) AS max_cos
    FROM scored GROUP BY verified, CAST(FLOOR(cos * 5.0D) AS BIGINT)
    ORDER BY verified, cos_bucket"""

  private val t36Duck = """
    WITH sng AS (SELECT doc_id AS id,
                   CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 3
                     THEN list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 3 + 2),
                            i -> array_to_string(array_slice(string_split_regex(trim(text), '\s+'), i, i + 2), ' '))
                     ELSE [] END AS ng
                 FROM documents),
    sg AS (SELECT id, ng,
             list_transform(range(0, 16), k -> coalesce(list_min(list_transform(
               list_transform(ng, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT),
               x -> (((k + 1) * 1000003 % 16777216) * x + k * 30011 + 1) % 4294967311)), 4294967311)) AS sig
           FROM sng),
    bands AS (SELECT id, b,
                ('0x' || substr(md5(array_to_string(list_transform(
                   array_slice(sig, b * 4 + 1, b * 4 + 4), x -> x::VARCHAR), ',')), 1, 8))::BIGINT AS bkey
              FROM sg, (SELECT unnest(range(0, 4)) AS b) bs),
    cand AS (SELECT DISTINCT x.id AS i, y.id AS j
             FROM bands x JOIN bands y ON y.b = x.b AND y.bkey = x.bkey AND x.id < y.id),
    v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    v AS (SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * e[i])), (x, y) -> x + y)) AS nrm
          FROM v0),
    scored AS (SELECT c.i, c.j,
                      CASE WHEN (CASE WHEN len(list_distinct(list_concat(si.ng, sj.ng))) = 0 THEN 0.0::DOUBLE
                                      ELSE len(list_intersect(si.ng, sj.ng)) / len(list_distinct(list_concat(si.ng, sj.ng))) END) >= 0.5
                           THEN 1 ELSE 0 END AS verified,
                      list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(vi.e) + 1), i -> vi.e[i] * vj.e[i])), (x, y) -> x + y) / (vi.nrm * vj.nrm) AS cos
               FROM cand c
               JOIN sg si ON si.id = c.i JOIN sg sj ON sj.id = c.j
               JOIN v vi ON vi.vec_id = c.i JOIN v vj ON vj.vec_id = c.j)
    SELECT verified::BIGINT AS verified,
           FLOOR(cos * 5.0)::BIGINT AS cos_bucket,
           COUNT(*)::BIGINT AS n, ROUND(MIN(cos), 6) AS min_cos, ROUND(MAX(cos), 6) AS max_cos
    FROM scored GROUP BY verified, FLOOR(cos * 5.0)::BIGINT
    ORDER BY verified, cos_bucket"""

  /** Streaming nearest-centroid classification (s11): the online-inference
    * shape — a vector stream (5 micro-batches of synthetic integer-exact
    * 8-dim vectors) classifies each arrival against a STATIC broadcast
    * centroid table (first 4 corpus embeddings' 8-dim prefixes, scaled to
    * exact integers) by maximum integer dot product; per-class counts
    * aggregate after the sink. Stateless per batch (the s04 geofence
    * pattern with vectors instead of geometry): classification is
    * map-side against the broadcast, so throughput scales with executors
    * and nothing accumulates. Integer dots make the argmax exact. */
  private def s11Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    // static centroids: exact integers derived from the embeddings table.
    // 4 rows — a bounded metadata collect, inlined as a literal so the
    // streaming classify is a pure row-level expression (windows and
    // non-watermarked aggregations are disallowed on streams; a model
    // this size would broadcast as a literal in any real deployment too)
    val cents = s.sql("""
      SELECT vec_id AS cid,
             transform(slice(graft_vec(embedding), 1, 8),
                       x -> CAST(FLOOR(x * 1000.0D) AS BIGINT)) AS ce
      FROM embeddings WHERE vec_id < 4""").collect()
    val centSql = cents.map { r =>
      val ce = r.getSeq[Long](1).mkString(",")
      s"struct(CAST(${r.getLong(0)} AS BIGINT) AS cid, array($ce) AS ce)"
    }.mkString("array(", ",", ")")
    val fin = runStream(s, "graft_s11") { (sess, tmp) =>
      def gen(lo: Int, hi: Int) = sess.sql(s"""
        SELECT CAST(id AS BIGINT) AS sample_id,
               timestamp_seconds(1700000000 + id) AS ts,
               transform(sequence(0, 7), j -> CAST((id * 31 + j * j * 7) % 199 - 99 AS BIGINT)) AS vec
        FROM range($lo, $hi)""")
      val src = stageBatches(tmp, (0 until 5).map(i => gen(i * 40, (i + 1) * 40)))
      val stream = sess.readStream.schema(gen(0, 1).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      stream.createOrReplaceTempView("s11_stream")
      // argmax by integer dot product: array_max over (dot, -cid) structs —
      // lexicographic struct ordering gives max-dot with min-cid tie-break
      sess.sql(s"""
        SELECT sample_id, ts,
               CAST(-(array_max(transform($centSql, c ->
                 struct(aggregate(zip_with(vec, c.ce, (a, b) -> a * b),
                                  CAST(0 AS BIGINT), (acc, x) -> acc + x) AS dot,
                        -c.cid AS ncid)))).ncid AS BIGINT) AS cls
        FROM s11_stream""")
    }
    fin.createOrReplaceTempView("graft_s11_fin")
    fin.sparkSession.sql("""
      SELECT cls, COUNT(*) AS n, MIN(sample_id) AS min_id, SUM(sample_id) AS sum_ids
      FROM graft_s11_fin GROUP BY cls ORDER BY cls""")
  }

  private val s11Duck = """
    WITH v AS (SELECT i AS sample_id,
                      list_transform(range(0, 8), j -> (i * 31 + j * j * 7) % 199 - 99) AS vec
               FROM range(200) t(i)),
    c AS (SELECT vec_id AS cid,
                 list_transform(list_transform(embedding, x -> x::DOUBLE)[1:8],
                                x -> FLOOR(x * 1000.0)::BIGINT) AS ce
          FROM embeddings WHERE vec_id < 4),
    cls AS (SELECT sample_id, cid AS cls FROM (
              SELECT v.sample_id, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY v.sample_id ORDER BY
                       list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 9),
                         i -> (vec[i] * ce[i])::BIGINT)), (a, b) -> a + b) DESC,
                       c.cid) AS rn
              FROM v CROSS JOIN c) t WHERE rn = 1)
    SELECT cls, COUNT(*)::BIGINT AS n, MIN(sample_id)::BIGINT AS min_id,
           SUM(sample_id)::BIGINT AS sum_ids
    FROM cls GROUP BY cls ORDER BY cls"""

  /** Watermark late-data drop (s12): the OTHER half of the watermark
    * contract s02 proves — s02 pins that windows FINALIZE once the
    * watermark passes; s12 pins that data arriving AFTER its window
    * finalized is DROPPED, not double-counted and not re-emitted.
    * Batch 1 carries the on-time events (ids 0-99), batches 2-3 carry
    * sentinels that advance the watermark 24 h past every window — TWO
    * of them, because Spark's late-row filter uses the watermark with a
    * one-batch propagation lag (the value computed from batches <= N-2
    * filters batch N; with a single sentinel the late wave is filtered
    * against the ON-TIME wave's watermark and 39 rows leak — measured,
    * not theoretical). Batch 4 is a full second wave of LATE events
    * (ids 100-199, different values, aimed at the same already-finalized
    * windows), batch 5 the closing sentinel.
    * The oracle aggregates ONLY the on-time wave: a state store that
    * accepted the late rows (or an append sink that re-emitted a
    * finalized window) changes n/total and hash-mismatches. At 100 TB
    * this is the semantics that bounds state size — without the drop,
    * state never evicts and the job eventually OOMs; the cost is the
    * documented completeness trade (late data needs a batch backfill
    * path, which is exactly what the a0x as-of family does). */
  private def s12Fn(s: SparkSession, dir: String): DataFrame = {
    runStream(s, "graft_s12") { (sess, tmp) =>
      def wave(lo: Int): DataFrame = sess.sql(s"""
        SELECT CAST(id AS BIGINT) AS event_id,
               timestamp_seconds(1700000000 + (id % 40) * 60) AS ts,
               CAST(id % 7 AS BIGINT) AS user_id,
               CASE WHEN id % 3 = 0 THEN 'click' WHEN id % 3 = 1 THEN 'view'
                    ELSE 'buy' END AS event_type,
               CAST(id AS DOUBLE) / 10 AS value
        FROM range($lo, ${lo + 100})""")
      def sentinel(offset: Long) = sess.sql(s"""
        SELECT CAST(9000 + $offset AS BIGINT) AS event_id,
               timestamp_seconds(1700000000 + 86400 + $offset) AS ts,
               CAST(0 AS BIGINT) AS user_id, 'sentinel' AS event_type, 0.0 AS value""")
      val src = stageBatches(tmp,
        Seq(wave(0), sentinel(0), sentinel(1), wave(100), sentinel(2)))
      val stream = sess.readStream.schema(wave(0).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      graft.streaming.StreamOps.windowedCounts(
        stream, watermark = "10 minutes", window = "5 minutes")
    }
      .where("event_type <> 'sentinel'")
      .selectExpr("CAST(window.start AS BIGINT) AS win_start", "event_type",
        "n", "ROUND(total, 6) AS total")
      .orderBy("win_start", "event_type")
  }

  private val s12Duck = """
    WITH ev AS (
      SELECT 1700000000 + (i % 40) * 60 AS es,
             CASE WHEN i % 3 = 0 THEN 'click' WHEN i % 3 = 1 THEN 'view'
                  ELSE 'buy' END AS event_type,
             i / 10.0 AS value
      FROM range(100) t(i))
    SELECT (es // 300) * 300 AS win_start, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 6) AS total
    FROM ev GROUP BY 1, 2 ORDER BY win_start, event_type"""

  /** Decode-failure quarantine (m11): 30% of the corpus payloads are
    * corrupted by construction (truncated PNGs, pure-garbage bytes) and
    * the scan must SURVIVE them — `graft_media_meta_safe` returns NULL
    * where the real codec rejects the payload instead of failing the
    * task, so bad rows route to a quarantine count while good rows keep
    * their header metadata. At 100 TB a one-in-a-billion corrupt blob is
    * a certainty; a decode path that throws kills the stage, a null-safe
    * one costs a filter. The oracle pins exactly which corruption classes
    * decode (none) and the pixel mass of the healthy slice. */
  private val m11Spark = """
    WITH pl AS (SELECT /*+ REPARTITION({{P}}) */ doc_id,
                  CASE WHEN doc_id % 5 = 2 THEN substring(graft_media_png(doc_id), 1, 10)
                       WHEN doc_id % 10 = 9 THEN unhex(md5(CAST(doc_id AS STRING)))
                       ELSE graft_media_png(doc_id) END AS payload
                FROM documents),
    m AS (SELECT doc_id, graft_media_meta_safe(payload) AS meta,
                 CASE WHEN doc_id % 5 = 2 THEN 'truncated'
                      WHEN doc_id % 10 = 9 THEN 'garbage'
                      ELSE 'ok' END AS klass
          FROM pl)
    SELECT klass, COUNT(*) AS n, COUNT(meta) AS n_decoded,
           COALESCE(SUM(CAST(meta.width AS BIGINT) * CAST(meta.height AS BIGINT)), 0) AS npixels
    FROM m GROUP BY klass ORDER BY klass"""

  private val m11Duck = """
    WITH cl AS (SELECT doc_id,
                  CASE WHEN doc_id % 5 = 2 THEN 'truncated'
                       WHEN doc_id % 10 = 9 THEN 'garbage'
                       ELSE 'ok' END AS klass,
                  1 + doc_id % 16 AS w, 1 + (doc_id // 16) % 16 AS h
                FROM documents)
    SELECT klass, COUNT(*)::BIGINT AS n,
           COUNT(CASE WHEN klass = 'ok' THEN 1 END)::BIGINT AS n_decoded,
           COALESCE(SUM(CASE WHEN klass = 'ok' THEN w * h END), 0)::BIGINT AS npixels
    FROM cl GROUP BY klass ORDER BY klass"""

  /** Johnson-Lindenstrauss projection ANN (e21): 64 dims → 16 via a
    * SEEDED integer-derived random-projection matrix (the bucketk
    * splitmix recipe, seed 13 — no stored model, both engines regenerate
    * the weights bit-identically from the seed), stage-1 ranks by L2 in
    * the projected space (4x fewer multiply-adds and 4x smaller scan than
    * full vectors — the rotation-sensitive complement to e11's axis-only
    * truncation), stage-2 re-ranks the projected top-32 by exact 64-dim
    * L2. Projections are ordered folds of exact integers times doubles —
    * deterministic cross-engine like e02/e12's hyperplane dots. */
  private val e21Spark = """
    WITH planes AS (
      SELECT j, transform(sequence(0, 63), i -> CAST(
               ((CAST(13 AS BIGINT) * 1000003 + j * 4099 + i) % 2147483648 * 2654435761) % 2147483648 AS BIGINT)) AS h0
      FROM (SELECT explode(sequence(0, 15)) AS j)),
    pw AS (SELECT j, transform(transform(transform(h0,
                 h -> h ^ shiftright(h, 15)),
                 h -> (h * 2246822519) % 2147483648),
                 h -> CAST((h ^ shiftright(h, 13)) - 1073741824 AS DOUBLE)) AS w
           FROM planes),
    v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e FROM embeddings),
    proj AS (SELECT v.vec_id, pw.j, graft_dot(v.e, pw.w) AS p
             FROM v CROSS JOIN pw),
    pv AS (SELECT vec_id, transform(array_sort(collect_list(struct(j, p))), s -> s.p) AS pe
           FROM proj GROUP BY vec_id),
    q AS (SELECT * FROM pv WHERE vec_id >= 8 AND vec_id < 16),
    st1 AS (SELECT query_id, neighbor_id FROM (
              SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY graft_l2(q.pe, x.pe), x.vec_id) AS r
              FROM q JOIN pv x ON x.vec_id != q.vec_id) t WHERE r <= 32),
    st2 AS (SELECT s1.query_id, s1.neighbor_id, graft_l2(qv.e, xv.e) AS exact_d
            FROM st1 s1
            JOIN v qv ON qv.vec_id = s1.query_id
            JOIN v xv ON xv.vec_id = s1.neighbor_id)
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, ROUND(exact_d, 6) AS exact_d
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY exact_d, neighbor_id) AS rnk
          FROM st2) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  private val e21Duck = """
    WITH planes AS (
      SELECT j, list_transform(list_transform(list_transform(list_transform(
               range(0, 64), i -> ((13 * 1000003 + j * 4099 + i) % 2147483648 * 2654435761) % 2147483648),
               h -> xor(h, h >> 15)),
               h -> (h * 2246822519) % 2147483648),
               h -> (xor(h, h >> 13) - 1073741824)::DOUBLE) AS w
      FROM (SELECT unnest(range(0, 16)) AS j) js),
    v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    proj AS (SELECT v.vec_id, planes.j,
                    list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(v.e) + 1), i -> v.e[i] * planes.w[i])), (x, y) -> x + y) AS p
             FROM v CROSS JOIN planes),
    pv AS (SELECT vec_id, list(p ORDER BY j) AS pe FROM proj GROUP BY vec_id),
    q AS (SELECT * FROM pv WHERE vec_id >= 8 AND vec_id < 16),
    st1 AS (SELECT query_id, neighbor_id FROM (
              SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.pe) + 1), i -> (q.pe[i] - x.pe[i]) * (q.pe[i] - x.pe[i]))), (a, b) -> a + b), x.vec_id) AS r
              FROM q JOIN pv x ON x.vec_id != q.vec_id) t WHERE r <= 32),
    st2 AS (SELECT s1.query_id, s1.neighbor_id,
                   list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(qv.e) + 1), i -> (qv.e[i] - xv.e[i]) * (qv.e[i] - xv.e[i]))), (a, b) -> a + b) AS exact_d
            FROM st1 s1
            JOIN v qv ON qv.vec_id = s1.query_id
            JOIN v xv ON xv.vec_id = s1.neighbor_id)
    SELECT query_id, neighbor_id, rnk::BIGINT AS rnk, ROUND(exact_d, 6) AS exact_d
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY exact_d, neighbor_id) AS rnk
          FROM st2) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  /** Tombstone-delete ANN lifecycle (e22): the DELETE side of the index
    * lifecycle whose append side is e16 — 20% of the corpus (vec_id % 5
    * = 2, sparing the centroid seeds and the query set) lands in a
    * tombstone table, and the e04 IVF search masks tombstoned candidates
    * with a LEFT ANTI JOIN at probe time (FAISS's `IDSelector` shape:
    * the codebook is NOT retrained and the list layout is untouched —
    * compaction is a separate offline rewrite). Because assignment is
    * per-vector and deletes never move centroids, probe-time masking is
    * EXACTLY equivalent to rebuilding the index over the retained set —
    * which is what the oracle computes (assignment over retained vectors
    * only), so a deleted id leaking into the top-3, or a rank shift from
    * a mis-scoped mask, hash-mismatches. `n_masked` pins per query that
    * the mask suppressed real candidates. 100 TB topology: the tombstone
    * side is a keyed anti-join — broadcast while the delete set is
    * small, vec_id-shuffled when it isn't; everything else inherits
    * e04's keyed probe-join shape, never all-pairs. */
  private val e22Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
               FROM embeddings),
    dead AS (SELECT vec_id AS dead_id FROM v WHERE vec_id % 5 = 2 AND vec_id >= 16),
    c AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM v WHERE vec_id < 4),
    asgn AS (SELECT vec_id, e, nrm, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY graft_dot(e, ce) / (nrm * cnrm) DESC, cid) AS rn
             FROM v CROSS JOIN c),
    a AS (SELECT vec_id, e, nrm, cid AS list_id FROM asgn WHERE rn = 1),
    qp AS (SELECT vec_id, e, nrm, cid AS probe_list FROM asgn
           WHERE rn <= 2 AND vec_id >= 8 AND vec_id < 16),
    cand AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id, x.list_id AS list_id,
                    graft_dot(q.e, x.e) / (q.nrm * x.nrm) AS cos
             FROM qp q
             JOIN a x ON x.list_id = q.probe_list AND x.vec_id != q.vec_id),
    live AS (SELECT c.* FROM cand c LEFT ANTI JOIN dead d ON c.neighbor_id = d.dead_id),
    nm AS (SELECT c.query_id, COUNT(*) AS n_masked
           FROM cand c JOIN dead d ON c.neighbor_id = d.dead_id GROUP BY c.query_id),
    top AS (SELECT query_id, neighbor_id, list_id, rnk, cos FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id) AS rnk
              FROM live) t WHERE rnk <= 3)
    SELECT t.query_id, t.neighbor_id, t.list_id, CAST(t.rnk AS BIGINT) AS rnk,
           ROUND(t.cos, 6) AS cos,
           CAST(COALESCE(nm.n_masked, 0) AS BIGINT) AS n_masked
    FROM top t LEFT JOIN nm ON nm.query_id = t.query_id
    ORDER BY t.query_id, t.rnk"""

  private val e22Duck = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    n AS (SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * e[i])), (x, y) -> x + y)) AS nrm
          FROM v),
    dead AS (SELECT vec_id AS dead_id FROM n WHERE vec_id % 5 = 2 AND vec_id >= 16),
    ret AS (SELECT * FROM n WHERE NOT EXISTS (SELECT 1 FROM dead d WHERE d.dead_id = n.vec_id)),
    c AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM n WHERE vec_id < 4),
    asgn AS (SELECT vec_id, e, nrm, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * ce[i])), (x, y) -> x + y) / (nrm * cnrm) DESC, cid) AS rn
             FROM ret CROSS JOIN c),
    a AS (SELECT vec_id, e, nrm, cid AS list_id FROM asgn WHERE rn = 1),
    qp AS (SELECT vec_id, e, nrm, cid AS probe_list FROM asgn
           WHERE rn <= 2 AND vec_id >= 8 AND vec_id < 16),
    live AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id, x.list_id AS list_id,
                    list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> q.e[i] * x.e[i])), (x, y) -> x + y) / (q.nrm * x.nrm) AS cos
             FROM qp q
             JOIN a x ON x.list_id = q.probe_list AND x.vec_id != q.vec_id),
    dasgn AS (SELECT vec_id, e, cid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * ce[i])), (x, y) -> x + y) / (nrm * cnrm) DESC, cid) AS rn
              FROM (SELECT n.* FROM n JOIN dead d ON d.dead_id = n.vec_id) dd CROSS JOIN c),
    da AS (SELECT vec_id, cid AS list_id FROM dasgn WHERE rn = 1),
    nm AS (SELECT q.vec_id AS query_id, COUNT(*) AS n_masked
           FROM qp q JOIN da x ON x.list_id = q.probe_list
           GROUP BY q.vec_id),
    top AS (SELECT query_id, neighbor_id, list_id, rnk, cos FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id) AS rnk
              FROM live) t WHERE rnk <= 3)
    SELECT t.query_id, t.neighbor_id, t.list_id, t.rnk::BIGINT AS rnk,
           ROUND(t.cos, 6) AS cos,
           COALESCE(nm.n_masked, 0)::BIGINT AS n_masked
    FROM top t LEFT JOIN nm ON nm.query_id = t.query_id
    ORDER BY t.query_id, t.rnk"""

  /** kNN-graph construction (e23): EVERY corpus vector gets its top-3
    * in-bucket neighbors — the all-corpus self-kNN graph that seeds
    * NN-Descent refinement, HNSW layer building, and graph-based
    * clustering (distinct from e02, where only a bounded query set
    * probes). Candidates come from the same seeded random-hyperplane
    * buckets as e02 (8 bits, seed 7 — at 100 TB, bits grow with log n
    * to hold bucket size constant), so the self-join is keyed by bucket
    * and never all-pairs; the per-node top-3 is a window over the
    * bucket-keyed shuffle. The report pins graph STRUCTURE three ways:
    * the out-degree histogram, an edge-weight checksum
    * (Σ floor(cos·1e6) per degree class — identical ordered-fold dots
    * cross-engine, so the floor is bit-stable), and the reciprocal-edge
    * count (edges whose reverse edge also made the other node's top-3 —
    * NN-Descent's convergence signal), found by joining the edge list
    * to itself on the swapped key, again never all-pairs. */
  private val e23Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm,
                      graft_bucketk(graft_vec(embedding), 8, 7) AS bucket FROM embeddings),
    pairs AS (SELECT a.vec_id AS src, b.vec_id AS dst,
                     graft_dot(a.e, b.e) / (a.nrm * b.nrm) AS cos
              FROM v a JOIN v b ON b.bucket = a.bucket AND b.vec_id != a.vec_id),
    knn AS (SELECT src, dst, cos FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
              FROM pairs) t WHERE rnk <= 3),
    recip AS (SELECT k1.src, COUNT(*) AS n_recip
              FROM knn k1 JOIN knn k2 ON k2.src = k1.dst AND k2.dst = k1.src
              GROUP BY k1.src),
    per_node AS (SELECT src, COUNT(*) AS degree,
                        SUM(CAST(FLOOR(cos * 1000000.0D) AS BIGINT)) AS wsum
                 FROM knn GROUP BY src)
    SELECT p.degree, COUNT(*) AS n_nodes,
           SUM(p.wsum) AS w_checksum,
           SUM(COALESCE(r.n_recip, CAST(0 AS BIGINT))) AS n_recip_edges
    FROM per_node p LEFT JOIN recip r ON r.src = p.src
    GROUP BY p.degree ORDER BY p.degree"""

  private val e23Duck = """
    WITH planes AS (
      SELECT j, list_transform(list_transform(list_transform(list_transform(
               range(0, 64), i -> ((7 * 1000003 + j * 4099 + i) % 2147483648 * 2654435761) % 2147483648),
               h -> xor(h, h >> 15)),
               h -> (h * 2246822519) % 2147483648),
               h -> (xor(h, h >> 13) - 1073741824)::DOUBLE) AS w
      FROM (SELECT unnest(range(0, 8)) AS j) js),
    ve AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    vb AS (SELECT vec_id, e,
                  SUM(CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
                        list_transform(range(1, len(e) + 1), i -> e[i] * w[i])), (x, y) -> x + y) > 0.0::DOUBLE
                      THEN (1::BIGINT << j) ELSE 0::BIGINT END)::BIGINT AS bucket
           FROM ve CROSS JOIN planes GROUP BY vec_id, e),
    v AS (SELECT vec_id, e, bucket,
                 sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * e[i])), (x, y) -> x + y)) AS nrm
          FROM vb),
    pairs AS (SELECT a.vec_id AS src, b.vec_id AS dst,
                     list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i])), (x, y) -> x + y)
                       / (a.nrm * b.nrm) AS cos
              FROM v a JOIN v b ON b.bucket = a.bucket AND b.vec_id != a.vec_id),
    knn AS (SELECT src, dst, cos FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
              FROM pairs) t WHERE rnk <= 3),
    recip AS (SELECT k1.src, COUNT(*) AS n_recip
              FROM knn k1 JOIN knn k2 ON k2.src = k1.dst AND k2.dst = k1.src
              GROUP BY k1.src),
    per_node AS (SELECT src, COUNT(*) AS degree,
                        SUM(FLOOR(cos * 1000000.0)::BIGINT) AS wsum
                 FROM knn GROUP BY src)
    SELECT p.degree::BIGINT AS degree, COUNT(*)::BIGINT AS n_nodes,
           SUM(p.wsum)::BIGINT AS w_checksum,
           SUM(COALESCE(r.n_recip, 0))::BIGINT AS n_recip_edges
    FROM per_node p LEFT JOIN recip r ON r.src = p.src
    GROUP BY p.degree ORDER BY p.degree"""

  /** kNN-graph recall gate (e24): e05's offline-eval discipline applied
    * to e23's graph — the LSH-bucketed kNN graph scored edge-by-edge
    * against the EXACT brute-force top-3 graph, per corpus label. The
    * exact side is the documented eval-scale bound (all-pairs over the
    * eval corpus — at production scale you'd sample query nodes, the
    * e01/e05 pattern); the LSH side is e23's keyed topology. Edges in
    * lists the buckets never co-locate stay invisible — per-label recall
    * quantifies exactly that loss, and a bucketing regression (the old
    * data-dependent bucket8 collapse) shows up as a recall cliff, not a
    * silent quality drop. */
  private val e24Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, label, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm,
                      graft_bucketk(graft_vec(embedding), 8, 7) AS bucket FROM embeddings),
    exact AS (SELECT src, dst, label FROM (
                SELECT a.vec_id AS src, b.vec_id AS dst, a.label AS label,
                       ROW_NUMBER() OVER (PARTITION BY a.vec_id
                         ORDER BY graft_dot(a.e, b.e) / (a.nrm * b.nrm) DESC, b.vec_id) AS r
                FROM v a JOIN v b ON b.vec_id != a.vec_id) t WHERE r <= 3),
    lsh AS (SELECT src, dst FROM (
              SELECT a.vec_id AS src, b.vec_id AS dst,
                     ROW_NUMBER() OVER (PARTITION BY a.vec_id
                       ORDER BY graft_dot(a.e, b.e) / (a.nrm * b.nrm) DESC, b.vec_id) AS r
              FROM v a JOIN v b ON b.bucket = a.bucket AND b.vec_id != a.vec_id) t WHERE r <= 3),
    j AS (SELECT e.label, CASE WHEN l.dst IS NOT NULL THEN 1 ELSE 0 END AS hit
          FROM exact e LEFT JOIN lsh l ON l.src = e.src AND l.dst = e.dst)
    SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_exact_edges,
           SUM(hit) AS n_recalled,
           ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6) AS recall
    FROM j GROUP BY label ORDER BY label"""

  private val e24Duck = """
    WITH planes AS (
      SELECT j, list_transform(list_transform(list_transform(list_transform(
               range(0, 64), i -> ((7 * 1000003 + j * 4099 + i) % 2147483648 * 2654435761) % 2147483648),
               h -> xor(h, h >> 15)),
               h -> (h * 2246822519) % 2147483648),
               h -> (xor(h, h >> 13) - 1073741824)::DOUBLE) AS w
      FROM (SELECT unnest(range(0, 8)) AS j) js),
    ve AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    vb AS (SELECT vec_id, label, e,
                  SUM(CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
                        list_transform(range(1, len(e) + 1), i -> e[i] * w[i])), (x, y) -> x + y) > 0.0::DOUBLE
                      THEN (1::BIGINT << j) ELSE 0::BIGINT END)::BIGINT AS bucket
           FROM ve CROSS JOIN planes GROUP BY vec_id, label, e),
    v AS (SELECT vec_id, label, e, bucket,
                 sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * e[i])), (x, y) -> x + y)) AS nrm
          FROM vb),
    exact AS (SELECT src, dst, label FROM (
                SELECT a.vec_id AS src, b.vec_id AS dst, a.label AS label,
                       ROW_NUMBER() OVER (PARTITION BY a.vec_id
                         ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i])), (x, y) -> x + y) / (a.nrm * b.nrm) DESC, b.vec_id) AS r
                FROM v a JOIN v b ON b.vec_id != a.vec_id) t WHERE r <= 3),
    lsh AS (SELECT src, dst FROM (
              SELECT a.vec_id AS src, b.vec_id AS dst,
                     ROW_NUMBER() OVER (PARTITION BY a.vec_id
                       ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i])), (x, y) -> x + y) / (a.nrm * b.nrm) DESC, b.vec_id) AS r
              FROM v a JOIN v b ON b.bucket = a.bucket AND b.vec_id != a.vec_id) t WHERE r <= 3),
    j AS (SELECT e.label, CASE WHEN l.dst IS NOT NULL THEN 1 ELSE 0 END AS hit
          FROM exact e LEFT JOIN lsh l ON l.src = e.src AND l.dst = e.dst)
    SELECT label::BIGINT AS label, COUNT(*)::BIGINT AS n_exact_edges,
           SUM(hit)::BIGINT AS n_recalled,
           ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6) AS recall
    FROM j GROUP BY label ORDER BY label"""

  /** Label-partitioned filtered ANN (e27): the index layout e15's
    * recall audit argues FOR — when queries always filter by a label,
    * partition the index BY the label (per-label coarse centroids, list
    * key = (label, centroid)) so the filter prunes lists instead of
    * post-filtering candidates: filtered recall loss from candidates of
    * the wrong label becomes structurally zero, and search cost is
    * bounded by the label's own lists. Centroids are each label's two
    * lowest-id vectors (the determinism trick per partition); queries
    * probe their own label's nearest list (nProbe = 1, so recall < 1
    * within the label is the honest quantization number, measured
    * against the exact within-label top-3). The per-tenant index
    * pattern: everything keys on (label, list). */
  private val e27Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, label, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
               FROM embeddings),
    c AS (SELECT label, vec_id AS cid, e AS ce, nrm AS cnrm FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn FROM v) t
          WHERE rn <= 2),
    asgn AS (SELECT v.vec_id, v.label, v.e, v.nrm, c.cid,
                    ROW_NUMBER() OVER (PARTITION BY v.vec_id
                      ORDER BY graft_dot(v.e, c.ce) / (v.nrm * c.cnrm) DESC, c.cid) AS rn
             FROM v JOIN c ON c.label = v.label),
    a AS (SELECT vec_id, label, e, nrm, cid AS list_id FROM asgn WHERE rn = 1),
    qp AS (SELECT vec_id AS query_id, label, e, nrm, cid AS probe_list FROM asgn
           WHERE rn = 1 AND vec_id >= 8 AND vec_id < 16),
    cand AS (SELECT q.query_id, x.vec_id AS neighbor_id,
                    graft_dot(q.e, x.e) / (q.nrm * x.nrm) AS cos
             FROM qp q JOIN a x ON x.label = q.label AND x.list_id = q.probe_list
                              AND x.vec_id != q.query_id),
    ann3 AS (SELECT query_id, neighbor_id FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rnk FROM cand) t WHERE rnk <= 3),
    ex3 AS (SELECT query_id, neighbor_id FROM (
              SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY graft_dot(q.e, x.e) / (q.nrm * x.nrm) DESC, x.vec_id) AS rnk
              FROM (SELECT * FROM v WHERE vec_id >= 8 AND vec_id < 16) q
              JOIN v x ON x.label = q.label AND x.vec_id != q.vec_id) t WHERE rnk <= 3),
    nc AS (SELECT query_id, COUNT(*) AS n_cand FROM cand GROUP BY query_id)
    SELECT e.query_id, COUNT(*) AS n_exact,
           SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS n_recalled,
           MAX(nc.n_cand) AS n_cand
    FROM ex3 e
    LEFT JOIN ann3 a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    JOIN nc ON nc.query_id = e.query_id
    GROUP BY e.query_id ORDER BY e.query_id"""

  private val e27Duck = """
    WITH v0 AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    v AS (SELECT vec_id, label, e,
                 sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * e[i])), (x, y) -> x + y)) AS nrm
          FROM v0),
    c AS (SELECT label, vec_id AS cid, e AS ce, nrm AS cnrm FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn FROM v) t
          WHERE rn <= 2),
    asgn AS (SELECT v.vec_id, v.label, v.e, v.nrm, c.cid,
                    ROW_NUMBER() OVER (PARTITION BY v.vec_id
                      ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(v.e) + 1), i -> v.e[i] * c.ce[i])), (x, y) -> x + y) / (v.nrm * c.cnrm) DESC, c.cid) AS rn
             FROM v JOIN c ON c.label = v.label),
    a AS (SELECT vec_id, label, e, nrm, cid AS list_id FROM asgn WHERE rn = 1),
    qp AS (SELECT vec_id AS query_id, label, e, nrm, cid AS probe_list FROM asgn
           WHERE rn = 1 AND vec_id >= 8 AND vec_id < 16),
    cand AS (SELECT q.query_id, x.vec_id AS neighbor_id,
                    list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> q.e[i] * x.e[i])), (x, y) -> x + y) / (q.nrm * x.nrm) AS cos
             FROM qp q JOIN a x ON x.label = q.label AND x.list_id = q.probe_list
                              AND x.vec_id != q.query_id),
    ann3 AS (SELECT query_id, neighbor_id FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rnk FROM cand) t WHERE rnk <= 3),
    ex3 AS (SELECT query_id, neighbor_id FROM (
              SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(q.e) + 1), i -> q.e[i] * x.e[i])), (x, y) -> x + y) / (q.nrm * x.nrm) DESC, x.vec_id) AS rnk
              FROM (SELECT * FROM v WHERE vec_id >= 8 AND vec_id < 16) q
              JOIN v x ON x.label = q.label AND x.vec_id != q.vec_id) t WHERE rnk <= 3),
    nc AS (SELECT query_id, COUNT(*) AS n_cand FROM cand GROUP BY query_id)
    SELECT e.query_id, COUNT(*)::BIGINT AS n_exact,
           SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_recalled,
           MAX(nc.n_cand)::BIGINT AS n_cand
    FROM ex3 e
    LEFT JOIN ann3 a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    JOIN nc ON nc.query_id = e.query_id
    GROUP BY e.query_id ORDER BY e.query_id"""

  /** Cross-crawl novelty (t42): how much genuinely NEW content does a
    * fresh crawl contribute — the dataset-refresh number next to t33's
    * incremental dedup. Docs split into crawl A (even ids) and crawl B
    * (odd ids); B's distinct 6-token shingles anti-join A's shingle
    * vocabulary, and per-source novelty = novel-shingle share. Both
    * sides are DISTINCT shingle sets before the join (never row-level),
    * the join keys on shingle content — the t31 overlap-matrix topology
    * pointed at the arrival direction. */
  private val t42Spark = """
    WITH a AS (SELECT DISTINCT ng FROM (
                 SELECT /*+ REPARTITION({{P}}) */ explode(graft_shingles(text, 6)) AS ng
                 FROM documents WHERE doc_id % 2 = 0) t),
    b AS (SELECT source, ng FROM (
            SELECT source, explode(graft_shingles(text, 6)) AS ng
            FROM documents WHERE doc_id % 2 = 1) t GROUP BY source, ng),
    nv AS (SELECT b.source, b.ng, CASE WHEN a.ng IS NULL THEN 1 ELSE 0 END AS novel
           FROM b LEFT JOIN a ON a.ng = b.ng)
    SELECT source, COUNT(*) AS n_shingles, SUM(novel) AS n_novel,
           ROUND(CAST(SUM(novel) AS DOUBLE) / COUNT(*), 6) AS novelty
    FROM nv GROUP BY source ORDER BY source"""

  private val t42Duck = """
    WITH sh AS (SELECT doc_id, source,
                       CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 6
                         THEN list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 6 + 2),
                                i -> array_to_string(array_slice(string_split_regex(trim(text), '\s+'), i, i + 5), ' '))
                         ELSE [] END AS ngs
                FROM documents),
    a AS (SELECT DISTINCT unnest(ngs) AS ng FROM sh WHERE doc_id % 2 = 0),
    b AS (SELECT source, unnest(ngs) AS ng FROM sh WHERE doc_id % 2 = 1),
    bd AS (SELECT source, ng FROM b GROUP BY source, ng),
    nv AS (SELECT bd.source, bd.ng, CASE WHEN a.ng IS NULL THEN 1 ELSE 0 END AS novel
           FROM bd LEFT JOIN a ON a.ng = bd.ng)
    SELECT source, COUNT(*)::BIGINT AS n_shingles, SUM(novel)::BIGINT AS n_novel,
           ROUND(CAST(SUM(novel) AS DOUBLE) / COUNT(*), 6) AS novelty
    FROM nv GROUP BY source ORDER BY source"""

  /** Matryoshka dimension-recall curve (e26): e11's truncated-prefix
    * retrieval swept over prefix widths 16 / 32 / 64 in ONE query — the
    * dimension analog of e18's nProbe curve. Per width: stage-1 ranks by
    * prefix L2, the prefix top-32 re-ranks by exact full-dim L2, and
    * recall@3 scores the result against the exact top-3 (the d = 64
    * rung IS exact retrieval, so its recall pins 1.0 as the curve's
    * anchor). The corpus scans once; the width explode multiplies only
    * the bounded query side. The output is the storage-vs-recall curve
    * an MRL deployment reads to pick its serving dimension. */
  private val e26Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e
               FROM embeddings),
    qv AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id >= 8 AND vec_id < 16),
    ex3 AS (SELECT query_id, neighbor_id FROM (
              SELECT qv.query_id, x.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY qv.query_id
                       ORDER BY graft_l2(qv.qe, x.e), x.vec_id) AS r
              FROM v x JOIN qv ON x.vec_id != qv.query_id) t WHERE r <= 3),
    qd AS (SELECT query_id, qe, d FROM qv LATERAL VIEW explode(array(16, 32, 64)) t AS d),
    pre AS (SELECT /*+ BROADCAST(qd) */ qd.query_id, qd.d, x.vec_id AS neighbor_id,
                   graft_l2(slice(qd.qe, 1, qd.d), slice(x.e, 1, qd.d)) AS pre_d
            FROM v x JOIN qd ON x.vec_id != qd.query_id),
    cand AS (SELECT query_id, d, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id, d ORDER BY pre_d, neighbor_id) AS arnk
             FROM pre),
    ref AS (SELECT c.query_id, c.d, c.neighbor_id, graft_l2(qv.qe, xv.e) AS full_d
            FROM cand c JOIN qv ON qv.query_id = c.query_id
                        JOIN v xv ON xv.vec_id = c.neighbor_id
            WHERE c.arnk <= 32),
    app3 AS (SELECT query_id, d, neighbor_id FROM (
               SELECT query_id, d, neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id, d
                        ORDER BY full_d, neighbor_id) AS rnk
               FROM ref) t WHERE rnk <= 3),
    hits AS (SELECT a.d, COUNT(*) AS n_hit
             FROM app3 a JOIN ex3 e ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
             GROUP BY a.d)
    SELECT CAST(d AS BIGINT) AS d, CAST(24 AS BIGINT) AS n_exact,
           n_hit, ROUND(CAST(n_hit AS DOUBLE) / 24.0D, 6) AS recall
    FROM hits ORDER BY d"""

  private val e26Duck = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    qv AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id >= 8 AND vec_id < 16),
    ex3 AS (SELECT query_id, neighbor_id FROM (
              SELECT qv.query_id, x.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY qv.query_id
                       ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(qv.qe) + 1), i -> (qv.qe[i] - x.e[i]) * (qv.qe[i] - x.e[i]))), (a, b) -> a + b), x.vec_id) AS r
              FROM v x JOIN qv ON x.vec_id != qv.query_id) t WHERE r <= 3),
    qd AS (SELECT query_id, qe, d FROM qv, (SELECT unnest([16, 32, 64]) AS d) ds),
    pre AS (SELECT qd.query_id, qd.d, x.vec_id AS neighbor_id,
                   list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, qd.d + 1), i -> (qd.qe[i] - x.e[i]) * (qd.qe[i] - x.e[i]))), (a, b) -> a + b) AS pre_d
            FROM v x JOIN qd ON x.vec_id != qd.query_id),
    cand AS (SELECT query_id, d, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id, d ORDER BY pre_d, neighbor_id) AS arnk
             FROM pre),
    ref AS (SELECT c.query_id, c.d, c.neighbor_id,
                   list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(qv.qe) + 1), i -> (qv.qe[i] - xv.e[i]) * (qv.qe[i] - xv.e[i]))), (a, b) -> a + b) AS full_d
            FROM cand c JOIN qv ON qv.query_id = c.query_id
                        JOIN v xv ON xv.vec_id = c.neighbor_id
            WHERE c.arnk <= 32),
    app3 AS (SELECT query_id, d, neighbor_id FROM (
               SELECT query_id, d, neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id, d
                        ORDER BY full_d, neighbor_id) AS rnk
               FROM ref) t WHERE rnk <= 3),
    hits AS (SELECT a.d, COUNT(*) AS n_hit
             FROM app3 a JOIN ex3 e ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
             GROUP BY a.d)
    SELECT d::BIGINT AS d, 24::BIGINT AS n_exact,
           n_hit::BIGINT AS n_hit, ROUND(CAST(n_hit AS DOUBLE) / 24.0, 6) AS recall
    FROM hits ORDER BY d"""

  /** Temperature-weighted mixture (t41): t17's fixed per-tier rates
    * replaced by LEARNED source weights w_s ∝ n_s^0.7 — the
    * multilingual-corpus temperature sampling (T = 0.7) that lifts
    * low-resource sources without letting the head dominate. Weights
    * floor to integer micro-units PER SOURCE (one pow() each — the g10
    * transcendental precedent; everything downstream is BIGINT), the
    * normalizer is an integer sum, and each doc keeps iff its
    * content-keyed hash coin lands under its source's permille — the
    * same retry-stable, RNG-free map-side decision as t17. Per-source
    * keep rates then DECREASE in corpus share, which the output's
    * permille column shows directly. */
  private val t41Spark = """
    WITH sc AS (SELECT /*+ REPARTITION({{P}}) */ source, COUNT(*) AS n FROM documents GROUP BY source),
    w AS (SELECT source, n, CAST(FLOOR(POW(CAST(n AS DOUBLE), 0.7D) * 1000000.0D) AS BIGINT) AS wgt FROM sc),
    norm AS (SELECT source, n, wgt, SUM(wgt) OVER () AS total_w FROM w),
    rate AS (SELECT source, n, (1000 * wgt) DIV total_w AS permille FROM norm),
    dec AS (SELECT d.doc_id, d.source, d.n_chars, r.permille,
                   CASE WHEN graft_hash(CAST(d.doc_id AS STRING) || ':temp') % 1000 < r.permille
                        THEN 1 ELSE 0 END AS keep
            FROM documents d JOIN rate r ON r.source = d.source)
    SELECT source, MAX(permille) AS permille, COUNT(*) AS n_docs,
           SUM(keep) AS n_kept,
           SUM(CASE WHEN keep = 1 THEN CAST(n_chars AS BIGINT) ELSE 0 END) AS kept_chars
    FROM dec GROUP BY source ORDER BY source"""

  private val t41Duck = """
    WITH sc AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    w AS (SELECT source, n, FLOOR(POW(n::DOUBLE, 0.7) * 1000000.0)::BIGINT AS wgt FROM sc),
    norm AS (SELECT source, n, wgt, SUM(wgt) OVER () AS total_w FROM w),
    rate AS (SELECT source, n, (1000 * wgt) // total_w AS permille FROM norm),
    dec AS (SELECT d.doc_id, d.source, d.n_chars, r.permille,
                   CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR || ':temp'), 1, 8))::BIGINT % 1000 < r.permille
                        THEN 1 ELSE 0 END AS keep
            FROM documents d JOIN rate r ON r.source = d.source)
    SELECT source, MAX(permille)::BIGINT AS permille, COUNT(*)::BIGINT AS n_docs,
           SUM(keep)::BIGINT AS n_kept,
           SUM(CASE WHEN keep = 1 THEN n_chars ELSE 0 END)::BIGINT AS kept_chars
    FROM dec GROUP BY source ORDER BY source"""

  /** Grid resampling (a08): downsample an irregular event stream onto a
    * regular 30-minute grid with hold-last semantics — the standard
    * time-series regularization in front of windowed models (a06
    * interpolates AT query points; a08 GENERATES the aligned grid and
    * carries the last observation onto it). Ticks are epoch-aligned
    * (k·1800 s covering each user's [min, max] span — map-side sequence
    * explode, no calendar join), and the sample at each tick is ONE
    * as-of backward join (the single-shuffle AsofJoin operator). Every
    * tick at or after a user's first reading must sample (n_sampled =
    * n_ticks pins the hold-last totality); the hold-duration sum pins
    * WHICH reading each tick held. */
  private def a08Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val grid = s.sql("""
      SELECT user_id, timestamp_micros(k * 1800000000) AS gts
      FROM (SELECT user_id,
                   CAST(CEIL(MIN(unix_micros(ts)) / 1800000000.0D) AS BIGINT) AS k0,
                   MAX(unix_micros(ts)) DIV 1800000000 AS k1
            FROM events GROUP BY user_id) b
      LATERAL VIEW explode(sequence(k0, k1)) t AS k
      WHERE k0 <= k1""")
    val r = s.sql("SELECT user_id, ts, value FROM events")
    graft.operators.AsofJoin.asof(grid, r, Seq("user_id"), "gts", "ts",
        Seq("value"), prefix = "r_")
      .createOrReplaceTempView("a08_grid")
    s.sql("""
      SELECT user_id, COUNT(*) AS n_ticks, COUNT(r_ts) AS n_sampled,
             CAST(COALESCE(ROUND(SUM(CAST(r_value AS DECIMAL(18,6))), 2), 0) AS DOUBLE) AS sampled_mass,
             COALESCE(SUM(unix_micros(gts) - unix_micros(r_ts)), CAST(0 AS BIGINT)) AS hold_us
      FROM a08_grid GROUP BY user_id ORDER BY user_id""")
  }

  private val a08Duck = """
    WITH b AS (SELECT user_id,
                      CEIL(MIN(epoch_us(ts)) / 1800000000.0)::BIGINT AS k0,
                      MAX(epoch_us(ts)) // 1800000000 AS k1
               FROM events GROUP BY user_id),
    grid AS (SELECT user_id, make_timestamp(k * 1800000000) AS gts
             FROM b, LATERAL (SELECT unnest(range(k0, k1 + 1)) AS k) t
             WHERE k0 <= k1),
    r AS (SELECT user_id, ts, value FROM events)
    SELECT g.user_id, COUNT(*)::BIGINT AS n_ticks, COUNT(r.ts)::BIGINT AS n_sampled,
           COALESCE(ROUND(SUM(CAST(r.value AS DECIMAL(18,6))), 2), 0)::DOUBLE AS sampled_mass,
           COALESCE(SUM(epoch_us(g.gts) - epoch_us(r.ts)), 0)::BIGINT AS hold_us
    FROM grid g ASOF LEFT JOIN r ON g.user_id = r.user_id AND g.gts >= r.ts
    GROUP BY g.user_id ORDER BY g.user_id"""

  /** Residual-encoded IVF-PQ (e25): the FAISS-default detail e09 omits —
    * PQ codes quantize the RESIDUAL x − c(list), not the raw vector, so
    * one shared codebook only has to cover the (much tighter) spread
    * around the centroids, and the query builds a distance table PER
    * PROBED LIST from its own residual against that list's centroid:
    * ||q − x||² = ||(q − c) − (x − c)||², so residual-ADC approximates
    * the same exact L2 the re-rank stage uses. Codebook entries are the
    * residuals of vectors 4-7 (the first-K determinism trick — vectors
    * 0-3 ARE the centroids, so their residuals are zero and would
    * degenerate the codebook). Topology is e09's: broadcast distance
    * tables into the ADC equi-join keyed on (probe_list, m, code),
    * bounded exact re-rank, never all-pairs. */
  private val e25Spark = """
    WITH v AS (SELECT /*+ REPARTITION({{P}}) */ vec_id, graft_vec(embedding) AS e,
                      sqrt(graft_dot(graft_vec(embedding), graft_vec(embedding))) AS nrm
               FROM embeddings),
    c AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM v WHERE vec_id < 4),
    asgn AS (SELECT vec_id, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY graft_dot(e, ce) / (nrm * cnrm) DESC, cid) AS rn
             FROM v CROSS JOIN c),
    a AS (SELECT s.vec_id, s.cid AS list_id, zip_with(v.e, c.ce, (x, y) -> x - y) AS r
          FROM asgn s JOIN v ON v.vec_id = s.vec_id JOIN c ON c.cid = s.cid
          WHERE s.rn = 1),
    rsub AS (SELECT vec_id, list_id, m, slice(r, m * 8 + 1, 8) AS sv
             FROM a LATERAL VIEW explode(sequence(0, 7)) t AS m),
    cb AS (SELECT m, vec_id AS kid, sv AS cv FROM rsub WHERE vec_id >= 4 AND vec_id < 8),
    enc AS (SELECT vec_id, m, kid AS code FROM (
              SELECT s.vec_id, s.m, k.kid,
                     ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY graft_l2(s.sv, k.cv), k.kid) AS rn
              FROM rsub s JOIN cb k ON k.m = s.m) t WHERE rn = 1),
    qp AS (SELECT vec_id, cid AS probe_list FROM asgn
           WHERE rn <= 2 AND vec_id >= 8 AND vec_id < 16),
    qres AS (SELECT q.vec_id AS query_id, q.probe_list,
                    zip_with(v.e, c.ce, (x, y) -> x - y) AS r
             FROM qp q JOIN v ON v.vec_id = q.vec_id JOIN c ON c.cid = q.probe_list),
    qsub AS (SELECT query_id, probe_list, m, slice(r, m * 8 + 1, 8) AS sv
             FROM qres LATERAL VIEW explode(sequence(0, 7)) t AS m),
    qd AS (SELECT s.query_id, s.probe_list, s.m, k.kid AS cid, graft_l2(s.sv, k.cv) AS dq
           FROM qsub s JOIN cb k ON k.m = s.m),
    pairs AS (SELECT q.vec_id AS query_id, q.probe_list AS list_id, x.vec_id AS neighbor_id
              FROM qp q JOIN a x ON x.list_id = q.probe_list AND x.vec_id != q.vec_id),
    adc AS (SELECT /*+ BROADCAST(d) */ p.query_id, p.neighbor_id, p.list_id,
                   MAX(CASE WHEN d.m = 0 THEN d.dq END) + MAX(CASE WHEN d.m = 1 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 2 THEN d.dq END) + MAX(CASE WHEN d.m = 3 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 4 THEN d.dq END) + MAX(CASE WHEN d.m = 5 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 6 THEN d.dq END) + MAX(CASE WHEN d.m = 7 THEN d.dq END) AS adc_d
            FROM pairs p
            JOIN enc x ON x.vec_id = p.neighbor_id
            JOIN qd d ON d.query_id = p.query_id AND d.probe_list = p.list_id
                     AND d.m = x.m AND d.cid = x.code
            GROUP BY p.query_id, p.neighbor_id, p.list_id),
    cand AS (SELECT query_id, neighbor_id, list_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d, neighbor_id) AS arnk
             FROM adc),
    ref AS (SELECT c2.query_id, c2.neighbor_id, c2.list_id, graft_l2(qv.e, xv.e) AS exact_d
            FROM cand c2 JOIN v qv ON qv.vec_id = c2.query_id
                         JOIN v xv ON xv.vec_id = c2.neighbor_id
            WHERE c2.arnk <= 16)
    SELECT query_id, neighbor_id, CAST(list_id AS BIGINT) AS list_id,
           CAST(rnk AS BIGINT) AS rnk, ROUND(exact_d, 6) AS exact_d
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY exact_d, neighbor_id) AS rnk
          FROM ref) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  private val e25Duck = """
    WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    v AS (SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * e[i])), (x, y) -> x + y)) AS nrm
          FROM v0),
    c AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM v WHERE vec_id < 4),
    asgn AS (SELECT vec_id, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e) + 1), i -> e[i] * ce[i])), (x, y) -> x + y) / (nrm * cnrm) DESC, cid) AS rn
             FROM v CROSS JOIN c),
    a AS (SELECT s.vec_id, s.cid AS list_id,
                 list_transform(range(1, len(v.e) + 1), i -> v.e[i] - c.ce[i]) AS r
          FROM asgn s JOIN v ON v.vec_id = s.vec_id JOIN c ON c.cid = s.cid
          WHERE s.rn = 1),
    rsub AS (SELECT vec_id, list_id, m, array_slice(r, m * 8 + 1, m * 8 + 8) AS sv
             FROM a, (SELECT unnest(range(0, 8)) AS m) ms),
    cb AS (SELECT m, vec_id AS kid, sv AS cv FROM rsub WHERE vec_id >= 4 AND vec_id < 8),
    enc AS (SELECT vec_id, m, kid AS code FROM (
              SELECT s.vec_id, s.m, k.kid,
                     ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(s.sv) + 1), i -> (s.sv[i] - k.cv[i]) * (s.sv[i] - k.cv[i]))), (x, y) -> x + y), k.kid) AS rn
              FROM rsub s JOIN cb k ON k.m = s.m) t WHERE rn = 1),
    qp AS (SELECT vec_id, cid AS probe_list FROM asgn
           WHERE rn <= 2 AND vec_id >= 8 AND vec_id < 16),
    qres AS (SELECT q.vec_id AS query_id, q.probe_list,
                    list_transform(range(1, len(v.e) + 1), i -> v.e[i] - c.ce[i]) AS r
             FROM qp q JOIN v ON v.vec_id = q.vec_id JOIN c ON c.cid = q.probe_list),
    qsub AS (SELECT query_id, probe_list, m, array_slice(r, m * 8 + 1, m * 8 + 8) AS sv
             FROM qres, (SELECT unnest(range(0, 8)) AS m) ms),
    qd AS (SELECT s.query_id, s.probe_list, s.m, k.kid AS cid,
                  list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(s.sv) + 1), i -> (s.sv[i] - k.cv[i]) * (s.sv[i] - k.cv[i]))), (x, y) -> x + y) AS dq
           FROM qsub s JOIN cb k ON k.m = s.m),
    pairs AS (SELECT q.vec_id AS query_id, q.probe_list AS list_id, x.vec_id AS neighbor_id
              FROM qp q JOIN a x ON x.list_id = q.probe_list AND x.vec_id != q.vec_id),
    adc AS (SELECT p.query_id, p.neighbor_id, p.list_id,
                   MAX(CASE WHEN d.m = 0 THEN d.dq END) + MAX(CASE WHEN d.m = 1 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 2 THEN d.dq END) + MAX(CASE WHEN d.m = 3 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 4 THEN d.dq END) + MAX(CASE WHEN d.m = 5 THEN d.dq END)
                 + MAX(CASE WHEN d.m = 6 THEN d.dq END) + MAX(CASE WHEN d.m = 7 THEN d.dq END) AS adc_d
            FROM pairs p
            JOIN enc x ON x.vec_id = p.neighbor_id
            JOIN qd d ON d.query_id = p.query_id AND d.probe_list = p.list_id
                     AND d.m = x.m AND d.cid = x.code
            GROUP BY p.query_id, p.neighbor_id, p.list_id),
    cand AS (SELECT query_id, neighbor_id, list_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d, neighbor_id) AS arnk
             FROM adc),
    ref AS (SELECT c2.query_id, c2.neighbor_id, c2.list_id,
                   list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(qv.e) + 1), i -> (qv.e[i] - xv.e[i]) * (qv.e[i] - xv.e[i]))), (x, y) -> x + y) AS exact_d
            FROM cand c2 JOIN v qv ON qv.vec_id = c2.query_id
                         JOIN v xv ON xv.vec_id = c2.neighbor_id
            WHERE c2.arnk <= 16)
    SELECT query_id, neighbor_id, list_id::BIGINT AS list_id,
           rnk::BIGINT AS rnk, ROUND(exact_d, 6) AS exact_d
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY exact_d, neighbor_id) AS rnk
          FROM ref) t
    WHERE rnk <= 3 ORDER BY query_id, rnk"""

  /** Tile-pyramid rollup (g68): the standard pyramid BUILD — the finest
    * level (z6) aggregates from points ONCE, then every coarser level
    * derives from the level below by integer halving (parent = child
    * DIV 2), never rescanning the corpus. That works because the tile
    * fractions are dyadic: floor(f·2^z) DIV 2 = floor(f·2^(z−1))
    * EXACTLY, for both the linear lon fraction and the mercator lat
    * fraction. The oracle computes every level DIRECTLY from the points
    * with the z-level formulas, so a broken halving (or a non-dyadic
    * cell function) hash-mismatches; the per-level tile-id checksum pins
    * WHICH tiles exist, not just how many. At 100 TB: one corpus scan +
    * log2(zmax) tiny keyed aggs replaces zmax corpus scans. */
  private def g68Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    // the finest level materializes ONCE (a CTE form would inline it into
    // every union branch — 5 corpus scans and an O(z^2) exchange chain,
    // caught by PipelinePlanSpec); each coarser level is a tiny keyed agg
    // over the level below, the actual pyramid-build topology
    var level = s.sql("""
      SELECT tx, ty, COUNT(*) AS n FROM (
        SELECT /*+ REPARTITION(64) */
               ST_TileX(CAST(c_custkey % 360 - 180 AS DOUBLE), 6) AS tx,
               ST_TileY(CAST((c_custkey * 7) % 140 - 70 AS DOUBLE), 6) AS ty
        FROM customer) p
      GROUP BY tx, ty""").localCheckpoint()
    val levels = scala.collection.mutable.ArrayBuffer((6, level))
    for (z <- 5 to 2 by -1) {
      level.createOrReplaceTempView("g68_prev")
      level = s.sql("""
        SELECT tx DIV 2 AS tx, ty DIV 2 AS ty, SUM(n) AS n
        FROM g68_prev GROUP BY tx DIV 2, ty DIV 2""").localCheckpoint()
      levels += ((z, level))
    }
    levels.map { case (z, df) =>
      df.selectExpr(s"CAST($z AS BIGINT) AS z", "tx", "ty", "n")
    }.reduce(_ unionAll _).createOrReplaceTempView("g68_pyr")
    s.sql("""
      SELECT z, COUNT(*) AS n_tiles, SUM(n) AS total_pts,
             MAX(n) AS max_tile, SUM(tx * 4096 + ty) AS tile_id_checksum
      FROM g68_pyr GROUP BY z ORDER BY z""")
  }

  private val g68Duck = """
    WITH p AS (SELECT c_custkey,
                      (c_custkey % 360 - 180)::DOUBLE AS lon,
                      ((c_custkey * 7) % 140 - 70)::DOUBLE AS lat
               FROM customer),
    t AS (SELECT z,
                 LEAST(GREATEST(floor((lon + 180.0) / 360.0 * (1 << z)), 0), (1 << z) - 1)::BIGINT AS tx,
                 LEAST(GREATEST(floor((1.0 - ln(tan(lat * pi() / 180.0) + 1.0 / cos(lat * pi() / 180.0)) / pi()) / 2.0 * (1 << z)), 0), (1 << z) - 1)::BIGINT AS ty
          FROM p CROSS JOIN (SELECT unnest([2, 3, 4, 5, 6]) AS z) zz),
    g AS (SELECT z, tx, ty, COUNT(*) AS n FROM t GROUP BY z, tx, ty)
    SELECT z::BIGINT AS z, COUNT(*)::BIGINT AS n_tiles, SUM(n)::BIGINT AS total_pts,
           MAX(n)::BIGINT AS max_tile, SUM(tx * 4096 + ty)::BIGINT AS tile_id_checksum
    FROM g GROUP BY z ORDER BY z"""

  /** Per-language token entropy (t40): Shannon entropy of each
    * language's unigram distribution — the corpus-diversity number
    * quoted next to token counts in every dataset card (a collapsed,
    * template-heavy corpus shows it immediately). The only
    * transcendental is ln(count) per DISTINCT TOKEN (vocabulary-bounded,
    * the g10 cross-engine precedent), and every per-token term is
    * floored to nano-nats BEFORE the sum — so the aggregate is a BIGINT
    * sum of identical integers, order-independent, immune to the
    * last-ulp drift a raw Σ −p·ln p would accumulate across a
    * nondeterministic reduce. H = ln N − (Σ c·ln c)/N decomposes so
    * each term needs only its own token's count. Two keyed aggregates
    * (token counts, then per-lang fold) — both vocabulary-bounded. */
  private val t40Spark = """
    WITH tok AS (SELECT /*+ REPARTITION({{P}}) */ lang, w
                 FROM documents LATERAL VIEW explode(split(text, ' ')) t AS w),
    tc AS (SELECT lang, w, COUNT(*) AS c FROM tok GROUP BY lang, w),
    agg AS (SELECT lang, COUNT(*) AS vocab, SUM(c) AS n_tokens,
                   SUM(CAST(FLOOR(c * ln(CAST(c AS DOUBLE)) * 1000000000.0D) AS BIGINT)) AS clogc_nano
            FROM tc GROUP BY lang)
    SELECT lang, vocab, n_tokens,
           CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE)) * 1000000000.0D) AS BIGINT) AS logn_nano,
           clogc_nano,
           ROUND(ln(CAST(n_tokens AS DOUBLE))
                 - CAST(clogc_nano AS DOUBLE) / 1000000000.0D / CAST(n_tokens AS DOUBLE), 6) AS entropy_nats
    FROM agg ORDER BY lang"""

  private val t40Duck = """
    WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w
                 FROM documents),
    tc AS (SELECT lang, w, COUNT(*) AS c FROM tok GROUP BY lang, w),
    agg AS (SELECT lang, COUNT(*) AS vocab, SUM(c) AS n_tokens,
                   SUM(FLOOR(c * ln(c::DOUBLE) * 1000000000.0)::BIGINT) AS clogc_nano
            FROM tc GROUP BY lang)
    SELECT lang, vocab::BIGINT AS vocab, n_tokens::BIGINT AS n_tokens,
           FLOOR(ln(n_tokens::DOUBLE) * 1000000000.0)::BIGINT AS logn_nano,
           clogc_nano::BIGINT AS clogc_nano,
           ROUND(ln(n_tokens::DOUBLE)
                 - CAST(clogc_nano AS DOUBLE) / 1000000000.0 / CAST(n_tokens AS DOUBLE), 6) AS entropy_nats
    FROM agg ORDER BY lang"""

  /** Funnel analysis (q20): the product-analytics staple — how many
    * users progress view → click → purchase IN ORDER (each stage's
    * earliest event must precede the next stage's). Stage times come
    * from ONE conditional aggregate per user (no joins, no self-union);
    * the funnel test is plain timestamp comparison on the aggregated
    * row. Event-time ties break toward progression (<=), pinned by the
    * oracle. One user-keyed shuffle; output is the four funnel depths. */
  private val q20Spark = """
    WITH stages AS (SELECT /*+ REPARTITION({{P}}) */ user_id,
                           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                           MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
                    FROM events GROUP BY user_id),
    f AS (SELECT user_id,
                 CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS s1,
                 CASE WHEN t_view IS NOT NULL AND t_click >= t_view THEN 1 ELSE 0 END AS s2,
                 CASE WHEN t_view IS NOT NULL AND t_click >= t_view
                       AND t_buy >= t_click THEN 1 ELSE 0 END AS s3
          FROM stages)
    SELECT COUNT(*) AS n_users, SUM(s1) AS reached_view,
           SUM(s2) AS reached_click, SUM(s3) AS reached_buy,
           ROUND(CAST(SUM(s3) AS DOUBLE) / COUNT(*), 6) AS conversion
    FROM f"""

  private val q20Duck = """
    WITH stages AS (SELECT user_id,
                           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                           MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
                    FROM events GROUP BY user_id),
    f AS (SELECT user_id,
                 CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS s1,
                 CASE WHEN t_view IS NOT NULL AND t_click >= t_view THEN 1 ELSE 0 END AS s2,
                 CASE WHEN t_view IS NOT NULL AND t_click >= t_view
                       AND t_buy >= t_click THEN 1 ELSE 0 END AS s3
          FROM stages)
    SELECT COUNT(*)::BIGINT AS n_users, SUM(s1)::BIGINT AS reached_view,
           SUM(s2)::BIGINT AS reached_click, SUM(s3)::BIGINT AS reached_buy,
           ROUND(CAST(SUM(s3) AS DOUBLE) / COUNT(*), 6) AS conversion
    FROM f"""

  /** Polygon rasterization / supercoverage (g69): the zonal-statistics
    * primitive — which unit grid cells does each polygon touch. Cells
    * come from the polygon's own BBOX (candidates ∝ polygon area, never
    * the global grid — the 100 TB shape: explode is map-side per
    * polygon, no join against a world-sized cell table), then the exact
    * `ST_Intersects(cell, poly)` test keeps touched cells. On
    * right triangles (0,0)-(a,0)-(0,b) with integer legs the touched
    * set is closed-form — a closed cell with lower-left corner (i, j)
    * meets the closed triangle iff b·i + a·j <= a·b (the LL corner
    * minimizes the hypotenuse form over the cell; leg overruns fail the
    * inequality automatically) — so the oracle replays the exact count
    * per (a, b) with integer arithmetic, pinning JTS's closed-boundary
    * intersects semantics, corner-touch cases included. */
  private val g69Spark = """
    WITH tri AS (SELECT /*+ REPARTITION({{P}}) */ p_partkey,
                        2 + p_partkey % 6 AS a, 1 + p_partkey % 5 AS b
                 FROM part),
    cells AS (SELECT p_partkey, a, b, i, j
              FROM tri
              LATERAL VIEW explode(sequence(0, a)) ti AS i
              LATERAL VIEW explode(sequence(0, b)) tj AS j),
    hit AS (SELECT p_partkey, a, b, i, j
            FROM cells
            WHERE ST_Intersects(
                    ST_MakeEnvelope(CAST(i AS DOUBLE), CAST(j AS DOUBLE),
                                    CAST(i + 1 AS DOUBLE), CAST(j + 1 AS DOUBLE)),
                    ST_GeomFromText(CONCAT('POLYGON ((0 0, ', CAST(a AS STRING),
                      ' 0, 0 ', CAST(b AS STRING), ', 0 0))')))),
    per AS (SELECT p_partkey, a, b, COUNT(*) AS covered FROM hit GROUP BY p_partkey, a, b)
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           COUNT(*) AS n_polys, MIN(covered) AS min_cov, MAX(covered) AS max_cov,
           SUM(covered) AS total_cells
    FROM per GROUP BY a, b ORDER BY a, b"""

  private val g69Duck = """
    WITH tri AS (SELECT p_partkey, 2 + p_partkey % 6 AS a, 1 + p_partkey % 5 AS b FROM part),
    cells AS (SELECT p_partkey, a, b, i, j
              FROM tri,
              LATERAL (SELECT unnest(range(0, a + 1)) AS i) ti,
              LATERAL (SELECT unnest(range(0, b + 1)) AS j) tj),
    hit AS (SELECT p_partkey, a, b FROM cells WHERE b * i + a * j <= a * b),
    per AS (SELECT p_partkey, a, b, COUNT(*) AS covered FROM hit GROUP BY p_partkey, a, b)
    SELECT a::BIGINT AS a, b::BIGINT AS b,
           COUNT(*)::BIGINT AS n_polys, MIN(covered)::BIGINT AS min_cov,
           MAX(covered)::BIGINT AS max_cov, SUM(covered)::BIGINT AS total_cells
    FROM per GROUP BY a, b ORDER BY a, b"""

  /** Hamming-banded perceptual near-dup (m14): the near-duplicate path
    * m06's exact-hash equi-join can't take — the 64-bit phash splits
    * into 4 × 16-bit bands (t07's minhash-band pattern on image bits),
    * candidates share at least one band, and the exact Hamming distance
    * confirms at <= 6 bits. A pair differing in <= 6 scattered bits
    * must keep at least one of 4 bands intact (pigeonhole: 6 < 4·2), so
    * band recall of the near set is GUARANTEED here, not probabilistic —
    * the constructed seed/seed+256 twins (hamming 0) all surface. Keyed
    * band join, never all-pairs; hamming runs only on the bounded
    * candidate set. */
  private val m14Spark = """
    WITH im AS (SELECT /*+ REPARTITION({{P}}) */ doc_id,
                       graft_media_phash(graft_media_png(doc_id)) AS ph
                FROM documents),
    bands AS (SELECT doc_id, b, substring(ph, b * 16 + 1, 16) AS bkey
              FROM im LATERAL VIEW explode(sequence(0, 3)) t AS b),
    cand AS (SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
             FROM bands x JOIN bands y ON y.b = x.b AND y.bkey = x.bkey AND y.doc_id > x.doc_id),
    iw AS (SELECT doc_id,
                  CAST(conv(substring(ph, 1, 32), 2, 10) AS BIGINT) AS hi,
                  CAST(conv(substring(ph, 33, 32), 2, 10) AS BIGINT) AS lo
           FROM im),
    h AS (SELECT c.i, c.j,
                 bit_count(pi.hi ^ pj.hi) + bit_count(pi.lo ^ pj.lo) AS ham
          FROM cand c JOIN iw pi ON pi.doc_id = c.i JOIN iw pj ON pj.doc_id = c.j)
    SELECT COUNT(*) AS n_cand,
           SUM(CASE WHEN ham = 0 THEN 1 ELSE 0 END) AS n_exact,
           SUM(CASE WHEN ham <= 6 THEN 1 ELSE 0 END) AS n_near,
           SUM(CASE WHEN j = i + 256 THEN 1 ELSE 0 END) AS n_twins,
           SUM(CAST(ham AS BIGINT)) AS ham_mass
    FROM h"""

  private val m14Duck = """
    WITH m AS (SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id // 16) % 16 AS h
               FROM documents),
    r AS (SELECT doc_id, list_transform(range(64),
            i -> (doc_id * 31 + ((((i // 8) * h) // 8) * w + ((i % 8) * w) // 8) * 7) % 256) AS rp
          FROM m),
    t AS (SELECT doc_id, rp, list_sum(rp) AS sm FROM r),
    pc AS (SELECT doc_id,
                  list_reduce(list_transform(range(64),
                    i -> CASE WHEN rp[i + 1] * 64 > sm THEN '1' ELSE '0' END), (a, b) -> a || b) AS ph
           FROM t),
    bands AS (SELECT doc_id, b, substr(ph, b * 16 + 1, 16) AS bkey
              FROM pc, (SELECT unnest(range(0, 4)) AS b) bs),
    cand AS (SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
             FROM bands x JOIN bands y ON y.b = x.b AND y.bkey = x.bkey AND y.doc_id > x.doc_id),
    hm AS (SELECT c.i, c.j,
                  list_sum(list_transform(range(1, 65),
                    k -> CASE WHEN substr(pi.ph, k, 1) = substr(pj.ph, k, 1) THEN 0 ELSE 1 END)) AS ham
           FROM cand c JOIN pc pi ON pi.doc_id = c.i JOIN pc pj ON pj.doc_id = c.j)
    SELECT COUNT(*)::BIGINT AS n_cand,
           SUM(CASE WHEN ham = 0 THEN 1 ELSE 0 END)::BIGINT AS n_exact,
           SUM(CASE WHEN ham <= 6 THEN 1 ELSE 0 END)::BIGINT AS n_near,
           SUM(CASE WHEN j = i + 256 THEN 1 ELSE 0 END)::BIGINT AS n_twins,
           SUM(ham)::BIGINT AS ham_mass
    FROM hm"""

  /** Augmentation geometry audit (m12): every corpus PNG decodes through
    * the real codec and runs the three training-time geometric
    * augmentations (identity, horizontal flip, rotate-90°) —
    * `graft_media_aug` returns a POSITION-WEIGHTED checksum of the
    * augmented raster, so a transposed axis, off-by-one mirror, or wrong
    * rotation direction changes the value (a plain pixel sum would pass
    * all of them). The oracle recomputes each checksum from the
    * closed-form raster with the transformed coordinates. Map-side
    * kernels, 3-key report. */
  private val m12Spark = """
    WITH a AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, mode,
                      graft_media_aug(graft_media_png(doc_id), mode) AS cs
               FROM documents LATERAL VIEW explode(array(0, 1, 2)) t AS mode)
    SELECT CAST(mode AS BIGINT) AS mode, COUNT(*) AS n,
           SUM(cs) AS total_cs, MIN(cs) AS min_cs, MAX(cs) AS max_cs
    FROM a GROUP BY mode ORDER BY mode"""

  private val m12Duck = """
    WITH m AS (SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id // 16) % 16 AS h
               FROM documents),
    px AS (SELECT doc_id, w, h, i % w AS x, i // w AS y,
                  (doc_id * 31 + i * 7) % 256 AS v
           FROM m CROSS JOIN LATERAL (SELECT unnest(range(w * h)) AS i) t),
    cs AS (SELECT doc_id, 0 AS mode, SUM(v * (1 + x + 1000 * y)) AS cs FROM px GROUP BY doc_id
           UNION ALL
           SELECT doc_id, 1, SUM(v * (1 + (w - 1 - x) + 1000 * y)) FROM px GROUP BY doc_id
           UNION ALL
           SELECT doc_id, 2, SUM(v * (1 + (h - 1 - y) + 1000 * x)) FROM px GROUP BY doc_id)
    SELECT mode::BIGINT AS mode, COUNT(*)::BIGINT AS n,
           SUM(cs)::BIGINT AS total_cs, MIN(cs)::BIGINT AS min_cs, MAX(cs)::BIGINT AS max_cs
    FROM cs GROUP BY mode ORDER BY mode"""

  /** Sample-rate conversion (m13): every corpus WAV decodes through the
    * REAL codec, decimates 2:1 (each output sample = floor-average of a
    * consecutive input pair — Math.floorDiv, integer-exact), and
    * RE-ENCODES through the real WAVE writer at 4 kHz; the header probe
    * then re-parses the new container. Gates ride three layers: the
    * container (rate and frame count halve; total bytes pin the
    * canonical 44-byte RIFF header + 2·128 payload per file), the
    * decimation math (peak/sum/sum-sq of the averaged signal, replayed
    * closed-form by the oracle), and the codec roundtrip itself (stats
    * come from re-DECODING the re-encoded bytes). The resample chain is
    * per-row map-side; one bounded report agg. */
  private val m13Spark = """
    WITH a AS (SELECT /*+ REPARTITION({{P}}) */ doc_id,
                      graft_audio_resample(graft_audio_wav(doc_id), 2) AS res
               FROM documents),
    d AS (SELECT doc_id, graft_audio_meta(res) AS m, graft_audio_stats(res) AS s,
                 length(res) AS nbytes
          FROM a)
    SELECT CAST(m.rate AS BIGINT) AS rate, CAST(m.frames AS BIGINT) AS frames,
           COUNT(*) AS n_files, SUM(s.n_samples) AS total_samples,
           CAST(MAX(s.peak_abs) AS BIGINT) AS max_peak,
           SUM(s.sum_abs) AS total_abs, SUM(s.sum_sq) AS total_sq,
           SUM(nbytes) AS total_bytes
    FROM d GROUP BY 1, 2 ORDER BY 1, 2"""

  private val m13Duck = """
    WITH s AS (SELECT doc_id, j,
                      floor((((doc_id * 31 + (2 * j) * (2 * j)) % 2000 - 1000)
                           + ((doc_id * 31 + (2 * j + 1) * (2 * j + 1)) % 2000 - 1000)) / 2.0)::BIGINT AS smp
               FROM documents CROSS JOIN (SELECT unnest(range(0, 128)) AS j) t),
    st AS (SELECT doc_id, COUNT(*) AS n, MAX(abs(smp)) AS peak,
                  SUM(abs(smp)) AS sum_abs, SUM(smp * smp) AS sum_sq
           FROM s GROUP BY doc_id)
    SELECT 4000::BIGINT AS rate, 128::BIGINT AS frames, COUNT(*)::BIGINT AS n_files,
           SUM(n)::BIGINT AS total_samples, MAX(peak)::BIGINT AS max_peak,
           SUM(sum_abs)::BIGINT AS total_abs, SUM(sum_sq)::BIGINT AS total_sq,
           (COUNT(*) * 300)::BIGINT AS total_bytes
    FROM st"""

  /** Cluster cards (t37): the human-facing artifact on top of the dedup
    * machinery — near-dup clusters (t21's deterministic component
    * structure) each labeled with their most DISTINCTIVE token, scored by
    * exact tf-in-cluster / df-in-corpus (t24's transcendental-free TF-IDF
    * stand-in). "Cluster 17: 4 docs, keyword 'merge'" is what a curation
    * UI renders per dup group. Topology: components from the iterative
    * min-label operator, token stats are (component, token)- and
    * token-keyed shuffles, label pick is a per-component window. */
  private def t37Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    val edges = s.sql("""
      SELECT d1.doc_id AS src, d2.doc_id AS dst
      FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
      WHERE d1.doc_id % 5 != 4 AND d1.doc_id % 3 != 1""")
    graft.operators.ConnectedComponents.run(edges, "src", "dst")
      .createOrReplaceTempView("t37_comps")
    s.sql("""
      WITH c AS (SELECT d.doc_id, COALESCE(tc.component, d.doc_id) AS component
                 FROM documents d LEFT JOIN t37_comps tc ON tc.id = d.doc_id),
      tok AS (SELECT /*+ REPARTITION({{P}}) */ c.component, d.doc_id, t.tok
              FROM documents d JOIN c ON c.doc_id = d.doc_id
              LATERAL VIEW explode(graft_tokens(d.text)) t AS tok),
      df AS (SELECT tok, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM tok) dt
             GROUP BY tok),
      tf AS (SELECT component, tok, COUNT(*) AS tf FROM tok GROUP BY component, tok),
      lab AS (SELECT component, tok, tf, df, rn FROM (
                SELECT tf.component, tf.tok, tf.tf, df.df,
                       ROW_NUMBER() OVER (PARTITION BY tf.component
                         ORDER BY CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) DESC, tf.tok) AS rn
                FROM tf JOIN df ON df.tok = tf.tok) t WHERE rn = 1),
      sz AS (SELECT component, COUNT(*) AS csize FROM c GROUP BY component)
      SELECT CAST(sz.component AS BIGINT) AS component, sz.csize,
             lab.tok AS label, lab.tf, lab.df,
             ROUND(CAST(lab.tf AS DOUBLE) / CAST(lab.df AS DOUBLE), 6) AS score
      FROM sz JOIN lab ON lab.component = sz.component
      ORDER BY sz.csize DESC, component LIMIT 10""".replace(
        "{{P}}", s.sparkContext.defaultParallelism.toString))
  }

  private val t37Duck = """
    WITH RECURSIVE und AS (
      SELECT d1.doc_id AS a, d2.doc_id AS b
      FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
      WHERE d1.doc_id % 5 != 4 AND d1.doc_id % 3 != 1
      UNION ALL
      SELECT d2.doc_id, d1.doc_id
      FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
      WHERE d1.doc_id % 5 != 4 AND d1.doc_id % 3 != 1),
    reach(id, r) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.a, reach.r FROM und u JOIN reach ON reach.id = u.b),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    c AS (SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS component
          FROM documents d LEFT JOIN comp ON comp.id = d.doc_id),
    tok AS (SELECT c.component, d.doc_id, t.tok
            FROM documents d JOIN c ON c.doc_id = d.doc_id
            CROSS JOIN LATERAL (SELECT unnest(string_split_regex(trim(d.text), '\s+')) AS tok) t),
    df AS (SELECT tok, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM tok) dt
           GROUP BY tok),
    tf AS (SELECT component, tok, COUNT(*) AS tf FROM tok GROUP BY component, tok),
    lab AS (SELECT component, tok, tf, df, rn FROM (
              SELECT tf.component, tf.tok, tf.tf, df.df,
                     ROW_NUMBER() OVER (PARTITION BY tf.component
                       ORDER BY tf.tf::DOUBLE / df.df::DOUBLE DESC, tf.tok) AS rn
              FROM tf JOIN df ON df.tok = tf.tok) t WHERE rn = 1),
    sz AS (SELECT component, COUNT(*) AS csize FROM c GROUP BY component)
    SELECT sz.component::BIGINT AS component, sz.csize::BIGINT AS csize,
           lab.tok AS label, lab.tf::BIGINT AS tf, lab.df::BIGINT AS df,
           ROUND(lab.tf::DOUBLE / lab.df::DOUBLE, 6) AS score
    FROM sz JOIN lab ON lab.component = sz.component
    ORDER BY sz.csize DESC, component LIMIT 10"""

  /** Forward gap-fill (q15): sensor-style hole plugging — every third
    * reading is nulled and LAST_VALUE … IGNORE NULLS over the per-user
    * event-time order carries the previous observation forward (the
    * SQL face of what AsofJoin does between tables, within one). Sums
    * ride DECIMAL so filled mass is exact; the leading-null count pins
    * the frame semantics (nothing to carry before the first reading). */
  private val q15Spark = """
    WITH r AS (SELECT /*+ REPARTITION({{P}}) */ user_id, ts, event_id,
                      IF(event_id % 3 = 0, CAST(NULL AS DOUBLE), value) AS v
               FROM events),
    f AS (SELECT user_id, ts, event_id, v,
                 last_value(v) IGNORE NULLS OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
          FROM r)
    SELECT user_id, COUNT(*) AS n,
           COUNT(v) AS n_observed,
           COUNT(filled) AS n_after_fill,
           CAST(COALESCE(ROUND(SUM(CAST(filled AS DECIMAL(18,6))), 2), 0) AS DOUBLE) AS filled_mass
    FROM f GROUP BY user_id ORDER BY user_id"""

  private val q15Duck = """
    WITH r AS (SELECT user_id, ts, event_id,
                      CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
               FROM events),
    f AS (SELECT user_id, ts, event_id, v,
                 last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
          FROM r)
    SELECT user_id, COUNT(*)::BIGINT AS n,
           COUNT(v)::BIGINT AS n_observed,
           COUNT(filled)::BIGINT AS n_after_fill,
           COALESCE(ROUND(SUM(CAST(filled AS DECIMAL(18,6))), 2), 0)::DOUBLE AS filled_mass
    FROM f GROUP BY user_id ORDER BY user_id"""

  /** C4-style line-level exact dedup (t38): the famous C4 cleaning rule —
    * any LINE occurring more than once in the corpus keeps only its
    * FIRST occurrence (Raffel 2020 removed all but one of any
    * three-sentence span; here a "line" is a fixed 8-word window, the
    * corpus being unpunctuated). Canonical = minimum (doc_id, line_no),
    * chosen by one ROW_NUMBER over the line-content partition. Distinct
    * from t15 (measures chunk-duplication deciles) and t28 (merges
    * duplicated shingles into spans): t38 is the cleaning TRANSFORM,
    * with per-source retention accounting — line/char keep rates are
    * the attrition numbers a corpus-build report shows.
    *
    * 100 TB shape: line extraction is map-side; the one data shuffle is
    * keyed by line CONTENT (cardinality grows with the corpus, spreads
    * with it), and the canonical pick is a window over that partition —
    * the same topology as t02 exact doc-dedup, one granularity down.
    * The report agg is bounded by source count. */
  private val t38Spark = """
    WITH base AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, source, split(text, ' ') AS ws
                  FROM documents),
    lines AS (SELECT doc_id, source, i AS lid,
                     array_join(slice(ws, i * 8 + 1, 8), ' ') AS line
              FROM base LATERAL VIEW explode(sequence(0, size(ws) DIV 8)) t AS i
              WHERE (i + 1) * 8 <= size(ws)),
    r AS (SELECT source, doc_id, lid, line,
                 ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, lid) AS rn
          FROM lines)
    SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_lines,
           SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept,
           SUM(length(line)) AS chars_total,
           SUM(CASE WHEN rn = 1 THEN length(line) ELSE 0 END) AS chars_kept,
           ROUND(CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS keep_rate
    FROM r GROUP BY source ORDER BY source"""

  private val t38Duck = """
    WITH base AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
    lines AS (SELECT doc_id, source, i AS lid,
                     array_to_string(ws[i*8+1 : i*8+8], ' ') AS line
              FROM base, LATERAL (SELECT unnest(range(len(ws) // 8 + 1)) AS i) t
              WHERE (i + 1) * 8 <= len(ws)),
    r AS (SELECT source, doc_id, lid, line,
                 ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, lid) AS rn
          FROM lines)
    SELECT source, COUNT(DISTINCT doc_id)::BIGINT AS n_docs, COUNT(*)::BIGINT AS n_lines,
           SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           SUM(length(line))::BIGINT AS chars_total,
           SUM(CASE WHEN rn = 1 THEN length(line) ELSE 0 END)::BIGINT AS chars_kept,
           ROUND(CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS keep_rate
    FROM r GROUP BY source ORDER BY source"""

  /** Domain-conditional boilerplate removal (t53): the CCNet/RefinedWeb
    * cleaning rule t38's GLOBAL line dedup does not express — a line is
    * boilerplate when it recurs across a large share of the documents of
    * the SAME domain (nav menus, cookie banners, footers), and is removed
    * from every doc of that domain, while the identical words appearing
    * once on some other domain survive. Threshold: seen in
    * max(3, ceil(50% of the domain's docs)) distinct docs. The synthetic
    * corpus has no cross-doc boilerplate, so the fixture injects one
    * deterministic 8-word header per source (declared, like g52's
    * generated polygons) — the transform then has real positives (the
    * header, in 100% of the domain's docs) and real negatives (body
    * lines) to separate.
    *
    * 100 TB shape: line windows are map-side; the only data-sized
    * shuffle key is (source, line) — the frequency agg and the flag
    * join-back are co-keyed on it, so the big join never re-shuffles;
    * the per-source doc-count side is domain-cardinality (a broadcast
    * dimension). Same topology family as t38, one conditioning level up. */
  private val t53Spark = """
    WITH aug AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, source,
                        CONCAT('bpzz ', source, ' cookie accept banner nav menu footer ', text) AS text
                 FROM documents),
    base AS (SELECT doc_id, source, split(text, ' ') AS ws FROM aug),
    lines AS (SELECT doc_id, source, i AS lid,
                     array_join(slice(ws, i * 8 + 1, 8), ' ') AS line
              FROM base LATERAL VIEW explode(sequence(0, size(ws) DIV 8)) t AS i
              WHERE (i + 1) * 8 <= size(ws)),
    freq AS (SELECT source, line, COUNT(DISTINCT doc_id) AS nd
             FROM lines GROUP BY source, line),
    dom AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs FROM lines GROUP BY source),
    flagged AS (SELECT l.source, d.n_docs, l.line, length(l.line) AS chars,
                       CASE WHEN f.nd >= GREATEST(3, CAST(CEIL(0.5 * d.n_docs) AS BIGINT))
                            THEN 1 ELSE 0 END AS bp
                FROM lines l
                JOIN freq f ON l.source = f.source AND l.line = f.line
                JOIN dom d ON l.source = d.source)
    SELECT source, MAX(n_docs) AS n_docs,
           COUNT(DISTINCT CASE WHEN bp = 1 THEN line END) AS bp_lines,
           SUM(bp) AS bp_occurrences,
           SUM(chars) AS chars_total,
           SUM(CASE WHEN bp = 0 THEN chars ELSE 0 END) AS chars_kept,
           ROUND(CAST(SUM(CASE WHEN bp = 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS keep_rate
    FROM flagged GROUP BY source ORDER BY source"""

  private val t53Duck = """
    WITH aug AS (SELECT doc_id, source,
                        CONCAT('bpzz ', source, ' cookie accept banner nav menu footer ', text) AS text
                 FROM documents),
    base AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM aug),
    lines AS (SELECT doc_id, source, i AS lid,
                     array_to_string(ws[i*8+1 : i*8+8], ' ') AS line
              FROM base, LATERAL (SELECT unnest(range(len(ws) // 8 + 1)) AS i) t
              WHERE (i + 1) * 8 <= len(ws)),
    freq AS (SELECT source, line, COUNT(DISTINCT doc_id) AS nd
             FROM lines GROUP BY source, line),
    dom AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs FROM lines GROUP BY source),
    flagged AS (SELECT l.source, d.n_docs, l.line, length(l.line) AS chars,
                       CASE WHEN f.nd >= GREATEST(3, CEIL(0.5 * d.n_docs)::BIGINT)
                            THEN 1 ELSE 0 END AS bp
                FROM lines l
                JOIN freq f ON l.source = f.source AND l.line = f.line
                JOIN dom d ON l.source = d.source)
    SELECT source, MAX(n_docs)::BIGINT AS n_docs,
           COUNT(DISTINCT CASE WHEN bp = 1 THEN line END)::BIGINT AS bp_lines,
           SUM(bp)::BIGINT AS bp_occurrences,
           SUM(chars)::BIGINT AS chars_total,
           SUM(CASE WHEN bp = 0 THEN chars ELSE 0 END)::BIGINT AS chars_kept,
           ROUND(CAST(SUM(CASE WHEN bp = 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS keep_rate
    FROM flagged GROUP BY source ORDER BY source"""

  /** Code-switch segmentation (t54): doc-LEVEL language ID (t05) mislabels
    * code-switched documents — here each 8-word window is language-ID'd
    * with the same stopword heuristic, and the per-doc signals a cleaning
    * pipeline thresholds on are the SWITCH COUNT (adjacent windows
    * disagreeing) and the dominant-language share. Aggregated per labeled
    * lang: a monolingual corpus reads avg_dom_share ≈ 1, switches ≈ 0.
    *
    * 100 TB shape: windows and window-ID are map-side; the LAG and the
    * per-doc aggregates all partition by doc_id (one doc-keyed exchange
    * reused by every stage — Spark keeps the partitioning), and the final
    * agg is lang-cardinality. Nothing global. */
  private val t54Spark = """
    WITH base AS (SELECT /*+ REPARTITION({{P}}) */ doc_id, lang, split(text, ' ') AS ws
                  FROM documents),
    seg AS (SELECT doc_id, lang, i, slice(ws, i * 8 + 1, 8) AS wnd
            FROM base LATERAL VIEW explode(sequence(0, size(ws) DIV 8)) t AS i
            WHERE (i + 1) * 8 <= size(ws)),
    pred AS (SELECT doc_id, lang, i,
                    CASE WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_de THEN 'en'
                         WHEN c_es >= c_fr AND c_es >= c_de THEN 'es'
                         WHEN c_fr >= c_de THEN 'fr' ELSE 'de' END AS p
             FROM (SELECT doc_id, lang, i,
                          size(filter(wnd, t -> t IN ('the','and','of','is','to'))) AS c_en,
                          size(filter(wnd, t -> t IN ('el','la','de','los','y'))) AS c_es,
                          size(filter(wnd, t -> t IN ('le','les','des','et','un'))) AS c_fr,
                          size(filter(wnd, t -> t IN ('der','die','das','und','ein'))) AS c_de
                   FROM seg) c),
    lagged AS (SELECT doc_id, lang, p,
                      LAG(p) OVER (PARTITION BY doc_id ORDER BY i) AS prev
               FROM pred),
    perdoc AS (SELECT doc_id, lang, COUNT(*) AS n_seg,
                      SUM(CASE WHEN prev IS NOT NULL AND p <> prev THEN 1 ELSE 0 END) AS n_switch
               FROM lagged GROUP BY doc_id, lang),
    dom AS (SELECT doc_id, MAX(c) AS dom_c
            FROM (SELECT doc_id, p, COUNT(*) AS c FROM pred GROUP BY doc_id, p) pc
            GROUP BY doc_id)
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(AVG(CAST(n_switch AS DOUBLE)), 6) AS avg_switches,
           ROUND(AVG(CAST(dom_c AS DOUBLE) / n_seg), 6) AS avg_dom_share
    FROM perdoc JOIN dom USING (doc_id)
    GROUP BY lang ORDER BY lang"""

  private val t54Duck = """
    WITH base AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
    seg AS (SELECT doc_id, lang, i, ws[i*8+1 : i*8+8] AS wnd
            FROM base, LATERAL (SELECT unnest(range(len(ws) // 8 + 1)) AS i) t
            WHERE (i + 1) * 8 <= len(ws)),
    pred AS (SELECT doc_id, lang, i,
                    CASE WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_de THEN 'en'
                         WHEN c_es >= c_fr AND c_es >= c_de THEN 'es'
                         WHEN c_fr >= c_de THEN 'fr' ELSE 'de' END AS p
             FROM (SELECT doc_id, lang, i,
                          len(list_filter(wnd, t -> t IN ('the','and','of','is','to'))) AS c_en,
                          len(list_filter(wnd, t -> t IN ('el','la','de','los','y'))) AS c_es,
                          len(list_filter(wnd, t -> t IN ('le','les','des','et','un'))) AS c_fr,
                          len(list_filter(wnd, t -> t IN ('der','die','das','und','ein'))) AS c_de
                   FROM seg) c),
    lagged AS (SELECT doc_id, lang, p,
                      LAG(p) OVER (PARTITION BY doc_id ORDER BY i) AS prev
               FROM pred),
    perdoc AS (SELECT doc_id, lang, COUNT(*) AS n_seg,
                      SUM(CASE WHEN prev IS NOT NULL AND p <> prev THEN 1 ELSE 0 END) AS n_switch
               FROM lagged GROUP BY doc_id, lang),
    dom AS (SELECT doc_id, MAX(c) AS dom_c
            FROM (SELECT doc_id, p, COUNT(*) AS c FROM pred GROUP BY doc_id, p) pc
            GROUP BY doc_id)
    SELECT lang, COUNT(*)::BIGINT AS n_docs,
           ROUND(AVG(CAST(n_switch AS DOUBLE)), 6) AS avg_switches,
           ROUND(AVG(CAST(dom_c AS DOUBLE) / n_seg), 6) AS avg_dom_share
    FROM perdoc JOIN dom USING (doc_id)
    GROUP BY lang ORDER BY lang"""

  /** SCD2 reconstruction + point-in-time join (a07): the warehouse
    * pattern the a01-a06 nearest-sample joins don't cover — a stream of
    * dimension VERSIONS (signup events) becomes slowly-changing-
    * dimension rows via ONE LEAD window (valid_from = version ts,
    * valid_to = next version's ts, half-open so every instant maps to
    * exactly one version), and facts (purchases) join AS OF their event
    * time: equi on user_id + the residual range predicate, so Spark
    * plans a SortMergeJoin keyed by user — never a cross product, and
    * at 100 TB the key carries the shuffle (a dimension with pathological
    * per-key version counts would band time like a04). Facts before the
    * first version stay unmatched through the LEFT join — the
    * `n_matched < n_facts` gap pins the boundary semantics, and the
    * version-timestamp checksum pins WHICH version each fact picked. */
  private val a07Spark = """
    WITH up AS (SELECT /*+ REPARTITION({{P}}) */ user_id, ts, event_id,
                       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
                FROM events WHERE event_type = 'signup'),
    f AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
    j AS (SELECT f.user_id, f.value AS fval, u.ts AS vfrom
          FROM f LEFT JOIN up u
            ON u.user_id = f.user_id AND f.ts >= u.ts
               AND (u.valid_to IS NULL OR f.ts < u.valid_to))
    SELECT user_id, COUNT(*) AS n_facts, COUNT(vfrom) AS n_matched,
           COUNT(DISTINCT vfrom) AS n_versions_used,
           COALESCE(SUM(unix_micros(vfrom)), CAST(0 AS BIGINT)) AS ver_checksum,
           CAST(COALESCE(ROUND(SUM(CASE WHEN vfrom IS NOT NULL
                                        THEN CAST(fval AS DECIMAL(18,6)) END), 2), 0) AS DOUBLE) AS matched_mass
    FROM j GROUP BY user_id ORDER BY user_id"""

  private val a07Duck = """
    WITH up AS (SELECT user_id, ts, event_id,
                       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
                FROM events WHERE event_type = 'signup'),
    f AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
    j AS (SELECT f.user_id, f.value AS fval, u.ts AS vfrom
          FROM f LEFT JOIN up u
            ON u.user_id = f.user_id AND f.ts >= u.ts
               AND (u.valid_to IS NULL OR f.ts < u.valid_to))
    SELECT user_id, COUNT(*)::BIGINT AS n_facts, COUNT(vfrom)::BIGINT AS n_matched,
           COUNT(DISTINCT vfrom)::BIGINT AS n_versions_used,
           COALESCE(SUM(epoch_us(vfrom)), 0)::BIGINT AS ver_checksum,
           COALESCE(ROUND(SUM(CASE WHEN vfrom IS NOT NULL
                                   THEN CAST(fval AS DECIMAL(18,6)) END), 2), 0)::DOUBLE AS matched_mass
    FROM j GROUP BY user_id ORDER BY user_id"""

  /** Integer-exact PageRank (q16): 3 power iterations over the
    * part↔supplier co-occurrence graph (distinct lineitem pairs — ~1.2M
    * directed edges at sf0.1 once doubled into both directions; node ids
    * pack as BIGINTs, even = part·2 / odd = supplier·2+1, so every
    * iteration shuffles integers, not concatenated strings), the classic
    * iterative-join workload. All
    * arithmetic is BIGINT micro-units — contribution = score DIV outdeg,
    * damping = (85·Σ) DIV 100 + 150000 — so the sum over incoming edges
    * is ORDER-INDEPENDENT (floating-point PageRank is not, and varies
    * run-to-run under Spark's nondeterministic reduce order; the same
    * trick as s10/e13). Iterations unroll as CTEs: each is ONE shuffle
    * joining the edge list to the score vector on the source key then
    * aggregating by destination — the t09 label-propagation topology
    * with weights. Built in Scala, not one SQL string: a WITH-CTE form
    * inlines the DISTINCT edge list and the degree table into EVERY
    * iteration (3x the dedup shuffle, 6 extra joins — profiled 5.1 s);
    * here the degree-annotated edge list materializes ONCE
    * (localCheckpoint — also what truncates lineage so the iterated
    * plan doesn't grow, exactly as t09 does per round) and each
    * iteration is ONE join + ONE aggregate on the node key. Top-10
    * lands via ORDER BY + LIMIT (TakeOrdered, no global sort). */
  private def q16Fn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    // el materializes FIRST: as a CTE it would inline into both UNION
    // branches and again under deg — four runs of the 600k-row DISTINCT
    // shuffle (profiled 9.6 s; checkpointed-first, the whole build is ~2 s)
    val el = s.sql("""
      SELECT /*+ REPARTITION(64) */ DISTINCT
             l_partkey * 2 AS src,
             l_suppkey * 2 + 1 AS dst
      FROM lineitem""").localCheckpoint()
    el.createOrReplaceTempView("q16_el")
    val eo = s.sql("""
      WITH edges AS (SELECT src, dst FROM q16_el UNION ALL SELECT dst AS src, src AS dst FROM q16_el),
      deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)
      SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON d.src = e.src""")
      .localCheckpoint()
    eo.createOrReplaceTempView("q16_eo")
    var score = s.sql(
      "SELECT src AS node, CAST(1000000 AS BIGINT) AS score FROM q16_eo GROUP BY src")
    for (_ <- 1 to 3) {
      score.createOrReplaceTempView("q16_score")
      score = s.sql("""
        SELECT e.dst AS node,
               CAST(150000 AS BIGINT) + (85 * SUM(s.score DIV e.outdeg)) DIV 100 AS score
        FROM q16_eo e JOIN q16_score s ON s.node = e.src
        GROUP BY e.dst""").localCheckpoint()
    }
    score.createOrReplaceTempView("q16_final")
    s.sql("SELECT node, score FROM q16_final ORDER BY score DESC, node LIMIT 10")
  }

  private val q16Duck = """
    WITH el AS (SELECT DISTINCT l_partkey * 2 AS src,
                                l_suppkey * 2 + 1 AS dst
                FROM lineitem),
    edges AS (SELECT src, dst FROM el UNION ALL SELECT dst AS src, src AS dst FROM el),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    s0 AS (SELECT src AS node, 1000000::BIGINT AS score FROM deg),
    s1 AS (SELECT e.dst AS node,
                  150000::BIGINT + (85 * SUM(s.score // d.outdeg)) // 100 AS score
           FROM edges e JOIN s0 s ON s.node = e.src JOIN deg d ON d.src = e.src
           GROUP BY e.dst),
    s2 AS (SELECT e.dst AS node,
                  150000::BIGINT + (85 * SUM(s.score // d.outdeg)) // 100 AS score
           FROM edges e JOIN s1 s ON s.node = e.src JOIN deg d ON d.src = e.src
           GROUP BY e.dst),
    s3 AS (SELECT e.dst AS node,
                  150000::BIGINT + (85 * SUM(s.score // d.outdeg)) // 100 AS score
           FROM edges e JOIN s2 s ON s.node = e.src JOIN deg d ON d.src = e.src
           GROUP BY e.dst)
    SELECT node, score::BIGINT AS score FROM s3 ORDER BY score DESC, node LIMIT 10"""

  /** Ranking-window surface (q17): percent_rank / cume_dist / ntile —
    * the analytic trio q03/q08/q11 don't touch — over the per-priority
    * order-value distribution, with a total (price, orderkey) tiebreak
    * so every rank is deterministic. Ratios fold to Σ floor(r·1e6)
    * BIGINTs: the divisions are single IEEE ops on identical integers
    * cross-engine, and the floor makes aggregation order irrelevant.
    * One window shuffle keyed by priority; the report is bounded by the
    * 5 priorities. */
  private val q17Spark = """
    WITH w AS (SELECT /*+ REPARTITION({{P}}) */ o_orderpriority AS pri,
                      PERCENT_RANK() OVER (PARTITION BY o_orderpriority
                        ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS pr,
                      CUME_DIST() OVER (PARTITION BY o_orderpriority
                        ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS cd,
                      NTILE(4) OVER (PARTITION BY o_orderpriority
                        ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS tile
               FROM orders)
    SELECT pri, COUNT(*) AS n,
           SUM(CAST(FLOOR(pr * 1000000.0D) AS BIGINT)) AS pr_sum,
           SUM(CAST(FLOOR(cd * 1000000.0D) AS BIGINT)) AS cd_sum,
           SUM(CASE WHEN tile = 1 THEN 1 ELSE 0 END) AS q1_n,
           SUM(CASE WHEN tile = 4 THEN 1 ELSE 0 END) AS q4_n
    FROM w GROUP BY pri ORDER BY pri"""

  private val q17Duck = """
    WITH w AS (SELECT o_orderpriority AS pri,
                      PERCENT_RANK() OVER (PARTITION BY o_orderpriority
                        ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS pr,
                      CUME_DIST() OVER (PARTITION BY o_orderpriority
                        ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS cd,
                      NTILE(4) OVER (PARTITION BY o_orderpriority
                        ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS tile
               FROM orders)
    SELECT pri, COUNT(*)::BIGINT AS n,
           SUM(FLOOR(pr * 1000000.0)::BIGINT)::BIGINT AS pr_sum,
           SUM(FLOOR(cd * 1000000.0)::BIGINT)::BIGINT AS cd_sum,
           SUM(CASE WHEN tile = 1 THEN 1 ELSE 0 END)::BIGINT AS q1_n,
           SUM(CASE WHEN tile = 4 THEN 1 ELSE 0 END)::BIGINT AS q4_n
    FROM w GROUP BY pri ORDER BY pri"""

  /** Time-weighted average (q18): the TWAP/sensor-mean shape — each
    * reading holds until the next one (LEAD over the per-user event-time
    * order), so the mean weights each value by its holding duration, not
    * its sample count (burst-sampled signals are exactly where the
    * unweighted mean lies). Value scales to floor-milli-units and
    * duration to whole milliseconds, so weight·value products and both
    * sums are BIGINT — order-independent, division deferred to one final
    * IEEE op per user. The last reading has no successor and drops out
    * (standard left-closed convention). One window + one aggregate over
    * the same user_id partitioning — a single shuffle. */
  private val q18Spark = """
    WITH r AS (SELECT /*+ REPARTITION({{P}}) */ user_id,
                      CAST(FLOOR(value * 1000.0D) AS BIGINT) AS mv,
                      unix_micros(ts) AS us,
                      LEAD(unix_micros(ts)) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS next_us
               FROM events),
    d AS (SELECT user_id, mv, (next_us - us) DIV 1000 AS dur_ms
          FROM r WHERE next_us IS NOT NULL)
    SELECT user_id, COUNT(*) AS n_intervals,
           SUM(dur_ms) AS total_ms,
           SUM(mv * dur_ms) AS weighted_sum,
           ROUND(CAST(SUM(mv * dur_ms) AS DOUBLE) / SUM(dur_ms) / 1000.0D, 6) AS twap
    FROM d GROUP BY user_id ORDER BY user_id"""

  private val q18Duck = """
    WITH r AS (SELECT user_id,
                      FLOOR(value * 1000.0)::BIGINT AS mv,
                      epoch_us(ts) AS us,
                      LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS next_us
               FROM events),
    d AS (SELECT user_id, mv, (next_us - us) // 1000 AS dur_ms
          FROM r WHERE next_us IS NOT NULL)
    SELECT user_id, COUNT(*)::BIGINT AS n_intervals,
           SUM(dur_ms)::BIGINT AS total_ms,
           SUM(mv * dur_ms)::BIGINT AS weighted_sum,
           ROUND(CAST(SUM(mv * dur_ms) AS DOUBLE) / SUM(dur_ms) / 1000.0, 6) AS twap
    FROM d GROUP BY user_id ORDER BY user_id"""

  /** Negative buffer / erosion (g66): ST_Buffer with a NEGATIVE distance
    * shrinks a polygon — the morphological EROSION used to de-noise
    * coverage polygons and build setback zones. On axis-aligned integer
    * rectangles the inset is closed-form: area (w−2d)(h−2d) when both
    * sides survive, EMPTY when either dimension ≤ 2d (JTS must agree
    * exactly — inner offsets of convex corners have no curve
    * approximation, so the shoelace of the inset integer rectangle is
    * IEEE-exact). The empty-count pins the collapse rule; map-side
    * kernels + one bounded agg. */
  private val g66Spark = """
    WITH p AS (SELECT /*+ REPARTITION({{P}}) */ p_brand,
                      CAST(4 + p_size % 10 AS DOUBLE) AS w,
                      CAST(1 + (p_size * 3) % 7 AS DOUBLE) AS h
               FROM part),
    e AS (SELECT p_brand, w, h,
                 ST_Buffer(ST_MakeEnvelope(0.0D, 0.0D, w, h), -1.0D) AS er
          FROM p)
    SELECT p_brand, COUNT(*) AS n,
           SUM(CASE WHEN ST_IsEmpty(er) THEN 1 ELSE 0 END) AS n_collapsed,
           SUM(CAST(ST_Area(er) AS BIGINT)) AS area_sum
    FROM e GROUP BY p_brand ORDER BY p_brand"""

  private val g66Duck = """
    WITH p AS (SELECT p_brand,
                      (4 + p_size % 10)::DOUBLE AS w,
                      (1 + (p_size * 3) % 7)::DOUBLE AS h
               FROM part)
    SELECT p_brand, COUNT(*)::BIGINT AS n,
           SUM(CASE WHEN w <= 2 OR h <= 2 THEN 1 ELSE 0 END)::BIGINT AS n_collapsed,
           SUM(CASE WHEN w > 2 AND h > 2
                    THEN ((w - 2) * (h - 2))::BIGINT ELSE 0 END)::BIGINT AS area_sum
    FROM p GROUP BY p_brand ORDER BY p_brand"""

  /** UNPIVOT (q19): the inverse rotation of q12's PIVOT — a wide
    * per-flag metrics row (quantity / extended-price / discount sums)
    * melts into (flag, metric, val) tall form through Spark's native
    * UNPIVOT clause; the oracle replays it as the equivalent UNION ALL
    * (the rewrite UNPIVOT desugars to). DECIMAL sums make every melted
    * value exact; one aggregate + a zero-shuffle melt. */
  private val q19Spark = """
    WITH w AS (SELECT /*+ REPARTITION({{P}}) */ l_returnflag AS flag,
                      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
                      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price,
                      CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc
               FROM lineitem GROUP BY l_returnflag)
    SELECT flag, metric, ROUND(val, 2) AS val
    FROM w UNPIVOT (val FOR metric IN (qty, price, disc))
    ORDER BY flag, metric"""

  private val q19Duck = """
    WITH w AS (SELECT l_returnflag AS flag,
                      SUM(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS qty,
                      SUM(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE AS price,
                      SUM(CAST(l_discount AS DECIMAL(18,2)))::DOUBLE AS disc
               FROM lineitem GROUP BY l_returnflag)
    SELECT flag, metric, ROUND(val, 2) AS val FROM (
      SELECT flag, 'qty' AS metric, qty AS val FROM w
      UNION ALL SELECT flag, 'price', price FROM w
      UNION ALL SELECT flag, 'disc', disc FROM w) t
    ORDER BY flag, metric"""

  /** Geohash binning (g67): `ST_GeoHash` (the PostGIS function) assigns
    * every point its base-32 cell string — the third spatial-binning
    * surface next to hex (g63) and XYZ tiles (g65), and the one whose
    * PREFIX property ("ezs4" contains every "ezs42…") makes prefix
    * range-scans work on plain string-sorted storage. The kernel is pure
    * bit math — the same floor-scaled cell fractions as the tile
    * functions (geohash bisects latitude DEGREES, not mercator),
    * interleaved lon-first, 5 bits per character — so the oracle replays
    * it arithmetically against the public alphabet. Map-side hash, ONE
    * prefix-keyed aggregate; min/max full hashes per group pin the
    * string content, the spec pins the geohash.org "ezs42" anchor. */
  private val g67Spark = """
    WITH p AS (SELECT /*+ REPARTITION({{P}}) */ c_custkey,
                      ST_GeoHash(ST_Point(CAST(c_custkey % 360 - 180 AS DOUBLE),
                                          CAST((c_custkey * 7) % 140 - 70 AS DOUBLE)), 4) AS gh
               FROM customer)
    SELECT substring(gh, 1, 2) AS cell2, COUNT(*) AS n, SUM(c_custkey) AS sum_key,
           MIN(gh) AS min_hash, MAX(gh) AS max_hash
    FROM p GROUP BY substring(gh, 1, 2) ORDER BY cell2"""

  private val g67Duck = """
    WITH p AS (SELECT c_custkey,
                      (c_custkey % 360 - 180)::DOUBLE AS lon,
                      ((c_custkey * 7) % 140 - 70)::DOUBLE AS lat
               FROM customer),
    c AS (SELECT c_custkey,
                 LEAST(GREATEST(floor((lon + 180.0) / 360.0 * 1024), 0), 1023)::BIGINT AS cx,
                 LEAST(GREATEST(floor((lat + 90.0) / 180.0 * 1024), 0), 1023)::BIGINT AS cy
          FROM p),
    code AS (SELECT c_custkey,
                    list_reduce(list_transform(range(0, 20), k ->
                      (CASE WHEN k % 2 = 0 THEN (cx >> (9 - k // 2)::INT) & 1
                            ELSE (cy >> (9 - k // 2)::INT) & 1 END) << (19 - k)::INT),
                      (a, b) -> a + b) AS cd
             FROM c),
    gh AS (SELECT c_custkey,
                  substr('0123456789bcdefghjkmnpqrstuvwxyz', (((cd >> 15) & 31) + 1)::INT, 1) ||
                  substr('0123456789bcdefghjkmnpqrstuvwxyz', (((cd >> 10) & 31) + 1)::INT, 1) ||
                  substr('0123456789bcdefghjkmnpqrstuvwxyz', (((cd >> 5) & 31) + 1)::INT, 1) ||
                  substr('0123456789bcdefghjkmnpqrstuvwxyz', ((cd & 31) + 1)::INT, 1) AS gh
           FROM code)
    SELECT substr(gh, 1, 2) AS cell2, COUNT(*)::BIGINT AS n, SUM(c_custkey)::BIGINT AS sum_key,
           MIN(gh) AS min_hash, MAX(gh) AS max_hash
    FROM gh GROUP BY substr(gh, 1, 2) ORDER BY cell2"""

  private val all: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("q01_pricing_summary", q(q01Spark), q01Duck),
    ("q02_revenue_by_nation", q(q02Spark), q02Duck),
    ("q03_top_orders_per_cust", q(q03Spark), q03Duck),
    ("q04_priority_exists", q(q04Spark), q04Duck),
    ("q05_brand_supplier_stats", q(q05Spark), q05Duck),
    ("g01_point_distance", q(g01Spark), g01Duck),
    ("g02_rect_area", q(g02Spark), g02Duck),
    ("g03_zone_contains_join", q(g03Spark), g03Duck),
    ("q06_rollup_revenue", q(q06Spark), q06Duck),
    ("q07_hourly_events", q(q07Spark), q07Duck),
    ("q08_revenue_leaderboard", q(q08Spark), q08Duck),
    ("q09_grouping_sets", q(q09Spark), q09Duck),
    ("q10_waiting_supplier", q(q10Spark), q10Duck),
    ("q11_rolling_window", q(q11Spark), q11Duck),
    ("q12_pivot", q(q12Spark), q12Duck),
    ("g04_buffer_area", q(g04Spark), g04Duck),
    ("g05_centroid", q(g05Spark), g05Duck),
    ("g06_extent_agg", q(g06Spark), g06Duck),
    ("g07_line_length", q(g07Spark), g07Duck),
    ("g08_convexhull_collect", q(g08Spark), g08Duck),
    ("g09_wkt_roundtrip", q(g09Spark), g09Duck),
    ("g10_transform_mercator", q(g10Spark), g10Duck),
    ("g11_dump_explode", q(g11Spark), g11Duck),
    ("g12_simplify_npoints", q(g12Spark), g12Duck),
    ("g13_overlay_areas", q(g13Spark), g13Duck),
    ("g14_union_agg_tiles", q(g14Spark), g14Duck),
    ("g15_spatial_join_strtree", g15Fn _, g15Duck),
    ("g16_extent_agg_native", q(g16Spark), g16Duck),
    ("g17_union_agg_cascaded", q(g17Spark), g17Duck),
    ("g18_geojson_roundtrip", q(g18Spark), g18Duck),
    ("g19_predicate_matrix", q(g19Spark), g19Duck),
    ("g20_linear_ref", q(g20Spark), g20Duck),
    ("g21_affine_family", q(g21Spark), g21Duck),
    ("g22_makevalid_bowtie", q(g22Spark), g22Duck),
    ("g23_surface_points", q(g23Spark), g23Duck),
    ("g24_sphere_measures", q(g24Spark), g24Duck),
    ("g25_discrete_distances", q(g25Spark), g25Duck),
    ("g26_resample_ops", q(g26Spark), g26Duck),
    ("g27_type_tags", q(g27Spark), g27Duck),
    ("g28_ring_accessors", q(g28Spark), g28Duck),
    ("g29_srid_roundtrip", q(g29Spark), g29Duck),
    ("g30_zm_fidelity", q(g30Spark), g30Duck),
    ("g31_spheroid_measures", q(g31Spark), g31Duck),
    ("g32_downcast_infer", g32Fn _, g32Duck),
    ("g33_grid_join_bigbig", g33Fn _, g33Duck),
    ("g34_geodesic_measures", q(g34Spark), g34Duck),
    ("g35_signed_area", q(g35Spark), g35Duck),
    ("g36_ring_relate", q(g36Spark), g36Duck),
    ("g37_knn_join", g37Fn _, g37Duck),
    ("g38_fgb_index_read", g38Fn _, g38Duck),
    ("g39_arrow_ipc_roundtrip", g39Fn _, g39Duck),
    ("g40_shapefile_read", g40Fn _, g40Duck),
    ("g41_svg_render", q(g41Spark), g41Duck),
    ("g42_postgis_ewkb", g42Fn _, g42Duck),
    ("g43_geojson_source", g43Fn _, g43Duck),
    ("g44_covering_pruned_read", g44Fn _, g44Duck),
    ("g45_utm_transform", q(g45Spark), g45Duck),
    ("g46_native_encoding_roundtrip", g46Fn _, g46Duck),
    ("g47_fgb_zm_write", g47Fn _, g47Duck),
    ("g48_geometry_col", g48Fn _, g48Duck),
    ("g49_multi_geometry", g49Fn _, g49Duck),
    ("g50_geojson_fc_write", g50Fn _, g50Duck),
    ("g51_fgb_dsv2_pruned", g51Fn _, g51Duck),
    ("g52_subdivide", q(g52Spark), g52Duck),
    ("g53_dbscan", g53Fn _, g53Duck),
    ("g54_shp_dsv2_pruned", g54Fn _, g54Duck),
    ("g55_arrow_dsv2_pruned", g55Fn _, g55Duck),
    ("g56_polygonize_linemerge", q(g56Spark), g56Duck),
    ("g57_delaunay", q(g57Spark), g57Duck),
    ("g59_azimuth", q(g59Spark), g59Duck),
    ("g60_closest_point", q(g60Spark), g60Duck),
    ("g61_snap_grid", q(g61Spark), g61Duck),
    ("g62_project_sphere", q(g62Spark), g62Duck),
    ("g58_voronoi",q(g58Spark), g58Duck),
    ("t01_token_stats", q(t01Spark), t01Duck),
    ("t02_exact_dedup", q(t02Spark), t02Duck),
    ("t03_ngram_jaccard", t03Fn _, t03Duck),
    ("t04_quality_score", q(t04Spark), t04Duck),
    ("t05_langid", q(t05Spark), t05Duck),
    ("t06_simhash_hamming", q(t06Spark), t06Duck),
    ("t07_minhash_lsh", t07Fn _, t07Duck),
    ("t08_embed_neardup", q(t08Spark), t08Duck),
    ("t09_neardup_components", t09Fn _, t09Duck),
    ("t10_winnow_fingerprints", t10Fn _, t10Duck),
    ("t11_repetition_signals", q(t11Spark), t11Duck),
    ("t12_pii_redaction", q(t12Spark), t12Duck),
    ("t13_hash_split", q(t13Spark), t13Duck),
    ("t14_contamination_check", t14Fn _, t14Duck),
    ("e01_cosine_topk", q(e01Spark), e01Duck),
    ("e02_ann_bucket", q(e02Spark), e02Duck),
    ("e03_bucket_histogram", q(e03Spark), e03Duck),
    ("e04_ivf_ann", q(e04Spark), e04Duck),
    ("e05_ann_recall", q(e05Spark), e05Duck),
    ("e06_ivf_persisted", e06Fn _, e04Duck),
    ("e07_pq_adc", q(e07Spark), e07Duck),
    ("e08_pq_recall", q(e08Spark), e08Duck),
    ("e09_ivfpq", q(e09Spark), e09Duck),
    ("e10_sq8_ann", q(e10Spark), e10Duck),
    ("a01_asof_join", a01Fn _, a01Duck),
    ("a02_range_join", a02Fn _, a02Duck),
    ("a03_asof_forward_tol", a03Fn _, a03Duck),
    ("a05_asof_nearest", a05Fn _, a05Duck),
    ("a06_asof_interp", a06Fn _, a06Duck),
    ("a04_keyed_interval",a04Fn _, a04Duck),
    ("a07_scd2_join", q(a07Spark), a07Duck),
    ("a08_grid_resample", a08Fn _, a08Duck),
    ("t15_corpus_dup_chunks", q(t15Spark), t15Duck),
    ("t16_sequence_pack", q(t16Spark), t16Duck),
    ("t17_mixture_sample", q(t17Spark), t17Duck),
    ("t18_chunking", q(t18Spark), t18Duck),
    ("t19_vocab_oov", q(t19Spark), t19Duck),
    ("t20_bloom_contamination", q(t20Spark), t20Duck),
    ("t21_canonical_select", t21Fn _, t21Duck),
    ("t22_corpus_build", q(t22Spark), t22Duck),
    ("t23_bigram_novelty", q(t23Spark), t23Duck),
    ("e11_truncated_ann", q(e11Spark), e11Duck),
    ("e12_multiprobe_lsh", e12Fn _, e12Duck),
    ("e13_semdedup", q(e13Spark), e13Duck),
    ("e14_rrf_fusion", q(e14Spark), e14Duck),
    ("e15_filtered_ann", q(e15Spark), e15Duck),
    ("e16_ivf_delta", e16Fn _, e04Duck),
    ("e17_binary_quant", q(e17Spark), e17Duck),
    ("e18_nprobe_curve", q(e18Spark), e18Duck),
    ("e19_mmr", q(e19Spark), e19Duck),
    ("e20_cascade", q(e20Spark), e20Duck),
    ("e21_jl_projection", q(e21Spark), e21Duck),
    ("e22_tombstone_delete", q(e22Spark), e22Duck),
    ("e23_knn_graph", q(e23Spark), e23Duck),
    ("e24_graph_recall", q(e24Spark), e24Duck),
    ("e25_ivfpq_residual", q(e25Spark), e25Duck),
    ("e26_mrl_curve", q(e26Spark), e26Duck),
    ("e27_filtered_ivf", q(e27Spark), e27Duck),
    ("t42_crawl_novelty", q(t42Spark), t42Duck),
    ("t41_temperature_mix", q(t41Spark), t41Duck),
    ("g68_tile_rollup", g68Fn _, g68Duck),
    ("g69_rasterize", q(g69Spark), g69Duck),
    ("g70_trajectory", q(g70Spark), g70Duck),
    ("g71_cross_track", q(g71Spark), g71Duck),
    ("g72_noding", q(g72Spark), g72Duck),
    ("g73_buffer_styles", q(g73Spark), g73Duck),
    ("g74_force_orientation", q(g74Spark), g74Duck),
    ("g75_bbox_iou", q(g75Spark), g75Duck),
    ("g76_literal_polygon_filter", q(g76Spark), g76Duck),
    ("g77_perimeter_spheroid", q(g77Spark), g77Duck),
    ("t45_bigram_lm", q(t45Spark), t45Duck),
    ("t46_sketch_audit", q(t46Spark), t46Duck),
    ("t47_contamination_score", q(t47Spark), t47Duck),
    ("a10_late_backfill", q(a10Spark), a10Duck),
    ("e29_index_staleness", q(e29Spark), e29Duck),
    ("g78_dimension_boundary", q(g78Spark), g78Duck),
    ("t48_html_strip", q(t48Spark), t48Duck),
    ("t49_url_canonical", q(t49Spark), t49Duck),
    ("g79_voronoi_delaunay", q(g79Spark), g79Duck),
    ("g80_polygonize", q(g80Spark), g80Duck),
    ("g81_native_stats_pruned_read", g81Fn _, g81Duck),
    ("g82_fgb_promote_multi", g82Fn _, g82Duck),
    ("g83_edges_dispatch", g83Fn _, g83Duck),
    ("g84_edges_distance", g84Fn _, g84Duck),
    ("g85_fgb_single_file", g85Fn _, g85Duck),
    ("t50_components_stars", t50Fn _, t50Duck),
    ("g86_arrow_dictionary", g86Fn _, g86Duck),
    ("s16_stream_geoparquet_pruned", s16Fn _, s16Duck),
    ("t51_unicode_normalize", q(t51Spark), t51Duck),
    ("t52_nfkc_fold", q(t52Spark), t52Duck),
    ("t53_boilerplate", q(t53Spark), t53Duck),
    ("t54_code_switch", q(t54Spark), t54Duck),
    ("g87_geodesic_knn", g87Fn _, g87Duck),
    ("g88_knn_antimeridian", g88Fn _, g88Duck),
    ("g89_edges_roundtrip", g89Fn _, g89Duck),
    ("g90_distance_radius_join", g90Fn _, g90Duck),
    ("g91_arrow_nested", g91Fn _, g91Duck),
    ("g92_conic_projections", q(g92Spark), g92Duck),
    ("g93_shapefile_zm", g93Fn _, g93Duck),
    ("g94_conic_pivot", q(g94Spark), g94Duck),
    ("g95_arrow_stream_dict", g95Fn _, g95Duck),
    ("g96_arrow_geometry_union", g96Fn _, g96Duck),
    ("g97_arrow_native_write", g97Fn _, g97Duck),
    ("g98_geoparquet_native_z", g98Fn _, g98Duck),
    ("g99_arrow_union_write", g99Fn _, g99Duck),
    ("g100_arrow_union_full_matrix", g100Fn _, g100Duck),
    ("g101_geoparquet_native_m_zm", g101Fn _, g101Duck),
    ("g102_arrow_wkt_box_write", g102Fn _, g102Duck),
    ("g103_arrow_gc_write", g103Fn _, g103Duck),
    ("g104_bng_datum_shift", q(g104Spark), g104Duck),
    ("g105_native_point_fastpath", g105Fn _, g105Duck),
    ("g106_knn_rank_ties", q(g106Spark), g106Duck),
    ("g107_laea_europe", q(g107Spark), g107Duck),
    ("g108_ed50_datum", q(g108Spark), g108Duck),
    ("g109_knn_dense_rank", q(g109Spark), g109Duck),
    ("g110_shapefile_write", g110Fn _, g110Duck),
    ("g111_nad27_datum", q(g111Spark), g111Duck),
    ("g112_param_projections", q(g112Spark), g112Duck),
    ("g113_native_nested_fastpath", g113Fn _, g113Duck),
    ("g114_geodesic_buffer", q(g114Spark), g114Duck),
    ("g115_aeqd_transform", q(g115Spark), g115Duck),
    ("g116_geodesic_segmentize", q(g116Spark), g116Duck),
    ("g117_project_azimuth_geodesic", q(g117Spark), g117Duck),
    ("g118_line_editing", q(g118Spark), g118Duck),
    ("g119_geodesic_overlay", q(g119Spark), g119Duck),
    ("g120_cluster_within", g120Fn _, g120Duck),
    ("g121_closest_geodesic", q(g121Spark), g121Duck),
    ("g122_kmeans", g122Fn _, g122Duck),
    ("g123_line_substring_geodesic", q(g123Spark), g123Duck),
    ("g124_geodesic_bounded_read", g124Fn _, g124Duck),
    ("g125_cluster_intersecting", g125Fn _, g125Duck),
    ("g126_point_predicate_stamped", g126Fn _, g126Duck),
    ("g127_farthest_k", q(g127Spark), g127Duck),
    ("g128_gda2020_datum", q(g128Spark), g128Duck),
    ("g129_editing_parity", q(g129Spark), g129Duck),
    ("g130_3d_measures", q(g130Spark), g130Duck),
    ("g131_lrs_family", q(g131Spark), g131Duck),
    ("g132_max_distance_genpoints", q(g132Spark), g132Duck),
    ("g133_trajectory_cpa", q(g133Spark), g133Duck),
    ("g134_farthest_geodesic", q(g134Spark), g134Duck),
    ("g135_3d_predicates", q(g135Spark), g135Duck),
    ("g136_lrs_inverse_pair", q(g136Spark), g136Duck),
    ("g137_antimeridian_read", g137Fn _, g137Duck),
    ("g138_reader_pagination", g138Fn _, g138Duck),
    ("g139_construction_batch", q(g139Spark), g139Duck),
    ("g140_mvt_tilespace", q(g140Spark), g140Duck),
    ("g141_coverage_family", q(g141Spark), g141Duck),
    ("g142_median_wrap", q(g142Spark), g142Duck),
    ("g143_expand_extend", q(g143Spark), g143Duck),
    ("g144_dump_grid_cells", q(g144Spark), g144Duck),
    ("g145_grid_generators", q(g145Spark), g145Duck),
    ("g146_introspection", q(g146Spark), g146Duck),
    ("g147_geohash_extent3d", q(g147Spark), g147Duck),
    ("g148_buildarea_dms", q(g148Spark), g148Duck),
    ("q24_cumulative_reach", q(q24Spark), q24Duck),
    ("q23_lateral_topk", q(q23Spark), q23Duck),
    ("a09_session_attribution", q(a09Spark), a09Duck),
    ("m16_norm_constants", q(m16Spark), m16Duck),
    ("t43_linear_classifier", q(t43Spark), t43Duck),
    ("q22_incremental_agg", q(q22Spark), q22Duck),
    ("m15_mip_pyramid", q(m15Spark), m15Duck),
    ("e28_hard_negatives", q(e28Spark), e28Duck),
    ("t44_span_corruption", q(t44Spark), t44Duck),
    ("m14_phash_bands", q(m14Spark), m14Duck),
    ("g63_hex_bin", q(g63Spark), g63Duck),
    ("t24_tfidf_terms", q(t24Spark), t24Duck),
    ("t25_cms_heavy_hitters", q(t25Spark), t25Duck),
    ("t26_bpe_pretokenize", q(t26Spark), t26Duck),
    ("t27_minhash_calibration", t27Fn _, t27Duck),
    ("t28_span_dedup", q(t28Spark), t28Duck),
    ("t29_dsir_select", q(t29Spark), t29Duck),
    ("t30_stratified_sample", q(t30Spark), t30Duck),
    ("t31_source_overlap", q(t31Spark), t31Duck),
    ("t32_exact_quantiles", q(t32Spark), t32Duck),
    ("t33_incremental_dedup", t33Fn _, t33Duck),
    ("t34_editdist_confirm", q(t34Spark), t34Duck),
    ("t35_dedup_consensus", q(t35Spark), t35Duck),
    ("t36_text_embed_consistency", q(t36Spark), t36Duck),
    ("t37_cluster_cards", t37Fn _, t37Duck),
    ("t38_line_dedup", q(t38Spark), t38Duck),
    ("t39_split_leakage", t39Fn _, t39Duck),
    ("t40_token_entropy", q(t40Spark), t40Duck),
    ("q20_funnel", q(q20Spark), q20Duck),
    ("q13_set_ops", q(q13Spark), q13Duck),
    // recursion emits |customer| × ~log2(maxkey) rows total; Spark's
    // default cteRecursionRowLimit (1M) trips at sf1 (1.5M customers × 21
    // levels) even though the recursion is provably depth-bounded — raise
    // the safety valve PROPORTIONALLY to the input (64 rows of headroom
    // per anchor row, never below the 1M default), keeping both the level
    // limit and a scale-appropriate row valve as runaway guards. The conf
    // is session-scoped by necessity (it is read when the recursion
    // EXECUTES, after this builder returns) — the data-proportional bound
    // keeps the guard meaningful for any later query in the same session.
    ("q14_recursive_chain", ((s: SparkSession, dir: String) => {
      val anchors = s.read.parquet(s"$dir/customer.parquet").count()
      val limit = math.max(1000000L, 64L * anchors)
      s.conf.set("spark.sql.cteRecursionRowLimit",
        math.min(limit, Int.MaxValue.toLong).toString)
      q(q14Spark)(s, dir)
    }): (SparkSession, String) => DataFrame, q14Duck),
    ("q15_gap_fill", q(q15Spark), q15Duck),
    ("q16_pagerank", q16Fn _, q16Duck),
    ("q17_rank_windows", q(q17Spark), q17Duck),
    ("q18_twap", q(q18Spark), q18Duck),
    ("q19_unpivot", q(q19Spark), q19Duck),
    ("g66_erosion", q(g66Spark), g66Duck),
    ("g67_geohash", q(g67Spark), g67Duck),
    ("g64_min_bounding_circle", q(g64Spark), g64Duck),
    ("g65_tile_pyramid", q(g65Spark), g65Duck),
    ("s01_sessionize", q(s01Spark), s01Duck),
    ("s02_stream_windowed", s02Fn _, s02Duck),
    ("s03_stream_dedup", s03Fn _, s03Duck),
    ("s04_stream_geofence", s04Fn _, s04Duck),
    ("s05_stream_interval_join", s05Fn _, s05Duck),
    ("s06_stream_topk_terms", s06Fn _, s06Duck),
    ("s07_zone_transitions", s07Fn _, s07Duck),
    ("s08_stream_neardup", s08Fn _, s08Duck),
    ("s09_latest_enrich", s09Fn _, s09Duck),
    ("s10_stream_anomaly", s10Fn _, s10Duck),
    ("s11_stream_classify", s11Fn _, s11Duck),
    ("s12_late_drop", s12Fn _, s12Duck),
    ("s13_stream_outer_join", s13Fn _, s13Duck),
    ("s14_session_window", s14Fn _, s14Duck),
    ("s15_stream_approx_distinct", s15Fn _, s15Duck),
    ("m01_media_meta", q(m01Spark), m01Duck),
    ("m02_decode_resize_hist", m02Fn _, m02Duck),
    ("m03_real_decode_matrix", q(m03Spark), m03Duck),
    ("m04_frame_sample", q(m04Spark), m04Duck),
    ("m05_audio_stats", q(m05Spark), m05Duck),
    ("m06_image_phash_dedup", q(m06Spark), m06Duck),
    ("m07_format_roundtrip", q(m07Spark), m07Duck),
    ("m08_audio_windows", q(m08Spark), m08Duck),
    ("m09_shot_boundaries", q(m09Spark), m09Duck),
    ("m10_patch_grid", q(m10Spark), m10Duck),
    ("m11_decode_quarantine", q(m11Spark), m11Duck),
    ("m12_augmentation", q(m12Spark), m12Duck),
    ("m13_audio_resample", q(m13Spark), m13Duck),
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (name, fn, _) =>
      name -> ((s: SparkSession, dir: String) => fn(withSurface(s), dir))
    }.toMap

  // empty oracle = non-SQL-expressible op → driver's weaker rows-only check
  def oracleSql: Map[String, String] =
    all.collect { case (name, _, duck) if duck.trim.nonEmpty => name -> duck.trim }.toMap
}
