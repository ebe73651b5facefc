package graft

import org.apache.spark.sql.functions._

/** Round-20 scale sanity for the operators whose INTERNALS changed this
  * round (ScaleSlope covers t07/g33/q16/e13, not these): connected
  * components (observed signatures + window stars) and the kNN join
  * (duplicate-aware r0, reference-point dedup, fused round jobs) at
  * inputs 100-1000× the bench fixtures. Prints one line per case with
  * wall seconds and a correctness probe — evidence the reworked shapes
  * hold away from the sf0.1 scale, not just at it.
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus, "ERROR")
    import spark.implicits._

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"SCALECHECK $name wall=${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }

    // ── components: 2M-edge chain forest (40k chains × 50 nodes) through
    // runStars — the t50 topology at 2000× the fixture edges
    locally {
      val edges = spark.range(2000000).toDF("id")
        .where(col("id") % 50 =!= 49)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
      val comp = timed("runStars_2M_chain_forest") {
        val c = graft.operators.ConnectedComponents.runStars(edges, "src", "dst")
        c.count(); c
      }
      val bad = comp.where(col("component") =!= (col("id") - (col("id") % 50))).count()
      println(s"SCALECHECK runStars_2M correctness: mislabeled=$bad (expect 0)")
      graft.core.Blocks.scrub(spark, blocking = true)
    }

    // ── components: min-label path on 200k quasi-cliques (the near-dup
    // regime run() serves) — 1.8M edges, diameter 2
    locally {
      val edges = spark.range(1800000).toDF("id")
        .select((col("id") / 9).cast("long").as("grp"), (col("id") % 9).as("m"))
        .select((col("grp") * 10).as("src"), (col("grp") * 10 + col("m") + 1).as("dst"))
      val comp = timed("run_minlabel_200k_cliques") {
        val c = graft.operators.ConnectedComponents.run(edges, "src", "dst")
        c.count(); c
      }
      val bad = comp.where(col("component") =!= (col("id") - pmod(col("id"), lit(10)))).count()
      println(s"SCALECHECK run_minlabel correctness: mislabeled=$bad (expect 0)")
      graft.core.Blocks.scrub(spark, blocking = true)
    }

    // ── components: 1M-edge STAR graph (round 21, VERDICT item 3) — the
    // adversarial hub for the window-based star rounds: every edge shares
    // vertex 0, so the `min over (partition by u)` window sees ONE key with
    // 1M rows in a single task's sort. This pins that the round completes
    // within a sane wall (WindowExec buffers spill past
    // spark.sql.windowExec.buffer.spill.threshold) instead of OOMing or
    // stalling — the documented trade against the old groupBy+join form
    // (whose single-key skew the AQE join split could shave at scale, at
    // the price of a second full edge shuffle per round).
    locally {
      val edges = spark.range(1000000).toDF("id")
        .select(lit(0L).as("src"), (col("id") + 1).as("dst"))
      val comp = timed("runStars_1M_hub_star") {
        val c = graft.operators.ConnectedComponents.runStars(edges, "src", "dst")
        c.count(); c
      }
      val bad = comp.where(col("component") =!= 0L).count()
      val n = comp.count()
      println(s"SCALECHECK runStars_hub correctness: mislabeled=$bad of $n (expect 0 of 1000001)")
      graft.core.Blocks.scrub(spark, blocking = true)
    }

    // ── streaming: changelog-vs-snapshot RocksDB commit A/B at a state
    // size where the difference is measurable (round 21, VERDICT item 5):
    // 20 micro-batches × 50k NEW keys each — by the last batches the store
    // holds ~1M keys, so a full-snapshot commit zips the whole store per
    // batch while changelog appends only the 50k-key delta. The s-suite
    // fixtures (≤200 rows, 4-6 batches) cannot show this; the bench-level
    // flatness of the r20 change is expected and this is the evidence it
    // was still the right setting.
    locally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete()
      }
      val src = java.nio.file.Files.createTempDirectory("sc_stream_src").toString
      (0 until 20).foreach { b =>
        // 64-char string keys: ~1M × ~100 B of RocksDB state by the last
        // batches — enough bytes that the per-batch full-store zip+fsync
        // is visible against the changelog's 50k-entry delta append
        spark.range(50000).select(
            lpad((col("id") + b * 50000L).cast("string"), 64, "k").as("key"),
            lit(1L).as("v"))
          .coalesce(1).write.parquet(s"$src/stage$b")
        val part = new java.io.File(s"$src/stage$b").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(src, f"f$b%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + b * 60000L)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
      def run(changelog: Boolean): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory("sc_stream_ck").toString
        val sess = spark.newSession()
        sess.conf.set("spark.sql.shuffle.partitions", "4")
        sess.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        sess.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          changelog.toString)
        val qname = s"sc_stream_${if (changelog) "changelog" else "snapshot"}"
        try {
          val q = sess.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
            .groupBy("key").count()
            .writeStream.format("memory").queryName(qname)
            .option("checkpointLocation", tmp + "/ckpt")
            .outputMode("update")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          timed(qname) { q.awaitTermination() }
          val rows = sess.table(qname).count()
          println(s"SCALECHECK $qname rows=$rows (expect 1000000)")
        } finally {
          try {
            val ss = Class.forName(
              "org.apache.spark.sql.execution.streaming.state.StateStore$")
            ss.getMethod("unloadAll").invoke(ss.getField("MODULE$").get(null))
          } catch { case _: ReflectiveOperationException => }
          // drop the memory sink's rows (a few hundred MB across the four
          // runs) so they don't sit in the shared heap skewing the kNN
          // timing below
          sess.catalog.dropTempView(qname)
          rm(new java.io.File(tmp))
        }
      }
      // alternate modes twice: the first pair absorbs JIT/classload warmup,
      // the second pair is the warm-vs-warm comparison (order-fair)
      run(changelog = false)
      run(changelog = true)
      run(changelog = false)
      run(changelog = true)
      rm(new java.io.File(src))
    }

    // ── kNN: 1M right points (with 4× duplication — the ndv path), 20k
    // left, k=3; probe: every left row resolves exactly k neighbors and
    // ranks are 1..k
    locally {
      val right = spark.range(1000000).toDF("rid")
        .withColumn("rg", call_function("st_point",
          (col("rid") % 250000).cast("double") % 500.0,
          floor((col("rid") % 250000) / 500).cast("double")))
      val left = spark.range(20000).toDF("lid")
        .withColumn("lg", call_function("st_point",
          (col("lid") % 500).cast("double") + 0.25,
          (col("lid") % 400).cast("double") + 0.25))
      val out = timed("knn_1M_right_20k_left_k3") {
        val o = graft.operators.SpatialJoin.knn(left, right, "lg", "rg", 3, "lid", "rid")
        o.localCheckpoint(true)
      }
      val perLeft = out.groupBy("lid").agg(count(lit(1)).as("n"), max("knn_rank").as("mr"))
      val bad = perLeft.where(col("n") =!= 3 || col("mr") =!= 3).count()
      println(s"SCALECHECK knn_1M correctness: bad-left-rows=$bad (expect 0)")
    }

    spark.stop()
  }
}
