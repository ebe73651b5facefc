package graft

import org.apache.spark.sql.functions._
import graft.sources.{ArrowIpc, GeoParquet}

/** Exercised against the reference's nybb.arrow (its own bench input) —
  * interleaved-GeoArrow geometry + mixed property types. */
class ArrowIpcSpec extends SparkTestBase {

  private val fixture = "/root/reference/fixtures/nybb.arrow"

  test("nybb.arrow: schema, count, property decode") {
    val df = ArrowIpc.read(spark, fixture)
    assert(df.columns.toSeq ==
      Seq("BoroCode", "BoroName", "Shape_Leng", "Shape_Area", "geometry"))
    assert(df.schema("geometry").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(df.count() == 5)
    assert(df.where("BoroName = 'Manhattan'").count() == 1)
  }

  test("DSv2: format(\"arrowipc\") matches read(), prunes at decode level") {
    // full read through the DSv2 path matches the function-style read
    val v2 = spark.read.format("arrowipc").load(fixture)
    assert(v2.columns.toSeq ==
      Seq("BoroCode", "BoroName", "Shape_Leng", "Shape_Area", "geometry"))
    val fn = ArrowIpc.read(spark, fixture)
    assert(v2.selectExpr("BoroCode", "BoroName", "ST_AsText(geometry) AS w")
      .except(fn.selectExpr("BoroCode", "BoroName", "ST_AsText(geometry) AS w")).isEmpty)
    // projection is pushed into the scan (visible in the plan) ...
    val pruned = spark.read.format("arrowipc").load(fixture).select("BoroName")
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("required=[BoroName]"), s"pushdown missing in:\n$planStr")
    // ... and reaches the DECODE level: 5 cells materialize (BoroName per
    // row), and NO JTS geometry is built — on nybb the geometry build is
    // the dominant per-row cost. Local mode shares the JVM so the
    // diagnostics adders see task-side work.
    graft.sources.ArrowIpc.decodedCells.reset()
    graft.sources.ArrowIpc.decodedGeoms.reset()
    assert(pruned.collect().map(_.getString(0)).sorted.head == "Bronx")
    assert(graft.sources.ArrowIpc.decodedCells.sum() == 5)
    assert(graft.sources.ArrowIpc.decodedGeoms.sum() == 0)
    // geometry-only projection builds 5 geometries and zero property cells
    graft.sources.ArrowIpc.decodedCells.reset()
    graft.sources.ArrowIpc.decodedGeoms.reset()
    val ng = spark.read.format("arrowipc").load(fixture)
      .selectExpr("ST_NPoints(geometry) AS np").collect().map(_.getInt(0))
    assert(ng.length == 5 && ng.forall(_ > 0))
    assert(graft.sources.ArrowIpc.decodedCells.sum() == 0)
    assert(graft.sources.ArrowIpc.decodedGeoms.sum() == 5)
  }

  test("DSv2 pruning is BYTE level: pruned columns' buffers are never fetched") {
    // nybb's bytes are dominated by the multipolygon coordinate buffers, so
    // a property-only projection must fetch a small fraction of the body
    graft.sources.ArrowIpc.bodyBytesRead.reset()
    graft.sources.ArrowIpc.bodyBytesTotal.reset()
    val names = spark.read.format("arrowipc").load(fixture).select("BoroName")
      .collect().map(_.getString(0)).sorted
    assert(names.head == "Bronx" && names.length == 5)
    val read = graft.sources.ArrowIpc.bodyBytesRead.sum()
    val total = graft.sources.ArrowIpc.bodyBytesTotal.sum()
    assert(total > 0, "pruned path must have engaged (total body accounted)")
    assert(read > 0 && read < total / 10,
      s"byte-level prune: read $read of $total body bytes — geometry buffers must be skipped")
    // mixed subset through the pruned buffer path matches the full read
    val sub = spark.read.format("arrowipc").load(fixture)
      .selectExpr("BoroCode", "ST_AsText(geometry) AS w")
    val full = ArrowIpc.read(spark, fixture)
      .selectExpr("BoroCode", "ST_AsText(geometry) AS w")
    assert(sub.except(full).isEmpty && full.except(sub).isEmpty)
  }

  test("pruned reader handles buffers past the 64 MB staging chunk (multi-chunk fill)") {
    // one batch whose binary data buffer (~80 MB) spans two staging chunks
    // of the long-safe fill path; a truncation or offset bug would corrupt
    // the payload checksums
    val out = java.nio.file.Files.createTempDirectory("arrowbig").toString
    // `note` makes (fid, payload) a PROPER subset, forcing the pruned path.
    // payload stays an UNTAGGED plain binary column (geometryCol absent from
    // the schema) so read-back is byte-identical — a geoarrow.wkb tag would
    // canonicalize the WKB (+4 EWKB bytes) and mask nothing/everything.
    val df = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CONCAT('row-', CAST(id AS STRING)) AS note,
             ST_AsBinary(ST_Buffer(ST_Point(CAST(id AS DOUBLE), 0.0), 1.0, 1024)) AS payload
      FROM range(1200)""")
    ArrowIpc.write(df.coalesce(1), out)
    val expected = df.selectExpr("fid", "CAST(crc32(payload) AS BIGINT) AS crc")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // payload-only projection → pruned byte-level path
    val got = spark.read.format("arrowipc").load(out)
      .selectExpr("fid", "CAST(crc32(payload) AS BIGINT) AS crc")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 1200 && got == expected, "multi-chunk payload roundtrip must be exact")
  }

  test("dictionary-encoded columns: values decode, byte-level prune engages") {
    // hand-written fixture (ArrowIpc.write never dictionary-encodes, but
    // external producers — GDAL property columns — do): a dict-encoded
    // string column + a geometry column whose buffers dominate the body
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.types.pojo._
    import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider}
    import org.apache.arrow.vector.types.pojo.DictionaryEncoding
    val dirOut = java.nio.file.Files.createTempDirectory("arrowdict").toString
    val file = new java.io.File(dirOut, "part-00000.arrow")
    val n = 200
    val cats = Array("alpha", "beta", "gamma")
    val alloc = new RootAllocator()
    var dictValues: VarCharVector = null
    try {
      dictValues = new VarCharVector("cat_dict", alloc)
      dictValues.allocateNew()
      cats.zipWithIndex.foreach { case (s, i) => dictValues.setSafe(i, s.getBytes("UTF-8")) }
      dictValues.setValueCount(cats.length)
      val enc = new DictionaryEncoding(7L, false, new ArrowType.Int(32, true))
      val dict = new Dictionary(dictValues, enc)
      val provider = new DictionaryProvider.MapDictionaryProvider(dict)
      val schema = new Schema(java.util.List.of(
        new Field("fid", FieldType.nullable(new ArrowType.Int(64, true)), java.util.List.of[Field]()),
        new Field("cat", new FieldType(true, new ArrowType.Int(32, true), enc, null),
          java.util.List.of[Field]()),
        new Field("geometry", new FieldType(true, new ArrowType.Binary(), null,
          java.util.Map.of("ARROW:extension:name", "geoarrow.wkb")), java.util.List.of[Field]())))
      val root = VectorSchemaRoot.create(schema, alloc)
      try {
        root.allocateNew()
        val ids = root.getVector(0).asInstanceOf[BigIntVector]
        val cix = root.getVector(1).asInstanceOf[IntVector]
        val geo = root.getVector(2).asInstanceOf[VarBinaryVector]
        (0 until n).foreach { i =>
          ids.setSafe(i, i.toLong)
          cix.setSafe(i, i % 3)
          geo.setSafe(i, graft.core.GeomOps.buffer(
            graft.core.GeomOps.point(i.toDouble, 0.0), 1.0))
        }
        root.setRowCount(n)
        val out = new java.io.FileOutputStream(file)
        val writer = new org.apache.arrow.vector.ipc.ArrowFileWriter(
          root, provider, out.getChannel)
        try { writer.start(); writer.writeBatch(); writer.end() }
        finally { writer.close(); out.close() }
      } finally root.close()
    } finally {
      if (dictValues != null) dictValues.close()
      alloc.close()
    }
    // full read: schema maps the dict column by its VALUE type, and cells
    // are the looked-up values, not raw indices
    val full = ArrowIpc.read(spark, file.getAbsolutePath)
    assert(full.schema("cat").dataType == org.apache.spark.sql.types.StringType)
    val sample = full.selectExpr("fid", "cat").orderBy("fid").limit(4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(sample == Seq(0L -> "alpha", 1L -> "beta", 2L -> "gamma", 3L -> "alpha"),
      s"dictionary values must decode: $sample")
    // property-only projection goes through the pruned byte-level path and
    // skips the dominant geometry buffers (<10% of body read)
    graft.sources.ArrowIpc.bodyBytesRead.reset()
    graft.sources.ArrowIpc.bodyBytesTotal.reset()
    val counted = spark.read.format("arrowipc").load(file.getAbsolutePath)
      .groupBy("cat").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counted == Map("alpha" -> 67L, "beta" -> 67L, "gamma" -> 66L), s"$counted")
    val read = graft.sources.ArrowIpc.bodyBytesRead.sum()
    val total = graft.sources.ArrowIpc.bodyBytesTotal.sum()
    assert(total > 0, "pruned path must have engaged on the dictionary file")
    assert(read > 0 && read < total / 10,
      s"dictionary file byte-level prune: read $read of $total body bytes")
    // pruned mixed projection (dict + geometry) matches the full read
    val viaPruned = spark.read.format("arrowipc").load(file.getAbsolutePath)
      .selectExpr("cat", "ST_AsText(ST_Centroid(geometry)) AS c")
    val viaFull = full.selectExpr("cat", "ST_AsText(ST_Centroid(geometry)) AS c")
    assert(viaPruned.except(viaFull).isEmpty && viaFull.except(viaPruned).isEmpty)
  }

  test("dictionary-encoded GEOMETRY column decodes through the dictionary (both decode paths)") {
    // external producers dict-encode repeated footprints (a few distinct
    // polygons over millions of rows); the geometry decoder must resolve
    // the index through the dictionary, not hand the Integer to decodeGeo
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.types.pojo._
    import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider}
    val dirOut = java.nio.file.Files.createTempDirectory("arrowdictgeo").toString
    val file = new java.io.File(dirOut, "part-00000.arrow")
    val n = 90
    val shapes = Array((10.0, 0.0), (20.0, 5.0), (30.0, -5.0))
    val alloc = new RootAllocator()
    var dictValues: VarBinaryVector = null
    try {
      dictValues = new VarBinaryVector("geom_dict", alloc)
      dictValues.allocateNew()
      shapes.zipWithIndex.foreach { case ((x, y), i) =>
        dictValues.setSafe(i, graft.core.GeomOps.point(x, y)) }
      dictValues.setValueCount(shapes.length)
      val enc = new DictionaryEncoding(11L, false, new ArrowType.Int(32, true))
      val provider = new DictionaryProvider.MapDictionaryProvider(new Dictionary(dictValues, enc))
      val schema = new Schema(java.util.List.of(
        new Field("fid", FieldType.nullable(new ArrowType.Int(64, true)), java.util.List.of[Field]()),
        new Field("geometry", new FieldType(true, new ArrowType.Int(32, true), enc,
          java.util.Map.of("ARROW:extension:name", "geoarrow.wkb")), java.util.List.of[Field]())))
      val root = VectorSchemaRoot.create(schema, alloc)
      try {
        root.allocateNew()
        val ids = root.getVector(0).asInstanceOf[BigIntVector]
        val gix = root.getVector(1).asInstanceOf[IntVector]
        (0 until n).foreach { i => ids.setSafe(i, i.toLong); gix.setSafe(i, i % 3) }
        root.setRowCount(n)
        val out = new java.io.FileOutputStream(file)
        val writer = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, provider, out.getChannel)
        try { writer.start(); writer.writeBatch(); writer.end() }
        finally { writer.close(); out.close() }
      } finally root.close()
    } finally {
      if (dictValues != null) dictValues.close()
      alloc.close()
    }
    // full-batch path (all columns wanted)
    val full = ArrowIpc.read(spark, file.getAbsolutePath)
    val xs = full.selectExpr("fid", "ST_X(geometry) AS x").orderBy("fid").limit(3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(xs == Seq(0L -> 10.0, 1L -> 20.0, 2L -> 30.0), s"dict geometry must decode: $xs")
    // pruned path (proper column subset): geometry-only projection
    val pruned = spark.read.format("arrowipc").load(file.getAbsolutePath)
      .selectExpr("ST_Y(geometry) AS y").collect().map(_.getDouble(0)).sorted
    assert(pruned.count(_ == 0.0) == 30 && pruned.count(_ == 5.0) == 30 &&
      pruned.count(_ == -5.0) == 30, s"pruned dict geometry decode: ${pruned.distinct.toSeq}")
  }

  test("view-typed columns (Utf8View property + BinaryView geometry) decode AND prune") {
    // the reference treats WkbView/WktView as first-class geometry types
    // (rust/geoarrow-schema/src/datatype.rs:50-66) and newer Arrow
    // producers emit view layouts by default. Two record batches so the
    // PER-BATCH variadicBufferCounts slicing is exercised; strings are
    // >12 bytes so they live in variadic data buffers, not inline views.
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.types.pojo._
    val dirOut = java.nio.file.Files.createTempDirectory("arrowview").toString
    val file = new java.io.File(dirOut, "part-00000.arrow")
    val n = 150
    val alloc = new RootAllocator()
    val schema = new Schema(java.util.List.of(
      new Field("fid", FieldType.nullable(new ArrowType.Int(64, true)), java.util.List.of[Field]()),
      new Field("name", FieldType.nullable(new ArrowType.Utf8View()), java.util.List.of[Field]()),
      new Field("geometry", new FieldType(true, new ArrowType.BinaryView(), null,
        java.util.Map.of("ARROW:extension:name", "geoarrow.wkb")), java.util.List.of[Field]())))
    val root = VectorSchemaRoot.create(schema, alloc)
    try {
      val out = new java.io.FileOutputStream(file)
      val writer = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, out.getChannel)
      try {
        writer.start()
        for (batch <- 0 until 2) {
          root.allocateNew()
          val ids = root.getVector(0).asInstanceOf[BigIntVector]
          val names = root.getVector(1).asInstanceOf[ViewVarCharVector]
          val geo = root.getVector(2).asInstanceOf[ViewVarBinaryVector]
          (0 until n).foreach { i =>
            val fid = batch * n + i
            ids.setSafe(i, fid.toLong)
            names.setSafe(i, s"feature-name-number-$fid".getBytes("UTF-8"))
            geo.setSafe(i, graft.core.GeomOps.buffer(
              graft.core.GeomOps.point(fid.toDouble, 0.0), 1.0))
          }
          root.setRowCount(n)
          writer.writeBatch()
        }
        writer.end()
      } finally { writer.close(); out.close() }
    } finally { root.close(); alloc.close() }
    // full read: view columns map to String/Binary and values decode
    val full = ArrowIpc.read(spark, file.getAbsolutePath)
    assert(full.schema("name").dataType == org.apache.spark.sql.types.StringType)
    assert(full.schema("geometry").dataType == org.apache.spark.sql.types.BinaryType)
    assert(full.count() == 2L * n)
    val sample = full.selectExpr("fid", "name").orderBy("fid").limit(2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(sample == Seq(0L -> "feature-name-number-0", 1L -> "feature-name-number-1"))
    // property-only projection takes the PRUNED byte-level path: the
    // BinaryView geometry's variadic data buffers dominate the body and
    // must never be fetched
    graft.sources.ArrowIpc.bodyBytesRead.reset()
    graft.sources.ArrowIpc.bodyBytesTotal.reset()
    val got = spark.read.format("arrowipc").load(file.getAbsolutePath)
      .selectExpr("fid", "name").orderBy("fid")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(got.length == 2 * n && got(37)._2 == "feature-name-number-37")
    val read = graft.sources.ArrowIpc.bodyBytesRead.sum()
    val total = graft.sources.ArrowIpc.bodyBytesTotal.sum()
    assert(total > 0, "pruned path must have engaged on the view file")
    assert(read > 0 && read < total / 10,
      s"view-file byte-level prune: read $read of $total body bytes")
    // mixed projection (view property + view geometry) through the pruned
    // path equals the full reader — variadic slicing must be exact
    val viaPruned = spark.read.format("arrowipc").load(file.getAbsolutePath)
      .selectExpr("name", "ST_AsText(ST_Centroid(geometry)) AS c")
    val viaFull = full.selectExpr("name", "ST_AsText(ST_Centroid(geometry)) AS c")
    assert(viaPruned.except(viaFull).isEmpty && viaFull.except(viaPruned).isEmpty)
  }

  test("nested-dictionary children decode real values and prune at byte level") {
    // a separated-layout point whose x/y children are dictionary-encoded
    // doubles: the wire batches hold 4-byte indexes (which is what the
    // buffer-run slicer sees), and the decode must resolve them through
    // the loaded dictionaries — raw getObject would return INDEXES as
    // coordinates, silently wrong in both read paths
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.complex.StructVector
    import org.apache.arrow.vector.types.pojo._
    import org.apache.arrow.vector.types.FloatingPointPrecision
    import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider}
    val dirOut = java.nio.file.Files.createTempDirectory("arrownestdict").toString
    val file = new java.io.File(dirOut, "part-00000.arrow")
    val n = 120
    val xs = Array(10.25, 20.5, 30.75)
    val ys = Array(-5.5, 5.5)
    val alloc = new RootAllocator()
    var dx: Float8Vector = null
    var dy: Float8Vector = null
    try {
      dx = new Float8Vector("x_dict", alloc)
      dx.allocateNew(); xs.zipWithIndex.foreach { case (v, i) => dx.setSafe(i, v) }
      dx.setValueCount(xs.length)
      dy = new Float8Vector("y_dict", alloc)
      dy.allocateNew(); ys.zipWithIndex.foreach { case (v, i) => dy.setSafe(i, v) }
      dy.setValueCount(ys.length)
      val encX = new DictionaryEncoding(1L, false, new ArrowType.Int(32, true))
      val encY = new DictionaryEncoding(2L, false, new ArrowType.Int(32, true))
      val provider = new DictionaryProvider.MapDictionaryProvider(
        new Dictionary(dx, encX), new Dictionary(dy, encY))
      val fx = new Field("x", new FieldType(true, new ArrowType.Int(32, true), encX, null),
        java.util.List.of[Field]())
      val fy = new Field("y", new FieldType(true, new ArrowType.Int(32, true), encY, null),
        java.util.List.of[Field]())
      val schema = new Schema(java.util.List.of(
        new Field("fid", FieldType.nullable(new ArrowType.Int(64, true)), java.util.List.of[Field]()),
        new Field("geometry", new FieldType(true, new ArrowType.Struct(), null,
          java.util.Map.of("ARROW:extension:name", "geoarrow.point")),
          java.util.List.of(fx, fy)),
        new Field("blob", FieldType.nullable(new ArrowType.Binary()), java.util.List.of[Field]())))
      val root = VectorSchemaRoot.create(schema, alloc)
      try {
        root.allocateNew()
        val ids = root.getVector(0).asInstanceOf[BigIntVector]
        val sv = root.getVector(1).asInstanceOf[StructVector]
        val cx = sv.getChild("x").asInstanceOf[IntVector]
        val cy = sv.getChild("y").asInstanceOf[IntVector]
        val blob = root.getVector(2).asInstanceOf[VarBinaryVector]
        (0 until n).foreach { i =>
          ids.setSafe(i, i.toLong)
          sv.setIndexDefined(i)
          cx.setSafe(i, i % xs.length)
          cy.setSafe(i, i % ys.length)
          blob.setSafe(i, Array.fill[Byte](2048)((i % 127).toByte)) // dominates body
        }
        root.setRowCount(n)
        val out = new java.io.FileOutputStream(file)
        val writer = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, provider, out.getChannel)
        try { writer.start(); writer.writeBatch(); writer.end() }
        finally { writer.close(); out.close() }
      } finally root.close()
    } finally {
      if (dx != null) dx.close()
      if (dy != null) dy.close()
      alloc.close()
    }
    // full reader resolves the nested dictionaries to real coordinates
    val full = ArrowIpc.read(spark, file.getAbsolutePath)
    val c0 = full.where("fid = 0").selectExpr("ST_X(geometry) AS x", "ST_Y(geometry) AS y")
      .head()
    assert(c0.getDouble(0) == 10.25 && c0.getDouble(1) == -5.5,
      s"nested-dict coords must be VALUES not indexes: $c0")
    // geometry-only projection goes through the PRUNED path (blob column
    // dominates and is skipped), with identical resolution
    graft.sources.ArrowIpc.bodyBytesRead.reset()
    graft.sources.ArrowIpc.bodyBytesTotal.reset()
    val viaPruned = spark.read.format("arrowipc").load(file.getAbsolutePath)
      .selectExpr("fid", "ST_AsText(geometry) AS w")
    val viaFull = full.selectExpr("fid", "ST_AsText(geometry) AS w")
    assert(viaPruned.except(viaFull).isEmpty && viaFull.except(viaPruned).isEmpty)
    val read = graft.sources.ArrowIpc.bodyBytesRead.sum()
    val total = graft.sources.ArrowIpc.bodyBytesTotal.sum()
    assert(total > 0, "pruned path must have engaged on the nested-dict file")
    assert(read > 0 && read < total / 10,
      s"nested-dict byte-level prune: read $read of $total body bytes — blob must be skipped")
  }

  test("nested property layouts (List, ListView, Struct, RunEndEncoded) decode AND prune") {
    // external producers (GDAL field lists, newer Arrow emitters using the
    // view/REE layouts) carry nested PROPERTY columns, not just nested
    // geometry. Schema maps them to Array/Struct/logical types, values
    // decode through BOTH readers, and the byte-level pruner handles their
    // pre-order buffer runs (ListView = validity/offsets/sizes, REE = 0
    // own buffers + [run_ends, values] children) with no fallback.
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.complex.{ListVector, ListViewVector, RunEndEncodedVector, StructVector}
    import org.apache.arrow.vector.types.pojo._
    import org.apache.arrow.vector.types.FloatingPointPrecision
    val dirOut = java.nio.file.Files.createTempDirectory("arrownested").toString
    val file = new java.io.File(dirOut, "part-00000.arrow")
    val n = 120
    val alloc = new RootAllocator()
    try {
      val ids = new BigIntVector("fid", alloc)
      ids.allocateNew(n)
      val lv = ListViewVector.empty("lv", alloc)
      val lvw = lv.getWriter; lvw.allocate()
      val tags = ListVector.empty("tags", alloc)
      val tw = tags.getWriter; tw.allocate()
      val meta = StructVector.empty("meta", alloc)
      val ma = meta.addOrGet("a",
        FieldType.nullable(new ArrowType.Int(32, true)), classOf[IntVector])
      val mb = meta.addOrGet("b",
        FieldType.nullable(new ArrowType.Utf8()), classOf[VarCharVector])
      meta.allocateNew()
      val ree = RunEndEncodedVector.empty("cat", alloc)
      ree.initializeChildrenFromFields(java.util.List.of(
        new Field("run_ends", FieldType.notNullable(new ArrowType.Int(32, true)),
          java.util.List.of[Field]()),
        new Field("values", FieldType.nullable(new ArrowType.Utf8()),
          java.util.List.of[Field]())))
      val runEnds = ree.getRunEndsVector.asInstanceOf[IntVector]
      val reeVals = ree.getValuesVector.asInstanceOf[VarCharVector]
      runEnds.allocateNew(3); reeVals.allocateNew()
      val geo = new VarBinaryVector(new Field("geometry",
        new FieldType(true, new ArrowType.Binary(), null,
          java.util.Map.of("ARROW:extension:name", "geoarrow.wkb")), null), alloc)
      geo.allocateNew()
      (0 until n).foreach { i =>
        ids.setSafe(i, i.toLong)
        lvw.setPosition(i); lvw.startListView()
        (0 to i % 4).foreach(j => lvw.writeInt(i * 10 + j))
        lvw.endListView()
        tw.setPosition(i); tw.startList()
        tw.float8().writeFloat8(i * 0.5); tw.float8().writeFloat8(i * 0.25)
        tw.endList()
        meta.setIndexDefined(i)
        ma.setSafe(i, i * 2)
        mb.setSafe(i, s"m${i % 5}".getBytes("UTF-8"))
        geo.setSafe(i, graft.core.GeomOps.buffer( // dominates the body bytes
          graft.core.GeomOps.point(i.toDouble, 0.0), 1.0))
      }
      // three runs of 40 rows each
      runEnds.set(0, 40); runEnds.set(1, 80); runEnds.set(2, n)
      runEnds.setValueCount(3)
      Seq("r0", "r1", "r2").zipWithIndex.foreach { case (s, i) =>
        reeVals.setSafe(i, s.getBytes("UTF-8")) }
      reeVals.setValueCount(3)
      ids.setValueCount(n); lv.setValueCount(n); tags.setValueCount(n)
      meta.setValueCount(n); ree.setValueCount(n); geo.setValueCount(n)
      val root = new VectorSchemaRoot(java.util.List.of[FieldVector](
        ids, lv, tags, meta, ree, geo))
      try {
        val out = new java.io.FileOutputStream(file)
        val writer = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, out.getChannel)
        try { writer.start(); writer.writeBatch(); writer.end() }
        finally { writer.close(); out.close() }
      } finally root.close() // closes the vectors it wraps
    } finally alloc.close()
    // full read: nested layouts map to Spark types and values decode
    import org.apache.spark.sql.types._
    val full = ArrowIpc.read(spark, file.getAbsolutePath)
    assert(full.schema("lv").dataType == ArrayType(IntegerType, containsNull = true))
    assert(full.schema("tags").dataType == ArrayType(DoubleType, containsNull = true))
    assert(full.schema("meta").dataType ==
      StructType(Seq(StructField("a", IntegerType), StructField("b", StringType))))
    assert(full.schema("cat").dataType == StringType) // REE surfaces its LOGICAL type
    val r7 = full.where("fid = 7")
      .selectExpr("lv", "tags", "meta.a", "meta.b", "cat").head()
    assert(r7.getSeq[Int](0) == Seq(70, 71, 72, 73), s"ListView row: $r7")
    assert(r7.getSeq[Double](1) == Seq(3.5, 1.75), s"List row: $r7")
    assert(r7.getInt(2) == 14 && r7.getString(3) == "m2", s"Struct row: $r7")
    assert(r7.getString(4) == "r0", s"REE row: $r7")
    assert(full.where("fid = 100").selectExpr("cat").head().getString(0) == "r2")
    // proper-subset projection → PRUNED byte-level path; every nested
    // layout must reassemble exactly (compare via canonical JSON)
    graft.sources.ArrowIpc.bodyBytesRead.reset()
    graft.sources.ArrowIpc.bodyBytesTotal.reset()
    val sel = Seq("fid", "to_json(struct(lv, tags, meta, cat)) AS j")
    val viaPruned = spark.read.format("arrowipc").load(file.getAbsolutePath)
      .selectExpr(sel: _*)
    val viaFull = full.selectExpr(sel: _*)
    assert(viaPruned.except(viaFull).isEmpty && viaFull.except(viaPruned).isEmpty)
    val read = graft.sources.ArrowIpc.bodyBytesRead.sum()
    val total = graft.sources.ArrowIpc.bodyBytesTotal.sum()
    assert(total > 0, "pruned path must have engaged on the nested-layout file")
    assert(read > 0 && read < total / 2,
      s"nested-layout byte prune: read $read of $total body bytes — geometry must be skipped")
    // aggregation over the REE logical column sees the run values
    val counted = spark.read.format("arrowipc").load(file.getAbsolutePath)
      .groupBy("cat").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counted == Map("r0" -> 40L, "r1" -> 40L, "r2" -> 40L), s"$counted")
  }

  test("mid-stream DELTA and REPLACEMENT dictionary batches decode per-batch-correct values") {
    // a foreign producer (pyarrow can emit both) may grow a dictionary with
    // delta batches or re-emit it wholesale between record batches; the
    // reader's per-cell lookup rides the live dictionary vector, so each
    // record batch decodes against the dictionary state at its point in
    // the stream. Constructed at the message level — our own writer never
    // emits mid-stream dictionaries.
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.types.pojo._
    import org.apache.arrow.vector.dictionary._
    import org.apache.arrow.vector.ipc.WriteChannel
    import org.apache.arrow.vector.ipc.message._
    import scala.jdk.CollectionConverters._
    val dirOut = java.nio.file.Files.createTempDirectory("arrowdelta").toString
    val alloc = new RootAllocator()
    try {
      val enc = new DictionaryEncoding(7L, false, new ArrowType.Int(32, true))
      def dictBatch(vals: Seq[String], isDelta: Boolean): ArrowDictionaryBatch = {
        val dv = new VarCharVector("d", alloc); dv.allocateNew()
        vals.zipWithIndex.foreach { case (s, i) => dv.setSafe(i, s.getBytes("UTF-8")) }
        dv.setValueCount(vals.length)
        val root = new VectorSchemaRoot(Seq(dv.getField).asJava, Seq[FieldVector](dv).asJava, vals.length)
        try new ArrowDictionaryBatch(7L, new VectorUnloader(root).getRecordBatch, isDelta)
        finally root.close()
      }
      def recBatch(ids: Seq[Int]): ArrowRecordBatch = {
        val iv = new IntVector("color", alloc); iv.allocateNew()
        ids.zipWithIndex.foreach { case (v, i) => iv.setSafe(i, v) }
        iv.setValueCount(ids.length)
        val root = new VectorSchemaRoot(Seq(iv.getField).asJava, Seq[FieldVector](iv).asJava, ids.length)
        try new VectorUnloader(root).getRecordBatch finally root.close()
      }
      // wire schema carries the VALUE type + the encoding (IPC message format)
      val wireSchema = new Schema(Seq(new Field("color",
        new FieldType(true, new ArrowType.Utf8(), enc, null),
        null.asInstanceOf[java.util.List[Field]])).asJava)
      // batches retain buffer slices — close each after it hits the wire
      def serD(wch: WriteChannel, b: ArrowDictionaryBatch): Unit =
        try MessageSerializer.serialize(wch, b) finally b.close()
      def serR(wch: WriteChannel, b: ArrowRecordBatch): Unit =
        try MessageSerializer.serialize(wch, b) finally b.close()
      def writeStream(file: java.io.File, second: () => ArrowDictionaryBatch): Unit = {
        val out = new java.io.FileOutputStream(file)
        try {
          val wch = new WriteChannel(out.getChannel)
          MessageSerializer.serialize(wch, wireSchema)
          serD(wch, dictBatch(Seq("red", "green"), false))
          serR(wch, recBatch(Seq(0, 1)))
          serD(wch, second())
          serR(wch, recBatch(Seq(2, 0)))
          wch.writeIntLittleEndian(0) // EOS
        } finally out.close()
      }
      val deltaFile = new java.io.File(dirOut, "delta.arrows")
      writeStream(deltaFile, () => dictBatch(Seq("blue"), isDelta = true)) // ids grow to {0,1,2}
      val repFile = new java.io.File(dirOut, "replace.arrows")
      writeStream(repFile, () => dictBatch(Seq("cyan", "mauve", "blue"), isDelta = false))
      val delta = ArrowIpc.read(spark, deltaFile.getAbsolutePath)
        .collect().map(_.getString(0)).toSeq
      assert(delta == Seq("red", "green", "blue", "red"), s"delta decode: $delta")
      val rep = ArrowIpc.read(spark, repFile.getAbsolutePath)
        .collect().map(_.getString(0)).toSeq
      // batch 2 decodes under the REPLACED dictionary: id 2 → blue, id 0 → cyan
      assert(rep == Seq("red", "green", "blue", "cyan"), s"replacement decode: $rep")
    } finally alloc.close()
  }

  test("STREAM-format IPC (.arrows) reads through both paths; inline dictionaries decode") {
    // pyarrow's ipc.new_stream / Flight dumps emit the footer-less stream
    // format; decode is sequential (no footer → no pruning, no splits)
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.types.pojo._
    val dirOut = java.nio.file.Files.createTempDirectory("arrowstream").toString
    val file = new java.io.File(dirOut, "part-00000.arrows")
    val n = 120
    val alloc = new RootAllocator()
    val schema = new Schema(java.util.List.of(
      new Field("fid", FieldType.nullable(new ArrowType.Int(64, true)), java.util.List.of[Field]()),
      new Field("name", FieldType.nullable(new ArrowType.Utf8()), java.util.List.of[Field]()),
      new Field("geometry", new FieldType(true, new ArrowType.Binary(), null,
        java.util.Map.of("ARROW:extension:name", "geoarrow.wkb")), java.util.List.of[Field]())))
    val root = VectorSchemaRoot.create(schema, alloc)
    try {
      val out = new java.io.FileOutputStream(file)
      val writer = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null, out.getChannel)
      try {
        writer.start()
        for (batch <- 0 until 3) { // multiple stream messages
          root.allocateNew()
          val ids = root.getVector(0).asInstanceOf[BigIntVector]
          val names = root.getVector(1).asInstanceOf[VarCharVector]
          val geo = root.getVector(2).asInstanceOf[VarBinaryVector]
          (0 until n).foreach { i =>
            val fid = batch * n + i
            ids.setSafe(i, fid.toLong)
            names.setSafe(i, s"row-$fid".getBytes("UTF-8"))
            geo.setSafe(i, graft.core.GeomOps.point(fid.toDouble, 1.0))
          }
          root.setRowCount(n)
          writer.writeBatch()
        }
        writer.end()
      } finally { writer.close(); out.close() }
    } finally { root.close(); alloc.close() }
    val full = ArrowIpc.read(spark, file.getAbsolutePath)
    assert(full.count() == 3L * n)
    val r5 = full.where("fid = 205").selectExpr("name", "ST_AsText(geometry) AS w").head()
    assert(r5.getString(0) == "row-205" && r5.getString(1) == "POINT (205 1)")
    // DSv2 projection falls back to the sequential full decode — correct,
    // just unpruned (no footer)
    val names = spark.read.format("arrowipc").load(file.getAbsolutePath)
      .select("name").collect().map(_.getString(0))
    assert(names.length == 3 * n && names.contains("row-0") && names.contains("row-359"))
    // dictionary-encoded stream column: the schema message declares the
    // VALUE type and the inline dictionary batch precedes the record
    // batch, so the external-writer shape (pyarrow/arrow-js default)
    // decodes to values — previously refused on a wrong premise
    val dictFile = new java.io.File(dirOut, "dict.arrows")
    val alloc2 = new RootAllocator()
    var dv: VarCharVector = null
    try {
      import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider}
      dv = new VarCharVector("c_dict", alloc2); dv.allocateNew()
      dv.setSafe(0, "x".getBytes("UTF-8")); dv.setValueCount(1)
      val enc = new DictionaryEncoding(3L, false, new ArrowType.Int(32, true))
      val provider = new DictionaryProvider.MapDictionaryProvider(new Dictionary(dv, enc))
      val s2 = new Schema(java.util.List.of(new Field("c",
        new FieldType(true, new ArrowType.Int(32, true), enc, null), java.util.List.of[Field]())))
      val root2 = VectorSchemaRoot.create(s2, alloc2)
      try {
        root2.allocateNew()
        root2.getVector(0).asInstanceOf[IntVector].setSafe(0, 0)
        root2.setRowCount(1)
        val out2 = new java.io.FileOutputStream(dictFile)
        val w2 = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root2, provider, out2.getChannel)
        try { w2.start(); w2.writeBatch(); w2.end() } finally { w2.close(); out2.close() }
      } finally root2.close()
    } finally { if (dv != null) dv.close(); alloc2.close() }
    val dictDf = ArrowIpc.read(spark, dictFile.getAbsolutePath)
    assert(dictDf.schema("c").dataType == org.apache.spark.sql.types.StringType,
      s"stream dictionary column must map its VALUE type: ${dictDf.schema}")
    assert(dictDf.collect().map(_.getString(0)).toSeq == Seq("x"))
  }

  test("large single .arrow splits into batch-range tasks sized to maxPartitionBytes") {
    // ~25 batches of 4096 rows with a ~200 B payload each (~20 MB file);
    // a 4 MB maxPartitionBytes must fan the ONE file into multiple tasks
    val out = java.nio.file.Files.createTempDirectory("arrowsplit").toString
    val df = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CAST(repeat(CAST(id % 97 AS STRING), 100) AS BINARY) AS payload,
             ST_AsBinary(ST_Point(CAST(id AS DOUBLE), 0.0)) AS geomwkb
      FROM range(100000)""").coalesce(1)
    ArrowIpc.write(df, out)
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, (4L * 1024 * 1024).toString)
      val v2 = spark.read.format("arrowipc").load(out)
      assert(v2.rdd.getNumPartitions > 2,
        s"one big file must fan out, got ${v2.rdd.getNumPartitions} partitions")
      // full-width (stock reader, random-access block slices) equality
      val sums = v2.selectExpr("COUNT(*) AS n", "SUM(fid) AS s",
        "SUM(crc32(payload)) AS cp").head()
      val exp = df.selectExpr("COUNT(*) AS n", "SUM(fid) AS s",
        "SUM(crc32(payload)) AS cp").head()
      assert(sums == exp, s"split full read mismatch: $sums vs $exp")
      // pruned byte-level path over the same splits
      val pr = v2.selectExpr("SUM(crc32(payload)) AS cp").head()
      assert(pr.getLong(0) == exp.getLong(2), "split pruned read mismatch")
      // function-style read shares the planner
      assert(ArrowIpc.read(spark, out).rdd.getNumPartitions > 2)
      assert(ArrowIpc.read(spark, out).count() == 100000L)
    } finally spark.conf.set(key, prev)
    // default maxPartitionBytes: the same file stays one task (plan cache
    // keys on maxPart, so this exercises the small-file path again)
    assert(spark.read.format("arrowipc").load(out).rdd.getNumPartitions >= 1)
  }

  test("date/timestamp columns: external producer shapes decode; write→read roundtrips") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector._
    // external producer: every physical datetime shape arrow-java yields
    // differently (DateDay→Integer, DateMilli→LocalDateTime, zoneless
    // TimeStampMilli→LocalDateTime, zoned TimeStampMicroTZ→epoch Long)
    val dirOut = java.nio.file.Files.createTempDirectory("arrowdt").toString
    val file = new java.io.File(dirOut, "part-00000.arrow")
    val alloc = new RootAllocator()
    try {
      val dd = new DateDayVector("dd", alloc); dd.allocateNew(3)
      dd.set(0, 19000); dd.set(1, 19001); dd.setNull(2); dd.setValueCount(3)
      val dm = new DateMilliVector("dm", alloc); dm.allocateNew(3)
      dm.set(0, 19000L * 86400000L); dm.set(1, 19001L * 86400000L); dm.setNull(2)
      dm.setValueCount(3)
      val tsn = new TimeStampMilliVector("tsn", alloc); tsn.allocateNew(3)
      tsn.set(0, 1700000000000L); tsn.set(1, 1700000001500L); tsn.setNull(2)
      tsn.setValueCount(3)
      val tsz = new TimeStampMicroTZVector("tsz", alloc, "UTC"); tsz.allocateNew(3)
      tsz.set(0, 1700000000000000L); tsz.set(1, 1700000000000001L); tsz.setNull(2)
      tsz.setValueCount(3)
      val root = new VectorSchemaRoot(java.util.List.of[FieldVector](dd, dm, tsn, tsz))
      try {
        val out = new java.io.FileOutputStream(file)
        val writer = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, out.getChannel)
        try { writer.start(); writer.writeBatch(); writer.end() }
        finally { writer.close(); out.close() }
      } finally root.close()
    } finally alloc.close()
    import org.apache.spark.sql.types._
    val df = ArrowIpc.read(spark, file.getAbsolutePath)
    assert(df.schema("dd").dataType == DateType && df.schema("dm").dataType == DateType)
    assert(df.schema("tsn").dataType == TimestampNTZType, "zoneless = wall-clock NTZ")
    assert(df.schema("tsz").dataType == TimestampType, "zoned = instant")
    val got = df.selectExpr("CAST(dd AS STRING)", "CAST(dm AS STRING)",
      "CAST(tsn AS STRING)", "unix_micros(tsz)")
      .orderBy(org.apache.spark.sql.functions.col("dd").asc_nulls_last).collect()
    assert(got(0).getString(0) == "2022-01-08" && got(0).getString(1) == "2022-01-08")
    assert(got(0).getString(2) == "2023-11-14 22:13:20")
    assert(got(0).getLong(3) == 1700000000000000L)
    assert(got(1).getString(2) == "2023-11-14 22:13:21.5")
    assert(got(2).isNullAt(0) && got(2).isNullAt(1) && got(2).isNullAt(2) && got(2).isNullAt(3))
    // DSv2 pruned path decodes the same values
    val viaPruned = spark.read.format("arrowipc").load(file.getAbsolutePath)
      .selectExpr("CAST(dd AS STRING) AS d", "unix_micros(tsz) AS u")
    val viaFull = df.selectExpr("CAST(dd AS STRING) AS d", "unix_micros(tsz) AS u")
    assert(viaPruned.except(viaFull).isEmpty && viaFull.except(viaPruned).isEmpty)

    // write→read roundtrip: top-level date/ts/ntz + nested date/ntz
    val out2 = java.nio.file.Files.createTempDirectory("arrowdtw").toString
    val src = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             DATE_ADD(DATE '2020-01-01', CAST(id AS INT)) AS d,
             TIMESTAMP '2024-06-01 12:00:00' + make_interval(0,0,0,0,0,0, id) AS ts,
             TIMESTAMP_NTZ '2024-06-01 08:30:00' + make_interval(0,0,0,0,0,0, id) AS tn,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE array(DATE_ADD(DATE '2021-01-01', CAST(id AS INT))) END AS ds,
             array(TIMESTAMP '2023-03-01 06:00:00' + make_interval(0,0,0,0,0,0, id),
                   CASE WHEN id % 4 = 0 THEN NULL
                        ELSE TIMESTAMP '2023-03-02 06:00:00' END) AS tss,
             named_struct('when', TIMESTAMP_NTZ '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, id),
                          'zoned', TIMESTAMP '2025-01-01 00:00:00' + make_interval(0,0,0,0,0,0, id)) AS ev
      FROM range(300)""").coalesce(2)
    ArrowIpc.write(src, out2)
    val back = ArrowIpc.read(spark, out2)
    val sel = Seq("fid", "CAST(d AS STRING) AS d", "unix_micros(ts) AS ts",
      "CAST(tn AS STRING) AS tn", "to_json(struct(ds, ev)) AS j",
      "unix_micros(tss[0]) AS t0", "unix_micros(tss[1]) AS t1")
    val a = src.selectExpr(sel: _*)
    val b = back.selectExpr(sel: _*)
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      "datetime write→read roundtrip must be exact")
  }

  test("nested property WRITE: array/struct columns roundtrip write→read exactly") {
    val out = java.nio.file.Files.createTempDirectory("arrownw").toString
    // arrays (with null elements and null rows), structs (with null
    // children), array<struct>, struct-with-array — plus a geometry column
    val df = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE WHEN id % 11 = 0 THEN NULL
                  ELSE array(CAST(id AS INT), CASE WHEN id % 3 = 0 THEN NULL ELSE CAST(id+1 AS INT) END)
             END AS xs,
             named_struct('a', CAST(id*2 AS INT),
                          'b', CASE WHEN id % 7 = 0 THEN CAST(NULL AS STRING) ELSE CONCAT('s', CAST(id AS STRING)) END,
                          'ws', array(CAST(id AS DOUBLE) * 0.5, CAST(id AS DOUBLE) * 0.25)) AS meta,
             array(named_struct('k', CONCAT('k', CAST(id % 4 AS STRING)), 'v', CAST(id AS DOUBLE))) AS kv,
             CASE WHEN id % 13 = 0 THEN NULL
                  ELSE map(CONCAT('m', CAST(id % 3 AS STRING)), CAST(id AS BIGINT),
                           'fixed', CASE WHEN id % 2 = 0 THEN NULL ELSE CAST(id * 7 AS BIGINT) END)
             END AS tags,
             ST_Point(CAST(id AS DOUBLE), 1.0) AS geometry
      FROM range(500)""").coalesce(2)
    ArrowIpc.write(df, out)
    val back = ArrowIpc.read(spark, out)
    assert(back.schema("xs").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType))
    assert(back.schema("tags").dataType ==
      org.apache.spark.sql.types.MapType(org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.LongType))
    // map equality order-independently: null row, null value, looked-up keys
    val mapSel = Seq("fid", "tags['fixed'] AS f", "element_at(map_filter(tags, (k, v) -> k != 'fixed'), CONCAT('m', CAST(fid % 3 AS STRING))) AS m", "size(tags) AS n")
    val ma = df.selectExpr(mapSel: _*)
    val mbk = back.selectExpr(mapSel: _*)
    assert(ma.except(mbk).isEmpty && mbk.except(ma).isEmpty, "map column roundtrip")
    // values (incl. null rows / null elements / null children) are identical
    val sel = Seq("fid", "to_json(struct(xs, meta, kv)) AS j", "ST_AsText(geometry) AS w")
    val a = df.selectExpr(sel: _*)
    val b = back.selectExpr(sel: _*)
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      "nested write→read roundtrip must be exact")
    // nested columns prune at byte level like everything else
    graft.sources.ArrowIpc.bodyBytesRead.reset()
    graft.sources.ArrowIpc.bodyBytesTotal.reset()
    val kvOnly = spark.read.format("arrowipc").load(out)
      .selectExpr("explode(kv) AS e").selectExpr("e.k AS k", "e.v AS v")
      .groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kvOnly == Map("k0" -> 125L, "k1" -> 125L, "k2" -> 125L, "k3" -> 125L), s"$kvOnly")
    val read = graft.sources.ArrowIpc.bodyBytesRead.sum()
    val total = graft.sources.ArrowIpc.bodyBytesTotal.sum()
    assert(total > 0 && read < total,
      s"nested prune: read $read of $total — other columns' buffers must be skipped")
  }

  test("dictionary WRITE: low-cardinality column roundtrips, shrinks bytes, prunes") {
    val outPlain = java.nio.file.Files.createTempDirectory("arrowdw_p").toString
    val outDict = java.nio.file.Files.createTempDirectory("arrowdw_d").toString
    // a long repeated string column — the dictionary's win case — plus a
    // geometry column and a null sprinkled in
    val df = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE WHEN id % 97 = 0 THEN NULL
                  ELSE CONCAT('category-with-a-deliberately-long-name-', CAST(id % 5 AS STRING))
             END AS cat,
             ST_Point(CAST(id AS DOUBLE), 0.0) AS geometry
      FROM range(20000)""").coalesce(2)
    ArrowIpc.write(df, outPlain)
    ArrowIpc.write(df, outDict, dictionaryColumns = Seq("cat"))
    def dirBytes(d: String): Long =
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".arrow")).map(_.length()).sum
    val (plainB, dictB) = (dirBytes(outPlain), dirBytes(outDict))
    assert(dictB < plainB * 6 / 10,
      s"dictionary write must shrink the file: $dictB vs $plainB plain")
    // values (incl. nulls) roundtrip exactly through both readers
    val back = ArrowIpc.read(spark, outDict)
    assert(back.schema("cat").dataType == org.apache.spark.sql.types.StringType)
    val a = df.selectExpr("fid", "cat")
    val b = back.selectExpr("fid", "cat")
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    // pruned DSv2 path decodes the dictionary column correctly too
    val counted = spark.read.format("arrowipc").load(outDict)
      .groupBy("cat").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("NULL") -> r.getLong(1)).toMap
    assert(counted("NULL") == 207 && counted.size == 6, s"$counted")
    // dictionary column validation is loud
    intercept[IllegalArgumentException] {
      ArrowIpc.write(df, outDict + "_bad", dictionaryColumns = Seq("fid"))
    }
    intercept[IllegalArgumentException] {
      ArrowIpc.write(df, outDict + "_bad2", dictionaryColumns = Seq("nope"))
    }
  }

  test("GeoArrow extension metadata: edges/crs roundtrip through .arrow, dispatch works") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.MetadataBuilder
    // stamp edges+crs on the column (what GeoParquet.read does) and write
    val md = new MetadataBuilder()
      .putString("geoparquet.edges", "spherical")
      .putString("geoparquet.crs", """{"id":{"authority":"EPSG","code":4326}}""")
      .build()
    // select-form attach: withColumn(name, col(name).as(name, md)) can drop
    // alias metadata depending on the child plan's shape; select keeps it
    val df = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_MakeLine(ST_Point(0.0, 0.0), ST_Point(1.0, 0.0)) AS geometry
      FROM range(3)""")
      .select(col("fid"), col("geometry").as("geometry", md))
    val out = java.nio.file.Files.createTempDirectory("arrowedges").toString
    ArrowIpc.write(df.coalesce(1), out)
    // read back: the ARROW:extension:metadata JSON re-stamps the column
    val back = ArrowIpc.read(spark, out)
    val m = back.schema("geometry").metadata
    assert(m.getString("geoparquet.edges") == "spherical")
    assert(m.getString("geoparquet.crs").contains("4326"))
    // and the cross-source measure dispatch picks haversine, same as parquet
    val len = back.select(graft.functions.GeoFunctions.edgeLength(back)).head().getDouble(0)
    assert(math.abs(len - 6371008.8 * math.Pi / 180.0) < 1e-6, s"arrow edges dispatch: $len")
    // a frame with no stamps writes no extension metadata and stays planar
    val out2 = java.nio.file.Files.createTempDirectory("arrowplanar").toString
    ArrowIpc.write(spark.sql(
      "SELECT CAST(id AS BIGINT) AS fid, ST_Point(0.0, 0.0) AS geometry FROM range(2)").coalesce(1), out2)
    val back2 = ArrowIpc.read(spark, out2)
    assert(!back2.schema("geometry").metadata.contains("geoparquet.edges"))
  }

  test("nybb.arrow geometry matches the GeoParquet WKB twin exactly") {
    val arrow = ArrowIpc.read(spark, fixture)
    val wkb = GeoParquet.read(spark, "/root/reference/fixtures/geoparquet/nybb_wkb.parquet")
    def byBoro(df: org.apache.spark.sql.DataFrame) =
      df.select(col("BoroCode").cast("int"),
          call_function("st_astext", col("geometry")).as("w"),
          call_function("st_npoints", col("geometry")).as("np"))
        .collect().map(r => r.getInt(0) -> (r.getString(1), r.getInt(2))).toMap
    val a = byBoro(arrow)
    val b = byBoro(wkb)
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.keySet.foreach(k => assert(a(k) == b(k), s"BoroCode $k differs"))
  }

  test("write → read roundtrip (geoarrow.wkb extension column)") {
    val out = java.nio.file.Files.createTempDirectory("arroww").toString
    val df = spark.sql("""
      SELECT CAST(id AS INT) AS id, CONCAT('r', id) AS label,
             CAST(id * 0.5 AS DOUBLE) AS score, id % 2 = 0 AS flag,
             ST_Point(CAST(id % 10 AS DOUBLE), CAST(id % 7 AS DOUBLE)) AS geometry
      FROM range(100)""").repartition(3)
    ArrowIpc.write(df, out)
    val back = ArrowIpc.read(spark, out)
    assert(back.count() == 100)
    assert(back.schema("geometry").dataType == org.apache.spark.sql.types.BinaryType)
    val a = df.selectExpr("id", "label", "score", "flag", "ST_AsText(geometry) AS w")
    val b = back.selectExpr("id", "label", "score", "flag", "ST_AsText(geometry) AS w")
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    // the written file is valid Arrow readable by any IPC reader
    val hdr = ArrowIpc.schemaOf(spark, out)
    assert(hdr.fieldNames.toSeq == Seq("id", "label", "score", "flag", "geometry"))
  }

  test("STREAM-format WRITE: .arrows roundtrip (nested + geometry + metadata), wire shape, dictionary roundtrip") {
    val out = java.nio.file.Files.createTempDirectory("arrowsw").toString
    val df = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE WHEN id % 9 = 0 THEN NULL ELSE CONCAT('r', id) END AS label,
             CASE WHEN id % 11 = 0 THEN NULL
                  ELSE array(CAST(id AS INT), CASE WHEN id % 3 = 0 THEN NULL ELSE CAST(id+1 AS INT) END)
             END AS xs,
             named_struct('a', CAST(id*2 AS INT), 'b', CONCAT('s', CAST(id AS STRING))) AS meta,
             ST_Point(CAST(id % 10 AS DOUBLE), CAST(id % 7 AS DOUBLE)) AS geometry
      FROM range(300)""").repartition(3)
    ArrowIpc.write(df, out, streamFormat = true)
    // wire shape: .arrows part files, NO leading ARROW1 magic (bare messages)
    val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty && parts.forall(_.getName.endsWith(".arrows")))
    val head6 = new Array[Byte](6)
    val in = new java.io.FileInputStream(parts.head)
    try in.read(head6) finally in.close()
    assert(!java.util.Arrays.equals(head6, "ARROW1".getBytes("US-ASCII")),
      "stream format must not carry the file-format magic")
    // roundtrip through both read faces
    val back = ArrowIpc.read(spark, out)
    val sel = Seq("fid", "label", "to_json(struct(xs, meta)) AS j", "ST_AsText(geometry) AS w")
    val a = df.selectExpr(sel: _*)
    val b = back.selectExpr(sel: _*)
    assert(a.except(b).isEmpty && b.except(a).isEmpty, "stream write→read roundtrip")
    assert(spark.read.format("arrowipc").load(out).count() == 300)
    // geometry extension metadata survives the stream hop
    assert(ArrowIpc.schemaOf(spark, out)("geometry").dataType ==
      org.apache.spark.sql.types.BinaryType)
    // dictionary columns work in the stream format too: the writer emits
    // the dictionary batch inline ahead of the records, the reader maps
    // the value type from the schema message (round 16)
    val dLow = df.selectExpr("fid", "CONCAT('t', fid % 5) AS tag")
    ArrowIpc.write(dLow, out + "_d",
      geometryCol = "none", dictionaryColumns = Seq("tag"), streamFormat = true)
    val backD = ArrowIpc.read(spark, out + "_d")
    assert(backD.schema("tag").dataType == org.apache.spark.sql.types.StringType)
    val ad = dLow.selectExpr("fid", "tag")
    val bd = backD.selectExpr("fid", "tag")
    assert(ad.except(bd).isEmpty && bd.except(ad).isEmpty,
      "stream dictionary write→read roundtrip")
  }

  test("multi-batch files stream: >batchSize rows roundtrip, LIMIT abandons cleanly") {
    val out = java.nio.file.Files.createTempDirectory("arrowmb").toString
    // 10k rows in one partition → 3 record batches at the 4096 batch size
    val df = spark.sql("""
      SELECT CAST(id AS BIGINT) AS id,
             ST_Point(CAST(id % 100 AS DOUBLE), CAST(id % 97 AS DOUBLE)) AS geometry
      FROM range(10000)""").coalesce(1)
    ArrowIpc.write(df, out)
    val back = ArrowIpc.read(spark, out)
    assert(back.count() == 10000)
    assert(back.agg(sum("id")).head().getLong(0) == 10000L * 9999 / 2)
    // a LIMIT stops consuming mid-file — task-completion hook must clean up
    assert(back.limit(5).collect().length == 5)
  }

  test("decoded geometry flows through ST_* kernels and spatial joins") {
    val df = ArrowIpc.read(spark, fixture)
    val total = df.agg(sum(call_function("st_area", col("geometry")))).head().getDouble(0)
    assert(total > 0)
    // self-join on intersects through the auto-planner (adjacent boroughs touch)
    df.select(col("BoroCode").as("ac"), col("geometry").as("ag")).createOrReplaceTempView("nybb_a")
    df.select(col("BoroCode").as("bc"), col("geometry").as("bg")).createOrReplaceTempView("nybb_b")
    val pairs = sql("SELECT ac, bc FROM nybb_a JOIN nybb_b ON ST_Intersects(ag, bg) AND ac < bc")
    assert(pairs.count() >= 1) // at least one adjacent borough pair
  }

  test("native-encoding WRITE: ga_to_* separated layouts roundtrip with typed extension tags") {
    // the reference's writers emit native GeoArrow arrays; geometryEncoding
    // transcodes WKB through the same ga_to_* exporters GeoParquet uses and
    // tags the nested field, so a reference consumer reads the arrays
    // zero-copy and our own reader maps them straight back to WKB — with
    // geometry_types evidence stamped from the typed extension name
    val base = java.nio.file.Files.createTempDirectory("arrownative").toString
    val pts = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE WHEN id = 7 THEN NULL
                  ELSE ST_Point(CAST(id AS DOUBLE), CAST(id % 5 AS DOUBLE)) END AS geometry
      FROM range(40)""").repartition(2)
    ArrowIpc.write(pts, s"$base/pt", geometryEncoding = "point")
    val ptBack = ArrowIpc.read(spark, s"$base/pt")
    assert(ptBack.schema("geometry").metadata.getString("geoparquet.geometry_types") == "Point",
      "typed extension name must stamp geometry_types on read-back")
    val a = pts.selectExpr("fid", "ST_AsText(geometry) w")
    val b = ptBack.selectExpr("fid", "ST_AsText(geometry) w")
    assert(a.except(b).isEmpty && b.except(a).isEmpty, "native point roundtrip")
    // polygons with holes through the 3-deep multipolygon layout
    val polys = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_Multi(ST_Buffer(ST_Point(CAST(id * 20 AS DOUBLE), 0.0), 5.0)) AS geometry
      FROM range(12)""")
    ArrowIpc.write(polys, s"$base/mp", geometryEncoding = "multipolygon")
    val mpBack = ArrowIpc.read(spark, s"$base/mp")
    val pa = polys.selectExpr("fid", "ST_AsText(geometry) w")
    val pb = mpBack.selectExpr("fid", "ST_AsText(geometry) w")
    assert(pa.except(pb).isEmpty && pb.except(pa).isEmpty, "native multipolygon roundtrip")
    // XYZ twins: _z encodings carry elevation natively both ways
    val zpts = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_PointZ(CAST(id AS DOUBLE), 1.0, CAST(id * 10 AS DOUBLE)) AS geometry
      FROM range(20)""")
    ArrowIpc.write(zpts, s"$base/ptz", geometryEncoding = "point_z")
    val zBack = ArrowIpc.read(spark, s"$base/ptz")
    val za = zpts.selectExpr("fid", "ST_AsText(geometry) w")
    val zb = zBack.selectExpr("fid", "ST_AsText(geometry) w")
    assert(za.except(zb).isEmpty && zb.except(za).isEmpty, "native point_z roundtrip")
    assert(zBack.selectExpr("ST_Z(geometry)").collect().map(_.getDouble(0)).sum == (0 until 20).map(_ * 10).sum)
    // half-fidelity fails loudly in both directions
    val zOn2d = intercept[Exception] {
      ArrowIpc.write(pts.na.drop(), s"$base/z2d", geometryEncoding = "point_z")
    }
    assert(zOn2d.getMessage.contains("XYZ export requires Z") ||
      Option(zOn2d.getCause).exists(_.getMessage.contains("XYZ export requires Z")),
      zOn2d.getMessage)
    val flat = intercept[Exception] {
      ArrowIpc.write(zpts, s"$base/2dz", geometryEncoding = "point")
    }
    assert(flat.getMessage.contains("XY only") ||
      Option(flat.getCause).exists(_.getMessage.contains("XY only")), flat.getMessage)
    // an unknown encoding fails loudly at entry
    val err = intercept[IllegalArgumentException] {
      ArrowIpc.write(pts, s"$base/bad", geometryEncoding = "hexagon")
    }
    assert(err.getMessage.contains("geometryEncoding"), err.getMessage)
    // XYM / XYZM twins (round 17): measures carry natively both ways
    val mpts = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_PointM(CAST(id AS DOUBLE), 1.0, CAST(id * 7 AS DOUBLE)) AS geometry
      FROM range(15)""")
    ArrowIpc.write(mpts, s"$base/ptm", geometryEncoding = "point_m")
    val mBack = ArrowIpc.read(spark, s"$base/ptm")
    val maw = mpts.selectExpr("fid", "ST_AsText(geometry) w")
    val mbw = mBack.selectExpr("fid", "ST_AsText(geometry) w")
    assert(maw.except(mbw).isEmpty && mbw.except(maw).isEmpty, "native point_m roundtrip")
    val zmls = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_GeomFromText(CONCAT('LINESTRING ZM(0 0 1 2, ', CAST(id AS STRING), ' 4 5 6)')) AS geometry
      FROM range(8)""")
    ArrowIpc.write(zmls, s"$base/lszm", geometryEncoding = "linestring_zm")
    val zmBack = ArrowIpc.read(spark, s"$base/lszm")
    val zma = zmls.selectExpr("fid", "ST_AsText(geometry) w")
    val zmb = zmBack.selectExpr("fid", "ST_AsText(geometry) w")
    assert(zma.except(zmb).isEmpty && zmb.except(zma).isEmpty, "native linestring_zm roundtrip")
    // dimension mismatch fails loudly (2D input into an _m kernel)
    val mOn2d = intercept[Exception] {
      ArrowIpc.write(pts.na.drop(), s"$base/m2d", geometryEncoding = "point_m")
    }
    assert(mOn2d.getMessage.contains("XYM export requires") ||
      Option(mOn2d.getCause).exists(_.getMessage.contains("XYM export requires")),
      mOn2d.getMessage)
  }

  test("geoarrow.geometrycollection WRITE encoding roundtrips (XY and _zm, empties, nulls)") {
    // the last GeoArrow extension type to gain a write face (decode landed
    // with g96): a homogeneous collection column = List over the declared
    // dimension's 6-kind geometries union (reference type.rs:700-736)
    val base = java.nio.file.Files.createTempDirectory("arrowgcw").toString
    val df = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE CAST(id % 4 AS INT)
               WHEN 0 THEN ST_GeomFromText(CONCAT('GEOMETRYCOLLECTION (POINT (',
                                                  CAST(id AS STRING), ' 2), LINESTRING (0 0, 1 1))'))
               WHEN 1 THEN ST_GeomFromText('GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))')
               WHEN 2 THEN ST_GeomFromText('GEOMETRYCOLLECTION EMPTY')
               ELSE NULL
             END AS geometry
      FROM range(20)""")
    ArrowIpc.write(df, s"$base/gc", geometryEncoding = "geometrycollection")
    val back = ArrowIpc.read(spark, s"$base/gc")
    val a = df.selectExpr("fid", "COALESCE(ST_AsText(geometry), 'NULL') w")
    val b = back.selectExpr("fid", "COALESCE(ST_AsText(geometry), 'NULL') w")
    assert(a.except(b).isEmpty && b.except(a).isEmpty, "gc column write roundtrip")
    // empty collections come back EMPTY, nulls stay NULL
    val counted = back.selectExpr(
      "SUM(CASE WHEN geometry IS NULL THEN 1 ELSE 0 END) AS nn",
      "SUM(CASE WHEN geometry IS NOT NULL AND ST_IsEmpty(geometry) THEN 1 ELSE 0 END) AS ne").head()
    assert(counted.getLong(0) == 5 && counted.getLong(1) == 5, counted.toString)
    // _zm variant carries all four ordinates
    val zm = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_GeomFromText(CONCAT('GEOMETRYCOLLECTION (POINT ZM(', CAST(id AS STRING),
                                    ' 2 3 4), LINESTRING ZM(0 0 1 2, 5 6 7 8))')) AS geometry
      FROM range(6)""")
    ArrowIpc.write(zm, s"$base/gczm", geometryEncoding = "geometrycollection_zm")
    val zmBack = ArrowIpc.read(spark, s"$base/gczm")
    val za = zm.selectExpr("fid", "ST_AsText(geometry) w")
    val zb = zmBack.selectExpr("fid", "ST_AsText(geometry) w")
    assert(za.except(zb).isEmpty && zb.except(za).isEmpty, "gc _zm write roundtrip")
    // an EMPTY element inside a dimensioned collection inherits the
    // declared dims (it has no coordinates to probe) instead of failing
    val zmEmpty = spark.sql(
      """SELECT ST_GeomFromText(
           'GEOMETRYCOLLECTION ZM(POINT ZM(1 2 3 4), POINT ZM EMPTY, LINESTRING ZM EMPTY)') AS geometry""")
    ArrowIpc.write(zmEmpty, s"$base/gczme", geometryEncoding = "geometrycollection_zm")
    val zmeBack = ArrowIpc.read(spark, s"$base/gczme")
      .selectExpr("ST_NumGeometries(geometry) AS n",
        "ST_IsEmpty(ST_GeometryN(geometry, 1)) AS e1").head()
    assert(zmeBack.getInt(0) == 3 && zmeBack.getBoolean(1),
      s"empty elements must survive a dimensioned collection: $zmeBack")
    // a wrong-dimension element fails loudly (XY column, ZM data)
    val badDim = intercept[Exception] {
      ArrowIpc.write(zm, s"$base/gcbad", geometryEncoding = "geometrycollection")
    }
    assert(badDim.getMessage.contains("no child for type id") ||
      Option(badDim.getCause).exists(_.getMessage.contains("no child for type id")),
      badDim.getMessage)
    // a non-collection row fails loudly
    val notGc = spark.sql("SELECT ST_Point(1.0, 2.0) AS geometry FROM range(2)")
    val err = intercept[Exception] {
      ArrowIpc.write(notGc, s"$base/notgc", geometryEncoding = "geometrycollection")
    }
    assert(err.getMessage.contains("GEOMETRYCOLLECTION rows") ||
      Option(err.getCause).exists(_.getMessage.contains("GEOMETRYCOLLECTION rows")),
      err.getMessage)
  }

  test("geoarrow.wkt / geoarrow.box WRITE encodings roundtrip through own reader") {
    // round 17: the two serialized encodings the reference emits as
    // first-class types (datatype.rs:60-66 WktType; array/rect.rs RectType)
    // — decode landed in round 16 (g96), this closes the write face
    val base = java.nio.file.Files.createTempDirectory("arrowwktbox").toString
    val df = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE CAST(id % 4 AS INT)
               WHEN 0 THEN ST_Point(CAST(id AS DOUBLE), 2.0)
               WHEN 1 THEN ST_GeomFromText('LINESTRING Z(0 0 5, 3 4 9)')
               WHEN 2 THEN ST_PointM(1.0, 2.0, CAST(id AS DOUBLE))
               ELSE NULL
             END AS geometry
      FROM range(20)""")
    ArrowIpc.write(df, s"$base/wkt", geometryEncoding = "wkt")
    val wktBack = ArrowIpc.read(spark, s"$base/wkt")
    val a = df.selectExpr("fid", "COALESCE(ST_AsText(geometry), 'NULL') w")
    val b = wktBack.selectExpr("fid", "COALESCE(ST_AsText(geometry), 'NULL') w")
    assert(a.except(b).isEmpty && b.except(a).isEmpty, "wkt write roundtrip (Z/M preserved)")
    // box: the envelope struct — reads back as the envelope POLYGON
    val polys = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_Buffer(ST_Point(CAST(id * 10 AS DOUBLE), 0.0), 2.0) AS geometry
      FROM range(6)""")
    ArrowIpc.write(polys, s"$base/box", geometryEncoding = "box")
    val boxBack = ArrowIpc.read(spark, s"$base/box")
    val ba = polys.selectExpr("fid", "ST_AsText(ST_Envelope(geometry)) w")
    val bb = boxBack.selectExpr("fid", "ST_AsText(geometry) w")
    assert(ba.except(bb).isEmpty && bb.except(ba).isEmpty, "box write reads back as envelopes")
    // dimension suffixes don't apply to the serialized encodings
    val sfx = intercept[IllegalArgumentException] {
      ArrowIpc.write(polys, s"$base/wz", geometryEncoding = "wkt_z")
    }
    assert(sfx.getMessage.contains("suffix"), sfx.getMessage)
    // EMPTY through the box hop stays EMPTY (the all-NaN extent sentinel —
    // JTS's raw null-envelope 0/-1 would read back as a spurious polygon)
    val withEmpty = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE CAST(id % 3 AS INT)
               WHEN 0 THEN ST_Buffer(ST_Point(CAST(id AS DOUBLE), 0.0), 1.0)
               WHEN 1 THEN ST_GeomFromText('POLYGON EMPTY')
               ELSE NULL
             END AS geometry
      FROM range(9)""")
    ArrowIpc.write(withEmpty, s"$base/boxe", geometryEncoding = "box")
    val eb = ArrowIpc.read(spark, s"$base/boxe").selectExpr(
      "SUM(CASE WHEN geometry IS NULL THEN 1 ELSE 0 END) AS nn",
      "SUM(CASE WHEN geometry IS NOT NULL AND ST_IsEmpty(geometry) THEN 1 ELSE 0 END) AS ne",
      "SUM(CASE WHEN geometry IS NOT NULL AND NOT ST_IsEmpty(geometry) THEN 1 ELSE 0 END) AS ng").head()
    assert(eb.getLong(0) == 3 && eb.getLong(1) == 3 && eb.getLong(2) == 3,
      s"box EMPTY/NULL fidelity: $eb")
  }

  test("native _z/_m/_zm encodings accept EMPTY rows (empty back, not an error)") {
    val base = java.nio.file.Files.createTempDirectory("arrownatempty").toString
    val df = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE CAST(id % 2 AS INT)
               WHEN 0 THEN ST_GeomFromText(CONCAT('LINESTRING ZM(0 0 1 2, ',
                                                  CAST(id AS STRING), ' 4 5 6)'))
               ELSE ST_GeomFromText('LINESTRING ZM EMPTY')
             END AS geometry
      FROM range(8)""")
    ArrowIpc.write(df, s"$base/lszm", geometryEncoding = "linestring_zm")
    val back = ArrowIpc.read(spark, s"$base/lszm")
    val a = df.selectExpr("fid", "ST_AsText(geometry) w")
    val b = back.selectExpr("fid", "ST_AsText(geometry) w")
    assert(a.except(b).isEmpty && b.except(a).isEmpty, "empty rows through _zm hop")
    // point_m EMPTY rides the NaN sentinel
    val pm = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE WHEN id = 1 THEN ST_GeomFromText('POINT M EMPTY')
                  ELSE ST_PointM(CAST(id AS DOUBLE), 1.0, 2.0) END AS geometry
      FROM range(4)""")
    ArrowIpc.write(pm, s"$base/ptm", geometryEncoding = "point_m")
    val pmBack = ArrowIpc.read(spark, s"$base/ptm")
      .selectExpr("fid", "ST_IsEmpty(geometry) AS e").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(pmBack(1L) && !pmBack(0L), s"point_m EMPTY fidelity: $pmBack")
  }

  test("geometry-union WRITE: mixed kinds/dims/nulls roundtrip, stream twin included") {
    // heterogeneous columns write as the reference's dense-union type with
    // per-row kind + dimension dispatch — mixed 2D/3D in ONE column is
    // first-class (separate XY and XYZ children per the reference ids)
    val base = java.nio.file.Files.createTempDirectory("arrowuw").toString
    val df = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE CAST(id % 7 AS INT)
               WHEN 0 THEN ST_Point(CAST(id AS DOUBLE), 1.0)
               WHEN 1 THEN ST_PointZ(CAST(id AS DOUBLE), 2.0, CAST(id * 3 AS DOUBLE))
               WHEN 2 THEN ST_GeomFromText('LINESTRING (0 0, 3 4, 6 0)')
               WHEN 3 THEN ST_GeomFromText('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1))')
               WHEN 4 THEN ST_GeomFromText('MULTIPOINT ((1 1), (2 2))')
               WHEN 5 THEN ST_GeomFromText('MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))')
               ELSE NULL
             END AS geometry
      FROM range(70)""").repartition(2)
    for (stream <- Seq(false, true)) {
      val out = s"$base/u_$stream"
      ArrowIpc.write(df, out, geometryEncoding = "geometry", streamFormat = stream)
      val back = ArrowIpc.read(spark, out)
      val a = df.selectExpr("fid", "COALESCE(ST_AsText(geometry), 'NULL') w")
      val b = back.selectExpr("fid", "COALESCE(ST_AsText(geometry), 'NULL') w")
      assert(a.except(b).isEmpty && b.except(a).isEmpty,
        s"union write roundtrip (stream=$stream)")
    }
    // a 3D linestring rides the XYZ child, pinned exactly
    val z = spark.sql(
      "SELECT 0L AS fid, ST_GeomFromText('LINESTRING Z(0 0 10, 3 4 20)') AS geometry")
    ArrowIpc.write(z, s"$base/lz", geometryEncoding = "geometry")
    assert(ArrowIpc.read(spark, s"$base/lz").selectExpr("ST_AsText(geometry)")
      .head().getString(0) == "LINESTRING Z(0 0 10, 3 4 20)")
    // round 17: measured + ZM + GeometryCollection children are first-class
    // (the reference's full 28-id matrix, type_id.rs:28-35 / :85-91)
    val mzm = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE CAST(id % 4 AS INT)
               WHEN 0 THEN ST_PointM(CAST(id AS DOUBLE), 2.0, CAST(id * 5 AS DOUBLE))
               WHEN 1 THEN ST_GeomFromText('LINESTRING M(0 0 1, 3 4 2)')
               WHEN 2 THEN ST_GeomFromText('POINT ZM(1 2 3 4)')
               ELSE ST_GeomFromText('GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))')
             END AS geometry
      FROM range(16)""")
    ArrowIpc.write(mzm, s"$base/mzm", geometryEncoding = "geometry")
    val mzmBack = ArrowIpc.read(spark, s"$base/mzm")
    val ma = mzm.selectExpr("fid", "ST_AsText(geometry) w")
    val mb = mzmBack.selectExpr("fid", "ST_AsText(geometry) w")
    assert(ma.except(mb).isEmpty && mb.except(ma).isEmpty, "M/ZM/GC union write roundtrip")
    // EMPTY ≠ NULL across the union hop: empties come back empty, not null
    // (POINT EMPTY = NaN coords; list-backed kinds = length-0 outer list)
    val empties = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE CAST(id % 4 AS INT)
               WHEN 0 THEN ST_GeomFromText('POINT EMPTY')
               WHEN 1 THEN ST_GeomFromText('MULTIPOLYGON EMPTY')
               WHEN 2 THEN ST_GeomFromText('POLYGON EMPTY')
               ELSE NULL
             END AS geometry
      FROM range(8)""")
    ArrowIpc.write(empties, s"$base/empty", geometryEncoding = "geometry")
    val eBack = ArrowIpc.read(spark, s"$base/empty")
    val counted = eBack.selectExpr(
      "SUM(CASE WHEN geometry IS NULL THEN 1 ELSE 0 END) AS nulls",
      "SUM(CASE WHEN geometry IS NOT NULL AND ST_IsEmpty(geometry) THEN 1 ELSE 0 END) AS empties").head()
    assert(counted.getLong(0) == 2 && counted.getLong(1) == 6,
      s"EMPTY/NULL must stay distinct: nulls=${counted.getLong(0)} empties=${counted.getLong(1)}")
    val eKinds = eBack.where("geometry IS NOT NULL")
      .selectExpr("fid", "ST_AsText(geometry) w").collect()
      .map(r => r.getLong(0) % 4 -> r.getString(1)).toMap
    assert(eKinds(0) == "POINT EMPTY" && eKinds(1) == "MULTIPOLYGON EMPTY" &&
      eKinds(2) == "POLYGON EMPTY", s"empty kinds must survive: $eKinds")
    // a degenerate EMPTY member INSIDE a Multi* (round-18 ADVICE): the
    // per-member NaN-coordinate encoding preserves the element count where
    // the flattening getCoordinates path silently dropped it
    val mpe = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE CAST(id AS INT)
               WHEN 0 THEN ST_GeomFromText('MULTIPOINT ((1 1), EMPTY)')
               WHEN 1 THEN ST_GeomFromText('MULTIPOINT (EMPTY, (2 3), EMPTY)')
               WHEN 2 THEN ST_GeomFromText('MULTILINESTRING ((0 0, 1 1), EMPTY)')
               ELSE ST_GeomFromText('MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), EMPTY)')
             END AS geometry
      FROM range(4)""")
    ArrowIpc.write(mpe, s"$base/mpe", geometryEncoding = "geometry")
    val mpeBack = ArrowIpc.read(spark, s"$base/mpe")
      .selectExpr("fid", "ST_NumGeometries(geometry) AS n").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(mpeBack == Map(0L -> 2, 1L -> 3, 2L -> 2, 3L -> 2),
      s"EMPTY members inside Multi* must survive the union hop: $mpeBack")
    // a GC nested inside a GC is not representable (the reference's mixed
    // type holds only concrete kinds) — refused loudly
    val nested = spark.sql(
      "SELECT ST_GeomFromText('GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (POINT (1 2)))') AS geometry")
    val err = intercept[Exception] { ArrowIpc.write(nested, s"$base/gcgc", geometryEncoding = "geometry") }
    assert(err.getMessage.contains("nested") ||
      Option(err.getCause).exists(_.getMessage.contains("nested")), err.getMessage)
    // MULTI-BATCH: >4096 rows cross the per-batch boundary, so the union's
    // per-chunk offset counters (incl. the inner GC union's) must reset
    // cleanly between record batches
    val big = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE CAST(id % 5 AS INT)
               WHEN 0 THEN ST_Point(CAST(id AS DOUBLE), 1.0)
               WHEN 1 THEN ST_PointM(CAST(id AS DOUBLE), 2.0, 7.0)
               WHEN 2 THEN ST_GeomFromText(CONCAT('GEOMETRYCOLLECTION (POINT (',
                                                  CAST(id AS STRING), ' 3))'))
               WHEN 3 THEN ST_GeomFromText('POINT EMPTY')
               ELSE NULL
             END AS geometry
      FROM range(10000)""").coalesce(1)
    ArrowIpc.write(big, s"$base/big", geometryEncoding = "geometry")
    val bigBack = ArrowIpc.read(spark, s"$base/big")
    val ba = big.selectExpr("fid", "COALESCE(ST_AsText(geometry), 'NULL') w")
    val bb = bigBack.selectExpr("fid", "COALESCE(ST_AsText(geometry), 'NULL') w")
    assert(ba.except(bb).isEmpty && bb.except(ba).isEmpty,
      "multi-batch union write roundtrip (10k rows across 3 record batches)")
  }

  test("geoarrow.wkt / geoarrow.box / geometry union / geometrycollection decode (both faces)") {
    // the four GeoArrow encodings beyond the concrete six: serialized-text
    // WKT, bbox structs, the mixed-type DENSE UNION (geoarrow-rs's default
    // for heterogeneous arrays; type ids per dimension block, children
    // named "Point", "LineString Z", "MultiPoint M", …) and
    // GeometryCollection = List over that union. Built vector-by-vector —
    // no writer in the repo emits these, like a geoarrow-rs producer would.
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.complex.{DenseUnionVector, FixedSizeListVector, ListVector, StructVector}
    import org.apache.arrow.vector.types.pojo._
    import org.apache.arrow.vector.types.{FloatingPointPrecision, UnionMode}
    import scala.jdk.CollectionConverters._
    val f64 = new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
    def fNN(n: String, t: ArrowType, ch: Field*) =
      new Field(n, new FieldType(false, t, null, null), ch.asJava)
    def fN(n: String, t: ArrowType, ch: Field*) =
      new Field(n, FieldType.nullable(t), ch.asJava)
    def fExt(n: String, t: ArrowType, ext: String, ch: Field*) =
      new Field(n, new FieldType(true, t, null,
        java.util.Map.of("ARROW:extension:name", ext)), ch.asJava)
    def interleaved(name: String, dims: String) =
      fN(name, new ArrowType.FixedSizeList(dims.length), fNN(dims, f64))
    def lineOf(name: String, dims: String) =
      fN(name, new ArrowType.List(), interleaved("vertices", dims))

    val dirOut = java.nio.file.Files.createTempDirectory("arrowunion").toString
    val file = new java.io.File(dirOut, "u.arrow")
    val alloc = new RootAllocator()
    try {
      // geometry union: reference type ids — 1 Point (XY), 12 LineString Z,
      // 24 MultiPoint M (XYM block starts at 21)
      val geomField = fExt("geometry",
        new ArrowType.Union(UnionMode.Dense, Array(1, 12, 24)), "geoarrow.geometry",
        interleaved("Point", "xy"), lineOf("LineString Z", "xyz"), lineOf("MultiPoint M", "xym"))
      // geometrycollection: List over a smaller union (1 Point, 2 LineString)
      val gcField = fExt("gc", new ArrowType.List(), "geoarrow.geometrycollection",
        fN("geometries", new ArrowType.Union(UnionMode.Dense, Array(1, 2)),
          interleaved("Point", "xy"), lineOf("LineString", "xy")))
      val fields = Seq(
        fN("fid", new ArrowType.Int(64, true)),
        fExt("twkt", new ArrowType.Utf8(), "geoarrow.wkt"),
        fExt("bbox", new ArrowType.Struct(), "geoarrow.box",
          fNN("xmin", f64), fNN("ymin", f64), fNN("xmax", f64), fNN("ymax", f64)),
        geomField, gcField)
      val vectors = fields.map(_.createVector(alloc))
      val n = 4

      val fid = vectors(0).asInstanceOf[BigIntVector]
      fid.allocateNew(); (0 until n).foreach(i => fid.setSafe(i, i.toLong)); fid.setValueCount(n)

      val twkt = vectors(1).asInstanceOf[VarCharVector]
      twkt.allocateNew()
      Seq("POINT (9 9)", "LINESTRING (0 0, 2 2)", "POINT Z (1 2 3)", "POINT (4 4)")
        .zipWithIndex.foreach { case (w, i) => twkt.setSafe(i, w.getBytes("UTF-8")) }
      twkt.setValueCount(n)

      val bbox = vectors(2).asInstanceOf[StructVector]
      bbox.allocateNew()
      val bch = Seq("xmin", "ymin", "xmax", "ymax").map(bbox.getChild(_).asInstanceOf[Float8Vector])
      (0 until n).foreach { i =>
        bbox.setIndexDefined(i)
        bch(0).setSafe(i, i.toDouble); bch(1).setSafe(i, 0.0)
        bch(2).setSafe(i, i + 2.0); bch(3).setSafe(i, 3.0)
      }
      bbox.setValueCount(n)

      // geometry union rows: Point(1.5 2.5) | LineString Z | MultiPoint M | Point(7 8)
      val du = vectors(3).asInstanceOf[DenseUnionVector]
      du.allocateNew()
      def fillInterleaved(flv: FixedSizeListVector, row: Int, cs: Seq[Double]): Unit = {
        flv.setNotNull(row)
        val dv = flv.getDataVector.asInstanceOf[Float8Vector]
        cs.zipWithIndex.foreach { case (v, j) => dv.setSafe(row * cs.length + j, v) }
      }
      def fillLine(lv: ListVector, row: Int, verts: Seq[Seq[Double]]): Int = {
        val start = lv.startNewValue(row)
        val flv = lv.getDataVector.asInstanceOf[FixedSizeListVector]
        verts.zipWithIndex.foreach { case (c, k) => fillInterleaved(flv, start + k, c) }
        lv.endValue(row, verts.length)
        start + verts.length
      }
      val dpt = du.getVectorByType(1).asInstanceOf[FixedSizeListVector]
      val dls = du.getVectorByType(12).asInstanceOf[ListVector]
      val dmp = du.getVectorByType(24).asInstanceOf[ListVector]
      du.setTypeId(0, 1); du.setOffset(0, 0); fillInterleaved(dpt, 0, Seq(1.5, 2.5))
      du.setTypeId(1, 12); du.setOffset(1, 0)
      fillLine(dls, 0, Seq(Seq(0, 0, 10), Seq(3, 4, 20)))
      du.setTypeId(2, 24); du.setOffset(2, 0)
      fillLine(dmp, 0, Seq(Seq(1, 2, 5), Seq(3, 4, 6)))
      du.setTypeId(3, 1); du.setOffset(3, 1); fillInterleaved(dpt, 3 - 2, Seq(7, 8))
      dpt.setValueCount(2); dls.setValueCount(1); dmp.setValueCount(1)
      du.setValueCount(n)

      // gc rows: [Point(1 1)] | [Point(2 2), LineString(0 0, 1 1)] | [] | null
      val gc = vectors(4).asInstanceOf[ListVector]
      gc.allocateNew()
      val gdu = gc.getDataVector.asInstanceOf[DenseUnionVector]
      val gpt = gdu.getVectorByType(1).asInstanceOf[FixedSizeListVector]
      val gls = gdu.getVectorByType(2).asInstanceOf[ListVector]
      var s0 = gc.startNewValue(0)
      gdu.setTypeId(s0, 1); gdu.setOffset(s0, 0); fillInterleaved(gpt, 0, Seq(1, 1))
      gc.endValue(0, 1)
      val s1 = gc.startNewValue(1)
      gdu.setTypeId(s1, 1); gdu.setOffset(s1, 1); fillInterleaved(gpt, 1, Seq(2, 2))
      gdu.setTypeId(s1 + 1, 2); gdu.setOffset(s1 + 1, 0)
      fillLine(gls, 0, Seq(Seq(0, 0), Seq(1, 1)))
      gc.endValue(1, 2)
      val s2 = gc.startNewValue(2); gc.endValue(2, 0) // empty collection
      // row 3 stays null
      gpt.setValueCount(2); gls.setValueCount(1); gdu.setValueCount(3)
      gc.setValueCount(n)

      val root = new VectorSchemaRoot(fields.asJava,
        vectors.map(_.asInstanceOf[FieldVector]).asJava, n)
      try {
        val out = new java.io.FileOutputStream(file)
        val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, out.getChannel)
        try { w.start(); w.writeBatch(); w.end() } finally { w.close(); out.close() }
      } finally root.close()
    } finally alloc.close()

    val expectGeom = Seq(
      "POINT (1.5 2.5)",
      "LINESTRING Z(0 0 10, 3 4 20)",
      "MULTIPOINT M((1 2 5), (3 4 6))",
      "POINT (7 8)")
    val expectGc = Seq(
      "GEOMETRYCOLLECTION (POINT (1 1))",
      "GEOMETRYCOLLECTION (POINT (2 2), LINESTRING (0 0, 1 1))",
      "GEOMETRYCOLLECTION EMPTY",
      null)
    for (df <- Seq(ArrowIpc.read(spark, file.getAbsolutePath),
                   spark.read.format("arrowipc").load(file.getAbsolutePath))) {
      val rows = df.selectExpr("fid", "ST_AsText(twkt) w", "ST_AsText(bbox) b",
          "ST_AsText(geometry) g", "ST_AsText(gc) c")
        .collect().sortBy(_.getLong(0))
      assert(rows.map(_.getString(3)).toSeq == expectGeom,
        s"union decode: ${rows.map(_.getString(3)).toSeq}")
      assert(rows.map(_.getString(4)).toSeq == expectGc,
        s"gc decode: ${rows.map(_.getString(4)).toSeq}")
      assert(rows(0).getString(1) == "POINT (9 9)" && rows(2).getString(1) == "POINT Z(1 2 3)")
      assert(rows(1).getString(2) == "POLYGON ((1 0, 1 3, 3 3, 3 0, 1 0))",
        s"box decode: ${rows(1).getString(2)}")
    }
    // a projection WITHOUT the union columns still byte-prunes past them
    // (union = types+offsets buffer run; the arithmetic must skip it exactly)
    val fids = spark.read.format("arrowipc").load(file.getAbsolutePath)
      .selectExpr("fid", "ST_AsText(twkt) w").collect().sortBy(_.getLong(0))
    assert(fids.length == 4 && fids(3).getString(1) == "POINT (4 4)")
    // ... and a proper subset that KEEPS the union + collection columns
    // loads them through the pruned byte-run reassembly (types + offsets +
    // child runs land in the reduced batch in pre-order)
    val kept = spark.read.format("arrowipc").load(file.getAbsolutePath)
      .selectExpr("fid", "ST_AsText(geometry) g", "ST_AsText(gc) c")
      .collect().sortBy(_.getLong(0))
    assert(kept.map(_.getString(1)).toSeq == expectGeom,
      s"pruned union load: ${kept.map(_.getString(1)).toSeq}")
    assert(kept.map(_.getString(2)).toSeq == expectGc,
      s"pruned gc load: ${kept.map(_.getString(2)).toSeq}")
  }
}
