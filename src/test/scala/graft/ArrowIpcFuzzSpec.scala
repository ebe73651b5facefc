package graft

import scala.util.Random

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.{DenseUnionVector, FixedSizeListVector, ListVector, ListViewVector, RunEndEncodedVector, StructVector}
import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider}
import org.apache.arrow.vector.types.{FloatingPointPrecision, UnionMode}
import org.apache.arrow.vector.types.pojo._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ArrowIpc

/** Randomized producer fuzz for the byte-level pruned Arrow IPC reader:
  * for 60 random schemas drawn from every supported layout family (scalars,
  * view types, List/ListView/FixedSizeList, Struct, RunEndEncoded,
  * dictionary-encoded, LZ4/ZSTD-compressed bodies) and random projection
  * masks, [[ArrowIpc.decodeFile]]'s byte-level load must return exactly what the
  * stock full reader returns. This pins the pre-order buffer-run
  * arithmetic (a mis-slice anywhere shifts EVERY later column) against
  * arbitrary producers, not just the hand-built fixtures. Seeded —
  * deterministic across runs. */
class ArrowIpcFuzzSpec extends AnyFunSuite {

  private val conf = new org.apache.hadoop.conf.Configuration()

  private def streamTwin(file: java.io.File): java.io.File =
    new java.io.File(file.getParentFile, file.getName.stripSuffix(".arrow") + ".arrows")

  /** One random column: build + populate a FieldVector for `n` rows.
    * Returns the vector plus any dictionary it registered. */
  private def makeColumn(kind: Int, name: String, n: Int, dictId: Long,
                         rnd: Random, alloc: RootAllocator)
      : (FieldVector, Option[Dictionary]) = kind match {
    case 0 => // int32 with nulls
      val v = new IntVector(name, alloc); v.allocateNew(n)
      (0 until n).foreach(i => if (rnd.nextDouble() < 0.15) v.setNull(i) else v.setSafe(i, rnd.nextInt()))
      v.setValueCount(n); (v, None)
    case 1 => // float8
      val v = new Float8Vector(name, alloc); v.allocateNew(n)
      (0 until n).foreach(i => if (rnd.nextDouble() < 0.15) v.setNull(i) else v.setSafe(i, rnd.nextDouble() * 1e6))
      v.setValueCount(n); (v, None)
    case 2 => // utf8, lengths straddling nothing special
      val v = new VarCharVector(name, alloc); v.allocateNew()
      (0 until n).foreach(i => if (rnd.nextDouble() < 0.15) v.setNull(i)
        else v.setSafe(i, rnd.alphanumeric.take(rnd.nextInt(20)).mkString.getBytes("UTF-8")))
      v.setValueCount(n); (v, None)
    case 3 => // utf8view — lengths both sides of the 12-byte inline cutoff
      val v = new ViewVarCharVector(name, alloc); v.allocateNew()
      (0 until n).foreach(i => if (rnd.nextDouble() < 0.15) v.setNull(i)
        else v.setSafe(i, rnd.alphanumeric.take(rnd.nextInt(25)).mkString.getBytes("UTF-8")))
      v.setValueCount(n); (v, None)
    case 4 => // binary
      val v = new VarBinaryVector(name, alloc); v.allocateNew()
      (0 until n).foreach { i =>
        if (rnd.nextDouble() < 0.15) v.setNull(i)
        else { val b = new Array[Byte](rnd.nextInt(30)); rnd.nextBytes(b); v.setSafe(i, b) }
      }
      v.setValueCount(n); (v, None)
    case 5 => // bool
      val v = new BitVector(name, alloc); v.allocateNew(n)
      (0 until n).foreach(i => if (rnd.nextDouble() < 0.15) v.setNull(i) else v.setSafe(i, if (rnd.nextBoolean()) 1 else 0))
      v.setValueCount(n); (v, None)
    case 6 => // list<float8>, incl. null and empty lists
      val v = ListVector.empty(name, alloc)
      val w = v.getWriter; w.allocate()
      (0 until n).foreach { i =>
        if (rnd.nextDouble() >= 0.15) { // unwritten position = null list
          w.setPosition(i); w.startList()
          (0 until rnd.nextInt(5)).foreach(_ => w.float8().writeFloat8(rnd.nextDouble()))
          w.endList()
        }
      }
      v.setValueCount(n); (v, None)
    case 7 => // listview<int> — 3 fixed buffers (validity/offsets/sizes)
      val v = ListViewVector.empty(name, alloc)
      val w = v.getWriter; w.allocate()
      (0 until n).foreach { i =>
        if (rnd.nextDouble() >= 0.15) {
          w.setPosition(i); w.startListView()
          (0 until rnd.nextInt(5)).foreach(_ => w.integer().writeInt(rnd.nextInt()))
          w.endListView()
        }
      }
      v.setValueCount(n); (v, None)
    case 8 => // struct{a:int, b:utf8} with null rows and null children
      val v = StructVector.empty(name, alloc)
      val a = v.addOrGet("a", FieldType.nullable(new ArrowType.Int(32, true)), classOf[IntVector])
      val b = v.addOrGet("b", FieldType.nullable(new ArrowType.Utf8()), classOf[VarCharVector])
      v.allocateNew()
      (0 until n).foreach { i =>
        if (rnd.nextDouble() >= 0.15) {
          v.setIndexDefined(i)
          if (rnd.nextDouble() >= 0.2) a.setSafe(i, rnd.nextInt(1000))
          if (rnd.nextDouble() >= 0.2) b.setSafe(i, rnd.alphanumeric.take(rnd.nextInt(8)).mkString.getBytes("UTF-8"))
        }
      }
      v.setValueCount(n); (v, None)
    case 9 => // run-end-encoded utf8 — random run lengths covering n
      val v = RunEndEncodedVector.empty(name, alloc)
      v.initializeChildrenFromFields(java.util.List.of(
        new Field("run_ends", FieldType.notNullable(new ArrowType.Int(32, true)), java.util.List.of[Field]()),
        new Field("values", FieldType.nullable(new ArrowType.Utf8()), java.util.List.of[Field]())))
      val re = v.getRunEndsVector.asInstanceOf[IntVector]
      val vals = v.getValuesVector.asInstanceOf[VarCharVector]
      re.allocateNew(); vals.allocateNew()
      var end = 0; var r = 0
      while (end < n) {
        end = math.min(n, end + 1 + rnd.nextInt(math.max(1, n / 2)))
        re.setSafe(r, end)
        if (rnd.nextDouble() < 0.2) vals.setNull(r)
        else vals.setSafe(r, s"run-$r-${rnd.nextInt(100)}".getBytes("UTF-8"))
        r += 1
      }
      re.setValueCount(r); vals.setValueCount(r); v.setValueCount(n)
      (v, None)
    case 10 => // dictionary-encoded utf8 (top level)
      val pool = Array("alpha", "beta", "gamma", "delta")
      val dv = new VarCharVector(name + "_dict", alloc); dv.allocateNew()
      pool.zipWithIndex.foreach { case (s, i) => dv.setSafe(i, s.getBytes("UTF-8")) }
      dv.setValueCount(pool.length)
      val enc = new DictionaryEncoding(dictId, false, new ArrowType.Int(32, true))
      val idx = new IntVector(new Field(name,
        new FieldType(true, new ArrowType.Int(32, true), enc, null), null), alloc)
      idx.allocateNew(n)
      (0 until n).foreach(i => if (rnd.nextDouble() < 0.15) idx.setNull(i) else idx.setSafe(i, rnd.nextInt(pool.length)))
      idx.setValueCount(n)
      (idx, Some(new Dictionary(dv, enc)))
    case 11 => // dictionary-encoded GEOMETRY (geoarrow.wkb over a dict — the
      // round-17 regression class: the decoder must resolve the index
      // through the dictionary before the geometry decode, in BOTH paths)
      val pool: Array[Array[Byte]] =
        Array.tabulate(4)(k => graft.core.GeomOps.point(k * 10.0, k + 0.5))
      val dv = new VarBinaryVector(name + "_dict", alloc); dv.allocateNew()
      pool.zipWithIndex.foreach { case (b, i) => dv.setSafe(i, b) }
      dv.setValueCount(pool.length)
      val enc = new DictionaryEncoding(dictId, false, new ArrowType.Int(32, true))
      val idx = new IntVector(new Field(name,
        new FieldType(true, new ArrowType.Int(32, true), enc,
          java.util.Map.of("ARROW:extension:name", "geoarrow.wkb")), null), alloc)
      idx.allocateNew(n)
      (0 until n).foreach(i => if (rnd.nextDouble() < 0.15) idx.setNull(i)
        else idx.setSafe(i, rnd.nextInt(pool.length)))
      idx.setValueCount(n)
      (idx, Some(new Dictionary(dv, enc)))
    case 12 => // date (day unit)
      val v = new DateDayVector(name, alloc); v.allocateNew(n)
      (0 until n).foreach(i => if (rnd.nextDouble() < 0.15) v.setNull(i) else v.setSafe(i, rnd.nextInt(30000)))
      v.setValueCount(n); (v, None)
    case 13 => // zoned timestamp (epoch micros)
      val v = new TimeStampMicroTZVector(name, alloc, "UTC"); v.allocateNew(n)
      (0 until n).foreach(i => if (rnd.nextDouble() < 0.15) v.setNull(i) else v.setSafe(i, math.abs(rnd.nextLong()) % 4102444800000000L))
      v.setValueCount(n); (v, None)
    case 14 => // zoneless timestamp (wall-clock micros)
      val v = new TimeStampMicroVector(name, alloc); v.allocateNew(n)
      (0 until n).foreach(i => if (rnd.nextDouble() < 0.15) v.setNull(i) else v.setSafe(i, math.abs(rnd.nextLong()) % 4102444800000000L))
      v.setValueCount(n); (v, None)
    case 15 => // map<utf8, float8> with null rows, empty maps, null values;
      // schema declared upfront (the lazy writer would emit a degenerate
      // Map<$data$: Null> schema when no entry is ever written)
      val v = new Field(name, FieldType.nullable(new ArrowType.Map(false)),
        java.util.List.of(new Field("entries",
          FieldType.notNullable(new ArrowType.Struct()),
          java.util.List.of(
            new Field("key", FieldType.notNullable(new ArrowType.Utf8()), java.util.List.of[Field]()),
            new Field("value", FieldType.nullable(
              new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)), java.util.List.of[Field]())))))
        .createVector(alloc).asInstanceOf[org.apache.arrow.vector.complex.MapVector]
      val w = v.getWriter; w.allocate()
      (0 until n).foreach { i =>
        if (rnd.nextDouble() >= 0.15) {
          w.setPosition(i); w.startMap()
          (0 until rnd.nextInt(4)).foreach { j =>
            w.startEntry()
            w.key().varChar().writeVarChar(s"k$j")
            if (rnd.nextDouble() < 0.2) w.value().float8().writeNull()
            else w.value().float8().writeFloat8(rnd.nextDouble())
            w.endEntry()
          }
          w.endMap()
        }
      }
      v.setValueCount(n); (v, None)
    case 16 => // fixed_size_list<2, float8> (the interleaved-coord layout shape)
      val v = FixedSizeListVector.empty(name, 2, alloc)
      val w = v.getWriter; w.allocate()
      (0 until n).foreach { i =>
        if (rnd.nextDouble() >= 0.15) {
          w.setPosition(i); w.startList()
          w.float8().writeFloat8(rnd.nextDouble()); w.float8().writeFloat8(rnd.nextDouble())
          w.endList()
        }
      }
      v.setValueCount(n); (v, None)
    case 17 => // largelist<float8> — 64-bit offsets
      val v = org.apache.arrow.vector.complex.LargeListVector.empty(name, alloc)
      val w = v.getWriter; w.allocate()
      (0 until n).foreach { i =>
        if (rnd.nextDouble() >= 0.15) {
          w.setPosition(i); w.startList()
          (0 until rnd.nextInt(4)).foreach(_ => w.float8().writeFloat8(rnd.nextDouble()))
          w.endList()
        }
      }
      v.setValueCount(n); (v, None)
    case 18 => // largelistview<int> — 64-bit offsets + sizes
      val v = org.apache.arrow.vector.complex.LargeListViewVector.empty(name, alloc)
      val w = v.getWriter; w.allocate()
      (0 until n).foreach { i =>
        if (rnd.nextDouble() >= 0.15) {
          w.setPosition(i); w.startListView()
          (0 until rnd.nextInt(4)).foreach(_ => w.integer().writeInt(rnd.nextInt()))
          w.endListView()
        }
      }
      v.setValueCount(n); (v, None)
    case 19 => // largeutf8 — 64-bit offset scalar
      val v = new LargeVarCharVector(name, alloc); v.allocateNew()
      (0 until n).foreach(i => if (rnd.nextDouble() < 0.15) v.setNull(i)
        else v.setSafe(i, rnd.alphanumeric.take(rnd.nextInt(20)).mkString.getBytes("UTF-8")))
      v.setValueCount(n); (v, None)
    case 20 => // largebinary
      val v = new LargeVarBinaryVector(name, alloc); v.allocateNew()
      (0 until n).foreach { i =>
        if (rnd.nextDouble() < 0.15) v.setNull(i)
        else { val b = new Array[Byte](rnd.nextInt(25)); rnd.nextBytes(b); v.setSafe(i, b) }
      }
      v.setValueCount(n); (v, None)
    case 21 => // list<utf8view> — a VIEW node under a LIST: its variadic
      // slot follows the list's fixed buffers in pre-order
      val v = new Field(name, FieldType.nullable(new ArrowType.List()),
        java.util.List.of(new Field("item", FieldType.nullable(new ArrowType.Utf8View()),
          java.util.List.of[Field]())))
        .createVector(alloc).asInstanceOf[ListVector]
      v.allocateNew()
      val child = v.getDataVector.asInstanceOf[ViewVarCharVector]
      var off = 0
      (0 until n).foreach { i =>
        if (rnd.nextDouble() < 0.15) () // unset = null list
        else {
          val sz = rnd.nextInt(4)
          v.startNewValue(i)
          (0 until sz).foreach { j =>
            if (rnd.nextDouble() < 0.2) child.setNull(off + j)
            else child.setSafe(off + j, // straddle the 12-byte inline cutoff
              rnd.alphanumeric.take(rnd.nextInt(25)).mkString.getBytes("UTF-8"))
          }
          off += sz
          v.endValue(i, sz)
        }
      }
      child.setValueCount(off)
      v.setValueCount(n); (v, None)
    case 22 => // geoarrow.geometry union with the ROUND-17 children: measured
      // Point M (tid 21), LineString ZM (tid 32), GeometryCollection
      // (tid 7, List over an inner XY union) — plus the EMPTY encodings
      // (NaN-coord points, length-0 lists) that must decode as empties,
      // not nulls, under every codec and mask
      val f64b = new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      def inter(nm: String, dims: String) =
        new Field(nm, FieldType.nullable(new ArrowType.FixedSizeList(dims.length)),
          java.util.List.of(new Field(dims, new FieldType(false, f64b, null, null),
            java.util.List.of[Field]())))
      val lineZm = new Field("LineString ZM", FieldType.nullable(new ArrowType.List()),
        java.util.List.of(inter("vertices", "xyzm")))
      val gcF = new Field("GeometryCollection", FieldType.nullable(new ArrowType.List()),
        java.util.List.of(new Field("geometries",
          new FieldType(false, new ArrowType.Union(UnionMode.Dense, Array(1)), null, null),
          java.util.List.of(inter("Point", "xy")))))
      val uf = new Field(name,
        new FieldType(true, new ArrowType.Union(UnionMode.Dense, Array(7, 21, 32)), null,
          java.util.Map.of("ARROW:extension:name", "geoarrow.geometry")),
        java.util.List.of(gcF, inter("Point M", "xym"), lineZm))
      val du2 = uf.createVector(alloc).asInstanceOf[DenseUnionVector]
      du2.allocateNew()
      val gcLv = du2.getVectorByType(7).asInstanceOf[ListVector]
      val innerDu = gcLv.getDataVector.asInstanceOf[DenseUnionVector]
      val innerPt = innerDu.getVectorByType(1).asInstanceOf[FixedSizeListVector]
      val ptm = du2.getVectorByType(21).asInstanceOf[FixedSizeListVector]
      val lzm = du2.getVectorByType(32).asInstanceOf[ListVector]
      var gcN = 0; var ptmN = 0; var lzmN = 0; var innerN = 0
      (0 until n).foreach { i =>
        rnd.nextInt(6) match {
          case 0 => // Point M value
            du2.setTypeId(i, 21); du2.setOffset(i, ptmN)
            ptm.setNotNull(ptmN)
            val dv = ptm.getDataVector.asInstanceOf[Float8Vector]
            (0 until 3).foreach(j => dv.setSafe(ptmN * 3 + j, rnd.nextInt(1000) / 4.0))
            ptmN += 1
          case 1 => // Point M EMPTY (NaN ordinates — must decode empty, not null)
            du2.setTypeId(i, 21); du2.setOffset(i, ptmN)
            ptm.setNotNull(ptmN)
            val dv = ptm.getDataVector.asInstanceOf[Float8Vector]
            (0 until 3).foreach(j => dv.setSafe(ptmN * 3 + j, Double.NaN))
            ptmN += 1
          case 2 => // LineString ZM value
            du2.setTypeId(i, 32); du2.setOffset(i, lzmN)
            val start = lzm.startNewValue(lzmN)
            val nv = 2 + rnd.nextInt(3)
            val flv = lzm.getDataVector.asInstanceOf[FixedSizeListVector]
            val dv = flv.getDataVector.asInstanceOf[Float8Vector]
            (0 until nv).foreach { k =>
              flv.setNotNull(start + k)
              (0 until 4).foreach(j => dv.setSafe((start + k) * 4 + j, rnd.nextInt(1000) / 4.0))
            }
            lzm.endValue(lzmN, nv); lzmN += 1
          case 3 => // LINESTRING ZM EMPTY (length-0 list)
            du2.setTypeId(i, 32); du2.setOffset(i, lzmN)
            lzm.startNewValue(lzmN); lzm.endValue(lzmN, 0); lzmN += 1
          case 4 => // GeometryCollection of 1-2 XY points
            du2.setTypeId(i, 7); du2.setOffset(i, gcN)
            val start = gcLv.startNewValue(gcN)
            val k = 1 + rnd.nextInt(2)
            (0 until k).foreach { j =>
              innerDu.setTypeId(start + j, 1); innerDu.setOffset(start + j, innerN)
              innerPt.setNotNull(innerN)
              val dv = innerPt.getDataVector.asInstanceOf[Float8Vector]
              dv.setSafe(innerN * 2, rnd.nextInt(1000) / 4.0)
              dv.setSafe(innerN * 2 + 1, rnd.nextInt(1000) / 4.0)
              innerN += 1
            }
            gcLv.endValue(gcN, k); gcN += 1
          case _ => // GEOMETRYCOLLECTION EMPTY (length-0 list)
            du2.setTypeId(i, 7); du2.setOffset(i, gcN)
            gcLv.startNewValue(gcN); gcLv.endValue(gcN, 0); gcN += 1
        }
      }
      innerPt.setValueCount(innerN); innerDu.setValueCount(innerN)
      gcLv.setValueCount(gcN); ptm.setValueCount(ptmN); lzm.setValueCount(lzmN)
      du2.setValueCount(n)
      (du2, None)
    case 23 => // geoarrow.geometry DENSE UNION root (Point XY + LineString Z):
      // the union's types+offsets buffer run plus heterogeneous children,
      // under the same compression codecs and random masks as every other
      // kind — decoded as geometry (ext metadata), so pruned == full == WKB
      val f64 = new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      def interleaved(nm: String, dims: String) =
        new Field(nm, FieldType.nullable(new ArrowType.FixedSizeList(dims.length)),
          java.util.List.of(new Field(dims, new FieldType(false, f64, null, null),
            java.util.List.of[Field]())))
      val lineF = new Field("LineString Z", FieldType.nullable(new ArrowType.List()),
        java.util.List.of(interleaved("vertices", "xyz")))
      val unionField = new Field(name,
        new FieldType(true, new ArrowType.Union(UnionMode.Dense, Array(1, 12)), null,
          java.util.Map.of("ARROW:extension:name", "geoarrow.geometry")),
        java.util.List.of(interleaved("Point", "xy"), lineF))
      val du = unionField.createVector(alloc).asInstanceOf[DenseUnionVector]
      du.allocateNew()
      val pt = du.getVectorByType(1).asInstanceOf[FixedSizeListVector]
      val ls = du.getVectorByType(12).asInstanceOf[ListVector]
      var ptN = 0; var lsN = 0
      (0 until n).foreach { i =>
        if (rnd.nextBoolean()) {
          du.setTypeId(i, 1); du.setOffset(i, ptN)
          pt.setNotNull(ptN)
          val dv = pt.getDataVector.asInstanceOf[Float8Vector]
          dv.setSafe(ptN * 2, rnd.nextInt(1000) / 4.0)
          dv.setSafe(ptN * 2 + 1, rnd.nextInt(1000) / 4.0)
          ptN += 1
        } else {
          du.setTypeId(i, 12); du.setOffset(i, lsN)
          val start = ls.startNewValue(lsN)
          val nv = 2 + rnd.nextInt(3)
          val flv = ls.getDataVector.asInstanceOf[FixedSizeListVector]
          val dv = flv.getDataVector.asInstanceOf[Float8Vector]
          (0 until nv).foreach { k =>
            flv.setNotNull(start + k)
            (0 until 3).foreach(j => dv.setSafe((start + k) * 3 + j, rnd.nextInt(1000) / 4.0))
          }
          ls.endValue(lsN, nv); lsN += 1
        }
      }
      pt.setValueCount(ptN); ls.setValueCount(lsN); du.setValueCount(n)
      (du, None)
    case 24 => // geoarrow.geometrycollection ROOT (round 17's write shape):
      // List over a dense "geometries" union — its buffer run is the
      // list's fixed buffers followed by the union subtree, pruned like
      // any other column; empties (length-0 lists) and nulls ride along
      val f64c = new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      def interC(nm: String, dims: String) =
        new Field(nm, FieldType.nullable(new ArrowType.FixedSizeList(dims.length)),
          java.util.List.of(new Field(dims, new FieldType(false, f64c, null, null),
            java.util.List.of[Field]())))
      val gcRoot = new Field(name,
        new FieldType(true, new ArrowType.List(), null,
          java.util.Map.of("ARROW:extension:name", "geoarrow.geometrycollection")),
        java.util.List.of(new Field("geometries",
          new FieldType(false, new ArrowType.Union(UnionMode.Dense, Array(1)), null, null),
          java.util.List.of(interC("Point", "xy")))))
      val gv = gcRoot.createVector(alloc).asInstanceOf[ListVector]
      gv.allocateNew()
      val gDu = gv.getDataVector.asInstanceOf[DenseUnionVector]
      val gPt = gDu.getVectorByType(1).asInstanceOf[FixedSizeListVector]
      var gN = 0
      (0 until n).foreach { i =>
        rnd.nextInt(4) match {
          case 0 => () // unwritten = null collection
          case 1 => // GEOMETRYCOLLECTION EMPTY
            gv.startNewValue(i); gv.endValue(i, 0)
          case _ =>
            val start = gv.startNewValue(i)
            val k = 1 + rnd.nextInt(3)
            (0 until k).foreach { j =>
              gDu.setTypeId(start + j, 1); gDu.setOffset(start + j, gN)
              gPt.setNotNull(gN)
              val dv = gPt.getDataVector.asInstanceOf[Float8Vector]
              dv.setSafe(gN * 2, rnd.nextInt(1000) / 4.0)
              dv.setSafe(gN * 2 + 1, rnd.nextInt(1000) / 4.0)
              gN += 1
            }
            gv.endValue(i, k)
        }
      }
      gPt.setValueCount(gN); gDu.setValueCount(gN); gv.setValueCount(n)
      (gv, None)
    case _ => // struct{s: utf8view, d: float8} — a VIEW node NESTED under a
      // struct: its variadic buffer slot sits mid-pre-order, the most
      // delicate case for the buffer-run slicing
      val v = StructVector.empty(name, alloc)
      val s = v.addOrGet("s", FieldType.nullable(new ArrowType.Utf8View()), classOf[ViewVarCharVector])
      val d = v.addOrGet("d", FieldType.nullable(
        new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)), classOf[Float8Vector])
      v.allocateNew()
      (0 until n).foreach { i =>
        if (rnd.nextDouble() >= 0.15) {
          v.setIndexDefined(i)
          if (rnd.nextDouble() >= 0.2) // lengths straddle the 12-byte inline cutoff
            s.setSafe(i, rnd.alphanumeric.take(rnd.nextInt(25)).mkString.getBytes("UTF-8"))
          if (rnd.nextDouble() >= 0.2) d.setSafe(i, rnd.nextDouble())
        }
      }
      v.setValueCount(n); (v, None)
  }

  test("pruned reader == full reader over random schemas, masks, and compression") {
    val rnd = new Random(20260815L)
    val dir = java.nio.file.Files.createTempDirectory("arrowfuzz").toString
    var trial = 0
    while (trial < 60) {
      val ncols = 2 + rnd.nextInt(4)
      val kinds = Array.fill(ncols)(rnd.nextInt(26))
      val n = if (trial % 10 == 0) 0 else 1 + rnd.nextInt(50) // exercise 0-row files too
      val file = new java.io.File(dir, f"fuzz-$trial%03d.arrow")
      val alloc = new RootAllocator()
      var dictVecs: Seq[FieldVector] = Nil
      try {
        val cols = kinds.zipWithIndex.map { case (k, i) =>
          makeColumn(k, s"c$i", n, i + 1L, rnd, alloc)
        }
        dictVecs = cols.flatMap(_._2).map(_.getVector).toSeq
        val provider = new DictionaryProvider.MapDictionaryProvider(cols.flatMap(_._2): _*)
        val root = new VectorSchemaRoot(java.util.List.copyOf(
          java.util.Arrays.asList(cols.map(_._1): _*)))
        try {
          val out = new java.io.FileOutputStream(file)
          val writer = rnd.nextInt(3) match {
            case 0 => new org.apache.arrow.vector.ipc.ArrowFileWriter(root, provider, out.getChannel)
            case c => new org.apache.arrow.vector.ipc.ArrowFileWriter(root, provider, out.getChannel,
              new java.util.HashMap[String, String](),
              org.apache.arrow.vector.ipc.message.IpcOption.DEFAULT,
              org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE,
              if (c == 1) org.apache.arrow.vector.compression.CompressionUtil.CodecType.LZ4_FRAME
              else org.apache.arrow.vector.compression.CompressionUtil.CodecType.ZSTD)
          }
          try { writer.start(); writer.writeBatch(); writer.end() }
          finally { writer.close(); out.close() }
          // STREAM-format (.arrows) twin of the same root: the bare
          // message-sequence wire format must decode to the identical rows.
          // Dictionary trials twin too (round 16): their dictionary batches
          // ride inline ahead of the record batch and the reader maps the
          // value types from the schema message
          val sOut = new java.io.FileOutputStream(streamTwin(file))
          val sWriter = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, provider, sOut.getChannel)
          try { sWriter.start(); sWriter.writeBatch(); sWriter.end() }
          finally { sWriter.close(); sOut.close() }
        } finally root.close()
      } finally { dictVecs.foreach(_.close()); alloc.close() }

      // random projection mask (at least one column kept) + the full mask
      val mask = Array.fill(ncols)(rnd.nextBoolean())
      if (!mask.exists(identity)) mask(rnd.nextInt(ncols)) = true
      for (m <- Seq(mask, Array.fill(ncols)(true))) {
        val full = ArrowIpc.decodeFile(file.getAbsolutePath, conf, m).toVector
        val pruned = ArrowIpc.decodeFile(file.getAbsolutePath, conf, m, pruneBytes = true).toVector
        assert(pruned.size == full.size,
          s"trial $trial kinds=${kinds.mkString(",")} mask=${m.mkString(",")}: " +
            s"row count ${pruned.size} != ${full.size}")
        pruned.zip(full).zipWithIndex.foreach { case ((p, f), i) =>
          assert(p == f, s"trial $trial kinds=${kinds.mkString(",")} " +
            s"mask=${m.mkString(",")} row $i:\n  pruned=$p\n  full  =$f")
        }
        // .arrows twin decodes to the same rows through the stream path
        val twin = streamTwin(file)
        if (twin.exists()) {
          val stream = ArrowIpc.decodeFile(twin.getAbsolutePath, conf, m).toVector
          assert(stream == full, s"trial $trial kinds=${kinds.mkString(",")} " +
            s"mask=${m.mkString(",")}: stream decode diverged from file decode")
        }
      }
      trial += 1
    }
  }
}
