package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}

import graft.sources.{ArrowIpc, FlatGeobuf, FlatGeobufWriter, Shapefile, ShapefileWriter}

/** FlatGeobuf, Shapefile and Arrow IPC plan their splits with one planner:
  * a file at or under `spark.sql.files.maxPartitionBytes` (16 KB here) is
  * one whole-file split and is never probed; a bigger one is probed once
  * per (path, size, mtime) — up to 64 probes on the driver, more as one
  * Spark job — and its splits are cached. Job counts come from
  * [[SparkJobs.count]]; every file is written by the spec. */
class SplitPlanSpec extends SparkTestBase {

  private val MaxPart = 16 * 1024

  private case class Face(name: String, write: (DataFrame, String) => Unit,
                          read: String => DataFrame)

  private val faces = Seq(
    Face("flatgeobuf", (df, p) => FlatGeobufWriter.write(df, p), p => FlatGeobuf.read(spark, p)),
    Face("shapefile", (df, p) => ShapefileWriter.write(df, p), p => Shapefile.read(spark, p)),
    Face("arrowipc", (df, p) => ArrowIpc.write(df, p), p => ArrowIpc.read(spark, p)))

  /** `files` part-files of `perFile` rows each (id, label, point) into
    * `dir`, a fresh directory unless given. */
  private def written(face: Face, files: Int, perFile: Int,
                      dir: String = null): String = {
    val out = Option(dir).getOrElse(Files.createTempDirectory(s"splitplan-${face.name}").toString)
    face.write(spark.range(0, files.toLong * perFile, 1, files).selectExpr(
      "id", "CONCAT('label-', id) AS label",
      "ST_Point(CAST(id % 211 AS DOUBLE), CAST(id DIV 211 AS DOUBLE)) AS geometry"), out)
    out
  }

  private def withMaxPart[T](body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, MaxPart.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Jobs started by reading `df` to the driver; `rows` gets the rows. */
  private def jobs(df: => DataFrame)(rows: Array[Row] => Unit = _ => ()): Int = {
    var got: Array[Row] = null
    val n = SparkJobs.count(spark) { got = df.collect() }
    rows(got)
    n
  }

  private def sorted(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).sortBy(_.head.asInstanceOf[Number].longValue)

  faces.foreach { face =>
    test(s"${face.name}: a cold read of 3 big files runs 1 job and returns the whole-file rows") {
      val dir = written(face, 3, 10000)
      var split: Array[Row] = null
      withMaxPart {
        assert(jobs(face.read(dir))(split = _) == 1)
        assert(face.read(dir).rdd.getNumPartitions > 3, "the big files must split")
      }
      val whole = face.read(dir)
      assert(whole.rdd.getNumPartitions == 3)
      assert(split.length == 30000)
      assert(sorted(split) == sorted(whole.collect()), "split read diverged from whole-file read")
    }

    test(s"${face.name}: 65 big files: a cold read runs 2 jobs, a warm read 1, a rewrite 2") {
      withMaxPart {
        val dir = written(face, 65, 800)
        assert(jobs(face.read(dir))(r => assert(r.length == 65 * 800)) == 2)
        assert(jobs(face.read(dir))(r => assert(r.length == 65 * 800)) == 1)
        // the rewrite changes every file's size, so the cached plans miss
        written(face, 65, 900, dir)
        assert(jobs(face.read(dir))(r => assert(r.length == 65 * 900)) == 2)
        assert(jobs(face.read(dir))() == 1)
      }
    }
  }

  test("arrowipc: a cold read of 65 small files probes nothing and runs 1 job") {
    val face = faces.find(_.name == "arrowipc").get
    withMaxPart {
      val dir = written(face, 65, 20)
      assert(jobs(face.read(dir))(r => assert(r.length == 65 * 20)) == 1)
    }
  }

  test("flatgeobuf: a bbox read of 65 big files probes nothing and runs 1 job") {
    val face = faces.find(_.name == "flatgeobuf").get
    withMaxPart {
      val dir = written(face, 65, 800)
      // x in [0, 10], y in [0, 2]: 3 rows of 11 points
      val box = Some((0.0, 0.0, 10.0, 2.0))
      assert(jobs(FlatGeobuf.read(spark, dir, bbox = box)) { r =>
        assert(r.length == 33)
        val ids = r.map(_.getAs[Long]("id"))
        assert(ids.forall(id => id % 211 <= 10 && id / 211 <= 2))
      } == 1)
    }
  }
}
