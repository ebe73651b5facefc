package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** `MM_*` / `graft_media_*` media functions over binary payload columns —
  * StaticInvoke expressions on [[graft.core.MediaOps]], codegen-inlined like
  * the ST_* surface. All decode paths are the real `javax.imageio` codec. */
object MediaFunctions {

  private val mediaOps = Class.forName("graft.core.MediaOps")

  private[graft] case class Sig(method: String, ret: DataType, params: Seq[DataType],
                         nullableRet: Boolean = false)

  /** struct emitted by the REAL decoder (javax.imageio). */
  private val decodedStruct = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("pixels", BinaryType, nullable = false)))

  /** struct from the header-only metadata probe (no pixel decode). */
  private val metaStruct = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false)))

  /** struct from the audio header probe (no sample decode). */
  private val audioMetaStruct = StructType(Seq(
    StructField("rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("frames", LongType, nullable = false)))

  /** struct from the REAL audio decoder (javax.sound.sampled) — exact
    * integer signal stats the oracle pins from the closed-form signal. */
  private val audioStatsStruct = StructType(Seq(
    StructField("n_samples", LongType, nullable = false),
    StructField("peak_abs", IntegerType, nullable = false),
    StructField("sum_abs", LongType, nullable = false),
    StructField("sum_sq", LongType, nullable = false)))

  private[graft] val sigs: Map[String, Sig] = Map(
    "mm_framelen" -> Sig("mediaFrameLen", IntegerType, Seq(BinaryType, IntegerType, IntegerType)),
    "mm_frame" -> Sig("mediaFrame", BinaryType, Seq(BinaryType, IntegerType, IntegerType)),
    "mm_framecount" -> Sig("mediaFrameCount", IntegerType, Seq(BinaryType)),
    "mm_framesample" -> Sig("mediaFrameSample",
      ArrayType(BinaryType, containsNull = false), Seq(BinaryType, IntegerType)),
    "graft_video_meta" -> Sig("videoMeta",
      StructType(Seq(
        StructField("width", IntegerType, nullable = false),
        StructField("height", IntegerType, nullable = false),
        StructField("frames", IntegerType, nullable = false),
        StructField("usec_per_frame", IntegerType, nullable = false))), Seq(BinaryType)),
    "graft_video_avi" -> Sig("videoAvi", BinaryType, Seq(LongType)),
    "mm_decode" -> Sig("mediaDecode", decodedStruct, Seq(BinaryType)),
    "graft_media_decode" -> Sig("mediaDecode", decodedStruct, Seq(BinaryType)),
    "graft_media_meta" -> Sig("mediaMeta", metaStruct, Seq(BinaryType)),
    "graft_media_meta_safe" -> Sig("mediaMetaSafe", metaStruct, Seq(BinaryType), nullableRet = true),
    "graft_media_png" -> Sig("mediaPngGray", BinaryType, Seq(LongType)),
    "graft_media_phash" -> Sig("mediaPhash", StringType, Seq(BinaryType)),
    "graft_media_transcode" -> Sig("mediaTranscode", BinaryType, Seq(BinaryType, StringType)),
    "graft_audio_wav" -> Sig("audioWav", BinaryType, Seq(LongType)),
    "graft_audio_meta" -> Sig("audioMeta", audioMetaStruct, Seq(BinaryType)),
    "graft_audio_resample" -> Sig("audioResample", BinaryType, Seq(BinaryType, IntegerType)),
    "graft_media_pixstats" -> Sig("mediaPixStats",
      StructType(Seq(
        StructField("n", LongType, nullable = false),
        StructField("sum", LongType, nullable = false),
        StructField("sum_sq", LongType, nullable = false))), Seq(BinaryType)),
    "graft_media_pyramid" -> Sig("mediaPyramid",
      ArrayType(StructType(Seq(
        StructField("level", IntegerType, nullable = false),
        StructField("w", IntegerType, nullable = false),
        StructField("h", IntegerType, nullable = false),
        StructField("checksum", LongType, nullable = false))), containsNull = false),
      Seq(BinaryType, IntegerType)),
    "graft_audio_stats" -> Sig("audioStats", audioStatsStruct, Seq(BinaryType)),
    "graft_media_aug" -> Sig("mediaAugChecksum", LongType, Seq(BinaryType, IntegerType)),
    "graft_media_patches" -> Sig("mediaPatchSums",
      ArrayType(LongType, containsNull = false), Seq(BinaryType, IntegerType, IntegerType)),
    "graft_audio_windows" -> Sig("audioWindows",
      ArrayType(StructType(Seq(
        StructField("win_idx", IntegerType, nullable = false),
        StructField("n_samples", LongType, nullable = false),
        StructField("peak_abs", IntegerType, nullable = false),
        StructField("sum_abs", LongType, nullable = false),
        StructField("sum_sq", LongType, nullable = false))), containsNull = false),
      Seq(BinaryType, IntegerType)))

  private def build(name: String, sig: Sig)(args: Seq[Expression]): Expression = {
    require(args.length == sig.params.length, s"$name expects ${sig.params.length} args")
    val cast = args.zip(sig.params).map { case (e, t) => Cast(e, t) }
    StaticInvoke(mediaOps, sig.ret, sig.method, cast, Nil,
      propagateNull = true, returnNullable = sig.nullableRet)
  }

  /** Builders for [[GeoFunctions.functionDescriptors]]. */
  private[functions] val builders: Seq[(String, Seq[Expression] => Expression)] =
    sigs.toSeq.map { case (name, sig) => name -> build(name, sig) _ }
}
