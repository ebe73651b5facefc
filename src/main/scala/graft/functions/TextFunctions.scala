package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Text-analysis / dedup / vector primitives for large-scale training-data
  * pipelines: `graft_*` SQL functions backed by Catalyst `StaticInvoke` onto
  * [[graft.core.TextOps]] / [[graft.core.VecOps]] statics — one inlined call
  * site in the generated code, unboxed loops inside.
  *
  * These started as SQL UDF macros (CREATE TEMPORARY FUNCTION … RETURN
  * higher-order-function expression). That kept them "pure Catalyst" but the
  * HOF lambdas box every element, the macro-expanded plans ballooned janino
  * compile time per query, and a referenced CTE re-optimizes the whole
  * lambda subtree at each reference. The statics carry an exact-semantics
  * contract instead (documented per kernel in TextOps/VecOps).
  *
  * Portability contract: `graft_hash` is the first 8 hex chars of md5 parsed
  * as a BIGINT — computable identically in DuckDB
  * (`('0x' || substr(md5(s),1,8))::BIGINT`), which is what makes the minhash/
  * simhash pipelines oracle-checkable without sharing code.
  *
  * Scale notes (100 TB): all functions are per-row (embarrassingly
  * parallel). The LSH join in SparkEntry `t07` shuffles on (band, bucket) —
  * the standard minhash-LSH candidate-generation topology; the ANN bucket
  * join in `e02` shuffles on the sign-bucket id instead of cross-joining.
  */
object TextFunctions {

  private val S = StringType
  private val I = IntegerType
  private val L = LongType
  private val D = DoubleType
  private val AS = ArrayType(StringType, containsNull = false)
  private val AD = ArrayType(DoubleType)

  private val textOps = Class.forName("graft.core.TextOps")
  private val vecOps = Class.forName("graft.core.VecOps")

  /** name → (class, method, returnType, paramTypes) */
  private[graft] val sigs: Seq[(String, (Class[_], String, DataType, Seq[DataType]))] = Seq(
    // text kernels
    "graft_hash" -> ((textOps, "hash32", L, Seq(S))),
    "graft_tokens" -> ((textOps, "tokens", AS, Seq(S))),
    "graft_token_count" -> ((textOps, "tokenCount", I, Seq(S))),
    "graft_ngrams" -> ((textOps, "ngrams", AS, Seq(S, I))),
    "graft_shingles" -> ((textOps, "shingles", AS, Seq(S, I))),
    "graft_chunks" -> ((textOps, "chunks", AS, Seq(S, I, I))),
    "graft_jaccard" -> ((textOps, "jaccard", D, Seq(AS, AS))),
    "graft_simhash" -> ((textOps, "simhash", L, Seq(S))),
    "graft_minhash" -> ((textOps, "minhash", ArrayType(LongType, containsNull = false), Seq(S, I, I))),
    "graft_minhash_sigs" -> ((textOps, "minhashSigs", ArrayType(LongType, containsNull = false), Seq(AS, I))),
    "graft_stop_ratio" -> ((textOps, "stopRatio", D, Seq(S))),
    "graft_quality" -> ((textOps, "quality", D, Seq(S))),
    "graft_fingerprint" -> ((textOps, "fingerprint", L, Seq(S))),
    "graft_fingerprints" -> ((textOps, "fingerprints", ArrayType(LongType, containsNull = false), Seq(S, I, I))),
    "graft_top_ngram_frac" -> ((textOps, "topNgramFrac", D, Seq(S, I))),
    "graft_dup_ngram_frac" -> ((textOps, "dupNgramFrac", D, Seq(S, I))),
    "graft_pii_emails" -> ((textOps, "piiEmails", I, Seq(S))),
    "graft_pii_phones" -> ((textOps, "piiPhones", I, Seq(S))),
    "graft_pii_ipv4" -> ((textOps, "piiIpv4", I, Seq(S))),
    "graft_redact" -> ((textOps, "redact", S, Seq(S))),
    "graft_strip_html" -> ((textOps, "stripHtml", S, Seq(S))),
    "graft_nfc" -> ((textOps, "nfc", S, Seq(S))),
    "graft_nfkc" -> ((textOps, "nfkc", S, Seq(S))),
    "graft_strip_invisible" -> ((textOps, "stripInvisible", S, Seq(S))),
    // vector kernels
    "graft_vec" -> ((vecOps, "toDouble", ArrayType(DoubleType, containsNull = false), Seq(ArrayType(FloatType)))),
    "graft_dot" -> ((vecOps, "dot", D, Seq(AD, AD))),
    "graft_cosine" -> ((vecOps, "cosine", D, Seq(AD, AD))),
    "graft_bucketk" -> ((vecOps, "bucketk", L, Seq(AD, I, L))),
    "graft_bucket_probes" -> ((vecOps, "bucketProbes",
      ArrayType(LongType, containsNull = false), Seq(AD, I, L, I))),
    "graft_bpe_tokens" -> ((textOps, "bpeTokens", AS, Seq(S))),
    "graft_bpe_count" -> ((textOps, "bpeCount", I, Seq(S))),
    // CMS probe: pairs with Spark's native count_min_sketch aggregate; the
    // agg adds StringType as UTF-8 bytes, the static probes the same bytes
    "graft_cms_estimate" -> ((Class.forName("graft.core.SketchOps"),
      "cmsEstimate", L, Seq(BinaryType, S))),
    "graft_l2" -> ((vecOps, "l2", D, Seq(AD, AD))),
  )

  /** Builders for [[GeoFunctions.functionDescriptors]]. */
  private[functions] val builders: Seq[(String, Seq[Expression] => Expression)] =
    sigs.map { case (name, (cls, method, ret, params)) =>
      name -> ((args: Seq[Expression]) => StaticInvoke(cls, ret, method,
        args.zip(params).map { case (e, t) => Cast(e, t) }, Nil,
        propagateNull = true, returnNullable = false): Expression)
    } ++ Seq(
      // Bloom-filter surface: Spark's OWN runtime-filter expressions
      // (BloomFilterAggregate / BloomFilterMightContain — the machinery
      // behind spark.sql.optimizer.runtime.bloomFilter), exposed as SQL
      // functions so a pipeline can build a filter over a SMALL key set
      // (one binary blob, broadcast via scalar subquery) and prune a 100 TB
      // scan MAP-SIDE before any shuffle. No false negatives, so an exact
      // confirm join downstream makes results bloom-independent (t20).
      "graft_bloom_agg" -> ((args: Seq[Expression]) => (args match {
        case Seq(c) => new BloomFilterAggregate(Cast(c, L))
        case Seq(c, n) =>
          // Spark's aggregate reads its size while the query is analyzed
          // and fails with an internal NPE on a null or non-constant one
          val size = Cast(n, L, Option(SQLConf.get.sessionLocalTimeZone))
          if (!size.foldable || size.eval() == null) throw new IllegalArgumentException(
            "graft_bloom_agg(hash, estimatedItems): estimatedItems must be a non-null constant")
          new BloomFilterAggregate(Cast(c, L), size)
        case _ => throw new IllegalArgumentException(
          "graft_bloom_agg(hash[, estimatedItems]) expects 1 or 2 args")
      }).toAggregateExpression()),
      "graft_might_contain" -> ((args: Seq[Expression]) => args match {
        case Seq(b, v) => BloomFilterMightContain(b, Cast(v, L))
        case _ => throw new IllegalArgumentException(
          "graft_might_contain(bloom, hash) expects 2 args")
      }))
}
