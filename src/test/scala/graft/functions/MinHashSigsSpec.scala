package graft.functions

import graft.{GraftSession, SparkSpec}
import graft.ext.TextDedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The MinHash kernel must agree with the expression form it replaces,
  * `array_min(transform(shs, x -> md5(concat('j|', x))))`, slot by slot:
  * on the sf0.01 shingle sets, and on hand-made sets with multi-byte
  * UTF-8 shingles, a single shingle, null elements, an empty array and a
  * null. Both the codegen and the interpreted paths are exercised.
  */
class MinHashSigsSpec extends SparkSpec {

  private val K = 8

  private val modes = Seq(
    "codegen" -> Seq(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true"),
    "interpreted" -> Seq(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  /** (id, shs) rows whose kernel slots differ from the expression form. */
  private def mismatches(s: SparkSession, sets: DataFrame): Seq[Row] = {
    MinHashSigs.register(s)
    val kernel = MinHashSigs.sigs(col("shs"), K)
    val pairs = (0 until K).map(j => kernel.getItem(j) <=>
      array_min(transform(col("shs"), x => md5(concat(lit(s"$j|"), x)))))
    GraftSession.bind(s, sets)
      .filter(!pairs.reduce(_ && _))
      .select("id", "shs")
      .collect().toSeq
  }

  private val handMade: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("a b c"),
    2L -> Seq("naïve café au", "é è ê", "€ 𝄞 x", "日本 語 の"),
    3L -> Seq("Ã© Ã¨ z", "a b c", "z y x", "𝄞 𝄞 𝄞"),
    4L -> Seq(null, "only one shingle"),
    5L -> Seq(null),
    6L -> Seq(),
    7L -> null)

  private def handMadeDf(s: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("shs", ArrayType(StringType, containsNull = true))))
    // an RDD-backed relation: the optimizer would evaluate a local one
    // while planning, and it would never reach the generated code
    s.createDataFrame(
      s.sparkContext.parallelize(handMade.map { case (i, a) => Row(i, a) }, 2),
      schema)
  }

  for ((mode, confs) <- modes) {
    test(s"kernel == md5 expression form on the sf0.01 shingle sets ($mode)") {
      val sets = TextDedup.cachedDocSets(spark, sf01)
        .select(col("doc_id").as("id"), col("shs"))
      assert(sets.count() > 0)
      GraftSession.scoped(spark, confs: _*) { s =>
        assert(mismatches(s, sets).isEmpty)
      }
    }

    test(s"kernel == md5 expression form on hand-made sets ($mode)") {
      GraftSession.scoped(spark, confs: _*) { s =>
        assert(mismatches(s, handMadeDf(s)).isEmpty)
        MinHashSigs.register(s)
        val got = handMadeDf(s)
          .select(col("id"), MinHashSigs.sigs(col("shs"), K).as("sig"))
          .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
        // a null, an empty or an all-null array has no signature
        assert(got(5L).isEmpty && got(6L).isEmpty && got(7L).isEmpty)
        assert(got(1L).exists(_.size == K))
        assert(got(4L).exists(_.size == K))
      }
    }
  }
}
