package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** Session extensions for graft's native expressions.
  *
  * Two registration paths:
  *  - `spark.sql.extensions=graft.plans.GraftExtensions` at session build
  *    (the standard SparkSessionExtensions route), or
  *  - `GraftExtensions.ensureRegistered(spark)` for an existing session
  *    (idempotent temp-function registration) — used by the operators so a
  *    vanilla session still gets the codegen'd path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, make) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), make))
    }
}

object GraftExtensions {

  /** Every native function as `(name, expression class, constructor)`: the one
    * table both registration paths read. */
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_cosine", classOf[CosineSimilarity],
      c => CosineSimilarity(c(0), c(1))),
    ("graft_md5h60", classOf[Md5Hash60], c => Md5Hash60(c.head)),
    ("graft_nearest_centroid", classOf[NearestCentroid],
      c => NearestCentroid(c(0), c(1))),
    ("graft_sorted_intersect", classOf[SortedIntersectCount],
      c => SortedIntersectCount(c(0), c(1))),
    ("graft_dot_long", classOf[DotLong], c => DotLong(c(0), c(1))),
    ("graft_bloom_might_contain", classOf[BloomFilterMightContain],
      c => BloomFilterMightContain(c(0), c(1))))

  /** Idempotently register graft functions on an existing session. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, make) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, make, "built-in")
    }
  }

  /** Column-API handle for the native cosine (registers on first use). */
  def cosine(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_cosine", a, b)
  }

  /** Column-API handle for the native exact `array<long>` dot product
    * (the int8-quantized domain; ANSI — overflow throws). */
  def dotLong(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_dot_long", a, b)
  }

  /** Column-API handle for the native sorted-array intersection count:
    * both arrays must be sorted ascending and duplicate-free. */
  def sortedIntersect(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_sorted_intersect", a, b)
  }

  /** Column-API handle for the native nearest-centroid argmax: `matrix`
    * must be a foldable `array<array<float>>` of centroid literals. */
  def nearestCentroid(spark: SparkSession, vec: Column, matrix: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_nearest_centroid", vec, matrix)
  }
}
