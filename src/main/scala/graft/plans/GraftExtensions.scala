package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL surface for the engine's native expressions: registers
  * `cosine_sim`, `minhash_signature`, `simhash64`, `tokenize`,
  * `distinct_shingles` and `gram_hashes` in the function registry
  * (integer arguments must be literals) so pure-SQL users (`spark.sql`, JDBC/Thrift, notebooks) get
  * the same codepaths as the Column API.
  *
  * Two entry points:
  *  - deployment: `spark.sql.extensions=graft.plans.GraftExtensions`
  *    (the standard extensions hook — applied at session build);
  *  - an existing session: `GraftExtensions.register(spark)` (same
  *    builders into the live registry; used by the spec, since a
  *    JVM-wide test session already exists before extensions could run).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other =>
      throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private[plans] val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      "cosine_sim",
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))
    ),
    (
      "minhash_signature",
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (args: Seq[Expression]) =>
        MinHashSignature(args(0), intArg(args(1), "minhash_signature numHashes"))
    ),
    (
      "simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args(0))
    ),
    (
      "tokenize",
      new ExpressionInfo(classOf[Tokenize].getName, "tokenize"),
      (args: Seq[Expression]) => Tokenize(args(0))
    ),
    (
      "distinct_shingles",
      new ExpressionInfo(classOf[DistinctShingles].getName, "distinct_shingles"),
      (args: Seq[Expression]) =>
        DistinctShingles(args(0), intArg(args(1), "distinct_shingles n"))
    ),
    (
      "gram_hashes",
      new ExpressionInfo(classOf[GramHashes].getName, "gram_hashes"),
      (args: Seq[Expression]) => GramHashes(args(0), intArg(args(1), "gram_hashes k"))
    )
  )

  /** Register into a live session's function registry. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), info, builder)
    }
}
