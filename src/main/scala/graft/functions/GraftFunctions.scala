package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration for the engine's native SQL functions.
  *
  * Two integration points:
  *  - [[GraftFunctions.registerAll]] for an existing session (temp functions)
  *  - [[GraftExtensions]] for `spark.sql.extensions=graft.GraftExtensions`
  *    (session-builder injection — the idiomatic library hook)
  */
object GraftFunctions {

  /** One arity-checked builder per function, shared by both registration
    * paths so they can never drift. */
  private[functions] val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("minhash_sig", classOf[MinHashSignature], (exprs: Seq[Expression]) => exprs match {
      case Seq(shingles) => MinHashSignature(shingles)
      case other => throw new IllegalArgumentException(
        s"minhash_sig expects (array<string>), got ${other.size} args")
    }),
    ("minhash_agg", classOf[MinHashAgg], (exprs: Seq[Expression]) => exprs match {
      case Seq(shingles) => MinHashAgg(shingles)
      case other => throw new IllegalArgumentException(
        s"minhash_agg expects (array<string>), got ${other.size} args")
    }),
    ("kmv_distinct", classOf[KmvDistinct], (exprs: Seq[Expression]) => exprs match {
      case Seq(value) => KmvDistinct(value, 256)
      case Seq(value, k) => KmvDistinct(
        value, k.eval().asInstanceOf[Number].intValue())
      case other => throw new IllegalArgumentException(
        s"kmv_distinct expects (string[, k]), got ${other.size} args")
    }),
    ("rabin_fingerprint", classOf[RabinFingerprint], (exprs: Seq[Expression]) => exprs match {
      case Seq(text) => RabinFingerprint(text, 8)
      case Seq(text, k) => RabinFingerprint(
        text, k.eval().asInstanceOf[Number].intValue())
      case other => throw new IllegalArgumentException(
        s"rabin_fingerprint expects (text[, k]), got ${other.size} args")
    }),
    ("rolling_min_hash", classOf[RollingMinHash], (exprs: Seq[Expression]) => exprs match {
      case Seq(text) => RollingMinHash(text, 8)
      case Seq(text, k) => RollingMinHash(
        text, k.eval().asInstanceOf[Number].intValue())
      case other => throw new IllegalArgumentException(
        s"rolling_min_hash expects (text[, k]), got ${other.size} args")
    }),
    // Spark's own codegen'd Bloom probe (the expression behind its injected
    // runtime filters), surfaced by name: the filter argument must be a
    // CONSTANT binary (a serialized sketch BloomFilter) so the expression
    // deserializes it once per task, not per row — exactly the contract
    // JoinOps.bloomSemiJoin satisfies with a literal.
    ("bloom_might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain],
      (exprs: Seq[Expression]) => exprs match {
        case Seq(filter, value) =>
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(filter, value)
        case other => throw new IllegalArgumentException(
          s"bloom_might_contain expects (binary, long), got ${other.size} args")
      }),
    ("vec_dot", classOf[DotProduct], (exprs: Seq[Expression]) => exprs match {
      case Seq(a, b) => DotProduct(a, b)
      case other => throw new IllegalArgumentException(
        s"vec_dot expects (array<double>, array<double>), got ${other.size} args")
    }),
    ("vec_l2sq", classOf[SquaredL2], (exprs: Seq[Expression]) => exprs match {
      case Seq(a, b) => SquaredL2(a, b)
      case other => throw new IllegalArgumentException(
        s"vec_l2sq expects (array<double>, array<double>), got ${other.size} args")
    }),
    ("lane_agree", classOf[LaneAgree], (exprs: Seq[Expression]) => exprs match {
      case Seq(a, b) => LaneAgree(a, b)
      case other => throw new IllegalArgumentException(
        s"lane_agree expects (array<string>, array<string>), got ${other.size} args")
    }),
    ("phrase_count", classOf[PhraseCount], (exprs: Seq[Expression]) => exprs match {
      case Seq(toks, ptoks) => PhraseCount(toks, ptoks)
      case other => throw new IllegalArgumentException(
        s"phrase_count expects (array<string>, array<string>), got ${other.size} args")
    }),
    ("bpe_encode", classOf[BpeEncode], (exprs: Seq[Expression]) => exprs match {
      case Seq(text, merges) => BpeEncode(text, merges)
      case other => throw new IllegalArgumentException(
        s"bpe_encode expects (string, array<string>), got ${other.size} args")
    }),
    ("bpe_encode_bytes", classOf[BpeEncodeBytes], (exprs: Seq[Expression]) => exprs match {
      case Seq(payload, merges) => BpeEncodeBytes(payload, merges)
      case other => throw new IllegalArgumentException(
        s"bpe_encode_bytes expects (binary, array<string>), got ${other.size} args")
    }),
    ("vec_sum_u6", classOf[VecSumU6], (exprs: Seq[Expression]) => exprs match {
      case Seq(v) => VecSumU6(v)
      case other => throw new IllegalArgumentException(
        s"vec_sum_u6 expects (array<double>), got ${other.size} args")
    }),
    ("top_k_by", classOf[TopKByAgg], (exprs: Seq[Expression]) => exprs match {
      case Seq(key, ord, k) => TopKByAgg(key, ord,
        k.eval().asInstanceOf[Number].intValue())
      case other => throw new IllegalArgumentException(
        s"top_k_by expects (key, ord, k), got ${other.size} args")
    }))

  /** Table-valued functions (a FROM-clause relation per call), registered
    * through the TableFunctionRegistry rather than the scalar registry. */
  private[functions] val tableBuilders: Seq[(String, Class[_],
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    (graft.catalog.TableChanges.Name,
      graft.catalog.TableChanges.getClass,
      graft.catalog.TableChanges.builder _))

  def registerAll(spark: SparkSession): Unit = {
    builders.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    tableBuilders.foreach { case (name, _, builder) =>
      spark.sessionState.tableFunctionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** `SparkSessionExtensions` hook: inject the engine's functions at session
  * build time (`.withExtensions(new GraftExtensions)` or the
  * `spark.sql.extensions` conf). Uses the same arity-checked builders as
  * [[GraftFunctions.registerAll]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, cls, builder) =>
      e.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        builder))
    }
    GraftFunctions.tableBuilders.foreach { case (name, cls, builder) =>
      e.injectTableFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        builder))
    }
  }
}
