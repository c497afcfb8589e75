package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, IntegerLiteral}

/** SQL registration for the native expressions, so `spark.sql` users
  * get them too:
  *
  *   - session-local: `GraftFunctions.register(spark)`
  *   - cluster-wide:  `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  */
object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e match {
    case IntegerLiteral(i) => i
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Evaluate a foldable array<string> argument (e.g. `array('a','b')`)
    * to the driver-side Seq the set-backed expressions need. */
  private def stringSeqArg(e: Expression, what: String): Seq[String] = {
    require(e.foldable, s"$what must be a foldable array<string> literal")
    val arr = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
  }

  private def doubleArg(e: Expression, what: String): Double = e.eval(null) match {
    case d: java.lang.Double => d
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case i: java.lang.Integer => i.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> { exprs => SimHash64(exprs.head) },
    "simhash_poly" -> { exprs => SimHashPoly(exprs.head) },
    "minhash_sig" -> { exprs =>
      MinHashSig(exprs.head, intArg(exprs(1), "minhash_sig k")) },
    "minhash_bands" -> { exprs =>
      MinHashBands(exprs.head, intArg(exprs(1), "bands"),
        intArg(exprs(2), "rows")) },
    "dot_product" -> { exprs => DotProduct(exprs.head, exprs(1)) },
    "lsh_buckets" -> { exprs =>
      LshBuckets(exprs.head, intArg(exprs(1), "nPlanes"),
        intArg(exprs(2), "nTables")) },
    "shingle_set" -> { exprs =>
      ShingleSet(exprs.head, intArg(exprs(1), "n")) },
    "max_ngram_freq" -> { exprs =>
      MaxNgramFreq(exprs.head, intArg(exprs(1), "n")) },
    // in_set_count(tokens, array('a','b'))
    "in_set_count" -> { exprs =>
      InSetCount(exprs.head, stringSeqArg(exprs(1), "in_set_count set")) },
    // token_score_sum(tokens, array('a','b'), array(0.1, 0.2), default)
    "token_score_sum" -> { exprs =>
      val keys = stringSeqArg(exprs(1), "token_score_sum keys")
      require(exprs(2).foldable, "token_score_sum values must be foldable")
      val vals = {
        import org.apache.spark.sql.types._
        val a = exprs(2).eval(null)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        // SQL decimal literals (array(0.1, 0.2)) arrive as DECIMAL
        val elemType = exprs(2).dataType.asInstanceOf[ArrayType].elementType
        (0 until a.numElements()).map(i => elemType match {
          case DoubleType => a.getDouble(i)
          case FloatType => a.getFloat(i).toDouble
          case d: DecimalType => a.getDecimal(i, d.precision, d.scale).toDouble
          case IntegerType => a.getInt(i).toDouble
          case LongType => a.getLong(i).toDouble
          case other => throw new IllegalArgumentException(
            s"token_score_sum values: unsupported element type $other")
        })
      }
      require(keys.size == vals.size,
        s"token_score_sum: ${keys.size} keys but ${vals.size} values")
      val default =
        if (exprs.length > 3) doubleArg(exprs(3), "token_score_sum default")
        else 0.0
      TokenScoreSum(exprs.head, keys.zip(vals), default)
    },
    "nfc_normalize" -> { exprs => NfcNormalize(exprs.head) },
    // multi_contains(text, array('pat a', 'pat b'))
    "multi_contains" -> { exprs =>
      MultiContains(exprs.head,
        stringSeqArg(exprs(1), "multi_contains patterns")) },
    // cdc_chunks(text, window, divisor)
    "cdc_chunks" -> { exprs =>
      CdcChunks(exprs.head, intArg(exprs(1), "cdc_chunks window"),
        intArg(exprs(2), "cdc_chunks divisor")) },
    // winnow_fps(text, k, w)
    "winnow_fps" -> { exprs =>
      WinnowFps(exprs.head, intArg(exprs(1), "winnow_fps k"),
        intArg(exprs(2), "winnow_fps w")) },
    // gram_fps(text, k) / gram_fps_wide(text, k) — 62-/124-bit window
    // fingerprints (wide = the destructive-consumer form, p42)
    "gram_fps" -> { exprs =>
      GramFps(exprs.head, intArg(exprs(1), "gram_fps k")) },
    "gram_fps_wide" -> { exprs =>
      GramFpsWide(exprs.head, intArg(exprs(1), "gram_fps_wide k")) })

  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

/** `spark.sql.extensions` entry point: native SQL functions plus the
  * graft plan rules (range-join auto-rewrite, the top-k-per-key
  * strategy, and under AQE one-partition inputs and the single-partition
  * tail). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
    e.injectOptimizerRule(_ => new graft.plans.RangeJoinRewrite)
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    e.injectPreCBORule(_ => new graft.plans.OnePartitionInputs)
    e.injectRuntimeOptimizerRule(new graft.plans.SinglePartitionTail(_))
  }
}
