package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.{col, posexplode, struct}
import org.apache.spark.sql.graftshim.Shims

/** Session-extension injection for the engine's native expressions —
  * `spark.sql("SELECT cosine_sim(a, b)")` works after either
  * `.withExtensions(new GraftExtensions)` at build time or
  * `GraftExtensions.register(spark)` on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.cosineSimDescriptor)
    ext.injectFunction(GraftExtensions.minhashSigDescriptor)
    ext.injectFunction(GraftExtensions.minGramHashDescriptor)
    ext.injectFunction(GraftExtensions.gramHashesDescriptor)
    ext.injectFunction(GraftExtensions.dotI64Descriptor)
    ext.injectFunction(GraftExtensions.l2sqDescriptor)
    ext.injectOptimizerRule(GlobalRankRewrite(_))
  }
}

object GraftExtensions {
  private val cosineSimDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "cosine_sim expects exactly 2 arguments")
      CosineSimilarity(children.head, children.last)
    })

  private val minhashSigDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
    (children: Seq[Expression]) => {
      require(children.length == 3,
        "minhash_sig expects (text, shingleN, k)")
      def intLit(e: Expression, what: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case _ => throw new IllegalArgumentException(
          s"minhash_sig: $what must be an integer literal")
      }
      MinHashSignature(children.head,
        intLit(children(1), "shingleN"), intLit(children(2), "k"))
    })

  private val minGramHashDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("min_gram_hash"),
    new ExpressionInfo(classOf[MinGramHash].getName, "min_gram_hash"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "min_gram_hash expects (text, n)")
      val n = children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case _ => throw new IllegalArgumentException(
          "min_gram_hash: n must be an integer literal")
      }
      MinGramHash(children.head, n)
    })

  private val gramHashesDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("gram_hashes"),
    new ExpressionInfo(classOf[GramHashes].getName, "gram_hashes"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "gram_hashes expects (text, n)")
      val n = children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case _ => throw new IllegalArgumentException(
          "gram_hashes: n must be an integer literal")
      }
      GramHashes(children.head, n)
    })

  private val dotI64Descriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_i64"),
    new ExpressionInfo(classOf[DotI64].getName, "dot_i64"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "dot_i64 expects exactly 2 arguments")
      DotI64(children.head, children.last)
    })

  private val l2sqDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("l2sq"),
    new ExpressionInfo(classOf[L2Sq].getName, "l2sq"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "l2sq expects exactly 2 arguments")
      L2Sq(children.head, children.last)
    })

  // sessions that already carry the RankPinRelease listener (weak keys:
  // a stopped session's entry evaporates with the session)
  private val pinListenerAttached =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Attach the rank-pin storage-release listener once per session.
    * Called from [[register]] AND from `GlobalRankRewrite.apply` (a
    * builder-time `.withExtensions(new GraftExtensions)` session gets the
    * rule injected without ever passing through `register`, and a rule
    * that pins frames must guarantee its own sweeper). */
  private[plans] def ensurePinListener(spark: SparkSession): Unit =
    if (pinListenerAttached.put(spark, java.lang.Boolean.TRUE) == null)
      spark.listenerManager.register(new RankPinRelease)

  /** Register on an existing session (tests / REPL): the functions, the
    * ranking rewrite, AND the rewrite's storage-hygiene listener
    * (idempotent — skips whatever is already attached). */
  def register(spark: SparkSession): Unit = {
    Seq(cosineSimDescriptor, minhashSigDescriptor, minGramHashDescriptor,
        gramHashesDescriptor, dotI64Descriptor, l2sqDescriptor).foreach {
      case (id, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(id, info,
          (exprs: Seq[Expression]) => builder(exprs))
    }
    if (!spark.experimental.extraOptimizations
        .exists(_.isInstanceOf[GlobalRankRewrite]))
      spark.experimental.extraOptimizations ++= Seq(GlobalRankRewrite(spark))
    ensurePinListener(spark)
  }

  /** Column-API entry point. */
  def cosineSim(a: Column, b: Column): Column =
    Shims.column(CosineSimilarity(Shims.expression(a), Shims.expression(b)))

  /** Column-API entry point for [[MinHashSignature]]. */
  def minhashSig(text: Column, shingleN: Int, k: Int): Column =
    Shims.column(MinHashSignature(Shims.expression(text), shingleN, k))

  /** Column-API entry point for [[MinGramHash]]. */
  def minGramHash(text: Column, n: Int): Column =
    Shims.column(MinGramHash(Shims.expression(text), n))

  /** Column-API entry point for [[GramHashes]]. */
  def gramHashes(text: Column, n: Int): Column =
    Shims.column(GramHashes(Shims.expression(text), n))

  /** Column-API entry point for [[DotI64]]. */
  def dotI64(a: Column, b: Column): Column =
    Shims.column(DotI64(Shims.expression(a), Shims.expression(b)))

  /** Column-API entry point for [[L2Sq]]. */
  def l2sq(a: Column, b: Column): Column =
    Shims.column(L2Sq(Shims.expression(a), Shims.expression(b)))

  /** Column-API entry point for [[BoundedTopK]]: per-group bounded top-k of
    * a struct (field 0 = score, field 1 = ascending tie-break id, rest =
    * payload), k best in final order. `descFirst` orders the score
    * descending (similarity) vs ascending (distance). */
  def boundedTopK(s: Column, k: Int, descFirst: Boolean): Column =
    Shims.column(BoundedTopK(Shims.expression(s), k, descFirst)
      .toAggregateExpression())

  /** The finish of every ranked-output operator: per group of `groups`,
    * the `k` best rows of `df` by `struct(fields)` through [[boundedTopK]]
    * (field 0 the score, `descFirst` = score descending; field 1 the
    * ascending tie-break id; the rest payload; the field order is the sort
    * key). Returns the group columns, `rnk` (1-based and dense per group:
    * `row_number` over that order) and the struct's fields by name. Adds
    * no `orderBy`: a caller that needs ordered output sorts it itself. */
  private[graft] def topKPerGroup(df: DataFrame, groups: Seq[String], k: Int,
      descFirst: Boolean)(fields: Column*): DataFrame = {
    val g = groups.map(col)
    df.groupBy(g: _*)
      .agg(boundedTopK(struct(fields: _*), k, descFirst).as("top"))
      .select(g :+ posexplode(col("top")).as(Seq("pos", "t")): _*)
      .select(g ++ Seq((col("pos") + 1).as("rnk"), col("t.*")): _*)
  }
}
