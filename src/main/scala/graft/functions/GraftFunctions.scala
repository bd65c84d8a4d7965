package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration for the engine's native expressions.
  *
  * Two routes to the same FunctionRegistry entries:
  *   1. `spark.sql.extensions=graft.functions.GraftExtensions` — the
  *      standard plugin route for clusters;
  *   2. [[GraftFunctions.register]] — imperative, idempotent, called at
  *      the registry boundary (every [[graft.api.GraftQuery]] frame, and
  *      [[graft.GraftCatalog.register]]) so the functions exist in ANY
  *      session a query is handed.
  */
object GraftFunctions {

  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("hash60", classOf[Hash60].getName,
      children => Hash60(children.head)),
    ("nfc_normalize", classOf[NfcNormalize].getName,
      children => NfcNormalize(children.head)),
    ("vec_dot", classOf[VecDot].getName,
      children => VecDot(children(0), children(1))),
    ("byte_histogram", classOf[ByteHistogram].getName,
      children => ByteHistogram(children.head)),
    ("decode_pgm", classOf[DecodePgm].getName,
      children => DecodePgm(children.head)),
    ("shingles", classOf[Shingles].getName,
      // n must be a foldable integer literal (the window width is part of
      // the operator, not data)
      children => Shingles(children(0),
        children(1).eval().asInstanceOf[Number].intValue())),
    ("cms_estimate", classOf[CmsEstimate].getName,
      children => CmsEstimate(children(0), children(1))),
    // Spark keeps the bloom build/probe pair in its INTERNAL registry
    // (InjectRuntimeFilter constructs them directly); exposing both makes
    // the manual semi-join-pushdown pattern expressible from SQL/DataFrame
    // code (see RelationalQueries.bloomPrefilterJoin). Arity is validated
    // here because temp-function registration bypasses the built-in
    // registry's ExpressionBuilder arity check: 1-3 args mirror Spark's own
    // overloads (items / bits default internally), anything else is a
    // proper WRONG_NUM_ARGS analysis error, not an IndexOutOfBounds.
    ("bloom_filter_agg",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
      children => {
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        val agg = children match {
          case Seq(c) => new BloomFilterAggregate(c)
          case Seq(c, items) => new BloomFilterAggregate(c, items)
          case Seq(c, items, bits) => BloomFilterAggregate(c, items, bits, 0, 0)
          case other => throw wrongNumArgs("bloom_filter_agg", "[1, 2, 3]", other.length)
        }
        agg.toAggregateExpression()
      }),
    ("might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
      children => children match {
        case Seq(bf, v) =>
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(bf, v)
        case other => throw wrongNumArgs("might_contain", "2", other.length)
      }),
    ("simhash_agg", classOf[SimhashAgg].getName,
      children => children match {
        case Seq(h) => SimhashAgg(h).toAggregateExpression()
        case other => throw wrongNumArgs("simhash_agg", "1", other.length)
      }),
    ("mg_summary", classOf[MgSummaryAgg].getName,
      // k must be a foldable integer literal (the slot budget is part of
      // the operator, not data) — checked here so a column reference or a
      // NULL k fails as a typed analysis error, not an unbound-attribute
      // crash / NPE inside eval()
      children => children match {
        case Seq(c, kExpr) =>
          if (!kExpr.foldable) throw new org.apache.spark.sql.AnalysisException(
            errorClass = "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
            messageParameters = Map(
              "sqlExpr" -> "\"mg_summary\"",
              "inputName" -> "`k`",
              "inputType" -> "\"INT\"",
              "inputExpr" -> s""""${kExpr.sql}""""))
          val kVal = kExpr.eval()
          if (kVal == null) throw new org.apache.spark.sql.AnalysisException(
            errorClass = "DATATYPE_MISMATCH.UNEXPECTED_NULL",
            messageParameters = Map(
              "sqlExpr" -> "\"mg_summary\"",
              "exprName" -> "`k`"))
          MgSummaryAgg(c,
            kVal.asInstanceOf[Number].intValue()).toAggregateExpression()
        case other => throw wrongNumArgs("mg_summary", "2", other.length)
      }))

  private def wrongNumArgs(fn: String, expected: String, actual: Int) =
    new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$fn`",
        "expectedNum" -> expected,
        "actualNum" -> actual.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))

  /** Puts every function of [[all]] into `spark`'s registry. A name that
    * already resolves to its builder here (an earlier call, or the
    * extension route) is left alone, so repeat calls write nothing — and
    * log no "replaced a previously registered function" warning.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, _, builder) =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(name)).contains(builder))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, className, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(className, name),
        builder))
    }
    ext.injectOptimizerRule(_ => FuseHash60Rule)
    ext.injectOptimizerRule(_ => FuseVecDotRule)
  }
}
