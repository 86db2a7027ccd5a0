package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
import org.apache.spark.sql.catalyst.expressions.{And, ArrayRepeat, ArraySort, AssertTrue, BloomFilterMightContain, CaseWhen, Cast, CreateNamedStruct, Expression, GreaterThan, GreaterThanOrEqual, If, Inline, LambdaFunction, LessThan, LessThanOrEqual, Literal, ParseUrl, UnresolvedNamedLambdaVariable}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-callable table functions + sketch-filter pair from the reference's
  * registry that Spark lacks as SQL names
  * (ql/exec/FunctionRegistry.java:377,446,456,493-500).
  *
  * Each is an expression BUILDER over Spark's own codegen'd primitives,
  * so `LATERAL VIEW parse_url_tuple(...)` / `replicate_rows(...)` parse
  * in plain SQL exactly as in the reference dialect — no UDTF
  * row-at-a-time evaluation anywhere.
  */
object TableFunctions {

  private def constString(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case Literal(s: String, _) => s
    case _ => throw new IllegalArgumentException(
      s"$what must be a constant string, got $e")
  }

  /** Hive `parse_url_tuple(url, 'HOST', 'PATH', ...)` UDTF
    * (ref: ql/udf/generic/GenericUDTFParseUrlTuple.java): one output
    * column per requested part, usable in LATERAL VIEW. Built as
    * Inline(array(named_struct(part -> parse_url(url, part)...))) — each
    * part extraction is Spark's codegen'd ParseUrl. */
  def parseUrlTupleBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length >= 2,
      "parse_url_tuple(url, part1[, part2...]) needs at least two arguments")
    val url = exprs.head
    val fields = exprs.tail.flatMap { p =>
      val name = constString(p, "parse_url_tuple part")
      // `QUERY:<key>` extracts one query parameter
      // (GenericUDTFParseUrlTuple.PARTNAME QUERY_WITH_KEY)
      val call =
        if (name.toUpperCase.startsWith("QUERY:"))
          ParseUrl(Seq(url, Literal("QUERY"), Literal(name.substring(6))))
        else ParseUrl(Seq(url, p))
      Seq(Literal(name.toLowerCase), call)
    }
    Inline(org.apache.spark.sql.catalyst.expressions.CreateArray(
      Seq(CreateNamedStruct(fields))))
  }

  /** Hive `replicate_rows(n, cols...)` UDTF
    * (ref: ql/exec/FunctionRegistry.java:494, GenericUDTFReplicateRows):
    * emits each input row n times with output columns col0 (= n),
    * col1, ... — the INTERSECT/EXCEPT ALL expansion primitive. Built as
    * Inline(array_repeat(struct, n)): the expansion is per-partition
    * inside codegen, no driver loop. */
  def replicateRowsBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length >= 2,
      "replicate_rows(n, cols...) needs at least two arguments")
    val fields = exprs.zipWithIndex.flatMap { case (e, i) =>
      Seq(Literal(s"col$i"), e)
    }
    // The Hive count is bigint; an unchecked narrow to int would wrap a
    // count > Int.MaxValue (possibly to a negative value emitting zero
    // rows). Range-check and fail loudly instead.
    val nLong = Cast(exprs.head, LongType)
    val inRange = And(GreaterThanOrEqual(nLong, Literal(Int.MinValue.toLong)),
      LessThanOrEqual(nLong, Literal(Int.MaxValue.toLong)))
    val checkedN = If(inRange, Cast(nLong, IntegerType),
      Cast(new AssertTrue(inRange,
        Literal("replicate_rows: count outside int range")), IntegerType))
    Inline(ArrayRepeat(CreateNamedStruct(fields), checkedN))
  }

  /** Hive `sort_array_by(arr, 'f1'[, 'f2', ...][, 'ASC'|'DESC'])`
    * (ref: ql/udf/generic/GenericUDFSortArrayByField.java:108-160):
    * any number of sort fields compared lexicographically; a trailing
    * constant ASC/DESC applies to all of them. Delegates to Catalyst
    * array_sort (codegen'd). */
  def sortArrayByBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length >= 2,
      "sort_array_by(arr, field...[, order]) takes at least 2 arguments")
    val strs = exprs.tail.map(e => constString(e, "sort_array_by arg"))
    val (fields, asc) = {
      val lastUp = strs.last.trim.toUpperCase
      if (strs.length >= 2 && (lastUp == "ASC" || lastUp == "DESC"))
        (strs.init, lastUp == "ASC")
      else (strs, true)
    }
    val sign = if (asc) 1 else -1
    val l = UnresolvedNamedLambdaVariable(Seq("l"))
    val r = UnresolvedNamedLambdaVariable(Seq("r"))
    val cmp = fields.foldRight(Literal(0): Expression) { (f, tail) =>
      val fl = UnresolvedExtractValue(l, Literal(f))
      val fr = UnresolvedExtractValue(r, Literal(f))
      CaseWhen(Seq(
        LessThan(fl, fr) -> Literal(-sign),
        GreaterThan(fl, fr) -> Literal(sign)), Some(tail))
    }
    ArraySort(exprs.head, LambdaFunction(cmp, Seq(l, r)))
  }

  /** Hive `bloom_filter(col[, expectedEntries[, numBits]])` aggregate
    * (ref: ql/exec/FunctionRegistry.java:446, GenericUDAFBloomFilter) —
    * Spark's internal BloomFilterAggregate exposed under the reference
    * name. Returns the serialized filter as binary. */
  def bloomFilterBuilder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(c) => new BloomFilterAggregate(c)
    case Seq(c, n) => new BloomFilterAggregate(c, Cast(n, LongType))
    case Seq(c, n, b) =>
      new BloomFilterAggregate(c, Cast(n, LongType), Cast(b, LongType), 0, 0)
    case _ => throw new IllegalArgumentException(
      "bloom_filter(col[, expectedEntries[, numBits]])")
  }

  /** Hive `in_bloom_filter(value, bloom)` (FunctionRegistry.java:377,
    * GenericUDFInBloomFilter): membership probe — no false negatives,
    * tunable false positives; the semijoin-reduction primitive. */
  def inBloomFilterBuilder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(v, bloom) => BloomFilterMightContain(bloom, v)
    case _ => throw new IllegalArgumentException(
      "in_bloom_filter(value, bloom)")
  }

  private def constInt(e: Expression, what: String): Int =
    if (e.foldable) e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be a constant integer, got $other")
    } else throw new IllegalArgumentException(s"$what must be constant")

  /** Hive ngrams take array<string> or array<array<string>> (sentences
    * output); normalize to the sentence-list shape. */
  private def asSentences(e: Expression): Expression = e.dataType match {
    case ArrayType(ArrayType(StringType, _), _) => e
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.expressions.CreateArray(Seq(e))
    case other => throw new IllegalArgumentException(
      s"ngrams expects array<string> or array<array<string>>, got $other")
  }

  private def udafExpr[I](
      agg: org.apache.spark.sql.expressions.Aggregator[I, _, _],
      enc: org.apache.spark.sql.Encoder[I], child: Expression): Expression = {
    import org.apache.spark.sql.GraftSqlShim
    GraftSqlShim.eagerExpression(
      org.apache.spark.sql.functions.udaf(agg, enc)(
        GraftSqlShim.column(child)))
  }

  private def sentEnc =
    org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[Seq[Seq[String]]]()

  /** Hive `ngrams(sentences, n, k[, pf])` UDAF as a SQL name
    * (FunctionRegistry.java:438, GenericUDAFnGrams.java). The optional
    * precision factor is accepted and ignored (fixed buffer cap). */
  def ngramsBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length >= 3, "ngrams(sentences, n, k[, pf])")
    udafExpr(new Aggregators.NgramsAgg(constInt(exprs(1), "ngrams n"),
      constInt(exprs(2), "ngrams k")), sentEnc, asSentences(exprs(0)))
  }

  /** Hive `context_ngrams(sentences, array(pattern...), k[, pf])`
    * (FunctionRegistry.java:439, GenericUDAFContextNGrams.java). */
  def contextNgramsBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length >= 3, "context_ngrams(sentences, pattern, k[, pf])")
    require(exprs(1).foldable, "context_ngrams pattern must be constant")
    val arr = exprs(1).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val pattern = (0 until arr.numElements()).map(i =>
      if (arr.isNullAt(i)) None else Some(arr.getUTF8String(i).toString))
    udafExpr(new Aggregators.ContextNgramsAgg(pattern,
      constInt(exprs(2), "context_ngrams k")), sentEnc,
      asSentences(exprs(0)))
  }

  private def dblEnc =
    org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[java.lang.Double]()
  private def asDouble(e: Expression) =
    Cast(e, org.apache.spark.sql.types.DoubleType)

  /** Hive `histogram_numeric(col, nbins)`
    * (GenericUDAFHistogramNumeric over NumericHistogram — see
    * [[HiveHistogram]] for the bit-exact replay contract). */
  def histogramNumericBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "histogram_numeric(col, nbins)")
    udafExpr(new HiveHistogram.HistogramNumericAgg(
      constInt(exprs(1), "histogram_numeric nbins")), dblEnc,
      asDouble(exprs(0)))
  }

  /** Hive `percentile_approx(col, p[, nbins])`
    * (GenericUDAFPercentileApprox): p may be a double or an
    * array<double>; nbins defaults to 10000. Built on the same
    * NumericHistogram quantile interpolation the goldens record. */
  def percentileApproxBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length >= 2 && exprs.length <= 3,
      "percentile_approx(col, p[, nbins])")
    require(exprs(1).foldable, "percentile_approx quantiles are constant")
    val nbins = exprs.lift(2).map(constInt(_, "percentile_approx nbins"))
      .getOrElse(10000)
    def num(a: Any): Double = a match {
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: Number => n.doubleValue()
      case other => other.toString.toDouble
    }
    exprs(1).eval() match {
      case arr: org.apache.spark.sql.catalyst.util.ArrayData =>
        val qs = (0 until arr.numElements()).map(i =>
          num(arr.get(i, exprs(1).dataType
            .asInstanceOf[org.apache.spark.sql.types.ArrayType]
            .elementType)))
        udafExpr(new HiveHistogram.PercentileApproxAgg(qs, nbins), dblEnc,
          asDouble(exprs(0)))
      case p =>
        org.apache.spark.sql.catalyst.expressions.GetArrayItem(
          udafExpr(new HiveHistogram.PercentileApproxAgg(Seq(num(p)), nbins),
            dblEnc, asDouble(exprs(0))), Literal(0))
    }
  }

  /** `hive_percentile_approx_h023(part, col, p[, nbins])`: the
    * Hadoop-0.23 reducer-fetch-order replay of percentile_approx
    * (see [[HiveHistogram.PercentileApproxPartsAgg]]) — `part` is the
    * value's source-file ordinal (1-based). Golden-replay surface. */
  def percentileApproxH023Builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length >= 3 && exprs.length <= 4,
      "hive_percentile_approx_h023(part, col, p[, nbins])")
    require(exprs(2).foldable, "percentile_approx quantiles are constant")
    val nbins = exprs.lift(3).map(constInt(_, "percentile_approx nbins"))
      .getOrElse(10000)
    def num(a: Any): Double = a match {
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: Number => n.doubleValue()
      case other => other.toString.toDouble
    }
    val partsEnc = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Int, java.lang.Double)]()
    def agg(qs: Seq[Double]): Expression = {
      import org.apache.spark.sql.GraftSqlShim
      GraftSqlShim.eagerExpression(
        org.apache.spark.sql.functions.udaf(
          new HiveHistogram.PercentileApproxPartsAgg(qs, nbins),
          partsEnc)(
          GraftSqlShim.column(Cast(exprs(0),
            org.apache.spark.sql.types.IntegerType)),
          GraftSqlShim.column(asDouble(exprs(1)))))
    }
    exprs(2).eval() match {
      case arr: org.apache.spark.sql.catalyst.util.ArrayData =>
        val qs = (0 until arr.numElements()).map(i =>
          num(arr.get(i, exprs(2).dataType
            .asInstanceOf[org.apache.spark.sql.types.ArrayType]
            .elementType)))
        agg(qs)
      case p =>
        org.apache.spark.sql.catalyst.expressions.GetArrayItem(
          agg(Seq(num(p))), Literal(0))
    }
  }

  /** Hive `create_union(tag, v0, v1, ...)` / `extract_union(u[, tag])`
    * (FunctionRegistry.java:459-460) over the engine's uniontype
    * encoding, a tagged struct `struct<tag:int, field0:T0, ...>`. */
  def createUnionBuilder(exprs: Seq[Expression]): Expression =
    CreateNamedStruct(Literal("tag") +: exprs.head +:
      exprs.tail.zipWithIndex.flatMap { case (e, i) =>
        Seq(Literal(s"field$i"), e)
      })

  def extractUnionBuilder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(u) => u
    case Seq(u, tag) => org.apache.spark.sql.catalyst.analysis
      .UnresolvedExtractValue(u, Literal(s"field${constInt(tag, "tag")}"))
    case _ => throw new IllegalArgumentException("extract_union(u[, tag])")
  }

  val all: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    ("ngrams", ngramsBuilder _,
      "ngrams(sentences, n, k) - top-k n-grams with frequencies"),
    ("context_ngrams", contextNgramsBuilder _,
      "context_ngrams(sentences, pattern, k) - top-k context fillers"),
    ("histogram_numeric", histogramNumericBuilder _,
      "histogram_numeric(col, nbins) - streaming histogram bins"),
    ("percentile_approx", percentileApproxBuilder _,
      "percentile_approx(col, p[, nbins]) - histogram-sketch quantile"),
    ("hive_percentile_approx_h023", percentileApproxH023Builder _,
      "hive_percentile_approx_h023(part, col, p[, nbins]) - " +
        "hadoop-0.23 reducer-order percentile_approx replay"),
    ("create_union", createUnionBuilder _,
      "create_union(tag, v0, ...) - tagged-struct uniontype value"),
    ("extract_union", extractUnionBuilder _,
      "extract_union(u[, tag]) - uniontype alternatives"),
    ("parse_url_tuple", parseUrlTupleBuilder _,
      "parse_url_tuple(url, part1, ...) - one column per URL part"),
    ("replicate_rows", replicateRowsBuilder _,
      "replicate_rows(n, cols...) - repeat the row n times"),
    ("sort_array_by", sortArrayByBuilder _,
      "sort_array_by(arr, field[, order]) - sort array<struct> by field"),
    ("bloom_filter", bloomFilterBuilder _,
      "bloom_filter(col[, expectedEntries[, numBits]]) - build a bloom filter"),
    ("in_bloom_filter", inBloomFilterBuilder _,
      "in_bloom_filter(value, bloom) - bloom membership probe"),
    // Hive interval constructors (ql/udf/generic/GenericUDFInternalInterval
    // .java via FunctionRegistry.java:533): '2 1:2:3' / '1-2' strings to
    // Spark's native interval types — a Cast, so fully codegen'd
    ("interval_day_time",
      (exprs: Seq[Expression]) => Cast(exprs.head,
        org.apache.spark.sql.types.DayTimeIntervalType()),
      "interval_day_time('d h:m:s') - day-time interval value"),
    ("interval_year_month",
      (exprs: Seq[Expression]) => Cast(exprs.head,
        org.apache.spark.sql.types.YearMonthIntervalType()),
      "interval_year_month('y-m') - year-month interval value"))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, builder, _) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
