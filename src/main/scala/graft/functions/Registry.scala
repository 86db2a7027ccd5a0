package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** Registration point for the function tail Hive has and Spark lacks
  * (SURVEY.md §2.10/§7.2-3; ref: ql/exec/FunctionRegistry.java:193-533).
  * Grown incrementally; each function lives in its own object with tests.
  */
object Registry {
  @volatile private var registered: Set[SparkSession] = Set.empty

  /** The engine's native expressions as (name, builder, usage): the one
    * list both registration paths install — `GraftExtensions` injects
    * it into sessions built with the extension, [[registerAll]]
    * registers it on any session. */
  val native: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    ("fingerprint64", es => Fingerprint64(es.head),
      "fingerprint64(str) - 64-bit FNV-1a fingerprint"),
    ("dot_product", es => DotProduct(es(0), es(1)),
      "dot_product(a, b) - array<double> dot product"),
    ("hive_hash", es => HiveHash(es),
      "hive_hash(...) - Hive-bit-compatible hash"))

  def registerAll(spark: SparkSession): Unit = synchronized {
    if (!registered.contains(spark)) {
      native.foreach { case (name, builder, _) =>
        spark.sessionState.functionRegistry
          .createOrReplaceTempFunction(name, builder, "built-in")
      }
      GapFunctions.register(spark)
      TableFunctions.register(spark)
      Aggregators.register(spark)
      BitmapAgg.register(spark)
      ComputeStats.register(spark)
      registered += spark
    }
  }
}
