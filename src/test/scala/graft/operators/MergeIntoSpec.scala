package graft.operators

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

class MergeIntoSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val p = s"${Files.createTempDirectory("graft_merge")}/t"
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "amount").write.parquet(p)
    p
  }

  /** Commits `change` to the parquet table at `p`. */
  private def commit(p: String, change: MergeInto.Change,
      partitionCols: Seq[String] = Nil) =
    MergeInto.commit(spark.read.parquet(p), p, change, partitionCols)

  // WHEN MATCHED THEN UPDATE SET name = s.name, amount = s.amount
  private val updateAll = Seq(MergeInto.UpdateAction(
    Map("name" -> col("s.name"), "amount" -> col("s.amount"))))

  test("UPDATE rewrites matching rows only") {
    val p = freshTable()
    commit(p, MergeInto.Update(col("id") === 2,
      Map("amount" -> lit(99.0), "name" -> lit("B"))))
    val got = spark.read.parquet(p).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got === Seq((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0)))
  }

  test("DELETE removes matching rows; null predicate keeps row") {
    val p = freshTable()
    commit(p, MergeInto.Delete(col("amount") > 15))
    val got = spark.read.parquet(p).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got === Seq((1L, "a", 10.0)))
  }

  test("MERGE updates matched and inserts unmatched") {
    val p = freshTable()
    val src = Seq((2L, "b2", 200.0), (4L, "d", 40.0))
      .toDF("id", "name", "amount")
    commit(p, MergeInto.Merge(src, col("t.id") === col("s.id"), updateAll))
    val got = spark.read.parquet(p).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got === Seq((1L, "a", 10.0), (2L, "b2", 200.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("MERGE with deleteMatched removes source keys") {
    val p = freshTable()
    val src = Seq((1L, "x", 0.0), (3L, "y", 0.0)).toDF("id", "name", "amount")
    commit(p, MergeInto.Merge(src, col("t.id") === col("s.id"),
      Seq(MergeInto.DeleteAction()), notMatched = Nil))
    val got = spark.read.parquet(p).select("id").as[Long].collect().toSeq
    assert(got === Seq(2L))
  }

  test("multi-clause MERGE: conditional UPDATE SET expr, DELETE, INSERT") {
    val p = freshTable()
    val src = Seq((1L, "a+", 100.0), (2L, "gone", 0.0), (3L, "c+", 1.0),
      (4L, "d", 40.0)).toDF("id", "name", "amount")
    // WHEN MATCHED AND s.amount = 0 THEN DELETE
    // WHEN MATCHED AND s.amount > t.amount THEN
    //   UPDATE SET amount = t.amount + s.amount, name = s.name
    // (matched rows hitting neither clause stay untouched)
    // WHEN NOT MATCHED THEN INSERT
    commit(p, MergeInto.Merge(src, col("t.id") === col("s.id"),
      matched = Seq(
        MergeInto.DeleteAction(Some(col("s.amount") === 0)),
        MergeInto.UpdateAction(
          Map("amount" -> (col("t.amount") + col("s.amount")),
            "name" -> col("s.name")),
          Some(col("s.amount") > col("t.amount"))))))
    val got = spark.read.parquet(p).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got === Seq((1L, "a+", 110.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("conditional NOT MATCHED INSERT with value exprs and null fill") {
    val p = freshTable()
    val src = Seq((4L, 40.0), (5L, 5.0)).toDF("id", "amount")
    // insert only big rows; name is not a source column -> expr or null
    commit(p, MergeInto.Merge(src, col("t.id") === col("s.id"),
      matched = Nil,
      notMatched = Seq(MergeInto.InsertAction(
        values = Map("name" -> lit("new")),
        cond = Some(col("s.amount") >= 10)))))
    val got = spark.read.parquet(p).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got === Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "new", 40.0)))
  }

  test("MERGE raises cardinality violation on duplicate source keys") {
    val p = freshTable()
    val src = Seq((2L, "x", 1.0), (2L, "y", 2.0)).toDF("id", "name", "amount")
    val e = intercept[IllegalArgumentException] {
      commit(p, MergeInto.Merge(src, col("t.id") === col("s.id"), updateAll))
    }
    assert(e.getMessage.contains("cardinality"))
  }

  test("duplicate NOT-MATCHED source keys are legal and insert all rows") {
    // Hive's enforce.cardinality.check only rejects multiple source rows
    // matching the same TARGET row; unmatched duplicates insert.
    val p = freshTable()
    val src = Seq((9L, "x", 1.0), (9L, "y", 2.0)).toDF("id", "name", "amount")
    commit(p, MergeInto.Merge(src, col("t.id") === col("s.id"), updateAll))
    val got = spark.read.parquet(p).filter($"id" === 9)
      .select("name").as[String].collect().sorted.toSeq
    assert(got === Seq("x", "y"))
  }

  private def freshPartitioned(): String = {
    val p = s"${Files.createTempDirectory("graft_merge_part")}/t"
    Seq((1L, "us", 10.0), (2L, "us", 20.0), (3L, "eu", 30.0),
      (4L, "ap", 40.0)).toDF("id", "region", "amount")
      .write.partitionBy("region").parquet(p)
    p
  }

  /** Newest file mtime under a partition directory. */
  private def partMtime(p: String, part: String): Long = {
    val dir = new java.io.File(s"$p/region=$part")
    dir.listFiles().filter(_.getName.endsWith(".parquet")).map(_.lastModified).max
  }

  test("partition-scoped MERGE rewrites only affected partitions") {
    val p = freshPartitioned()
    val apBefore = partMtime(p, "ap")
    Thread.sleep(1100)
    val src = Seq((1L, "us", 11.0), (5L, "eu", 50.0))
      .toDF("id", "region", "amount")
    commit(p, MergeInto.Merge(src, col("t.id") === col("s.id"),
      matched = Seq(
        MergeInto.UpdateAction(Map("amount" -> col("s.amount"))))),
      partitionCols = Seq("region"))
    val got = spark.read.parquet(p).orderBy("id")
      .select("id", "amount").as[(Long, Double)].collect().toSeq
    assert(got === Seq((1L, 11.0), (2L, 20.0), (3L, 30.0), (4L, 40.0),
      (5L, 50.0)))
    // untouched partition keeps its original files
    assert(partMtime(p, "ap") === apBefore)
  }

  test("partition-scoped DELETE leaves other partitions' files alone") {
    val p = freshPartitioned()
    val apBefore = partMtime(p, "ap")
    Thread.sleep(1100)
    commit(p, MergeInto.Delete(col("region") === "us" && col("id") === 2),
      partitionCols = Seq("region"))
    val got = spark.read.parquet(p).select("id").as[Long].collect().sorted
    assert(got === Seq(1L, 3L, 4L))
    assert(partMtime(p, "ap") === apBefore)
  }

  test("deleting every row of a partition removes its directory") {
    val p = freshPartitioned()
    commit(p, MergeInto.Delete(col("region") === "eu"),
      partitionCols = Seq("region"))
    assert(!new java.io.File(s"$p/region=eu").exists())
    val got = spark.read.parquet(p).select("id").as[Long].collect().sorted
    assert(got === Seq(1L, 2L, 4L))
  }

  test("emptied timestamp/date partitions are removed (writer-rendered paths)") {
    // java.sql.Timestamp.toString renders "…:00.0" while Spark's writer
    // path does not — the emptied-dir computation must use the writer's
    // rendering or the directory silently survives
    val p = s"${Files.createTempDirectory("graft_merge_ts")}/t"
    spark.sql("""
      SELECT * FROM VALUES
        (1L, TIMESTAMP'2024-01-01 00:00:00', DATE'2024-01-01'),
        (2L, TIMESTAMP'2024-01-02 12:30:00', DATE'2024-01-02')
        AS v(id, ts, d)""")
      .write.partitionBy("ts", "d").parquet(p)
    val dirs0 = new java.io.File(p).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs0.size === 2)
    commit(p, MergeInto.Delete(col("id") === 1L),
      partitionCols = Seq("ts", "d"))
    val dirs1 = new java.io.File(p).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs1.size === 1, s"emptied ts partition must be deleted: $dirs1")
    val got = spark.read.parquet(p).select("id").as[Long].collect().toSeq
    assert(got === Seq(2L))
  }

  test("MERGE whose DeleteAction empties a partition removes it") {
    val p = freshPartitioned()
    val src = Seq((3L, "eu", 0.0), (5L, "ap", 50.0))
      .toDF("id", "region", "amount")
    commit(p, MergeInto.Merge(src, col("t.id") === col("s.id"),
      matched = Seq(MergeInto.DeleteAction())),
      partitionCols = Seq("region"))
    assert(!new java.io.File(s"$p/region=eu").exists())
    val got = spark.read.parquet(p).select("id").as[Long].collect().sorted
    assert(got === Seq(1L, 2L, 4L, 5L))
  }

  test("update matching nothing leaves all partition files untouched") {
    val p = freshPartitioned()
    val before = Seq("us", "eu", "ap").map(r => partMtime(p, r))
    commit(p, MergeInto.Update(col("id") === 999,
      Map("amount" -> lit(0.0))), partitionCols = Seq("region"))
    val after = Seq("us", "eu", "ap").map(r => partMtime(p, r))
    assert(after === before)
  }

  test("updating a partition column is rejected") {
    val p = freshPartitioned()
    val e = intercept[IllegalArgumentException] {
      commit(p, MergeInto.Update(col("id") === 1,
        Map("region" -> lit("eu"))), partitionCols = Seq("region"))
    }
    assert(e.getMessage.contains("partition columns"))
  }
}
