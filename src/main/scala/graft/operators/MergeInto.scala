package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level MERGE / UPDATE / DELETE emulation over plain parquet
  * (SURVEY.md §7.3 hard list).
  *
  * The reference implements these as a rewrite into INSERT...SELECT over
  * ROW__ID against ACID delta files
  * (ql/parse/UpdateDeleteSemanticAnalyzer.java:327,594; merge-on-read in
  * ql/io/orc/OrcRawRecordMerger.java). Spark-on-parquet has no delta
  * log, so the same semantics are had by join + rewrite — the
  * copy-on-write strategy. No concurrent-writer isolation (Hive's comes
  * from the metastore txn manager, out of scope per SURVEY.md).
  *
  * MERGE follows Hive's clause semantics
  * (UpdateDeleteSemanticAnalyzer.java:594): any number of
  * `WHEN MATCHED [AND cond] THEN UPDATE SET ... / DELETE` clauses plus
  * `WHEN NOT MATCHED [AND cond] THEN INSERT` clauses, first matching
  * clause wins, and multiple source rows matching one target row raise
  * a cardinality violation (Hive's enforce.cardinality.check).
  *
  * In clause conditions and SET expressions the target row is aliased
  * `t` and the source row `s` (e.g. `col("s.amount") > col("t.amount")`).
  *
  * Scale: pass `partitionCols` (the table's physical partitioning) and
  * only partitions containing matched or inserted rows are rewritten —
  * each via stage-then-swap of that partition's directory; unaffected
  * partitions are never read, shuffled, or rewritten. Partition columns
  * cannot be updated (same restriction as Hive), which is what makes the
  * affected-partition set computable from pre-images alone.
  */
object MergeInto {

  sealed trait MatchedAction { def cond: Option[Column] }
  /** WHEN MATCHED [AND cond] THEN UPDATE SET col -> expr. Columns not in
    * `set` keep their target value. */
  case class UpdateAction(set: Map[String, Column],
                          cond: Option[Column] = None) extends MatchedAction
  /** WHEN MATCHED [AND cond] THEN DELETE. */
  case class DeleteAction(cond: Option[Column] = None) extends MatchedAction
  /** WHEN NOT MATCHED [AND cond] THEN INSERT. `values` maps target
    * columns to expressions over `s`; unmapped columns take the source
    * column of the same name (null if the source lacks it). */
  case class InsertAction(values: Map[String, Column] = Map.empty,
                          cond: Option[Column] = None)

  /** First-matching-case-wins CASE chain. */
  private def chain(cases: Seq[(Column, Column)], default: Column): Column =
    cases.foldRight(default) { case ((c, v), els) => when(c, v).otherwise(els) }

  /** Literal partition predicate for the collected affected-partition
    * tuples: OR of null-safe per-column conjunctions. Being a
    * deterministic expression over partition columns only, it reaches
    * the scan as a PARTITION FILTER — an UPDATE/MERGE touching one
    * partition reads one partition, not the table. */
  private[graft] def affPredicate(partitionCols: Seq[String],
      affRows: Seq[org.apache.spark.sql.Row]): Column =
    affRows.map { row =>
      partitionCols.zipWithIndex.map { case (c, i) =>
        if (row.isNullAt(i)) col(c).isNull
        else col(c) <=> lit(row.get(i))
      }.reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** The target restricted to the affected partitions — the scan every
    * partition-scoped write path computes FROM, so unaffected
    * partitions are never read (plan-pinned by PlanAuditSpec). */
  private[graft] def prunedTarget(t: DataFrame, partitionCols: Seq[String],
      affRows: Seq[org.apache.spark.sql.Row]): DataFrame =
    t.filter(affPredicate(partitionCols, affRows))

  /** UPDATE target SET (via `updates` expr map) WHERE `cond`. */
  def update(spark: SparkSession, path: String, cond: Column,
             updates: Map[String, Column],
             partitionCols: Seq[String] = Nil): Unit = {
    require(updates.keySet.intersect(partitionCols.toSet).isEmpty,
      "partition columns cannot be updated")
    val t = spark.read.parquet(path)
    val hit = coalesce(cond, lit(false))
    def updated(base: DataFrame) =
      updates.foldLeft(base) { case (df, (c, v)) =>
        df.withColumn(c, when(hit, v).otherwise(col(c)))
      }
    if (partitionCols.isEmpty) rewrite(spark, updated(t), path)
    else {
      // pass 1 (column-pruned): which partitions hold matching rows;
      // pass 2 recomputes the update over the PRUNED scan only
      val affRows = t.filter(hit)
        .select(partitionCols.map(col): _*).distinct().collect().toSeq
      rewritePartitions(spark,
        updated(prunedTarget(t, partitionCols, affRows)),
        path, partitionCols, affRows)
    }
  }

  /** DELETE FROM target WHERE `cond`. */
  def delete(spark: SparkSession, path: String, cond: Column,
             partitionCols: Seq[String] = Nil): Unit = {
    val t = spark.read.parquet(path)
    val hit = coalesce(cond, lit(false))
    if (partitionCols.isEmpty) rewrite(spark, t.filter(!hit), path)
    else {
      val affRows = t.filter(hit)
        .select(partitionCols.map(col): _*).distinct().collect().toSeq
      rewritePartitions(spark,
        prunedTarget(t, partitionCols, affRows).filter(!hit),
        path, partitionCols, affRows)
    }
  }

  /** The computed pieces of a merge: surviving+updated target rows,
    * the not-matched insert rows, and the matched target-source join
    * (for partition-affected pruning). */
  private case class MergePieces(kept: DataFrame, inserts: DataFrame,
      joined: DataFrame, isMatched: Column)

  /** Hive cardinality check (enforce.cardinality.check): error only
    * when multiple SOURCE rows match the same TARGET row. `keys` must
    * be the FULL target key set — a column-pruned scan, never the
    * partition-pruned one (a duplicate match in an unaffected
    * partition still violates). Duplicate keys among not-matched
    * source rows are legal and insert multiple rows. */
  private def cardinalityCheck(keys: DataFrame, source: DataFrame,
      key: String): Unit = {
    val dups = source.join(keys, Seq(key), "left_semi")
      .groupBy(col(key)).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).count()
    if (dups > 0) throw new IllegalArgumentException(
      s"MERGE cardinality violation: multiple source rows match one " +
        s"target row on key '$key'")
  }

  /** The NOT MATCHED insert rows. `keys` must be the FULL target key
    * set (a source row matched only in an unaffected partition is
    * still matched — not an insert). */
  private def insertsOf(t: DataFrame, keys: DataFrame,
      source: DataFrame, key: String,
      notMatched: Seq[InsertAction]): DataFrame = {
    val spark = t.sparkSession
    val tCols = t.columns.toSeq
    val sCols = source.columns.toSet
    val unmatchedSrc = source.alias("s")
      .join(keys.select(col(key).as("__tk")), col(s"s.$key") === col("__tk"),
        "left_anti")
    val (frames, _) = notMatched.foldLeft(
        (Seq.empty[DataFrame], lit(false): Column)) {
      case ((acc, prior), ins) =>
        val cond = ins.cond.getOrElse(lit(true)) && !prior
        val rows = unmatchedSrc.filter(cond).select(tCols.map { c =>
          ins.values.getOrElse(c,
            if (sCols(c)) col(s"s.$c")
            else lit(null).cast(t.schema(c).dataType)).as(c)
        }: _*)
        (acc :+ rows, prior || ins.cond.getOrElse(lit(true)))
    }
    frames.reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], t.schema))
  }

  /** The surviving (kept/updated) target rows of the merge over `t` —
    * `t` may be the partition-pruned scan. */
  private def keptOf(t: DataFrame, source: DataFrame, key: String,
      matched: Seq[MatchedAction]): DataFrame = {
    val tCols = t.columns.toSeq
    val joined = t.alias("t").join(source.alias("s"),
      col(s"t.$key") === col(s"s.$key"), "left")
    val isMatched = col(s"s.$key").isNotNull
    def armed(a: MatchedAction): Column =
      isMatched && a.cond.getOrElse(lit(true))
    val keepChain = chain(matched.map(a =>
      armed(a) -> lit(!a.isInstanceOf[DeleteAction])), lit(true))
    joined.filter(keepChain).select(tCols.map { c =>
      chain(matched.map(a => armed(a) -> (a match {
        case UpdateAction(set, _) => set.getOrElse(c, col(s"t.$c"))
        case _: DeleteAction => col(s"t.$c")
      })), col(s"t.$c")).as(c)
    }: _*)
  }

  private def mergePieces(t: DataFrame, source: DataFrame, key: String,
      matched: Seq[MatchedAction], notMatched: Seq[InsertAction])
      : MergePieces = {
    cardinalityCheck(t.select(col(key)), source, key)
    val joined = t.alias("t").join(source.alias("s"),
      col(s"t.$key") === col(s"s.$key"), "left")
    MergePieces(keptOf(t, source, key, matched),
      insertsOf(t, t.select(col(key)), source, key, notMatched),
      joined, col(s"s.$key").isNotNull)
  }

  /** Merge clause semantics as a pure DataFrame transform (no write):
    * what `path`-based mergeInto would leave behind, computed against
    * an arbitrary target. Used by the SQL dialect layer for temp-view
    * targets. */
  def mergeResult(target: DataFrame, source: DataFrame, key: String,
      matched: Seq[MatchedAction],
      notMatched: Seq[InsertAction] = Seq(InsertAction())): DataFrame = {
    val p = mergePieces(target, source, key, matched, notMatched)
    p.kept.unionByName(p.inserts)
  }

  /** Full Hive-style MERGE INTO target USING source ON target.key =
    * source.key, with ordered matched/not-matched clause lists. */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
                key: String, matched: Seq[MatchedAction],
                notMatched: Seq[InsertAction] = Seq(InsertAction()),
                partitionCols: Seq[String] = Nil): Unit = {
    matched.foreach {
      case UpdateAction(set, _) =>
        require(set.keySet.intersect(partitionCols.toSet).isEmpty,
          "partition columns cannot be updated")
      case _ =>
    }
    val t = spark.read.parquet(path)
    if (partitionCols.isEmpty) {
      val MergePieces(kept, inserts, _, _) =
        mergePieces(t, source, key, matched, notMatched)
      rewrite(spark, kept.unionByName(inserts), path)
    } else {
      // pass 1 over COLUMN-pruned scans (key + partition + condition
      // columns only): the cardinality check, the insert rows, and the
      // affected-partition tuples. Pass 2 recomputes the surviving
      // rows over the PARTITION-pruned scan — a merge touching one
      // partition reads one partition of full-width data.
      cardinalityCheck(t.select(col(key)), source, key)
      val inserts = insertsOf(t, t.select(col(key)), source, key,
        notMatched)
      val anyMatchedCond = matched.map(_.cond.getOrElse(lit(true)))
        .reduceOption(_ || _).getOrElse(lit(false))
      val affT = t.alias("t").join(source.alias("s"),
        col(s"t.$key") === col(s"s.$key"), "inner")
        .filter(anyMatchedCond)
        .select(partitionCols.map(c => col(s"t.$c").as(c)): _*)
      val affI = inserts.select(partitionCols.map(col): _*)
      val affRows = affT.unionByName(affI).distinct().collect().toSeq
      val kept = keptOf(prunedTarget(t, partitionCols, affRows),
        source, key, matched)
      rewritePartitions(spark, kept.unionByName(inserts), path,
        partitionCols, affRows)
    }
  }

  /** Copy-on-write commit: stage to a temp dir, then swap via the
    * backup-rename protocol (recoverable: the previous data survives as
    * `<path>__cow_backup` until the new data is in place). */
  private def rewrite(spark: SparkSession, df: DataFrame, path: String): Unit = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "__cow_tmp")
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    swapInto(fs, tmp, dst)
  }

  /** Partition-scoped copy-on-write: stage only the partitions in `aff`
    * (the distinct affected partition tuples), then swap each staged
    * partition directory into the table. A partition whose rows are ALL
    * removed produces no staged directory — its live directory is
    * deleted so the removed rows don't survive. The table must be
    * physically partitioned by `partitionCols` (written with
    * `partitionBy`). `affRows` is the caller-collected
    * distinct partition-tuple set — bounded by partition count, not
    * row count — and the same tuples already pruned the target scan
    * `df` was computed from. */
  private def rewritePartitions(spark: SparkSession, df: DataFrame,
                                path: String, partitionCols: Seq[String],
                                affRows: Seq[org.apache.spark.sql.Row])
      : Unit = {
    if (affRows.isEmpty) return // nothing matched or inserted: no-op
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "__cow_tmp")
    // `df` is already computed from the partition-pruned target; the
    // insert side may carry rows only for affected partitions too
    // (affI covers every insert partition), so it stages directly
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(tmp.toString)
    val stagedRels = partitionDirs(fs, tmp, partitionCols.length).map {
      staged =>
        val rel = staged.toUri.getPath.stripPrefix(tmp.toUri.getPath)
          .stripPrefix("/")
        val target = new Path(dst, rel)
        fs.mkdirs(target.getParent)
        swapInto(fs, staged, target)
        rel
    }.toSet
    // affected partitions that staged nothing were fully emptied:
    // remove their live directories. Values are rendered via Spark's own
    // Cast-to-string (the writer path's rendering) — JVM toString differs
    // for timestamps (trailing ".0") and would never match a live dir.
    val affLocal = spark.createDataFrame(
      java.util.Arrays.asList(affRows: _*),
      df.select(partitionCols.map(col): _*).schema)
    val affRendered = affLocal.select(partitionCols.map(c =>
      col(c).cast("string").as(c)): _*).collect()
    affRendered.foreach { row =>
      val rel = partitionCols.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(c,
            if (row.isNullAt(i)) null else row.getString(i))
      }.mkString("/")
      if (!stagedRels.contains(rel)) {
        fs.delete(new Path(dst, rel), true)
        // prune now-empty ancestor partition dirs (multi-level partitioning)
        var parent = new Path(dst, rel).getParent
        while (parent != null && parent.toUri.getPath != dst.toUri.getPath &&
            fs.exists(parent) && fs.listStatus(parent).isEmpty) {
          fs.delete(parent, false)
          parent = parent.getParent
        }
      }
    }
    fs.delete(tmp, true)
  }

  /** Leaf `col=value/...` partition directories at the given depth. */
  private def partitionDirs(fs: FileSystem, base: Path,
                            depth: Int): Seq[Path] =
    if (depth == 0) Seq(base)
    else fs.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .flatMap(st => partitionDirs(fs, st.getPath, depth - 1))

  /** Recoverable swap: dst -> backup, src -> dst, drop backup; on a
    * failed swap the backup is restored, and a crash between renames
    * leaves the old data intact under `<dst>__cow_backup`. */
  private def swapInto(fs: FileSystem, src: Path, dst: Path): Unit = {
    val backup = new Path(dst.getParent, dst.getName + "__cow_backup")
    fs.delete(backup, true)
    val hadOld = fs.exists(dst)
    if (hadOld && !fs.rename(dst, backup))
      throw new java.io.IOException(s"could not back up $dst")
    if (!fs.rename(src, dst)) {
      if (hadOld) fs.rename(backup, dst)
      throw new java.io.IOException(s"rename $src -> $dst failed")
    }
    if (hadOld) fs.delete(backup, true)
  }
}
