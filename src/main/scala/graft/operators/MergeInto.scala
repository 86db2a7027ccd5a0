package graft.operators

import graft.HiveTypes.cvCast
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.CharType

/** Row-level UPDATE / DELETE / MERGE over plain files (SURVEY.md §7.3
  * hard list), and the rewrite of a schema change old files cannot
  * serve: one row [[MergeInto.transform]] per [[MergeInto.Change]] and
  * one copy-on-write [[MergeInto.commit]] of it.
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
  * a cardinality violation (Hive's enforce.cardinality.check). The ON
  * condition is any boolean expression over both sides.
  *
  * Scale: pass `partitionCols` (the table's physical partitioning) and
  * only partitions containing matched or inserted rows are rewritten —
  * each via stage-then-swap of that partition's directory; unaffected
  * partitions are never read, shuffled, or rewritten. Partition columns
  * cannot be updated (same restriction as Hive), which is what makes the
  * affected-partition set computable from pre-images alone; only
  * [[MergeInto.MovePartition]] adds its post-image partitions.
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

  /** The target restricted to the affected partitions — the scan every
    * partition-scoped write computes FROM. The predicate (an OR of
    * null-safe per-column conjunctions over the collected tuples) is
    * deterministic over partition columns only, so it reaches the scan
    * as a PARTITION FILTER: unaffected partitions are never read
    * (plan-pinned by PlanAuditSpec). */
  private[graft] def prunedTarget(t: DataFrame, partitionCols: Seq[String],
      affRows: Seq[org.apache.spark.sql.Row]): DataFrame =
    t.filter(affRows.map { row =>
      partitionCols.zipWithIndex.map { case (c, i) =>
        if (row.isNullAt(i)) col(c).isNull
        else col(c) <=> lit(row.get(i))
      }.reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false)))

  /** What a row-rewriting statement does to its target's rows. */
  sealed trait Change
  /** DELETE the rows where `cond` holds. */
  case class Delete(cond: Column) extends Change
  /** UPDATE the rows where `cond` holds: `set` maps column -> value;
    * other columns keep their value. Partition columns cannot be
    * assigned (Hive's restriction). */
  case class Update(cond: Column, set: Map[String, Column]) extends Change
  /** PARTITION (from) RENAME TO PARTITION (to): the rows where `cond`
    * holds take the partition values in `to`. */
  case class MovePartition(cond: Column, to: Map[String, Column])
      extends Change
  /** MERGE INTO target USING `source` ON `on`, with ordered matched /
    * not-matched clause lists. `on`, the clause conditions and the
    * assigned values name the target row by `aliases._1` and the
    * source row by `aliases._2`. */
  case class Merge(source: DataFrame, on: Column,
      matched: Seq[MatchedAction],
      notMatched: Seq[InsertAction] = Seq(InsertAction()),
      aliases: (String, String) = ("t", "s")) extends Change {
    /** Target rows `t` joined with `src` on `on`, each under its alias. */
    private[MergeInto] def join(t: DataFrame, how: String,
        src: DataFrame = source): DataFrame =
      t.alias(aliases._1).join(src.alias(aliases._2), on, how)
  }
  /** A schema change's rewrite: every row becomes `project` of it.
    * Every partition is affected; partition values stay. */
  case class Reshape(project: DataFrame => DataFrame) extends Change

  private def hit(cond: Column): Column = coalesce(cond, lit(false))

  private def assign(t: DataFrame, cond: Column,
      set: Map[String, Column]): DataFrame = {
    val byLc = set.map { case (c, v) => c.toLowerCase -> v }
    t.select(t.columns.toIndexedSeq.map(c => byLc.get(c.toLowerCase) match {
      case Some(v) =>
        when(hit(cond), cvCast(v, t.schema(c).dataType)).otherwise(col(c)).as(c)
      case None => col(c)
    }): _*)
  }

  /** The row transform: `t`'s rows after `change`, every assigned or
    * inserted value cast to its column's declared type (Hive's insert
    * cast), so a rewrite never changes a stored type. `whole` is the
    * full target when `t` is a partition-pruned scan of it — MERGE's
    * cardinality check and not-matched test look at every row. Pure
    * (no write); the copy-on-write [[commit]] and session tables both
    * compute through it. */
  def transform(t: DataFrame, change: Change,
      whole: Option[DataFrame] = None): DataFrame = change match {
    case Delete(cond) => t.filter(!hit(cond))
    case Update(cond, set) => assign(t, cond, set)
    case MovePartition(cond, to) => assign(t, cond, to)
    case Reshape(project) => project(t)
    case m: Merge =>
      val all = whole.getOrElse(t)
      cardinalityCheck(all, m)
      keptOf(t, m).unionByName(insertsOf(t, all, m))
  }

  /** Commits `change` to the table at `path` (read as `target`, in
    * `format`) copy-on-write. With `partitionCols` (the physical
    * partitioning) only the affected partitions are read and
    * rewritten, in two passes: collect the affected partition tuples
    * from column-pruned scans, then transform the partition-pruned
    * scan. Returns the spec (column -> rendered value) of each affected
    * partition, and whether it holds rows afterwards. */
  def commit(target: DataFrame, path: String, change: Change,
      partitionCols: Seq[String] = Nil, format: String = "parquet")
      : Seq[(Map[String, String], Boolean)] = {
    val assigned = (change match {
      case Update(_, set) => Seq(set)
      case m: Merge => m.matched.collect { case UpdateAction(set, _) => set }
      case _ => Nil
    }).flatMap(_.keys)
    require(!assigned.exists(c =>
      partitionCols.exists(_.equalsIgnoreCase(c))),
      "partition columns cannot be updated")
    val spark = target.sparkSession
    if (partitionCols.isEmpty) {
      rewrite(spark, transform(target, change), path, format)
      return Nil
    }
    val pcs = partitionCols.map(col)
    val affected = change match {
      case Delete(cond) => target.filter(hit(cond)).select(pcs: _*)
      case Update(cond, _) => target.filter(hit(cond)).select(pcs: _*)
      case Reshape(_) => target.select(pcs: _*)
      // the FROM and the TO tuples: staged rows land in TO, FROM empties
      case MovePartition(cond, _) =>
        val moved = target.filter(hit(cond))
        moved.select(pcs: _*)
          .union(transform(moved, change).select(pcs: _*))
      case m: Merge =>
        val anyMatched = m.matched.map(_.cond.getOrElse(lit(true)))
          .reduceOption(_ || _).getOrElse(lit(false))
        m.join(target, "inner").filter(anyMatched)
          .select(partitionCols.map(c => col(s"${m.aliases._1}.$c").as(c)): _*)
          .unionByName(insertsOf(target, target, m).select(pcs: _*))
    }
    // each tuple's raw values (they prune the scan), then the strings
    // the writer names its directories by: Spark's own cast (JVM
    // toString differs, e.g. a timestamp's ".0"), except that a CHAR
    // value keeps the padding its cast to string trims
    val rendered = partitionCols.map(c => (affected.schema(c).dataType match {
      case _: CharType => col(c)
      case _ => col(c).cast("string")
    }).as(s"__rendered_$c"))
    val affRows = affected.select(pcs ++ rendered: _*)
      .distinct().collect().toSeq
    val n = partitionCols.length
    rewritePartitions(spark,
      transform(prunedTarget(target, partitionCols, affRows), change,
        Some(target)),
      path, partitionCols, affRows.map(r => partitionCols.zipWithIndex
        .map { case (c, i) => c -> r.getString(n + i) }), format)
  }

  /** Hive cardinality check (enforce.cardinality.check): error only
    * when multiple SOURCE rows meet `on` for the same TARGET row.
    * Target rows are told apart by a row id, not by value, so equal
    * rows each count their own matches. `whole` must be the FULL target
    * (a duplicate match in an unaffected partition still violates).
    * Source rows that match nothing may repeat: they insert. */
  private def cardinalityCheck(whole: DataFrame, m: Merge): Unit = {
    val dups = m.join(
        whole.withColumn("__rid", monotonically_increasing_id()), "inner")
      .groupBy(col("__rid")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).count()
    if (dups > 0) throw new IllegalArgumentException(
      "MERGE cardinality violation: multiple source rows match one " +
        "target row")
  }

  /** The NOT MATCHED insert rows: source rows that meet `on` with no
    * row of `whole`, which must be the FULL target (a source row
    * matched only in an unaffected partition is still matched — not an
    * insert). */
  private def insertsOf(t: DataFrame, whole: DataFrame, m: Merge)
      : DataFrame = {
    val (ta, sa) = m.aliases
    val sCols = m.source.columns.toSet
    val unmatchedSrc = m.source.alias(sa)
      .join(whole.alias(ta), m.on, "left_anti")
    val (frames, _) = m.notMatched.foldLeft(
        (Seq.empty[DataFrame], lit(false): Column)) {
      case ((acc, prior), ins) =>
        val cond = ins.cond.getOrElse(lit(true)) && !prior
        val rows = unmatchedSrc.filter(cond).select(t.columns.map { c =>
          cvCast(ins.values.getOrElse(c,
            if (sCols(c)) col(s"$sa.$c") else lit(null)),
            t.schema(c).dataType).as(c)
        }.toIndexedSeq: _*)
        (acc :+ rows, prior || ins.cond.getOrElse(lit(true)))
    }
    frames.reduceOption(_ unionByName _).getOrElse(t.limit(0))
  }

  /** The surviving (kept/updated) target rows of the merge over `t` —
    * `t` may be the partition-pruned scan. */
  private def keptOf(t: DataFrame, m: Merge): DataFrame = {
    val ta = m.aliases._1
    val joined =
      m.join(t, "left", m.source.withColumn("__matched", lit(true)))
    val isMatched = col("__matched").isNotNull
    def armed(a: MatchedAction): Column =
      isMatched && a.cond.getOrElse(lit(true))
    val keepChain = chain(m.matched.map(a =>
      armed(a) -> lit(!a.isInstanceOf[DeleteAction])), lit(true))
    joined.filter(keepChain).select(t.columns.map { c =>
      chain(m.matched.map(a => armed(a) -> (a match {
        case UpdateAction(set, _) => set.collectFirst {
          case (k, v) if k.equalsIgnoreCase(c) =>
            cvCast(v, t.schema(c).dataType)
        }.getOrElse(col(s"$ta.$c"))
        case _: DeleteAction => col(s"$ta.$c")
      })), col(s"$ta.$c")).as(c)
    }.toIndexedSeq: _*)
  }

  /** Copy-on-write commit: stage to a temp dir, then swap via the
    * backup-rename protocol (recoverable: the previous data survives as
    * `<path>__cow_backup` until the new data is in place). */
  private def rewrite(spark: SparkSession, df: DataFrame, path: String,
      format: String): Unit = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "__cow_tmp")
    try {
      df.write.mode(SaveMode.Overwrite).format(format).save(tmp.toString)
      swapInto(fs, tmp, dst)
    } finally fs.delete(tmp, true)
  }

  /** Partition-scoped copy-on-write: stage only the affected
    * partitions, then swap each staged partition directory into the
    * table. A partition whose rows are ALL removed produces no staged
    * directory — its live directory is deleted so the removed rows
    * don't survive. The table must be physically partitioned by
    * `partitionCols` (written with `partitionBy`). `specs` are the
    * caller-collected distinct affected tuples as (column, rendered
    * value) — bounded by partition count, not row count — and the same
    * tuples already pruned the target scan `df` was computed from. The
    * staging directory never outlives the call. Returns each affected
    * partition's spec and whether it staged rows. */
  private def rewritePartitions(spark: SparkSession, df: DataFrame,
      path: String, partitionCols: Seq[String],
      specs: Seq[Seq[(String, String)]], format: String)
      : Seq[(Map[String, String], Boolean)] = {
    if (specs.isEmpty) return Nil // nothing matched or inserted: no-op
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "__cow_tmp")
    try {
      // `df` is already computed from the partition-pruned target; the
      // insert side may carry rows only for affected partitions too
      // (affI covers every insert partition), so it stages directly
      df.write.mode(SaveMode.Overwrite).format(format)
        .partitionBy(partitionCols: _*).save(tmp.toString)
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
      // remove their live directories
      specs.map { spec =>
        val rel = spec.map { case (c, v) =>
          ExternalCatalogUtils.getPartitionPathString(c, v) }.mkString("/")
        val staged = stagedRels.contains(rel)
        if (!staged) {
          fs.delete(new Path(dst, rel), true)
          // prune now-empty ancestor partition dirs (multi-level partitioning)
          var parent = new Path(dst, rel).getParent
          while (parent != null && parent.toUri.getPath != dst.toUri.getPath &&
              fs.exists(parent) && fs.listStatus(parent).isEmpty) {
            fs.delete(parent, false)
            parent = parent.getParent
          }
        }
        spec.toMap -> staged
      }
    } finally fs.delete(tmp, true)
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
