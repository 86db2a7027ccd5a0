package graft

import org.scalacheck.{Gen, Prop, Shrink, Test}
import org.scalacheck.rng.Seed

/** MERGE through [[HiveStatements.sql]] against a plain Scala model of
  * Hive's rules: the ON condition decides which source rows match a
  * target row, more than one match for one target row is an error, the
  * first WHEN clause that applies wins, a source row matching no target
  * row takes the NOT MATCHED insert, and a partition the MERGE empties
  * stays listed. Cases run on a parquet catalog table PARTITIONED BY p
  * and on an unpartitioned twin; string values look like aliases and
  * operators, so a rewrite that reads into literals shows. The seed is
  * fixed; a failure prints it with the shrunk case (pass another
  * `Seed.fromBase64` to explore more cases).
  */
class MergePropertySpec extends SparkSpec {
  import MergePropertySpec._

  private lazy val h = new HiveStatements(spark)

  private def check(partitioned: Boolean, seed: Seed): Unit = {
    val r = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(25).withWorkers(1).withInitialSeed(seed),
      Prop.forAll(genCase(partitioned))(c => runCase(c)))
    assert(r.passed, s"seed ${seed.toBase64}: ${r.status}")
  }

  /** Runs `c` on a fresh table; true when the table (as a multiset) and,
    * for the partitioned table, SHOW PARTITIONS match the model. */
  private def runCase(c: Case): Prop = {
    val t = if (c.partitioned) "mp_part" else "mp_flat"
    freshTable(t)
    h.sql(s"CREATE TABLE $t (k INT, v STRING" + (if (c.partitioned)
      ") PARTITIONED BY (p STRING)" else ", p STRING)") +
      " STORED AS PARQUET")
    if (c.target.nonEmpty)
      h.sql(s"INSERT INTO $t" + (if (c.partitioned) " PARTITION (p)"
        else "") + c.target.map(_.sql).mkString(" VALUES ", ", ", ""))
    val ran = scala.util.Try(h.sql(c.sql(t)))
    val rows = spark.table(t).select("k", "v", "p").collect()
      .map(r => Row3(r.getInt(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(_.toString)
    val parts = if (!c.partitioned) Nil
      else h.sql(s"SHOW PARTITIONS $t").get.collect()
        .map(_.getString(0)).toSeq.sorted
    freshTable(t)
    val want = model(c)
    val wantParts = if (!c.partitioned) Nil
      else (c.target ++ want.getOrElse(Nil)).map(r => s"p=${r.p}")
        .distinct.sorted
    val got = ran.toEither.left.map(_.getMessage)
    val ok = want match {
      case None => got.left.exists(_.contains("cardinality")) &&
        rows == c.target.sortBy(_.toString)
      case Some(w) => got.isRight && rows == w.sortBy(_.toString) &&
        parts == wantParts
    }
    Prop(ok) :| s"${c.sql(t)}\n  target ${c.target}\n  ran $got\n" +
      s"  rows $rows\n  want $want\n  partitions $parts, want $wantParts"
  }

  test("MERGE into a partitioned table matches the model") {
    check(partitioned = true, Seed(17L))
  }

  test("MERGE into an unpartitioned table matches the model") {
    check(partitioned = false, Seed(29L))
  }
}

object MergePropertySpec {
  case class Row3(k: Int, v: String, p: String) {
    def sql: String = s"($k, '$v', '$p')"
  }

  /** One MERGE: `on` picks extra conjuncts, `delete`, `update` and
    * `insert` pick clause expressions (by index into the tables below),
    * `aliases` names the target and source. */
  case class Case(partitioned: Boolean, target: List[Row3],
      source: List[Row3], aliases: (String, String), on: List[Int],
      delete: Option[Int], update: Int, insert: Option[Int]) {
    def sql(table: String): String = {
      val (t, s) = aliases
      val src = source.map(r => s"SELECT ${r.k} AS k, '${r.v}' AS v, " +
        s"'${r.p}' AS p").mkString(" UNION ALL ")
      s"MERGE INTO $table $t USING ($src) $s ON $t.k = $s.k" +
        on.map(i => " AND " + onExtras(i)._1(t, s)).mkString +
        delete.fold("")(i =>
          s" WHEN MATCHED AND ${deleteConds(i)._1(t, s)} THEN DELETE") +
        s" WHEN MATCHED THEN UPDATE SET v = ${updates(update)._1(t, s)}" +
        insert.fold("")(i => " WHEN NOT MATCHED THEN INSERT VALUES " +
          s"($s.k, ${inserts(i)._1(s)}, $s.p)")
    }
  }

  type Pair = (Row3, Row3)
  private val onExtras: Seq[((String, String) => String, Pair => Boolean)] =
    Seq(((t, s) => s"$t.p = $s.p", { case (t, s) => t.p == s.p }),
      ((t, s) => s"$t.v <> $s.v", { case (t, s) => t.v != s.v }))
  private val deleteConds
      : Seq[((String, String) => String, Pair => Boolean)] =
    Seq(((_, s) => s"$s.v = 't.v'", { case (_, s) => s.v == "t.v" }),
      ((t, _) => s"$t.k > 1", { case (t, _) => t.k > 1 }),
      ((t, s) => s"$t.v = $s.v", { case (t, s) => t.v == s.v }),
      ((_, s) => s"$s.p = 'y'", { case (_, s) => s.p == "y" }))
  private val updates: Seq[((String, String) => String, Pair => String)] =
    Seq(((_, s) => s"$s.v", { case (_, s) => s.v }),
      ((_, _) => "'s.k'", _ => "s.k"),
      ((t, s) => s"concat($t.v, '|', $s.v)",
        { case (t, s) => s"${t.v}|${s.v}" }),
      ((_, _) => "'t.v and s.v'", _ => "t.v and s.v"))
  private val inserts: Seq[(String => String, Row3 => String)] =
    Seq((s => s"$s.v", _.v), (_ => "'ts > 5'", _ => "ts > 5"),
      (s => s"concat('t.', $s.v)", s => s"t.${s.v}"))

  private val row = for {
    k <- Gen.choose(1, 3)
    v <- Gen.oneOf("a", "b", "t.v", "s.k", "ts > 5")
    p <- Gen.oneOf("x", "y", "z")
  } yield Row3(k, v, p)

  def genCase(partitioned: Boolean): Gen[Case] = for {
    target <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, row))
    source <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, row))
    aliases <- Gen.oneOf(("t", "s"), ("s", "t"), ("a", "b"))
    on <- Gen.someOf(onExtras.indices).map(_.toList.sorted)
    delete <- Gen.option(Gen.choose(0, deleteConds.length - 1))
    update <- Gen.choose(0, updates.length - 1)
    insert <- Gen.option(Gen.choose(0, inserts.length - 1))
  } yield Case(partitioned, target, source, aliases, on, delete, update,
    insert)

  /** Drops one row, one ON conjunct or one optional clause at a time. */
  implicit val shrinkCase: Shrink[Case] = Shrink.withLazyList { c =>
    def without[A](xs: List[A]) = LazyList.from(xs.indices)
      .map(i => xs.patch(i, Nil, 1))
    without(c.target).map(x => c.copy(target = x)) ++
      without(c.source).filter(_.nonEmpty).map(x => c.copy(source = x)) ++
      without(c.on).map(x => c.copy(on = x)) ++
      LazyList.from(c.delete).map(_ => c.copy(delete = None)) ++
      LazyList.from(c.insert).map(_ => c.copy(insert = None))
  }

  /** The target's rows after `c` by Hive's rules; None when a target
    * row has more than one matching source row. */
  def model(c: Case): Option[List[Row3]] = {
    def matches(t: Row3, s: Row3) =
      t.k == s.k && c.on.forall(i => onExtras(i)._2((t, s)))
    val hits = c.target.map(t => t -> c.source.filter(matches(t, _)))
    if (hits.exists(_._2.size > 1)) None
    else Some(hits.flatMap {
      case (t, Nil) => Some(t)
      case (t, s :: _) =>
        if (c.delete.exists(i => deleteConds(i)._2((t, s)))) None
        else Some(t.copy(v = updates(c.update)._2((t, s))))
    } ++ c.insert.toList.flatMap(i => c.source
      .filterNot(s => c.target.exists(matches(_, s)))
      .map(s => s.copy(v = inserts(i)._2(s)))))
  }
}
