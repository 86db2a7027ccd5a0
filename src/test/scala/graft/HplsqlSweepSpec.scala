package graft

/** Wholesale replay of the reference's OWN HPL/SQL local-test corpus
  * (every hplsql/src/test/queries/local script against the recorded
  * results/local out.txt, minus the `Ln:` trace lines the
  * reference interleaves) — the same ratification method the SQL
  * golden corpus uses. The committed per-file status table
  * `src/test/resources/hplsql_sweep.tsv` is the single source of
  * truth: `pass` rows must replay byte-identically, `skip` rows
  * carry a one-line reason (packages, host-integration utilities,
  * …). Regenerate the table with -Dgraft.hplsql.regen=1 after
  * interpreter changes and review the diff. */
class HplsqlSweepSpec extends SparkSpec {

  private val qDir =
    new java.io.File(s"${Reference.Root}/hplsql/src/test/queries/local")
  private val rDir =
    new java.io.File(s"${Reference.Root}/hplsql/src/test/results/local")
  private val tablePath =
    new java.io.File("src/test/resources/hplsql_sweep.tsv")

  private def readFile(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  /** Expected PRINT/result lines: the recording minus `Ln:` traces
    * and trailing blank lines. */
  private def expectedLines(name: String): Option[Seq[String]] = {
    val f = new java.io.File(rDir, name.stripSuffix(".sql") + ".out.txt")
    if (!f.exists()) return None
    Some(readFile(f).linesIterator
      .filterNot(_.startsWith("Ln:"))
      .toSeq.reverse.dropWhile(_.trim.isEmpty).reverse)
  }

  /** Run one script with a wall-clock guard (a mis-parse must not
    * hang the sweep). Left(error) on throw/timeout. */
  private def runOne(script: String): Either[String, Seq[String]] = {
    val result = new java.util.concurrent.atomic.AtomicReference[
      Either[String, Seq[String]]](Left("timeout after 60 s"))
    val t = new Thread(() =>
      result.set(
        try {
          val h = new Hplsql(new HiveStatements(spark))
          // the recordings were made with trace on and cwd at the
          // hplsql module root (INCLUDE paths are relative to it)
          h.trace = true
          h.includeDir = s"${Reference.Root}/hplsql"
          Right(h.run(script))
        } catch { case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }))
    t.setDaemon(true)
    t.start()
    t.join(60000)
    result.get()
  }

  test("the reference hplsql local-test corpus replays against its " +
      "recorded outputs; every file is accounted for in the " +
      "committed status table (pass replays byte-identically, skip " +
      "has a reason)") {
    val files = Option(qDir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".sql"))
      .map(_.getName).sorted
    assert(files.nonEmpty, s"corpus missing at $qDir")
    val regen = sys.props.contains("graft.hplsql.regen")
    val table: Map[String, (String, String)] =
      if (tablePath.exists())
        readFile(tablePath).linesIterator.filter(_.contains("\t"))
          .map { l =>
            val p = l.split("\t", 3)
            p(0) -> (p(1), if (p.length > 2) p(2) else "")
          }.toMap
      else Map.empty
    val rows = files.map { name =>
      val status = table.get(name)
      if (!regen && status.exists(_._1 == "skip"))
        (name, "skip", status.get._2)
      else expectedLines(name) match {
        case None => (name, "skip", "no recorded .out.txt")
        case Some(want) =>
          runOne(readFile(new java.io.File(qDir, name))) match {
            case Right(got) if got == want => (name, "pass", "")
            case Right(got) =>
              val d = want.zipAll(got, "«missing»", "«extra»")
                .zipWithIndex.collectFirst {
                  case ((w, g), i) if w != g =>
                    s"line ${i + 1}: want '$w' got '$g'"
                }.getOrElse("length mismatch")
              (name, "fail", d)
            case Left(err) => (name, "fail", err)
          }
      }
    }
    if (regen) {
      val w = new java.io.PrintWriter(tablePath, "UTF-8")
      try {
        rows.foreach { case (n, s, r) =>
          // regen leaves prior skip reasons in place for re-review
          val keep =
            if (s == "skip" || s == "fail")
              table.get(n).filter(_._1 == "skip")
                .map(x => ("skip", x._2)).getOrElse((s, r))
            else (s, r)
          w.println(s"$n\t${keep._1}\t${keep._2}")
        }
      } finally w.close()
      info(s"regenerated $tablePath: " +
        rows.groupBy(_._2).map { case (k, v) => s"$k=${v.size}" }
          .mkString(", "))
    }
    val untracked = rows.filter(r => !table.contains(r._1))
    val fails = rows.filter(_._2 == "fail")
    val regressions = fails.filter(f =>
      table.get(f._1).exists(_._1 == "pass"))
    info(s"corpus: ${rows.count(_._2 == "pass")} pass, " +
      s"${rows.count(_._2 == "skip")} skip, ${fails.size} fail " +
      s"of ${rows.size}")
    fails.foreach { case (n, _, d) => info(s"FAIL $n — $d") }
    if (!regen) {
      assert(untracked.isEmpty,
        s"files missing from hplsql_sweep.tsv: " +
          untracked.map(_._1).mkString(", "))
      assert(fails.isEmpty, fails.map { case (n, _, d) =>
        s"$n — $d" }.mkString("\n"))
    }
  }
}
